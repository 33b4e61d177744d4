package graft.graph

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.engine.SessionCache
import graft.engine.Lineage.LineageOps

/** Deterministic knowledge-graph view over the driver's synthetic star
  * schema: entities become typed nodes ("c:<id>", "o:<id>", ...) and the
  * foreign keys become typed, confidence-scored directed edges — the same
  * shape as the reference's property graph (nodes + typed edges,
  * memory_core/model/relationship.py:19-47).
  *
  * Stored once, packed: the base artifact is the edge list on 64-bit
  * lex ids ([[lexEdgesMaterialized]]) and every index derives from it;
  * the edge properties are functions of the endpoint types, and the
  * string forms are renderings of the base. The identical edge list is
  * expressible as a DuckDB WITH-clause ([[edgesSql]]) so every
  * traversal result can be oracle-checked.
  */
object KGraph {

  private case class Arm(table: String, from: Char, fromKey: String,
      to: Char, toKey: String, relation: String, confidence: Double,
      distinct: Boolean = false)

  /** The knowledge graph's six edge arms, declared once: each row of
    * `table` (each distinct key pair, if `distinct`) links node
    * `from:<fromKey>` to `to:<toKey>`. The arms pair distinct ordered
    * type chars, so relation and confidence are functions of the
    * endpoint types and the packed list loses nothing. [[edgesSql]]
    * states the same list independently, for the oracle. */
  private val arms: Seq[Arm] = Seq(
    Arm("orders", 'o', "o_orderkey", 'c', "o_custkey", "placed_by", 1.0),
    Arm("customer", 'c', "c_custkey", 'n', "c_nationkey", "located_in", 0.9),
    Arm("supplier", 's', "s_suppkey", 'n', "s_nationkey", "located_in", 0.9),
    Arm("nation", 'n', "n_nationkey", 'r', "n_regionkey", "part_of", 0.95),
    Arm("lineitem", 'o', "l_orderkey", 'p', "l_partkey", "contains", 0.8,
      distinct = true),
    Arm("lineitem", 'p', "l_partkey", 's', "l_suppkey", "supplied_by", 0.7,
      distinct = true))
  require(arms.map(a => (a.from, a.to)).distinct.size == arms.size,
    "KGraph arms must pair distinct ordered type chars")

  /** The one base of the knowledge graph: the packed lex edge list
    * (from_id, to_id), built once per (session, sfDir) from the
    * tables' integer keys by arithmetic ([[encodeKeyLex]]) — no id
    * string is built or parsed. Every other KGraph artifact and view
    * derives from it. */
  def lexEdgesMaterialized(spark: SparkSession, dir: String): DataFrame =
    SessionCache.getOrBuild(spark, s"kgraph|$dir|lexedges")(
      arms.map { a =>
        val keys = Tables.load(spark, dir, a.table)
          .select(col(a.fromKey).as("f"), col(a.toKey).as("t"))
        (if (a.distinct) keys.distinct() else keys).select(
          encodeKeyLex(a.from, col("f")).as("from_id"),
          encodeKeyLex(a.to, col("t")).as("to_id"))
      }.reduce(_ unionByName _).truncateLineage())

  /** The typed edge list (from_id, to_id, relation_type, confidence)
    * with string node ids ("o:<key>", "c:<key>", ...), materialized once
    * per (session, sfDir): the rendering of [[lexEdgesMaterialized]]
    * that the string-keyed catalog queries read. */
  def materialized(spark: SparkSession, dir: String): DataFrame =
    SessionCache.getOrBuild(spark, s"kgraph|$dir")(
      lexEdgesMaterialized(spark, dir).select(
          decodeIdLex(col("from_id")).as("from_id"),
          decodeIdLex(col("to_id")).as("to_id"),
          relationType(col("from_id"), col("to_id")).as("relation_type"),
          confidence(col("from_id"), col("to_id")).as("confidence"))
        .truncateLineage())

  /** [[materialized]] oriented for a traversal direction (node_id,
    * next_id, relation_type, confidence): a view, except for
    * [[GraphOps.Both]], which q11 and q72 walk unfiltered, materialized
    * on node_id (on a view q72 ran 3.05 → 3.66 s at sf0.1). */
  def orientedMaterialized(spark: SparkSession, dir: String,
      direction: GraphOps.Direction): DataFrame = {
    val o = GraphOps.oriented(materialized(spark, dir), direction)
    if (direction != GraphOps.Both) o
    else SessionCache.getOrBuild(spark, s"kgraph|$dir|$direction")(
      o.repartition(col("node_id")).truncateLineage())
  }

  /** Canonical undirected string edge list (a < b, deduped, no self
    * loops), materialized from [[materialized]] on `a` for q343, which
    * ran 16.6 → 20.9 s at sf0.1 on a view decoded from
    * [[canonicalLexMaterialized]]. */
  def canonicalMaterialized(spark: SparkSession, dir: String): DataFrame =
    SessionCache.getOrBuild(spark, s"kgraph|$dir|canonical")(
      GraphAnalytics.canonical(materialized(spark, dir))
        .repartition(col("a"))
        .truncateLineage())

  /** 10^(12−len) as an exact long for len ∈ [1, 12], null otherwise —
    * one lookup in a literal array, shared by both encoders and
    * [[decodeIdLex]] so the codec directions cannot desynchronize
    * (ADVICE r14). It replaced a 12-branch CASE whose generated code,
    * in a stage that encodes and decodes, grew past the JVM's 64 KB
    * method limit and fell back to the interpreter. */
  private val lexScales: Seq[Long] =
    (1 to 12).map(l => math.pow(10, 12 - l).toLong)
  private def lexScale(len: Column): Column =
    get(typedLit(lexScales), len.cast("int") - 1)

  /** STRING-ORDER-PRESERVING id ↔ long codec (round 14), the one
    * packed form of a node id. Packing by numeric value would break
    * the id strings' order ("c:100" < "c:99" lexicographically,
    * 100 > 99 numerically), which matters wherever the QUERY depends
    * on id ORDER (LPA's tie → smallest label, round-1 min(neighbor),
    * the census's canonical a < b). This codec keeps lexicographic
    * order: for decimal numerals without leading zeros, string order is exactly
    * (value·10^(12−len), len) ascending — right-pad the digits to a
    * fixed width 12 and compare numerically, shorter-first on ties
    * (a proper prefix pads to the same f, smaller len). Layout:
    * ascii(prefix)·2^44 + f·16 + len with f < 10^12 < 2^40 and
    * len ≤ 12 < 16, so (prefix, f, len) packs lexicographically into
    * one non-negative long. Ids whose numeral exceeds 12 digits raise
    * rather than mis-order (ids reach ~2×10^8 at sf2 — 10^12 is
    * 4,000× headroom). KGraphCodecSpec pins order-preservation + roundtrip.
    *
    * The one packing expression of both encoders: `t` the type char's
    * code, `f` the padded numeral num·10^(12−len). */
  private def packLex(t: Column, f: Column, len: Column): Column =
    t * lit(1L << 44) + f * lit(16L) + len

  private[graft] def encodeIdLex(c: Column): Column = {
    val num = c.substr(lit(3), length(c)).cast("long")
    val len = (length(c) - 2).cast("long")
    val f = num * lexScale(len)
    // canonical-numeral guard (ADVICE r14): Spark's string→long cast
    // tolerates leading zeros, a '+' sign and surrounding whitespace,
    // all of which this codec would silently mis-order ("c:007" would
    // decode to "c:7"). A numeral is canonical iff num ≥ 10^(len−1)
    // — equivalently f ≥ 10^11, reusing the product the encoding needs
    // anyway (no per-row string construction in this hot path);
    // len = 1 is special-cased because "0" is canonical.
    // No overflow: num < 10^len (len chars), so num·10^(12−len) < 10^13.
    when(num.isNotNull && num >= 0L && len <= 12L &&
        (len === 1L || f >= lit(100000000000L)),
      packLex(ascii(substring(c, 1, 1)).cast("long"), f, len))
      .otherwise(raise_error(concat(
        lit("KGraph.encodeIdLex: non-canonical or out-of-range numeral" +
          " (leading zeros/sign/whitespace, or outside [0, 10^12)): "), c)))
  }

  /** The packed LEX id of node "t:<key>" straight from an integer key
    * column: equals `encodeIdLex` of the rendered id, with the numeral's
    * digit count read off comparisons against powers of ten — no string
    * is built or parsed. A key outside [0, 10^12), or null, raises. */
  private[graft] def encodeKeyLex(t: Char, key: Column): Column = {
    val num = key.cast("long")
    val len = lexScales.init.foldLeft(lit(1L))((n, p) =>
      n + (num >= lit(p)).cast("long"))
    when(num.isNotNull && num >= 0L && num < lit(1000000000000L),
      packLex(lit(t.toLong), num * lexScale(len), len))
      .otherwise(raise_error(format_string(
        s"KGraph.encodeKeyLex: '$t' key %s is null or outside [0, 10^12)",
        key)))
  }

  /** The value `v` of the arm an edge (from, to) of packed ids belongs
    * to, read off its endpoint type chars. */
  private def byArm(from: Column, to: Column)(v: Arm => Any): Column = {
    def is(a: Arm) = lexTypeIs(from, a.from) && lexTypeIs(to, a.to)
    arms.tail.foldLeft(when(is(arms.head), lit(v(arms.head))))((c, a) =>
      c.when(is(a), lit(v(a))))
  }

  /** relation_type of the packed edge (from, to). */
  private[graft] def relationType(from: Column, to: Column): Column =
    byArm(from, to)(_.relation)

  /** confidence (a double) of the packed edge (from, to). */
  private[graft] def confidence(from: Column, to: Column): Column =
    byArm(from, to)(_.confidence)

  /** Node-type test on a packed LEX id without decoding: the layout
    * puts ascii(type char) at bits 44+ — `lexTypeIs(id, 's')` ⟺
    * `id_string LIKE 's:%'` for every id [[encodeIdLex]] accepts
    * (canonical "t:numeral" — anything else raised at encode). */
  private[graft] def lexTypeIs(c: Column, t: Char): Column =
    shiftright(c, 44) === lit(t.toLong)

  /** The type char of a packed LEX id as a 1-char string — equals
    * substring(decoded, 1, 1) without the decode. Consumers that emit
    * both node_id and node_type from a packed top-k row MUST use this
    * instead of substring(decode(...)): a select whose decode feeds a
    * second expression stacks two Projects under the pushed-through
    * Limit and breaks the TakeOrderedAndProject pattern (PlanShapeSpec
    * caught q147 degrading to a global range-partitioned Sort). */
  private[graft] def lexTypeChar(c: Column): Column =
    call_function("char", shiftright(c, 44))

  /** The numeric part of a packed LEX id as a long — equals
    * `substring_index(decoded, ":", -1).cast("long")` without the
    * decode (q63's root predicate). Same exact-division argument as
    * [[decodeIdLex]]: f = num·scale with both < 2^53. */
  private[graft] def lexNumeral(c: Column): Column = {
    val len = c.bitwiseAND(lit(15L))
    val f = shiftright(c, 4).bitwiseAND(lit((1L << 40) - 1L))
    (f / lexScale(len)).cast("long")
  }

  private[graft] def decodeIdLex(c: Column): Column = {
    val len = c.bitwiseAND(lit(15L))
    val f = shiftright(c, 4).bitwiseAND(lit((1L << 40) - 1L))
    val scale = lexScale(len)
    // f = num·scale exactly with both < 2^53, so the double division
    // is exact (IEEE correctly-rounded quotient of exactly-representable
    // operands with an exactly-representable result) — the cast
    // truncates nothing
    concat(call_function("char", shiftright(c, 44)), lit(":"),
      (f / scale).cast("long").cast("string"))
  }

  /** Per-edge triangle support over the canonical list (a, b,
    * support), materialized once per (session, sfDir) — the shared
    * triangle-census artifact (round-11 verdict item 8): q273's
    * knowledge-graph census leg and q299's bridge audit both read it
    * instead of each running their own O(m^1.5) wedge enumeration
    * over the same cached edge list. Built at ingestion time with the
    * other graph indexes.
    *
    * The O(m^1.5) wedge enumeration runs on the packed canonical list
    * ([[canonicalLexMaterialized]]) and only the O(m) result decodes
    * back to id strings: the lex codec preserves order, so the packed
    * (a < b) edges decode to the string-canonical (a < b) edges and
    * the output is the string-keyed census bit for bit
    * (KGraphCodecSpec pins it). */
  def supportMaterialized(spark: SparkSession, dir: String): DataFrame =
    SessionCache.getOrBuild(spark, s"kgraph|$dir|support")(
      GraphAnalytics.edgeSupport(canonicalLexMaterialized(spark, dir))
        .select(decodeIdLex(col("a")).as("a"), decodeIdLex(col("b")).as("b"),
          col("support"))
        .truncateLineage())

  /** PageRank edge index (from_id, to_id, outdeg), hash-partitioned on
    * from_id and materialized once per (session, sfDir) — the static
    * frame every uniform-rank iteration joins (q147's PageRank, q294's
    * personalized seed expansion, q269's HITS). Built at ingestion time
    * with the other graph indexes (round-12 verdict item 5: q147's
    * first sf1.0 sample paid this ~22 s build because it was a per-call
    * transient the warm-up never covered).
    *
    * PACKED since round 15: node ids are [[encodeIdLex]] longs, not
    * strings — every rank iteration shuffles |E| rows keyed by node id
    * (contribution join on from_id + keyed sum on to_id), and the id
    * IS the wide part of the row (two ~12-byte strings vs two 8-byte
    * words; guide §2.3 — the q193/q268 lever, which won ×1.4 at sf1.0
    * on the same frame shape). The LEX codec keeps string order, so
    * (rank DESC, node_id) top-k cuts are isomorphic; consumers decode
    * their ≤100 output rows after the LIMIT. */
  def rankEdgesMaterialized(spark: SparkSession, dir: String): DataFrame =
    SessionCache.getOrBuild(spark, s"kgraph|$dir|rankedges")(
      PageRank.edgeIndex(lexEdgesMaterialized(spark, dir)).truncateLineage())

  /** PACKED canonical undirected edge list (a < b, deduped, self-loops
    * dropped), hash-partitioned on `a` and materialized once per
    * (session, sfDir) — the whole-graph-analytics index (triangles,
    * k-core, LPA). One distinct over [[lexEdgesMaterialized]], no codec
    * in the plan: the codec is order-isomorphic and injective, so this
    * is the encoded string canonical list (KGraphCodecSpec pins it). */
  def canonicalLexMaterialized(spark: SparkSession, dir: String)
      : DataFrame =
    SessionCache.getOrBuild(spark, s"kgraph|$dir|canonlex")(
      GraphAnalytics.canonical(lexEdgesMaterialized(spark, dir))
        .repartition(col("a"))
        .truncateLineage())

  /** PACKED oriented traversal indexes (node_id, next_id) for the BFS
    * family, hash-partitioned on node_id and materialized once per
    * (session, sfDir) — round 15: string-keyed frontier frames cost
    * q12/q14 every hop (guide §2.3). The KG's (from_id, to_id) pairs
    * are globally unique (every arm pairs a distinct ordered type
    * pair), so a walk over these reaches exactly the rows a walk over
    * the string oriented view reaches. Outgoing walks read
    * [[rankEdgesMaterialized]] (same rows, partitioned on from_id).
    * Shuffle-only over [[lexEdgesMaterialized]], no codec in the plan. */
  def incomingLexMaterialized(spark: SparkSession, dir: String)
      : DataFrame =
    SessionCache.getOrBuild(spark, s"kgraph|$dir|inlex")(
      lexEdgesMaterialized(spark, dir)
        .select(col("to_id").as("node_id"), col("from_id").as("next_id"))
        .repartition(col("node_id"))
        .truncateLineage())

  def bothLexMaterialized(spark: SparkSession, dir: String): DataFrame =
    SessionCache.getOrBuild(spark, s"kgraph|$dir|bothlex")({
      val enc = lexEdgesMaterialized(spark, dir)
      enc.select(col("from_id").as("node_id"), col("to_id").as("next_id"))
        .unionByName(enc.select(col("to_id").as("node_id"),
          col("from_id").as("next_id")))
        .repartition(col("node_id"))
        .truncateLineage()
    })

  /** Distinct node set (node_id), hash-partitioned and materialized
    * once per (session, sfDir) — the rank family's per-iteration left
    * side and q294's seed universe. PACKED [[encodeIdLex]] longs, the
    * same keyspace as [[rankEdgesMaterialized]] (injective, so the
    * encoded distinct set is exactly the encoded node set). */
  def nodeSetMaterialized(spark: SparkSession, dir: String): DataFrame =
    SessionCache.getOrBuild(spark, s"kgraph|$dir|nodeset")(
      PageRank.nodes(lexEdgesMaterialized(spark, dir))
        .repartition(col("node_id")).truncateLineage())

  /** The same edge list as a DuckDB CTE body (oracle side). A literal,
    * stated apart from [[arms]], so the oracle does not share the
    * engine's declaration. */
  val edgesSql: String =
    """edges AS (
      |  SELECT 'o:'||o_orderkey AS from_id, 'c:'||o_custkey AS to_id,
      |         'placed_by' AS relation_type, 1.0 AS confidence FROM orders
      |  UNION ALL
      |  SELECT 'c:'||c_custkey, 'n:'||c_nationkey, 'located_in', 0.9 FROM customer
      |  UNION ALL
      |  SELECT 's:'||s_suppkey, 'n:'||s_nationkey, 'located_in', 0.9 FROM supplier
      |  UNION ALL
      |  SELECT 'n:'||n_nationkey, 'r:'||n_regionkey, 'part_of', 0.95 FROM nation
      |  UNION ALL
      |  SELECT DISTINCT 'o:'||l_orderkey, 'p:'||l_partkey, 'contains', 0.8 FROM lineitem
      |  UNION ALL
      |  SELECT DISTINCT 'p:'||l_partkey, 's:'||l_suppkey, 'supplied_by', 0.7 FROM lineitem
      |)""".stripMargin
}
