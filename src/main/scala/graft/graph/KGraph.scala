package graft.graph

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.engine.Lineage.LineageOps

/** Deterministic knowledge-graph view over the driver's synthetic star
  * schema: entities become typed nodes ("c:<id>", "o:<id>", ...) and the
  * foreign keys become typed, confidence-scored directed edges — the same
  * shape as the reference's property graph (nodes + typed edges,
  * memory_core/model/relationship.py:19-47).
  *
  * The identical edge list is expressible as a DuckDB WITH-clause
  * (see GraphQueries.edgesSql) so every traversal result can be
  * oracle-checked.
  */
object KGraph {

  private def n(prefix: String, c: String) =
    concat(lit(prefix + ":"), col(c).cast("string"))

  /** Materialized edge table, built once per (session, sfDir) — the
    * analog of the reference's persisted graph store (queries traverse a
    * prebuilt graph; they don't re-derive it from raw tables). On a
    * cluster this is the ingestion pipeline's index-build output, stored
    * bucketed by from_id. Cached via the shared session-keyed artifact
    * cache (graft.engine.SessionCache). */
  def materialized(spark: SparkSession, dir: String): DataFrame =
    graft.engine.SessionCache.getOrBuild(spark, s"kgraph|$dir")(
      edges(spark, dir).truncateLineage())

  /** Direction-oriented edge tables, hash-partitioned on the traversal
    * key and materialized once per (session, sfDir, direction) — the
    * analog of the reference's from/to edge indexes
    * (sqlite_storage.py:913-935: edges(from_node_id), edges(to_node_id)).
    * BFS hops against these only shuffle the frontier side. */
  def orientedMaterialized(spark: SparkSession, dir: String,
      direction: GraphOps.Direction): DataFrame = {
    // resolve the base table BEFORE getOrBuild: a nested getOrBuild on
    // the shared map throws "Recursive update" whenever the two keys
    // land in the same hash bin (see SessionCache's caller contract)
    val base = materialized(spark, dir)
    graft.engine.SessionCache.getOrBuild(spark, s"kgraph|$dir|$direction")(
      GraphOps.oriented(base, direction)
        .repartition(col("node_id"))
        .truncateLineage())
  }

  /** Canonical undirected edge list (a < b, deduped, self-loops
    * dropped), hash-partitioned on `a` and materialized once per
    * (session, sfDir) — the whole-graph-analytics index artifact
    * (GraphAnalytics triangles / k-core / LPA all start from it), built
    * at ingestion time exactly like the oriented traversal indexes
    * above. */
  def canonicalMaterialized(spark: SparkSession, dir: String): DataFrame = {
    val base = materialized(spark, dir)
    graft.engine.SessionCache.getOrBuild(spark, s"kgraph|$dir|canonical")(
      GraphAnalytics.canonical(base)
        .repartition(col("a"))
        .truncateLineage())
  }

  /** Per-edge triangle support over the canonical list (a, b,
    * support), materialized once per (session, sfDir) — the shared
    * triangle-census artifact (round-11 verdict item 8): q273's
    * knowledge-graph census leg and q299's bridge audit both read it
    * instead of each running their own O(m^1.5) wedge enumeration
    * over the same cached edge list. Built at ingestion time with the
    * other graph indexes. */
  /** Node-id ↔ long codec for the census hot path. Every KGraph node
    * id is "<single char>:<non-negative int>" (see [[n]]), so it packs
    * injectively into a long: prefix byte in the high bits, numeric id
    * below 2^40 (ids reach ~2×10^8 at sf2; 10^12 headroom). The wedge
    * joins behind the triangle census compare/hash edge keys O(m^1.5)
    * times — on longs they run ~3-5× faster than on the id strings
    * (same lever as the co-purchase census's integer keys, which
    * measured 20 s → 3 s at sf0.1 when q273 first stringified them). */
  private[graft] def encodeId(c: Column): Column =
    ascii(substring(c, 1, 1)).cast("long") * lit(1L << 40) +
      c.substr(lit(3), length(c)).cast("long")

  /** [[encodeId]] with a per-row range guard (ADVICE r13): a numeric
    * part at/above 2^40 (or a malformed id whose numeric part casts to
    * null) would bleed into the prefix bits and silently corrupt the
    * census — raise instead. One compare + branch per row inside
    * codegen, no extra pass over the edge list. */
  private[graft] def encodeIdChecked(c: Column): Column = {
    val num = c.substr(lit(3), length(c)).cast("long")
    when(num.isNotNull && num >= 0L && num < lit(1L << 40),
      ascii(substring(c, 1, 1)).cast("long") * lit(1L << 40) + num)
      .otherwise(raise_error(concat(
        lit("KGraph.encodeId: id numeric part outside [0, 2^40): "), c)))
  }

  private[graft] def decodeId(c: Column): Column =
    concat(call_function("char", shiftright(c, 40)), lit(":"),
      c.bitwiseAND(lit((1L << 40) - 1)).cast("string"))

  /** STRING-ORDER-PRESERVING id ↔ long codec (round 14). [[encodeId]]
    * packs by numeric value, whose order differs from the id strings'
    * ("c:100" < "c:99" lexicographically, 100 > 99 numerically) — fine
    * for identity-only keys (census, wedges), wrong wherever the QUERY
    * depends on id ORDER (LPA's tie → smallest label, round-1
    * min(neighbor)). This codec keeps lexicographic order: for decimal
    * numerals without leading zeros, string order is exactly
    * (value·10^(12−len), len) ascending — right-pad the digits to a
    * fixed width 12 and compare numerically, shorter-first on ties
    * (a proper prefix pads to the same f, smaller len). Layout:
    * ascii(prefix)·2^44 + f·16 + len with f < 10^12 < 2^40 and
    * len ≤ 12 < 16, so (prefix, f, len) packs lexicographically into
    * one non-negative long. Ids whose numeral exceeds 12 digits raise
    * rather than mis-order (same loud-failure contract as
    * [[encodeIdChecked]]; ids reach ~2×10^8 at sf2 — 10^12 is 4,000×
    * headroom). KGraphCodecSpec pins order-preservation + roundtrip. */
  /** 10^(12−len) as exact long literals (len ∈ [1, 12]) — the shared
    * scale chain of [[encodeIdLex]] and [[decodeIdLex]] (ADVICE r14:
    * the duplicated 12-branch CASE could silently desynchronize the
    * two codec directions under a future digit-budget edit). */
  private def lexScale(len: Column): Column =
    (2 to 12).foldLeft(
        when(len === 1L, lit(math.pow(10, 11).toLong))) { (acc, l) =>
      acc.when(len === l.toLong, lit(math.pow(10, 12 - l).toLong))
    }

  private[graft] def encodeIdLex(c: Column): Column = {
    val num = c.substr(lit(3), length(c)).cast("long")
    val len = (length(c) - 2).cast("long")
    val scale = lexScale(len)
    // canonical-numeral guard (ADVICE r14): Spark's string→long cast
    // tolerates leading zeros, a '+' sign and surrounding whitespace,
    // all of which this codec would silently mis-order ("c:007" would
    // decode to "c:7"). A numeral is canonical iff num ≥ 10^(len−1)
    // — equivalently num·scale ≥ 10^11, reusing the product the
    // encoding needs anyway (no per-row string construction in this
    // hot path); len = 1 is special-cased because "0" is canonical.
    // No overflow: num < 10^len (len chars), so num·10^(12−len) < 10^13.
    when(num.isNotNull && num >= 0L && len <= 12L &&
        (len === 1L || num * scale >= lit(100000000000L)),
      ascii(substring(c, 1, 1)).cast("long") * lit(1L << 44) +
        num * scale * lit(16L) + len)
      .otherwise(raise_error(concat(
        lit("KGraph.encodeIdLex: non-canonical or out-of-range numeral" +
          " (leading zeros/sign/whitespace, or outside [0, 10^12)): "), c)))
  }

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

  def supportMaterialized(spark: SparkSession, dir: String): DataFrame = {
    val canon = canonicalMaterialized(spark, dir)
    // run the O(m^1.5) wedge enumeration on packed longs, decode the
    // O(m) result back to id strings: output is bit-identical to the
    // string-keyed census (KGraphCodecSpec pins it), the wedge work is
    // several times cheaper. least/greatest re-canonicalize because
    // the long order differs from the string order ("c:100" < "c:99"
    // lexicographically, 100 > 99 numerically).
    graft.engine.SessionCache.getOrBuild(spark, s"kgraph|$dir|support")({
      val enc = canon.select(
        least(encodeIdChecked(col("a")), encodeIdChecked(col("b"))).as("a"),
        greatest(encodeIdChecked(col("a")), encodeIdChecked(col("b"))).as("b"))
      GraphAnalytics.edgeSupport(enc)
        .select(decodeId(col("a")).as("da"), decodeId(col("b")).as("db"),
          col("support"))
        .select(least(col("da"), col("db")).as("a"),
          greatest(col("da"), col("db")).as("b"), col("support"))
        .truncateLineage()
    })
  }

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
    * their ≤100 output rows after the LIMIT. Consumers that mix in
    * per-call string-keyed frames (q233's weighted edges) must encode
    * them the same way. */
  /** The encoded edge list is MATERIALIZED before the index build
    * fans it out (outdeg aggregate + join + repartition = three
    * consumers): left as a view, the optimizer collapses the encode
    * projection into every consumer and pushes isnotnull(CASE…)
    * constraints of the 12-branch codec into the join — the same
    * expression-in-join-stage pathology the round-15 dedup work
    * measured at ~50×; the packed build read ~185 s at sf1.0 as a
    * view vs seconds materialized. One encode pass, then long-only
    * ops. */
  def lexEdgesMaterialized(spark: SparkSession, dir: String): DataFrame = {
    val base = materialized(spark, dir)
    graft.engine.SessionCache.getOrBuild(spark, s"kgraph|$dir|lexedges")(
      base.select(
        encodeIdLex(col("from_id")).as("from_id"),
        encodeIdLex(col("to_id")).as("to_id")).truncateLineage())
  }
  private def lexEdges(spark: SparkSession, dir: String): DataFrame =
    lexEdgesMaterialized(spark, dir)

  def rankEdgesMaterialized(spark: SparkSession, dir: String): DataFrame = {
    val enc = lexEdges(spark, dir)
    graft.engine.SessionCache.getOrBuild(spark, s"kgraph|$dir|rankedges")(
      PageRank.edgeIndex(enc).truncateLineage())
  }

  /** PACKED (encodeIdLex) canonical undirected edge list, materialized
    * once per (session, sfDir) — round 15: q268/q192/q193 each encoded
    * the canonical artifact per call (2·|E| 12-branch codec
    * evaluations, plus a per-call lazy checkpoint in q268). The lex
    * codec is order-ISOMORPHIC and injective, so canonical() over the
    * encoded edge list IS the encoded canonical list (least/greatest
    * commute with the order-preserving map, ≠ and DISTINCT with
    * injectivity) — consumers' semantics are unchanged
    * (KGraphCodecSpec pins the set equality). Built from [[lexEdges]]
    * (already materialized): one distinct, no codec in the plan. */
  def canonicalLexMaterialized(spark: SparkSession, dir: String)
      : DataFrame = {
    val enc = lexEdges(spark, dir)
    graft.engine.SessionCache.getOrBuild(spark, s"kgraph|$dir|canonlex")(
      GraphAnalytics.canonical(enc)
        .repartition(col("a"))
        .truncateLineage())
  }

  /** PACKED oriented traversal indexes (node_id, next_id) for the BFS
    * family, hash-partitioned on node_id and materialized once per
    * (session, sfDir) — round 15: q12's 3-hop incoming walk and q14's
    * both-directions shortest-path BFS shuffled string-keyed frontier
    * frames every hop (the frame IS the key — guide §2.3, the
    * q63/q249/q258 lever, which won ×1.4–2.1 at sf1.0 on the same
    * shape). The KG's (from_id, to_id) pairs are globally unique
    * (every edge arm pairs a distinct ordered type-prefix pair), so
    * the directed edge set equals the typed edge list's projection
    * with no duplicate pairs, and a traversal over it reaches exactly
    * the rows the string oriented index reaches (multiHop merges each
    * level per node either way). Outgoing traversals read
    * [[rankEdgesMaterialized]] (same rows, already packed and
    * partitioned on from_id); these two cover the other directions.
    * Built from [[lexEdges]] — shuffle-only, no codec in the plan. */
  def incomingLexMaterialized(spark: SparkSession, dir: String)
      : DataFrame = {
    val enc = lexEdges(spark, dir)
    graft.engine.SessionCache.getOrBuild(spark, s"kgraph|$dir|inlex")(
      enc.select(col("to_id").as("node_id"), col("from_id").as("next_id"))
        .repartition(col("node_id"))
        .truncateLineage())
  }

  def bothLexMaterialized(spark: SparkSession, dir: String): DataFrame = {
    val enc = lexEdges(spark, dir)
    graft.engine.SessionCache.getOrBuild(spark, s"kgraph|$dir|bothlex")(
      enc.select(col("from_id").as("node_id"), col("to_id").as("next_id"))
        .unionByName(enc.select(col("to_id").as("node_id"),
          col("from_id").as("next_id")))
        .repartition(col("node_id"))
        .truncateLineage())
  }

  /** Distinct node set (node_id), hash-partitioned and materialized
    * once per (session, sfDir) — the rank family's per-iteration left
    * side and q294's seed universe. PACKED [[encodeIdLex]] longs, the
    * same keyspace as [[rankEdgesMaterialized]] (injective, so the
    * encoded distinct set is exactly the encoded node set). */
  def nodeSetMaterialized(spark: SparkSession, dir: String): DataFrame = {
    val enc = lexEdges(spark, dir)
    graft.engine.SessionCache.getOrBuild(spark, s"kgraph|$dir|nodeset")(
      PageRank.nodes(enc)
        .repartition(col("node_id")).truncateLineage())
  }

  /** Typed edges: from_id, to_id, relation_type, confidence. */
  def edges(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.load(spark, dir, "orders")
    val customer = Tables.load(spark, dir, "customer")
    val supplier = Tables.load(spark, dir, "supplier")
    val nation = Tables.load(spark, dir, "nation")
    val lineitem = Tables.load(spark, dir, "lineitem")

    orders.select(n("o", "o_orderkey").as("from_id"),
        n("c", "o_custkey").as("to_id"),
        lit("placed_by").as("relation_type"), lit(1.0).as("confidence"))
      .unionByName(customer.select(n("c", "c_custkey").as("from_id"),
        n("n", "c_nationkey").as("to_id"),
        lit("located_in").as("relation_type"), lit(0.9).as("confidence")))
      .unionByName(supplier.select(n("s", "s_suppkey").as("from_id"),
        n("n", "s_nationkey").as("to_id"),
        lit("located_in").as("relation_type"), lit(0.9).as("confidence")))
      .unionByName(nation.select(n("n", "n_nationkey").as("from_id"),
        n("r", "n_regionkey").as("to_id"),
        lit("part_of").as("relation_type"), lit(0.95).as("confidence")))
      .unionByName(lineitem.select(n("o", "l_orderkey").as("from_id"),
        n("p", "l_partkey").as("to_id")).distinct()
        .select(col("from_id"), col("to_id"),
          lit("contains").as("relation_type"), lit(0.8).as("confidence")))
      .unionByName(lineitem.select(n("p", "l_partkey").as("from_id"),
        n("s", "l_suppkey").as("to_id")).distinct()
        .select(col("from_id"), col("to_id"),
          lit("supplied_by").as("relation_type"), lit(0.7).as("confidence")))
  }

  /** The same edge list as a DuckDB CTE body (oracle side). */
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
