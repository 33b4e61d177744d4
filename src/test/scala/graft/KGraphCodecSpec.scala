package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.graph.{GraphAnalytics, KGraph}

/** The node-id codec (KGraph.encodeIdLex/decodeIdLex) must be a pure
  * representation change: exact roundtrip and string order on every
  * real node id, loud rejection of ids it cannot pack, and the
  * long-keyed census must reproduce the string-keyed census
  * bit-for-bit — support is a per-undirected-edge count, so the
  * packing must not leak into the result. */
class KGraphCodecSpec extends SparkSpec {

  private def n(prefix: String, c: String) =
    concat(lit(prefix + ":"), col(c).cast("string"))

  /** The string edge list built straight from the tables, as the engine
    * built it before the packed base: an independent reference for the
    * packed base and everything derived from it. */
  private def referenceEdges(spark: SparkSession, dir: String): DataFrame = {
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

  private def msgs(t: Throwable): Seq[String] =
    Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))

  test("materialized == the reference string edge list row for row; " +
    "encodeKeyLex == encodeIdLex of the rendered id") {
    import spark.implicits._
    val ref = referenceEdges(spark, sf)
    val got = KGraph.materialized(spark, sf)
    assert(got.schema.map(f => (f.name, f.dataType)) ==
      ref.schema.map(f => (f.name, f.dataType)))
    def rows(df: DataFrame) = df.as[(String, String, String, Double)]
      .collect().toSeq.sorted
    val want = rows(ref)
    assert(want.nonEmpty)
    assert(rows(got) == want)
    // the integer encoder against the string encoder on every digit
    // count and 10^k boundary, 0 through 10^12 − 1, under two types
    val numerals = Seq(0L, 1L, 2L, 9L, 10L, 11L, 99L, 100L, 101L, 999L,
      1000L, 99999L, 100000L, 999999999999L) ++
      (1 to 11).flatMap(k => Seq(math.pow(10, k).toLong - 1,
        math.pow(10, k).toLong))
    Seq('c', 's').foreach { t =>
      val pairs = numerals.toDF("k").select(
          KGraph.encodeKeyLex(t, col("k")),
          KGraph.encodeIdLex(concat(lit(s"$t:"), col("k").cast("string"))))
        .as[(Long, Long)].collect()
      pairs.foreach { case (a, b) => assert(a == b, s"'$t' key: $a != $b") }
    }
    // a key it cannot pack raises instead of mis-encoding
    Seq(Some(1000000000000L), Some(-1L), None).foreach { k =>
      val ex = intercept[Exception](Seq(k).toDF("k")
        .select(KGraph.encodeKeyLex('c', col("k"))).collect())
      assert(msgs(ex).exists(m => m != null && m.contains("encodeKeyLex")),
        s"key $k did not raise")
    }
  }

  test("long-keyed census == string-keyed census on the real graph") {
    // the knowledge graph is multipartite by node type (o-c, c-n, s-n,
    // n-r, o-p, p-s) so it is structurally TRIANGLE-FREE — both paths
    // must agree on the empty census (the artifact exists for q273/q299
    // to read uniformly; its kgraph leg is legitimately 0 rows)
    val canon = KGraph.canonicalMaterialized(spark, sf)
    val direct = GraphAnalytics.edgeSupport(canon)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    val viaCodec = KGraph.supportMaterialized(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(viaCodec == direct)
  }

  test("encodeIdLex preserves string order exactly and roundtrips " +
    "(round 14: the LPA key-packing lever)") {
    import spark.implicits._
    // adversarial numerals: prefix-of (1 / 10 / 100), same-f ties
    // ("1" vs "10"), the classic inversion ("100" vs "99" vs "9"),
    // cross-prefix, 12-digit boundary
    val ids = Seq("c:1", "c:10", "c:100", "c:101", "c:11", "c:2", "c:9",
      "c:99", "c:999999999999", "c:0", "o:1", "o:0", "n:5", "p:100",
      "p:99", "r:123456", "s:42")
    val df = ids.toDF("id")
      .select(col("id"), KGraph.encodeIdLex(col("id")).as("code"))
    val rows = df.select(col("id"), col("code"),
        KGraph.decodeIdLex(col("code")).as("rt")).collect()
    rows.foreach(r => assert(r.getString(0) == r.getString(2),
      s"roundtrip ${r.getString(0)} -> ${r.getString(2)}"))
    val byString = ids.sorted
    val byCode = rows.map(r => (r.getLong(1), r.getString(0)))
      .sortBy(_._1).map(_._2).toSeq
    assert(byCode == byString, s"order diverged:\n$byCode\n$byString")
    // raises past 12 digits instead of mis-ordering
    val e = intercept[Exception](Seq("c:1000000000000").toDF("id")
      .select(KGraph.encodeIdLex(col("id"))).collect())
    assert(msgs(e).exists(m => m != null && m.contains("encodeIdLex")))
    // non-canonical numerals Spark's cast tolerates but the codec would
    // silently mis-order (ADVICE r14): leading zeros, sign, whitespace
    // — all must raise, not mis-encode ("c:007" must not decode "c:7")
    Seq("c:007", "c:+7", "c: 7", "c:7 ").foreach { badId =>
      val ex = intercept[Exception](Seq(badId).toDF("id")
        .select(KGraph.encodeIdLex(col("id"))).collect())
      assert(msgs(ex).exists(m => m != null && m.contains("encodeIdLex")),
        s"non-canonical '$badId' did not raise")
    }
  }

  /** Runs `body` with codegen fallback disabled (PlanShapeSpec's pair):
    * generated code that fails to compile, e.g. past the JVM's 64 KB
    * method limit, throws instead of degrading to the interpreter. */
  private def codegenOnly[T](body: => T): T = {
    val keys = Seq("spark.sql.codegen.fallback" -> "false",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")
    val prev = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("encodeIdLex roundtrips and stays order-isomorphic on every real " +
    "node id at sf0.001") {
    val ids = graft.graph.PageRank.nodes(KGraph.materialized(spark, sf))
    val bad = ids.withColumn("rt",
        KGraph.decodeIdLex(KGraph.encodeIdLex(col("node_id"))))
      .filter(col("rt") =!= col("node_id") || col("rt").isNull)
    assert(codegenOnly(bad.count()) == 0, bad.take(5).mkString(", "))
    val all = ids.select(col("node_id"),
        KGraph.encodeIdLex(col("node_id")).as("code"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(all.sortBy(_._1).map(_._2).toSeq ==
      all.sortBy(_._2).map(_._2).toSeq, "code order != string order")
  }

  test("lexTypeIs on packed ids == LIKE 't:%' on strings for every real " +
    "node id at sf0.001") {
    // q294's seed predicate reads the type char from the packed layout
    // instead of decoding — must select exactly the startsWith set
    val ids = graft.graph.PageRank.nodes(KGraph.materialized(spark, sf))
      .withColumn("code", KGraph.encodeIdLex(col("node_id")))
    Seq('s', 'o', 'c').foreach { t =>
      val mism = ids.filter(
        KGraph.lexTypeIs(col("code"), t) =!=
          col("node_id").startsWith(s"$t:"))
      assert(mism.count() == 0, s"type '$t': ${mism.take(3).mkString(",")}")
    }
  }

  test("codec census matches the string census on a triangled graph, " +
    "string-canonical form preserved") {
    import spark.implicits._
    // same id shape as the kgraph; "c:100" < "c:99" as strings but
    // 100 > 99 numerically, so a codec that broke string order would
    // leave decoded edges out of canonical (a < b) form
    val canon = Seq(
      ("c:100", "c:99"), ("c:100", "c:7"), ("c:7", "c:99"), // triangle
      ("c:7", "o:3"), ("c:99", "o:3"),                      // triangle
      ("o:3", "s:1")                                        // dangling
    ).toDF("a", "b")
    val direct = GraphAnalytics.edgeSupport(canon)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    val enc = canon.select(KGraph.encodeIdLex(col("a")).as("a"),
      KGraph.encodeIdLex(col("b")).as("b"))
    val viaCodec = GraphAnalytics.edgeSupport(enc)
      .select(KGraph.decodeIdLex(col("a")).as("a"),
        KGraph.decodeIdLex(col("b")).as("b"), col("support"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(direct.nonEmpty)
    assert(viaCodec == direct)
    assert(viaCodec.keys.forall { case (a, b) => a < b })
  }

  test("canonicalLexMaterialized == encodeIdLex(canonicalMaterialized) " +
    "as an edge set on the real graph") {
    // the shared packed canonical artifact (round 15) must be exactly
    // the lex-encoded canonical list of the reference string edges:
    // least/greatest commute with the order-preserving codec and
    // DISTINCT with injectivity — q268/q192/q193/q231 all read it in
    // place of a per-call encode
    val viaArtifact = KGraph.canonicalLexMaterialized(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaEncode = GraphAnalytics.canonical(referenceEdges(spark, sf))
      .select(KGraph.encodeIdLex(col("a")).as("a"),
        KGraph.encodeIdLex(col("b")).as("b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaArtifact.nonEmpty)
    assert(viaArtifact == viaEncode)
    // canonical orientation survives the order-preserving map
    assert(viaArtifact.forall { case (a, b) => a < b })
  }

  test("packed traversal indexes == lex-encoded string oriented sets " +
    "on the real graph") {
    // q12/q14 (round 15) walk these in place of the string oriented
    // indexes: each must hold exactly the encoded (node_id, next_id)
    // pairs of the reference string edges' orientation — the KG's
    // (from, to) pairs are globally unique, so pair-set equality is
    // full traversal equivalence (multiHop merges each level per node)
    def pairs(df: DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def encPairs(d: graft.graph.GraphOps.Direction): Set[(Long, Long)] =
      pairs(graft.graph.GraphOps.oriented(referenceEdges(spark, sf), d)
        .select(KGraph.encodeIdLex(col("node_id")),
          KGraph.encodeIdLex(col("next_id"))).distinct())
    val in = pairs(KGraph.incomingLexMaterialized(spark, sf))
    assert(in.nonEmpty)
    assert(in == encPairs(graft.graph.GraphOps.Incoming))
    val both = pairs(KGraph.bothLexMaterialized(spark, sf))
    assert(both == encPairs(graft.graph.GraphOps.Both))
  }

  test("packed BFS walk + decode == string BFS walk (q12/q14 shape) " +
    "on the real graph") {
    import graft.graph.GraphOps
    def walk(e: org.apache.spark.sql.DataFrame, seedSql: String,
        dir: GraphOps.Direction, packed: Boolean): Set[(String, Int)] = {
      val seeds0 = spark.sql(s"SELECT '$seedSql' AS node_id")
      val seeds = if (packed)
        seeds0.select(KGraph.encodeIdLex(col("node_id")).as("node_id"))
      else seeds0
      val out = GraphOps.multiHop(e, seeds, 3, dir, preOriented = true)
      val dec = if (packed)
        out.select(KGraph.decodeIdLex(col("node_id")).as("node_id"),
          col("hop"))
      else out
      dec.collect().map(r => (r.getString(0), r.getInt(1))).toSet
    }
    val inPacked = walk(KGraph.incomingLexMaterialized(spark, sf), "r:0",
      GraphOps.Incoming, packed = true)
    val inString = walk(KGraph.orientedMaterialized(spark, sf,
      GraphOps.Incoming), "r:0", GraphOps.Incoming, packed = false)
    assert(inPacked.nonEmpty)
    assert(inPacked == inString)
    val bothPacked = walk(KGraph.bothLexMaterialized(spark, sf), "c:1",
      GraphOps.Both, packed = true)
    val bothString = walk(KGraph.orientedMaterialized(spark, sf,
      GraphOps.Both), "c:1", GraphOps.Both, packed = false)
    assert(bothPacked == bothString)
  }
}
