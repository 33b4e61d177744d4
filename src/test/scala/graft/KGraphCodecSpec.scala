package graft

import org.apache.spark.sql.functions._
import graft.graph.{GraphAnalytics, KGraph}

/** The census id codec (KGraph.encodeId/decodeId) must be a pure
  * representation change: exact roundtrip on every real node id, and
  * the long-keyed census must reproduce the string-keyed census
  * bit-for-bit — support is a per-undirected-edge count, so neither
  * the packing nor the long-vs-string canonical order may leak into
  * the result. */
class KGraphCodecSpec extends SparkSpec {

  test("encode/decode roundtrips every node id at sf0.001") {
    val ids = graft.graph.PageRank.nodes(KGraph.materialized(spark, sf))
    val bad = ids.withColumn("rt",
        KGraph.decodeId(KGraph.encodeId(col("node_id"))))
      .filter(col("rt") =!= col("node_id") || col("rt").isNull)
    assert(bad.count() == 0, bad.take(5).mkString(", "))
    // injectivity: as many distinct codes as distinct ids
    val n = ids.count()
    assert(ids.select(KGraph.encodeId(col("node_id"))).distinct().count() == n)
  }

  test("encodeIdChecked raises on out-of-range and malformed ids") {
    import spark.implicits._
    // ADVICE r13: an id whose numeric part reaches 2^40 would bleed
    // into the prefix bits — the census path must fail loudly, not
    // produce a silently-wrong support table
    def enc(id: String) =
      Seq(id).toDF("id").select(KGraph.encodeIdChecked(col("id"))).collect()
    assert(enc("c:42").head.getLong(0) == 'c'.toLong * (1L << 40) + 42L)
    for (bad <- Seq("c:" + (1L << 40).toString, "c:-1", "c:notanum")) {
      val e = intercept[Exception](enc(bad))
      def msgs(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))
      assert(msgs(e).exists(m => m != null && m.contains("encodeId")), bad)
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
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))
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

  test("encodeIdLex roundtrips and stays order-isomorphic on every real " +
    "node id at sf0.001") {
    val ids = graft.graph.PageRank.nodes(KGraph.materialized(spark, sf))
    val bad = ids.withColumn("rt",
        KGraph.decodeIdLex(KGraph.encodeIdLex(col("node_id"))))
      .filter(col("rt") =!= col("node_id") || col("rt").isNull)
    assert(bad.count() == 0, bad.take(5).mkString(", "))
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
    // 100 > 99 numerically, so this exercises the re-canonicalization
    val canon = Seq(
      ("c:100", "c:99"), ("c:100", "c:7"), ("c:7", "c:99"), // triangle
      ("c:7", "o:3"), ("c:99", "o:3"),                      // triangle
      ("o:3", "s:1")                                        // dangling
    ).toDF("a", "b")
    val direct = GraphAnalytics.edgeSupport(canon)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    val enc = canon.select(
      least(KGraph.encodeId(col("a")), KGraph.encodeId(col("b"))).as("a"),
      greatest(KGraph.encodeId(col("a")), KGraph.encodeId(col("b"))).as("b"))
    val viaCodec = GraphAnalytics.edgeSupport(enc)
      .select(KGraph.decodeId(col("a")).as("da"),
        KGraph.decodeId(col("b")).as("db"), col("support"))
      .select(least(col("da"), col("db")).as("a"),
        greatest(col("da"), col("db")).as("b"), col("support"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(direct.nonEmpty)
    assert(viaCodec == direct)
    assert(viaCodec.keys.forall { case (a, b) => a < b })
  }

  test("canonicalLexMaterialized == encodeIdLex(canonicalMaterialized) " +
    "as an edge set on the real graph") {
    // the shared packed canonical artifact (round 15) must be exactly
    // the lex-encoded string canonical list: least/greatest commute
    // with the order-preserving codec and DISTINCT with injectivity —
    // q268/q192/q193/q231 all read it in place of a per-call encode
    val viaArtifact = KGraph.canonicalLexMaterialized(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaEncode = KGraph.canonicalMaterialized(spark, sf)
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
    // pairs of the corresponding string orientation — the KG's
    // (from, to) pairs are globally unique, so pair-set equality is
    // full traversal equivalence (multiHop merges each level per node)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def encPairs(d: graft.graph.GraphOps.Direction): Set[(Long, Long)] =
      pairs(KGraph.orientedMaterialized(spark, sf, d)
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
