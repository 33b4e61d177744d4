package graft

import graft.graph.GraphAnalytics

class GraphAnalyticsSpec extends SparkSpec {
  import spark.implicits._

  private def canon(pairs: (String, String)*) =
    GraphAnalytics.canonical(pairs.toDF("from_id", "to_id"))

  test("canonical orients, dedupes and drops self-loops") {
    val got = canon(("b", "a"), ("a", "b"), ("a", "a"), ("b", "c"))
      .as[(String, String)].collect().toSet
    assert(got == Set(("a", "b"), ("b", "c")))
  }

  test("triangleCounts finds each triangle once per member node") {
    // triangle a-b-c plus pendant c-d: a,b,c in 1 triangle, d in none
    val c = canon(("a", "b"), ("b", "c"), ("a", "c"), ("c", "d"))
    val got = GraphAnalytics.triangleCounts(c)
      .as[(String, Long)].collect().toMap
    assert(got == Map("a" -> 1L, "b" -> 1L, "c" -> 1L))
  }

  test("triangleCountsFromSupport matches the direct census") {
    // the shared-census artifact path derives per-node counts from
    // per-edge support (n_tri(u) = Σ support over incident edges div
    // 2) — must equal the direct wedge enumeration on a graph with
    // overlapping triangles, a pendant, and an isolated edge
    val c = canon(("a", "b"), ("b", "c"), ("a", "c"), ("b", "d"),
      ("c", "d"), ("b", "e"), ("x", "y"))
    val direct = GraphAnalytics.triangleCounts(c)
      .as[(String, Long)].collect().toMap
    val derived = GraphAnalytics
      .triangleCountsFromSupport(GraphAnalytics.edgeSupport(c))
      .as[(String, Long)].collect().toMap
    assert(derived == direct, s"derived=$derived direct=$direct")
    // and the clustering forms agree end-to-end (left-join fills the
    // no-triangle nodes with 0 in both)
    val cDirect = GraphAnalytics.clustering(c)
      .as[(String, Long, Long, Double)].collect().toSet
    val cDerived = GraphAnalytics
      .clusteringFromSupport(c, GraphAnalytics.edgeSupport(c))
      .as[(String, Long, Long, Double)].collect().toSet
    assert(cDerived == cDirect)
  }

  test("kTrussPeel with a supplied initial support matches the built-in census") {
    // K4 + a triangle sharing one node + a chain: the peel's rounds
    // and layers must be identical whether the census is computed
    // inside or handed in (the session-artifact path)
    val edges = Seq(("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"),
      ("b", "d"), ("c", "d"), ("d", "e"), ("e", "f"), ("d", "f"),
      ("f", "g"), ("g", "h"))
    val c = canon(edges: _*)
    val (built, r1) = GraphAnalytics.kTrussPeel(c, k = 4)
    val (seeded, r2) = GraphAnalytics.kTrussPeel(c, k = 4,
      initialSupport = Some(GraphAnalytics.edgeSupport(c)))
    assert(r1 == r2)
    val key = (df: org.apache.spark.sql.DataFrame) =>
      df.as[(String, String, Int, Boolean)].collect().toSet
    assert(key(seeded) == key(built))
  }

  test("clustering: K4 is 1.0 everywhere, pendant is 0") {
    // complete graph on {a,b,c,d} + pendant e on d
    val k4 = for {
      x <- Seq("a", "b", "c", "d"); y <- Seq("a", "b", "c", "d")
      if x < y
    } yield (x, y)
    val c = canon(k4 :+ (("d", "e")): _*)
    val got = GraphAnalytics.clustering(c)
      .as[(String, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got("a") == ((3L, 3L, 1.0)))
    assert(got("d") == ((4L, 3L, 0.5))) // 3 of C(4,2)=6 pairs closed
    assert(got("e") == ((1L, 0L, 0.0)))
  }

  test("kCorePeel: chain peels outside-in, cycle survives k=2") {
    // path a-b-c-d-e attached to triangle e-f-g
    val c = canon(("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"),
      ("e", "f"), ("f", "g"), ("e", "g"))
    val (out, rounds) = GraphAnalytics.kCorePeel(c, 2, maxRounds = 16)
    val got = out.select("node", "layer")
      .as[(String, Int)].collect().toMap
    // synchronous peel: a peels round 1, then b exposed -> round 2, ...
    assert(got == Map("a" -> 1, "b" -> 2, "c" -> 3, "d" -> 4,
      "e" -> 0, "f" -> 0, "g" -> 0))
    assert(rounds == 4, s"converged in $rounds rounds")
  }

  test("kCorePeel converges under the cap (no truncated cascade)") {
    // 10-node path: layers 1..5 from both ends, nothing in the 2-core
    val path = (0 until 9).map(i => (s"n$i", s"n${i + 1}"))
    val (out, rounds) = GraphAnalytics.kCorePeel(canon(path: _*), 2)
    assert(rounds == 5 && rounds < 16)
    assert(out.filter("in_core").count() == 0)
  }

  test("q231: star graph reads assortativity -1; KG report is bounded") {
    import org.apache.spark.sql.functions._
    // a perfect star is maximally disassortative: every edge joins the
    // hub (degree n) to a leaf (degree 1) -> r = -1 exactly. Replicate
    // the q231 stub sums on the fixture.
    val star = canon(("h", "l1"), ("h", "l2"), ("h", "l3"), ("h", "l4"))
    val deg = star.select(col("a").as("node"))
      .unionByName(star.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("d"))
    val st = star
      .join(deg.select(col("node").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("d").as("db")), "b")
    val r = st.agg((count(lit(1)) * 2L).as("m"),
        (sum("da") + sum(col("db"))).as("sx"),
        (sum(col("da") * col("da")) + sum(col("db") * col("db"))).as("sxx"),
        (sum(col("da") * col("db")) * 2L).as("sxy"))
      .select(((col("m").cast("double") * col("sxy") - col("sx").cast("double") * col("sx")) /
        (col("m").cast("double") * col("sxx") - col("sx").cast("double") * col("sx"))).as("r"))
      .head().getDouble(0)
    assert(math.abs(r - (-1.0)) < 1e-12)
    // catalog run: bounded stats, zero reciprocity on the DAG-shaped KG
    val row = graft.queries.Catalog.byName("q231_graph_mixing")
      .run(spark, sf).head()
    val a = row.getAs[Double]("assortativity")
    assert(a >= -1.0 && a <= 1.0)
    assert(row.getAs[Long]("n_mutual") == 0L)
    assert(row.getAs[Double]("reciprocity") == 0.0)
  }

  test("q239: modularity identities — sum(d_sum)=2m, sum(e_in)<=m, Q in [-1,1]") {
    val rows = graft.queries.Catalog.byName("q239_partition_modularity")
      .run(spark, sf).collect()
    assert(rows.nonEmpty)
    val dSum = rows.map(_.getAs[Long]("d_sum")).sum
    val eIn = rows.map(_.getAs[Long]("e_in")).sum
    val q = rows.map(_.getAs[Double]("q_contrib")).sum
    // 2m = sum of degrees; recover m from the identity and cross-check
    assert(dSum % 2 == 0, s"odd degree sum $dSum")
    val m = dSum / 2
    assert(eIn >= 0 && eIn <= m, s"e_in=$eIn m=$m")
    assert(q >= -1.0 - 1e-6 && q <= 1.0 + 1e-6, s"Q=$q")
    rows.foreach(r => assert(r.getAs[Long]("n_nodes") > 0))
  }

  test("q249: harmonic scores bounded and consistent with seed counts") {
    val rows = graft.queries.Catalog.byName("q249_harmonic_centrality")
      .run(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getAs[Long]("n_seeds")
      val h12 = r.getAs[Long]("h12")
      assert(n >= 1 && n <= 32)
      // each seed contributes 12/d with d in 1..4: between 3 and 12
      assert(h12 >= 3 * n && h12 <= 12 * n, s"h12=$h12 n=$n")
      val h = r.getAs[Double]("harmonic")
      assert(h > 0.0 && h <= 1.0 + 1e-9)
    }
    // customers point at nations: the KG must put some node (a nation
    // or region hub) in reach of several seeds at once
    assert(rows.map(_.getAs[Long]("n_seeds")).max >= 4)
  }

  test("labelPropagation: two cliques bridged keep distinct labels") {
    val cliqueA = for { x <- Seq("a1", "a2", "a3"); y <- Seq("a1", "a2", "a3") if x < y } yield (x, y)
    val cliqueB = for { x <- Seq("b1", "b2", "b3"); y <- Seq("b1", "b2", "b3") if x < y } yield (x, y)
    val c = canon((cliqueA ++ cliqueB :+ (("a3", "b1"))): _*)
    val got = GraphAnalytics.labelPropagation(c, 4)
      .as[(String, String)].collect().toMap
    // min-label tie-breaks drive clique A to its smallest member; the
    // bridge leaks a3's label into clique B on B's internal ties — the
    // two communities stay DISTINCT, which is the property that matters
    assert(Set("a1", "a2", "a3").map(got) == Set("a1"))
    assert(Set("b1", "b2", "b3").map(got) == Set("a3"))
  }

  test("q193 packed-key LPA == string-keyed LPA on the real graph " +
    "(round 14: encodeIdLex is order-preserving, so results are " +
    "bit-identical)") {
    val c = graft.graph.KGraph.canonicalMaterialized(spark, sf)
    val direct = GraphAnalytics.labelPropagation(c,
        graft.queries.GraphAnalyticsQueries.LpaRounds)
      .as[(String, String)].collect().toMap
    val packed = graft.queries.Catalog.byName("q193_lpa_communities")
      .run(spark, sf)
      .as[(String, String)].collect().toMap
    assert(packed == direct)
  }

  test("q256: betweenness output is positive, seed-bounded, hub-shaped") {
    val rows = graft.queries.Catalog.byName("q256_betweenness")
      .run(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Double]("betweenness") > 0.0)
      val ns = r.getAs[Long]("n_sources")
      assert(ns >= 1L && ns <= 16L)
    }
    // order seeds route o -> c/p -> n/s -> r: intermediate node kinds
    // (customers, parts, suppliers, nations) must appear, and no order
    // node can lie strictly between two other nodes (orders are roots)
    val kinds = rows.map(_.getAs[String]("node_id").split(":").head).toSet
    assert(!kinds.contains("o"))
    assert(kinds.intersect(Set("c", "p", "s", "n")).nonEmpty)
  }

  test("KG oriented index is duplicate-free (q256's sigma contract)") {
    val e = graft.graph.KGraph
      .orientedMaterialized(spark, sf, graft.graph.GraphOps.Outgoing)
      .select("node_id", "next_id")
    assert(e.count() == e.distinct().count())
    // q256 reads the PACKED rank edge index as its oriented-outgoing
    // set since round 15 — the two must be the SAME edge set (decoded),
    // or sigma path counts silently diverge
    import org.apache.spark.sql.functions.col
    val r = graft.graph.KGraph.rankEdgesMaterialized(spark, sf)
      .select(
        graft.graph.KGraph.decodeIdLex(col("from_id")).as("node_id"),
        graft.graph.KGraph.decodeIdLex(col("to_id")).as("next_id"))
    assert(r.count() == e.count())
    assert(r.exceptAll(e).isEmpty && e.exceptAll(r).isEmpty)
  }

  test("q258: hop plot is cumulative and the diameter row interpolates") {
    val rows = graft.queries.Catalog.byName("q258_hop_plot")
      .run(spark, sf).collect().sortBy(_.getAs[Int]("hop"))
    assert(rows.nonEmpty)
    val shares = rows.map(_.getAs[Double]("cum_share"))
    assert(shares.zip(shares.tail).forall { case (a, b) => a <= b })
    assert(math.abs(shares.last - 1.0) < 1e-9)
    val eff = rows.head.getAs[Int]("eff_diameter")
    assert(rows.forall(_.getAs[Int]("eff_diameter") == eff))
    val interps = rows.flatMap(r =>
      Option(r.getAs[java.lang.Double]("eff_interp")).map(
        (r.getAs[Int]("hop"), _)))
    assert(interps.length == 1)
    val (h, i) = interps.head
    assert(h == eff && i > eff - 1 - 1e-9 && i <= eff + 1e-9)
  }

  test("q269 hits: star authorities/hubs max-normalize to exactly 1") {
    // all leaves point at the center: center is the sole authority
    // (auth = 1e6), every leaf the equal-best hub (hub = 1e6)
    val e = Seq(("l1", "c"), ("l2", "c"), ("l3", "c"))
      .toDF("from_id", "to_id")
    val got = graft.graph.Hits.scores(e, 2)
      .collect().map(r => r.getString(0) ->
        ((r.getAs[Long]("auth_micro"), r.getAs[Long]("hub_micro")))).toMap
    assert(got("c") == ((1000000L, 0L)))
    Seq("l1", "l2", "l3").foreach(l => assert(got(l) == ((0L, 1000000L))))
  }

  test("hits: pre-materialized edge/node sets reproduce the per-call " +
    "frames bit-for-bit on the real graph") {
    import org.apache.spark.sql.functions._
    import graft.graph.{Hits, KGraph}
    // the q269 artifact path: the rank-edge index is a valid HITS edge
    // set because the knowledge graph has no parallel (from, to) pairs
    val edges = KGraph.materialized(spark, sf)
    val plain = Hits.scores(edges, 2).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // the artifacts carry PACKED lex ids since round 15 — the parity
    // claim is now STRONGER: the whole packed iteration must reproduce
    // the string-keyed reference bit-for-bit after decoding
    val indexed = Hits.scores(edges, 2,
        edgeSet = Some(KGraph.rankEdgesMaterialized(spark, sf)
          .select(col("from_id"), col("to_id"))),
        nodeSet = Some(KGraph.nodeSetMaterialized(spark, sf)))
      .select(KGraph.decodeIdLex(col("node_id")).as("node_id"),
        col("auth_micro"), col("hub_micro"))
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(plain.nonEmpty && indexed == plain)
    // the distinctness assumption itself: no parallel typed edges
    assert(edges.groupBy(col("from_id"), col("to_id")).count()
      .filter(col("count") > 1).isEmpty)
  }

  test("q291 assortativity: star reads exactly -1; catalog r within [-1, 1]") {
    import graft.graph.GraphAnalytics
    // star K1,4: every edge pairs the hub (deg 4) with a leaf (deg 1)
    // — perfect disassortativity, the textbook r = -1 case
    val star = Seq(("h", "l1"), ("h", "l2"), ("h", "l3"), ("h", "l4"))
      .toDF("from_id", "to_id")
    val r = GraphAnalytics.assortativity(GraphAnalytics.canonical(star))
      .collect().head
    assert(r.getAs[Double]("assortativity") == -1.0)
    val cat = graft.queries.Catalog.byName("q291_assortativity")
      .run(spark, sf).collect().head
    val rc = cat.getAs[Double]("assortativity")
    assert(rc >= -1.0 - 1e-9 && rc <= 1.0 + 1e-9, s"r out of range: $rc")
  }

  test("q292 rich club: clique phi = 1 at every feasible k") {
    import graft.graph.GraphAnalytics
    // K5: all degrees 4; for k < 4 the club is the whole clique
    // (phi = 1); at k >= 4 the club is empty (phi null)
    val k5 = (for {
      i <- 1 to 5; j <- (i + 1) to 5
    } yield (s"n$i", s"n$j")).toDF("from_id", "to_id")
    val rows = GraphAnalytics.richClub(GraphAnalytics.canonical(k5),
        Seq(1, 2, 3, 4)).collect()
      .map(r => r.getAs[Int]("k") ->
        ((r.getAs[Long]("n_rich"), Option(r.getAs[java.lang.Double]("phi")))))
      .toMap
    Seq(1, 2, 3).foreach { k =>
      assert(rows(k) == ((5L, Some(1.0))), s"k=$k: ${rows(k)}")
    }
    assert(rows(4)._1 == 0L && rows(4)._2.isEmpty)
  }

  test("q293 k-truss: pendant peels in round 1, the K4 core survives") {
    import graft.graph.GraphAnalytics
    import org.apache.spark.sql.functions._
    // K4 (every edge in 2 triangles) + a pendant edge (support 0):
    // the 4-truss keeps exactly the K4, pendant peels round 1, and
    // the peel converges in 1 round (round 2 drops nothing)
    val edges = ((for {
      i <- 1 to 4; j <- (i + 1) to 4
    } yield (s"n$i", s"n$j")) :+ (("n4", "n9")))
      .toDF("from_id", "to_id")
    val (out, rounds) = GraphAnalytics.kTrussPeel(
      GraphAnalytics.canonical(edges), k = 4, maxRounds = 8)
    val got = out.collect().map(r => (r.getString(0), r.getString(1)) ->
      ((r.getAs[Int]("layer"), r.getAs[Boolean]("in_truss")))).toMap
    assert(rounds == 1, s"expected 1 peel round, got $rounds")
    assert(got(("n4", "n9")) == ((1, false)))
    for { i <- 1 to 4; j <- (i + 1) to 4 }
      assert(got((s"n$i", s"n$j")) == ((0, true)))
    // edge bound implies node bound: every truss member's endpoints
    // sit in the (k-1)-core
    val (core, _) = GraphAnalytics.kCorePeel(
      GraphAnalytics.canonical(edges), k = 3)
    val coreNodes = core.filter(col("in_core")).select(col("node"))
      .as[String].collect().toSet
    out.filter(col("in_truss")).collect().foreach { r =>
      assert(coreNodes(r.getString(0)) && coreNodes(r.getString(1)))
    }
  }

  test("q294 ppr: mass reaches only seed-reachable nodes; seeds dominate") {
    import graft.graph.PageRank
    // seed s feeds a chain s -> a -> b; the disconnected edge x -> y
    // must hold exactly zero mass
    val edges = Seq(("s", "a"), ("a", "b"), ("x", "y"))
      .toDF("from_id", "to_id")
    val seeds = Seq("s").toDF("node_id")
    val got = PageRank.personalizedRanks(edges, seeds, iterations = 3)
      .collect().map(r => r.getString(0) -> r.getAs[Double]("rank")).toMap
    // the restart constant is literally (1.0 - Damping) in BOTH
    // engines — 0.15000000000000002 in IEEE doubles, by design
    assert(got("s") == 1.0 - 0.85)
    assert(got("a") > 0 && got("b") > 0 && got("a") > got("b"))
    assert(got("x") == 0.0 && got("y") == 0.0)
  }

  test("hits: contract guards — zero rounds refused, overflow ceiling enforced") {
    import graft.graph.Hits
    import org.apache.spark.sql.functions._
    val e = Seq(("a", "b")).toDF("from_id", "to_id")
    // 0 rounds: no authority frame would ever exist (NPE before r10)
    assertThrows[IllegalArgumentException](Hits.scores(e, 0))
    assertThrows[IllegalArgumentException](Hits.sql.scoresCtes(0))
    // the micro-unit determinism contract wraps past MaxSafeRaw: the
    // fused executor-side guard must refuse with its named error, not
    // silently produce garbage scores — a synthetic hub one degree
    // past the ceiling (round 1's raw = 1e6 · in-degree) trips it
    val hub = spark.range(Hits.MaxSafeDegree + 1)
      .select(col("id").as("from_id"), lit(-1L).as("to_id"))
    val err = intercept[Throwable](Hits.scores(hub, 1).count())
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        String.valueOf(e.getMessage) +: messages(e.getCause))
    assert(messages(err).exists(_.contains("HITS micro-unit overflow")),
      s"expected the named overflow error, got: $err")
  }

  test("q268: predictions are non-edges ranked by shared-neighbor evidence") {
    val rows = graft.queries.Catalog.byName("q268_link_prediction")
      .run(spark, sf).collect()
    assert(rows.nonEmpty)
    val existing = graft.graph.KGraph
      .canonicalMaterialized(spark, sf)
      .as[(String, String)].collect().toSet
    var prev = Double.MaxValue
    rows.foreach { r =>
      val (a, b) = (r.getAs[String]("node_a"), r.getAs[String]("node_b"))
      assert(a < b && !existing((a, b)), s"predicted pair ($a,$b) exists")
      assert(r.getAs[Long]("common_neighbors") >= 1L)
      val s = r.getAs[Double]("aa_score")
      assert(s > 0 && s <= prev); prev = s
    }
  }

  test("q273: census proves the KG hierarchy and the projections' shapes") {
    val rows = graft.queries.Catalog.byName("q273_graph_census")
      .run(spark, sf).collect()
      .map(r => r.getAs[String]("graph") -> r).toMap
    // the knowledge graph is a typed FK hierarchy: no 2-cycles, no
    // triangles — structural zeros the census must read exactly
    val kg = rows("knowledge_graph")
    assert(kg.getAs[Double]("reciprocity") == 0.0)
    assert(kg.getAs[Long]("n_triangles") == 0L)
    // co-purchase is canonical (single direction) but triangle-rich
    val cp = rows("copurchase")
    assert(cp.getAs[Double]("reciprocity") == 0.0)
    assert(cp.getAs[Long]("n_triangles") > 0L)
    assert(cp.getAs[Double]("transitivity") > 0.0)
    // event-type transitions genuinely run both ways
    assert(rows("event_transitions").getAs[Double]("reciprocity") > 0.5)
  }

  test("q256 micro-term: diamond dependency quantizes to exactly 0.5") {
    // s->a, s->b, a->t, b->t: sigma(a)=1, sigma(t)=2, delta(t)=0
    // per-edge term = round-half-up(1e6 * 1 * (1 + 0) / 2) = 500000
    val sigmaV = 1L; val sigmaW = 2L; val deltaW = 0L
    val term = (2 * sigmaV * (1000000L + deltaW) + sigmaW) / (2 * sigmaW)
    assert(term == 500000L)
  }
}
