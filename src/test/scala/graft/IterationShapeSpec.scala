package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._
import graft.graph.PageRank
import graft.queries.Catalog

/** Per-iteration plan-shape pins for the iterative heavy hitters
  * (round-7 verdict item 8). PlanShapeSpec guards whole-plan
  * properties; these two queries additionally promise a per-ITERATION
  * shape in their scaladocs — q147 "one hash join + one keyed sum per
  * iteration", q149 "one k-row centroid broadcast per Lloyd round" —
  * which a lineage edit could silently double without tripping any
  * whole-plan guard. This spec pins both executable facts.
  */
class IterationShapeSpec extends SparkSpec {
  import spark.implicits._

  /** Number of stages Spark actually submits while `body` runs —
    * lineage truncation hides per-iteration work from the final plan,
    * so the honest per-iteration measure is executed stages, not plan
    * text. */
  private def submittedStages(body: => Unit): Int = {
    val counter = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
        counter.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      // the listener bus is async and private[spark]; poll until the
      // count stops moving instead of waiting on the bus directly
      var prev = -1
      var same = 0
      while (same < 3) {
        Thread.sleep(200)
        val c = counter.get()
        if (c == prev) same += 1 else { same = 0; prev = c }
      }
    } finally spark.sparkContext.removeSparkListener(l)
    counter.get()
  }

  private lazy val prEdges = {
    // 40-node, 3-regular-ish ring so every stage family (join, agg,
    // checkpoint) is exercised with real shuffles
    val n = 40
    (0 until n).flatMap(i => Seq(
      (f"n$i%02d", f"n${(i + 1) % n}%02d"),
      (f"n$i%02d", f"n${(i + 7) % n}%02d")))
      .toDF("from_id", "to_id")
      .localCheckpoint()
  }

  test("q147 pagerank: stage count grows by a pinned per-iteration delta") {
    // warm once so one-time costs (input materialization) don't skew
    PageRank.ranks(prEdges, 1).count()
    val s3 = submittedStages { PageRank.ranks(prEdges, 3).count() }
    val s4 = submittedStages { PageRank.ranks(prEdges, 4).count() }
    val delta = s4 - s3
    info(s"stages: 3 iters=$s3, 4 iters=$s4, per-iteration delta=$delta")
    // one hash join (ranks onto the pre-partitioned edge list) + one
    // keyed sum + the left join back onto the node set + the
    // checkpoint materialization — doubling the per-iteration shuffles
    // (the failure this guards) would land at >= 2x this pin
    assert(delta >= 1 && delta <= 6,
      s"per-iteration stage delta drifted: $delta (3-iter run $s3, 4-iter run $s4)")
  }

  test("q173 classifier: stage count grows by a pinned per-GD-step delta") {
    import graft.pipeline.QualityClassifier
    val feats = (1L to 40L).flatMap(d => Seq(
      (d, d % 2, d % 8, 3L, 6L), (d, d % 2, (d + 3) % 8, 3L, 6L)))
      .toDF("doc_id", "y", "b", "cnt", "n_tok")
      .localCheckpoint()
    def run(iters: Int): Unit = {
      val (w, bias) = QualityClassifier.train(feats, buckets = 8,
        iterations = iters)
      QualityClassifier.scores(feats, w, bias).count()
    }
    run(1) // warm
    val s3 = submittedStages { run(3) }
    val s4 = submittedStages { run(4) }
    val delta = s4 - s3
    info(s"stages: 3 iters=$s3, 4 iters=$s4, per-iteration delta=$delta")
    // one margin aggregate + one gradient aggregate + the bounded
    // weight/bias updates per step — doubling the per-step passes (the
    // failure this guards) would land at >= 2x this pin
    assert(delta >= 1 && delta <= 12,
      s"per-GD-step stage delta drifted: $delta (3-iter $s3, 4-iter $s4)")
  }

  test("q192 kCorePeel: drop-set join strategy is AQE's, not a forced broadcast") {
    import graft.graph.GraphAnalytics
    // The round-8 scale hazard: a broadcast() hint on the per-round
    // drop set bypasses AQE's size check, and round 1 drops EVERY node
    // with degree < k — O(n) on a power-law graph. The fix leaves the
    // strategy to the planner, so under a tiny broadcast threshold the
    // anti-joins must NOT plan as broadcast joins (a forced hint would
    // broadcast regardless of the threshold — exactly this assertion
    // failing).
    val alive = (0 until 2000).map(i => (f"n$i%04d", f"n${(i + 1) % 2000}%04d"))
      .toDF("a", "b").localCheckpoint()
    val drop = (0 until 1500).map(i => f"n$i%04d").toDF("node")
      .localCheckpoint()
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64")
      val qe = GraphAnalytics.dropEdges(alive, drop)
      qe.count() // finalize the adaptive plan
      val plan = qe.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastHashJoin") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"large first-round peel must not broadcast the drop set:\n$plan")
      assert(!qe.queryExecution.analyzed.toString.contains("ResolvedHint"),
        "dropEdges must carry no join-strategy hint (AQE decides per round)")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q192 kCorePeel: stage count grows by a pinned per-round delta") {
    import graft.graph.GraphAnalytics
    // k=2 on an n-node path peels in ceil((n-1)/2) rounds; 9 vs 13
    // nodes = 4 vs 6 rounds, so half the run difference is the honest
    // per-round stage cost (degree aggregate + two anti-joins + the
    // checkpoint materializations).
    def path(n: Int) = GraphAnalytics.canonical(
      (0 until n - 1).map(i => (f"n$i%02d", f"n${i + 1}%02d"))
        .toDF("from_id", "to_id")).localCheckpoint()
    val (p4, p6) = (path(9), path(13))
    GraphAnalytics.kCorePeel(p4, 2)._1.count() // warm
    val s4 = submittedStages {
      val (out, r) = GraphAnalytics.kCorePeel(p4, 2); out.count()
      assert(r == 4, s"9-node path should peel in 4 rounds, got $r")
    }
    val s6 = submittedStages {
      val (out, r) = GraphAnalytics.kCorePeel(p6, 2); out.count()
      assert(r == 6, s"13-node path should peel in 6 rounds, got $r")
    }
    val delta = (s6 - s4) / 2.0
    info(s"stages: 4 rounds=$s4, 6 rounds=$s6, per-round delta=$delta")
    // one degree aggregate + two anti-joins + the two checkpoints (the
    // drop set's checkpoint also counts it) land well under 12
    // stages/round; a lineage edit
    // that re-runs prior rounds (the failure this guards) is quadratic
    // in rounds and blows through the pin immediately
    assert(delta >= 1 && delta <= 12,
      s"per-round stage delta drifted: $delta (4-round $s4, 6-round $s6)")
  }

  test("q193 labelPropagation: stage count grows by a pinned per-round delta") {
    import graft.graph.GraphAnalytics
    val canon = GraphAnalytics.canonical(
      (0 until 40).flatMap(i => Seq(
        (f"n$i%02d", f"n${(i + 1) % 40}%02d"),
        (f"n$i%02d", f"n${(i + 9) % 40}%02d")))
        .toDF("from_id", "to_id")).localCheckpoint()
    GraphAnalytics.labelPropagation(canon, 2).count() // warm
    val s3 = submittedStages {
      GraphAnalytics.labelPropagation(canon, 3).count() }
    val s4 = submittedStages {
      GraphAnalytics.labelPropagation(canon, 4).count() }
    val delta = s4 - s3
    info(s"stages: 3 rounds=$s3, 4 rounds=$s4, per-round delta=$delta")
    // one adjacency join + the (node, label) count + the keyed top-1
    // per round; doubling the per-round shuffles would land at >= 2x
    assert(delta >= 1 && delta <= 8,
      s"per-round stage delta drifted: $delta (3-round $s3, 4-round $s4)")
  }

  test("q269 hits: stage count grows by a pinned per-round delta") {
    import graft.graph.Hits
    val edges = (0 until 40).flatMap(i => Seq(
      (f"n$i%02d", f"n${(i + 1) % 40}%02d"),
      (f"n$i%02d", f"n${(i + 13) % 40}%02d")))
      .toDF("from_id", "to_id")
      .localCheckpoint()
    Hits.scores(edges, 1).count() // warm
    val s2 = submittedStages { Hits.scores(edges, 2).count() }
    val s3 = submittedStages { Hits.scores(edges, 3).count() }
    val delta = s3 - s2
    info(s"stages: 2 rounds=$s2, 3 rounds=$s3, per-round delta=$delta")
    // two half-steps per round, each one hash join + one keyed integer
    // sum + a 1-row max + the checkpoint materialization; doubling the
    // per-round passes (the failure this guards) lands at >= 2x
    assert(delta >= 2 && delta <= 14,
      s"per-round stage delta drifted: $delta (2-round $s2, 3-round $s3)")
  }

  test("q293 kTrussPeel: one incremental cascade round has a pinned stage budget") {
    import graft.graph.GraphAnalytics
    // Same round-1 shape, different cascade depth: a lone triangle
    // peels in ONE round at k=4 (all supports 1), while the
    // two-triangle-sharing-an-edge graph peels in TWO (the shared
    // edge's support decays to 0 after round 1 — KTrussSpec's cascade
    // case). The stage difference is the honest stage budget of ONE
    // live-frontier round (measured 12 with AQE on: the frontier x
    // adjacency triangle enumeration, the dead-triangle dedup + delta
    // aggregate, the support/alive update and its checkpoint, whose
    // job also counts the next round's drops — many tiny stages, each
    // frontier-sized). The failure this guards is the q192 one:
    // a lineage edit that re-executes PRIOR rounds inside later ones
    // is quadratic in rounds and blows the band immediately. (Stage
    // COUNT cannot distinguish census-sized work from frontier-sized
    // work — that regression is caught by the bench floor instead.)
    def edges(rows: Seq[(Long, Long)]) =
      rows.toDF("a", "b").localCheckpoint()
    val oneRound = edges(Seq((1L, 2L), (1L, 3L), (2L, 3L)))
    val twoRound = edges(Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L),
      (3L, 4L)))
    GraphAnalytics.kTrussPeel(oneRound, 4)._1.count() // warm
    val s1 = submittedStages {
      val (out, r) = GraphAnalytics.kTrussPeel(oneRound, 4); out.count()
      assert(r == 1, s"lone triangle should peel in 1 round, got $r")
    }
    val s2 = submittedStages {
      val (out, r) = GraphAnalytics.kTrussPeel(twoRound, 4); out.count()
      assert(r == 2, s"shared-edge pair should peel in 2 rounds, got $r")
    }
    val delta = s2 - s1
    info(s"stages: 1-round graph=$s1, 2-round graph=$s2, cascade-round delta=$delta")
    assert(delta >= 5 && delta <= 60,
      s"per-cascade-round stage delta drifted: $delta (1-round $s1, 2-round $s2)")
  }

  test("q12/q14 multiHop: stage count grows by a pinned per-hop delta") {
    import graft.graph.GraphOps
    // a 12-node chain reached from its head: every hop adds one node,
    // so 3 vs 5 hops run exactly 3 vs 5 rounds and half the run
    // difference is the honest per-hop stage cost. The carried-frame
    // hop is one frontier exchange, one min-hop merge aggregate and
    // the checkpoint (which also counts the new level) = 3 stages. The
    // failure this guards is a per-hop materialization added back (an
    // isEmpty probe, a separately checkpointed level, a distinct or a
    // visited anti-join): each adds at least one stage per hop.
    val chain = (0 until 11).map(i => (f"n$i%02d", f"n${i + 1}%02d"))
      .toDF("node_id", "next_id").localCheckpoint()
    val head = Seq("n00").toDF("node_id")
    def hops(n: Int): Int = {
      var reached = 0L
      val s = submittedStages {
        reached = GraphOps.multiHop(chain, head, n, preOriented = true)
          .count()
      }
      assert(reached == n + 1, s"$n hops should reach ${n + 1} nodes, got $reached")
      s
    }
    hops(2) // warm
    val (s3, s5) = (hops(3), hops(5))
    val delta = (s5 - s3) / 2.0
    info(s"stages: 3 hops=$s3, 5 hops=$s5, per-hop delta=$delta")
    assert(delta >= 1 && delta <= 3,
      s"per-hop stage delta drifted: $delta (3-hop $s3, 5-hop $s5)")
  }

  test("q338 localMaxMatching: stage count grows by a pinned per-round delta") {
    import graft.graph.GraphAnalytics
    // a 13-node path whose weights rise toward one end matches exactly
    // ONE edge per round (the heaviest remaining end edge) and kills
    // its neighbor, so it stays alive for 6 rounds: budgets 2 and 4
    // both run every round. The carried-frame round is the best-edge
    // aggregate, the two-vote aggregate, the two marking joins' frame
    // exchanges and the checkpoint (which also counts the alive
    // edges). A separately checkpointed dominant or alive set, a
    // distinct or an emptiness probe added back lands above the pin.
    val path = (1L to 12L).map(i => (i, i + 1, i)).toDF("a", "b", "w")
      .localCheckpoint()
    def run(rounds: Int): Int = {
      var last = 0
      val s = submittedStages {
        last = GraphAnalytics.localMaxMatching(path, rounds)
          .agg(max(col("round"))).head().getInt(0)
      }
      assert(last == rounds, s"$rounds rounds should each match, last=$last")
      s
    }
    run(1) // warm
    val (s2, s4) = (run(2), run(4))
    val delta = (s4 - s2) / 2.0
    info(s"stages: 2 rounds=$s2, 4 rounds=$s4, per-round delta=$delta")
    assert(delta >= 1 && delta <= 6,
      s"per-round stage delta drifted: $delta (2-round $s2, 4-round $s4)")
  }

  test("q149 kmeans: exactly one centroid broadcast join per Lloyd round") {
    // KMeans.fit chains iterations without lineage truncation, so the
    // final plan is the full DAG: each of the KmIters update rounds and
    // the final labeling runs ONE crossJoin(broadcast(centroids)) —
    // KmIters + 1 = 3 BroadcastNestedLoopJoins, no more, no fewer.
    val plan = Catalog.byName("q149_kmeans_corpus_map")
      .run(spark, sf).queryExecution.explainString(FormattedMode)
    // FormattedMode prints each operator twice (tree line + detail
    // block); the "(id) Name" detail headers are unique per operator
    val bnlj = """\(\d+\) BroadcastNestedLoopJoin""".r.findAllIn(plan).size
    info(s"q149 BNLJ count=$bnlj")
    assert(bnlj == 3,
      s"q149 should plan exactly 3 centroid broadcast joins (2 Lloyd rounds " +
        s"+ final assignment), found $bnlj")
  }
}
