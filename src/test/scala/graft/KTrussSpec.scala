package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.engine.Lineage.LineageOps
import graft.graph.GraphAnalytics

/** Parity pin for the live-frontier k-truss peel: the incremental
  * support maintenance in [[GraphAnalytics.kTrussPeel]] must produce
  * EXACTLY the recount form's output ([[kTrussPeelRecount]] below) —
  * same layers, same rounds — on every graph, because q293's oracle
  * runs the full-recount unroll.
  * The dangerous shapes: a triangle losing 2–3 edges in one round
  * (must be charged once, not twice), a support row decayed to zero
  * (must still peel next round), and cascades deeper than one round.
  */
class KTrussSpec extends SparkSpec {

  private def edgesOf(rows: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    rows.toDF("a", "b")
  }

  private def board(df: DataFrame): Set[(Long, Long, Int, Boolean)] =
    df.select("a", "b", "layer", "in_truss").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getBoolean(3))).toSet

  /** The per-round FULL-RECOUNT peel — one degree-ordered edge-support
    * census over the shrinking edge list every round: the direct
    * executable of the oracle's unrolled-CTE contract. */
  private def kTrussPeelRecount(canon: DataFrame, k: Int,
      maxRounds: Int): (DataFrame, Int) = {
    var alive = canon.truncateLineage()
    var peeled: DataFrame = null
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxRounds) {
      rounds += 1
      val sup = GraphAnalytics.edgeSupport(alive)
      val drop = alive.join(sup, Seq("a", "b"), "left")
        .filter(coalesce(col("support"), lit(0L)) < k - 2)
        .select(col("a"), col("b"), lit(rounds).as("layer"))
        .truncateLineage()
      if (drop.isEmpty) {
        converged = true
        rounds -= 1
      } else {
        peeled = if (peeled == null) drop else peeled.unionByName(drop)
        alive = alive.join(drop.select(col("a"), col("b")),
          Seq("a", "b"), "left_anti").truncateLineage()
      }
    }
    val live = alive.select(col("a"), col("b"), lit(0).as("layer"))
    val all =
      if (peeled == null) live else live.unionByName(peeled)
    (all.withColumn("in_truss", col("layer") === 0), rounds)
  }

  private def assertParity(edges: DataFrame, k: Int, cap: Int): Unit = {
    val (inc, rInc) = GraphAnalytics.kTrussPeel(edges, k, cap)
    val (rec, rRec) = kTrussPeelRecount(edges, k, cap)
    assert(rInc == rRec, s"round counts differ: inc=$rInc rec=$rRec")
    assert(board(inc) == board(rec), "peel boards differ")
  }

  test("clique plus pendant: pendant peels, clique survives") {
    // K5 (every edge in 3 triangles) + a pendant edge off node 1.
    val k5 = for { a <- 1L to 5L; b <- (a + 1) to 5L } yield (a, b)
    val edges = edgesOf(k5 :+ (1L, 9L))
    assertParity(edges, 4, 6)
    val (out, _) = GraphAnalytics.kTrussPeel(edges, 4, 6)
    val b = board(out)
    assert(b.contains((1L, 9L, 1, false)))
    assert(k5.forall(e => b.contains((e._1, e._2, 0, true))))
  }

  test("two triangles sharing an edge: simultaneous multi-edge loss charges once") {
    // {1,2,3} and {2,3,4} share edge (2,3): every edge has support
    // <= 2, so k=5 (threshold 3) drops ALL edges in round 1 — the
    // shared-edge triangles die with 2-3 dropped edges each and the
    // incremental form must not double-decrement anything.
    val edges = edgesOf(Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L),
      (3L, 4L)))
    assertParity(edges, 5, 6)
    // k=4 (threshold 2): only the shared edge (2,3) has support 2;
    // round 1 peels the other four, killing both triangles, so (2,3)
    // cascades in round 2 — the decayed-support path.
    assertParity(edges, 4, 6)
    val (out, rounds) = GraphAnalytics.kTrussPeel(edges, 4, 6)
    assert(rounds == 2, s"expected 2 peel rounds, got $rounds")
    assert(board(out).contains((2L, 3L, 2, false)))
  }

  test("random graphs: incremental equals recount") {
    val rng = new scala.util.Random(7)
    (1 to 3).foreach { _ =>
      val edges = edgesOf(
        (1 to 60).map(_ => (1L + rng.nextInt(12), 1L + rng.nextInt(12)))
          .filter(e => e._1 != e._2)
          .map(e => (math.min(e._1, e._2), math.max(e._1, e._2)))
          .distinct)
      assertParity(edges, 4, 8)
    }
  }

  test("co-purchase projection at sf0.001 matches recount") {
    val li = Tables.load(spark, sf, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    val canon = li.select(col("ok"), col("pk").as("a"))
      .join(li.select(col("ok"), col("pk").as("b")), "ok")
      .filter(col("a") < col("b"))
      .select(col("a"), col("b")).distinct()
    assertParity(canon, 4, 6)
  }
}
