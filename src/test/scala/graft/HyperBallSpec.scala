package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.engine.Lineage.LineageOps
import graft.graph.{HyperBall, KGraph}

/** q343's HyperBall — the oracle proves cross-engine agreement but
  * not that the SKETCH estimates anything: this spec compares the
  * estimated neighborhood function against the EXACT t-hop ball
  * census (distinct (node, reached) pairs by frontier expansion) on
  * sf0.001, and pins monotonicity. With m = 16 registers a ±25%
  * aggregate band is conservative (per-node σ ≈ 26%, node errors are
  * independent and the N(t) sum averages them down).
  */
class HyperBallSpec extends SparkSpec {

  /** One synchronous merge round along undirected canonical edges
    * (a, b) in the SPARSE (node, j, r) form — the oracle's CTE shape,
    * and the reference the pivoted rounds q343 runs
    * ([[HyperBall.mergeRoundPivoted]]) must equal. */
  private def mergeRound(regs: DataFrame, canon: DataFrame): DataFrame = {
    val fromB = canon.join(regs.withColumnRenamed("node", "b"), "b")
      .select(col("a").as("node"), col("j"), col("r"))
    val fromA = canon.join(regs.withColumnRenamed("node", "a"), "a")
      .select(col("b").as("node"), col("j"), col("r"))
    regs.select(col("node"), col("j"), col("r"))
      .unionByName(fromB).unionByName(fromA)
      .groupBy(col("node"), col("j")).agg(max(col("r")).as("r"))
      .truncateLineage()
  }

  /** One-row neighborhood-function estimate at hop `t` over sparse
    * registers, through the oracle's CASE tables. */
  private def estimateRow(regs: DataFrame, t: Int): DataFrame =
    regs.groupBy(col("node"))
      .agg(count(lit(1)).as("present"),
        sum(expr(HyperBall.pow2Scaled21Sql("r"))).as("sumpow"))
      .select(expr(HyperBall.estMicroSql("present", "sumpow")).as("est_micro"))
      .agg(count(lit(1)).as("n_nodes"),
        sum(col("est_micro")).as("nf_micro"))
      .select(lit(t).as("t"), col("n_nodes"),
        (col("nf_micro") / lit(1e6)).as("nf_est"),
        graft.functions.ExactRound.microMean6(col("nf_micro"),
          col("n_nodes")).as("avg_ball_est"))

  test("estimated neighborhood function tracks the exact ball census") {
    val canon = KGraph.canonicalMaterialized(spark, sf)
    val nodes = canon.select(col("a").as("node"))
      .unionByName(canon.select(col("b").as("node"))).distinct()

    // exact: reach_t = distinct (src, node) pairs within t hops
    var reach = nodes.select(col("node").as("src"),
      col("node").as("node"))
    val exact = scala.collection.mutable.ArrayBuffer(reach.count())
    for (_ <- 1 to 3) {
      val viaB = reach.join(canon.withColumnRenamed("a", "node"),
        "node").select(col("src"), col("b").as("node"))
      val viaA = reach.join(canon.withColumnRenamed("b", "node"),
        "node").select(col("src"), col("a").as("node"))
      reach = reach.unionByName(viaB).unionByName(viaA).distinct()
        .localCheckpoint()
      exact += reach.count()
    }

    var regs = HyperBall.registers0(nodes)
    val est = scala.collection.mutable.ArrayBuffer(
      estimateRow(regs, 0).collect()(0)
        .getAs[Double]("nf_est"))
    for (t <- 1 to 3) {
      regs = mergeRound(regs, canon)
      est += estimateRow(regs, t).collect()(0)
        .getAs[Double]("nf_est")
    }

    (0 to 3).foreach { t =>
      val ratio = est(t) / exact(t)
      assert(ratio > 0.75 && ratio < 1.25,
        s"t=$t: est ${est(t)} vs exact ${exact(t)} (ratio $ratio)")
    }
    assert(est.sliding(2).forall(p => p(1) >= p(0) - 1e-6),
      s"estimates must be nondecreasing in t: $est")
  }

  test("pivoted rounds equal sparse rounds estimate-for-estimate") {
    // q343 runs the 16-column form; the sparse (node, j, r) form is
    // the reference (and the oracle's CTE shape). Same register
    // values ⇒ identical estimate ROWS at every t, not just close.
    val canon = KGraph.canonicalMaterialized(spark, sf)
    val nodes = canon.select(col("a").as("node"))
      .unionByName(canon.select(col("b").as("node"))).distinct()
    var sparse = HyperBall.registers0(nodes)
    var piv = HyperBall.registers0Pivoted(nodes)
    def rows(df: DataFrame) =
      df.collect().map(_.toSeq).toSeq
    assert(rows(HyperBall.estimateRowPivoted(piv, 0)) ==
      rows(estimateRow(sparse, 0)))
    for (t <- 1 to 3) {
      sparse = mergeRound(sparse, canon)
      piv = HyperBall.mergeRoundPivoted(piv, canon)
      assert(rows(HyperBall.estimateRowPivoted(piv, t)) ==
        rows(estimateRow(sparse, t)),
        s"pivoted/sparse estimates diverge at t=$t")
    }
  }
}
