package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming twin of q325's Wald SPRT replay, at WEEK granularity.
  *
  * The trial-level walk needs the exact (sec, event_id) total order,
  * which a micro-batch stream does not preserve across batches — but
  * the per-(arm, week) trial/conversion totals are a SUM MONOID, and
  * the week-boundary LLR walk (evaluate the statistic at the end of
  * each week) is a pure function of their prefix sums. So the
  * streaming form appends per-batch weekly partials (foreachBatch),
  * and merging them reproduces the batch weekly walk EXACTLY, for any
  * batch decomposition — the same contract as the count-min and
  * ANOVA-moments twins (CmsSketch, AnovaMomentsStreamSpec). The
  * trial-level stopping time stays a batch-replay readout (q325); the
  * week-level decision here is the one a live monitor would alert on.
  *
  * Constants are q325's contract constants (micro-nats): H₀ p = 0.10
  * vs H₁ p = 0.15, α = β = 0.05.
  */
object SprtMonitor {

  val C1: Long = 405465L // ln(0.15/0.10) micro-nats per success
  val C0: Long = -57158L // ln(0.85/0.90) micro-nats per failure
  val Bound: Long = 2944439L // ln(19) micro-nats

  /** Per-(variant, week) partial counters for one (micro-)batch of
    * raw events — the mergeable state. */
  def weeklyPartials(events: DataFrame): DataFrame =
    events.filter(col("event_type") === "purchase")
      .select(
        when(graft.pipeline.Sampling.hashBucket(col("user_id"), 2,
          "ab") === 0L, "A").otherwise("B").as("variant"),
        expr("CAST(ts AS LONG) div 604800").as("wk"),
        (col("value") > 95).cast("long").as("conv"))
      .groupBy(col("variant"), col("wk"))
      .agg(count(lit(1)).as("wn"), sum(col("conv")).as("wk_conv"))

  /** Monoid merge: appended partial tables → one row per (variant,
    * week). */
  def merge(partials: DataFrame): DataFrame =
    partials.groupBy(col("variant"), col("wk"))
      .agg(sum(col("wn")).as("wn"), sum(col("wk_conv")).as("wk_conv"))

  /** Week-boundary SPRT walk over merged weekly totals: running LLR at
    * each week end, plus the first crossing week and decision per
    * arm. The cumulative window runs over the WEEK frame (bounded by
    * the time span, never |events|). */
  def weeklyDecision(weekTotals: DataFrame): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val cum = W.partitionBy(col("variant")).orderBy(col("wk"))
    val walked = weekTotals
      .withColumn("n", sum(col("wn")).over(cum))
      .withColumn("k", sum(col("wk_conv")).over(cum))
      .withColumn("llr", col("k") * C1 + (col("n") - col("k")) * C0)
    val finals = walked.groupBy(col("variant"))
      .agg(max(col("n")).as("n_trials"), max(col("k")).as("n_conv"))
      .withColumn("llr_final_micro",
        col("n_conv") * C1 + (col("n_trials") - col("n_conv")) * C0)
    val crossers = walked
      .filter(col("llr") >= Bound || col("llr") <= -Bound)
      .select(col("variant"), col("wk"), col("llr"))
    val first = crossers.groupBy(col("variant"))
      .agg(min(col("wk")).as("cross_wk"))
    val at = crossers.as("c").join(first.as("f"),
        col("c.variant") === col("f.variant") &&
          col("c.wk") === col("f.cross_wk"))
      .select(col("f.variant").as("cv"), col("f.cross_wk").as("cross_wk"),
        col("c.llr").as("cross_llr_micro"))
    finals.join(at, col("variant") === col("cv"), "left")
      .select(col("variant"), col("n_trials"), col("n_conv"),
        col("llr_final_micro"), col("cross_wk"),
        col("cross_llr_micro"),
        when(col("cross_llr_micro") >= Bound, "accept_h1")
          .when(col("cross_llr_micro") <= -Bound, "accept_h0")
          .otherwise("continue").as("decision"))
  }
}
