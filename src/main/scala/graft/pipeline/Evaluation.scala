package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.ExactRound

/** Binary-classifier evaluation — the eval leg a pipeline runs before
  * trusting a learned filter (the q173 quality classifier): exact
  * ROC-AUC via the Mann–Whitney rank statistic plus the 0.5-threshold
  * confusion metrics. No reference counterpart (the reference never
  * evaluates its scoring heuristics); standard public methodology
  * (Hanley & McNeil 1982's AUC = U/(n⁺·n⁻), with the tie convention
  * counting ½ per tied positive–negative pair).
  *
  * Scale shape: one groupBy collapses the corpus to a per-distinct-
  * score histogram — scores are micro-quantized longs in [0, 1e6], so
  * every downstream frame is VALUE-bounded at 1,000,001 rows
  * regardless of corpus size, and the single unpartitioned window runs
  * over that bounded grid, never the corpus (the q134 bounded-frame
  * precedent).
  *
  * Determinism contract: every reported ratio is a ratio of exact
  * integer counts pushed through [[ExactRound]]'s pure-integer
  * half-up rounding, so both engines materialize identical doubles.
  * The pair statistic u2 counts 2 per strictly-ordered positive–
  * negative pair and 1 per tie (AUC = u2 / (2·n⁺·n⁻) without any
  * fractional intermediate). Long-range contract: u2·2e6 must fit a
  * long, i.e. n⁺·n⁻ ≤ ~2.3e12 — beyond that (≈1.5M×1.5M), evaluate on
  * a stratified sample first (an EVAL set, not the corpus, is the
  * input by design).
  */
object Evaluation {

  private val HalfMicro = 500000L

  /** Long-form (metric, value) report over a frame with columns
    * `score_micro` (long, [0, 1e6]) and `y` (long, 0/1):
    * auc, n_pos, n_neg, and precision/recall/f1/accuracy at the 0.5
    * threshold (predicted positive ⟺ score_micro ≥ 500000). Empty or
    * one-class inputs report 0.0 for the undefined ratios. */
  def binaryMetrics(scored: DataFrame): DataFrame = {
    val hist = scored.groupBy(col("score_micro"))
      .agg(sum(col("y")).as("p"), sum(lit(1L) - col("y")).as("n"))
    val asc = Window.orderBy(col("score_micro"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist.withColumn("cn", sum(col("n")).over(asc) - col("n"))
    val agg = cum.agg(
      coalesce(sum(col("p")), lit(0L)).as("np"),
      coalesce(sum(col("n")), lit(0L)).as("nn"),
      coalesce(sum(col("p") * (col("cn") * lit(2L) + col("n"))), lit(0L))
        .as("u2"),
      coalesce(sum(when(col("score_micro") >= HalfMicro, col("p"))
        .otherwise(0L)), lit(0L)).as("tp"),
      coalesce(sum(when(col("score_micro") >= HalfMicro, col("n"))
        .otherwise(0L)), lit(0L)).as("fp"))
    def safe(num: Column, den: Column): Column =
      when(den === 0L, lit(0.0)).otherwise(ExactRound.ratio6(num, den))
    val m = agg.select(
      safe(col("u2"), col("np") * col("nn") * lit(2L)).as("auc"),
      col("np").cast("double").as("n_pos"),
      col("nn").cast("double").as("n_neg"),
      safe(col("tp"), col("tp") + col("fp")).as("prec_05"),
      safe(col("tp"), col("np")).as("rec_05"),
      safe(col("tp") * lit(2L),
        col("tp") + col("fp") + col("np")).as("f1_05"),
      safe(col("tp") + col("nn") - col("fp"), col("np") + col("nn"))
        .as("acc_05"))
    m.select(explode(array(
        struct(lit("acc_05").as("metric"), col("acc_05").as("value")),
        struct(lit("auc").as("metric"), col("auc").as("value")),
        struct(lit("f1_05").as("metric"), col("f1_05").as("value")),
        struct(lit("n_neg").as("metric"), col("n_neg").as("value")),
        struct(lit("n_pos").as("metric"), col("n_pos").as("value")),
        struct(lit("prec_05").as("metric"), col("prec_05").as("value")),
        struct(lit("rec_05").as("metric"), col("rec_05").as("value"))))
        .as("kv"))
      .select(col("kv.metric").as("metric"), col("kv.value").as("value"))
      .orderBy(col("metric"))
  }

  /** DuckDB oracle twin: a full SELECT over relation `src`, which must
    * expose columns `score_micro` and `y` — same histogram, same pair
    * statistic, same integer rounding, iteration for iteration. `ma` is
    * MATERIALIZED because DuckDB inlines a CTE into each of its seven
    * readers, and q175's `src` is a deep training chain. */
  object sql {
    def binaryMetricsSelect(src: String): String =
      s"""SELECT metric, value FROM (
         |  WITH mh AS (
         |    SELECT score_micro, CAST(sum(y) AS BIGINT) AS p,
         |      CAST(sum(1 - y) AS BIGINT) AS n
         |    FROM $src GROUP BY 1),
         |  mc AS (
         |    SELECT score_micro, p, n,
         |      CAST(sum(n) OVER (ORDER BY score_micro
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n
         |        AS BIGINT) AS cn
         |    FROM mh),
         |  ma AS MATERIALIZED (
         |    SELECT COALESCE(CAST(sum(p) AS BIGINT), 0) AS np,
         |      COALESCE(CAST(sum(n) AS BIGINT), 0) AS nn,
         |      COALESCE(CAST(sum(p * (2 * cn + n)) AS BIGINT), 0) AS u2,
         |      COALESCE(CAST(sum(CASE WHEN score_micro >= $HalfMicro
         |        THEN p ELSE 0 END) AS BIGINT), 0) AS tp,
         |      COALESCE(CAST(sum(CASE WHEN score_micro >= $HalfMicro
         |        THEN n ELSE 0 END) AS BIGINT), 0) AS fp
         |    FROM mc)
         |  SELECT 'auc' AS metric, CASE WHEN np * nn = 0 THEN 0.0
         |    ELSE ${ExactRound.sql.ratio6("u2", "np * nn * 2")} END AS value
         |  FROM ma
         |  UNION ALL SELECT 'n_pos', CAST(np AS DOUBLE) FROM ma
         |  UNION ALL SELECT 'n_neg', CAST(nn AS DOUBLE) FROM ma
         |  UNION ALL SELECT 'prec_05', CASE WHEN tp + fp = 0 THEN 0.0
         |    ELSE ${ExactRound.sql.ratio6("tp", "tp + fp")} END FROM ma
         |  UNION ALL SELECT 'rec_05', CASE WHEN np = 0 THEN 0.0
         |    ELSE ${ExactRound.sql.ratio6("tp", "np")} END FROM ma
         |  UNION ALL SELECT 'f1_05', CASE WHEN tp + fp + np = 0 THEN 0.0
         |    ELSE ${ExactRound.sql.ratio6("tp * 2", "tp + fp + np")} END
         |  FROM ma
         |  UNION ALL SELECT 'acc_05', CASE WHEN np + nn = 0 THEN 0.0
         |    ELSE ${ExactRound.sql.ratio6("tp + nn - fp", "np + nn")} END
         |  FROM ma) t
         |ORDER BY metric""".stripMargin
  }
}
