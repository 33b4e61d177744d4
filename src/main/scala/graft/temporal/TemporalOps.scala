package graft.temporal

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Temporal / trend / statistical operators (SURVEY.md §2.7) — the
  * reference's driver-side series analysis (synthesis/insight_discovery
  * .py) as distributed window/aggregate plans. Series are grouped by a
  * key column so every window is partitioned (no global single-partition
  * windows in the hot path).
  */
object TemporalOps {

  /** Daily bucketing + cumulative counts (insight_discovery.py:1062-1129). */
  def dailySeries(events: DataFrame, keyCol: String, tsCol: String): DataFrame = {
    val w = Window.partitionBy(col("k")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .select(col(keyCol).as("k"), date_format(col(tsCol), "yyyy-MM-dd").as("day"))
      .groupBy(col("k"), col("day")).agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum(col("cnt")).over(w))
  }

  /** OLS slope + direction thresholds ±0.1 + strength |slope|·n/range
    * capped at 1 (insight_discovery.py:1130-1167), via the regr_slope
    * aggregate over (index, value) series. */
  def trend(series: DataFrame, keyCol: String, idxCol: String,
      valCol: String): DataFrame =
    series.groupBy(col(keyCol))
      .agg(regr_slope(col(valCol).cast("double"), col(idxCol).cast("double")).as("slope"),
        count(lit(1)).as("n"),
        (max(col(valCol)) - min(col(valCol))).cast("double").as("rng"))
      .withColumn("direction",
        when(col("slope") > 0.1, lit("increasing"))
          .when(col("slope") < -0.1, lit("decreasing"))
          .otherwise(lit("stable")))
      .withColumn("strength",
        when(col("rng") > 0,
          least(abs(col("slope")) * col("n") / col("rng"), lit(1.0)))
          .otherwise(lit(0.0)))

  /** Sudden-change detection: |avg(after) − avg(before)| / avg(before)
    * > ratio over sliding before/after windows (insight_discovery
    * .py:1307-1345). */
  def suddenChanges(series: DataFrame, keyCol: String, idxCol: String,
      valCol: String, w: Int, ratio: Double): DataFrame = {
    val part = Window.partitionBy(col(keyCol)).orderBy(col(idxCol))
    val before = avg(col(valCol)).over(part.rowsBetween(-w, -1))
    val after = avg(col(valCol)).over(part.rowsBetween(0, w - 1))
    series
      .withColumn("avg_before", before)
      .withColumn("avg_after", after)
      .filter(col("avg_before").isNotNull && col("avg_before") > 0)
      .withColumn("change_ratio",
        abs(col("avg_after") - col("avg_before")) / col("avg_before"))
      .filter(col("change_ratio") > ratio)
  }

  /** Lag-L autocorrelation per key (insight_discovery.py:1269-1288):
    * corr(x_t, x_{t-L}) via a lag window + corr aggregate. */
  def autocorrelation(series: DataFrame, keyCol: String, idxCol: String,
      valCol: String, lags: Seq[Int]): DataFrame = {
    val part = Window.partitionBy(col(keyCol)).orderBy(col(idxCol))
    val withLags = lags.foldLeft(series) { (df, l) =>
      df.withColumn(s"lag$l", lag(col(valCol), l).over(part))
    }
    val aggs = lags.map(l => corr(col(valCol), col(s"lag$l")).as(s"ac$l"))
    withLags.groupBy(col(keyCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** Per-phase cycle amplitude at fixed candidate periods
    * (insight_discovery.py:1289-1306): mean value per phase position
    * (idx mod period), amplitude = max − min of the phase means — the
    * reference's cycle-strength measure that accompanies the
    * autocorrelation score (:1243-1267). One aggregate per period, each
    * map-side combinable. */
  def cycleAmplitude(series: DataFrame, keyCol: String, idxCol: String,
      valCol: String, periods: Seq[Int]): DataFrame = {
    require(periods.nonEmpty, "cycleAmplitude needs at least one period")
    periods.map { p =>
      series.groupBy(col(keyCol), (col(idxCol) % p).as("phase"))
        .agg(avg(col(valCol)).as("m"))
        .groupBy(col(keyCol))
        .agg((max(col("m")) - min(col("m"))).as(s"amp$p"))
    }.reduce((a, b) => a.join(b, keyCol))
  }

  /** IQR outliers: outside [Q1 − 1.5·IQR, Q3 + 1.5·IQR]
    * (insight_discovery.py:1793-1823), with z-score/5 severity capped 1
    * (:1824-1842). Exact interpolated percentiles (not approx) so the
    * bounds are reproducible. */
  def iqrOutliers(series: DataFrame, keyCol: String,
      valCol: String): DataFrame = {
    val stats = series.groupBy(col(keyCol)).agg(
      percentile(col(valCol), lit(0.25)).as("q1"),
      percentile(col(valCol), lit(0.75)).as("q3"),
      avg(col(valCol)).as("mu"),
      stddev(col(valCol)).as("sigma"))
    series.join(stats, keyCol)
      .withColumn("iqr", col("q3") - col("q1"))
      .filter(col(valCol) < col("q1") - lit(1.5) * col("iqr") ||
        col(valCol) > col("q3") + lit(1.5) * col("iqr"))
      .withColumn("severity",
        when(col("sigma") > 0,
          least(abs(col(valCol) - col("mu")) / col("sigma") / 5, lit(1.0)))
          .otherwise(lit(0.0)))
  }

  /** Compound growth rate over the cumulative series per key
    * (insight_discovery.py:1168-1184): (last/first)^(1/(n−1)) − 1 over
    * the per-day cumulative counts. One aggregate pass. */
  def growthRate(daily: DataFrame, keyCol: String, dayCol: String,
      cumCol: String): DataFrame =
    daily.groupBy(col(keyCol)).agg(
        min_by(col(cumCol), col(dayCol)).cast("double").as("first_cum"),
        max_by(col(cumCol), col(dayCol)).cast("double").as("last_cum"),
        count(lit(1)).as("n_days"))
      .withColumn("growth_rate",
        when(col("n_days") > 1 && col("first_cum") > 0,
          pow(col("last_cum") / col("first_cum"),
            lit(1.0) / (col("n_days") - 1)) - 1)
          .otherwise(lit(0.0)))

  /** Monotone-decreasing runs (insight_discovery.py:1185-1242): a lag
    * window flags declining steps, a running sum of the non-decline flag
    * assigns run ids, and runs of ≥ minLen declining steps survive. */
  def declinePeriods(series: DataFrame, keyCol: String, idxCol: String,
      valCol: String, minLen: Int): DataFrame = {
    val part = Window.partitionBy(col(keyCol)).orderBy(col(idxCol))
    series
      .withColumn("prev", lag(col(valCol), 1).over(part))
      .withColumn("declining",
        when(col("prev").isNotNull && col(valCol) < col("prev"), 1).otherwise(0))
      .withColumn("run_id",
        sum(lit(1) - col("declining")).over(
          part.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("declining") === 1)
      .groupBy(col(keyCol), col("run_id"))
      .agg(min(col(idxCol)).as("start_idx"), max(col(idxCol)).as("end_idx"),
        count(lit(1)).as("len"),
        max(col("prev")).cast("double").as("peak"))
      .filter(col("len") >= minLen)
      .drop("run_id")
  }

  /** Apriori-lite frequent pairs (insight_discovery.py:563-589): tokens
    * with document-frequency ≥ minSupport, then co-occurring pairs within
    * documents counted and thresholded. Token filter first keeps the
    * per-doc self-join small. */
  def frequentPairs(docTokens: DataFrame, minSupport: Long,
      minPairSupport: Long): DataFrame = {
    val freq = docTokens.groupBy(col("tok"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") >= minSupport)
      .select(col("tok"))
    val ft = docTokens.join(freq, "tok")
    val a = ft.select(col("doc"), col("tok").as("a_tok"))
    val b = ft.select(col("doc"), col("tok").as("b_tok"))
    a.join(b, "doc")
      .filter(col("a_tok") < col("b_tok"))
      .groupBy(col("a_tok"), col("b_tok"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= minPairSupport)
  }
}
