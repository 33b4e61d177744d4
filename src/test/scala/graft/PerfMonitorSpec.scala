package graft

import org.apache.spark.sql.functions._
import graft.monitoring.PerfMonitor

/** Pins the monitoring aggregator's order-statistic arithmetic and alert
  * rules (performance_monitor.py:74-157, 411-480, 542-575): median /
  * exclusive-p95 against values computed with CPython's statistics
  * module, the n <= 10 p95->max guard, alert severity escalation at the
  * 0.1 error-rate boundary, and the recommendation rule constants. */
class PerfMonitorSpec extends SparkSpec {
  import spark.implicits._

  private def arrDf(xs: Seq[Double]) =
    Seq(Tuple1(xs)).toDF("raw").select(sort_array(col("raw")).as("a"))

  private def one(c: org.apache.spark.sql.Column, xs: Seq[Double]): Double =
    arrDf(xs).select(c).head().getDouble(0)

  test("median matches statistics.median for odd and even n") {
    // statistics.median([7,1,5]) = 5; ([8,2,4,6]) = 5.0
    assert(one(PerfMonitor.medianOfSorted(col("a")), Seq(7.0, 1.0, 5.0)) == 5.0)
    assert(one(PerfMonitor.medianOfSorted(col("a")), Seq(8.0, 2.0, 4.0, 6.0)) == 5.0)
  }

  test("p95 matches statistics.quantiles(n=20, exclusive)[18] when n > 10") {
    // statistics.quantiles([1..14], n=20)[18] = 14.25: j clamps to 13 and
    // delta is recomputed AFTER the clamp (285 - 260 = 25), extrapolating
    // past the max — the CPython subtlety this formula must reproduce
    val d14 = (1 to 14).map(_.toDouble)
    assert(one(PerfMonitor.p95OfSorted(col("a")), d14) == 14.25)
    // statistics.quantiles([1..20], n=20)[18] = 19.95 (interior j = 19,
    // delta = 19: (19*1 + 20*19)/20)
    val d20 = (1 to 20).map(_.toDouble)
    assert(one(PerfMonitor.p95OfSorted(col("a")), d20) == 19.95)
  }

  test("p95 falls back to max when n <= 10, like the reference guard") {
    assert(one(PerfMonitor.p95OfSorted(col("a")), Seq(3.0, 9.0, 1.0)) == 9.0)
  }

  private def metrics(rows: (Long, Double, String, Int, Int, Long, Long)*) =
    rows.toDF("sec", "exec_ms", "query_type", "is_error", "cache_hit",
        "result_count", "query_id")
      .withColumn("ts", col("sec").cast("timestamp"))

  test("queryStats aggregates one window faithfully") {
    val m = metrics(
      (10L, 100.0, "search", 0, 1, 5L, 1L),
      (20L, 300.0, "search", 0, 0, 7L, 2L),
      (30L, 200.0, "agg", 1, 0, 0L, 3L))
    val r = PerfMonitor.queryStats(m, 3600L).head()
    assert(r.getAs[Long]("total_queries") == 3L)
    assert(r.getAs[Double]("avg_time_ms") == 200.0)
    assert(r.getAs[Double]("median_time_ms") == 200.0)
    assert(r.getAs[Double]("p95_time_ms") == 300.0) // n <= 10 -> max
    assert(r.getAs[Double]("cache_hit_rate") == math.rint(1.0 / 3 * 1e6) / 1e6)
    assert(r.getAs[Double]("error_rate") == math.rint(1.0 / 3 * 1e6) / 1e6)
    assert(r.getAs[Double]("qps") == math.rint(3.0 / 3600 * 1e6) / 1e6)
  }

  test("queryStatsRanked equals the array form on mixed-parity windows") {
    // three windows: n=3 (odd, p95->max), n=4 (even median), n=12 (>10,
    // interpolated p95) — deterministic value grids
    val rows =
      (1 to 3).map(i => (i * 7L, i * 10.0, 0, i % 2, i.toLong, i.toLong)) ++
      (1 to 4).map(i => (3600L + i * 7L, i * 5.0, i % 3 min 1, 0, i.toLong, 10L + i)) ++
      (1 to 12).map(i => (7200L + i * 7L, i * 3.5, 0, 1, i.toLong, 20L + i))
    val m = rows
      .toDF("sec", "exec_ms", "is_error", "cache_hit", "result_count", "query_id")
      .withColumn("ts", col("sec").cast("timestamp"))
    val a = PerfMonitor.queryStats(m, 3600L).orderBy("window_start").collect()
    val b = PerfMonitor.queryStatsRanked(m, 3600L).orderBy("window_start").collect()
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
  }

  test("queryStatsRanked equals the array form on the real events feed") {
    val m = Tables.load(spark, "/root/testdata/sf0.001", "events")
      .select(col("ts"), col("value").as("exec_ms"),
        (col("event_type") === "error").cast("int").as("is_error"),
        (col("user_id") % 3 === 0).cast("int").as("cache_hit"),
        get_json_object(col("props"), "$.k").cast("long").as("result_count"))
    val a = PerfMonitor.queryStats(m, 3600L).orderBy("window_start").collect()
    val b = PerfMonitor.queryStatsRanked(m, 3600L).orderBy("window_start").collect()
    assert(a.length > 100 && a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
  }

  test("ingestionStats: error rate over items, zero-time throughput guard") {
    val m = Seq(
      (10L, 100L, 2000.0, 1L, 50.0),   // 100 items in 2s -> 50/s, 1 error
      (20L, 300L, 0.0, 0L, 0.0))       // proc_ms = 0 -> throughput 0
      .toDF("sec", "items", "proc_ms", "err_count", "throughput")
      .withColumn("ts", col("sec").cast("timestamp"))
    val r = PerfMonitor.ingestionStats(m, 3600L).head()
    assert(r.getAs[Long]("total_operations") == 2L)
    assert(r.getAs[Long]("total_items") == 400L)
    assert(r.getAs[Double]("avg_throughput") == 25.0)
    assert(r.getAs[Double]("peak_throughput") == 50.0)
    assert(r.getAs[Long]("total_errors") == 1L)
    assert(r.getAs[Double]("error_rate") == 0.0025)
  }

  test("resourceStats completes the aggregator trio") {
    val m = Seq(
      (10L, 50.0, 40.0, 512.0),
      (20L, 90.0, 80.0, 1024.0))
      .toDF("sec", "cpu_percent", "memory_percent", "memory_used_mb")
      .withColumn("ts", col("sec").cast("timestamp"))
    val r = PerfMonitor.resourceStats(m, 3600L).head()
    assert(r.getAs[Long]("sample_count") == 2L)
    assert(r.getAs[Double]("cpu_avg") == 70.0)
    assert(r.getAs[Double]("cpu_max") == 90.0)
    assert(r.getAs[Double]("cpu_p95") == 90.0) // n <= 10 -> max
    assert(r.getAs[Double]("mem_avg_percent") == 60.0)
    assert(r.getAs[Double]("mem_max_used_mb") == 1024.0)
  }

  test("alerts: slow-query warnings skip error rows; severity escalates at 0.1") {
    // window A (sec 0..): 1 error in 8 -> er = 0.125 > 0.1 -> critical
    // window B (sec 7200..): 1 error in 16 -> er = 0.0625 -> warning
    // slow rows: 6000ms ok row alerts; 7000ms error row must NOT
    val winA = (1 to 7).map(i => (i * 10L, 50.0, "q", 0, 0, 1L, 100L + i)) :+
      ((80L, 7000.0, "q", 1, 0, 1L, 108L))
    val winB = (1 to 15).map(i => (7200L + i, 50.0, "q", 0, 0, 1L, 200L + i)) :+
      ((7290L, 6000.0, "q", 1, 0, 1L, 216L))
    // an extra non-error slow row in window B
    val m = metrics((winA ++ winB :+ ((7295L, 6000.0, "q", 0, 0, 1L, 217L))): _*)
    val a = PerfMonitor.alerts(m, 3600L).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(4))).sorted
    assert(a.toSeq == Seq(
      ("query_error_rate", "critical", "0"),
      ("query_error_rate", "warning", "7200"),
      ("query_performance", "warning", "217")))
  }

  test("recommendations fire on the reference's rule constants") {
    val stats = Seq(
      // low cache hits + elevated errors -> two rules
      (0L, 500.0, 0.2, 0.02),
      // slow average only
      (3600L, 1500.0, 0.9, 0.0),
      // healthy -> nothing
      (7200L, 100.0, 0.9, 0.0))
      .toDF("window_start", "avg_time_ms", "cache_hit_rate", "error_rate")
    val r = PerfMonitor.recommendations(stats).collect()
      .map(x => (x.getLong(0), x.getString(1))).sorted
    assert(r.toSeq == Seq(
      (0L, "optimize_query_caching"),
      (0L, "review_error_handling"),
      (3600L, "optimize_query_patterns")))
  }
}
