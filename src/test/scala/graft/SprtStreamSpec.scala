package graft

import graft.streaming.SprtMonitor

/** Pins the streaming SPRT twin: per-micro-batch weekly partial
  * counters, appended through a REAL Structured Streaming query and
  * merged with the sum monoid, equal the one-pass weekly table exactly
  * — for any batch decomposition — and the week-boundary decision
  * derived from the merged state equals the batch decision. Also pins
  * consistency with q325: the final LLR (a pure function of the arm
  * totals) matches the batch replay's llr_final_micro per arm.
  */
class SprtStreamSpec extends SparkSpec {

  test("streamed weekly partials merge to the one-pass table and decision") {
    val events = Tables.load(spark, sf, "events")
    val srcDir = java.nio.file.Files
      .createTempDirectory("sprt-src").toString
    events.repartition(5).write.mode("overwrite").parquet(srcDir)
    val accDir = java.nio.file.Files
      .createTempDirectory("sprt-acc").toString

    var batches = 0
    val q = spark.readStream.schema(events.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
      .writeStream
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            _: Long) =>
          batches += 1
          SprtMonitor.weeklyPartials(batch.toDF())
            .write.mode("append").parquet(accDir): Unit
      }
      .start()
    q.processAllAvailable(); q.stop()
    assert(batches > 2, s"expected several micro-batches, got $batches")

    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[String]("variant"),
        r.getAs[Long]("wk")) ->
        (r.getAs[Long]("wn"), r.getAs[Long]("wk_conv"))).toMap
    val streamed = SprtMonitor.merge(spark.read.parquet(accDir))
    val direct = SprtMonitor.weeklyPartials(events)
    assert(key(streamed) == key(direct) && key(direct).nonEmpty,
      "merged micro-batch weekly counters must equal the one-pass table")

    def decisions(df: org.apache.spark.sql.DataFrame) =
      SprtMonitor.weeklyDecision(df).collect()
        .map(r => r.getAs[String]("variant") ->
          (r.getAs[String]("decision"), r.getAs[Long]("llr_final_micro")))
        .toMap
    assert(decisions(streamed) == decisions(direct))
  }

  test("final LLR agrees with q325's batch replay per arm") {
    val batch = graft.queries.Catalog.byName("q325_sprt_replay")
      .run(spark, sf).collect()
      .map(r => r.getAs[String]("variant") ->
        r.getAs[Long]("llr_final_micro")).toMap
    val weekly = SprtMonitor.weeklyDecision(
        SprtMonitor.weeklyPartials(Tables.load(spark, sf, "events")))
      .collect()
      .map(r => r.getAs[String]("variant") ->
        r.getAs[Long]("llr_final_micro")).toMap
    assert(batch == weekly && batch.nonEmpty,
      s"llr_final mismatch: batch=$batch weekly=$weekly")
  }
}
