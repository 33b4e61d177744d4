package graft

import graft.sketch.DailyHll

/** Pins the daily-HLL streaming twin behind q344: per-micro-batch
  * register partials, appended through a REAL Structured Streaming
  * query and merged with register max, equal the one-pass daily table
  * exactly — for any batch decomposition (max monoid) — and merging
  * is idempotent (re-delivered batches change nothing, the exactly-
  * once-free property sketch pipelines rely on).
  */
class DailyHllStreamSpec extends SparkSpec {

  private def key(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getAs[Long]("day"), r.getAs[Long]("j")) ->
      r.getAs[Long]("r")).toMap

  test("streamed daily register partials merge to the one-pass table") {
    val events = Tables.load(spark, sf, "events")
    val srcDir = java.nio.file.Files
      .createTempDirectory("dhll-src").toString
    events.repartition(5).write.mode("overwrite").parquet(srcDir)
    val accDir = java.nio.file.Files
      .createTempDirectory("dhll-acc").toString

    var batches = 0
    val q = spark.readStream.schema(events.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
      .writeStream
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            _: Long) =>
          batches += 1
          DailyHll.dailyRegisters(batch.toDF())
            .write.mode("append").parquet(accDir): Unit
      }
      .start()
    q.processAllAvailable(); q.stop()
    assert(batches > 2, s"expected several micro-batches, got $batches")

    val streamed = DailyHll.merge(spark.read.parquet(accDir))
    val direct = DailyHll.dailyRegisters(events)
    assert(key(streamed) == key(direct) && key(direct).nonEmpty)

    // idempotence: re-delivering every batch leaves the state fixed
    val doubled = DailyHll.merge(spark.read.parquet(accDir)
      .unionByName(spark.read.parquet(accDir)))
    assert(key(doubled) == key(direct))
  }
}
