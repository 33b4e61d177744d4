package graft

import graft.pipeline.Datasheet
import graft.queries.Catalog

/** Pins the incremental datasheet twin: micro-batch partials appended
  * per trigger render the EXACT q150 batch card (same rows, same
  * rounded values) for any batch decomposition, and render is
  * insensitive to compaction. */
class DatasheetStreamSpec extends SparkSpec {

  test("streamed partials render the exact q150 datasheet") {
    val docs = Tables.load(spark, sf, "documents")
    val srcDir = java.nio.file.Files.createTempDirectory("ds-src").toString
    docs.repartition(5).write.mode("overwrite").parquet(srcDir)
    val accDir = java.nio.file.Files.createTempDirectory("ds-acc").toString

    var batches = 0
    val schema = docs.schema
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
      .writeStream
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            _: Long) =>
          batches += 1
          Datasheet.partials(batch.toDF())
            .write.mode("append").parquet(accDir): Unit
      }
      .start()
    q.processAllAvailable(); q.stop()
    assert(batches > 2, s"expected several micro-batches, got $batches")

    val state = spark.read.parquet(accDir)
    val streamed = Datasheet.render(state).collect().map(_.toSeq).toSeq
    val batchCard = Catalog.byName("q150_corpus_datasheet")
      .run(spark, sf).collect().map(_.toSeq).toSeq
    assert(streamed == batchCard,
      "streamed state must render the exact batch datasheet")

    // compaction is a no-op for render
    val compacted = Datasheet.render(Datasheet.compact(state))
      .collect().map(_.toSeq).toSeq
    assert(compacted == streamed)
  }
}
