package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Table loader for the driver-provided synthetic parquet tables
  * (TESTDATA.md). All queries take an `sfDir` so the same code runs at
  * any scale factor; at cluster scale these would be catalog tables or
  * object-store paths — the reads below push projection + predicates
  * into the parquet scan either way.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // events.parquet carries TIMESTAMP(NANOS), which vanilla Spark rejects;
    // read nanos as long and truncate to microseconds — the same value
    // DuckDB produces when it reads the nanos column as TIMESTAMP.
    if (name == "events")
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = spark.read.parquet(s"$sfDir/$name.parquet")
    // Normalize ts to TIMESTAMP (LTZ) whatever the file carries: nanos
    // read as long (legacy conf above), or plain micros that Spark 4
    // infers as TIMESTAMP_NTZ. The session timezone is UTC, so the
    // NTZ→LTZ cast is the identity on the wall-clock reading and the
    // instant-based functions (unix_micros, windows) keep working.
    if (name == "events" && df.schema("ts").dataType == LongType)
      df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else if (name == "events" && df.schema("ts").dataType == TimestampNTZType)
      df.withColumn("ts", col("ts").cast(TimestampType))
    else df
  }
}
