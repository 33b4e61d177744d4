package graft

import java.util.concurrent.ConcurrentHashMap
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType,
  TimestampType}

/** Table loader for the driver-provided synthetic parquet tables
  * (TESTDATA.md). All queries take an `sfDir` so the same code runs at
  * any scale factor; at cluster scale these would be catalog tables or
  * object-store paths — the reads below push projection + predicates
  * into the parquet scan either way.
  *
  * Inferring a parquet schema launches a Spark job, even for one file.
  * The loader keeps the schema it inferred for each table path and set
  * of explicitly set parquet confs, JVM-wide, with the version of the
  * files it was inferred from: every file's (path, length, mtime) under
  * the path. A load at the same version reads with that schema and
  * launches no job; any other version infers again and replaces the
  * entry. The confs are part of the key, not of the version: a session
  * that reads nanos timestamps as long infers a different schema from
  * the same files.
  *
  * The loader sets no conf on the caller's session. Early events files
  * carry `ts` as TIMESTAMP(NANOS), which vanilla Spark rejects; every
  * session built by [[GraftSession.builder]] reads such a column as long
  * (`spark.sql.legacy.parquet.nanosAsLong`), and the loader truncates it
  * to micros.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private final case class Inferred(files: Seq[(String, Long, Long)],
      schema: StructType)

  /** (qualified table path, parquet confs) -> its last inferred schema. */
  private val inferred =
    new ConcurrentHashMap[(String, Map[String, String]), Inferred]()

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = read(spark, s"$sfDir/$name.parquet")
    // Normalize ts to TIMESTAMP (LTZ) whatever the file carries: nanos
    // read as long, truncated to microseconds (the same value DuckDB
    // produces when it reads the nanos column as TIMESTAMP), or plain
    // micros that Spark 4 infers as TIMESTAMP_NTZ. The session timezone
    // is UTC, so the NTZ→LTZ cast is the identity on the wall-clock
    // reading and the instant-based functions (unix_micros, windows)
    // keep working.
    if (name == "events" && df.schema("ts").dataType == LongType)
      df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else if (name == "events" && df.schema("ts").dataType == TimestampNTZType)
      df.withColumn("ts", col("ts").cast(TimestampType))
    else df
  }

  /** `spark.read.parquet(path)`, with the schema inferred once per
    * version of the path's files and parquet confs. */
  private def read(spark: SparkSession, path: String): DataFrame = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a missing path lists nothing and misses, so the read below fails
    // with Spark's own error
    val files = try {
      val it = fs.listFiles(p, true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
        .toSeq.sorted
    } catch { case _: java.io.FileNotFoundException => Nil }
    val key = (fs.makeQualified(p).toString,
      spark.conf.getAll.filter(_._1.contains("parquet")))
    Option(inferred.get(key)).filter(_.files == files) match {
      case Some(e) => spark.read.schema(e.schema).parquet(path)
      case None =>
        val df = spark.read.parquet(path)
        inferred.put(key, Inferred(files, df.schema))
        df
    }
  }
}
