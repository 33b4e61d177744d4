package graft

import org.apache.spark.sql.SparkSession

/** Recommended session configuration for the engine, in one place.
  *
  * The same settings scale from local[N] to a cluster: AQE owns runtime
  * re-planning (partition coalescing, skew-join splitting — the salting
  * in our similarity joins handles the key-skew AQE can't), shuffle
  * partition count tracks parallelism rather than the 200 default, and
  * graft's native SQL functions are registered up front.
  *
  * Generated code is compiled once per JVM, not once per session.
  * Spark caches each compiled class under (context class loader, code),
  * and with artifact isolation on, each session's tasks run under that
  * session's own class loader, so every `newSession()` recompiled every
  * class the JVM had already compiled. graft adds no session artifacts
  * (no jars, files or classes), so isolation is off and all sessions
  * share one loader. The cache holds [[CodegenCacheEntries]] classes,
  * not Spark's 100, so a pass over the headliners does not evict its
  * own classes (docs/TUNING.md, "Code generation across sessions").
  */
object GraftSession {

  /** `spark.sql.codegen.cache.maxEntries`: about 3× the 1,331 classes
    * one JVM compiles with no cap over the 4 ingest builds and two
    * passes of the 49 headliners at sf0.01. */
  val CodegenCacheEntries = 4096

  def builder(appName: String = "graft", master: Option[String] = None,
      shufflePartitions: Int = Runtime.getRuntime.availableProcessors())
      : SparkSession.Builder = {
    val b = SparkSession.builder()
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries",
        CodegenCacheEntries.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // early events files carry TIMESTAMP(NANOS), which Spark rejects
      // unless it reads them as long (Tables.load); other columns read
      // the same either way
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    master.map(b.master).getOrElse(b)
  }

  /** Silence two audited WARN streams for batch mains. The
    * partitionless-window WARN: every such catalog site is a bounded
    * frame pinned by PlanShapeSpec's window allowlist, and in round 9
    * the spam pushed Bench's stdout result line out of the driver's
    * tail buffer. `RDD.unpersist`'s WARN for each released local
    * checkpoint (logger `MapPartitionsRDD`): Bench prints one
    * released-block count per query instead. Spec/interactive sessions
    * keep the default level. */
  def quietAuditedWarnings(): Unit =
    try Seq("org.apache.spark.sql.execution.window",
        "org.apache.spark.rdd.MapPartitionsRDD").foreach(
      org.apache.logging.log4j.core.config.Configurator.setLevel(_,
        org.apache.logging.log4j.Level.ERROR))
    catch { case _: Throwable => () }

  /** The mains' core count: SPARK_GRAFT_CPUS, nproc when that is unset. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** The dev mains' session: local[N] with N = [[cpus]], UI off, graft SQL
    * functions registered, WARN logging with the audited warnings
    * quiet. */
  def local(appName: String): SparkSession = {
    val n = cpus
    val spark = builder(appName, Some(s"local[$n]"), n)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    GraftExtensions.register(spark)
    spark.sparkContext.setLogLevel("WARN")
    quietAuditedWarnings()
    spark
  }

  /** Build (or reuse) the session and register graft SQL functions. */
  def get(appName: String = "graft", master: Option[String] = None,
      shufflePartitions: Int = Runtime.getRuntime.availableProcessors())
      : SparkSession = {
    val spark = builder(appName, master, shufflePartitions).getOrCreate()
    GraftExtensions.register(spark)
    spark
  }
}
