package graft

import java.util.concurrent.atomic.AtomicLongArray
import scala.collection.immutable.ListMap
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import graft.engine.{Lineage, QueryExplainer, SessionCache}
import graft.queries.{Catalog, Q}

/** Dev profiler: times catalog queries and ingest artifact builds in
  * one session, with listener counters per run, and explains each query
  * from its executed plan.
  *
  * Usage: runMain graft.Profile <sfDir> <name>... [--runs N]
  *
  * A name is a catalog query, an artifact of [[Artifacts.all]] or an
  * artifact group. Every name resolves before any Spark work; an
  * unknown one fails the run. Artifact names are profiled first: each
  * run drops the session's artifacts, then builds every named one
  * through `Artifacts.warm`. Before its timer starts, every artifact
  * declared before it in [[Artifacts.all]] (before a group's first
  * member) is warmed, so a record's time, jobs and builds are the named
  * artifact's own. Queries run next, after `Artifacts.warm` of the
  * named groups (of every group when none is named; a query that reads
  * an artifact left unwarmed builds it in its first run), with
  * transient blocks released after each run, as Bench does. Runs are
  * interleaved: run i of every name, then run i + 1.
  *
  * Each run is one record: wall seconds and the listener's counts of
  * jobs, tasks, executor run and GC time, disk and memory spill,
  * shuffle-write time and bytes, and shuffle fetch wait. It also holds
  * the classes Spark compiled during the run and the seconds spent
  * compiling them: deltas of JVM-wide counters, so other work in the
  * JVM during the run counts too. For each query the report prints the
  * formatted executed plan and the QueryExplainer digest of its last
  * run. The last stdout line is every record as one JSON object.
  */
object Profile {

  /** One timed run of one name; `builds` holds the seconds of each
    * artifact build (empty for a query). */
  final case class Record(name: String, kind: String, run: Int,
      wallS: Double, counters: ListMap[String, Long],
      codegenCompiles: Long, codegenS: Double,
      builds: Seq[(String, Double)])

  /** Resolved arguments: artifact names and groups, then queries. */
  final case class Plan(sfDir: String, artifacts: Seq[String],
      queries: Seq[Q], runs: Int)

  val CounterKeys: Seq[String] = Seq("jobs", "tasks", "executor_run_ms",
    "gc_ms", "spill_disk_bytes", "spill_memory_bytes", "shuffle_write_ms",
    "shuffle_write_bytes", "fetch_wait_ms")

  private val Usage = "usage: Profile <sfDir> <name>... [--runs N]"

  /** Resolves `args` without touching Spark. */
  def parse(args: Seq[String]): Plan = {
    val at = args.indexOf("--runs")
    val runs = if (at < 0) 2 else {
      val n = args.lift(at + 1).flatMap(_.toIntOption).filter(_ >= 1)
      require(n.isDefined, s"--runs takes a positive count; $Usage")
      n.get
    }
    val rest = if (at < 0) args else args.patch(at, Nil, 2)
    require(rest.size >= 2, Usage)
    val artifactNames = (Artifacts.groups ++ Artifacts.all.map(_.name)).toSet
    val names = rest.tail.distinct
    val unknown = names.filterNot(n =>
      artifactNames(n) || Catalog.byName.contains(n))
    require(unknown.isEmpty, s"unknown name(s): ${unknown.mkString(", ")}" +
      " (not a catalog query, an artifact or an artifact group)")
    Plan(rest.head, names.filter(artifactNames),
      names.flatMap(Catalog.byName.get), runs)
  }

  /** Task and job counts since the last [[take]]. */
  private final class Counters extends SparkListener {
    private val n = new AtomicLongArray(CounterKeys.size)
    override def onJobStart(e: SparkListenerJobStart): Unit =
      n.incrementAndGet(0): Unit
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(e.taskMetrics).foreach { m =>
        Seq(1L, m.executorRunTime, m.jvmGCTime, m.diskBytesSpilled,
          m.memoryBytesSpilled, m.shuffleWriteMetrics.writeTime / 1000000L,
          m.shuffleWriteMetrics.bytesWritten,
          m.shuffleReadMetrics.fetchWaitTime)
          .zipWithIndex.foreach { case (v, i) => n.addAndGet(i + 1, v) }
      }
    def take(): ListMap[String, Long] = ListMap(CounterKeys.indices
      .map(i => CounterKeys(i) -> n.getAndSet(i, 0L)): _*)
  }

  /** Profiles `plan` on `spark`, printing the report to stdout, and
    * returns one record per name and run. */
  def run(spark: SparkSession, plan: Plan): Seq[Record] = {
    val sc = spark.sparkContext
    val dir = plan.sfDir
    val counters = new Counters
    sc.addSparkListener(counters)
    def measured[T](name: String, kind: String, run: Int)(body: => T)
        : (T, Record) = {
      GraftBridge.drainListeners(sc)
      counters.take(): Unit
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val compileNs0 = CodeGenerator.compileTime
      val t0 = System.nanoTime()
      val out = body
      val wall = (System.nanoTime() - t0) / 1e9
      GraftBridge.drainListeners(sc)
      (out, Record(name, kind, run, wall, counters.take(),
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0,
        (CodeGenerator.compileTime - compileNs0) / 1e9, Nil))
    }
    def report(r: Record): Record = {
      println(f"[profile] ${r.name}%-28s run ${r.run}: ${r.wallS}%8.2f s " +
        r.counters.map { case (k, v) => s"$k=$v" }.mkString(" ") +
        f" codegen_compiles=${r.codegenCompiles} codegen_s=${r.codegenS}%.2f" +
        r.builds.map { case (a, s) => f" $a=$s%.2fs" }.mkString)
      r
    }
    try {
      Tables.names.foreach(n => Tables.load(spark, dir, n).count())
      val base = Lineage.persistentIds(spark)
      val builds = if (plan.artifacts.isEmpty) Nil else
        (1 to plan.runs).flatMap { run =>
          SessionCache.invalidate(spark)
          Lineage.releaseTransient(spark, base, blocking = true): Unit
          plan.artifacts.map { n =>
            Artifacts.warm(spark, dir, Artifacts.all
              .takeWhile(a => a.name != n && a.group != n).map(_.name)): Unit
            val (built, r) = measured(n, "artifact", run)(
              Artifacts.warm(spark, dir, Seq(n)))
            report(r.copy(builds = built.map { case (a, s) => a.name -> s }))
          }
        }
      if (plan.queries.nonEmpty) {
        val groups = plan.artifacts.filter(Artifacts.groups.contains)
        Artifacts.warm(spark, dir,
          if (groups.isEmpty) Artifacts.groups else groups): Unit
      }
      val keep = Lineage.persistentIds(spark)
      val queries = (1 to plan.runs).flatMap { run =>
        plan.queries.map { q =>
          val ((df, (steps, ms)), r) = measured(q.name, "query", run) {
            val df = q.run(spark, dir)
            (df, QueryExplainer.execute(df))
          }
          report(r)
          if (run == plan.runs) {
            println(s"\n================ ${q.name} executed plan\n" +
              df.queryExecution.explainString(FormattedMode))
            println(QueryExplainer.digest(q.name, steps, ms))
          }
          Lineage.releaseTransient(spark, keep, blocking = true): Unit
          r
        }
      }
      builds ++ queries
    } finally sc.removeSparkListener(counters)
  }

  /** The records as one JSON object. */
  def json(sfDir: String, records: Seq[Record]): String = {
    val mapper = com.fasterxml.jackson.databind.json.JsonMapper.builder()
      .addModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
      .build()
    def secs(s: Double) = BigDecimal(s).setScale(3,
      BigDecimal.RoundingMode.HALF_UP).toDouble
    mapper.writeValueAsString(ListMap(
      "metric" -> "profile", "sf" -> sfDir,
      "git" -> graft.engine.Provenance.gitSha().take(12),
      "records" -> records.map(r => ListMap[String, Any](
          "name" -> r.name, "kind" -> r.kind, "run" -> r.run,
          "wall_s" -> secs(r.wallS)) ++ r.counters ++
        Seq("codegen_compiles" -> r.codegenCompiles,
          "codegen_s" -> secs(r.codegenS)) ++
        (if (r.builds.isEmpty) Nil else Seq("builds" ->
          ListMap(r.builds.map { case (a, s) => a -> secs(s) }: _*))))))
  }

  def main(args: Array[String]): Unit = {
    val plan = parse(args.toSeq)
    val spark = GraftSession.local("graft-profile")
    val records = try run(spark, plan) finally spark.stop()
    println(json(plan.sfDir, records))
  }
}
