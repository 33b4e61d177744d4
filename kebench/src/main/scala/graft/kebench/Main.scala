package graft.kebench

import scala.collection.immutable.ListMap
import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.engine.{Lineage, SessionCache}

/** The benchmark's JVM side. `run.py` builds this package and the
  * engine from source, then starts it once per workload run:
  *
  *   Main --mode run --workload W --seed N --seconds S --trace 0|1
  *        --data DIR --pins FILE --nproc N --heap H --git SHA --tree SHA
  *
  * One closed-loop client: one op at a time on `local[nproc]`, the next
  * op starts when the previous one returned. The seed only permutes the
  * op order of the passes. Stdout ends with a detail line (provenance,
  * samples, per-op and per-layer figures) and then the one-line result.
  *
  * `--mode pin` writes the fingerprint pins for a dataset; `--mode
  * discover` checks that each workload's setup builds exactly the
  * session artifacts its ops read.
  */
object Main {

  /** Timed set-ups repeat until they have taken this long, and run at
    * least twice: an ingest set-up (the table load alone) is short. */
  val SetupSecs = 6.0

  /** Renders the detail line, the result line, the pins and the span
    * files: ordered maps become objects, sequences and tuples arrays. */
  val json: com.fasterxml.jackson.databind.ObjectMapper =
    com.fasterxml.jackson.databind.json.JsonMapper.builder()
      .addModule(com.fasterxml.jackson.module.scala.DefaultScalaModule).build()

  /** A metric value: a non-finite number has no JSON form and is
    * written as null, which the result check rejects. */
  def num(d: Double): Any = if (d.isNaN || d.isInfinite) null else d

  final case class Args(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    def get(k: String): Option[String] = m.get(k)
  }

  def parse(a: Array[String]): Args = {
    require(a.length % 2 == 0 && a.grouped(2).forall(_(0).startsWith("--")),
      s"arguments must be --key value pairs: ${a.mkString(" ")}")
    Args(a.grouped(2).map(p => p(0).drop(2) -> p(1)).toMap)
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val nproc = args("nproc").toInt
    require(nproc >= 1, s"bad --nproc ${args("nproc")}")
    val work = java.nio.file.Paths.get(args("work")).toAbsolutePath
    val spark = graft.GraftSession.builder("kebench",
        Some(s"local[$nproc]"), nproc)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.GraftSession.quietAuditedWarnings()
    val code =
      try args.get("mode").getOrElse("run") match {
        case "run" => new Run(spark, args, nproc, work).apply()
        case "pin" => Pins.pin(spark, args("data"), args("pins"), nproc)
        case "discover" => Discover(spark, args("data"))
        case other => throw new IllegalArgumentException(s"unknown mode $other")
      } finally spark.stop()
    System.out.flush()
    sys.exit(code)
  }

  /** MB held by persisted RDDs (memory plus disk) outside `keep`. */
  def storedMb(sc: SparkContext, keep: Set[Int]): Double =
    sc.getRDDStorageInfo.filterNot(r => keep(r.id))
      .map(r => r.memSize + r.diskSize).sum / 1e6

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Session artifacts of `s` by cache key (without the session
    * prefix). The cache keeps its map private; the benchmark reads it by
    * reflection to see which artifacts exist and which an op built. */
  def cacheEntries(s: SparkSession): Map[String, DataFrame] = {
    val f = SessionCache.getClass.getDeclaredFields.find(f =>
      classOf[java.util.Map[_, _]].isAssignableFrom(f.getType)).getOrElse(
      sys.error("SessionCache has no map field"))
    f.setAccessible(true)
    val prefix = SessionCache.sessionId(s) + "|"
    import scala.jdk.CollectionConverters._
    f.get(SessionCache).asInstanceOf[java.util.Map[String, Product]].asScala
      .collect { case (k, e) if k.startsWith(prefix) =>
        k.drop(prefix.length) -> e.productElement(1).asInstanceOf[DataFrame] }
      .toMap
  }

  def cacheKeys(s: SparkSession): Set[String] = cacheEntries(s).keySet

  /** MB held (memory plus disk) by the checkpointed RDDs behind the
    * session artifacts of `s`, per layer. Blocks of intermediate results
    * that wait for the context cleaner are not counted: when the cleaner
    * runs depends on garbage collection, not on the engine. */
  def artifactMb(s: SparkSession): Map[String, Double] = {
    val held = s.sparkContext.getRDDStorageInfo
      .map(r => r.id -> (r.memSize + r.diskSize)).toMap
    cacheEntries(s).toSeq.map { case (key, df) =>
      val layer = key.takeWhile(_ != '|') match {
        case "dedup" => "dedup_index"
        case l => l
      }
      layer -> df.queryExecution.analyzed.collect {
        case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id }
    }.groupBy(_._1).map { case (layer, xs) =>
      layer -> xs.flatMap(_._2).distinct.map(held.getOrElse(_, 0L)).sum / 1e6
    }
  }
}

/** One timed set-up: its span, the table load, the build seconds per
  * artifact op and the artifacts' MB per layer once it is done. */
final case class Setup(span: Span, loadSecs: Double, rows: Long,
    builds: Seq[(String, Double)], storedMb: Map[String, Double])

/** One pass over the workload's ops. `secs` excludes the time spent
  * checking artifact builds; `storedMb` is, for an ingest round, the
  * artifacts' MB per layer once every build is done; `tracerSecs` is
  * the time the tracer spent recording the pass. */
final case class Pass(span: Span, secs: Double,
    ops: Seq[(String, Span)], sweeps: Seq[Span], released: Int,
    storedMb: Map[String, Double], tracerSecs: Double)

/** One workload run. */
final class Run(root: SparkSession, args: Main.Args, nproc: Int,
    work: java.nio.file.Path) {
  import Main._

  private val sc = root.sparkContext
  private val w = Workload.byName(args("workload"))
  private val seed = args("seed").toLong
  private val seconds = args("seconds").toDouble
  private val traced = args("trace") match {
    case "0" => false
    case "1" => true
    case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, not $t")
  }
  private val dir = args("data")
  private val pins = Pins.load(args("pins"))
  private val runId = java.util.UUID.randomUUID().toString
  private val tracer = new Tracer(runId)
  private val listener = new SpanListener
  private val order = w.order(seed)
  private val baseKeep = Lineage.persistentIds(root)

  private var attempted = 0
  private val failures = mutable.ArrayBuffer[String]()
  private val lazyBuilds = mutable.LinkedHashSet[String]()

  private def check(op: String, got: Seq[(String, (Long, String, Long))])
      : Unit = got.foreach { case (k, fp) =>
    attempted += 1
    pins.get(k) match {
      case Some(p) if p == fp => ()
      case Some(p) => failures += s"$op: $k fingerprint $fp, pinned $p"
      case None => failures += s"$op: $k has no pin in ${args("pins")}"
    }
  }

  private def setup(): (SparkSession, Setup) = {
    var rows = 0L
    var load = 0.0
    val builds = mutable.ArrayBuffer[(String, Double)]()
    val (s, span) = tracer.span("setup", "setup", sc) {
      val s = root.newSession()
      load = tracer.span("tables.load", "tables", sc) {
        rows = graft.Tables.names.map(n => graft.Tables.load(s, dir, n).count()).sum
      }._2.secs
      w.setup.foreach { a =>
        val (_, sp) = tracer.span(a.name, a.layer, sc)(
          a.run(s, dir).foreach(_._2.count()))
        builds += a.name -> sp.secs
      }
      s
    }
    (s, Setup(span, load, rows, builds.toSeq, artifactMb(s)))
  }

  /** Runs one op; a thrown exception or a pin mismatch is a failure and
    * is never retried. Returns the op span and the seconds spent
    * checking outside it. */
  private def runOp(s: SparkSession, op: Op): (Span, Double) = {
    val keysBefore = cacheKeys(s)
    var frames: Seq[(String, DataFrame)] = Nil
    var checkSecs = 0.0
    val start = tracer.now()
    val span =
      try {
        val (fps, sp) = tracer.span(op.name, op.layer, sc) {
          frames = op.run(s, dir)
          if (op.consume) frames.map { case (k, df) =>
            k -> graft.ScaleCheck.fingerprint(df) }
          else { frames.foreach(_._2.count()); Nil }
        }
        if (op.consume) check(op.name, fps)
        else {
          val (got, csp) = tracer.span(s"check ${op.name}", "check", sc)(
            frames.map { case (k, df) => k -> graft.ScaleCheck.fingerprint(df) })
          checkSecs = csp.secs
          check(op.name, got)
        }
        sp
      } catch { case e: Throwable =>
        attempted += 1
        failures += s"${op.name}: ${e.getClass.getSimpleName}: " +
          String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("")
        Span(-1, 0, op.name, op.layer, start, tracer.now())
      }
    if (op.consume) (cacheKeys(s) -- keysBefore).foreach(k =>
      lazyBuilds += s"${op.name} built $k")
    (span, checkSecs)
  }

  /** Starts or stops recording spans and listener counts. */
  private def trace(on: Boolean): Unit =
    if (on) { tracer.enabled = true; sc.addSparkListener(listener) }
    else {
      org.apache.spark.KebenchBridge.drainListeners(sc)
      sc.removeSparkListener(listener)
      tracer.enabled = false
    }

  /** Drops a session's artifacts and every block persisted for them. */
  private def drop(s: SparkSession): Unit = {
    SessionCache.invalidate(s)
    Lineage.releaseTransient(root, baseKeep, blocking = true)
  }

  private def pass(s: SparkSession, keep: Set[Int]): Pass = {
    val ops = mutable.ArrayBuffer[(String, Span)]()
    val sweeps = mutable.ArrayBuffer[Span]()
    var released = 0
    var checkSecs = 0.0
    var stored = Map.empty[String, Double]
    val busy0 = tracer.busyNanos
    val (_, span) = tracer.span("pass", "pass", sc) {
      order.foreach { op =>
        val (sp, c) = runOp(s, op)
        ops += op.name -> sp
        checkSecs += c
        if (op.consume) {
          val (n, sw) = tracer.span("sweep", "lineage", sc)(
            Lineage.releaseTransient(root, keep, blocking = true))
          released += n
          sweeps += sw
        }
      }
      if (w.setup.isEmpty) {
        // an ingest round ends by dropping what it built
        stored = artifactMb(s)
        val (n, sw) = tracer.span("drop", "lineage", sc) {
          SessionCache.invalidate(s)
          Lineage.releaseTransient(root, baseKeep, blocking = true)
        }
        released += n
        sweeps += sw
      }
    }
    Pass(span, span.secs - checkSecs, ops.toSeq, sweeps.toSeq,
      released, stored, (tracer.busyNanos - busy0) / 1e9)
  }

  /** Runs `ops` untimed and unchecked (the timed passes check them),
    * `nproc` at a time, in waves: a wave holds the ops whose
    * dependencies ran in earlier waves. Returns the errors. The warm-up
    * runs concurrently because one op at a time it took ~45 s of an
    * ~85 s run of the 18 graph ops on 4 cores, too long for the run
    * budget. */
  private def warmUp(s: SparkSession, ops: Seq[Op]): Seq[String] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(nproc)
    try {
      val errors = mutable.ArrayBuffer[String]()
      var left = ops
      while (left.nonEmpty) {
        val (wave, later) = left.partition(_.deps.forall(d => !left.exists(_.name == d)))
        require(wave.nonEmpty, s"dependency cycle among ${left.map(_.name)}")
        errors ++= wave.map(op => pool.submit(new java.util.concurrent.Callable[Option[String]] {
          def call() = try {
            op.run(s, dir).foreach(f => graft.ScaleCheck.fingerprint(f._2))
            None
          } catch { case e: Throwable => Some(s"${op.name}: $e") }
        })).flatMap(_.get())
        left = later
      }
      errors.toSeq
    } finally pool.shutdown()
  }

  def apply(): Int = {
    val t0 = tracer.now()
    // warm-up, neither timed nor traced: the tables, the workload's
    // artifacts and one round of its ops; a query op waits for every
    // artifact build
    val (warmErrors, warm) = tracer.span("warm-up", "warm-up", sc) {
      val s0 = root.newSession()
      val tables = graft.Tables.names.map(n => Op(s"tables.$n", "tables", Nil,
        consume = false, (s, d) => { graft.Tables.load(s, d, n).count(); Nil }))
      val errors = warmUp(s0, tables ++ w.setup ++ order.map(op =>
        if (op.consume) op.copy(deps = w.setup.map(_.name)) else op))
      drop(s0)
      errors
    }
    // the timed set-ups, each in a fresh session; the last one is kept.
    // A traced run traces its set-ups and every pass.
    if (traced) trace(on = true)
    val setups = mutable.ArrayBuffer[(SparkSession, Setup)]()
    while (setups.size < 2 || setups.map(_._2.span.secs).sum < SetupSecs) {
      setups.lastOption.foreach(x => drop(x._1))
      setups += setup()
    }
    val s = setups.last._1
    val keep = Lineage.persistentIds(root)
    val timedSetups = setups.map(_._2).toSeq
    val passes = mutable.ArrayBuffer[Pass]()
    val t1 = tracer.now()
    def more: Boolean = passes.isEmpty ||
      (tracer.now() - t1) / 1e3 + median(passes.map(_.secs).toSeq) <= seconds
    while (more) passes += pass(s, keep)
    if (traced) trace(on = false)
    val leakedMb = storedMb(sc, if (w.setup.isEmpty) baseKeep else keep)
    val wall = (tracer.now() - t0) / 1e3

    val opSecs = order.map(op => op.name ->
      median(passes.toSeq.flatMap(_.ops.filter(_._1 == op.name)).map(_._2.secs)))
    val e2e = Seq(
      ("setup_s", "s", median(timedSetups.map(_.span.secs))),
      ("pass_s", "s", median(passes.toSeq.map(_.secs))),
      ("op_geomean_s", "s",
        math.exp(opSecs.map(o => math.log(o._2)).sum / opSecs.size)),
      ("stored_mb", "MB",
        if (w.setup.isEmpty) median(passes.toSeq.map(_.storedMb.values.sum))
        else timedSetups.last.storedMb.values.sum))
    val layers = if (traced) Some(new Layers(w, timedSetups, passes.toSeq,
      listener, tracer, leakedMb)) else None

    val failed = failures.size
    val detail = ListMap(
      "workload" -> w.name, "seed" -> seed, "trace" -> traced,
      "run_id" -> runId, "git" -> args("git"), "tree_sha256" -> args("tree"),
      "nproc" -> nproc, "heap" -> args("heap"),
      "dataset" -> dir, "pins" -> args("pins"),
      "order" -> order.map(_.name),
      "samples" -> ListMap(
        "setups" -> timedSetups.size,
        "passes" -> passes.size,
        "setup_s" -> timedSetups.map(_.span.secs),
        "pass_s" -> passes.map(_.secs)),
      "warmup_s" -> warm.secs,
      "warmup_errors" -> warmErrors.take(20),
      "run_wall_s" -> wall,
      "error_rate" -> failed.toDouble / math.max(attempted, 1),
      "failures" -> failures.take(20).toSeq,
      "lazy_builds" -> lazyBuilds.toSeq,
      "op_s" -> ListMap(opSecs: _*),
      "layers" -> layers.map(_.detail).getOrElse(ListMap.empty))
    println(json.writeValueAsString(Map("kebench" -> detail)))
    layers.foreach(_.writeSpans(work.resolve("trace"), w.name, seed))
    val metrics = layers.map(_.metrics).getOrElse(e2e)
    println(json.writeValueAsString(ListMap(
      "correct" -> (failed == 0),
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> ListMap(metrics.map { case (k, u, v) =>
        k -> ListMap("value" -> num(v), "unit" -> u) }: _*))))
    0
  }
}
