package graft.kebench

import scala.collection.immutable.ListMap
import Main.median

/** Per-layer figures of a traced run, whose set-ups and passes are all
  * traced. `metrics` are the ones every workload has (the
  * `per_layer` list of BENCHMARK.json); `detail` adds the layer metrics
  * that exist only on some workloads. */
final class Layers(w: Workload, setups: Seq[Setup], passes: Seq[Pass],
    listener: SpanListener, tracer: Tracer, leakedMb: Double) {

  private def counts(s: Span) = listener.bySpan.get(s.id)
  private def perPass(f: Pass => Double): Double = median(passes.map(f))
  private def sum(p: Pass)(f: listener.Counts => Double): Double =
    (p.ops.map(_._2) ++ p.sweeps).flatMap(counts).map(f).sum

  /** Op wall time that no Spark job of the op covers. */
  private def driverSecs(op: Span): Double = op.secs - Tracer.covered(
    counts(op).map(_.jobIntervals.toSeq).getOrElse(Nil), op.start, op.end) / 1e3

  private val buildSecs: Double =
    if (w.setup.nonEmpty) median(setups.map(_.builds.map(_._2).sum))
    else median(passes.map(_.ops.map(_._2.secs).sum))

  val metrics: Seq[(String, String, Double)] = Seq(
    ("tables.load_s", "s", median(setups.map(_.loadSecs))),
    ("artifacts.build_s", "s", buildSecs),
    ("lineage.release_s", "s", perPass(_.sweeps.map(_.secs).sum)),
    ("lineage.released_rdds", "count", perPass(_.released.toDouble)),
    ("lineage.leaked_mb", "MB", leakedMb),
    ("spark.jobs", "count", perPass(sum(_)(_.jobs.toDouble))),
    ("spark.stages", "count", perPass(sum(_)(_.stages.toDouble))),
    ("spark.tasks", "count", perPass(sum(_)(_.tasks.toDouble))),
    ("spark.driver_s", "s", perPass(_.ops.map(o => driverSecs(o._2)).sum)),
    ("spark.executor_run_s", "s", perPass(sum(_)(_.runMs / 1e3))),
    ("spark.executor_cpu_s", "s", perPass(sum(_)(_.cpuNs / 1e9))),
    ("spark.scheduler_delay_s", "s", perPass(sum(_)(_.schedMs / 1e3))),
    ("spark.gc_s", "s", perPass(sum(_)(_.gcMs / 1e3))),
    ("spark.shuffle_read_mb", "MB", perPass(sum(_)(_.shuffleRead / 1e6))),
    ("spark.shuffle_write_mb", "MB", perPass(sum(_)(_.shuffleWrite / 1e6))),
    ("spark.spill_mb", "MB", perPass(sum(_)(_.spill / 1e6))),
    ("trace.unattributed_s", "s", perPass(p =>
      p.secs - p.ops.map(_._2.secs).sum - p.sweeps.map(_.secs).sum)),
    ("trace.overhead_s", "s",
      perPass(p => p.tracerSecs + sum(p)(_.busyNs / 1e9))))

  /** Build seconds per artifact op and stored MB per artifact layer,
    * from the set-ups (graph, corpus) or the rounds (ingest). */
  private def artifactMetrics: Seq[(String, Double)] = {
    val (builds, stored) =
      if (w.setup.nonEmpty) (setups.flatMap(_.builds), setups.map(_.storedMb))
      else (passes.flatMap(_.ops.map { case (n, sp) => n -> sp.secs }),
        passes.map(_.storedMb))
    builds.groupBy(_._1).toSeq.sortBy(_._1).map { case (n, bs) =>
      s"${n}_s" -> median(bs.map(_._2)) } ++
      stored.flatMap(_.keys).distinct.sorted.map(l =>
        s"$l.stored_mb" -> median(stored.map(_.getOrElse(l, 0.0))))
  }

  /** Self time per layer over every recorded span: its duration minus
    * the part its child spans and its Spark jobs cover. */
  private def selfSecs: Seq[(String, Double)] = {
    val children = tracer.spans.groupBy(_.parent)
    tracer.spans.toSeq.groupBy(_.layer).toSeq.sortBy(_._1).map { case (l, ss) =>
      l -> ss.map { s =>
        val inner = children.getOrElse(s.id, Nil).map(c => (c.start, c.end)) ++
          counts(s).map(_.jobIntervals.toSeq).getOrElse(Nil)
        s.secs - Tracer.covered(inner.toSeq, s.start, s.end) / 1e3
      }.sum
    }
  }

  def detail: ListMap[String, Any] = {
    val ops = passes.head.ops.map(_._1)
    def opJobs(n: String) = perPass(p => p.ops.filter(_._1 == n)
      .flatMap(o => counts(o._2)).map(_.jobs.toDouble).sum)
    ListMap(
      "layer_metrics" -> ListMap(artifactMetrics: _*),
      "self_s" -> ListMap(selfSecs: _*),
      "tables.rows" -> setups.last.rows,
      "spark.fetch_wait_s" -> perPass(sum(_)(_.fetchWaitMs / 1e3)),
      "traced_pass_s" -> passes.map(_.secs),
      "op_jobs" -> ListMap(ops.map(n => s"op.$n.jobs" -> opJobs(n)): _*),
      "op_driver_s" -> ListMap(ops.map(n => s"op.$n.driver_s" ->
        perPass(p => p.ops.filter(_._1 == n).map(o => driverSecs(o._2)).sum)): _*))
  }

  /** Writes every span of the run, plus one span per Spark job under the
    * span that submitted it, as one JSON document. */
  def writeSpans(dir: java.nio.file.Path, workload: String, seed: Long): Unit = {
    java.nio.file.Files.createDirectories(dir)
    def span(id: String, parent: Int, name: String, layer: String,
        start: Double, end: Double) = ListMap("run" -> tracer.runId,
      "id" -> id, "parent" -> parent, "name" -> name, "layer" -> layer,
      "start_ms" -> start, "end_ms" -> end)
    val all = tracer.spans.toSeq.map(s =>
      span(s.id.toString, s.parent, s.name, s.layer, s.start, s.end)) ++
      listener.bySpan.toSeq.flatMap { case (sid, c) =>
        c.jobIntervals.toSeq.zipWithIndex.map { case ((a, b), i) =>
          span(s"$sid.job$i", sid, "job", "spark", a, b) } }
    Main.json.writerWithDefaultPrettyPrinter().writeValue(
      dir.resolve(s"$workload-seed$seed-${tracer.runId}.json").toFile, all)
  }
}
