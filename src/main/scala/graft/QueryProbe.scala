package graft

/** Dev main: runs a catalog query N times in one session with executed
  * SQLMetrics attribution per run, so a first-run-only cost (the
  * ~140-270 s pass-1 pathology on the sf1/sf2 graph heavies) is
  * located in the plan instead of guessed. Light graph warmup only.
  * Usage: runMain graft.QueryProbe <sfDir> <queryName> [runs=2]
  */
object QueryProbe {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: QueryProbe <sfDir> <name> [runs]")
    val sfDir = args(0)
    val name = args(1)
    val runs = args.lift(2).map(_.toInt).getOrElse(2)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder("graft-query-probe",
        Some(s"local[$cpus]"), cpus.toInt)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftSession.quietAuditedWarnings()
    Tables.names.foreach(n => Tables.load(spark, sfDir, n).count())
    Artifacts.warm(spark, sfDir,
      Artifacts.groups.filterNot(_ == "dedup_index")): Unit
    val keep = graft.engine.Lineage.persistentIds(spark)
    val q = graft.queries.Catalog.byName(name)
    // task-metric accumulation per run: SQLMetrics miss scheduler gaps,
    // spill and shuffle-write stalls — this listener doesn't
    val agg = new java.util.concurrent.atomic.AtomicLongArray(8)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = e.taskMetrics
          if (m != null) {
            agg.addAndGet(0, m.executorRunTime)
            agg.addAndGet(1, m.jvmGCTime)
            agg.addAndGet(2, m.diskBytesSpilled)
            agg.addAndGet(3, m.memoryBytesSpilled)
            agg.addAndGet(4, m.shuffleWriteMetrics.writeTime / 1000000L)
            agg.addAndGet(5, m.shuffleReadMetrics.fetchWaitTime)
            agg.addAndGet(6, m.shuffleWriteMetrics.bytesWritten)
            agg.addAndGet(7, 1L)
          }
        }
      })
    (1 to runs).foreach { i =>
      val (steps, totalMs) = graft.engine.QueryExplainer
        .execute(q.run(spark, sfDir))
      System.err.println(f"[qprobe] run $i: ${totalMs / 1000}%.1f s wall; " +
        f"tasks=${agg.getAndSet(7, 0)} " +
        f"execRun=${agg.getAndSet(0, 0) / 1000.0}%.0f s " +
        f"gc=${agg.getAndSet(1, 0) / 1000.0}%.1f s " +
        f"spillDisk=${agg.getAndSet(2, 0) / (1 << 20)} MB " +
        f"spillMem=${agg.getAndSet(3, 0) / (1 << 20)} MB " +
        f"shufWriteT=${agg.getAndSet(4, 0) / 1000.0}%.0f s " +
        f"fetchWait=${agg.getAndSet(5, 0) / 1000.0}%.0f s " +
        f"shufMB=${agg.getAndSet(6, 0) / (1 << 20)}")
      steps.sortBy(-_.timeMs).take(6).foreach { s =>
        System.err.println(f"[qprobe]   ${s.timeMs}%10.0f ms " +
          f"${s.stepName}%-30s ${s.operation}" +
          s.outputSize.map(o => s" out=$o").getOrElse(""))
      }
      graft.engine.Lineage.releaseTransient(spark, keep, blocking = true): Unit
    }
    println(s"""{"metric":"query_probe","sf":"$sfDir","q":"$name"}""")
    spark.stop()
  }
}
