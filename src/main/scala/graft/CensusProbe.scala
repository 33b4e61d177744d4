package graft

/** Dev main: executes the co-purchase triangle census with SQLMetrics
  * attribution (the packed-rank wedge plan), printing per-step times so
  * the super-linear sf2 leg is diagnosed from the executed plan rather
  * than guessed (round-13 verdict item 2 — the width A/B was
  * unreproducible; this pins WHERE the 272 s goes).
  * Usage: runMain graft.CensusProbe [sfDir]
  */
object CensusProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder("graft-census-probe", Some(s"local[$cpus]"),
        cpus.toInt)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftSession.quietAuditedWarnings()
    // PROBE_TOUCH=1 reproduces IngestProfile's table warm touch, the
    // remaining delta between the 55 s clean-process census and the
    // 200 s profile-context census at sf2
    if (sys.env.get("PROBE_TOUCH").contains("1"))
      Tables.names.foreach(n => Tables.load(spark, sfDir, n).count())
    val canon = graft.queries.GraphAnalyticsQueries
      .copurchaseCanon(spark, sfDir)
    System.err.println(s"[probe] canon rows = ${canon.count()}")
    val sup = graft.graph.GraphAnalytics.edgeSupport(canon)
    // MODE=artifact reproduces the ingest build exactly (eager
    // checkpoint + count, the copurchaseSupport path); default MODE
    // executes the bare census with SQLMetrics attribution
    if (sys.env.get("PROBE_MODE").contains("artifact")) {
      import graft.engine.Lineage.LineageOps
      val t0 = System.nanoTime()
      val cp = sup.truncateLineage()
      val t1 = System.nanoTime()
      System.err.println(f"[probe] truncateLineage ${(t1 - t0) / 1e9}%.1f s")
      System.err.println(s"[probe] support rows = ${cp.count()}")
      System.err.println(f"[probe] count ${(System.nanoTime() - t1) / 1e9}%.1f s")
      println(f"""{"metric":"census_probe","sf":"$sfDir","secs":${(System.nanoTime() - t0) / 1e9}%.1f}""")
      spark.stop()
      return
    }
    val (steps, totalMs) = graft.engine.QueryExplainer.execute(sup)
    System.err.println(f"[probe] census executed in ${totalMs / 1000}%.1f s")
    steps.sortBy(-_.timeMs).take(12).foreach { s =>
      System.err.println(f"[probe] ${s.timeMs}%10.0f ms  ${s.stepName}%-40s " +
        s"${s.operation}" +
        s.outputSize.map(o => s" out=$o").getOrElse(""))
    }
    println(f"""{"metric":"census_probe","sf":"$sfDir","secs":${totalMs / 1000}%.1f}""")
    spark.stop()
  }
}
