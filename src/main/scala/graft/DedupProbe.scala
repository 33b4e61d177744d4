package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev main: decomposes the DedupIndex pair-build cost (the largest
  * ingest row) into candidate-generation, scoring, and checkpoint legs
  * with the noop sink (guide §1.4 — count() would prune the estimate
  * column), so optimization targets the measured dominant step.
  * Usage: runMain graft.DedupProbe [sfDir] [passes=2]
  */
object DedupProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val passes = args.lift(1).map(_.toInt).getOrElse(2)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder("graft-dedup-probe", Some(s"local[$cpus]"),
        cpus.toInt)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftSession.quietAuditedWarnings()
    Tables.names.foreach(n => Tables.load(spark, sfDir, n).count())

    def time(name: String)(body: => Unit): Unit = {
      val ts = (1 to passes).map { _ =>
        val t0 = System.nanoTime(); body
        (System.nanoTime() - t0) / 1e9
      }
      System.err.println(f"[dprobe] $name%-28s min=${ts.min}%7.2f  " +
        f"runs=${ts.map(t => f"$t%.2f").mkString(",")}")
    }
    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    // shared signature artifact (warm, outside timings)
    val sig = graft.dedup.DedupIndex.signatures(spark, sfDir)
      .select(col("id"), col("sig"))
    sig.count()

    import graft.dedup.DedupIndex.{K, Bands, FloorThreshold}
    time("full_pipeline_noop") {
      noop(graft.dedup.Dedup.minhashLshFromSig(sig, K, Bands,
        FloorThreshold))
    }
    // candidate generation alone (the internal shape, packed pair)
    val r = K / Bands
    def banded = sig.select(col("id"),
      posexplode(expr(
        s"transform(sequence(0, ${Bands - 1}), b -> " +
          s"xxhash64(concat_ws('#', cast(b as string), slice(sig, b * $r + 1, $r))))"))
        .as(Seq("band", "bucket")))
      .select(col("id"), col("bucket"))
    def joined = banded.select(col("bucket"), col("id").as("a_id"))
      .join(banded.select(col("bucket"), col("id").as("b_id")), "bucket")
      .filter(col("a_id") < col("b_id"))
    time("cand_join_only_noop") {
      noop(joined.select(col("a_id"), col("b_id")))
    }
    time("cand_distinct_2col_noop") {
      noop(joined.select(col("a_id"), col("b_id")).distinct())
    }
    time("cand_distinct_packed_noop") {
      noop(joined
        .select(shiftleft(col("a_id"), 32).bitwiseOR(col("b_id")).as("pair"))
        .distinct())
    }
    // isolate the scoring span: candidates pre-materialized, then
    // (a) joins only, (b) joins + estimate — the delta is the estimate
    locally {
      import graft.engine.Lineage.LineageOps
      val cand = joined.select(col("a_id"), col("b_id")).distinct()
        .truncateLineage()
      cand.count()
      val aSide = sig.select(col("id").as("a_id"), col("sig").as("a_sig"))
      val bSide = sig.select(col("id").as("b_id"), col("sig").as("b_sig"))
      time("score_joins_only_noop") {
        noop(cand.join(broadcast(aSide), "a_id")
          .join(broadcast(bSide), "b_id")
          .select(col("a_id"), col("b_id"), lit(0.0).as("est_jaccard")))
      }
      time("score_joins_est_noop") {
        noop(cand.join(broadcast(aSide), "a_id")
          .join(broadcast(bSide), "b_id")
          .select(col("a_id"), col("b_id"),
            graft.text.TextFunctions.minhashEstimate(col("a_sig"),
              col("b_sig"), K).as("est_jaccard")))
      }
      time("score_full_filter_noop") {
        noop(cand.join(broadcast(aSide), "a_id")
          .join(broadcast(bSide), "b_id")
          .select(col("a_id"), col("b_id"),
            graft.text.TextFunctions.minhashEstimate(col("a_sig"),
              col("b_sig"), K).as("est_jaccard"))
          .filter(col("est_jaccard") >= FloorThreshold))
      }
      // F1: nondeterministic barrier stops the filter being pushed into
      // the join condition (the §4.4 trick for plain expressions)
      time("score_ndbarrier_noop") {
        noop(cand.join(broadcast(aSide), "a_id")
          .join(broadcast(bSide), "b_id")
          .select(col("a_id"), col("b_id"),
            when(isnotnull(rand(7)),
              graft.text.TextFunctions.minhashEstimate(col("a_sig"),
                col("b_sig"), K)).as("est_jaccard"))
          .filter(col("est_jaccard") >= FloorThreshold))
      }
      // task-metric split for the filtered variant: executor task time
      // vs wall separates per-row cost from driver-side cost
      locally {
        val agg = new java.util.concurrent.atomic.AtomicLongArray(2)
        spark.sparkContext.addSparkListener(
          new org.apache.spark.scheduler.SparkListener {
            override def onTaskEnd(
                e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
              val m = e.taskMetrics
              if (m != null) {
                agg.addAndGet(0, m.executorRunTime)
                agg.addAndGet(1, 1L)
              }
            }
          })
        val t0 = System.nanoTime()
        noop(cand.join(broadcast(aSide), "a_id")
          .join(broadcast(bSide), "b_id")
          .select(col("a_id"), col("b_id"),
            graft.text.TextFunctions.minhashEstimate(col("a_sig"),
              col("b_sig"), K).as("est_jaccard"))
          .filter(col("est_jaccard") >= FloorThreshold))
        val wall = (System.nanoTime() - t0) / 1e9
        System.err.println(f"[dprobe] filtered: wall=$wall%.2f s " +
          f"execRun=${agg.get(0) / 1000.0}%.1f task-s tasks=${agg.get(1)}")
      }
      time("score_filter_nowscg") {
        spark.conf.set("spark.sql.codegen.wholeStage", "false")
        try noop(cand.join(broadcast(aSide), "a_id")
          .join(broadcast(bSide), "b_id")
          .select(col("a_id"), col("b_id"),
            graft.text.TextFunctions.minhashEstimate(col("a_sig"),
              col("b_sig"), K).as("est_jaccard"))
          .filter(col("est_jaccard") >= FloorThreshold))
        finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
      }
      // control: the UNfiltered pipeline with whole-stage codegen off —
      // if this reads ~8 s, the filtered variant is simply losing WSCG
      time("score_est_nowscg") {
        spark.conf.set("spark.sql.codegen.wholeStage", "false")
        try noop(cand.join(broadcast(aSide), "a_id")
          .join(broadcast(bSide), "b_id")
          .select(col("a_id"), col("b_id"),
            graft.text.TextFunctions.minhashEstimate(col("a_sig"),
              col("b_sig"), K).as("est_jaccard")))
        finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
      }
      if (sys.env.get("DPROBE_CODEGEN").contains("1")) {
        def scored = cand.join(broadcast(aSide), "a_id")
          .join(broadcast(bSide), "b_id")
          .select(col("a_id"), col("b_id"),
            graft.text.TextFunctions.minhashEstimate(col("a_sig"),
              col("b_sig"), K).as("est_jaccard"))
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get("/tmp/codegen_nofilter.txt"),
          org.apache.spark.sql.execution.debug.codegenString(
            scored.queryExecution.executedPlan))
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get("/tmp/codegen_filter.txt"),
          org.apache.spark.sql.execution.debug.codegenString(
            scored.filter(col("est_jaccard") >= FloorThreshold)
              .queryExecution.executedPlan))
        System.err.println("[dprobe] codegen dumped to /tmp")
      }
      // F4: branch-free estimate (boolean cast instead of CASE WHEN
      // chain) — tests whether the CASE chain is the codegen pathology
      time("score_filter_castform") {
        val est = (1 to K).map(i =>
            (element_at(col("a_sig"), i) === element_at(col("b_sig"), i))
              .cast("int"))
          .reduce(_ + _).cast("double") / K
        noop(cand.join(broadcast(aSide), "a_id")
          .join(broadcast(bSide), "b_id")
          .select(col("a_id"), col("b_id"), est.as("est_jaccard"))
          .filter(col("est_jaccard") >= FloorThreshold))
      }
      // F3: same as score_full_filter but with constraint propagation
      // off — isolates driver-side optimizer cost on the giant est tree
      time("score_filter_noconstraint") {
        spark.conf.set("spark.sql.constraintPropagation.enabled", "false")
        try noop(cand.join(broadcast(aSide), "a_id")
          .join(broadcast(bSide), "b_id")
          .select(col("a_id"), col("b_id"),
            graft.text.TextFunctions.minhashEstimate(col("a_sig"),
              col("b_sig"), K).as("est_jaccard"))
          .filter(col("est_jaccard") >= FloorThreshold))
        finally spark.conf.set(
          "spark.sql.constraintPropagation.enabled", "true")
      }
      // F2: materialization barrier (checkpoint the scored frame, then
      // filter over it)
      time("score_ckpt_filter_noop") {
        import graft.engine.Lineage.LineageOps
        noop(cand.join(broadcast(aSide), "a_id")
          .join(broadcast(bSide), "b_id")
          .select(col("a_id"), col("b_id"),
            graft.text.TextFunctions.minhashEstimate(col("a_sig"),
              col("b_sig"), K).as("est_jaccard"))
          .truncateLineage()
          .filter(col("est_jaccard") >= FloorThreshold))
      }
    }
    if (sys.env.get("DPROBE_EXPLAIN").contains("1")) {
      val df = graft.dedup.Dedup.minhashLshFromSig(sig, K, Bands,
        FloorThreshold)
      noop(df)
      System.err.println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    if (sys.env.get("DPROBE_STEPS").contains("1")) {
      val df = graft.dedup.Dedup.minhashLshFromSig(sig, K, Bands,
        FloorThreshold)
      val (steps, totalMs) = graft.engine.QueryExplainer.execute(df)
      System.err.println(f"[dprobe] executed ${totalMs / 1000}%.1f s; steps:")
      steps.sortBy(-_.timeMs).take(10).foreach { s =>
        System.err.println(f"[dprobe]   ${s.timeMs}%10.0f ms " +
          f"${s.stepName}%-30s ${s.operation}" +
          s.outputSize.map(o => s" out=$o").getOrElse(""))
      }
    }
    spark.stop()
    println(s"""{"metric":"dedup_probe","sf":"$sfDir"}""")
  }
}
