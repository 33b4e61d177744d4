package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import graft.engine.{Lineage, SessionCache}

/** graft.Profile, driven through its entry functions (main would stop
  * the shared session): one record per name and run, listener counters
  * on every query run, and names resolved before any Spark work. */
class ProfileSpec extends SparkSpec {

  test("one record per name and run, with jobs and tasks on every query run") {
    val s = spark.newSession()
    val keep = Lineage.persistentIds(s)
    try {
      val recs = Profile.run(s, Profile.parse(Seq(sf, "kgraph.lexedges",
        "kgraph.canonlex", "q12_multihop_bfs_in", "--runs", "2")))
      assert(recs.map(r => (r.name, r.kind, r.run)) == Seq(
        ("kgraph.lexedges", "artifact", 1), ("kgraph.canonlex", "artifact", 1),
        ("kgraph.lexedges", "artifact", 2), ("kgraph.canonlex", "artifact", 2),
        ("q12_multihop_bfs_in", "query", 1), ("q12_multihop_bfs_in", "query", 2)))
      recs.foreach(r => assert(r.counters.keys.toSeq == Profile.CounterKeys))
      // a second run reuses the classes the first run compiled
      recs.filter(_.run == 2).foreach(r => assert(r.codegenCompiles == 0, r))
      // each run rebuilds each named artifact, and nothing else
      recs.filter(_.kind == "artifact").foreach { r =>
        assert(r.builds.map(_._1) == Seq(r.name))
        assert(r.counters("jobs") > 0, r)
      }
      // named alone, canonlex's record still excludes the build of the
      // edge list it reads, which is warmed before its timer starts
      val canonlex = recs.filter(_.name == "kgraph.canonlex")
        .map(_.counters("jobs")).toSet
      val alone = Profile.run(s, Profile.parse(Seq(sf, "kgraph.canonlex",
        "--runs", "1")))
      assert(alone.map(r => (r.name, r.builds.map(_._1))) ==
        Seq(("kgraph.canonlex", Seq("kgraph.canonlex"))))
      assert(canonlex == Set(alone.head.counters("jobs")), alone)
      recs.filter(_.kind == "query").foreach { r =>
        assert(r.counters("jobs") > 0 && r.counters("tasks") > 0, r)
        assert(r.builds.isEmpty)
      }
      val json = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(Profile.json(sf, recs))
      assert(json.get("metric").asText == "profile")
      assert(json.get("records").size == recs.size)
      json.get("records").forEach(r => assert(
        r.has("codegen_compiles") && r.get("codegen_s").asDouble >= 0, r))
    } finally {
      SessionCache.invalidate(s)
      Lineage.releaseTransient(s, keep, blocking = true): Unit
    }
  }

  test("an unknown name is rejected before any job starts") {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val e = intercept[IllegalArgumentException](Profile.run(spark,
        Profile.parse(Seq(sf, "q12_multihop_bfs_in", "kgraph_index",
          "q12_no_such_query"))))
      assert(e.getMessage.contains("q12_no_such_query"))
      intercept[IllegalArgumentException](
        Profile.parse(Seq(sf, "q12_multihop_bfs_in", "--runs", "0")))
      org.apache.spark.sql.GraftBridge.drainListeners(spark.sparkContext)
      assert(jobs.get == 0)
    } finally spark.sparkContext.removeSparkListener(l)
  }
}
