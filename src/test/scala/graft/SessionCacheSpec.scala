package graft

import graft.engine.SessionCache

/** Pins the shared artifact cache's identity contract: session keys are
  * collision-free (UUID, not identity hashCode — round-9 ADVICE found
  * the hash-keyed maps could hand one session another session's
  * checkpoint-backed frame), sibling sessions never share entries, and
  * invalidate drops exactly one session's artifacts. Also its build
  * contract: a builder may build its own dependencies, a key builds
  * once under concurrent first calls, and different keys build in
  * parallel.
  *
  * Keys ending in "Aa" and "BB" after a common prefix have equal
  * String hashes, so each such pair lands in one hash bin of the
  * cache's map whatever its size: the case where building inside the
  * map's own compute step threw "Recursive update" or serialized the
  * two builds. */
class SessionCacheSpec extends SparkSpec {
  import spark.implicits._

  test("artifacts are keyed per session, built once, and invalidatable") {
    val s2 = spark.newSession()
    assert(SessionCache.sessionId(spark) != SessionCache.sessionId(s2),
      "sibling sessions must have distinct cache identities")
    var builds = 0
    def make(s: org.apache.spark.sql.SparkSession) =
      SessionCache.getOrBuild(s, "spec-artifact") {
        builds += 1; Seq(1).toDF("x")
      }
    val a1 = make(spark)
    val a2 = make(spark)
    assert(builds == 1 && (a1 eq a2), "same session reuses the built frame")
    make(s2): Unit
    assert(builds == 2, "a sibling session must trigger its own build")
    SessionCache.invalidate(spark)
    make(spark): Unit
    assert(builds == 3, "invalidate must drop the session's entries")
    make(s2): Unit
    assert(builds == 3, "invalidate must not touch other sessions' entries")
    SessionCache.invalidate(spark)
    SessionCache.invalidate(s2)
  }

  test("a builder may build its own dependencies (nested getOrBuild)") {
    val s = spark.newSession()
    try (0 until 8).foreach { i =>
      val (outer, inner) = (s"nested-$i-Aa", s"nested-$i-BB")
      assert(outer.hashCode == inner.hashCode)
      val df = SessionCache.getOrBuild(s, outer) {
        SessionCache.getOrBuild(s, inner)(Seq(i).toDF("x"))
          .select(($"x" + 1).as("x"))
      }
      assert(df.as[Int].collect().toSeq == Seq(i + 1))
      val dep = SessionCache.getOrBuild(s, inner)(sys.error("rebuilt"))
      assert(dep.as[Int].collect().toSeq == Seq(i),
        "the dependency built inside the outer build is cached")
    } finally SessionCache.invalidate(s)
  }

  test("concurrent first calls build a key once; different keys build " +
    "in parallel") {
    import java.util.concurrent._
    val s = spark.newSession()
    val keys = Seq("parallel-Aa", "parallel-BB")
    val builds = new ConcurrentHashMap[String, atomic.AtomicInteger]()
    // both builds must be in flight at once to pass the barrier: a
    // build that waited for the other key's build would time out here
    val bothBuilding = new CyclicBarrier(keys.size)
    def make(k: String) = SessionCache.getOrBuild(s, k) {
      builds.computeIfAbsent(k, _ => new atomic.AtomicInteger)
        .incrementAndGet()
      bothBuilding.await(20, TimeUnit.SECONDS)
      Seq(k).toDF("k")
    }
    val pool = Executors.newFixedThreadPool(4)
    try {
      val calls = Seq.fill(4)(keys).flatten.map(k =>
        k -> pool.submit(new Callable[org.apache.spark.sql.DataFrame] {
          def call() = make(k) }))
      val frames = calls.map { case (k, f) => k -> f.get(60, TimeUnit.SECONDS) }
      keys.foreach { k =>
        assert(builds.get(k).get == 1, s"$k built ${builds.get(k)} times")
        val mine = frames.filter(_._1 == k).map(_._2)
        assert(mine.forall(_ eq mine.head), s"$k: callers got different frames")
      }
    } finally {
      pool.shutdownNow()
      SessionCache.invalidate(s)
    }
  }
}
