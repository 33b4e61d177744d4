package graft.engine

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-(session, key) cache for materialized ingestion-time artifacts —
  * the KGraph edge indexes, the DedupIndex pair/cluster tables, and the
  * co-purchase projection all share this helper instead of each keeping
  * a private map keyed by `spark.hashCode()` (identity hashes can
  * collide across SparkSession instances in one JVM, handing one
  * session another session's — possibly stopped — localCheckpoint-backed
  * frame; round-9 ADVICE).
  *
  * The cache owns artifact lifetime. An artifact is built on first use
  * and lives until [[invalidate]] drops its session's entries (or its
  * SparkContext stops): [[Lineage.releaseTransient]] keeps the blocks
  * of every live entry, whenever it was built, so no caller has to warm
  * an artifact before a keep-set snapshot (`graft.Artifacts.warm` is
  * the one warm path, for timing builds outside the queries).
  *
  * Session identity is the session's UUID (collision-free, stable for
  * the session's lifetime). Entries whose SparkContext has stopped are
  * swept on every access — their checkpoint blocks are gone, so the
  * frames are unusable and holding them only leaks. Entries for LIVE
  * sibling sessions on a shared context (test suites' `newSession()`)
  * stay cached by design: the artifact contract is build-once-per-
  * session, and [[invalidate]] exists for callers that want to drop a
  * session's artifacts early (the frames themselves hold a session
  * reference, so weak-keying by session could never collect them).
  *
  * A builder may call [[getOrBuild]] for its own dependencies: the
  * build runs under a per-key lock, outside the map, so concurrent first
  * calls for one key build it once and calls for different keys never
  * wait on each other.
  */
object SessionCache {

  private final case class Entry(session: SparkSession, df: DataFrame)
  // the artifact map is this object's only java.util.Map field: the
  // benchmark (kebench Main.cacheEntries) reads it by reflection
  private val cache = new ConcurrentHashMap[String, Entry]()

  /** Per-key build locks, held only while that key builds. */
  private object Building {
    val locks = new ConcurrentHashMap[String, AnyRef]()
  }

  /** Collision-free session identity; falls back to identity hash only
    * for non-classic sessions (none in this project's entry points). */
  def sessionId(spark: SparkSession): String =
    org.apache.spark.sql.GraftBridge.sessionUUID(spark)
      .getOrElse(s"id-${System.identityHashCode(spark)}")

  def getOrBuild(spark: SparkSession, key: String)
      (build: => DataFrame): DataFrame = {
    cache.values().removeIf(_.session.sparkContext.isStopped)
    val k = s"${sessionId(spark)}|$key"
    def cached = Option(cache.get(k)).map(_.df)
    cached.getOrElse {
      val lock = Building.locks.computeIfAbsent(k, _ => new AnyRef)
      try lock.synchronized {
        cached.getOrElse {
          val df = build
          cache.put(k, Entry(spark, df))
          df
        }
      } finally Building.locks.remove(k, lock)
    }
  }

  /** Ids of the RDDs the live artifacts on `sc` read. */
  private[engine] def liveRddIds(sc: SparkContext): Set[Int] = {
    import scala.jdk.CollectionConverters._
    cache.values().asScala.filter(_.session.sparkContext eq sc)
      .flatMap(e => Lineage.planRddIds(e.df)).toSet
  }

  /** Drop every cached artifact belonging to `spark` (the frames'
    * checkpoint blocks are the caller's to release — see
    * Lineage.releaseTransient). */
  def invalidate(spark: SparkSession): Unit = {
    val prefix = sessionId(spark) + "|"
    cache.keySet().removeIf(_.startsWith(prefix))
  }
}
