package graft.engine

import scala.annotation.tailrec
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{count, lit, when}

/** Lineage truncation for iterative / reused plans, and the one round
  * driver ([[rounds]]) every graph loop runs on.
  *
  * Every iterative loop and every materialize-once-reuse-twice frame
  * needs its lineage cut so plans don't nest. `localCheckpoint` does
  * that with executor-local blocks — right for single-JVM runs, but on
  * a real cluster a lost executor makes those blocks unrecoverable and
  * the job dies. The cluster-safe form is a RELIABLE checkpoint into a
  * fault-tolerant filesystem.
  *
  * `truncateLineage()` picks per session: when
  * `spark.graft.reliableCheckpoints=true` AND a checkpoint dir is
  * configured (`spark.sparkContext.setCheckpointDir(...)`, pointing at
  * HDFS/S3/DBFS on a cluster), it uses `checkpoint()`; otherwise it falls
  * back to `localCheckpoint()`. Both variants materialize eagerly and
  * produce the same plan over the checkpointed rows — only the storage
  * durability differs. Neither preserves a partitioning the next join
  * can reuse: a checkpoint of an AQE-coalesced shuffle output reads back
  * as a scan that the next join on the same key shuffles again (q256's
  * executed plan showed `Exchange hashpartitioning(src, node_id, 4)`
  * directly over the scan of a frame a groupBy(src, node_id) had just
  * produced).
  *
  * Reliable checkpoint files stay on disk unless
  * `spark.cleaner.referenceTracking.cleanCheckpoints=true` (default
  * false): a long-lived cluster session that opts in should set it, or
  * clean the checkpoint dir itself (docs/TUNING.md).
  */
object Lineage {

  /** Session conf key opting iterative operators into reliable
    * checkpoints (default false = localCheckpoint). */
  val ReliableKey = "spark.graft.reliableCheckpoints"

  /** Ids of the RDD blocks persisted on `spark`'s context: the
    * keep-set for [[releaseTransient]]. */
  def persistentIds(spark: SparkSession): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Ids of the RDDs `df`'s plan reads (its `LogicalRDD` leaves). */
  def planRddIds(df: DataFrame): Set[Int] =
    df.queryExecution.analyzed.collect { case r: LogicalRDD => r.rdd.id }.toSet

  /** Checkpoint-block hygiene between queries: unpersists every
    * persisted RDD whose id is not in `keep` (a [[persistentIds]]
    * snapshot) and that no live session artifact reads, returning how
    * many were dropped. A session running many queries back-to-back
    * otherwise keeps every query's one-off cuts and results until the
    * block manager crowds out live work (round 9: q273 died twice in
    * the sf1.0 sweep under ~40 queries' blocks). A released frame is
    * gone for good; [[SessionCache]] artifacts are kept whenever they
    * were built. */
  def releaseTransient(spark: SparkSession,
      keep: Set[Int], blocking: Boolean = false): Int = {
    val sc = spark.sparkContext
    val live = SessionCache.liveRddIds(sc)
    val drop = sc.getPersistentRDDs
      .filter { case (id, _) => !keep(id) && !live(id) }
    // blocking=true for benchmark harnesses: an async unpersist's
    // removal work bleeds into the NEXT query's timed window (round 13:
    // q268's in-sweep samples read 6.5-8.0 s, a quiesced retry 3.8 s).
    drop.values.foreach(_.unpersist(blocking))
    drop.size
  }

  /** Unpersists (async) the blocks of `ids` no session artifact reads —
    * only those: another thread's fresh cuts are not this call's. */
  private def release(spark: SparkSession, ids: Set[Int]): Unit = {
    val sc = spark.sparkContext
    val persisted = sc.getPersistentRDDs
    (ids -- SessionCache.liveRddIds(sc)).flatMap(persisted.get)
      .foreach(_.unpersist(false))
  }

  /** The blocks cut on this thread in the innermost [[releasing]]. */
  private val owned = ThreadLocal.withInitial[Option[Set[Int]]](() => None)

  /** Runs a kernel `body`, then releases every block it cut on this
    * thread that `reads(result)`'s plan does not read (its static
    * indexes, the cuts inside its rounds), so a call leaves only its
    * result's blocks. Session artifacts are never released; the blocks
    * the result keeps pass to an enclosing call. */
  def releasing[A](body: => A)(reads: A => DataFrame): A = {
    val outer = owned.get
    owned.set(Some(Set.empty))
    val (out, cut) =
      try { val out = body; (out, owned.get.getOrElse(Set.empty)) }
      finally owned.set(outer)
    val result = reads(out)
    val kept = planRddIds(result)
    release(result.sparkSession, cut -- kept)
    outer.foreach(o => owned.set(Some(o ++ (cut & kept))))
    out
  }

  /** The one round driver, GraphX Pregel's loop shape (OSDI 2014): runs
    * `step(frame, r)` for r = 1, 2, … from `start`, and returns the last
    * frame and the rounds run.
    *  - Cadence: round r's frame is cut when r % `every` == 0.
    *  - Stop: with `stop`, `start` is cut first and the cut of round r
    *    (0 = `start`) counts the rows matching `stop(r)` in its own job;
    *    a count of 0 ends the loop. A step that returns its input frame
    *    is a fixed point: the loop ends, and that round does not count.
    *  - Cap: at most `maxRounds` rounds.
    *  - Release: once a cut is built, the driver's previous cut is
    *    unpersisted, so a step must not keep outputs that read the frame
    *    it is given (read its own cut, or observe the frame it returns). */
  def rounds(start: DataFrame, maxRounds: Int,
      stop: Option[Int => Column] = None, every: Int = 1)
      (step: (DataFrame, Int) => DataFrame): (DataFrame, Int) = {
    // the stop count rides on the cut's own job as an Observation: a
    // separate filter(..).count() would be one more job per round
    def cut(df: DataFrame, r: Int): (DataFrame, Boolean) = stop match {
      case Some(c) =>
        val obs = Observation()
        val out = df.observe(obs, count(when(c(r), lit(1))).as("n"))
          .truncateLineage()
        (out, obs.get("n").asInstanceOf[Long] > 0)
      case None => (df.truncateLineage(), true)
    }
    @tailrec def loop(frame: DataFrame, r: Int, more: Boolean,
        last: Option[DataFrame]): (DataFrame, Int) = {
      lazy val next = step(frame, r + 1)
      if (!more || r == maxRounds || (next eq frame)) (frame, r)
      else if ((r + 1) % every != 0) loop(next, r + 1, more, last)
      else {
        val (c, go) = cut(next, r + 1)
        last.foreach(l => release(l.sparkSession, planRddIds(l)))
        loop(c, r + 1, go, Some(c))
      }
    }
    if (stop.isEmpty) loop(start, 0, more = true, None)
    else { val (c, go) = cut(start, 0); loop(c, 0, go, Some(c)) }
  }

  implicit final class LineageOps(private val df: DataFrame) extends AnyVal {
    def truncateLineage(): DataFrame = cut(eager = true)

    /** LAZY variant: materializes on FIRST USE instead of at plan
      * construction. For frames that a caller's plan may legitimately
      * PRUNE AWAY entirely (e.g. the triangle side of clustering()
      * under a count() that join-eliminates the unique-key left join):
      * an eager cut would execute the subtree even when the optimizer
      * proves it dead, a lazy one costs nothing unless referenced —
      * while still deduplicating multi-reference consumers. */
    def truncateLineageLazy(): DataFrame = cut(eager = false)

    /** The one checkpoint call: reliable when the session opts in and
      * has a checkpoint dir, local otherwise. Inside [[releasing]] the
      * cut's block is recorded as the kernel's own. */
    private def cut(eager: Boolean): DataFrame = {
      val spark = df.sparkSession
      val reliable =
        spark.conf.get(ReliableKey, "false").toBoolean &&
          spark.sparkContext.getCheckpointDir.isDefined
      val out = if (reliable) df.checkpoint(eager) else df.localCheckpoint(eager)
      owned.get.foreach(o => owned.set(Some(o ++ planRddIds(out))))
      out
    }
  }
}
