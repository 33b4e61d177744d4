package graft.engine

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions.{count, lit, when}

/** Lineage truncation for iterative / reused plans.
  *
  * Every iterative loop (BFS hops, label propagation, chain DP) and every
  * materialize-once-reuse-twice frame needs its lineage cut so plans
  * don't nest. `localCheckpoint` does that with executor-local blocks —
  * right for single-JVM runs, but on a real cluster a lost executor makes
  * those blocks unrecoverable (lineage is gone, so they can't be
  * recomputed) and the job dies. The cluster-safe form is a RELIABLE
  * checkpoint into a fault-tolerant filesystem.
  *
  * `truncateLineage()` picks per session: when
  * `spark.graft.reliableCheckpoints=true` AND a checkpoint dir is
  * configured (`spark.sparkContext.setCheckpointDir(...)`, pointing at
  * HDFS/S3/DBFS on a cluster), it uses `checkpoint()`; otherwise it falls
  * back to `localCheckpoint()`. Both variants materialize eagerly and
  * preserve the frame's partitioning, so operator plans are identical
  * either way — only the storage durability differs.
  *
  * Reliable checkpoint files are NOT deleted by Spark unless
  * `spark.cleaner.referenceTracking.cleanCheckpoints=true` (default
  * false) — iterative operators write one checkpoint per hop, so a
  * long-lived cluster session that opts into reliable checkpoints should
  * also set that cleaner conf (or clean the checkpoint dir itself) to
  * keep durable storage bounded. See docs/TUNING.md.
  */
object Lineage {

  /** Session conf key opting iterative operators into reliable
    * checkpoints (default false = localCheckpoint). */
  val ReliableKey = "spark.graft.reliableCheckpoints"

  /** Ids of the RDD blocks currently persisted on `spark`'s context —
    * snapshot this AFTER building the session's long-lived artifacts
    * (KGraph indexes, DedupIndex, the co-purchase projection) to get
    * the keep-set for [[releaseTransient]]. */
  def persistentIds(spark: org.apache.spark.sql.SparkSession): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Checkpoint-block hygiene for long-lived sessions: unpersists every
    * persisted RDD whose id is not in `keep`, returning how many were
    * dropped. Local checkpoints are persisted blocks that NOTHING ever
    * unpersists — a session that runs many queries back-to-back (a
    * bench sweep, a notebook, a query service) accumulates every
    * query's per-hop blocks until the block manager crowds out live
    * work (round 9: q273 completed solo in 162 s but died twice in the
    * interleaved sf1.0 sweep under ~40 queries' accumulated blocks).
    * Call between queries with the post-ingestion [[persistentIds]]
    * snapshot as `keep`; a released frame is gone for good (lineage is
    * truncated), which is exactly right for per-query transients and
    * exactly wrong for shared artifacts — hence the explicit keep-set
    * rather than a blanket clear. */
  def releaseTransient(spark: org.apache.spark.sql.SparkSession,
      keep: Set[Int], blocking: Boolean = false): Int = {
    val drop = spark.sparkContext.getPersistentRDDs
      .filter { case (id, _) => !keep(id) }
    // blocking=true for benchmark harnesses: an async unpersist returns
    // immediately and the block-manager removal work bleeds into the
    // NEXT query's timed window (round 13: q268's in-sweep samples read
    // 6.5-8.0 s while a post-quiesce retry of the same binary read
    // 3.8 s). Service callers keep the async default.
    drop.values.foreach(_.unpersist(blocking))
    drop.size
  }

  implicit final class LineageOps(private val df: DataFrame) extends AnyVal {
    def truncateLineage(): DataFrame = {
      val spark = df.sparkSession
      val reliable =
        spark.conf.get(ReliableKey, "false").toBoolean &&
          spark.sparkContext.getCheckpointDir.isDefined
      if (reliable) df.checkpoint() else df.localCheckpoint()
    }

    /** [[truncateLineage]] that also counts, in the SAME job, the rows
      * of the checkpointed frame matching each of `conds` (through an
      * `Observation` on the checkpoint's plan). For iterative loops
      * whose stop test or branch needs a count of the round's frame:
      * a separate `filter(cond).count()` / `isEmpty` is one more job per
      * round, each costing tens of milliseconds of scheduling on a
      * small graph. Works for local and reliable checkpoints alike
      * (both materialize through one eager checkpoint action). */
    def truncateLineageCounting(conds: Column*): (DataFrame, Seq[Long]) = {
      val obs = Observation()
      val names = conds.indices.map(i => s"n$i")
      val counts = conds.zip(names).map { case (c, n) =>
        count(when(c, lit(1))).as(n) }
      val out = df.observe(obs, counts.head, counts.tail: _*)
        .truncateLineage()
      val row = obs.get
      (out, names.map(n => row(n).asInstanceOf[Long]))
    }

    /** LAZY variant: materializes on FIRST USE instead of at plan
      * construction. For frames that a caller's plan may legitimately
      * PRUNE AWAY entirely (e.g. the triangle side of clustering()
      * under a count() that join-eliminates the unique-key left join):
      * an eager cut would execute the subtree even when the optimizer
      * proves it dead, a lazy one costs nothing unless referenced —
      * while still deduplicating multi-reference consumers. */
    def truncateLineageLazy(): DataFrame = {
      val spark = df.sparkSession
      val reliable =
        spark.conf.get(ReliableKey, "false").toBoolean &&
          spark.sparkContext.getCheckpointDir.isDefined
      if (reliable) df.checkpoint(eager = false)
      else df.localCheckpoint(eager = false)
    }
  }
}
