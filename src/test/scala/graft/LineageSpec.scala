package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.engine.Lineage
import graft.graph.GraphOps

/** Exercises the cluster-safe (reliable) checkpoint path of
  * Lineage.truncateLineage: with the opt-in conf + a checkpoint dir set,
  * iterative operators must write reliable checkpoints and still produce
  * identical results. */
class LineageSpec extends SparkSpec {
  import spark.implicits._

  private lazy val edges = Seq(
    ("a", "b", "likes", 0.9), ("b", "c", "likes", 0.8), ("c", "d", "likes", 0.7))
    .toDF("from_id", "to_id", "relation_type", "confidence")

  test("reliable checkpoints produce identical BFS results and hit the dir") {
    val seeds = Seq("a").toDF("node_id")
    val local = GraphOps.multiHop(edges, seeds, maxHops = 3)
      .as[(String, Int)].collect().toSet

    val dir = Files.createTempDirectory("graft-ckpt").toFile
    spark.sparkContext.setCheckpointDir(dir.getAbsolutePath)
    spark.conf.set(Lineage.ReliableKey, "true")
    try {
      val reliable = GraphOps.multiHop(edges, seeds, maxHops = 3)
        .as[(String, Int)].collect().toSet
      assert(reliable == local)
      assert(reliable == Set(("a", 0), ("b", 1), ("c", 2), ("d", 3)))
      // the reliable path actually wrote checkpoint RDD data — look for
      // rdd-* entries under the UUID subdir setCheckpointDir created
      // (the subdir itself exists even when nothing checkpoints, so its
      // mere presence would be a vacuous check)
      val rddDirs = Option(dir.listFiles()).getOrElse(Array.empty)
        .flatMap(u => Option(u.listFiles()).getOrElse(Array.empty))
        .filter(_.getName.startsWith("rdd-"))
      assert(rddDirs.nonEmpty,
        s"expected rdd-* reliable checkpoint data under $dir")
    } finally {
      spark.conf.set(Lineage.ReliableKey, "false")
    }
  }

  test("truncateLineageCounting counts in the checkpoint job, local and reliable") {
    // a shuffled frame across several partitions, so a second
    // computation of any partition would show up as an inflated count
    val df = spark.range(0, 1000, 1, 4).toDF("x")
      .repartition(3, col("x")).select(col("x"), (col("x") % 7).as("m"))
    def check(): Unit = {
      val (out, Seq(all, zero, none)) = Lineage.LineageOps(df)
        .truncateLineageCounting(lit(true), col("m") === 0, col("x") < 0)
      assert((all, zero, none) == ((1000L, 143L, 0L)))
      assert(out.count() == 1000L)
      val (empty, Seq(n)) = Lineage.LineageOps(df.filter(col("x") < 0))
        .truncateLineageCounting(lit(true))
      assert(n == 0L && empty.isEmpty)
    }
    check()
    val dir = Files.createTempDirectory("graft-ckpt-count").toFile
    spark.sparkContext.setCheckpointDir(dir.getAbsolutePath)
    spark.conf.set(Lineage.ReliableKey, "true")
    try check()
    finally spark.conf.set(Lineage.ReliableKey, "false")
  }

  test("releaseTransient frees per-query blocks but keeps pinned artifacts") {
    // the bench/sweep hygiene contract (round 9: q273 died under ~40
    // queries' accumulated localCheckpoint blocks): snapshot the
    // keep-set after the session artifacts exist, then releasing drops
    // exactly the blocks persisted since — and the artifact still reads
    val artifact = Lineage.LineageOps(Seq(1, 2, 3).toDF("x")).truncateLineage()
    val keep = Lineage.persistentIds(spark)
    val transientDf = Lineage.LineageOps(Seq(4, 5).toDF("x")).truncateLineage()
    assert(transientDf.count() == 2)
    assert(Lineage.persistentIds(spark) != keep)
    val dropped = Lineage.releaseTransient(spark, keep)
    assert(dropped >= 1)
    assert(Lineage.persistentIds(spark) == keep,
      "released ids must leave the persistent-RDD map")
    assert(artifact.as[Int].collect().sorted.toSeq == Seq(1, 2, 3),
      "pinned artifact must survive the sweep")
  }

  test("without the opt-in conf the local path is used even with a dir set") {
    // conf reset in the previous test's finally; dir may still be set —
    // truncateLineage must NOT go reliable on the dir alone
    val before = spark.sparkContext.getCheckpointDir
    val df = Lineage.LineageOps(Seq(1, 2, 3).toDF("x")).truncateLineage()
    assert(df.as[Int].collect().sorted.toSeq == Seq(1, 2, 3))
    assert(spark.conf.get(Lineage.ReliableKey, "false") == "false")
    assert(spark.sparkContext.getCheckpointDir == before)
  }
}
