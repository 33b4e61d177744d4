package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.engine.Lineage
import graft.graph.GraphOps
import graft.queries.Catalog

/** Exercises the cluster-safe (reliable) checkpoint path of
  * Lineage.truncateLineage: with the opt-in conf + a checkpoint dir set,
  * iterative operators must write reliable checkpoints and still produce
  * identical results — and the round driver's cadence, stop count and
  * block release. */
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

  test("rounds counts its stop test in the cut job, local and reliable") {
    // a shuffled frame across several partitions; every round moves x
    // down by 300, and the stop test counts the rows still >= 0, so the
    // loop must stop exactly at the round whose cut counts 0
    val df = spark.range(0, 1000, 1, 4).toDF("x")
      .repartition(3, col("x")).select(col("x"))
    def check(): Unit = {
      val (out, r) = Lineage.rounds(df, 10, Some(_ => col("x") >= 0)) {
        (f, _) => f.select((col("x") - 300).as("x")) }
      assert(r == 4 && out.count() == 1000L && out.filter(col("x") >= 0).isEmpty)
      val (_, capped) = Lineage.rounds(df, 2, Some(_ => col("x") >= 0)) {
        (f, _) => f.select((col("x") - 300).as("x")) }
      assert(capped == 2)
      val (empty, none) = Lineage.rounds(df.filter(col("x") < 0), 10,
          Some(_ => lit(true))) { (f, _) => f.select(col("x")) }
      assert(none == 0 && empty.isEmpty)
      // a step that returns its input is a fixed point: that round does
      // not count; without a stop test the start is never cut
      val (same, fixed) = Lineage.rounds(df, 10) { (f, r) =>
        if (r == 3) f else f.select(col("x")) }
      assert(fixed == 2 && same.count() == 1000L)
    }
    check()
    val dir = Files.createTempDirectory("graft-ckpt-count").toFile
    spark.sparkContext.setCheckpointDir(dir.getAbsolutePath)
    spark.conf.set(Lineage.ReliableKey, "true")
    try check()
    finally spark.conf.set(Lineage.ReliableKey, "false")
  }

  test("rounds cuts every `every`-th round and releases the cut it superseded") {
    val s = spark.newSession()
    val df = s.range(0, 100, 1, 2).toDF("x")
    val before = Lineage.persistentIds(s)
    val (out, r) = Lineage.rounds(df, 7, every = 3) { (f, _) =>
      f.select((col("x") + 1).as("x")) }
    assert(r == 7 && out.agg(sum(col("x"))).head().getLong(0) == 4950L + 700L)
    // cuts at rounds 3 and 6; round 7 chains over the round-6 cut, which
    // alone stays persisted
    val grown = Lineage.persistentIds(s) -- before
    assert(grown == Lineage.planRddIds(out) && grown.size == 1, grown)
  }

  test("each ported kernel leaves only its result's blocks persisted") {
    import graft.graph.{GraphAnalytics, Hits, KGraph, PageRank}
    import graft.security.AccessControl
    val s = spark.newSession()
    import s.implicits._
    // the session artifacts q256 and q343 read are built before the
    // snapshots: they are the session's, not the kernels'
    KGraph.rankEdgesMaterialized(s, sf).count()
    KGraph.canonicalMaterialized(s, sf).count()
    val path = (0 until 12).map(i => (f"n$i%02d", f"n${i + 1}%02d"))
    val edges = (path ++ Seq(("n00", "n02"), ("n01", "n02"), ("n05", "n07"),
        ("n06", "n07"), ("n20", "n21")))
      .toDF("from_id", "to_id")
      .withColumn("relation_type", lit("t"))
      .withColumn("confidence", lit(0.5))
    val canon = GraphAnalytics.canonical(edges)
    val weighted = canon.withColumn("w", length(col("a")).cast("long"))
    val roles = Seq(("r1", Seq.empty[String], Seq("r2")),
        ("r2", Seq.empty[String], Seq("r3")), ("r3", Seq.empty[String], Seq("r1")))
      .toDF("role_id", "permissions", "parent_roles")
    val kernels: Seq[(String, () => DataFrame)] = Seq(
      "multiHop" -> (() => GraphOps.multiHop(edges, Seq("n00").toDF("node_id"), 4)),
      "roleClosure" -> (() => AccessControl.roleClosure(roles)),
      "connectedComponents" -> (() => GraphOps.connectedComponents(edges)),
      "kCorePeel" -> (() => GraphAnalytics.kCorePeel(canon, 2)._1),
      "kTrussPeel" -> (() => GraphAnalytics.kTrussPeel(canon, 3)._1),
      "labelPropagation" -> (() => GraphAnalytics.labelPropagation(canon, 7)),
      "localMaxMatching" -> (() => GraphAnalytics.localMaxMatching(weighted, 3)),
      "PageRank.ranks" -> (() => PageRank.ranks(edges, 3)),
      "PageRank.weightedRanks" -> (() => PageRank.weightedRanks(edges, 3)),
      "PageRank.personalizedRanks" -> (() =>
        PageRank.personalizedRanks(edges, Seq("n00").toDF("node_id"), 3)),
      "Hits.scores" -> (() => Hits.scores(edges, 3)),
      "q256" -> (() => Catalog.byName("q256_betweenness").run(s, sf)),
      "q343" -> (() => Catalog.byName("q343_hyperball").run(s, sf)))
    for ((name, kernel) <- kernels) {
      val before = Lineage.persistentIds(s)
      val out = kernel()
      val grown = Lineage.persistentIds(s) -- before
      assert(grown == Lineage.planRddIds(out) -- before,
        s"$name left blocks its result does not read: " +
          s"${grown -- Lineage.planRddIds(out)}")
      assert(out.collect().nonEmpty, s"$name read back empty")
    }
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
