package graft

import org.apache.spark.sql.execution.LogicalRDD
import graft.engine.{Lineage, SessionCache}
import graft.queries.{Catalog, GraphAnalyticsQueries}

/** Artifact lifetime: an artifact a query builds lazily, after the
  * caller's keep-set snapshot, must survive `Lineage.releaseTransient`
  * (q293, q256 and q12 each died on CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND
  * when a main's warm list missed an artifact they read); and the one
  * warm path builds what its groups declare. */
class ArtifactsSpec extends SparkSpec {

  test("an artifact built after the keep-set snapshot survives the sweep") {
    val s = spark.newSession()
    val keep = Lineage.persistentIds(s)
    val q = Catalog.byName("q293_ktruss_layers")
    try {
      // no warm-up: q293 builds the co-purchase support census itself
      val first = ScaleCheck.fingerprint(q.run(s, sf))
      Lineage.releaseTransient(s, keep, blocking = true)
      val support = GraphAnalyticsQueries.copurchaseSupport(s, sf)
      val ids = support.queryExecution.analyzed.collect {
        case r: LogicalRDD => r.rdd.id }
      val persisted = s.sparkContext.getPersistentRDDs
      assert(ids.nonEmpty && ids.forall(persisted.contains),
        s"artifact rdds $ids swept (persisted: ${persisted.keys.toSeq.sorted})")
      assert(ScaleCheck.fingerprint(q.run(s, sf)) == first)
    } finally {
      SessionCache.invalidate(s)
      Lineage.releaseTransient(s, keep, blocking = true)
    }
  }

  test("warm builds the declared artifacts of its groups, in order") {
    // the groups are Bench's ingest_* rows
    assert(Artifacts.groups ==
      Seq("kgraph_index", "dedup_index", "copurchase", "census"))
    assert(Artifacts.all.map(_.name).distinct.size == Artifacts.all.size)
    val s = spark.newSession()
    val keep = Lineage.persistentIds(s)
    try {
      val built = Artifacts.warm(s, sf, Seq("copurchase", "census"))
      assert(built.map(_._1.name) ==
        Seq("copurchase.canon", "copurchase.support", "kgraph.support"))
    } finally {
      SessionCache.invalidate(s)
      Lineage.releaseTransient(s, keep, blocking = true)
    }
  }
}
