package graft.kebench

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.graph.{GraphOps, KGraph}
import graft.dedup.DedupIndex
import graft.queries.{Catalog, GraphAnalyticsQueries}

/** One timed operation of a workload. `run` returns the frames whose
  * fingerprints are checked against the pins, keyed by pin name.
  * `consume` says whether reading those frames is part of the op (a
  * catalog query's result is consumed inside its timed window; an
  * artifact build is timed up to the materialized artifact and its
  * frames are checked after the window closes). */
final case class Op(name: String, layer: String, deps: Seq[String],
    consume: Boolean, run: (SparkSession, String) => Seq[(String, DataFrame)])

/** A workload: its timed ops, and the artifact builds (ingest ops) its
  * set-up runs, in dependency order. */
final case class Workload(name: String, ops: Seq[Op], setup: Seq[Op]) {

  /** The pass order for `seed`: a seeded topological order, so every
    * dependency runs before its dependents and the seed only permutes
    * independent ops. */
  def order(seed: Long): Seq[Op] = {
    val rnd = new scala.util.Random(seed)
    var left = rnd.shuffle(ops)
    val done = scala.collection.mutable.LinkedHashSet[String]()
    while (left.nonEmpty) {
      val next = left.find(_.deps.forall(done)).getOrElse(
        sys.error(s"$name: dependency cycle among ${left.map(_.name)}"))
      done += next.name
      left = left.filterNot(_ eq next)
    }
    done.toSeq.map(n => ops.find(_.name == n).get)
  }
}

object Workload {

  /** The 18 headliners that read a KGraph or co-purchase artifact. */
  val graphHeadliners: Seq[String] = Seq(
    "q12_multihop_bfs_in", "q14_shortest_path_len", "q63_sequence_chains",
    "q73_topic_subgraph", "q147_pagerank", "q191_copurchase_clustering",
    "q192_kcore_layers", "q193_lpa_communities", "q231_graph_mixing",
    "q256_betweenness", "q268_link_prediction", "q269_hits",
    "q273_graph_census", "q293_ktruss_layers",
    "q294_personalized_pagerank", "q299_bridge_audit",
    "q338_local_max_matching", "q343_hyperball")

  /** The `graph` workload's ops: nine of the 18, because a run of all
    * 18 (~85 s on 4 cores) is too long for 4 + 22 × 2 runs of both
    * workloads to fit the run budget. Kept: the heaviest iterative rows
    * (q293, q343, q268), the two costliest in jobs at this size (q256,
    * q338), and one reader of each packed index (q12 incoming, q14
    * both, q147 rank and node set, q192 canonical lex). Dropped: q63,
    * q269 and q294 (rank family, like q147), q193 and q231 (canonical
    * lex, like q192), q73, q191, and the two census readers q273 and
    * q299; the census build stays timed on `ingest`. `graph-all` runs
    * all 18. */
  val graphQueries: Seq[String] = Seq(
    "q12_multihop_bfs_in", "q14_shortest_path_len", "q147_pagerank",
    "q192_kcore_layers", "q256_betweenness", "q268_link_prediction",
    "q293_ktruss_layers", "q338_local_max_matching", "q343_hyperball")

  private def query(name: String): Op = {
    val q = Catalog.byName(name)
    Op(name, "queries", Nil, consume = true,
      (s, dir) => Seq(name -> q.run(s, dir)))
  }

  private def packed(s: SparkSession, d: String): Seq[(String, DataFrame)] =
    Seq(
      "kgraph.lexedges" -> KGraph.lexEdgesMaterialized(s, d),
      "kgraph.rankedges" -> KGraph.rankEdgesMaterialized(s, d),
      "kgraph.nodeset" -> KGraph.nodeSetMaterialized(s, d),
      "kgraph.canonlex" -> KGraph.canonicalLexMaterialized(s, d),
      "kgraph.inlex" -> KGraph.incomingLexMaterialized(s, d),
      "kgraph.bothlex" -> KGraph.bothLexMaterialized(s, d))

  private def oriented(s: SparkSession, d: String): Seq[(String, DataFrame)] =
    Seq(GraphOps.Incoming, GraphOps.Outgoing, GraphOps.Both).map(dir =>
      s"kgraph.oriented.$dir" -> KGraph.orientedMaterialized(s, d, dir))

  private def build(name: String, layer: String, deps: Seq[String])
      (frames: (SparkSession, String) => Seq[(String, DataFrame)]): Op =
    Op(name, layer, deps, consume = false, frames)

  /** Every session-artifact build, each from the raw tables plus the
    * artifacts it declares as deps. */
  val ingestOps: Seq[Op] = Seq(
    build("kgraph.edges", "kgraph", Nil)((s, d) =>
      Seq("kgraph.edges" -> KGraph.materialized(s, d))),
    build("kgraph.oriented", "kgraph", Seq("kgraph.edges"))(oriented),
    build("kgraph.canonical", "kgraph", Seq("kgraph.edges"))((s, d) =>
      Seq("kgraph.canonical" -> KGraph.canonicalMaterialized(s, d))),
    build("kgraph.packed", "kgraph", Seq("kgraph.edges"))(packed),
    build("kgraph.support", "kgraph", Seq("kgraph.canonical"))((s, d) =>
      Seq("kgraph.support" -> KGraph.supportMaterialized(s, d))),
    build("copurchase.canon", "copurchase", Nil)((s, d) =>
      Seq("copurchase.canon" -> GraphAnalyticsQueries.copurchaseCanon(s, d))),
    build("copurchase.support", "copurchase", Seq("copurchase.canon"))(
      (s, d) => Seq("copurchase.support" ->
        GraphAnalyticsQueries.copurchaseSupport(s, d))),
    build("dedup_index.clusters", "dedup_index", Nil)((s, d) =>
      Seq("dedup_index.clusters" -> DedupIndex.clusters(s, d))),
    // the simhash table shares the signature table the clusters build
    // makes; ordering it after clusters keeps that cost on one op
    build("dedup_index.simhash", "dedup_index", Seq("dedup_index.clusters"))(
      (s, d) => Seq("dedup_index.simhash" -> DedupIndex.simhashPairs(s, d))))

  private def ingest(names: String*): Seq[Op] =
    names.map(n => ingestOps.find(_.name == n).get)

  /** The artifacts each workload's ops read, found by running every op
    * in a fresh session and listing the session-cache keys it created
    * (`--mode discover`). The oriented string indexes and the simhash
    * table are read by no headliner, so only `ingest` builds them. */
  val all: Seq[Workload] = Seq(
    Workload("graph", graphQueries.map(query), ingest("kgraph.edges",
      "kgraph.canonical", "kgraph.packed", "copurchase.canon",
      "copurchase.support")),
    Workload("graph-all", graphHeadliners.map(query), ingest("kgraph.edges",
      "kgraph.canonical", "kgraph.support", "kgraph.packed",
      "copurchase.canon", "copurchase.support")),
    Workload("corpus",
      Catalog.all.filter(q => q.headline && !graphHeadliners.contains(q.name))
        .map(q => query(q.name)),
      ingest("dedup_index.clusters")),
    Workload("ingest", ingestOps, Nil))

  def byName(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$name' (known: ${all.map(_.name).mkString(", ")})"))
}
