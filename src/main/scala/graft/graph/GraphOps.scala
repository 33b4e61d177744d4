package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.engine.Lineage
import graft.engine.Lineage.LineageOps

/** Graph traversal operators over plain `edges` DataFrames
  * (`from_id`, `to_id`, `relation_type`, `confidence`).
  *
  * The reference implements these as queue-based BFS in Python
  * (memory_core/db/graph_storage_adapter.py:319-455,
  * mcp_integration/enhanced_mcp_endpoint.py:76-270). Here each hop is a
  * distributed hash join on the node id; depth is small (≤5 per the
  * reference defaults) so the loop is driver-side orchestration of
  * Catalyst plans on the one round driver, `Lineage.rounds`, which cuts
  * lineage per hop so plans don't grow exponentially (reliable
  * checkpoints on a cluster when `spark.graft.reliableCheckpoints` + a
  * checkpoint dir are set; localCheckpoint otherwise) and releases each
  * superseded hop's blocks.
  *
  * Scale notes (100 TB): every hop shuffles on the join key only; the
  * BFS carries one reached-set frame and merges each level into it with
  * a keyed min-hop aggregate ([[bfsFrame]]; no driver-side state). For a
  * 1000-executor cluster, pre-bucketing `edges` by `from_id` makes each
  * hop a co-partitioned join with no edge-side shuffle.
  */
object GraphOps {

  sealed trait Direction
  case object Outgoing extends Direction
  case object Incoming extends Direction
  case object Both extends Direction

  /** Orient edges for a traversal direction: (node_id -> next_id). */
  def oriented(edges: DataFrame, dir: Direction): DataFrame = dir match {
    case Outgoing => edges.select(col("from_id").as("node_id"),
      col("to_id").as("next_id"), col("relation_type"), col("confidence"))
    case Incoming => edges.select(col("to_id").as("node_id"),
      col("from_id").as("next_id"), col("relation_type"), col("confidence"))
    case Both => oriented(edges, Outgoing).unionByName(oriented(edges, Incoming))
  }

  /** 1-hop neighbor expansion with optional relation-type filter
    * (graph_storage_adapter.py:418-455 — both_e() semantics). */
  def neighbors(edges: DataFrame, seeds: DataFrame, dir: Direction,
      relTypes: Seq[String] = Nil, preOriented: Boolean = false): DataFrame = {
    val e0 = if (preOriented) edges else oriented(edges, dir)
    val e = if (relTypes.isEmpty) e0 else e0.filter(col("relation_type").isin(relTypes: _*))
    seeds.join(e, "node_id")
      .select(col("node_id"), col("next_id").as("neighbor_id"),
        col("relation_type"), col("confidence"))
  }

  /** Level-synchronous BFS annotating each reached node with its minimum
    * hop distance (graph_storage_adapter.py:424-455 semantics: dedup
    * visited, hop_distance = first level reached).
    *
    * Optional per-edge predicate (relation filter / min confidence) as in
    * enhanced_mcp_endpoint.py:76-171.
    */
  def multiHop(edges: DataFrame, seeds: DataFrame, maxHops: Int,
      dir: Direction = Outgoing, edgeFilter: Option[Column] = None,
      preOriented: Boolean = false): DataFrame =
    Lineage.releasing(bfsFrame(walkEdges(edges, dir, edgeFilter,
      preOriented, Nil), seeds, maxHops))(identity)

  /** The edge index a walk joins: (node_id, next_id, `extra`…).
    * `preOriented`: edges is already (node_id, next_id, …), a packed
    * traversal index (the analog of the reference's from/to edge
    * indexes), used as is without a filter. Otherwise the (filtered,
    * oriented) edge set is cut once, spread by the join key, so no hop
    * re-runs the filter; the cut keeps no partitioning a hop's join can
    * reuse (see Lineage), so bucketing edges by node_id is what removes
    * that shuffle on a cluster. */
  private def walkEdges(edges: DataFrame, dir: Direction,
      edgeFilter: Option[Column], preOriented: Boolean,
      extra: Seq[String]): DataFrame = {
    val e0 = if (preOriented) edges else oriented(edges, dir)
    val keep = Seq(col("node_id"), col("next_id")) ++ extra.map(col)
    edgeFilter match {
      case None if preOriented => e0.select(keep: _*)
      case _ => edgeFilter.map(e0.filter).getOrElse(e0)
        .select(keep: _*)
        .repartition(col("node_id"))
        .truncateLineage()
    }
  }

  /** A value [[bfsFrame]] carries on every frame row: `init` on the
    * start rows, `step` computed for each arrival from its frontier row
    * and edge, and `merge` folding a new row's first-level arrivals.
    * [[Sigma]] counts shortest paths; [[multiHopPaths]] renders one. */
  private[graft] case class Carry(name: String, init: Column, step: Column,
      merge: Column => Column)

  /** σ, the number of shortest paths: 1 at a start row, the frontier
    * row's σ along each edge, summed over a node's first-level arrivals. */
  private[graft] val Sigma = Carry("sigma", lit(1L), col("sigma"), c => sum(c))

  /** The carried-frame BFS kernel behind [[multiHop]], [[multiHopPaths]],
    * the sampled multi-source walks (q249, q258) and q256's forward
    * pass. ONE frame carries every reached row's state — (keys…,
    * node_id, [carry,] hop), `keys` naming the source a row was reached
    * from in a multi-source walk — and each hop h is
    *
    *  - frontier: `frame.filter(hop === h-1)` — a scan, not a job;
    *  - arrivals: frontier ⋈ e on node_id, tagged hop h, each with the
    *    carry's `step`;
    *  - merge: (frame ∪ arrivals) grouped by (keys…, node_id) — ONE
    *    min-hop aggregate, with the carried value merged over the
    *    first-level arrivals only: an already-reached row keeps its hop
    *    and value, a new row folds its arrivals' values with `merge`;
    *  - one [[Lineage.rounds]] cut of the merged frame, which also
    *    counts the new level: an empty level stops the walk without a
    *    separate probe job.
    *
    * This is the GraphX superstep shape (one join plus one aggregate
    * over a single vertex-state collection). `e` is
    * (node_id, next_id, plus any column the carry's step reads);
    * `start` carries `keys` and node_id (duplicates collapse). A keyed
    * walk is a sampled multi-source walk (q249, q256, q258): its
    * frontier is (seed × reached node)-bounded, so it is broadcast; an
    * unkeyed walk's frontier can be O(n), so the join strategy is
    * AQE's. */
  private[graft] def bfsFrame(e: DataFrame, start: DataFrame, maxHops: Int,
      keys: Seq[String] = Nil, carry: Option[Carry] = None): DataFrame = {
    val id = keys.map(col) :+ col("node_id")
    val carried = carry.map(c => col(c.name)).toSeq
    // each cut counts the level just reached (every start row is hop 0)
    Lineage.rounds(start.select(id: _*).distinct()
        .select(id ++ carry.map(c => c.init.as(c.name)) :+ lit(0).as("hop"): _*),
        maxHops, Some(h => col("hop") === h)) { (frame, h) =>
      val front = frame.filter(col("hop") === h - 1).select(id ++ carried: _*)
      val arrivals = (if (keys.nonEmpty) broadcast(front) else front)
        .join(e, "node_id")
        .select(keys.map(col) ++ (col("next_id").as("node_id") +:
          carry.map(c => c.step.as(c.name)).toSeq) :+ lit(h).as("hop"): _*)
      // a reached row keeps its hop and carried value; a new row merges
      // its arrivals' values
      frame.unionByName(arrivals).groupBy(id: _*)
        .agg(min(col("hop")).as("hop"), carry.map(c =>
          coalesce(max(when(col("hop") < h, col(c.name))),
            c.merge(col(c.name))).as(c.name)).toSeq: _*)
        .select(id ++ carried :+ col("hop"): _*)
    }._1
  }

  /** Multi-hop BFS that also reconstructs one rendered path per reached
    * node — the distributed twin of the reference's path-recording
    * traversal (enhanced_mcp_endpoint.py:76-171, paths rendered as
    * [n1, "--type-->", n2] and capped by the caller; graph_storage_adapter
    * .py:319-359 node-id paths via `nodesOnly`). Returns
    * (node_id, hop, path).
    *
    * The reference keeps the FIRST path found, which depends on queue
    * insertion order; a distributed engine needs an order-free rule, so
    * this keeps the lexicographically smallest rendered path among
    * min-hop paths. That min is computable per level: all min-hop paths
    * ending at the same node render with the same arrow count and tail
    * id, so none is a string-prefix of another and appending one more
    * edge preserves their ordering — min-of-extensions-of-mins is the
    * global min. So the path is a [[Carry]] of [[bfsFrame]]: the seed
    * id, extended along each edge, merged by `min` (map-side
    * combinable, so each hop stays one join + one partial aggregate at
    * scale).
    */
  def multiHopPaths(edges: DataFrame, seeds: DataFrame, maxHops: Int,
      dir: Direction = Outgoing, edgeFilter: Option[Column] = None,
      preOriented: Boolean = false, nodesOnly: Boolean = false): DataFrame = {
    val ext =
      if (nodesOnly) concat(col("path"), lit(" > "), col("next_id"))
      else concat(col("path"), lit(" --"), col("relation_type"),
        lit("--> "), col("next_id"))
    Lineage.releasing(bfsFrame(walkEdges(edges, dir, edgeFilter,
        preOriented, if (nodesOnly) Nil else Seq("relation_type")), seeds,
        maxHops, carry = Some(Carry("path", col("node_id"), ext, c => min(c))))
      .select(col("node_id"), col("hop"), col("path")))(identity)
  }

  /** Shortest path WITH reconstruction: min-hop node-id path from the
    * source to every reachable node (both directions), rendered
    * "src > n1 > n2" — graph_storage_adapter.py:319-359 returns exactly
    * this node-id list for the first path found; ties break
    * lexicographically as in `multiHopPaths`. */
  def shortestPaths(edges: DataFrame, source: DataFrame, maxHops: Int,
      preOriented: Boolean = false): DataFrame =
    multiHopPaths(edges, source, maxHops, Both, preOriented = preOriented,
      nodesOnly = true)

  /** Unweighted shortest-path distances from a source (both directions,
    * as in graph_storage_adapter.py:319-359 / sqlite_storage.py:571-617):
    * BFS with min-hop is exactly shortest path for unit weights. */
  def shortestPathLengths(edges: DataFrame, source: DataFrame,
      maxHops: Int, preOriented: Boolean = false): DataFrame =
    multiHop(edges, source, maxHops, Both, preOriented = preOriented)

  /** Induced subgraph: edges whose BOTH endpoints are in `keep`
    * (enhanced_mcp_endpoint.py:233-252) — two semi-joins. */
  def inducedSubgraph(edges: DataFrame, keep: DataFrame): DataFrame =
    edges
      .join(keep.select(col("node_id").as("from_id")), Seq("from_id"), "left_semi")
      .join(keep.select(col("node_id").as("to_id")), Seq("to_id"), "left_semi")

  /** Subgraph density |E| / |V| (enhanced_mcp_endpoint.py:268). */
  def density(edges: DataFrame, nodes: DataFrame): Double = {
    val v = nodes.count().toDouble
    if (v == 0) 0.0 else edges.count().toDouble / v
  }

  /** Topic subgraph extraction (enhanced_mcp_endpoint.py:174-268) — the
    * composed pipeline: semantic top-k hits around the topic → keyword
    * relevance filter (matched keywords / |keywords| ≥ minRelevance,
    * :213-218) → top `maxNodes` by relevance → induced subgraph over the
    * kept nodes → density annotation (|E| / max(1, |V|), :263).
    *
    * `topicHits` is the semantic-search stage's output (node_id rows, the
    * analog of search_similar_nodes' top min(2·maxNodes, 100), :196-199);
    * `nodeContent` maps node_id → content for the keyword check. Returns
    * the subgraph's edges with (n_nodes, n_edges, density) annotated on
    * every row — the flattened form of the reference's result envelope.
    *
    * Scale shape: the relevance stage is a semi-join + filter + top-k
    * (TakeOrderedAndProject); the kept node set is ≤ maxNodes, so the
    * induced-subgraph semi-joins broadcast it; the counts are two scalar
    * aggregates over already-small frames. */
  def topicSubgraph(edges: DataFrame, nodeContent: DataFrame,
      topicHits: DataFrame, keywords: Seq[String], maxNodes: Int,
      minRelevance: Double): DataFrame = {
    require(keywords.nonEmpty, "topicSubgraph needs at least one keyword")
    val matched = keywords
      .map(k => when(col("content").contains(k), 1).otherwise(0))
      .reduce(_ + _)
    val kept = topicHits.select(col("node_id"))
      .join(nodeContent.select(col("node_id"), col("content")), "node_id")
      .withColumn("relevance", matched.cast("double") / keywords.size)
      .filter(col("relevance") >= minRelevance)
      .orderBy(col("relevance").desc, col("node_id"))
      .limit(maxNodes)
      .select(col("node_id"))
      .truncateLineage() // reused by both semi-joins and the node count
    val sub = inducedSubgraph(edges, kept)
    val nNodes = kept.agg(count(lit(1)).as("n_nodes"))
    val nEdges = sub.agg(count(lit(1)).as("n_edges"))
    sub.crossJoin(broadcast(nNodes)).crossJoin(broadcast(nEdges))
      .withColumn("density",
        col("n_edges").cast("double") / greatest(col("n_nodes"), lit(1L)))
  }

  /** Sequence chains (insight_discovery.py:647-689), counted: follow
    * OUTGOING edges from root nodes (nodes with no predecessors) until a
    * sink, length-capped (the reference caps at 20; cycles are excluded
    * by the cap plus the DAG-ness of typed-FK graphs — the reference's
    * visited set is per-chain, which the cap subsumes for small depths;
    * a chain longer than the cap is dropped, one of exactly `maxLen`
    * edges still counts). Returns one row per (len, end_id) with the
    * number of complete root→sink chains.
    *
    * Dynamic programming on (node, length) counts, not chain
    * enumeration: each level joins the aggregated frontier (≤ |V| rows)
    * against the edge table and re-aggregates, so per-level work is
    * bounded by |E| — not by the number of root→sink paths, which grows
    * multiplicatively through fan-out. Each level is one cut left-outer
    * join (unmatched rows are sinks, matched rows extend the frontier)
    * and the driver's counted cut of the frontier aggregate. */
  def chainCounts(edges: DataFrame, maxLen: Int = 20,
      seedFilter: Option[Column] = None, preOriented: Boolean = false)
      : DataFrame = Lineage.releasing {
    val out =
      if (preOriented) edges.select(col("node_id").as("cur"), col("next_id"))
      else edges
        .select(col("from_id").as("cur"), col("to_id").as("next_id"))
        .repartition(col("cur"))
        .truncateLineage()
    val roots0 = out.select(col("cur").as("node_id")).distinct()
      .join(out.select(col("next_id").as("node_id")).distinct(),
        Seq("node_id"), "left_anti")
    val roots = seedFilter.map(roots0.filter).getOrElse(roots0)
    val finished = Seq.newBuilder[DataFrame]
    val (frontier, h) = Lineage.rounds(roots
        .select(col("node_id").as("cur"), lit(0).as("len"), lit(1L).as("cnt")),
        maxLen, Some(_ => lit(true))) { (frontier, _) =>
      val step = frontier.join(out, Seq("cur"), "left_outer").truncateLineage()
      finished += step.filter(col("next_id").isNull)
        .select(col("len"), col("cur").as("end_id"), col("cnt").as("n_chains"))
      // the driver cuts the aggregated (small) frontier too: the next
      // join otherwise re-runs this aggregate against the cut step
      step.filter(col("next_id").isNotNull)
        .groupBy(col("next_id"), col("len"))
        .agg(sum(col("cnt")).as("cnt"))
        .select(col("next_id").as("cur"), (col("len") + 1).as("len"), col("cnt"))
    }
    // complete chains of exactly maxLen still count — classify the final
    // frontier's sinks before aggregating
    val done = finished.result() ++ (if (h < maxLen) Nil else Seq(frontier
      .join(out.select(col("cur")).distinct(), Seq("cur"), "left_anti")
      .select(col("len"), col("cur").as("end_id"), col("cnt").as("n_chains"))))
    if (done.isEmpty) // no roots (fully cyclic or empty graph)
      frontier.sparkSession.emptyDataFrame
        .select(lit(0).as("len"), lit("").as("end_id"), lit(0L).as("n_chains"))
        .limit(0)
    else done.reduce(_ unionByName _).groupBy(col("len"), col("end_id"))
      .agg(sum(col("n_chains")).as("n_chains"))
  }(identity)

  /** Connected components by alternating large-star / small-star
    * contraction (Kiveris et al. 2014, "Connected Components in
    * MapReduce and Beyond" — the published two-phase algorithm).
    * Edges are kept child>parent; each round rewires every node's
    * strictly-larger neighbors onto its neighborhood minimum
    * (large-star), then its smaller neighbors onto that minimum
    * (small-star). Rewiring happens along edges only, so components
    * never mix, and the fixed point is a star forest centered at each
    * component's minimum member — labels are the min member id, the
    * same contract as min-label propagation.
    *
    * Why this form: a single min(self, neighbors) contraction shortens
    * a CHAIN by one edge per round (O(n) rounds); the two-phase form is
    * O(log^2 n) worst case, ~log n observed (the 256-node-path spec pins
    * <= 2*log2(n)+4), and non-convergence THROWS. Per-round cost is two
    * neighborhood-min aggregates + one node-sized role aggregate for
    * the convergence test, all over the current (shrinking) edge list.
    *
    * Convergence test: a post-small-star edge set is a fixed point of
    * BOTH operators iff no node is simultaneously a child and a parent
    * AND no child has two parents (then every component is one star
    * whose center — the smallest endpoint, since edges stay
    * child>parent — absorbs a large-star and a small-star unchanged).
    * That is one union + one node-keyed aggregate per round, far
    * cheaper than re-joining the full edge set for set equality. */
  def connectedComponents(edges: DataFrame, maxIter: Int = 30): DataFrame =
    componentsAndRounds(edges, maxIter)._1

  /** [[connectedComponents]] plus the number of rounds to the fixed
    * point — the spec hook that pins the O(log n) observed bound. */
  private[graft] def componentsAndRounds(edges: DataFrame, maxIter: Int)
      : (DataFrame, Int) = Lineage.releasing {
    // normalized child>parent edge list; self-loops drop (a node with
    // only self-loops is not emitted, matching the round-7 contract).
    // NOT deduplicated up front: every aggregate below absorbs
    // duplicates and `next` is rebuilt distinct each round, so an
    // upfront distinct would only add a full-edge shuffle.
    val e0 = edges.select(
        greatest(col("from_id"), col("to_id")).as("a"),
        least(col("from_id"), col("to_id")).as("b"))
      .filter(col("a") =!= col("b"))
      .truncateLineage()
    // fixed-point test (see scaladoc): any node that is child+parent
    // or a twice-parented child disproves the star forest. Each round's
    // edge list is distinct, so counting child edges per node is exact;
    // the input is tested only for emptiness, as round 1 always runs.
    def converged(e: DataFrame, round: Int): Boolean =
      if (round == 0) e.isEmpty
      else e.select(col("a").as("n"), lit(1L).as("c"), lit(0L).as("p"))
        .unionByName(
          e.select(col("b").as("n"), lit(0L).as("c"), lit(1L).as("p")))
        .groupBy(col("n"))
        .agg(sum(col("c")).as("nc"), max(col("p")).as("np"))
        .filter(col("nc") > 1L || (col("nc") > 0L && col("np") > 0L))
        .isEmpty
    def starRound(e: DataFrame): DataFrame = {
      // large-star: for every node u, connect each strictly-larger
      // neighbor v to m(u) = min(neighborhood(u) + u). m <= u < v keeps
      // the child>parent invariant; each undirected edge is re-emitted
      // at least once, from its smaller endpoint's group. No distinct:
      // duplicate (v, m) rows are absorbed by the small-star aggregates
      // below, cheaper than an extra full-edge shuffle here.
      val nbr = e.select(col("a").as("u"), col("b").as("v"))
        .unionByName(e.select(col("b").as("u"), col("a").as("v")))
      val lm = nbr.groupBy(col("u"))
        .agg(least(col("u"), min(col("v"))).as("m"))
      val large = nbr.join(lm, Seq("u"))
        .filter(col("v") > col("u"))
        .select(col("v").as("a"), col("m").as("b"))
        .truncateLineage()
      // small-star: for every node a, connect its smaller neighbors and
      // a itself to m(a) = min of those neighbors. b >= m with b == m
      // filtered keeps child>parent.
      val sm = large.groupBy(col("a")).agg(min(col("b")).as("m"))
      large.join(sm, Seq("a"))
        .filter(col("b") =!= col("m"))
        .select(col("b").as("a"), col("m").as("b"))
        .unionByName(sm.select(col("a"), col("m").as("b")))
        .distinct()
    }
    // a converged edge list is its own next round: the driver stops there
    val (e, i) = Lineage.rounds(e0, maxIter) { (e, r) =>
      if (converged(e, r - 1)) e else starRound(e)
    }
    if (i == maxIter && !converged(e, i))
      throw new IllegalStateException(
        s"connectedComponents: no fixed point after $maxIter rounds " +
          "(two-phase star contraction needs ~log2(n) rounds; raise maxIter)")
    // star forest: children -> their center, centers label themselves
    val labels = e.select(col("a").as("node_id"), col("b").as("component"))
      .unionByName(
        e.select(col("b").as("node_id"), col("b").as("component")).distinct())
    (labels, i)
  }(_._1)
}
