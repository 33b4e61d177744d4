package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.engine.Lineage.LineageOps

/** Whole-graph analytics over undirected edge lists: triangle counting /
  * local clustering coefficients, synchronous k-core peeling ("onion
  * layers"), and frequency-based label-propagation communities.
  *
  * These are the standard corpus-graph measurements a curation pipeline
  * runs over its similarity / co-occurrence graphs (dedup-pair graphs,
  * co-purchase projections, citation graphs) once they exist — density
  * of near-dup neighborhoods, cohesive cores worth manual review,
  * community structure for stratified sampling. Public provenance:
  * triangle enumeration via the ordered-adjacency join (Cohen,
  * "Graph Twiddling in a MapReduce World", 2009), k-core peeling
  * (Batagelj & Zaveršnik 2003), label propagation (Raghavan, Albert &
  * Kumara 2007) — all re-expressed as Catalyst plans.
  *
  * Scale shapes (100 TB contract):
  *  - every per-round step is one shuffle on a node key plus one
  *    bounded aggregate — no all-pairs, no driver-side graph;
  *  - triangle enumeration keeps edges canonical (a < b) so each
  *    triangle is emitted exactly once, and the wedge join streams
  *    against a hash-partitioned edge list;
  *  - iterative loops truncate lineage per round (reliable checkpoints
  *    on a cluster — see graft.engine.Lineage).
  */
object GraphAnalytics {

  /** Canonical undirected edge list (a < b, no self-loops, distinct). */
  def canonical(edges: DataFrame, from: String = "from_id",
      to: String = "to_id"): DataFrame =
    edges.select(least(col(from), col(to)).as("a"),
        greatest(col(from), col(to)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()

  /** Per-node triangle participation counts over a canonical (a < b)
    * edge list, by DEGREE-ORDERED wedge enumeration (the
    * node-iterator with degree ordering — Chiba & Nishizeki 1985;
    * Cohen's MapReduce formulation 2009): every edge is oriented from
    * its lower-(degree, id) endpoint, wedges are generated only at a
    * node's ORIENTED out-neighbors, and the closing edge is looked up
    * in the same oriented list. Each triangle is generated exactly
    * once, and the wedge count is Σ outdeg² = O(m^1.5) by the
    * arboricity argument — where the naive a<b wedge join is Σ deg²,
    * which detonates on a super-hub (a degree-6k nation node
    * contributes 36M wedges; at 10× data, 3.6G — the round-9 q273
    * sf1.0 failure). Counts aggregate per rank and map back to ids
    * with one join. Returns (node, n_tri); absent nodes have none. */
  def triangleCounts(canon: DataFrame): DataFrame = {
    val (closed, ranks) = closedTriangles(canon)
    closed.select(col("ru").as("r"))
      .unionByName(closed.select(col("rv").as("r")))
      .unionByName(closed.select(col("rw").as("r")))
      .groupBy(col("r")).agg(count(lit(1)).as("n_tri"))
      .join(ranks, "r")
      .select(col("node"), col("n_tri"))
  }

  /** Per-EDGE triangle support over a canonical list: (a, b, support);
    * only edges participating in ≥ 1 triangle appear (absent = 0).
    * Same degree-ordered enumeration as [[triangleCounts]] — each
    * closed triangle charges its three edges, counted on rank pairs;
    * only the counted pairs map back to ids, re-canonicalized to
    * (min, max) in the id order. This is the k-truss peel's inner
    * step. */
  def edgeSupport(canon: DataFrame): DataFrame = {
    val (closed, ranks) = closedTriangles(canon)
    closed.select(col("ru").as("rx"), col("rv").as("ry"))
      .unionByName(closed.select(col("rv").as("rx"), col("rw").as("ry")))
      .unionByName(closed.select(col("ru").as("rx"), col("rw").as("ry")))
      .groupBy(col("rx"), col("ry")).agg(count(lit(1)).as("support"))
      .join(ranks.select(col("r").as("rx"), col("node").as("x")), "rx")
      .join(ranks.select(col("r").as("ry"), col("node").as("y")), "ry")
      .select(least(col("x"), col("y")).as("a"),
        greatest(col("x"), col("y")).as("b"), col("support"))
  }

  /** Per-node triangle counts DERIVED from a per-edge support frame:
    * a triangle at node u lies in exactly two of u's incident edges
    * (uv and uw), so n_tri(u) = Σ support over incident edges div 2 —
    * an O(m) explode + aggregate over the (≤ m rows) support frame
    * instead of a second O(m^1.5) wedge enumeration. With the support
    * frame cached as a session artifact, every triangle consumer in a
    * session shares ONE census (round-11 verdict item 8). */
  def triangleCountsFromSupport(sup: DataFrame): DataFrame =
    sup.select(explode(array(col("a"), col("b"))).as("node"),
        col("support"))
      .groupBy(col("node"))
      .agg(expr("sum(support) div 2").as("n_tri"))

  /** Every triangle exactly once as long ranks (ru < rv < rw), with
    * the (node, r) rank table that maps ranks back to ids — the
    * shared core of the node and edge census forms above. One plan
    * for every key type and scale (GraphX's split, OSDI 2014: the
    * structure runs on compact long vertex ids, the original ids are
    * joined back only for the output).
    *
    * Correctness rests on INJECTIVITY alone: orient every edge from
    * its lower rank to its higher one and each triangle has exactly
    * one lowest corner ru, from which it is the wedge (ru→rv, ru→rw)
    * with rv < rw, closed by the oriented edge rv→rw — so any
    * injective rank enumerates each triangle exactly once. Ranking by
    * (degree, node) only bounds the wedges at O(m^1.5).
    *
    * The rank is read off a range-partitioned sort of the degree frame
    * (≤ |V| rows, no single-partition window): monotonically_increasing_id
    * over sorted partitions is order-preserving and injective. A sort
    * plus an index is not stable under recomputation (the range bounds
    * come from a sample), so the table is materialized ONCE and both
    * orient joins and the callers' map-back joins read that one frame.
    *
    * The wedge rows that dominate the census shuffle are three longs
    * (ru, rv, rw), and the wedge filter is one long compare. The
    * closing semi join takes SHUFFLE_HASH on the edge side: the
    * default sort-merge plan SORTS the wedge stream — per-task sort
    * buffers proportional to wedges/partitions are exactly the memory
    * cliff that turns 2× data into ~4× time — while the hash build
    * holds only edges/partitions rows per task (the q268 anti-join
    * lever; both sides stay shuffled, nothing broadcast). */
  private def closedTriangles(canon: DataFrame): (DataFrame, DataFrame) = {
    val ranks = degrees(canon)
      .orderBy(col("degree"), col("node"))
      .select(col("node"), monotonically_increasing_id().as("r"))
      .truncateLineage()
    // LAZY cut: both wedge legs and the closing semi join read this
    // frame — unchecked, the two rank joins behind it run three times
    val oriented = canon
      .join(ranks.select(col("node").as("a"), col("r").as("ra")), "a")
      .join(ranks.select(col("node").as("b"), col("r").as("rb")), "b")
      .select(least(col("ra"), col("rb")).as("ru"),
        greatest(col("ra"), col("rb")).as("rv"))
      .truncateLineageLazy()
    // LAZY cut: the per-corner union of the callers reads this frame
    // three times, and exchange reuse does not always cover the whole
    // join
    val closed = oriented
      .join(oriented.select(col("ru"), col("rv").as("rw")), Seq("ru"))
      .filter(col("rv") < col("rw"))
      .join(oriented.select(col("ru").as("rv"), col("rv").as("rw"))
        .hint("SHUFFLE_HASH"),
        Seq("rv", "rw"), "left_semi")
      .truncateLineageLazy()
    (closed, ranks)
  }

  /** Degree assortativity (Newman 2002): one row (n_edges, sum_deg,
    * sum_prod, sum_sq, assortativity) — symmetric Pearson estimator
    * r = (4M·Σdadb − (Σda+db)²) / (2M·Σ(da²+db²) − (Σda+db)²) over
    * the edge-endpoint degree pairs. The three sums are exact
    * integers; the squaring happens in the double domain (Σ² exceeds
    * long range), round6. r = −1 on a star, > 0 when hubs prefer
    * hubs. */
  def assortativity(canon: DataFrame): DataFrame = {
    val deg = degrees(canon)
    canon
      .join(deg.select(col("node").as("a"), col("degree").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("degree").as("db")), "b")
      .agg(count(lit(1)).as("m"),
        sum(col("da") + col("db")).as("sj"),
        sum(col("da") * col("db")).as("sjk"),
        sum(col("da") * col("da") + col("db") * col("db")).as("sj2"))
      .select(col("m").as("n_edges"), col("sj").as("sum_deg"),
        col("sjk").as("sum_prod"), col("sj2").as("sum_sq"),
        expr("round((4.0*m*sjk - CAST(sj AS DOUBLE)*sj) / " +
          "nullif(2.0*m*sj2 - CAST(sj AS DOUBLE)*sj, 0), 6)")
          .as("assortativity"))
  }

  /** Rich-club coefficients (Colizza et al. 2006) over a degree grid:
    * (k, n_rich, e_rich, phi) with φ(k) = 2·E_k / (N_k·(N_k−1)) —
    * N_k the nodes of degree > k, E_k the edges internal to them.
    * Exact integer counts from one degree pass and one degree-joined
    * edge pass (two 1-row wide frames crossed, fixed-grid explode). */
  def richClub(canon: DataFrame, grid: Seq[Int]): DataFrame = {
    import graft.functions.ExactRound
    val deg = degrees(canon)
    val nodeCells = grid.zipWithIndex.map { case (k, i) =>
      sum(when(col("degree") > k, 1L).otherwise(0L)).as(s"nk_$i")
    }
    val nWide = deg.agg(nodeCells.head, nodeCells.tail: _*)
    val edgeCells = grid.zipWithIndex.map { case (k, i) =>
      sum(when(col("da") > k && col("db") > k, 1L).otherwise(0L)).as(s"ek_$i")
    }
    val eWide = canon
      .join(deg.select(col("node").as("a"), col("degree").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("degree").as("db")), "b")
      .agg(edgeCells.head, edgeCells.tail: _*)
    val rows = grid.zipWithIndex.map { case (k, i) =>
      struct(lit(k).as("k"), col(s"nk_$i").as("n_rich"),
        col(s"ek_$i").as("e_rich"),
        when(col(s"nk_$i") >= 2,
          ExactRound.ratio6(lit(2L) * col(s"ek_$i"),
            col(s"nk_$i") * (col(s"nk_$i") - 1L))).as("phi"))
    }
    nWide.crossJoin(broadcast(eWide))
      .select(explode(array(rows: _*)).as("r"))
      .select(col("r.k"), col("r.n_rich"), col("r.e_rich"), col("r.phi"))
  }

  /** Degrees over a canonical edge list: (node, degree). */
  def degrees(canon: DataFrame): DataFrame =
    canon.select(col("a").as("node"))
      .unionByName(canon.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))

  /** Local clustering coefficient per node: 2·tri / (deg·(deg−1)),
    * 0 for degree < 2. Returns (node, degree, n_tri, clustering). */
  def clustering(canon: DataFrame): DataFrame =
    clusteringFrom(degrees(canon), triangleCounts(canon))

  /** [[clustering]] with the triangle side supplied from the shared
    * per-edge support artifact instead of a fresh wedge census. */
  def clusteringFromSupport(canon: DataFrame, sup: DataFrame): DataFrame =
    clusteringFrom(degrees(canon), triangleCountsFromSupport(sup))

  private def clusteringFrom(deg: DataFrame, tri: DataFrame): DataFrame =
    deg
      .join(tri, Seq("node"), "left")
      .select(col("node"), col("degree"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"))
      .withColumn("clustering",
        when(col("degree") >= 2,
          round(lit(2.0) * col("n_tri") /
            (col("degree") * (col("degree") - 1)), 6))
        .otherwise(lit(0.0)))

  /** One peel round's edge removal: drop every edge with an endpoint
    * in `drop`. Two anti-joins on the node key with NO join-strategy
    * hint — the drop set's size is wildly round-dependent (round 1
    * removes EVERY node of degree < k, which on a power-law graph with
    * k above the modal degree is O(n) nodes; later cascade rounds
    * remove only neighbors of the previous drop), so the strategy must
    * be a runtime decision. Both inputs are lineage-truncated by the
    * caller, so AQE sees real sizes and broadcasts small drop sets
    * while shuffling the O(n) first-round peel — a forced broadcast
    * here is a driver-memory / 8 GB-cap failure at 100×.
    * Package-visible so IterationShapeSpec can pin the unhinted plan. */
  private[graft] def dropEdges(alive: DataFrame, drop: DataFrame): DataFrame =
    alive
      .join(drop.select(col("node").as("a")), Seq("a"), "left_anti")
      .join(drop.select(col("node").as("b")), Seq("b"), "left_anti")
      .select(col("a"), col("b"))

  /** Synchronous k-core peeling. Round r removes EVERY node whose
    * degree in the surviving subgraph is < k (the "onion layer"
    * decomposition restricted to the k shell). Returns
    * (node, layer, in_core): layer = the 1-based round the node was
    * peeled, 0 for k-core members; plus the round count actually run
    * (the spec hook pinning convergence under the cap).
    *
    * Each round is: degrees of the surviving edge list (one aggregate)
    * + two anti-joins dropping edges with a peeled endpoint
    * ([[dropEdges]] — strategy left to AQE, see there). Peel cascades
    * are graph-diameter-bounded; `maxRounds` caps adversarial chains
    * and the caller asserts convergence. */
  def kCorePeel(canon: DataFrame, k: Int, maxRounds: Int = 16)
      : (DataFrame, Int) = {
    var alive = canon.truncateLineage()
    var peeled: DataFrame = null
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxRounds) {
      rounds += 1
      val deg = degrees(alive)
      // the drop set's size is counted on its own checkpoint job —
      // no separate isEmpty probe per round
      val (drop, Seq(nDrop)) = deg.filter(col("degree") < k)
        .select(col("node"), lit(rounds).as("layer"))
        .truncateLineageCounting(lit(true))
      if (nDrop == 0) {
        converged = true
        rounds -= 1
      } else {
        peeled = if (peeled == null) drop else peeled.unionByName(drop)
        alive = dropEdges(alive, drop).truncateLineage()
      }
    }
    // isolated survivors of the last drop don't exist: every node in
    // `alive` has degree >= k by the converged test. Core members are
    // the endpoints of the surviving edges.
    val core = alive.select(col("a").as("node"))
      .unionByName(alive.select(col("b").as("node")))
      .distinct()
      .select(col("node"), lit(0).as("layer"))
    val all =
      if (peeled == null) core else core.unionByName(peeled)
    (all.withColumn("in_core", col("layer") === 0), rounds)
  }

  /** Synchronous k-truss peel (Cohen 2008, "Trusses: cohesive
    * subgraphs for social network analysis"): round r removes every
    * surviving edge in fewer than k−2 triangles; what remains at the
    * fixed point is the k-truss — the edge-analog of k-core, and the
    * stricter one (every k-truss edge sits in a (k−1)-core, not
    * conversely). Returns ((a, b, layer, in_truss), rounds) with
    * layer = the peel round (0 = truss member), like [[kCorePeel]]'s
    * onion layers.
    *
    * LIVE-FRONTIER form (the q269 trick applied to the peel; cf.
    * the sequential truss decompositions in Wang & Cheng 2012, which
    * all decrement neighbors of removed edges rather than recount):
    * the full degree-ordered edge-support census (O(m^1.5) wedges by
    * arboricity — the q191/q273 triangle plan) runs ONCE, up front;
    * every later round only enumerates the triangles that CONTAIN a
    * just-dropped edge (drop-frontier × adjacency, dedup'd on the
    * sorted triple so a triangle losing 2–3 edges at once is charged
    * once) and decrements the surviving edges of those triangles.
    * Round-by-round drops are IDENTICAL to the recount form
    * (KTrussSpec's reference peel): a triangle
    * survives iff all three edges survive, so a surviving edge's
    * recounted support is exactly its old support minus the dead
    * triangles it sat in. Per-round cost is frontier-proportional
    * (Σ min-endpoint-degree over dropped edges), not census-
    * proportional — the difference between 6 full O(m^1.5) sweeps
    * and 1 sweep + small cascades. The cascade is exact for any drop
    * size, so every round takes it (q293's largest round, round 1 at
    * sf0.1, drops ~5 % of the edges). Rounds past the fixed point peel
    * nothing, so a cap above convergence is exact — the same unroll
    * contract the oracle mirrors with full recounts per round. */
  def kTrussPeel(canon: DataFrame, k: Int, maxRounds: Int = 8,
      initialSupport: Option[DataFrame] = None): (DataFrame, Int) = {
    require(k >= 3, s"k-truss needs k >= 3 (got $k)")
    // ONE frame carries (a, b, support, layer) — layer 0 = alive,
    // r > 0 = peeled in round r. The round-12 form kept support on the
    // edge row but still checkpointed TWO frames per round (the drop
    // set and the survivor set) plus a count job — three actions per
    // round, and the final result unioned six per-round drop
    // checkpoints that stayed pinned to the end. With the layer riding
    // on the edge row too (round-15 form), each round is ONE
    // checkpoint of the next frame, which also counts the next round's
    // drops, and the final result IS the frame — no union,
    // nothing pinned across rounds. At sf0.1 roughly half of q293's
    // wall was per-round job scheduling (round-14 listener probe), so the
    // job-count cut is the measured lever. Support-0 edges are
    // materialized up front (the census omits them) so the drop
    // filter never needs a join again.
    val frame0 = canon
      .join(initialSupport.getOrElse(edgeSupport(canon)),
        Seq("a", "b"), "left")
      .select(col("a"), col("b"),
        coalesce(col("support"), lit(0L)).as("support"),
        lit(0).as("layer"))
    val isAlive = col("layer") === 0
    val willDrop = isAlive && col("support") < k - 2
    // every checkpoint of the frame counts, in its own job, the rows the
    // NEXT round will drop — no separate count job per round
    var (frame, Seq(nDrop)) = frame0.truncateLineageCounting(willDrop)
    var rounds = 0
    while (nDrop > 0 && rounds < maxRounds) {
      rounds += 1
      // the drop set, survivors and this round's frontier are all
      // FILTERS over the one checkpointed frame — scans, never jobs
      val dropE = frame.filter(willDrop).select(col("a"), col("b"))
      // triangles of the CURRENT graph (drops included — they are
      // still alive this round) containing >= 1 dropped edge:
      // pivot each dropped edge at its lower-degree endpoint, walk
      // that endpoint's adjacency, close against the alive list.
      // Degrees are recomputed from the SHRINKING frame each round
      // ON PURPOSE: a hoisted build-once degree frame was measured
      // (round 11) at 169.8 s vs 125.2 s sf1.0 — joining the
      // full-graph 2M-row checkpoint twice per round costs more
      // than re-aggregating the current remnant. The pivot choice
      // is a cost heuristic only (the dead-triangle set of a
      // dropped edge is its common-neighbor set from either
      // endpoint).
      val alive = frame.filter(isAlive).select(col("a"), col("b"))
      val deg = degrees(alive)
      val adj = alive.select(col("a").as("p"), col("b").as("v"))
        .unionByName(alive.select(col("b").as("p"), col("a").as("v")))
      val pivoted = dropE
        .join(deg.select(col("node").as("a"), col("degree").as("da")),
          "a")
        .join(deg.select(col("node").as("b"), col("degree").as("db")),
          "b")
        .select(when(col("da") <= col("db"),
            struct(col("a").as("p"), col("b").as("q")))
          .otherwise(struct(col("b").as("p"), col("a").as("q")))
          .as("e"))
        .select(col("e.p").as("p"), col("e.q").as("q"))
      val deadTri = pivoted
        .join(adj, Seq("p"))
        .filter(col("v") =!= col("q"))
        .join(alive,
          least(col("q"), col("v")) === col("a") &&
            greatest(col("q"), col("v")) === col("b"), "left_semi")
        .select(sort_array(array(col("p"), col("q"), col("v")))
          .as("t"))
        .select(col("t")(0).as("x"), col("t")(1).as("y"),
          col("t")(2).as("z"))
        .distinct()
      // each dead triangle charges its SURVIVING edges -1; the
      // delta only ever keys surviving edges (dropE anti-joined),
      // so the blanket left join below leaves dead and dropping
      // rows' support untouched (their dead column is null)
      val delta = deadTri
        .select(col("x").as("a"), col("y").as("b"))
        .unionByName(deadTri.select(col("x").as("a"), col("z").as("b")))
        .unionByName(deadTri.select(col("y").as("a"), col("z").as("b")))
        .join(dropE, Seq("a", "b"), "left_anti")
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("dead"))
      val next = frame.join(delta, Seq("a", "b"), "left")
        .select(col("a"), col("b"),
          (col("support") - coalesce(col("dead"), lit(0L)))
            .as("support"),
          when(willDrop, lit(rounds)).otherwise(col("layer"))
            .as("layer"))
      val (f, Seq(n)) = next.truncateLineageCounting(willDrop)
      frame = f
      nDrop = n
    }
    (frame.select(col("a"), col("b"), col("layer"))
      .withColumn("in_truss", col("layer") === 0), rounds)
  }

  /** Synchronous label propagation for `rounds` rounds. Every node
    * starts with its own id as label; each round it adopts the most
    * frequent label among its NEIGHBORS (tie → smallest label) — the
    * deterministic synchronous variant of Raghavan et al. 2007.
    * Returns (node, label) after the final round.
    *
    * Per round: one hash join (adjacency × the node-bounded label
    * frame — broadcastable once checkpoint stats are known) + one
    * map-side-combinable (node, label) count + one keyed
    * `min(struct(-c, label))` top-1 — the aggregate form of "max count,
    * tie → smallest label", chosen over a row_number window because it
    * partial-aggregates before the shuffle instead of sorting the full
    * exploded frame (3.1× on the sf0.1 knowledge graph). Lineage
    * truncates per round. */
  def labelPropagation(canon: DataFrame, rounds: Int): DataFrame = {
    val adj = canon.select(col("a").as("u"), col("b").as("v"))
      .unionByName(canon.select(col("b").as("u"), col("a").as("v")))
      .truncateLineage()
    // round 1 in closed form: every label is its owner, so "most
    // frequent neighbor label, tie → smallest" is just min(neighbor) —
    // one aggregate instead of a join + two
    var labels = adj.groupBy(col("u"))
      .agg(min(col("v")).as("label"))
      .select(col("u").as("node"), col("label"))
    for (r <- 2 to rounds) {
      labels = adj
        .join(labels.select(col("node").as("v"), col("label")), Seq("v"))
        .groupBy(col("u"), col("label")).agg(count(lit(1)).as("c"))
        .groupBy(col("u"))
        .agg(min(struct((-col("c")).as("negc"), col("label"))).as("m"))
        .select(col("u").as("node"), col("m.label").as("label"))
      // bound plan depth on long runs; a handful of rounds chains as
      // one linear DAG (no intermediate materialization needed)
      if (r % 6 == 0) labels = labels.truncateLineage()
    }
    labels
  }

  /** Distributed greedy weighted matching by LOCAL DOMINANCE (Preis
    * 1999's locally-heaviest-edge argument in its synchronous
    * message-passing form, cf. Lattanzi et al. "Filtering: a method
    * for solving graph problems in MapReduce", 2011): per round, an
    * edge joins the matching iff it is the heaviest edge incident to
    * BOTH endpoints (ties broken by the (w, a, b) struct order, so
    * rounds are deterministic); matched endpoints leave the graph and
    * the survivors repeat. The greedy-by-weight sequential algorithm
    * this parallelizes is a ½-approximation to maximum weight
    * matching. Returns the matched edges tagged with their round.
    *
    * Scale shape per round: one endpoint explode (2|E|), one keyed
    * max-aggregate, one two-vote aggregate over the per-node bests, two
    * left joins marking the one carried frame — no global ordering
    * anywhere; one checkpoint per round.
    *
    * Input: canonical weighted edges (a < b, w). `rounds` is a fixed
    * unrollable budget (each round matches every locally-dominant
    * edge simultaneously, so coverage grows fast; residual edges are
    * the caller's readout). */
  def localMaxMatching(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, "need at least one matching round")
    // ONE frame carries (a, b, w, round): round 0 = alive, r > 0 =
    // matched in round r. An edge whose endpoint another edge matched
    // leaves the frame, so it shrinks like the live graph. The alive
    // set is a filter over it, so each round checkpoints one frame, and
    // the frame's alive count, observed on that same checkpoint job,
    // stops the loop once nothing is left to match (later rounds would
    // match nothing).
    val me = struct(col("w"), col("a"), col("b"))
    var (frame, Seq(nAlive)) = edges
      .select(col("a"), col("b"), col("w"), lit(0).as("round"))
      .truncateLineageCounting(lit(true))
    var r = 1
    while (r <= rounds && nAlive > 0) {
      val alive = frame.filter(col("round") === 0)
      val best = alive.select(col("a").as("node"), me.as("e"))
        .unionByName(alive.select(col("b").as("node"), me.as("e")))
        .groupBy(col("node")).agg(max(col("e")).as("e"))
      // dominant = the best edge of BOTH its endpoints: two votes. Every
      // node votes once, so the dominant edges form a matching and each
      // matched node appears in exactly one (node, edge) pair below —
      // no distinct needed.
      val dom = best.groupBy(col("e")).agg(count(lit(1)).as("votes"))
        .filter(col("votes") === 2)
      val pairs = dom.select(col("e.a").as("node"), col("e"))
        .unionByName(dom.select(col("e.b").as("node"), col("e")))
      val (next, Seq(n)) = frame
        .join(pairs.select(col("node").as("a"), col("e").as("ma")),
          Seq("a"), "left")
        .join(pairs.select(col("node").as("b"), col("e").as("mb")),
          Seq("b"), "left")
        .select(col("a"), col("b"), col("w"),
          when(col("round") =!= 0, col("round"))
            .when(col("ma") === me, lit(r))
            .when(col("ma").isNotNull || col("mb").isNotNull, lit(-1))
            .otherwise(lit(0)).as("round"))
        .filter(col("round") >= 0)
        .truncateLineageCounting(col("round") === 0)
      frame = next
      nAlive = n
      r += 1
    }
    frame.filter(col("round") > 0)
  }

  /** SQL twin of one [[localMaxMatching]] round: CTEs deriving
    * `dom_<r>` (this round's matched edges) and `e_<next>` (the
    * surviving graph) from `e_<r>`. MATERIALIZED throughout — each
    * CTE is referenced 2-4 times and four chained rounds otherwise
    * re-evaluate the whole prefix exponentially (the q154 batched-
    * merge-round lesson; an inlined unroll exhausted file handles
    * re-scanning the base table). */
  def localMaxMatchingRoundSql(r: Int): String = {
    val (e, dom, nxt) = (s"e_$r", s"dom_$r", s"e_${r + 1}")
    s"""ends_$r AS MATERIALIZED (
       |  SELECT a AS node, w, a, b FROM $e
       |  UNION ALL SELECT b, w, a, b FROM $e),
       |best_$r AS MATERIALIZED (
       |  SELECT node, max(struct_pack(w := w, a := a, b := b)) AS best
       |  FROM ends_$r GROUP BY 1),
       |$dom AS MATERIALIZED (
       |  SELECT e.a, e.b, e.w, $r AS round FROM $e e
       |  JOIN best_$r x ON e.a = x.node AND x.best.w = e.w
       |    AND x.best.a = e.a AND x.best.b = e.b
       |  JOIN best_$r y ON e.b = y.node AND y.best.w = e.w
       |    AND y.best.a = e.a AND y.best.b = e.b),
       |mn_$r AS MATERIALIZED (SELECT a AS node FROM $dom
       |  UNION SELECT b FROM $dom),
       |$nxt AS MATERIALIZED (
       |  SELECT * FROM $e
       |  WHERE a NOT IN (SELECT node FROM mn_$r)
       |    AND b NOT IN (SELECT node FROM mn_$r))""".stripMargin
  }
}
