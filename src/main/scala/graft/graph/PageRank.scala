package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.engine.Lineage.LineageOps

/** Fixed-iteration PageRank over the knowledge graph (builder mandate —
  * the reference's closest analog is StructuralQualityAnalyzer's
  * degree-based centrality leg, quality_assessment.py; web-scale data
  * curation uses exactly this to weight domains/documents by link
  * importance, per the original Page et al. 1999 formulation with
  * damping 0.85).
  *
  * Scale shape: each iteration is ONE equi-join of the rank frame onto
  * the edge list (hash join on from_id) followed by ONE keyed integer
  * sum per destination node — the canonical distributed PageRank plan.
  * No collect_list (per-node in-degree can be millions at 100 TB), no
  * driver-side state; `iterations` is a compile-time-small constant so
  * the lineage stays a short static DAG.
  *
  * Determinism contract: floating-point sums are shuffle-order
  * sensitive, so per-edge contributions are quantized to integer
  * NANO-units (`round(r/outdeg * 1e9)` as long) and summed exactly;
  * ranks re-enter the next iteration as the quantized double
  * `0.15 + 0.85 * (sum/1e9)`. Both engines apply the same quantization
  * (positive values: Spark HALF_UP == DuckDB half-away-from-zero), so
  * every iteration's ranks are bit-identical cross-engine. Bound: the
  * rank mass is ≤ #nodes, so a per-node nano-unit sum stays below 2^63
  * until ~9.2e9 aggregate incoming rank — beyond that, drop to
  * micro-units (same plan, one constant).
  */
object PageRank {

  val Damping = 0.85
  val Nano = 1e9

  /** Node frame (node_id) ∪ both edge endpoints. */
  def nodes(edges: DataFrame): DataFrame =
    edges.select(col("from_id").as("node_id"))
      .unionByName(edges.select(col("to_id").as("node_id")))
      .distinct()

  /** The static per-edge frame every uniform-rank iteration joins:
    * (from_id, to_id, outdeg), outdeg counted per EDGE ROW (parallel
    * typed edges each carry rank, exactly as before), hash-partitioned
    * on from_id. Callers that rank the same graph repeatedly (q147,
    * q294's seed expansion) should materialize this once per session
    * — KGraph.rankEdgesMaterialized — instead of paying the
    * outdeg-join + shuffle on every call (round-12 verdict item 5:
    * q147's first sf1.0 sample paid a 22 s transient build the bench
    * warm-up never covered). */
  def edgeIndex(edges: DataFrame): DataFrame = {
    val outdeg = edges.groupBy(col("from_id")).agg(count(lit(1)).as("outdeg"))
    edges.select(col("from_id"), col("to_id"))
      .join(outdeg, Seq("from_id"))
      .repartition(col("from_id"))
  }

  /** Ranks after `iterations` rounds from a uniform 1.0 start:
    * (node_id, rank) unrounded (but exactly representable — every rank
    * is 0.15 + 0.85 * k/1e9 for integer k). Dangling-node mass is not
    * redistributed (documented divergence from the stochastic-matrix
    * form; both engines agree).
    *
    * `index`/`nodeSet`: optional pre-materialized [[edgeIndex]] and
    * node-set frames (same kTrussPeel/initialSupport pattern) — pass
    * the session artifacts when ranking the knowledge graph so the
    * static frames build once per session, not once per call. Callers
    * own their materialization; frames built here are truncated
    * locally as before. */
  def ranks(edges: DataFrame, iterations: Int = 3,
      index: Option[DataFrame] = None,
      nodeSet: Option[DataFrame] = None): DataFrame = {
    val e = index.getOrElse(edgeIndex(edges).truncateLineage())
    val all = nodeSet.getOrElse(nodesOf(edges))
    iterate(e, col("rank") / col("outdeg"), lit(1.0 - Damping), all,
      all.withColumn("rank", lit(1.0)), iterations)
  }

  /** Confidence-WEIGHTED ranks: contributions split proportionally to
    * edge weight instead of uniformly — rank flows along trusted edges
    * (the domain-weighting variant used when links carry extraction
    * confidence). `edges` must carry a `confidence` column whose values
    * are exact two-decimal literals; they quantize to MICRO-unit
    * integers up front, so W(u) = Σ w_micro is an exact integer and the
    * per-edge share r·w/W quantizes to nano-units exactly like the
    * uniform path. Same iteration and the same determinism contract as
    * [[ranks]]. */
  def weightedRanks(edges: DataFrame, iterations: Int = 3,
      nodeSet: Option[DataFrame] = None): DataFrame = {
    val w = edges.select(col("from_id"), col("to_id"),
      round(col("confidence") * lit(1e6), 0).cast("long").as("w"))
    val outw = w.groupBy(col("from_id")).agg(sum(col("w")).as("ww"))
    val e = w.join(outw, Seq("from_id"))
      .repartition(col("from_id"))
      .truncateLineage()
    val all = nodeSet.getOrElse(nodesOf(edges))
    iterate(e, col("rank") * col("w") / col("ww"), lit(1.0 - Damping), all,
      all.withColumn("rank", lit(1.0)), iterations)
  }

  /** PERSONALIZED ranks (Haveliwala 2002, topic-sensitive PageRank):
    * the restart mass returns to a SEED SET instead of every node —
    * r(v) = 0.15·s(v) + 0.85·Σ r(u)/outdeg(u), with s(v) = 1 on seeds
    * and 0 elsewhere (unnormalized seed mass: identical ranking to the
    * 1/|S| form, and it keeps the restart term an exact constant).
    * The curation use: score entities by proximity to a trusted seed
    * domain set, the standard seed-expansion primitive.
    *
    * Same iteration and the same nano-unit quantized contribution
    * contract as [[ranks]]; non-seed nodes start at 0 so round 1's rank
    * frame is already seed-proximity mass, not uniform noise. */
  def personalizedRanks(edges: DataFrame, seeds: DataFrame,
      iterations: Int = 3,
      index: Option[DataFrame] = None,
      nodeSet: Option[DataFrame] = None): DataFrame = {
    val e = index.getOrElse(edgeIndex(edges).truncateLineage())
    val all = nodeSet.getOrElse(nodesOf(edges))
    val seeded = all.join(seeds.select(col("node_id")).distinct(),
        Seq("node_id"), "left_semi")
      .withColumn("seed", lit(1.0))
    val withSeed = all.join(seeded.select(col("node_id"), col("seed")),
        Seq("node_id"), "left")
      .select(col("node_id"), coalesce(col("seed"), lit(0.0)).as("seed"))
      .truncateLineage()
    iterate(e, col("rank") / col("outdeg"), lit(1.0 - Damping) * col("seed"),
      withSeed, withSeed.withColumn("rank", col("seed") * lit(1.0 - Damping))
        .select(col("node_id"), col("rank")), iterations)
  }

  /** The node set, spread by node_id and materialized once. */
  private def nodesOf(edges: DataFrame): DataFrame =
    nodes(edges).repartition(col("node_id")).truncateLineage()

  /** The one PageRank iteration, `iterations` times from `start`
    * (node_id, rank): every edge of `e` (from_id, to_id, …) carries the
    * nano-quantized `share` of its source's rank to its target — ONE
    * hash join of the rank frame onto the edge list (both keyed by
    * from_id) and ONE keyed integer sum — and every node of `base`
    * takes `restart` + 0.85 · its incoming sum (a left join, so a node
    * with no in-edges keeps the restart term). Each iteration's rank
    * frame is lineage-truncated: without the cut, iteration k
    * re-executes every previous iteration's join DAG. */
  private def iterate(e: DataFrame, share: Column, restart: Column,
      base: DataFrame, start: DataFrame, iterations: Int): DataFrame = {
    var r = start
    for (_ <- 1 to iterations) {
      val contrib = e
        .join(r.withColumnRenamed("node_id", "from_id"), Seq("from_id"))
        .select(col("to_id").as("node_id"),
          round(share * lit(Nano), 0).cast("long").as("c"))
        .groupBy(col("node_id"))
        .agg(sum(col("c")).as("s"))
      r = base.join(contrib, Seq("node_id"), "left")
        .select(col("node_id"),
          (restart + lit(Damping) *
            (coalesce(col("s"), lit(0L)) / lit(Nano))).as("rank"))
        .truncateLineage()
    }
    r
  }

  /** DuckDB oracle fragments. */
  object sql {
    /** CTE chain (appended after an `edges` CTE) ending in
      * `pr$iterations(node_id, rank)` — the oracle twin of [[ranks]]. */
    def ranksCtes(iterations: Int = 3): String = {
      val base =
        """outdeg AS (
          |  SELECT from_id, count(*) AS outdeg FROM edges GROUP BY 1),
          |nodes AS (
          |  SELECT from_id AS node_id FROM edges
          |  UNION SELECT to_id FROM edges),
          |pr0 AS (SELECT node_id, 1.0 AS rank FROM nodes)""".stripMargin
      val iters = (1 to iterations).map { i =>
        s"""c$i AS (
           |  SELECT e.to_id AS node_id,
           |    CAST(sum(CAST(round(p.rank / o.outdeg * 1e9, 0) AS BIGINT))
           |      AS BIGINT) AS s
           |  FROM edges e
           |  JOIN outdeg o USING (from_id)
           |  JOIN pr${i - 1} p ON p.node_id = e.from_id
           |  GROUP BY 1),
           |pr$i AS (
           |  SELECT n.node_id,
           |    ${1.0 - Damping} + $Damping * (coalesce(c.s, 0) / 1e9) AS rank
           |  FROM nodes n LEFT JOIN c$i c USING (node_id))""".stripMargin
      }
      (base +: iters).mkString(",\n")
    }

    /** CTE chain ending in `ppr$iterations(node_id, rank)` — the twin
      * of [[personalizedRanks]]; `seedPredicate` is a SQL boolean over
      * `node_id` selecting the seed set. */
    def personalizedCtes(seedPredicate: String,
        iterations: Int = 3): String = {
      val base =
        s"""outdeg AS (
           |  SELECT from_id, count(*) AS outdeg FROM edges GROUP BY 1),
           |nodes AS (
           |  SELECT from_id AS node_id FROM edges
           |  UNION SELECT to_id FROM edges),
           |seeded AS (
           |  SELECT node_id,
           |    CASE WHEN $seedPredicate THEN 1.0 ELSE 0.0 END AS seed
           |  FROM nodes),
           |ppr0 AS (SELECT node_id, seed * ${1.0 - Damping} AS rank
           |         FROM seeded)""".stripMargin
      val iters = (1 to iterations).map { i =>
        s"""pc$i AS (
           |  SELECT e.to_id AS node_id,
           |    CAST(sum(CAST(round(p.rank / o.outdeg * 1e9, 0) AS BIGINT))
           |      AS BIGINT) AS s
           |  FROM edges e
           |  JOIN outdeg o USING (from_id)
           |  JOIN ppr${i - 1} p ON p.node_id = e.from_id
           |  GROUP BY 1),
           |ppr$i AS (
           |  SELECT n.node_id,
           |    ${1.0 - Damping} * n.seed + $Damping * (coalesce(c.s, 0) / 1e9)
           |      AS rank
           |  FROM seeded n LEFT JOIN pc$i c USING (node_id))""".stripMargin
      }
      (base +: iters).mkString(",\n")
    }

    /** CTE chain ending in `wpr$iterations(node_id, rank)` — the twin
      * of [[weightedRanks]] (expects `edges` with `confidence`). */
    def weightedRanksCtes(iterations: Int = 3): String = {
      val base =
        """we AS (
          |  SELECT from_id, to_id,
          |    CAST(round(confidence * 1e6, 0) AS BIGINT) AS w
          |  FROM edges),
          |outw AS (SELECT from_id, CAST(sum(w) AS BIGINT) AS ww
          |         FROM we GROUP BY 1),
          |nodes AS (
          |  SELECT from_id AS node_id FROM edges
          |  UNION SELECT to_id FROM edges),
          |wpr0 AS (SELECT node_id, 1.0 AS rank FROM nodes)""".stripMargin
      val iters = (1 to iterations).map { i =>
        s"""wc$i AS (
           |  SELECT e.to_id AS node_id,
           |    CAST(sum(CAST(round(p.rank * e.w / o.ww * 1e9, 0) AS BIGINT))
           |      AS BIGINT) AS s
           |  FROM we e
           |  JOIN outw o USING (from_id)
           |  JOIN wpr${i - 1} p ON p.node_id = e.from_id
           |  GROUP BY 1),
           |wpr$i AS (
           |  SELECT n.node_id,
           |    ${1.0 - Damping} + $Damping * (coalesce(c.s, 0) / 1e9) AS rank
           |  FROM nodes n LEFT JOIN wc$i c USING (node_id))""".stripMargin
      }
      (base +: iters).mkString(",\n")
    }
  }
}
