package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.expressions.IntegralDivide
import graft.engine.Lineage
import graft.engine.Lineage.LineageOps

/** Fixed-iteration HITS (Kleinberg 1999, "Authoritative sources in a
  * hyperlinked environment") over a directed edge list: authority(v) =
  * Σ hub(u) over in-edges, hub(u) = Σ authority(v) over out-edges,
  * re-normalized each half-step. PageRank (graph/PageRank.scala) ranks
  * by global link mass; HITS separates CITED-BY-GOOD-HUBS from
  * POINTS-AT-GOOD-AUTHORITIES — the complementary pair a curation
  * pipeline uses to pick seed domains (hubs) vs trusted content
  * (authorities). Reference analog: the same degree-centrality leg as
  * PageRank (quality_assessment.py's structural metrics).
  *
  * Scale shape: each half-step is ONE equi-join of the score frame onto
  * the edge list plus ONE keyed integer sum — identical to the PageRank
  * iteration plan — and the normalizer is a 1-row max frame broadcast
  * onto the scores, carrying the fused executor-side overflow guard
  * (see [[MaxSafeRaw]]). The round driver cuts per iteration.
  *
  * Determinism contract: scores live as MICRO-unit integers (start 1e6;
  * after each sum, max-normalize via `(raw · 1e6) div max_raw`, pure
  * integral arithmetic, both operands non-negative so Spark's `div`
  * (truncate) and DuckDB's `//` (floor) agree). No floats anywhere in
  * the iteration, so scores are bit-identical cross-engine and
  * shuffle-order-proof. Bound: raw sums are ≤ 1e6 · max-degree, and the
  * normalization multiplies by 1e6 — overflow-safe to max-degree ~9.2e6;
  * beyond that drop scores to milli-units (one constant).
  */
object Hits {

  private def intDiv(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column) =
    GraftBridge.column(IntegralDivide(
      GraftBridge.expression(a), GraftBridge.expression(b)))

  /** (node_id, auth_micro, hub_micro) after `iterations` full rounds
    * over the DISTINCT (from_id, to_id) edge set. Nodes with no
    * in-edges carry authority 0; no out-edges, hub 0.
    *
    * The score frames inside the loop hold ONLY nodes with a nonzero
    * score (absent = 0 contributes nothing to the next half-step's
    * sums and never holds the max, so dropping them is exact) — the
    * full node set joins back once at the END for the zero rows. That
    * removes two |V|-row left joins per round and keeps the iterated
    * frames as small as the live frontier. */
  /** Largest raw half-step sum the micro-unit normalization can hold
    * exactly: the normalizer multiplies raw by 1e6, so Long (9.22e18)
    * is exact while raw ≤ Long.MaxValue / 1e6 ≈ 9.2e12 — equivalently
    * max degree ≤ ~9.2e6 (raw sums are ≤ 1e6 · degree; round 1's
    * authority raw is EXACTLY 1e6 · in-degree). Beyond that, drop the
    * score unit to millis (1e3) — one constant — which raises the
    * ceiling 1000× at 3 fewer digits of score resolution. */
  val MaxSafeRaw: Long = Long.MaxValue / 1000000L
  /** The equivalent degree ceiling (round-1 raw = 1e6 · degree). */
  val MaxSafeDegree: Long = MaxSafeRaw / 1000000L

  /** Executor-side overflow guard, fused into the normalization
    * select: the 1-row broadcast max rides next to every row anyway,
    * so a lazy CaseWhen branch checks it BEFORE the ×1e6 multiply
    * could wrap — zero extra jobs, every round and both half-steps
    * guarded, with a named error instead of a wrapped ANSI overflow
    * (or, with ANSI off, silently garbage scores). */
  private def checkedNorm(raw: org.apache.spark.sql.Column,
      mx: org.apache.spark.sql.Column) =
    when(mx > lit(MaxSafeRaw),
      expr("raise_error('HITS micro-unit overflow: half-step raw max " +
        s"exceeds $MaxSafeRaw (max degree ~$MaxSafeDegree) - rerun in " +
        "milli-units (unit constant 1e6 -> 1e3) for graphs this dense')")
        .cast("long"))
      .otherwise(intDiv(raw * lit(1000000L), mx))

  /** `edgeSet`/`nodeSet`: optional pre-materialized static frames (the
    * PageRank.ranks index pattern). `edgeSet` must be an already-
    * DISTINCT (from_id, to_id) frame, ideally hash-partitioned on
    * from_id — the knowledge graph's rank-edge artifact qualifies
    * because its typed edges have no parallel (from, to) pairs (each
    * relation type joins a distinct prefix pair; HitsSpec pins the
    * indexed path bit-identical). */
  def scores(edges: DataFrame, iterations: Int,
      edgeSet: Option[DataFrame] = None,
      nodeSet: Option[DataFrame] = None): DataFrame = Lineage.releasing {
    require(iterations >= 1,
      s"HITS needs at least one full round (got $iterations): with 0 " +
        "rounds no authority frame ever exists")
    val e = edgeSet.getOrElse(
      edges.select(col("from_id"), col("to_id")).distinct()
        .repartition(col("from_id"))
        .truncateLineage())
    // a half-step's raw sums are cut (by the driver for the hub side):
    // they feed BOTH the 1-row max and the normalization join — unchecked,
    // each half-step runs twice
    def normalized(raw: DataFrame, key: String, score: String) =
      raw.crossJoin(broadcast(raw.agg(max(col("raw")).as("mx"))))
        .select(col(key).as("node_id"),
          checkedNorm(col("raw"), col("mx")).as(score))
    // round 1's hub side is uniform 1e6, so seed from the edge tails;
    // the driver then carries the hub side's raw sums
    val hub0 = e.select(col("from_id").as("node_id")).distinct()
      .withColumn("h", lit(1000000L))
      .truncateLineage()
    // one half-step's raw sums: `score` summed from `src` onto `dst`
    def half(score: DataFrame, name: String, src: String, dst: String) =
      e.join(score.select(col("node_id").as(src), col(name)), Seq(src))
        .groupBy(col(dst)).agg(sum(col(name)).as("raw"))
    val auths = Seq.newBuilder[DataFrame]
    val (hRaw, _) = Lineage.rounds(hub0, iterations) { (frame, r) =>
      val hub = if (r == 1) frame else normalized(frame, "from_id", "h")
      val auth = normalized(half(hub, "h", "from_id", "to_id")
        .truncateLineage(), "to_id", "a")
      auths += auth
      half(auth, "a", "to_id", "from_id")
    }
    nodeSet.getOrElse(PageRank.nodes(e))
      .join(auths.result().last, Seq("node_id"), "left")
      .join(normalized(hRaw, "from_id", "h"), Seq("node_id"), "left")
      .select(col("node_id"),
        coalesce(col("a"), lit(0L)).as("auth_micro"),
        coalesce(col("h"), lit(0L)).as("hub_micro"))
  }(identity)

  /** DuckDB oracle fragment: CTE chain (appended after an `edges` CTE)
    * ending in `hits$iterations(node_id, auth_micro, hub_micro)` —
    * the same unrolled-round trick as PageRank.sql.ranksCtes. */
  object sql {
    def scoresCtes(iterations: Int): String = {
      require(iterations >= 1,
        s"HITS oracle needs at least one round (got $iterations): the " +
          "final CTE would reference nonexistent auth0/hub0")
      val base =
        """de AS (SELECT DISTINCT from_id, to_id FROM edges),
          |nodes AS (
          |  SELECT from_id AS node_id FROM de
          |  UNION SELECT to_id FROM de),
          |hub0 AS (SELECT node_id, CAST(1000000 AS BIGINT) AS h FROM nodes)"""
          .stripMargin
      val iters = (1 to iterations).map { i =>
        s"""araw$i AS (
           |  SELECT e.to_id AS node_id, CAST(sum(p.h) AS BIGINT) AS raw
           |  FROM de e JOIN hub${i - 1} p ON p.node_id = e.from_id
           |  GROUP BY 1),
           |auth$i AS (
           |  SELECT n.node_id,
           |    coalesce((r.raw * 1000000) //
           |      (SELECT max(raw) FROM araw$i), 0) AS a
           |  FROM nodes n LEFT JOIN araw$i r USING (node_id)),
           |hraw$i AS (
           |  SELECT e.from_id AS node_id, CAST(sum(p.a) AS BIGINT) AS raw
           |  FROM de e JOIN auth$i p ON p.node_id = e.to_id
           |  GROUP BY 1),
           |hub$i AS (
           |  SELECT n.node_id,
           |    coalesce((r.raw * 1000000) //
           |      (SELECT max(raw) FROM hraw$i), 0) AS h
           |  FROM nodes n LEFT JOIN hraw$i r USING (node_id))""".stripMargin
      }
      val fin =
        s"""hits$iterations AS (
           |  SELECT a.node_id, a.a AS auth_micro, h.h AS hub_micro
           |  FROM auth$iterations a JOIN hub$iterations h USING (node_id))"""
          .stripMargin
      (base +: iters :+ fin).mkString(",\n")
    }
  }
}
