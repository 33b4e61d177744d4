package graft.quality

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Quality-enhancement engine orchestrator
  * (quality/quality_enhancement_engine.py:311-844): composes the five
  * quality legs — content (QualityAssessment, q93), structural
  * (StructuralQuality, q94), temporal (TemporalQuality, q95), source
  * reliability (SourceReliability, q96) and cross-validation consensus
  * (CrossValidation, q99) — into the engine's combined per-node
  * QualityScore (:426-484 get_quality_score: overall = mean of the five
  * component scores, tier mapping :762-773), the prioritized
  * enhancement recommendations (:555-651) and the one-row report
  * aggregates (:664-724 distribution / critical issues / trend).
  *
  * The engine composes the component assessors' OUTPUT scores — here
  * the 6-dp-rounded frames the assessors publish (the cross-engine
  * determinism idiom: both engines verify the rounded component values
  * independently, then compose identical inputs). Nodes outside the
  * structural frame score 0.0 (isolated, per StructuralQuality's
  * contract); nodes with no validated claims score the reference's
  * neutral 0.5 (:741-760).
  *
  * Scale shape: pure composition — five equi-joins on the node key plus
  * one global aggregate for the report row; no new pairwise work. The
  * expensive legs keep their own documented bounds (q99's domain cap,
  * q97's pair cap).
  */
object QualityEngine {

  /** Combined per-node QualityScore (:426-484). Inputs are keyed by
    * `node_id` with one score column each: content_score,
    * structural_score (overall_structural), temporal_score,
    * reliability_score, validation_score. */
  def scores(content: DataFrame, structural: DataFrame,
      temporal: DataFrame, reliability: DataFrame,
      validation: DataFrame): DataFrame = {
    val joined = content
      .join(structural, Seq("node_id"), "left")
      .join(temporal, Seq("node_id"), "left")
      .join(reliability, Seq("node_id"), "left")
      .join(validation, Seq("node_id"), "left")
      .withColumn("structural_score",
        coalesce(col("structural_score"), lit(0.0)))
      .withColumn("validation_score",
        coalesce(col("validation_score"), lit(0.5)))
    // np.mean of the five components, summed in the reference's array
    // order (:458-466)
    val overall = (col("content_score") + col("structural_score") +
      col("temporal_score") + col("reliability_score") +
      col("validation_score")) / 5
    joined
      .withColumn("overall_score", overall)
      .withColumn("quality_level",
        graft.text.QualityAssessment.level(col("overall_score")))
  }

  /** Prioritized enhancement recommendations (:555-651): four legs —
    * low content quality, conflicted validations, critical gaps,
    * questionable/unreliable sources — sorted by (priority value,
    * −expected_improvement) with the reference's stable construction
    * order as the tiebreak (leg index, then within-leg order), top 20.
    *
    * `validations` is the q99 per-claim frame; `gaps` the q97 gap
    * frame; `reliability` the q96 per-node frame. DIVERGENCE: the gap
    * leg's node_id is the reference's "general" fallback — our gap
    * frame carries related-node counts, not id lists (:607-609).
    * Score rendering uses the shortest double repr of round(score, 2)
    * rather than %.2f padding. */
  def recommendations(scores: DataFrame, validations: DataFrame,
      gaps: DataFrame, reliability: DataFrame): DataFrame = {
    val contentLeg = scores.filter(col("content_score") < 0.6).select(
      col("node_id"),
      lit("improve_content").as("action_type"),
      when(col("content_score") < 0.4, "high").otherwise("medium")
        .as("priority"),
      concat(lit("Improve content quality (current score: "),
        round(col("content_score"), 2).cast("string"), lit(")"))
        .as("description"),
      (lit(0.6) - col("content_score")).as("expected_improvement"),
      lit(0.8).as("confidence"),
      lit("medium").as("estimated_effort"),
      lit(0).as("leg"), col("node_id").as("sub_ord"))
    val validationLeg = validations
      .filter(col("validation_status") === "conflicted").select(
        col("source_node_id").as("node_id"),
        lit("resolve_contradiction").as("action_type"),
        lit("high").as("priority"),
        lit("Resolve validation conflicts").as("description"),
        lit(0.3).as("expected_improvement"),
        lit(0.7).as("confidence"),
        lit("high").as("estimated_effort"),
        lit(1).as("leg"), col("claim_id").as("sub_ord"))
    val gapLeg = gaps.filter(col("severity") === "critical").select(
      lit("general").as("node_id"),
      lit("fill_gap").as("action_type"),
      lit("high").as("priority"), // critical severity -> HIGH (:612-616)
      concat(lit("Fill knowledge gap: "), col("description"))
        .as("description"),
      lit(0.4).as("expected_improvement"),
      col("confidence"),
      lit("high").as("estimated_effort"),
      lit(2).as("leg"), col("gap_id").as("sub_ord"))
    val reliabilityLeg = reliability
      .filter(col("reliability_level").isin("questionable", "unreliable"))
      .select(
        col("source_identifier").as("node_id"),
        lit("update_source").as("action_type"),
        lit("medium").as("priority"),
        concat(lit("Improve source reliability ("),
          col("reliability_level"), lit(")")).as("description"),
        lit(0.3).as("expected_improvement"),
        col("assessment_confidence").as("confidence"),
        lit("medium").as("estimated_effort"),
        lit(3).as("leg"),
        lpad(col("doc_id").cast("string"), 12, "0").as("sub_ord"))
    // ties break by (leg, sub_ord) — a stable textual key — where the
    // reference relies on in-memory construction order (observable only
    // in which tied rows straddle the top-20 cutoff)
    contentLeg.unionByName(validationLeg).unionByName(gapLeg)
      .unionByName(reliabilityLeg)
      .orderBy(col("priority"), col("expected_improvement").desc,
        col("leg"), col("sub_ord"))
      .limit(20)
      .drop("leg", "sub_ord")
  }

  /** Quality-ranking weights in reference dict order (:111-117). */
  val RankingWeights: Seq[(String, Double)] = Seq(
    "content_score" -> 0.25, "reliability_score" -> 0.30,
    "validation_score" -> 0.20, "temporal_score" -> 0.15,
    "structural_score" -> 0.10)

  /** Quality-based result ranking (QualityRanker, :103-300): weighted
    * component score (summed in the reference's dict order) plus an
    * optional query-context relevance bonus — word-overlap ratio ×0.2
    * capped at 0.1 (:287-300) — capped overall at 1.0, ranked
    * descending. `scored` is a [[scores]]-shaped frame that also
    * carries `content_words` (the node's lowercased word set) when a
    * context is supplied. DIVERGENCES: the validation component uses
    * the real cross-validation consensus where the reference stubs 0.7
    * (:281-285, the q98 realize-the-stub precedent), and score ties
    * rank by node_id where Python's stable sort keeps input order.
    *
    * BOUNDED-INPUT CONTRACT (the q51 diversity-re-rank precedent): the
    * reference's QualityRanker ranks a query's RESULT list, already
    * bounded by the engine's result caps — so the global row_number
    * window here is a single-partition sort over that bounded set by
    * design. Do not hand it an unbounded corpus at scale; rank after
    * the result cap, or swap row_number for orderBy().limit(k) when
    * only the top-k matter (TakeOrdered, no global sort). */
  def rankByQuality(scored: DataFrame,
      queryContext: Option[Seq[String]] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val weighted = RankingWeights
      .map { case (c, w) => col(c) * w }.reduce(_ + _)
    val bonus = queryContext match {
      case Some(words) =>
        val ctx = array_distinct(
          typedLit(words.map(_.toLowerCase)))
        val ratio = size(array_intersect(col("content_words"), ctx))
          .cast("double") / size(ctx)
        least(lit(0.1), ratio * 0.2)
      case None => lit(0.0)
    }
    scored
      .withColumn("context_bonus", bonus)
      .withColumn("quality_score",
        least(lit(1.0), weighted + col("context_bonus")))
      .withColumn("quality_rank", row_number().over(
        Window.orderBy(col("quality_score").desc, col("node_id"))))
      .withColumn("quality_ranked", lit(true))
  }

  /** One-row report aggregates (:664-724): quality-level distribution,
    * critical-issue lines, overall trend. The contradiction-report leg
    * is exercised separately (q98); its absence takes the reference's
    * `if contradiction_report` guard path. */
  def report(scores: DataFrame, validations: DataFrame): DataFrame = {
    val dist = scores.agg(
      count(lit(1)).as("total_nodes_analyzed"),
      count(when(col("quality_level") === "excellent", 1)).as("n_excellent"),
      count(when(col("quality_level") === "good", 1)).as("n_good"),
      count(when(col("quality_level") === "fair", 1)).as("n_fair"),
      count(when(col("quality_level") === "poor", 1)).as("n_poor"),
      count(when(col("quality_level") === "critical", 1)).as("n_critical"))
    val conflicts = validations.agg(
      count(when(col("validation_status") === "conflicted", 1))
        .as("conflict_count"))
    val issues = concat_ws("; ",
      when(col("n_critical") > 0,
        concat(col("n_critical").cast("string"),
          lit(" nodes have critical quality issues"))),
      when(col("conflict_count") > 0,
        concat(col("conflict_count").cast("string"),
          lit(" validation conflicts detected"))))
    val excellentRatio =
      col("n_excellent").cast("double") / col("total_nodes_analyzed")
    dist.crossJoin(conflicts)
      .withColumn("critical_issues", issues)
      .withColumn("overall_quality_trend",
        when(excellentRatio > 0.5, "stable")
          .when(excellentRatio > 0.2, "improving").otherwise("declining"))
  }
}
