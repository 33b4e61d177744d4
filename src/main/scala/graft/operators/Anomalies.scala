package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.text.TextFunctions
import graft.engine.Lineage.LineageOps

/** Anomaly detectors beyond the structural (q65) and statistical
  * (q39/q41) families: semantic, temporal, and behavioral — the
  * remaining three of the reference's five detector types
  * (insight_discovery.py:1427-1983).
  */
object Anomalies {

  /** Semantic outlier detection (insight_discovery.py:1579-1621, helpers
    * :1843-1900): within each type group of ≥ `minGroup` members whose
    * OVERALL average pairwise token-Jaccard is below `groupAvgBelow`,
    * flag members whose average similarity to the rest of the group is
    * below `nodeAvgBelow`.
    *
    * Scale note: per-member average similarity to ALL other members is
    * the operator's semantics (like q62's group similarity), so the
    * within-group all-pairs join is inherent — the reference bounds it by
    * analyzing bounded groups, and callers at corpus scale must do the
    * same (cap or sample each group). The join itself is a blocked
    * equi-join, never a cross join. */
  def semanticOutliers(docs: DataFrame, groupCol: String, idCol: String,
      textCol: String, minGroup: Int = 3, groupAvgBelow: Double = 0.2,
      nodeAvgBelow: Double = 0.15): DataFrame = {
    val t = docs.select(col(groupCol).as("grp"), col(idCol).as("id"),
        TextFunctions.distinctTokens(col(textCol)).as("toks"))
      .truncateLineage() // tokenize once; both join sides reuse it
    val a = t.select(col("grp"), col("id").as("a_id"), col("toks").as("a"))
    val b = t.select(col("grp"), col("id").as("b_id"), col("toks").as("b"))
    // ordered pairs (each unordered pair twice) so one groupBy yields the
    // per-member average over its partners directly
    val perNode = a.join(b, "grp").filter(col("a_id") =!= col("b_id"))
      .withColumn("jac", TextFunctions.jaccardSim(col("a"), col("b")))
      .groupBy(col("grp"), col("a_id"))
      .agg(avg(col("jac")).as("avg_sim"), count(lit(1)).as("n_others"))
    // every member has the same partner count, so the mean of per-member
    // means equals the overall pairwise mean the reference computes
    val grpStats = perNode.groupBy(col("grp"))
      .agg(avg(col("avg_sim")).as("grp_avg"), count(lit(1)).as("n"))
    perNode.join(grpStats, "grp")
      .filter(col("n") >= minGroup && col("grp_avg") < groupAvgBelow &&
        col("avg_sim") < nodeAvgBelow)
      .select(col("grp"), col("a_id").as("id"), col("avg_sim"),
        col("grp_avg"), col("n"))
  }

  /** Temporal anomaly detection over a per-key daily series
    * (insight_discovery.py:1652-1734, re-expressed over creation series —
    * the reference flags timestamp outliers; at pipeline scale the
    * actionable form is creation BURSTS and GAPS):
    * bursts = days with count > μ + sigmaK·σ for the key (z/5 severity,
    * capped, as :1824-1842); gaps = runs of ≥ `minGap` consecutive
    * missing days strictly inside the key's observed span (severity =
    * run length / 30, capped). One aggregate plus one lag window — no
    * self-joins, scale-safe. */
  def temporalGapsBursts(daily: DataFrame, keyCol: String, idxCol: String,
      cntCol: String, sigmaK: Double = 3.0, minGap: Int = 2): DataFrame = {
    val base = daily.select(col(keyCol).as("k"),
      col(idxCol).cast("long").as("idx"), col(cntCol).as("cnt"))
    val stats = base.groupBy(col("k"))
      .agg(avg(col("cnt")).as("mu"), stddev(col("cnt")).as("sigma"))
    val bursts = base.join(stats, "k")
      .filter(col("sigma") > 0 &&
        col("cnt") > col("mu") + lit(sigmaK) * col("sigma"))
      .select(col("k"), lit("burst").as("kind"), col("idx").as("start_idx"),
        col("idx").as("end_idx"), lit(1L).as("len"),
        least((col("cnt") - col("mu")) / col("sigma") / 5, lit(1.0))
          .as("severity"))
    val w = Window.partitionBy(col("k")).orderBy(col("idx"))
    val gaps = base
      .withColumn("prev", lag(col("idx"), 1).over(w))
      .filter(col("prev").isNotNull && col("idx") - col("prev") - 1 >= minGap)
      .select(col("k"), lit("gap").as("kind"),
        (col("prev") + 1).as("start_idx"), (col("idx") - 1).as("end_idx"),
        (col("idx") - col("prev") - 1).as("len"),
        least((col("idx") - col("prev") - 1).cast("double") / 30, lit(1.0))
          .as("severity"))
    bursts.unionByName(gaps)
  }

  /** Behavioral outlier detection (insight_discovery.py:1736-1791,
    * :1937-1983): per-node relationship behavior signature (total
    * incident relationships, distinct relation types) compared against
    * the global averages; a node is an outlier when any rule fires —
    *   excessive_relationships:          total > 3·avg   (sev z-ish/5)
    *   minimal_relationships:            0 < total < 0.1·avg (sev 0.6)
    *   excessive_relationship_diversity: types > 2·avg   (sev ratio/3)
    * reason strings joined in that order; severity = max of fired rules.
    * Two aggregates + one broadcast of a 1-row global — scale-safe.
    *
    * Documented divergences from the reference (like the q75 thresholds
    * note): (1) no minimum-population guard — the reference returns no
    * outliers when the graph has < 10 nodes (:1945), this operator
    * scores any population (the caller can gate on node count); (2) the
    * averages here are over nodes WITH ≥1 incident relationship (the
    * edge-derived universe), while the reference averages over every
    * node including isolated total=0 ones — on sparse graphs the
    * reference's lower averages fire the excessive rules earlier. Both
    * keep q77's oracle exact because the gated query supplies the same
    * edge-derived universe to both sides. */
  def behavioralOutliers(edges: DataFrame): DataFrame = {
    val rels = edges.select(col("from_id").as("node_id"), col("relation_type"))
      .unionByName(edges.select(col("to_id").as("node_id"), col("relation_type")))
    val sig = rels.groupBy(col("node_id"))
      .agg(count(lit(1)).as("total_rel"),
        countDistinct(col("relation_type")).as("uniq_types"))
    val avgs = sig.agg(avg(col("total_rel")).as("avg_rel"),
      avg(col("uniq_types")).as("avg_uniq"))
    val exc = col("total_rel") > col("avg_rel") * 3
    val minimal = col("total_rel") > 0 && col("total_rel") < col("avg_rel") * 0.1
    val div = col("uniq_types") > col("avg_uniq") * 2
    sig.crossJoin(broadcast(avgs))
      .filter(exc || minimal || div)
      .withColumn("reason", concat_ws(", ",
        when(exc, lit("excessive_relationships")),
        when(minimal, lit("minimal_relationships")),
        when(div, lit("excessive_relationship_diversity"))))
      .withColumn("severity", greatest(
        when(exc, least(col("total_rel") / col("avg_rel") / 5, lit(1.0)))
          .otherwise(lit(0.0)),
        when(minimal, lit(0.6)).otherwise(lit(0.0)),
        when(div, least(col("uniq_types") / col("avg_uniq") / 3, lit(1.0)))
          .otherwise(lit(0.0))))
      .select(col("node_id"), col("total_rel"), col("uniq_types"),
        col("reason"), col("severity"))
  }
}
