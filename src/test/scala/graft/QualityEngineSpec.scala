package graft

import graft.quality.QualityEngine

/** Pins the QualityEnhancementEngine composition
  * (quality_enhancement_engine.py:311-844): the five-way combined
  * score with isolated-node and no-validation defaults, the level
  * tiers, the four recommendation legs with the (priority,
  * -improvement) sort and top-20 cap, and the report aggregates. */
class QualityEngineSpec extends SparkSpec {
  import spark.implicits._

  private def comp(name: String, rows: (String, Double)*) =
    rows.toDF("node_id", name)

  test("scores: five-way mean, defaults for missing legs, level tiers") {
    val s = QualityEngine.scores(
      comp("content_score", ("a", 1.0), ("b", 0.2)),
      comp("structural_score", ("a", 0.8)), // b missing -> 0.0
      comp("temporal_score", ("a", 1.0), ("b", 0.3)),
      comp("reliability_score", ("a", 0.9), ("b", 0.4)),
      comp("validation_score", ("a", 0.9))) // b missing -> 0.5
      .collect().map(r => r.getAs[String]("node_id") ->
        (r.getAs[Double]("overall_score"), r.getAs[String]("quality_level")))
      .toMap
    assert(math.abs(s("a")._1 - (1.0 + 0.8 + 1.0 + 0.9 + 0.9) / 5) < 1e-12)
    assert(s("a")._2 == "excellent") // 0.92 >= 0.9
    assert(math.abs(s("b")._1 - (0.2 + 0.0 + 0.3 + 0.4 + 0.5) / 5) < 1e-12)
    assert(s("b")._2 == "critical") // 0.28 < 0.3
  }

  test("recommendations: all four legs, priority sort, top-20 cap") {
    val scores = QualityEngine.scores(
      comp("content_score", ("n1", 0.35), ("n2", 0.55), ("n3", 0.9)),
      comp("structural_score"), comp("temporal_score", ("n1", 0.5),
        ("n2", 0.5), ("n3", 0.5)),
      comp("reliability_score", ("n1", 0.5), ("n2", 0.5), ("n3", 0.5)),
      comp("validation_score"))
    val validations = Seq(("c1", "n2", "conflicted"), ("c2", "n3", "validated"))
      .toDF("claim_id", "source_node_id", "validation_status")
    val gaps = Seq(("g1", "critical", "definition missing for math", 0.7),
      ("g2", "medium", "examples missing", 0.8))
      .toDF("gap_id", "severity", "description", "confidence")
    val rel = Seq((7L, "site.example/x", "questionable", 0.6),
      (8L, "site.example/y", "high", 0.9))
      .toDF("doc_id", "source_identifier", "reliability_level",
        "assessment_confidence")
    val recs = QualityEngine.recommendations(scores, validations, gaps, rel)
      .collect().map(r => (r.getAs[String]("node_id"),
        r.getAs[String]("action_type"), r.getAs[String]("priority"),
        r.getAs[Double]("expected_improvement")))
    // high before medium; within each priority, improvement desc:
    // high = gap 0.4 > validation 0.3 > content-n1 0.25;
    // medium = update_source 0.3 > content-n2 0.05
    assert(recs.map(_._2).toSeq == Seq("fill_gap", "resolve_contradiction",
      "improve_content", "update_source", "improve_content"))
    assert(recs(0)._1 == "general")
    assert(recs(1)._1 == "n2")
    assert(recs(2) == ("n1", "improve_content", "high", 0.25))
    assert(recs(3)._2 == "update_source" && recs(3)._1 == "site.example/x")
    assert(recs(4)._3 == "medium" &&
      math.abs(recs(4)._4 - 0.05) < 1e-12)
  }

  test("rankByQuality: weighted sum, context bonus cap, tie order") {
    val scored = Seq(
      ("a", 1.0, 1.0, 1.0, 1.0, 1.0, Seq("table", "scan", "merge")),
      ("b", 0.8, 0.5, 0.5, 0.5, 0.5, Seq("nothing", "relevant")),
      ("c", 0.8, 0.5, 0.5, 0.5, 0.5, Seq.empty[String]))
      .toDF("node_id", "content_score", "structural_score",
        "temporal_score", "reliability_score", "validation_score",
        "content_words")
    val r = QualityEngine.rankByQuality(scored,
        Some(Seq("table", "scan", "merge", "batch", "performance")))
      .collect().map(x => x.getAs[String]("node_id") ->
        (x.getAs[Double]("quality_score"), x.getAs[Double]("context_bonus"),
          x.getAs[Int]("quality_rank"))).toMap
    // a: weighted = 1.0, bonus = min(0.1, 3/5*0.2) = 0.1, capped at 1.0
    assert(r("a")._1 == 1.0 && r("a")._2 == 0.1 && r("a")._3 == 1)
    // b/c identical weighted score (0.8*.25 + .5*(.3+.2+.15+.1) = 0.575),
    // zero bonus; tie ranks by node_id
    assert(r("b")._2 == 0.0 && math.abs(r("b")._1 - 0.575) < 1e-12)
    assert(r("b")._3 == 2 && r("c")._3 == 3)
  }

  test("report: distribution, issue lines, trend tiers") {
    val scores = QualityEngine.scores(
      comp("content_score", ("a", 1.0), ("b", 0.95), ("c", 0.1)),
      comp("structural_score", ("a", 1.0), ("b", 0.95), ("c", 0.1)),
      comp("temporal_score", ("a", 1.0), ("b", 0.95), ("c", 0.1)),
      comp("reliability_score", ("a", 1.0), ("b", 0.95), ("c", 0.1)),
      comp("validation_score", ("a", 1.0), ("b", 0.95), ("c", 0.1)))
    val validations = Seq(("c1", "a", "conflicted"))
      .toDF("claim_id", "source_node_id", "validation_status")
    val r = QualityEngine.report(scores, validations).collect().head
    assert(r.getAs[Long]("total_nodes_analyzed") == 3L)
    assert(r.getAs[Long]("n_excellent") == 2L)
    assert(r.getAs[Long]("n_critical") == 1L)
    assert(r.getAs[String]("critical_issues") ==
      "1 nodes have critical quality issues; 1 validation conflicts detected")
    // 2/3 excellent > 0.5 -> stable
    assert(r.getAs[String]("overall_quality_trend") == "stable")
  }
}
