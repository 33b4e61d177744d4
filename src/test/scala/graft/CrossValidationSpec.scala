package graft

import graft.quality.CrossValidation

/** Pins cross-validation semantics (cross_validation.py:98-780) on
  * crafted fixtures: claim pattern capture + type precedence, the
  * confidence indicator arithmetic, dedup + quality filters, evidence
  * relevance gating / support classification / reliability, the
  * best-sentence snippet, and the analyzer's consensus / status /
  * confidence-level arithmetic including the no-evidence path. */
class CrossValidationSpec extends SparkSpec {
  import spark.implicits._

  private def nodes(rows: (String, Long, String, String, Double)*) =
    rows.toDF("node_id", "ord", "domain", "content", "conf_meta")

  test("claim extraction: types, dedup precedence, confidence, filters") {
    val n = nodes(
      // one sentence matched by factual AND temporal patterns: the
      // factual pattern (earlier in dict order) keeps the claim
      ("a", 1, "d", "The engine is confirmed fast since 2019 always.", 0.5),
      // numerical-only sentence (no factual trigger words)
      ("b", 2, "d", "The core weighed 50kg under load today maybe.", 0.5),
      // too short after trim (<= 15 chars) -> dropped by dedup gate
      ("c", 3, "d", "It is red.", 0.5),
      // low-indicator claim: 0.5 - 0.2 lands exactly on the 0.3 gate
      // (IEEE: 0.5 - double(0.2) == double(0.3)) -> kept, like Python
      ("e", 4, "d", "That design possibly has problems ahead.", 0.5))
    val claims = CrossValidation.extractClaims(n)
      .select("node_id", "claim_type", "claim_text", "confidence")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getDouble(3)))
    val byNode = claims.groupBy(_._1)
    // node a: one claim, factual wins over temporal; conf = 0.5 + 0.3
    // (confirmed, high) + 0.1 (digits) = 0.9 (7 words, no detail bonus)
    assert(byNode("a").toSeq == Seq(
      ("a", "factual", "The engine is confirmed fast since 2019 always", 0.9)))
    // node b: numerical (temporal "today" pattern loses dedup to the
    // earlier numerical pattern); conf = 0.5 + 0.1 digits = 0.6
    assert(byNode("b").toSeq == Seq(
      ("b", "numerical", "The core weighed 50kg under load today maybe", 0.6)))
    assert(!byNode.contains("c"))
    assert(byNode("e").toSeq == Seq(
      ("e", "factual", "That design possibly has problems ahead", 0.3)))
  }

  test("evidence: relevance gate, classification, top-k, snippet") {
    val claimNode = nodes(
      ("q", 1, "d", "The alpha beta gamma delta pipeline is stable.", 0.5))
    val corpus = nodes(
      ("q", 1, "d", "The alpha beta gamma delta pipeline is stable.", 0.5),
      // high overlap + support indicators -> supporting
      ("s", 2, "d", "Analysis confirms and supports this view. " +
        "The alpha beta gamma delta pipeline is stable.", 0.9),
      // contradiction indicators -> contradicting
      ("k", 3, "d", "However the alpha beta gamma delta claim fails, " +
        "but nevertheless reviewers disagree.", 0.5),
      // no overlap -> relevance below gate, excluded
      ("z", 4, "d", "Entirely unrelated words occupy this node body.", 0.5),
      // other domain: never a candidate
      ("o", 5, "x", "The alpha beta gamma delta pipeline is stable.", 0.5))
    val claims = CrossValidation.extractClaims(claimNode)
    val ev = CrossValidation.collectEvidence(claims, corpus)
      .select("ev_id", "support_type", "snippet").collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap
    assert(!ev.contains("q")) // own node excluded
    assert(!ev.contains("z")) // relevance gate
    assert(!ev.contains("o")) // domain scope
    assert(ev("s")._1 == "supporting")
    assert(ev("k")._1 == "contradicting")
    // snippet = sentence with max claim-word overlap, first strict max
    // (sentences split on [.!?]+ only — commas do not split)
    assert(ev("s")._2 == "The alpha beta gamma delta pipeline is stable")
    assert(ev("k")._2 == "However the alpha beta gamma delta claim " +
      "fails, but nevertheless reviewers disagree")
  }

  test("analyzer: no-evidence path and consensus arithmetic") {
    val claimNode = nodes(
      ("q", 1, "d", "The omega rho sigma tau machine is isolated.", 0.5))
    val claims = CrossValidation.extractClaims(claimNode)
    val empty = CrossValidation.collectEvidence(claims,
      claimNode) // only the claim's own node -> zero evidence
    val res = CrossValidation.analyze(claims, empty).collect()
    assert(res.length == 1)
    val r = res.head
    assert(r.getAs[Long]("n_supporting") == 0L)
    assert(r.getAs[Double]("consensus_score") == 0.5)
    assert(r.getAs[String]("validation_status") == "insufficient")
    assert(r.getAs[String]("confidence_level") == "very_low")
    assert(r.getAs[String]("validation_summary").contains(
      "No clear supporting or contradicting evidence found"))
  }
}
