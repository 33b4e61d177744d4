package graft

import graft.quality.GapDetection

/** Pins gap-detection semantics (gap_detection.py:91-780) on crafted
  * fixtures: expected-vs-present content types, severity tiers,
  * incomplete-info patterns, depth arithmetic, example groups,
  * isolation tiers, Jaccard-gated logical connections with the
  * connected-pair anti-join, connection-type suggestion order, and
  * hierarchical-language gaps. */
class GapDetectionSpec extends SparkSpec {
  import spark.implicits._

  private def nodes(rows: (String, Long, String, String, String)*) =
    rows.toDF("node_id", "ord", "domain", "node_type", "content")
  private def edges(rows: (String, String, String)*) =
    rows.toDF("from_id", "to_id", "relation_type")
  private def gaps(n: org.apache.spark.sql.DataFrame,
      e: org.apache.spark.sql.DataFrame) =
    GapDetection.detectGaps(n, e).collect()
      .map(r => r.getString(0) -> r).toMap

  test("content completeness: expected types minus present, tiered severity") {
    // 3 nodes, one topic (node_type fallback): "example" present via
    // "such as"; process expected (combined content has "method");
    // cause+effect expected ("result"); definition missing -> critical
    val g = gaps(nodes(
      ("n1", 1, "d", "math", "the method is shown such as here often"),
      ("n2", 2, "d", "math", "a result emerges from the numbers there"),
      ("n3", 3, "d", "math", "plain words continue without any markers")),
      edges())
    val defGap = g("content_completeness_math_definition")
    assert(defGap.getString(defGap.fieldIndex("severity")) == "critical")
    // priority: 0.9 * (0.7 + 0.3 * min(3/5, 1)) = 0.9 * 0.88
    assert(math.abs(defGap.getDouble(defGap.fieldIndex("priority_score")) -
      0.9 * 0.88) < 1e-9)
    // example present ("such as"), so no example gap
    assert(!g.contains("content_completeness_math_example"))
    // process expected+missing? "method" IS a process indicator, so
    // process is present; cause missing (no cause indicators), n=3 >= 2
    val causeGap = g("content_completeness_math_cause")
    assert(causeGap.getString(causeGap.fieldIndex("severity")) == "medium")
    assert(!g.contains("content_completeness_math_process"))
  }

  test("incomplete info flags ellipsis, '?', uncertainty words, short text") {
    val g = gaps(nodes(
      ("n1", 1, "d", "t", "this trails off into the distance and then..."),
      ("n2", 2, "d", "t", "is this even right? nobody can say for certain"),
      ("n3", 3, "d", "t", "the matter remains unclear to all reviewers now"),
      ("n4", 4, "d", "t", "short."),
      ("n5", 5, "d", "t", "a complete thought stated plainly and fully " +
        "here. and a second complete sentence follows it closing out.")),
      edges())
    assert(g.contains("essential_info_n1"))
    assert(g.contains("essential_info_n2"))
    assert(g.contains("essential_info_n3"))
    assert(g.contains("essential_info_n4"))
    assert(!g.contains("essential_info_n5"))
  }

  test("depth gap fires below 0.4 with the reference arithmetic") {
    // short, no detail words, no technicals: only the length and
    // sentence-complexity legs contribute -> ds well under 0.4
    val text = "tiny note no depth"
    val g = gaps(nodes(("n1", 1, "d", "t", text)), edges())
    val gap = g("depth_gap_n1")
    val ds = math.min(text.length / 500.0, 1.0) * 0.3 +
      math.min((4.0 / 1) / 15, 1.0) * 0.2
    assert(math.abs(gap.getDouble(gap.fieldIndex("priority_score")) -
      (0.5 + ds * 0.3)) < 1e-9)
    // "specifically" x detail + acronyms/numbers/adverbs push depth over
    val g2 = gaps(nodes(("n2", 1, "d", "t",
      "NASA and ESA specifically measured 12.5 units repeatedly, " +
        "thoroughly and comprehensively documenting 42 results quickly " +
        "and cleanly across 7 sites. furthermore the detailed study " +
        "moreover additionally expands. " + ("x " * 120))), edges())
    assert(!g2.contains("depth_gap_n2"))
  }

  test("examples gap needs >=2 nodes and no example indicators anywhere") {
    val g = gaps(nodes(
      ("n1", 1, "d", "t1", "plain words without markers"),
      ("n2", 2, "d", "t1", "more plain words without markers"),
      ("n3", 3, "d", "t2", "alone in its group")), edges())
    assert(g.contains("examples_gap_t1"))
    assert(!g.contains("examples_gap_t2")) // single node skipped
    // "like" counts as an example indicator
    val g2 = gaps(nodes(
      ("n1", 1, "d", "t1", "something like a sample pattern"),
      ("n2", 2, "d", "t1", "more plain words without markers")), edges())
    assert(!g2.contains("examples_gap_t1"))
  }

  test("isolation tiers: zero rels high, 1-2 rels weak, 3+ clean") {
    val e = edges(("a", "b", "related_to"), ("a", "c", "related_to"),
      ("d", "a", "related_to"))
    val g = gaps(nodes(
      ("a", 1, "d", "t", "w w w"), ("b", 2, "d", "t", "x x x"),
      ("c", 3, "d", "t", "y y y"), ("d", 4, "d", "t", "z z z"),
      ("e", 5, "d", "t", "q q q")), e)
    assert(!g.contains("isolation_gap_a") && !g.contains("weak_connectivity_a"))
    assert(g.contains("weak_connectivity_b")) // deg 1
    assert(g.contains("isolation_gap_e"))     // deg 0
    val iso = g("isolation_gap_e")
    assert(iso.getString(iso.fieldIndex("severity")) == "high")
    assert(iso.getDouble(iso.fieldIndex("confidence")) == 0.9)
  }

  test("logical connections: Jaccard gate, edge anti-join, type suggestion") {
    val n = nodes(
      ("a", 1, "d", "t", "shared words everywhere in this body"),
      ("b", 2, "d", "t", "shared words everywhere in this text"),
      ("c", 3, "d", "t", "shared words everywhere in this corpus"),
      ("x", 4, "d", "t", "totally different vocabulary applies"),
      ("p", 5, "d", "t", "a component part of shared words everywhere " +
        "in this body"),
      ("q", 6, "other", "t", "shared words everywhere in this body"))
    val e = edges(("b", "a", "related_to")) // a-b connected either dir
    val g = gaps(n, e)
    assert(!g.contains("logical_connection_a_b")) // anti-joined
    assert(g.contains("logical_connection_a_c"))
    assert(g.contains("logical_connection_b_c"))
    assert(!g.contains("logical_connection_a_x")) // below threshold
    assert(!g.contains("logical_connection_a_q")) // cross-domain
    // node1 (lower ord) has "component" -> contains on node2 side
    val ap = g("logical_connection_a_p")
    assert(ap.getString(ap.fieldIndex("missing_elements")) ==
      "contains_relationship")
    val base = g("logical_connection_a_c")
    assert(base.getString(base.fieldIndex("missing_elements")) ==
      "related_to_relationship")
  }

  test("hierarchy gap: hierarchical language without hierarchical rel type") {
    val n = nodes(
      ("a", 1, "d", "t", "this is part of a bigger structure clearly"),
      ("b", 2, "d", "t", "this is a kind of special case here today"),
      ("c", 3, "d", "t", "no such language present in this body"))
    val e = edges(("a", "z", "part_of"), ("b", "z", "related_to"))
    val g = gaps(n, e)
    assert(!g.contains("hierarchy_gap_a")) // has part_of rel
    assert(g.contains("hierarchy_gap_b"))  // only related_to
    assert(!g.contains("hierarchy_gap_c")) // no hierarchical language
  }

  test("bounded-group contract caps ONLY the logical-connection leg") {
    // 3 near-identical nodes in one domain: uncapped, all 3 pairs gap;
    // capped at 2, only the first two (by ord) pair — while the linear
    // legs (isolation here: every node has 0 edges) stay uncapped.
    val n = nodes(
      ("a", 1, "d", "t", "shared common words repeat across these nodes"),
      ("b", 2, "d", "t", "shared common words repeat across these nodes"),
      ("c", 3, "d", "t", "shared common words repeat across these nodes"))
    val full = gaps(n, edges())
    assert(full.contains("logical_connection_a_b") &&
      full.contains("logical_connection_a_c") &&
      full.contains("logical_connection_b_c"))
    val capped = GapDetection.detectGaps(n, edges(), maxPairPerDomain = 2)
      .collect().map(_.getString(0)).toSet
    assert(capped.contains("logical_connection_a_b"))
    assert(!capped.contains("logical_connection_a_c") &&
      !capped.contains("logical_connection_b_c"))
    // linear legs unaffected by the pair cap: all 3 isolation gaps stay
    assert(Seq("a", "b", "c").forall(i => capped.contains(s"isolation_gap_$i")))
  }
}
