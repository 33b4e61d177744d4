package graft

import org.apache.spark.sql.functions._
import graft.engine.QueryExplainer
import graft.engine.QueryExplainer.{RequestMeta, Step}

/** Pins the explainer's analysis rules (query_explainer.py:168-349,
  * 459-496) on crafted steps, and the plan-extraction path on a real
  * executed query. */
class QueryExplainerSpec extends SparkSpec {
  private val req = RequestMeta("semantic_search", limit = Some(10),
    includeRelationships = false, maxDepth = 1, nFilters = 1,
    nAggregations = 0)

  test("bottlenecks: slow step, selective filter, missing optimizations") {
    val steps = Seq(
      Step("scan", "graph_query", 400.0, None, Some(10000L), Seq("predicate_pushdown")),
      Step("filter", "filter", 100.0, Some(10000L), Some(500L), Seq.empty),
      Step("sort", "ranking", 700.0, Some(500L), Some(500L), Seq.empty))
    val b = QueryExplainer.bottlenecks(steps, totalMs = 1200.0, nOptimizations = 1)
    val kinds = b.map(_.kind)
    // 400/1200 = 33% and 700/1200 = 58% -> two slow steps; 5% pass rate
    // -> inefficient filter; 1200 ms with one optimization -> missing
    assert(kinds.count(_ == "slow_step") == 2)
    assert(kinds.contains("inefficient_filter"))
    assert(kinds.contains("missing_optimizations"))
    // the slow ranking step carries the ranking recommendation table
    val rank = b.find(_.stepName == "sort").get
    assert(rank.recommendations.exists(_.contains("pre-computing quality scores")))
    // fast total -> no bottlenecks at all
    assert(QueryExplainer.bottlenecks(steps, 0.0, 0).isEmpty)
  }

  test("digest keeps the BENCH_EXPLAIN section layout") {
    val steps = Seq(
      Step("Scan parquet ", "graph_query", 6.0, None, Some(20000L),
        Seq("predicate_pushdown")),
      Step("Sort", "ranking", 10.4, Some(20000L), Some(20000L), Seq.empty),
      Step("BroadcastExchange", "shuffle", 67.0, None, Some(20000L), Seq.empty),
      Step("Project", "projection", 1.0, None, None, Seq.empty))
    assert(QueryExplainer.digest("q254_entity_resolution", steps, 605.2) ==
      """
        |## q254_entity_resolution (605 ms executed, 4 plan steps, 1 optimizations)
        |
        |- BroadcastExchange [shuffle] 67 ms, 20000 rows out
        |- Sort [ranking] 10 ms, 20000 rows out
        |- Scan parquet  [graph_query] 6 ms, 20000 rows out (predicate_pushdown)
        |- bottleneck rules: none fired
        |""".stripMargin)
    val slow = QueryExplainer.digest("q", steps, 70.0)
    assert(slow.linesIterator.count(_.startsWith("- BOTTLENECK slow_step: ")) == 1)
    assert(!slow.contains("none fired"))
  }

  test("suggestions follow the reference's seven rules") {
    val s = QueryExplainer.suggestions(
      RequestMeta("natural_language", None, includeRelationships = true,
        maxDepth = 3, nFilters = 0, nAggregations = 0),
      totalMs = 2500.0, cacheHit = false,
      steps = Seq(Step("scan", "graph_query", 0, None, Some(5000L), Seq.empty)))
    assert(s.size == 7) // every rule fires on this request
    assert(s.head.contains("more specific query types"))
    assert(s.last.contains("Large result set"))
    // healthy fast cached query with a limit -> nothing fires
    assert(QueryExplainer.suggestions(req, 50.0, cacheHit = true, Seq.empty).isEmpty)
  }

  test("execute extracts real steps and optimizations from a Spark plan") {
    // parquet-backed (a local Seq would be constant-folded away by
    // ConvertToLocalRelation, leaving no Filter node to extract)
    val df = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .filter(col("n_chars") > 200)
      .groupBy(col("source")).count()
      .orderBy(col("source")).limit(5)
    val (steps, totalMs) = QueryExplainer.execute(df)
    assert(totalMs > 0)
    assert(steps.exists(_.operation == "filter"))
    assert(steps.exists(_.operation == "aggregation"))
    // metrics must come from the plan instance that actually RAN: the
    // scan's numOutputRows is the real row count, not a never-executed
    // plan's zero
    assert(steps.exists(s => s.operation == "graph_query" &&
      s.outputSize.exists(_ > 0)))
    assert(steps.exists(s => s.optimizations.contains("topk_pushdown")))
    // the aggregate emits partial + final nodes; partials flagged
    assert(steps.exists(s => s.optimizations.contains("partial_aggregation")))
    val narrative = QueryExplainer.translationSteps(req, steps)
    assert(narrative.exists(_.startsWith("Applied optimizations:")))
    assert(narrative.exists(_.contains("Ranked results")))
  }
}
