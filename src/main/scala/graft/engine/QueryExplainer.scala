package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Query explanation — the reference's QueryExplainer
  * (query/query_explainer.py) re-grounded in Spark's own execution
  * machinery. The reference hand-assembles explanation steps as its
  * engine runs; here the steps come from the EXECUTED physical plan
  * (real operators, real row counts from SQLMetrics), and the
  * reference's analysis rules run over them:
  *
  *  - bottleneck analysis (:168-234): slow_step when a step holds >30%
  *    of total time; inefficient_filter when a filter's pass rate is
  *    under 10%; missing_optimizations when a slow query (>1000 ms)
  *    applied fewer than two optimizations;
  *  - per-operation recommendations (:459-496);
  *  - optimization suggestions (:235-288) from request shape + timings;
  *  - translation steps (:302-349) as the human-readable narrative.
  *
  * Everything here is driver-side over the PLAN (tens of nodes), not the
  * data — the same bound as the reference's in-memory step list.
  */
object QueryExplainer {

  /** One execution step (QueryExplanationStep, query_explainer.py:23-45;
    * sizes and times optional exactly as there). */
  final case class Step(
      stepName: String,
      operation: String,
      timeMs: Double,
      inputSize: Option[Long],
      outputSize: Option[Long],
      optimizations: Seq[String])

  final case class Bottleneck(
      kind: String,
      stepName: String,
      description: String,
      recommendations: Seq[String])

  /** Request shape the suggestion rules read (QueryRequest fields used
    * by query_explainer.py:235-288). */
  final case class RequestMeta(
      queryType: String,
      limit: Option[Int],
      includeRelationships: Boolean,
      maxDepth: Int,
      nFilters: Int,
      nAggregations: Int)

  // -- step extraction from the executed plan ---------------------------

  private def finalPlan(p: SparkPlan): SparkPlan = p match {
    case a: AdaptiveSparkPlanExec => finalPlan(a.executedPlan)
    // after AQE execution, materialized stages appear as leaf wrappers —
    // unwrap to reach the operators (and their metrics) inside
    case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      finalPlan(s.plan)
    case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
      finalPlan(r.child)
    case other => other
  }

  /** Spark operator -> the reference's operation vocabulary
    * (vector_search / graph_traversal / filter / ranking / aggregation
    * etc.), so the per-operation recommendation table applies. */
  private def operationOf(node: SparkPlan): String = {
    val n = node.nodeName
    if (n.contains("Scan")) "graph_query"
    else if (n.contains("Filter")) "filter"
    else if (n.contains("Join")) "graph_traversal"
    else if (n.contains("TakeOrdered") || n.contains("Sort")) "ranking"
    else if (n.contains("Aggregate")) "aggregation"
    else if (n.contains("Exchange")) "shuffle"
    else if (n.contains("Window")) "window"
    else if (n.contains("Project")) "projection"
    else n.toLowerCase
  }

  /** Spark-visible optimizations per node — the analog of the
    * reference's optimizations_applied strings. */
  private def optimizationsOf(node: SparkPlan): Seq[String] = {
    val n = node.nodeName
    val fromName = Seq(
      "predicate_pushdown" -> (n.contains("Scan") &&
        node.toString.contains("PushedFilters: [") &&
        !node.toString.contains("PushedFilters: []")),
      "broadcast_join" -> n.contains("BroadcastHashJoin"),
      "topk_pushdown" -> n.contains("TakeOrderedAndProject"),
      "partial_aggregation" -> (n.contains("Aggregate") &&
        node.toString.contains("partial")),
      "adaptive_execution" -> n.contains("AdaptiveSparkPlan"))
    fromName.collect { case (tag, true) => tag }
  }

  /** Run the frame (rows discarded) and read the per-operator steps off
    * the executed plan: numOutputRows from SQLMetrics, time from the
    * node's timing metrics (ms). Children's output is the node's input.
    *
    * The execution must drive df's OWN queryExecution — a sink write
    * (`df.write.format("noop")`) plans a SEPARATE QueryExecution, and
    * the instance read here would never have run, leaving every metric
    * at zero. */
  def execute(df: DataFrame): (Seq[Step], Double) = {
    val t0 = System.nanoTime()
    df.queryExecution.executedPlan.execute().foreach(_ => ())
    val totalMs = (System.nanoTime() - t0) / 1e6
    val nodes = collectNodes(finalPlan(df.queryExecution.executedPlan))
    val steps = nodes.map { node =>
      val out = node.metrics.get("numOutputRows").map(_.value)
      val in = node.children.headOption.flatMap(c =>
        finalPlan(c).metrics.get("numOutputRows").map(_.value))
      // timing metrics come in TWO units: metricType "timing" is ms,
      // "nsTiming" (shuffle write/fetch-wait on Exchange nodes) is ns —
      // normalize to ms or an Exchange reads a million-x bottleneck
      val time = node.metrics.collect {
        case (name, m) if name.toLowerCase.contains("time") =>
          if (m.metricType == "nsTiming") m.value / 1000000L else m.value
      }.foldLeft(0L)(math.max)
      Step(node.nodeName, operationOf(node), time.toDouble, in, out,
        optimizationsOf(node))
    }
    (steps, totalMs)
  }

  private def collectNodes(p: SparkPlan): Seq[SparkPlan] = {
    val self = p match {
      case _: org.apache.spark.sql.execution.WholeStageCodegenExec => Seq.empty
      case _: org.apache.spark.sql.execution.InputAdapter => Seq.empty
      case other => Seq(other)
    }
    self ++ p.children.flatMap(c => collectNodes(finalPlan(c)))
  }

  // -- the reference's analysis rules -----------------------------------

  /** Per-operation recommendations
    * (_get_step_optimization_recommendations, :459-496). */
  def stepRecommendations(operation: String): Seq[String] = operation match {
    case "vector_search" => Seq(
      "Consider increasing similarity threshold to reduce search space",
      "Use more specific query terms",
      "Limit result size with appropriate LIMIT clause")
    case "graph_traversal" => Seq(
      "Reduce max_depth if deep traversal isn't necessary",
      "Add more selective filters before traversal",
      "Consider using relationship-specific queries")
    case "filter" => Seq(
      "Ensure indexes exist for filter fields",
      "Reorder filters to put most selective first",
      "Consider combining multiple filters into compound conditions")
    case "ranking" => Seq(
      "Reduce ranking complexity for large result sets",
      "Consider pre-computing quality scores",
      "Use simpler ranking criteria for real-time queries")
    case _ => Seq.empty
  }

  /** Bottleneck analysis (analyze_performance_bottlenecks, :168-234):
    * the three reference rules, same thresholds. */
  def bottlenecks(steps: Seq[Step], totalMs: Double,
      nOptimizations: Int): Seq[Bottleneck] = {
    if (totalMs == 0) return Seq.empty
    val slow = steps.collect {
      case s if s.timeMs / totalMs * 100 > 30 =>
        val pct = s.timeMs / totalMs * 100
        Bottleneck("slow_step", s.stepName,
          f"Step '${s.stepName}' is consuming $pct%.1f%% of execution time",
          stepRecommendations(s.operation))
    }
    val selective = steps.collect {
      case s if s.operation == "filter" && s.inputSize.exists(_ > 0) &&
          s.outputSize.isDefined &&
          s.outputSize.get.toDouble / s.inputSize.get < 0.1 =>
        val ratio = s.outputSize.get.toDouble / s.inputSize.get
        Bottleneck("inefficient_filter", s.stepName,
          f"Filter is very selective (${ratio * 100}%.1f%% pass rate), " +
            "consider applying earlier",
          Seq("Move selective filters earlier in execution",
            "Consider adding indexes for filter fields",
            "Optimize filter conditions for better performance"))
    }
    val missing =
      if (totalMs > 1000 && nOptimizations < 2)
        Seq(Bottleneck("missing_optimizations", "",
          "Query is slow but few optimizations were applied",
          Seq("Consider adding more specific filters",
            "Reduce result set size with LIMIT",
            "Use more selective query patterns",
            "Check if appropriate indexes exist")))
      else Seq.empty
    slow ++ selective ++ missing
  }

  /** The per-query section of BENCH_EXPLAIN.md, also printed by
    * graft.Profile: a header with the executed total, the three slowest
    * steps and every bottleneck-rule hit, as markdown lines. */
  def digest(name: String, steps: Seq[Step], totalMs: Double): String = {
    val nOpt = steps.map(_.optimizations.size).sum
    val hits = bottlenecks(steps, totalMs, nOpt)
    val md = new StringBuilder
    md ++= s"\n## $name (${f"$totalMs%.0f"} ms executed, " +
      s"${steps.size} plan steps, $nOpt optimizations)\n\n"
    steps.sortBy(-_.timeMs).take(3).foreach { s =>
      md ++= s"- ${s.stepName} [${s.operation}] ${f"${s.timeMs}%.0f"} ms" +
        s.outputSize.map(o => s", $o rows out").getOrElse("") +
        (if (s.optimizations.nonEmpty)
          s" (${s.optimizations.mkString(", ")})" else "") + "\n"
    }
    if (hits.isEmpty) md ++= "- bottleneck rules: none fired\n"
    else hits.foreach(b =>
      md ++= s"- BOTTLENECK ${b.kind}: ${b.description}\n")
    md.toString
  }

  /** Optimization suggestions
    * (generate_query_optimization_suggestions, :235-288) — the seven
    * reference rules, same thresholds and trigger order. */
  def suggestions(req: RequestMeta, totalMs: Double, cacheHit: Boolean,
      steps: Seq[Step]): Seq[String] = {
    val b = Seq.newBuilder[String]
    if (req.queryType == "natural_language")
      b += "Consider using more specific query types (semantic_search, " +
        "graph_pattern) for better performance"
    if (req.limit.isEmpty)
      b += "Add a LIMIT to reduce result set size and improve performance"
    if (req.includeRelationships && req.maxDepth > 2)
      b += "Consider reducing max_depth for relationship traversal to " +
        "improve performance"
    if (req.nFilters == 0 && totalMs > 500)
      b += "Add filters to reduce the search space and improve query performance"
    if (totalMs > 2000)
      b += "Query is slow (>2s). Consider breaking it into smaller, " +
        "more specific queries"
    if (!cacheHit && totalMs > 100)
      b += "Enable caching for frequently executed queries"
    val bigResult = steps.find(s => s.operation == "graph_query" &&
      s.outputSize.exists(_ > 1000))
    if (bigResult.isDefined)
      b += "Large result set detected. Consider adding more selective filters"
    b.result()
  }

  /** Translation narrative (_generate_translation_steps, :302-349). */
  def translationSteps(req: RequestMeta, steps: Seq[Step]): Seq[String] = {
    val b = Seq.newBuilder[String]
    val opts = steps.flatMap(_.optimizations).distinct
    if (opts.nonEmpty) b += s"Applied optimizations: ${opts.mkString(", ")}"
    if (steps.exists(_.operation == "graph_query"))
      b += s"Executed ${req.queryType} against graph database"
    if (steps.exists(_.operation == "filter"))
      b += s"Applied ${req.nFilters} filters to results"
    if (steps.exists(_.operation == "ranking"))
      b += "Ranked results by relevance and quality scores"
    if (steps.exists(_.operation == "aggregation"))
      b += s"Computed ${req.nAggregations} aggregations"
    b.result()
  }
}
