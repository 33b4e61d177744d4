package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.graph.GraphOps
import graft.operators.Contradictions

/** The reference's enhanced MCP endpoint surface
  * (mcp_integration/enhanced_mcp_endpoint.py) as one typed facade over
  * the engine's operators — the entry points a reference user calls by
  * name, each delegating to the Spark-first implementation (and each
  * oracle-gated through the catalog query cited per method).
  *
  * Transport (JSON envelopes, status fields, MCP protocol) is out of
  * scope (README divergences — serving layer); these are the query
  * semantics behind the endpoints.
  */
object Endpoints {

  /** multi_hop_traversal (:76-171): relation/confidence-filtered BFS;
    * `withPaths` adds the rendered path per reached node. q12/q13/q71. */
  def multiHopTraversal(edges: DataFrame, seeds: DataFrame, maxHops: Int,
      direction: GraphOps.Direction = GraphOps.Outgoing,
      relTypes: Seq[String] = Nil, minConfidence: Option[Double] = None,
      withPaths: Boolean = false): DataFrame = {
    val filters: Seq[Column] =
      (if (relTypes.nonEmpty) Seq(col("relation_type").isin(relTypes: _*)) else Nil) ++
        minConfidence.map(c => col("confidence") >= c)
    val edgeFilter = filters.reduceOption(_ && _)
    if (withPaths)
      GraphOps.multiHopPaths(edges, seeds, maxHops, direction, edgeFilter)
    else GraphOps.multiHop(edges, seeds, maxHops, direction, edgeFilter)
  }

  /** find_contradictions (:587-686): antonym-axis opposition between
    * same-group docs. q49. */
  def findContradictions(docs: DataFrame, groupCol: String, idCol: String,
      textCol: String, axes: Seq[(String, String)],
      minScore: Double = 0.5, limit: Int = 10): DataFrame =
    Contradictions.mine(docs, groupCol, idCol, textCol, axes, minScore, limit)

  /** export_subgraph (:1104+): induced subgraph of `keep` node ids,
    * serialized by sources/Exporters in the caller's chosen format. q15. */
  def exportSubgraph(edges: DataFrame, keep: DataFrame): DataFrame =
    GraphOps.inducedSubgraph(edges, keep)
}
