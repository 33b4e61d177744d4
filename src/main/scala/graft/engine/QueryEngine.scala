package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Filters, Ranking}
import graft.operators.Filters.Cond
import graft.query.{NaturalLanguage, RequestNormalizer}
import graft.semantic.VectorSearch
import graft.text.TextFunctions
import graft.pipeline.Ingestion.{EmbeddingProvider, HashEmbedding}

/** The reference's primary entry point (query/query_engine.py:88-253) as
  * one declarative pipeline: QueryRequest → (NL parse) → normalize →
  * execute-by-type → filter → rank → paginate → aggregate →
  * QueryResponse.
  *
  * Differences from the reference, all deliberate (SURVEY.md §7.4):
  * no cross-query cache (batch engine; Delta versioning gives
  * consistency), and the "explanation" is Spark's own plan
  * (`results.queryExecution`) plus the reference-style step list.
  * Matches the reference's quirks the oracle can observe: aggregations
  * run over RANKED-but-UNPAGINATED results (:200-215), GRAPH_PATTERN
  * falls back to content search (:375-379), total_count is pre-slice
  * (:196-198).
  */
object QueryEngine {

  sealed trait QueryType
  case object SemanticSearch extends QueryType
  case object GraphPattern extends QueryType
  case object RelationshipSearch extends QueryType
  case object Aggregation extends QueryType
  case object NaturalLanguageQ extends QueryType
  case object ContentSearch extends QueryType

  final case class AggSpec(op: String, field: String, alias: Option[String] = None)

  /** Mirrors QueryRequest (query_types.py:88-133). `queryVec` supplies
    * the query embedding directly; absent, the deterministic
    * hash-embedding of the query text is used (the no-network default —
    * a production deployment injects a model-backed EmbeddingProvider). */
  final case class QueryRequest(
      query: String,
      queryType: QueryType = ContentSearch,
      filters: Seq[Cond] = Nil,
      limit: Int = 50,
      offset: Int = 0,
      similarityThreshold: Double = 0.7,
      maxDepth: Int = 3,
      queryVec: Option[Seq[Float]] = None,
      includeRelationships: Boolean = false,
      aggregations: Seq[AggSpec] = Nil)

  /** The graph tables the engine queries: nodes must expose
    * (node_id, content) plus whatever filter/score columns requests use;
    * embeddings (node_id, embedding); edges (from_id, to_id). */
  final case class Tables(nodes: DataFrame, embeddings: DataFrame, edges: DataFrame)

  final case class QueryResponse(
      results: DataFrame,          // ranked, paginated
      totalCount: Long,            // pre-pagination (query_engine.py:196-198)
      aggregations: Option[DataFrame], // over ranked pre-pagination rows
      explanation: Seq[String])

  def query(tables: Tables, request0: QueryRequest,
      embedder: EmbeddingProvider = HashEmbedding()): QueryResponse = {
    val steps = scala.collection.mutable.ArrayBuffer.empty[String]

    // 1. NL parse (query_engine.py:114-136): classify intent, extract
    //    quoted entities into content filters, rewrite the request.
    val request = request0.queryType match {
      case NaturalLanguageQ =>
        val p = NaturalLanguage.parse(request0.query)
        steps += s"nl_parse: intent=${p.intent} entities=${p.entities.mkString(",")}"
        val ty = p.intent match {
          case NaturalLanguage.CountAggregation => Aggregation
          case NaturalLanguage.FindRelationships => RelationshipSearch
          case NaturalLanguage.SimilaritySearch => SemanticSearch
          case NaturalLanguage.ComplexPattern => GraphPattern
          case NaturalLanguage.FindNodes => ContentSearch
        }
        request0.copy(queryType = ty, filters = request0.filters ++ p.filters,
          similarityThreshold = p.semanticThreshold)
      case _ => request0
    }

    // 2. Normalize (query_optimizer.py clamps — the only reference
    //    rewrites with domain semantics; Catalyst owns the rest).
    val threshold = RequestNormalizer.clampThreshold(request.similarityThreshold)
    val depth = RequestNormalizer.clampDepth(request.maxDepth, Some(request.limit))
    steps += s"normalize: threshold=$threshold depth=$depth"
    steps += f"cost_estimate=${RequestNormalizer.estimateCost(
      request.filters.size, request.queryType == SemanticSearch, depth,
      request.aggregations.size, 1, request.offset > 0 || request.limit > 0)}%.1f"

    // 3. Execute by type (query_engine.py:302-447).
    val candidates: DataFrame = request.queryType match {
      case SemanticSearch =>
        steps += "execute: semantic top-k (metadata pre-filtered)"
        val qv = request.queryVec.getOrElse(
          embedder.embed(Seq(request.query)).head.toSeq)
        val spark = tables.embeddings.sparkSession
        import spark.implicits._
        val qdf = Seq(Tuple1(qv.toArray)).toDF("embedding")
        // Metadata filters prune BEFORE the top-k heap (vector_store_
        // interface.py:181-201) — filtering after truncation would drop
        // matches ranked below the cutoff.
        val filteredNodes = tables.nodes.filter(
          Filters.allFor(tables.nodes, request.filters))
        val candidates = tables.embeddings
          .join(filteredNodes.select(col("node_id")), Seq("node_id"), "left_semi")
        val k = math.max(request.limit + request.offset, 50)
        val top = VectorSearch.topK(candidates, qdf, k, idCol = "node_id")
          .filter(col("sim") >= threshold)
        filteredNodes.join(top, "node_id")
      case GraphPattern =>
        // reference stub: falls back to content search (:375-379)
        steps += "execute: graph-pattern → content-search fallback"
        contentSearch(tables.nodes, request.query)
      case RelationshipSearch =>
        steps += "execute: content match + has-relationships semi-join"
        val hasRel = tables.edges.select(col("from_id").as("node_id"))
          .unionByName(tables.edges.select(col("to_id").as("node_id")))
        contentSearch(tables.nodes, request.query)
          .join(hasRel, Seq("node_id"), "left_semi")
          .withColumn("sim", lit(0.0))
      case Aggregation =>
        steps += "execute: aggregation scan"
        tables.nodes.withColumn("sim", lit(0.0))
      case _ =>
        steps += "execute: content search"
        contentSearch(tables.nodes, request.query)
    }

    // 4. Filter (FilterProcessor semantics; :158-175).
    val filtered = candidates.filter(Filters.allFor(candidates, request.filters))

    // 5. Rank (result_ranker.py): relevance + quality + length, adaptive
    //    weights per type (:628-660).
    val qToks = request.query.toLowerCase.split("\\s+").filter(_.nonEmpty).distinct.toSeq
    // lowercase both sides — cased content must still match query tokens
    val rel = greatest(col("sim"),
      Ranking.relevance(lower(col("content")), qToks))
    val quality = TextFunctions.qualityScore(col("content"), length(col("content")))
    val lengthScore = TextFunctions.lengthScore(length(col("content")))
    val weights = request.queryType match {
      case SemanticSearch => Seq(0.6, 0.2, 0.2)
      case Aggregation => Seq(0.5, 0.3, 0.2)
      case RelationshipSearch => Seq(0.4, 0.3, 0.3)
      case _ => Seq(0.5, 0.3, 0.2)
    }
    val ranked = filtered.withColumn("combined_score",
        Ranking.combine(Seq(rel, quality, lengthScore).zip(weights)))
      .orderBy(col("combined_score").desc, col("node_id"))
    steps += s"rank: weights=${weights.mkString("/")}"

    // 6. Paginate — total_count pre-slice (:196-198).
    val totalCount = ranked.count()
    // native offset/limit over the already-sorted plan → TakeOrdered heaps
    val paged =
      (if (request.offset > 0) ranked.offset(request.offset) else ranked)
        .limit(request.limit)

    // 7. Aggregations over RANKED pre-pagination results (:200-215).
    val aggs = if (request.aggregations.isEmpty) None else Some {
      val cols = request.aggregations.map { a =>
        val alias = a.alias.getOrElse(s"${a.op}_${a.field}")
        (a.op match {
          case "count" => count(if (a.field == "*") lit(1) else col(a.field))
          case "sum" => sum(col(a.field))
          case "avg" => coalesce(avg(col(a.field)), lit(0.0))
          case "min" => min(col(a.field))
          case "max" => max(col(a.field))
          case other => throw new IllegalArgumentException(
            s"unknown aggregation '$other' (count/sum/avg/min/max)")
        }).as(alias)
      }
      ranked.agg(cols.head, cols.tail: _*)
    }

    // 8. Optional relationship expansion (query_engine.py:334-373): each
    //    result row carries its 1-hop edges as an array<struct> — the
    //    QueryResult.relationships shape of §1.1. Joined AFTER pagination
    //    so only the returned page pays the expansion.
    val expanded =
      if (!request.includeRelationships) paged
      else {
        val outE = tables.edges.select(col("from_id").as("node_id"),
          struct(col("to_id").as("other_id"), lit("out").as("direction")).as("rel"))
        val inE = tables.edges.select(col("to_id").as("node_id"),
          struct(col("from_id").as("other_id"), lit("in").as("direction")).as("rel"))
        val rels = outE.unionByName(inE)
          .groupBy(col("node_id"))
          .agg(collect_list(col("rel")).as("relationships"))
        paged.join(rels, Seq("node_id"), "left_outer")
          .withColumn("relationships",
            coalesce(col("relationships"), array()))
          // the join reorders rows — restore the documented ranked order
          .orderBy(col("combined_score").desc, col("node_id"))
      }

    QueryResponse(expanded, totalCount, aggs, steps.toSeq)
  }

  /** Content LIKE search (sqlite_storage.py:619-660 shape). */
  private def contentSearch(nodes: DataFrame, q: String): DataFrame =
    nodes.filter(if (q.isEmpty) lit(true) else col("content").contains(q))
      .withColumn("sim", lit(0.0))
}
