package graft

import org.apache.spark.sql.functions._
import graft.engine.QueryEngine
import graft.engine.QueryEngine._
import graft.operators.Filters.Cond
import graft.temporal.TemporalOps
import graft.text.TextFunctions

/** QueryEngine facade (§3.1 lifecycle) + the stats/chain operators added
  * with StatsQueries, on tiny fixtures mirroring the reference's unit
  * style (tests/test_advanced_query_engine.py:288-377 — small rows,
  * exact assertions).
  */
class EngineStatsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val nodes = Seq(
    ("n1", "the quick brown fox jumps over the lazy dog near the river bank today", "src_a"),
    ("n2", "spark engines process big data with distributed joins and shuffles", "src_a"),
    ("n3", "a tiny note", "src_b"),
    ("n4", "spark streaming handles unbounded data with watermarks and windows", "src_b"))
    .toDF("node_id", "content", "source")

  private lazy val edges = Seq(
    ("n1", "n2"), ("n2", "n4")).toDF("from_id", "to_id")

  private lazy val embeddings = {
    val e = graft.pipeline.Ingestion.HashEmbedding(16)
    val rows = Seq("n1", "n2", "n3", "n4").zip(
      e.embed(Seq(
        "the quick brown fox jumps over the lazy dog near the river bank today",
        "spark engines process big data with distributed joins and shuffles",
        "a tiny note",
        "spark streaming handles unbounded data with watermarks and windows")))
    rows.toDF("node_id", "embedding")
  }

  private def tables = Tables(nodes, embeddings, edges)

  test("engine: content search ranks, paginates, counts pre-slice") {
    val r = QueryEngine.query(tables,
      QueryRequest(query = "spark", limit = 1))
    assert(r.totalCount === 2) // n2, n4 contain "spark"
    val top = r.results.collect()
    assert(top.length === 1)
    assert(r.explanation.exists(_.startsWith("execute: content search")))
  }

  test("engine: semantic search finds the query's own text first") {
    val r = QueryEngine.query(tables, QueryRequest(
      query = "spark engines process big data with distributed joins and shuffles",
      queryType = SemanticSearch, limit = 2, similarityThreshold = 0.6),
      embedder = graft.pipeline.Ingestion.HashEmbedding(16)) // match fixture dim
    val ids = r.results.select("node_id").as[String].collect()
    assert(ids.contains("n2")) // exact text ⇒ cosine 1.0 ⇒ must survive
  }

  test("engine: relationship search keeps only nodes with edges") {
    val r = QueryEngine.query(tables,
      QueryRequest(query = "", queryType = RelationshipSearch, limit = 10))
    val ids = r.results.select("node_id").as[String].collect().toSet
    assert(ids === Set("n1", "n2", "n4")) // n3 has no edges
  }

  test("engine: NL count query routes to aggregation with agg over ranked rows") {
    val r = QueryEngine.query(tables, QueryRequest(
      query = "how many notes are there", queryType = NaturalLanguageQ,
      limit = 10, aggregations = Seq(AggSpec("count", "*", Some("n")))))
    assert(r.explanation.exists(_.contains("intent=CountAggregation")))
    assert(r.aggregations.get.select("n").as[Long].head() === 4)
  }

  test("engine: relationship expansion attaches 1-hop edges per result") {
    val r = QueryEngine.query(tables, QueryRequest(query = "spark",
      limit = 10, includeRelationships = true))
    val rows = r.results.select("node_id", "relationships").collect()
      .map(row => row.getString(0) ->
        row.getSeq[org.apache.spark.sql.Row](1).map(_.getString(0)).toSet)
      .toMap
    assert(rows("n2") === Set("n1", "n4")) // in from n1, out to n4
    assert(rows("n4") === Set("n2"))
  }

  test("engine: filters apply before ranking (filter dialect reuse)") {
    val r = QueryEngine.query(tables, QueryRequest(query = "",
      filters = Seq(Cond("source", "eq", "src_b")), limit = 10))
    assert(r.totalCount === 2)
  }

  test("engine golden: full lifecycle NL→semantic→filter→rank→paginate→agg→relationships") {
    // One composed request exercising every §3.1 stage in one pass; every
    // field of the QueryResponse is pinned (the stages are tested
    // piecewise above — this is the end-to-end contract).
    val n2vec = embeddings.filter(col("node_id") === "n2")
      .select("embedding").as[Seq[Float]].head()
    val r = QueryEngine.query(tables, QueryRequest(
      query = "which notes are similar to 'spark' processing",
      queryType = NaturalLanguageQ,
      queryVec = Some(n2vec),
      limit = 1,
      includeRelationships = true,
      aggregations = Seq(AggSpec("count", "*", Some("n")),
        AggSpec("max", "combined_score", Some("top_score")))),
      embedder = graft.pipeline.Ingestion.HashEmbedding(16))

    // NL parse: "similar" → SimilaritySearch intent, 'spark' entity →
    // CI content filter, threshold bumped to 0.75
    assert(r.explanation.exists(_.contains("intent=SimilaritySearch")))
    assert(r.explanation.exists(_.contains("entities=spark")))
    assert(r.explanation.exists(_.contains("threshold=0.75")))
    assert(r.explanation.exists(_.startsWith("execute: semantic")))

    // semantic: n2's own vector ⇒ cosine 1.0 survives 0.75; the filter
    // keeps spark-containing docs (n2, n4); n4's cosine to n2 is below
    // threshold ⇒ exactly one ranked row, pre-slice count 1
    assert(r.totalCount === 1)
    val row = r.results.select("node_id", "combined_score", "relationships")
      .collect().head
    assert(row.getString(0) === "n2")
    // combined = 0.6·rel(=cos 1.0) + 0.2·quality + 0.2·length — pinned
    val expectedScore = 0.6 * 1.0 +
      0.2 * nodes.filter(col("node_id") === "n2")
        .select(TextFunctions.qualityScore(col("content"),
          length(col("content"))).as("q")).as[Double].head() +
      0.2 * nodes.filter(col("node_id") === "n2")
        .select(TextFunctions.lengthScore(length(col("content"))).as("l"))
        .as[Double].head()
    assert(math.abs(row.getDouble(1) - expectedScore) < 1e-12)
    // relationship expansion: n2 ← n1 (in), n2 → n4 (out)
    assert(row.getSeq[org.apache.spark.sql.Row](2)
      .map(x => (x.getString(0), x.getString(1))).toSet ===
      Set(("n1", "in"), ("n4", "out")))
    // aggregations run over ranked PRE-pagination rows
    val agg = r.aggregations.get.collect().head
    assert(agg.getLong(agg.fieldIndex("n")) === 1L)
    assert(math.abs(agg.getDouble(agg.fieldIndex("top_score")) - expectedScore) < 1e-12)
  }

  test("driver contract: entry() returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
    // every query has either an oracle or is intentionally rows-only
    assert(SparkEntry.queries.nonEmpty)
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("growthRate: doubling cumulative series") {
    // cum 1,2,4 over 3 days: growth = (4/1)^(1/2) - 1 = 1.0
    val daily = Seq(("a", "d1", 1L), ("a", "d2", 2L), ("a", "d3", 4L))
      .toDF("k", "day", "cum")
    val g = TemporalOps.growthRate(daily, "k", "day", "cum").collect().head
    assert(math.abs(g.getAs[Double]("growth_rate") - 1.0) < 1e-12)
  }

  test("declinePeriods: finds the monotone run, honors minLen") {
    // values 5,4,3,6,5: decline run idx 1-2 (len 2), then idx 4 (len 1)
    val s = Seq(("a", 0, 5), ("a", 1, 4), ("a", 2, 3), ("a", 3, 6), ("a", 4, 5))
      .toDF("k", "idx", "v")
    val runs = TemporalOps.declinePeriods(s, "k", "idx", "v", minLen = 2).collect()
    assert(runs.length === 1)
    assert(runs.head.getAs[Int]("start_idx") === 1)
    assert(runs.head.getAs[Int]("end_idx") === 2)
    assert(runs.head.getAs[Long]("len") === 2)
  }

  test("vector expressions: length mismatch and null elements give NULL (HOF parity)") {
    import graft.functions.VectorFunctions
    val df = Seq(
      (Seq[Option[Float]](Some(1f), Some(0f)), Seq[Option[Float]](Some(1f))),
      (Seq[Option[Float]](Some(1f), None), Seq[Option[Float]](Some(1f), Some(0f))),
      (Seq[Option[Float]](Some(1f), Some(0f)), Seq[Option[Float]](Some(1f), Some(0f))))
      .toDF("a", "b")
    val got = df.select(VectorFunctions.cosine(col("a"), col("b")).as("c")).collect()
    assert(got(0).isNullAt(0)) // length mismatch
    assert(got(1).isNullAt(0)) // null element
    assert(got(2).getDouble(0) === 1.0)
  }

  test("sliding windows: non-divisible window/slide enumerates ceil(w/s) windows") {
    import graft.streaming.EventStream
    val ev = Seq(("2024-01-01 00:00:08", "t"))
      .toDF("ts_s", "event_type")
      .withColumn("ts", to_timestamp(col("ts_s")))
    // window 10s / slide 4s: sec 8 is in windows starting at 0, 4, 8
    val got = EventStream.slidingBatch(ev, 10L, 4L)
      .select("window_start").as[Long].collect().toSet
    val base = ev.select(unix_timestamp(col("ts"))).as[Long].head() - 8
    assert(got === Set(base, base + 4, base + 8))
  }

  test("set_jaccard expression matches array_intersect formula incl. edge cases") {
    val df = Seq(
      (Seq("a", "b", "c"), Seq("b", "c", "d")),        // 2/4
      (Seq.empty[String], Seq.empty[String]),            // 0-union guard
      (Seq("a", "a", "b"), Seq("a", "b", "b")),          // duplicates
      (Seq("x"), Seq("y"))).toDF("a", "b")
    val got = df.select(TextFunctions.jaccardSim(col("a"), col("b")).as("j"),
      try_divide(size(array_intersect(col("a"), col("b"))).cast("double"),
        (size(col("a")) + size(col("b")) -
          size(array_intersect(col("a"), col("b")))).cast("double")).as("ref"))
      .collect()
    got.foreach { r =>
      val ref = if (r.isNullAt(1) || r.getDouble(1).isNaN) 0.0 else r.getDouble(1)
      assert(math.abs(r.getDouble(0) - ref) < 1e-12)
    }
  }
}
