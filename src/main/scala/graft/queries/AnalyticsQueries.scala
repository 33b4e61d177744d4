package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.graph.{GraphOps, KGraph}
import graft.operators.Ranking
import graft.text.{TextFunctions => TF}

/** Analytics endpoints (SURVEY.md §2.4 MCP analytics + §2.7 structure):
  * coverage, relationship metrics, quality histograms, degree
  * distributions, connected components, contradiction mining, ranking
  * scores with greedy diversity re-rank.
  */
object AnalyticsQueries {

  private def docs(s: SparkSession, dir: String) = Tables.load(s, dir, "documents")

  // -- q44: knowledge-coverage analytics — one groupBy pass per source:
  //         counts, content-length stats, quality buckets, top month
  //         (enhanced_mcp_endpoint.py:1278-1362)
  private def q44(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .withColumn("q", TF.qualityScore(col("text"), col("n_chars")))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("cnt"),
        min(col("n_chars")).as("min_len"),
        max(col("n_chars")).as("max_len"),
        round(avg(col("n_chars")), 6).as("avg_len"),
        sum(when(col("q") >= 0.8, 1).otherwise(0)).as("high_q"),
        sum(when(col("q") >= 0.6 && col("q") < 0.8, 1).otherwise(0)).as("med_q"),
        sum(when(col("q") < 0.6, 1).otherwise(0)).as("low_q"))
      .orderBy(col("source"))

  private val q44Sql =
    s"""WITH d AS (SELECT source, n_chars,
       |  ${TF.sql.qualityScore("text", "n_chars")} AS q FROM documents)
       |SELECT source, count(*) AS cnt, min(n_chars) AS min_len,
       |  max(n_chars) AS max_len, round(avg(n_chars), 6) AS avg_len,
       |  CAST(sum(CASE WHEN q >= 0.8 THEN 1 ELSE 0 END) AS BIGINT) AS high_q,
       |  CAST(sum(CASE WHEN q >= 0.6 AND q < 0.8 THEN 1 ELSE 0 END) AS BIGINT) AS med_q,
       |  CAST(sum(CASE WHEN q < 0.6 THEN 1 ELSE 0 END) AS BIGINT) AS low_q
       |FROM d GROUP BY source ORDER BY source""".stripMargin

  // -- q45: relationship metrics — per-type counts, graph density,
  //         3-bucket confidence histogram (enhanced_mcp_endpoint.py:1363-1425)
  private def q45(s: SparkSession, dir: String): DataFrame = {
    val e = KGraph.materialized(s, dir)
    // node count joins in lazily (1-row cross join) — counting eagerly
    // here would run a full distinct job at plan-CONSTRUCTION time
    val nv = e.select(col("from_id").as("n"))
      .unionByName(e.select(col("to_id").as("n")))
      .agg(countDistinct(col("n")).as("n_nodes"))
    e.groupBy(col("relation_type"))
      .agg(count(lit(1)).as("n_edges"),
        round(avg(col("confidence")), 6).as("avg_conf"),
        sum(when(col("confidence") >= 0.8, 1).otherwise(0)).as("high_conf"),
        sum(when(col("confidence") >= 0.5 && col("confidence") < 0.8, 1).otherwise(0)).as("med_conf"),
        sum(when(col("confidence") < 0.5, 1).otherwise(0)).as("low_conf"))
      .crossJoin(nv)
      .withColumn("density",
        round(col("n_edges") /
          (col("n_nodes").cast("double") * (col("n_nodes") - 1)), 9))
      .drop("n_nodes")
      .orderBy(col("relation_type"))
  }

  private val q45Sql =
    s"""WITH RECURSIVE ${KGraph.edgesSql},
       |nv AS (SELECT count(*) AS n FROM (
       |  SELECT from_id AS x FROM edges UNION SELECT to_id FROM edges) u)
       |SELECT relation_type, count(*) AS n_edges,
       |  round(avg(confidence), 6) AS avg_conf,
       |  CAST(sum(CASE WHEN confidence >= 0.8 THEN 1 ELSE 0 END) AS BIGINT) AS high_conf,
       |  CAST(sum(CASE WHEN confidence >= 0.5 AND confidence < 0.8 THEN 1 ELSE 0 END) AS BIGINT) AS med_conf,
       |  CAST(sum(CASE WHEN confidence < 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS low_conf,
       |  round(count(*) * 1.0 / ((SELECT n FROM nv) * ((SELECT n FROM nv) - 1)), 9) AS density
       |FROM edges GROUP BY relation_type ORDER BY relation_type""".stripMargin

  // -- q46: fixed 5-bin quality histogram (floor(q*5), last bin inclusive
  //         — enhanced_mcp_endpoint.py:1426-1497)
  private def q46(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .withColumn("q", TF.qualityScore(col("text"), col("n_chars")))
      .withColumn("bin", least(floor(col("q") * 5), lit(4L)))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("cnt"), round(avg(col("q")), 6).as("avg_q"))
      .orderBy(col("bin"))

  private val q46Sql =
    s"""WITH d AS (SELECT ${TF.sql.qualityScore("text", "n_chars")} AS q FROM documents)
       |SELECT CAST(least(floor(q * 5), 4) AS BIGINT) AS bin, count(*) AS cnt,
       |  round(avg(q), 6) AS avg_q
       |FROM d GROUP BY 1 ORDER BY bin""".stripMargin

  // -- q47: degree distribution per node type (structural anomaly base,
  //         insight_discovery.py:1427-1986 structural detector)
  private def q47(s: SparkSession, dir: String): DataFrame = {
    val e = KGraph.materialized(s, dir)
    val deg = GraphOps.oriented(e, GraphOps.Both)
      .groupBy(col("node_id")).agg(count(lit(1)).as("degree"))
    deg.withColumn("node_type", substring(col("node_id"), 1, 1))
      .groupBy(col("node_type"))
      .agg(count(lit(1)).as("n_nodes"),
        min(col("degree")).as("min_deg"),
        max(col("degree")).as("max_deg"),
        round(avg(col("degree")), 6).as("avg_deg"))
      .orderBy(col("node_type"))
  }

  private val q47Sql =
    s"""WITH RECURSIVE ${KGraph.edgesSql},
       |deg AS (
       |  SELECT node_id, count(*) AS degree FROM (
       |    SELECT from_id AS node_id FROM edges
       |    UNION ALL SELECT to_id FROM edges) u
       |  GROUP BY node_id)
       |SELECT substr(node_id, 1, 1) AS node_type, count(*) AS n_nodes,
       |  min(degree) AS min_deg, max(degree) AS max_deg,
       |  round(avg(degree), 6) AS avg_deg
       |FROM deg GROUP BY 1 ORDER BY node_type""".stripMargin

  // -- q48: connected components on the sparse part co-occurrence graph
  //         (dense-cluster base, insight_discovery.py:590-646)
  private def q48(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val a = li.select(col("l_orderkey"), col("l_partkey").as("pa"))
    val b = li.select(col("l_orderkey"), col("l_partkey").as("pb"))
    val co = a.join(b, "l_orderkey")
      .filter(col("pa") < col("pb"))
      .groupBy(col("pa"), col("pb"))
      .agg(count(lit(1)).as("c"))
      .filter(col("c") >= 3)
      .select(concat(lit("p:"), col("pa")).as("from_id"),
        concat(lit("p:"), col("pb")).as("to_id"))
    GraphOps.connectedComponents(co)
      .orderBy(col("node_id"))
  }

  private val q48Sql =
    """WITH RECURSIVE li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |co AS (
      |  SELECT 'p:'||a.l_partkey AS fa, 'p:'||b.l_partkey AS fb
      |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |  GROUP BY 1, 2 HAVING count(*) >= 3),
      |und AS (SELECT fa AS a, fb AS b FROM co UNION SELECT fb, fa FROM co),
      |reach(src, node) AS (
      |  SELECT a, a FROM (SELECT DISTINCT a FROM und) n
      |  UNION
      |  SELECT r.src, u.b FROM reach r JOIN und u ON u.a = r.node)
      |SELECT node AS node_id, min(src) AS component
      |FROM reach GROUP BY node ORDER BY node_id""".stripMargin

  // -- q49: contradiction mining — antonym-axis lexical scoring between
  //         same-source docs, top 10 (enhanced_mcp_endpoint.py:587-686,
  //         pattern scoring :889-952); axis-prune + scoring live in
  //         operators/Contradictions
  private def q49(s: SparkSession, dir: String): DataFrame =
    graft.operators.Contradictions.mine(docs(s, dir), "source", "doc_id",
      "text", axes = Seq(("slow", "fast"), ("big", "small")),
      minScore = 0.5, limit = 10)

  private val q49Sql =
    """WITH f AS (
      |  SELECT doc_id, source,
      |    list_contains(list_distinct(string_split(text,' ')), 'slow') AS has_slow,
      |    list_contains(list_distinct(string_split(text,' ')), 'fast') AS has_fast,
      |    list_contains(list_distinct(string_split(text,' ')), 'big') AS has_big,
      |    list_contains(list_distinct(string_split(text,' ')), 'small') AS has_small
      |  FROM documents)
      |SELECT a.source, a.doc_id AS a_id, b.doc_id AS b_id,
      |  ((CASE WHEN (a.has_slow AND NOT a.has_fast AND b.has_fast AND NOT b.has_slow)
      |       OR (a.has_fast AND NOT a.has_slow AND b.has_slow AND NOT b.has_fast)
      |     THEN 1 ELSE 0 END) +
      |   (CASE WHEN (a.has_big AND NOT a.has_small AND b.has_small AND NOT b.has_big)
      |       OR (a.has_small AND NOT a.has_big AND b.has_big AND NOT b.has_small)
      |     THEN 1 ELSE 0 END)) / 2.0 AS score
      |FROM f a JOIN f b ON a.source = b.source AND a.doc_id < b.doc_id
      |WHERE ((CASE WHEN (a.has_slow AND NOT a.has_fast AND b.has_fast AND NOT b.has_slow)
      |       OR (a.has_fast AND NOT a.has_slow AND b.has_slow AND NOT b.has_fast)
      |     THEN 1 ELSE 0 END) +
      |   (CASE WHEN (a.has_big AND NOT a.has_small AND b.has_small AND NOT b.has_big)
      |       OR (a.has_small AND NOT a.has_big AND b.has_big AND NOT b.has_small)
      |     THEN 1 ELSE 0 END)) / 2.0 >= 0.5
      |ORDER BY score DESC, a_id, b_id LIMIT 10""".stripMargin

  // -- q50: ranking feature scores + weighted combine + top-k
  //         (result_ranker.py; semantic weights .6/.2/.2)
  private val queryTokens = Seq("spark", "table", "join")

  private[queries] def ranked(s: SparkSession, dir: String): DataFrame = {
    // top-k via orderBy+limit (TakeOrderedAndProject — per-partition
    // heaps, no global sort); row numbers assigned on the 50 survivors
    val w = Window.orderBy(col("combined").desc, col("doc_id"))
    docs(s, dir)
      .withColumn("rel", Ranking.relevance(col("text"), queryTokens))
      .withColumn("qual", TF.qualityScore(col("text"), col("n_chars")))
      .withColumn("len_score", TF.lengthScore(col("n_chars")))
      .withColumn("combined", Ranking.combine(Seq(
        (col("rel"), 0.6), (col("qual"), 0.2), (col("len_score"), 0.2))))
      .orderBy(col("combined").desc, col("doc_id"))
      .limit(50)
      .withColumn("rn", row_number().over(w))
  }

  private def q50(s: SparkSession, dir: String): DataFrame =
    ranked(s, dir)
      .select(col("rn"), col("doc_id"), round(col("rel"), 6).as("rel"),
        round(col("qual"), 6).as("qual"), round(col("combined"), 6).as("combined"))
      .orderBy(col("rn"))

  private[queries] val rankedSql =
    s"""ranked AS (
       |  SELECT doc_id, text, rel, qual, len_score,
       |    (rel * 0.6 + qual * 0.2 + len_score * 0.2) AS combined
       |  FROM (
       |    SELECT doc_id, text,
       |      least(CASE WHEN (len(list_distinct(string_split(text,' '))) + 3 -
       |          len(list_filter(list_distinct(string_split(text,' ')),
       |            t -> t IN ('spark','table','join')))) > 0
       |        THEN len(list_filter(list_distinct(string_split(text,' ')),
       |            t -> t IN ('spark','table','join'))) * 1.0 /
       |          (len(list_distinct(string_split(text,' '))) + 3 -
       |          len(list_filter(list_distinct(string_split(text,' ')),
       |            t -> t IN ('spark','table','join'))))
       |        ELSE 0.0 END * 2, 1.0) AS rel,
       |      ${TF.sql.qualityScore("text", "n_chars")} AS qual,
       |      ${TF.sql.lengthScore("n_chars")} AS len_score
       |    FROM documents) x),
       |topk AS (
       |  SELECT row_number() OVER (ORDER BY combined DESC, doc_id) AS rn,
       |    doc_id, text, rel, qual, combined
       |  FROM ranked QUALIFY rn <= 50)""".stripMargin

  private val q50Sql =
    s"""WITH $rankedSql
       |SELECT rn, doc_id, round(rel, 6) AS rel, round(qual, 6) AS qual,
       |  round(combined, 6) AS combined
       |FROM topk ORDER BY rn""".stripMargin

  // -- q51: greedy diversity re-rank of the top-50 (result_ranker
  //         .py:570-626) — sequential over collected top-k, k ≤ 50
  private def q51(s: SparkSession, dir: String): DataFrame = {
    val top = ranked(s, dir)
      .select(col("rn"), col("doc_id"), TF.distinctTokens(col("text")).as("toks"))
      .orderBy(col("rn"))
    val rows = top.collect()
    val tokenSets = rows.map(r => r.getSeq[String](2).toSet).toSeq
    val kept = Ranking.greedyDiversityKeep(tokenSets, 0.7).toArray
    import s.implicits._
    val keptDf = kept.toSeq.toDF("rn")
    top.select(col("rn"), col("doc_id")).join(keptDf, "rn").orderBy(col("rn"))
  }

  private val q51Sql =
    s"""WITH RECURSIVE $rankedSql,
       |cand AS (SELECT rn, doc_id, list_distinct(string_split(text, ' ')) AS toks FROM topk),
       |sims AS (
       |  SELECT a.rn AS a_rn, b.rn AS b_rn FROM cand a JOIN cand b ON a.rn < b.rn
       |  WHERE len(list_intersect(a.toks, b.toks)) * 1.0 /
       |    (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) > 0.7),
       |confs AS (
       |  SELECT c.rn, coalesce(list(s.a_rn) FILTER (s.a_rn IS NOT NULL), []) AS conf
       |  FROM cand c LEFT JOIN sims s ON s.b_rn = c.rn GROUP BY c.rn),
       |steps(i, kept) AS (
       |  SELECT 1, [1]
       |  UNION ALL
       |  SELECT s.i + 1,
       |    CASE WHEN len(list_intersect(c.conf, s.kept)) > 0 THEN s.kept
       |         ELSE list_append(s.kept, s.i + 1) END
       |  FROM steps s JOIN confs c ON c.rn = s.i + 1
       |  WHERE s.i < (SELECT max(rn) FROM cand))
       |SELECT c.rn, c.doc_id
       |FROM cand c
       |JOIN (SELECT unnest(kept) AS rn FROM steps
       |      WHERE i = (SELECT max(rn) FROM cand)) k ON k.rn = c.rn
       |ORDER BY c.rn""".stripMargin

  // -- q70: the remaining ranking feature scores (result_ranker.py:336-457)
  //         — freshness step decay, log popularity, relationship-count —
  //         over customers: degree from the graph, recency/activity from
  //         orders; combined .4/.3/.3, top 100
  private def q70(s: SparkSession, dir: String): DataFrame = {
    val e = KGraph.materialized(s, dir)
    val cid = concat(lit("c:"), col("o_custkey").cast("string"))
    val activity = Tables.load(s, dir, "orders")
      .groupBy(cid.as("node_id"))
      .agg(count(lit(1)).as("n_orders"),
        datediff(lit("1998-08-01"), max(col("o_orderdate"))).as("age_days"))
    val deg = e.select(col("from_id").as("node_id"))
      .unionByName(e.select(col("to_id").as("node_id")))
      .filter(col("node_id").startsWith("c:"))
      .groupBy(col("node_id")).agg(count(lit(1)).as("deg"))
    activity.join(deg, "node_id")
      .withColumn("fresh", Ranking.freshness(col("age_days")))
      .withColumn("pop", Ranking.popularity(col("n_orders")))
      .withColumn("relc", Ranking.relCountScore(col("deg")))
      .withColumn("combined", Ranking.combine(Seq(
        (col("fresh"), 0.4), (col("pop"), 0.3), (col("relc"), 0.3))))
      .select(col("node_id"), col("n_orders"), col("age_days"), col("deg"),
        round(col("fresh"), 6).as("fresh"), round(col("pop"), 6).as("pop"),
        round(col("relc"), 6).as("relc"), round(col("combined"), 6).as("combined"))
      .orderBy(col("combined").desc, col("node_id"))
      .limit(100)
  }

  private val q70Sql =
    s"""WITH ${KGraph.edgesSql},
       |activity AS (
       |  SELECT 'c:'||o_custkey AS node_id, count(*) AS n_orders,
       |    date_diff('day', CAST(max(o_orderdate) AS DATE), DATE '1998-08-01') AS age_days
       |  FROM orders GROUP BY 1),
       |deg AS (
       |  SELECT node_id, count(*) AS deg FROM (
       |    SELECT from_id AS node_id FROM edges
       |    UNION ALL SELECT to_id FROM edges) x
       |  WHERE node_id LIKE 'c:%' GROUP BY 1),
       |scored AS (
       |  SELECT a.node_id, n_orders, age_days, deg,
       |    CASE WHEN age_days <= 0 THEN 1.0 WHEN age_days <= 7 THEN 0.9
       |         WHEN age_days <= 30 THEN 0.7 WHEN age_days <= 90 THEN 0.5
       |         WHEN age_days <= 365 THEN 0.3 ELSE 0.1 END AS fresh,
       |    least(ln(n_orders + 1) / ln(100), 1.0) AS pop,
       |    CASE WHEN deg = 0 THEN 0.2 WHEN deg <= 5 THEN 0.5 + 0.1 * deg
       |         ELSE least(0.8 + 0.02 * (deg - 5), 1.0) END AS relc
       |  FROM activity a JOIN deg d ON a.node_id = d.node_id)
       |SELECT node_id, n_orders, age_days, deg, round(fresh, 6) AS fresh,
       |  round(pop, 6) AS pop, round(relc, 6) AS relc,
       |  round(fresh * 0.4 + pop * 0.3 + relc * 0.3, 6) AS combined
       |FROM scored
       |ORDER BY combined DESC, node_id LIMIT 100""".stripMargin

  val qs: Seq[Q] = Seq(
    Q("q70_rank_features", q70, Some(q70Sql)),
    Q("q44_coverage_analytics", q44, Some(q44Sql), headline = true),
    Q("q45_relationship_metrics", q45, Some(q45Sql)),
    Q("q46_quality_histogram", q46, Some(q46Sql)),
    Q("q47_degree_distribution", q47, Some(q47Sql)),
    Q("q48_connected_components", q48, Some(q48Sql)),
    Q("q49_contradiction_mining", q49, Some(q49Sql)),
    Q("q50_ranking_scores", q50, Some(q50Sql)),
    Q("q51_diversity_rerank", q51, Some(q51Sql)))
}
