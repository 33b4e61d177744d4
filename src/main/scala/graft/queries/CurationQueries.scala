package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{ExactRound, VectorFunctions}
import graft.graph.{KGraph, PageRank}
import graft.pipeline.Dsir
import graft.text.Bm25

/** Corpus-curation family (builder mandate, beyond the reference's §2
  * surface): target-domain importance resampling (DSIR), BM25 keyword
  * retrieval, link-importance PageRank, and ANN hard-negative mining —
  * the selection/weighting legs a 100 TB training-data pipeline runs
  * after the cleaning (q125-q139) and dedup (q27-q31) stages.
  */
object CurationQueries {

  private def docs(s: SparkSession, dir: String) =
    Tables.load(s, dir, "documents")
  private def emb(s: SparkSession, dir: String) =
    Tables.load(s, dir, "embeddings")

  /** Deterministic ln-ln least-squares fit (shared by q163/q164):
    * slope/intercept of ln(y) ~ ln(x) computed from EXACT micro-unit
    * integer sums. Stage 1 quantizes each point's ln to a bigint
    * (round(ln·1e6)); stage 2 sums those bigints (exact, order-free);
    * stage 3 evaluates the closed-form slope/intercept as one fixed
    * IEEE double expression tree over the cast sums. Identical bigint
    * sums → identical doubles on any engine, unlike native regr_slope
    * whose running double accumulation is partition-order dependent.
    * Slope is invariant under the uniform ×1e6 scaling of both axes;
    * the intercept divides the scale back out. Returns one row
    * (slopeName, interceptName), un-rounded. */
  private def lnlnFit(pts: DataFrame, x: Column, y: Column,
      slopeName: String, interceptName: String): DataFrame =
    pts
      .select(
        round(log(x.cast("double")) * lit(1000000), 0).cast("long").as("lx"),
        round(log(y.cast("double")) * lit(1000000), 0).cast("long").as("ly"))
      .agg(count(lit(1)).cast("double").as("np"),
        sum(col("lx")).cast("double").as("sx"),
        sum(col("ly")).cast("double").as("sy"),
        sum(col("lx") * col("ly")).cast("double").as("sxy"),
        sum(col("lx") * col("lx")).cast("double").as("sxx"))
      .select(col("np"), col("sx"), col("sy"),
        ((col("np") * col("sxy") - col("sx") * col("sy")) /
          (col("np") * col("sxx") - col("sx") * col("sx")))
          .as(slopeName))
      .select(col(slopeName),
        ((col("sy") - col(slopeName) * col("sx")) /
          (col("np") * lit(1000000.0))).as(interceptName))

  /** DuckDB twin of [[lnlnFit]]: same quantization, same sums, same
    * expression tree. `src` is a relation with columns x/y named by
    * `xCol`/`yCol`. */
  private def lnlnFitSql(src: String, xCol: String, yCol: String,
      slopeName: String, interceptName: String): String =
    s"""pts AS (
       |  SELECT CAST(round(ln($xCol) * 1000000) AS BIGINT) AS lx,
       |    CAST(round(ln($yCol) * 1000000) AS BIGINT) AS ly
       |  FROM $src),
       |sums AS (
       |  SELECT CAST(count(*) AS DOUBLE) AS np,
       |    CAST(sum(lx) AS DOUBLE) AS sx, CAST(sum(ly) AS DOUBLE) AS sy,
       |    CAST(sum(lx * ly) AS DOUBLE) AS sxy,
       |    CAST(sum(lx * lx) AS DOUBLE) AS sxx
       |  FROM pts),
       |slopes AS (
       |  SELECT np, sx, sy,
       |    (np * sxy - sx * sy) / (np * sxx - sx * sx) AS $slopeName
       |  FROM sums),
       |fit AS (
       |  SELECT $slopeName,
       |    (sy - $slopeName * sx) / (np * 1000000.0) AS $interceptName
       |  FROM slopes)""".stripMargin

  // -- q145: DSIR importance resampling — score every non-target doc by
  //          hashed-unigram log importance against the src0 target
  //          slice, keep the top 200. Scale shape: feature tables are
  //          256 rows (broadcast); one posexplode scan + one keyed
  //          per-doc aggregate + TakeOrdered. See pipeline/Dsir.scala.
  private val DsirTarget = "src0"
  private val DsirTop = 200

  private def q145(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val imp = Dsir.importance(d, col("source") === DsirTarget)
    imp.join(d.select(col("doc_id"), col("source")), Seq("doc_id"))
      .orderBy(col("logw").desc, col("doc_id"))
      .limit(DsirTop)
      .select(col("doc_id"), col("source"), col("n_tok"),
        round(col("logw"), 6).as("log_weight"),
        round(col("logw") / col("n_tok"), 6).as("avg_token_lw"))
  }

  private val q145Sql =
    s"""WITH ${Dsir.sql.importanceCtes(DsirTarget)}
       |SELECT a.doc_id, d.source, a.n_tok,
       |  round(a.logw, 6) AS log_weight,
       |  round(a.logw / a.n_tok, 6) AS avg_token_lw
       |FROM dsagg a JOIN documents d USING (doc_id)
       |ORDER BY a.logw DESC, a.doc_id
       |LIMIT $DsirTop""".stripMargin

  // -- q146: BM25 keyword retrieval — top 20 documents for a fixed
  //           5-term query. Scale shape: isin-filtered explode scan,
  //          query-bounded idf broadcast, TakeOrdered. See text/Bm25.
  private val Bm25Terms = Seq("spark", "hash", "window", "merge", "batch")
  private val Bm25Top = 20

  private def q146(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    Bm25.score(d, Bm25Terms)
      .join(d.select(col("doc_id"), col("source")), Seq("doc_id"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(Bm25Top)
      .select(col("doc_id"), col("source"), col("n_hit"),
        round(col("score"), 6).as("bm25"))
  }

  private val q146Sql =
    s"""WITH ${Bm25.sql.scoreCtes(Bm25Terms)}
       |SELECT a.doc_id, d.source, a.n_hit, round(a.score, 6) AS bm25
       |FROM bmagg a JOIN documents d USING (doc_id)
       |ORDER BY a.score DESC, a.doc_id
       |LIMIT $Bm25Top""".stripMargin

  // -- q147: PageRank link importance — 3 damped iterations over the
  //          knowledge-graph edge list, top 50 nodes. Scale shape: one
  //          hash join + one exact integer sum per iteration (static
  //          3-stage DAG); see graph/PageRank.scala for the nano-unit
  //          determinism contract.
  private val PrIters = 3
  private val PrTop = 50

  private def q147(s: SparkSession, dir: String): DataFrame =
    // the rank artifacts carry PACKED lex ids (round 15): the top-k
    // cut under (rank DESC, node_id) is order-isomorphic to the string
    // cut (KGraphCodecSpec), so only the 50 surviving rows decode
    PageRank.ranks(KGraph.lexEdgesMaterialized(s, dir), PrIters,
        index = Some(KGraph.rankEdgesMaterialized(s, dir)),
        nodeSet = Some(KGraph.nodeSetMaterialized(s, dir)))
      .orderBy(col("rank").desc, col("node_id"))
      .limit(PrTop)
      // ONE post-limit project (decode + packed type char + round):
      // a decode feeding a second expression stacks two Projects and
      // breaks TakeOrderedAndProject (see KGraph.lexTypeChar)
      .select(KGraph.decodeIdLex(col("node_id")).as("node_id"),
        KGraph.lexTypeChar(col("node_id")).as("node_type"),
        round(col("rank"), 6).as("rank"))

  private val q147Sql =
    s"""WITH ${KGraph.edgesSql},
       |${PageRank.sql.ranksCtes(PrIters)}
       |SELECT node_id, substr(node_id, 1, 1) AS node_type,
       |  round(rank, 6) AS rank
       |FROM pr$PrIters
       |ORDER BY pr$PrIters.rank DESC, node_id
       |LIMIT $PrTop""".stripMargin

  // -- q233: confidence-weighted PageRank — q147 with rank flowing
  //          proportionally to edge confidence instead of uniformly:
  //          the domain-weighting form used when links carry extraction
  //          confidence (a 0.7 supplied_by edge passes less authority
  //          than a 1.0 placed_by edge). Same one-hash-join +
  //          one-keyed-integer-sum iteration and nano-unit determinism
  //          contract as q147; the weight normalizer W(u) is an exact
  //          MICRO-unit integer sum (confidences are two-decimal
  //          literals), so every per-edge share quantizes identically
  //          cross-engine.
  private def q233(s: SparkSession, dir: String): DataFrame = {
    // the packed base edge list with each edge's confidence read off
    // its endpoint types; weightedRanks materializes its own index.
    // Output decodes after the (order-isomorphic) top-k cut, like q147
    val e = KGraph.lexEdgesMaterialized(s, dir)
    PageRank.weightedRanks(e.withColumn("confidence",
          KGraph.confidence(col("from_id"), col("to_id"))), PrIters,
        nodeSet = Some(KGraph.nodeSetMaterialized(s, dir)))
      .orderBy(col("rank").desc, col("node_id"))
      .limit(PrTop)
      .select(KGraph.decodeIdLex(col("node_id")).as("node_id"),
        KGraph.lexTypeChar(col("node_id")).as("node_type"),
        round(col("rank"), 6).as("rank"))
  }

  private val q233Sql =
    s"""WITH ${KGraph.edgesSql},
       |${PageRank.sql.weightedRanksCtes(PrIters)}
       |SELECT node_id, substr(node_id, 1, 1) AS node_type,
       |  round(rank, 6) AS rank
       |FROM wpr$PrIters
       |ORDER BY wpr$PrIters.rank DESC, node_id
       |LIMIT $PrTop""".stripMargin

  // -- q237: feature correlation matrix — pairwise Pearson r between
  //          the document features the q173 classifier consumes (chars,
  //          tokens, distinct tokens, micro-quantized quality): the
  //          redundancy audit run before adding a feature to a model —
  //          a 0.98-correlated pair is one feature, not two. EXACT
  //          integers end-to-end: all four features are (or quantize
  //          to) longs, so Σx/Σx²/Σxy are exact folds, and the q231
  //          pattern applies — only the final r expression runs in
  //          doubles over those exact operands. ONE agg scan computes
  //          all 14 sum slots; the matrix explodes from the 1-row
  //          frame. (Contract: Σ qmicro² ≈ n·10¹² must fit a long —
  //          sample past ~9e6 docs per partition-free exact run.)
  private val FcFeatures = Seq("len", "toks", "types", "qmicro")

  private def q237(s: SparkSession, dir: String): DataFrame = {
    import graft.text.{TextFunctions => TF}
    val f = docs(s, dir).select(
      col("n_chars").as("len"),
      TF.tokenCount(col("text")).cast("long").as("toks"),
      size(TF.distinctTokens(col("text"))).cast("long").as("types"),
      round(TF.qualityScore(col("text"), col("n_chars")) * lit(1e6), 0)
        .cast("long").as("qmicro"))
    val pairs = for {
      i <- FcFeatures.indices; j <- i + 1 until FcFeatures.size
    } yield (FcFeatures(i), FcFeatures(j))
    val aggs = FcFeatures.flatMap(c => Seq(
      sum(col(c)).as(s"s_$c"), sum(col(c) * col(c)).as(s"ss_$c"))) ++
      pairs.map { case (a, b) => sum(col(a) * col(b)).as(s"sp_${a}_$b") }
    def d(c: String) = col(c).cast("double")
    val cells = pairs.map { case (a, b) =>
      val num = d("n") * d(s"sp_${a}_$b") - d(s"s_$a") * d(s"s_$b")
      val den = sqrt(d("n") * d(s"ss_$a") - d(s"s_$a") * d(s"s_$a")) *
        sqrt(d("n") * d(s"ss_$b") - d(s"s_$b") * d(s"s_$b"))
      struct(lit(a).as("feat_a"), lit(b).as("feat_b"),
        col("n").as("n"), round(num / den, 6).as("r"))
    }
    f.agg(count(lit(1)).as("n"), aggs: _*)
      .select(explode(array(cells: _*)).as("p"))
      .select(col("p.feat_a").as("feat_a"), col("p.feat_b").as("feat_b"),
        col("p.n").as("n"), col("p.r").as("r"))
      .orderBy(col("feat_a"), col("feat_b"))
  }

  private val q237Sql = {
    import graft.text.{TextFunctions => TF}
    val pairs = for {
      i <- FcFeatures.indices; j <- i + 1 until FcFeatures.size
    } yield (FcFeatures(i), FcFeatures(j))
    val sumCols = (FcFeatures.flatMap(c => Seq(
      s"CAST(sum($c) AS BIGINT) AS s_$c",
      s"CAST(sum($c * $c) AS BIGINT) AS ss_$c")) ++
      pairs.map { case (a, b) =>
        s"CAST(sum($a * $b) AS BIGINT) AS sp_${a}_$b" }).mkString(",\n    ")
    val legs = pairs.map { case (a, b) =>
      val num = s"CAST(n AS DOUBLE) * CAST(sp_${a}_$b AS DOUBLE) - " +
        s"CAST(s_$a AS DOUBLE) * CAST(s_$b AS DOUBLE)"
      val den = s"sqrt(CAST(n AS DOUBLE) * CAST(ss_$a AS DOUBLE) - " +
        s"CAST(s_$a AS DOUBLE) * CAST(s_$a AS DOUBLE)) * " +
        s"sqrt(CAST(n AS DOUBLE) * CAST(ss_$b AS DOUBLE) - " +
        s"CAST(s_$b AS DOUBLE) * CAST(s_$b AS DOUBLE))"
      s"SELECT '$a' AS feat_a, '$b' AS feat_b, n, " +
        s"round(($num) / ($den), 6) AS r FROM sums"
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH f AS (
       |  SELECT n_chars AS len,
       |    CAST(${TF.sql.tokenCount("text")} AS BIGINT) AS toks,
       |    CAST(len(${TF.sql.distinctTokens("text")}) AS BIGINT) AS types,
       |    CAST(round(${TF.sql.qualityScore("text", "n_chars")} * 1e6, 0)
       |      AS BIGINT) AS qmicro
       |  FROM documents),
       |sums AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |    $sumCols
       |  FROM f)
       |SELECT * FROM (
       |  $legs)
       |ORDER BY feat_a, feat_b""".stripMargin
  }

  // -- q148: hard-negative mining — for each of 16 probe embeddings,
  //          the 5 most cosine-similar vectors whose DOCUMENT comes
  //          from a DIFFERENT source (the contrastive-training
  //          "looks similar, isn't same-source" candidates). Scale
  //          shape: the probe frame broadcasts (16 rows, bounded by
  //          design) onto one linear candidate scan; ranking is a
  //          per-probe window, never a global sort. Brute-force exact —
  //          the IVF path (q22/q31) is the recall-traded variant.
  private val HnProbes = 16
  private val HnK = 5

  private def q148(s: SparkSession, dir: String): DataFrame = {
    val src = docs(s, dir).select(col("doc_id"), col("source"))
    val e = emb(s, dir).join(src, col("vec_id") === col("doc_id"))
      .select(col("vec_id"), col("embedding"), col("source"))
    val probes = broadcast(e.filter(col("vec_id") < HnProbes)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"),
        col("source").as("q_source")))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("vec_id"))
    e.crossJoin(probes)
      .filter(col("source") =!= col("q_source"))
      .withColumn("sim",
        VectorFunctions.cosine(col("embedding"), col("q_vec")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= HnK)
      .select(col("q_id"), col("q_source"), col("vec_id"),
        col("source"), col("rnk").cast("long").as("rnk"),
        round(col("sim"), 6).as("sim"))
      .orderBy(col("q_id"), col("rnk"))
  }

  private val q148Sql = {
    val cos = VectorFunctions.sql.cosine("c.embedding", "q.embedding")
    s"""WITH e AS (
       |  SELECT e.vec_id, e.embedding, d.source
       |  FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id),
       |sims AS (
       |  SELECT q.vec_id AS q_id, q.source AS q_source,
       |    c.vec_id AS vec_id, c.source AS source,
       |    $cos AS sim
       |  FROM e q JOIN e c
       |    ON q.vec_id < $HnProbes AND c.source <> q.source),
       |ranked AS (
       |  SELECT q_id, q_source, vec_id, source,
       |    CAST(row_number() OVER (PARTITION BY q_id
       |      ORDER BY sim DESC, vec_id) AS BIGINT) AS rnk,
       |    round(sim, 6) AS sim
       |  FROM sims)
       |SELECT q_id, q_source, vec_id, source, rnk, sim
       |FROM ranked WHERE rnk <= $HnK
       |ORDER BY q_id, rnk""".stripMargin
  }

  // -- q149: k-means corpus map — 2 deterministic Lloyd iterations
  //          (k=8, seeds = lowest 8 vec_ids, exact milli-unit centroid
  //          means; semantic/KMeans.scala) then the cluster-balance
  //          report every training pipeline reads before mixing:
  //          per-cluster size, source spread, and exact micro-unit
  //          mean squared distance (cohesion).
  private val KmK = 8
  private val KmIters = 2

  private def q149(s: SparkSession, dir: String): DataFrame = {
    val asg = graft.semantic.KMeans.fit(
      emb(s, dir), "vec_id", "embedding", KmK, KmIters)
    val src = docs(s, dir).select(col("doc_id"), col("source"))
    asg.join(src, col("vec_id") === col("doc_id"))
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("source")).as("n_src"),
        (sum(round(col("sqdist") * lit(1000000), 0).cast("long")) /
          (lit(1000000.0) * count(lit(1)))).as("mean_sqdist"))
      .select(col("cid"), col("n"), col("n_src"),
        round(col("mean_sqdist"), 6).as("mean_sqdist"))
      .orderBy(col("cid"))
  }

  private val q149Sql =
    s"""WITH ${graft.semantic.KMeans.sql.fitCtes(KmK, KmIters)}
       |SELECT a.cid, count(*) AS n,
       |  count(DISTINCT d.source) AS n_src,
       |  round(sum(CAST(round(a.sqdist * 1000000) AS BIGINT)) /
       |    (1000000.0 * count(*)), 6) AS mean_sqdist
       |FROM asgF a JOIN documents d ON a.vec_id = d.doc_id
       |GROUP BY a.cid
       |ORDER BY a.cid""".stripMargin

  // -- q150: corpus datasheet — the per-source "data card" a pipeline
  //          publishes with a training set: volume, token mass, language
  //          purity, exact-dup exposure, mean quality. One linear scan
  //          computing all per-doc features, one content-key aggregate
  //          joined back (the q27 dedup key), one per-source rollup.
  //          Float means use exact micro-unit integer sums (q143
  //          precedent) so the rollup is shuffle-order-proof.
  private def q150(s: SparkSession, dir: String): DataFrame = {
    import graft.text.{TextFunctions => TF}
    val base = docs(s, dir).select(col("source"), col("doc_id"),
      TF.tokenCount(col("text")).cast("long").as("n_tok"),
      TF.langId(col("text")).as("lang_pred"),
      TF.qualityScore(col("text"), col("n_chars")).as("q"),
      md5(array_join(array_sort(TF.distinctTokens(col("text"))), " "))
        .as("key"))
    val groups = base.groupBy(col("key"))
      .agg(count(lit(1)).as("group_size"))
    base.join(groups, Seq("key"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("tokens"),
        sum(when(col("lang_pred") === "en", 1L).otherwise(0L)).as("en_docs"),
        sum(when(col("group_size") > 1, 1L).otherwise(0L)).as("dup_docs"),
        sum(round(col("q") * lit(1000000), 0).cast("long")).as("q_micro"))
      .select(col("source"), col("n_docs"), col("tokens"),
        round(col("tokens") * lit(1.0) / col("n_docs"), 6).as("mean_tokens"),
        round(col("en_docs") * lit(1.0) / col("n_docs"), 6).as("en_share"),
        round(col("dup_docs") * lit(1.0) / col("n_docs"), 6).as("dup_rate"),
        round(col("q_micro") / (lit(1000000.0) * col("n_docs")), 6)
          .as("mean_quality"))
      .orderBy(col("source"))
  }

  private val q150Sql = {
    import graft.text.{TextFunctions => TF}
    s"""WITH base AS (
       |  SELECT source, doc_id,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
       |    ${TF.sql.langId("text")} AS lang_pred,
       |    ${TF.sql.qualityScore("text", "n_chars")} AS q,
       |    md5(array_to_string(list_sort(list_distinct(
       |      string_split(text, ' '))), ' ')) AS key
       |  FROM documents),
       |groups AS (
       |  SELECT key, count(*) AS group_size FROM base GROUP BY 1)
       |SELECT source,
       |  count(*) AS n_docs,
       |  CAST(sum(n_tok) AS BIGINT) AS tokens,
       |  round(sum(n_tok) * 1.0 / count(*), 6) AS mean_tokens,
       |  round(sum(CASE WHEN lang_pred = 'en' THEN 1 ELSE 0 END) * 1.0
       |    / count(*), 6) AS en_share,
       |  round(sum(CASE WHEN group_size > 1 THEN 1 ELSE 0 END) * 1.0
       |    / count(*), 6) AS dup_rate,
       |  round(sum(CAST(round(q * 1000000) AS BIGINT)) /
       |    (1000000.0 * count(*)), 6) AS mean_quality
       |FROM base JOIN groups USING (key)
       |GROUP BY source
       |ORDER BY source""".stripMargin
  }

  // -- q151: reciprocal-rank fusion — the standard hybrid-retrieval
  //          combiner (Cormack et al. 2009): BM25 leg (q146 terms) and
  //          cosine leg (probe vec 0) each rank their top 100, fused by
  //          1/(60+rank) in a fixed two-term sum. Scale shape: both
  //          legs end in TakeOrdered top-k; ranking windows then run
  //          over k-row frames (bounded by design), and the fusion is
  //          one full-outer equi-join of two 100-row frames.
  private val RrfK = 60
  private val RrfLeg = 100
  private val RrfTop = 25

  private def q151(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val wb = Window.orderBy(col("score").desc, col("doc_id"))
    val bmLeg = Bm25.score(d, Bm25Terms)
      .orderBy(col("score").desc, col("doc_id")).limit(RrfLeg)
      .select(col("doc_id"), row_number().over(wb).cast("long").as("bm_rank"))
    val e = emb(s, dir)
    val probe = broadcast(e.filter(col("vec_id") === 0)
      .select(col("embedding").as("q_vec")))
    val wv = Window.orderBy(col("sim").desc, col("vec_id"))
    val vecLeg = e.crossJoin(probe)
      .withColumn("sim",
        VectorFunctions.cosine(col("embedding"), col("q_vec")))
      .orderBy(col("sim").desc, col("vec_id")).limit(RrfLeg)
      .select(col("vec_id").as("doc_id"),
        row_number().over(wv).cast("long").as("vec_rank"))
    bmLeg.join(vecLeg, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("bm_rank"), col("vec_rank"),
        round(
          coalesce(lit(1.0) / (lit(RrfK) + col("bm_rank")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(RrfK) + col("vec_rank")), lit(0.0)), 6)
          .as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(RrfTop)
  }

  private val q151Sql = {
    val cos = VectorFunctions.sql.cosine("e.embedding", "p.embedding")
    s"""WITH ${Bm25.sql.scoreCtes(Bm25Terms)},
       |bmleg AS (
       |  SELECT doc_id,
       |    CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
       |      AS bm_rank
       |  FROM bmagg
       |  ORDER BY score DESC, doc_id LIMIT $RrfLeg),
       |vecleg AS (
       |  SELECT vec_id AS doc_id,
       |    CAST(row_number() OVER (ORDER BY sim DESC, vec_id) AS BIGINT)
       |      AS vec_rank
       |  FROM (
       |    SELECT e.vec_id, $cos AS sim
       |    FROM embeddings e CROSS JOIN
       |      (SELECT embedding FROM embeddings WHERE vec_id = 0) p)
       |  ORDER BY sim DESC, vec_id LIMIT $RrfLeg)
       |SELECT coalesce(b.doc_id, v.doc_id) AS doc_id,
       |  b.bm_rank AS bm_rank, v.vec_rank AS vec_rank,
       |  round(coalesce(1.0 / ($RrfK + b.bm_rank), 0.0) +
       |    coalesce(1.0 / ($RrfK + v.vec_rank), 0.0), 6) AS rrf
       |FROM bmleg b FULL OUTER JOIN vecleg v ON b.doc_id = v.doc_id
       |ORDER BY rrf DESC, doc_id
       |LIMIT $RrfTop""".stripMargin
  }

  // -- q152: quality-weighted sampling WITHOUT replacement — the
  //          Efraimidis–Spirakis one-pass scheme (key = ln(u)/w, take
  //          the k largest), with u derived from the portable md5 hash
  //          so the "randomness" is reproducible cross-engine. The
  //          standard way a 100 TB corpus takes an unbiased
  //          quality-tilted subsample in ONE scan + ONE TakeOrdered —
  //          no per-group state, no multi-pass quota fixup. Report:
  //          how the 500-doc sample tilts across sources.
  private val WsSample = 500
  private val WsSalt = "ws"

  private def q152(s: SparkSession, dir: String): DataFrame = {
    import graft.text.{TextFunctions => TF}
    val base = docs(s, dir).select(col("source"), col("doc_id"),
      TF.qualityScore(col("text"), col("n_chars")).as("q"))
      .withColumn("w", greatest(col("q"), lit(0.001)))
      .withColumn("u",
        (TF.md5Long(concat(col("doc_id").cast("string"), lit(WsSalt))) +
          lit(1L)) / lit(4294967297.0))
      .withColumn("k", log(col("u")) / col("w"))
    base.orderBy(col("k").desc, col("doc_id")).limit(WsSample)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_sampled"),
        (sum(round(col("q") * lit(1000000), 0).cast("long")) /
          (lit(1000000.0) * count(lit(1)))).as("mq"))
      .select(col("source"), col("n_sampled"),
        round(col("mq"), 6).as("mean_quality"))
      .orderBy(col("source"))
  }

  private val q152Sql = {
    import graft.text.{TextFunctions => TF}
    val h = TF.sql.md5Long(s"(CAST(doc_id AS VARCHAR) || '$WsSalt')")
    s"""WITH base AS (
       |  SELECT source, doc_id,
       |    ${TF.sql.qualityScore("text", "n_chars")} AS q,
       |    greatest(${TF.sql.qualityScore("text", "n_chars")}, 0.001) AS w,
       |    ($h + 1) / 4294967297.0 AS u
       |  FROM documents),
       |sampled AS (
       |  SELECT source, doc_id, q FROM base
       |  ORDER BY ln(u) / w DESC, doc_id LIMIT $WsSample)
       |SELECT source, count(*) AS n_sampled,
       |  round(sum(CAST(round(q * 1000000) AS BIGINT)) /
       |    (1000000.0 * count(*)), 6) AS mean_quality
       |FROM sampled
       |GROUP BY source ORDER BY source""".stripMargin
  }

  // -- q153: IVF cell-balance report — the index-build health check
  //          behind q22/q91/q92: per-cell population, share, and exact
  //          micro-unit mean assignment distance. A skewed cell list is
  //          what turns nprobe/nlist pruning into a full scan, so this
  //          is the report that decides nlist before a 100 TB build.
  //          Reuses the deterministic label-mean centroids + argmin
  //          assignment the oracle-green q22 pins.
  private def q153(s: SparkSession, dir: String): DataFrame = {
    import graft.semantic.VectorSearch
    val e = emb(s, dir)
    val cents = VectorSearch.centroids(e, "label")
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("dist"), col("cell"))
    val assigned = e.crossJoin(broadcast(cents))
      .withColumn("dist",
        VectorFunctions.l2Distance(col("embedding"), col("centroid")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") === 1)
    val total = e.agg(count(lit(1)).as("n_total"))
    assigned.groupBy(col("cell"))
      .agg(count(lit(1)).as("n"),
        (sum(round(col("dist") * lit(1000000), 0).cast("long")) /
          (lit(1000000.0) * count(lit(1)))).as("md"))
      .crossJoin(broadcast(total))
      .select(col("cell"), col("n"),
        round(col("n") * lit(1.0) / col("n_total"), 6).as("share"),
        round(col("md"), 6).as("mean_dist"))
      .orderBy(col("cell"))
  }

  private val q153Sql = {
    val l2 = "sqrt(list_sum(list_transform(list_zip(%s, %s), " +
      "z -> (z[1]-z[2])*(z[1]-z[2]))))"
    s"""WITH el AS (
       |  SELECT vec_id, label, generate_subscripts(embedding, 1) AS pos,
       |         unnest(embedding::DOUBLE[]) AS x
       |  FROM embeddings),
       |centl AS (
       |  SELECT label AS cell, list(cx ORDER BY pos) AS centroid FROM (
       |    SELECT label, pos, avg(x) AS cx FROM el GROUP BY label, pos) c
       |  GROUP BY label),
       |dists AS (
       |  SELECT e.vec_id, c.cell,
       |    ${l2.format("e.embedding::DOUBLE[]", "c.centroid")} AS dist
       |  FROM embeddings e CROSS JOIN centl c),
       |assign AS (
       |  SELECT vec_id, cell, dist FROM (
       |    SELECT vec_id, cell, dist,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell)
       |        AS rn
       |    FROM dists) x WHERE rn = 1),
       |tot AS (SELECT count(*) AS n_total FROM embeddings)
       |SELECT cell, count(*) AS n,
       |  round(count(*) * 1.0 / n_total, 6) AS share,
       |  round(sum(CAST(round(dist * 1000000) AS BIGINT)) /
       |    (1000000.0 * count(*)), 6) AS mean_dist
       |FROM assign CROSS JOIN tot
       |GROUP BY cell, n_total
       |ORDER BY cell""".stripMargin
  }

  // -- q154: BPE merge training — the tokenizer-prep stage (Sennrich
  //          et al. 2016): 12 highest-count merges over the corpus.
  //          After one corpus scan for word counts, every iteration is
  //          VOCAB-bounded (pair census + 1-row argmax + per-word merge
  //          fold), so training cost is sub-linear in corpus size. All
  //          integer arithmetic with lexicographic tie-breaks — fully
  //          deterministic (CurationSpec pins the canonical fixture).
  private val BpeMerges = 12

  private def q154(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.text.BpeTrainer.train(docs(s, dir), "text", BpeMerges)
      .toDF("rank", "left", "right", "cnt")
      .orderBy(col("rank"))
  }

  /** DuckDB twin of the trainer, in SEQUENTIAL form: the batch-selection
    * proof (BpeTrainer.selectBatch) guarantees batched training is
    * bit-identical to one-merge-at-a-time BPE, so the oracle unrolls the
    * `BpeMerges` rounds into generated CTEs — the same generated-CTE
    * trick as q256's level unroll. Words ride as chr(1)-delimited symbol
    * strings (the q165 encode representation): one merge application is
    * a single literal leftmost-first `replace`, and each round's pair
    * census splits the delimited string back into its symbol list.
    * Every w/m CTE is referenced twice (census + merge, merge + final
    * union), and DuckDB 1.0 INLINES CTEs by default — unmarked, the
    * unrolled plan doubles per round (2^12 scans); MATERIALIZED keeps
    * the oracle linear in rounds, exactly like the Spark side's
    * per-batch lineage truncation. */
  private val q154Sql = {
    val eow = graft.text.BpeTrainer.EndOfWord
    // round r: census over w{r-1} -> 1-row argmax m{r} -> merged w{r}
    val rounds = (1 to BpeMerges).map { r =>
      val p = r - 1
      s"""c$r AS (
         |  SELECT s[i] AS l, s[i+1] AS r2, CAST(sum(n) AS BIGINT) AS cnt
         |  FROM (SELECT string_split(trim(str, chr(1)), chr(1)||chr(1))
         |          AS s, n FROM w$p) t,
         |    unnest(range(1, len(s))) u(i)
         |  GROUP BY 1, 2),
         |m$r AS MATERIALIZED (
         |  SELECT $r AS rk, l, r2, cnt FROM c$r
         |  ORDER BY cnt DESC, l, r2 LIMIT 1),
         |w$r AS MATERIALIZED (
         |  SELECT replace(str, chr(1)||l||chr(1)||chr(1)||r2||chr(1),
         |    chr(1)||l||r2||chr(1)) AS str, n
         |  FROM w$p CROSS JOIN m$r)""".stripMargin
    }.mkString(",\n")
    val union = (1 to BpeMerges).map(r => s"SELECT * FROM m$r")
      .mkString("\n  UNION ALL ")
    s"""WITH w0 AS MATERIALIZED (
       |  SELECT regexp_replace(word, '(.)', chr(1)||'\\1'||chr(1), 'g')
       |      || chr(1)||'$eow'||chr(1) AS str,
       |    CAST(count(*) AS BIGINT) AS n
       |  FROM (SELECT unnest(string_split(text, ' ')) AS word
       |        FROM documents) t
       |  WHERE length(word) > 0
       |  GROUP BY 1),
       |$rounds
       |SELECT CAST(rk AS INTEGER) AS "rank", l AS "left", r2 AS "right",
       |  cnt
       |FROM ($union)
       |ORDER BY rk""".stripMargin
  }

  // -- q155: train/eval distribution-drift report — after the q111
  //          deterministic split, compare each split's hashed-unigram
  //          distribution against train via Jensen–Shannon divergence
  //          over the 256 DSIR feature buckets. The release gate that
  //          catches a skewed split or a drifted eval set before
  //          training. Scale shape: one posexplode scan (the q145
  //          instance stream) + bucket-bounded aggregates; the JS sum
  //          folds over the 256-row bucket frame in bucket order
  //          (sorted-array fold = oracle sum ORDER BY b).
  private val DriftBuckets = Dsir.DefaultBuckets

  private def q155(s: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.Sampling
    val inst = Dsir.instances(docs(s, dir), DriftBuckets)
      .withColumn("split", Sampling.splitColumn(col("doc_id"),
        Seq("train" -> 8, "val" -> 1, "test" -> 1)))
    val counts = inst.groupBy(col("split"), col("b"))
      .agg(count(lit(1)).as("c"))
    val totals = inst.groupBy(col("split")).agg(count(lit(1)).as("t"))
    val p = counts.join(totals, Seq("split"))
      .select(col("split"), col("b"),
        ((col("c") + lit(1.0)) / (col("t") + lit(DriftBuckets.toDouble)))
          .as("p"))
    val train = p.filter(col("split") === "train")
      .select(col("b"), col("p").as("pt"))
    // per-bucket JS contribution vs train. The join is INNER on both
    // engines, so buckets observed on only one side are dropped and the
    // reported "js_divergence" is a PARTIAL JSD over the shared bucket
    // set (both engines drop the same buckets, so the oracle gate is
    // exact). q158 builds the full smoothed bucket grid when the
    // complete JSD is wanted.
    val contrib = p.filter(col("split") =!= "train")
      .join(train, Seq("b"))
      .select(col("split"), col("b"),
        (lit(0.5) * (col("p") * log(col("p") * lit(2.0) /
            (col("p") + col("pt")))) +
          lit(0.5) * (col("pt") * log(col("pt") * lit(2.0) /
            (col("p") + col("pt"))))).as("js"))
    contrib.groupBy(col("split"))
      .agg(sort_array(collect_list(struct(col("b"), col("js")))).as("jss"))
      .select(col("split"),
        size(col("jss")).cast("long").as("n_buckets"),
        round(aggregate(col("jss"), lit(0.0d), (acc, x) => acc + x("js")), 6)
          .as("js_divergence"))
      .orderBy(col("split"))
  }

  private val q155Sql = {
    import graft.pipeline.Sampling
    val bucket = Sampling.sql.hashBucket("l[i]", DriftBuckets)
    val split = s"CASE WHEN ${Sampling.sql.hashBucket("doc_id", 10)} < 8 " +
      s"THEN 'train' WHEN ${Sampling.sql.hashBucket("doc_id", 10)} < 9 " +
      "THEN 'val' ELSE 'test' END"
    s"""WITH toks AS (
       |  SELECT doc_id, $split AS split, string_split(text, ' ') AS l
       |  FROM documents),
       |inst AS (
       |  SELECT split, $bucket AS b
       |  FROM toks, unnest(range(1, len(l) + 1)) r(i)),
       |counts AS (
       |  SELECT split, b, count(*) AS c FROM inst GROUP BY 1, 2),
       |totals AS (SELECT split, count(*) AS t FROM inst GROUP BY 1),
       |p AS (
       |  SELECT split, b,
       |    (c + 1.0) / (t + $DriftBuckets.0) AS p
       |  FROM counts JOIN totals USING (split)),
       |train AS (SELECT b, p AS pt FROM p WHERE split = 'train'),
       |contrib AS (
       |  SELECT p.split, p.b,
       |    0.5 * (p.p * ln(p.p * 2.0 / (p.p + t.pt))) +
       |      0.5 * (t.pt * ln(t.pt * 2.0 / (p.p + t.pt))) AS js
       |  FROM p JOIN train t USING (b)
       |  WHERE p.split <> 'train')
       |SELECT split, CAST(count(*) AS BIGINT) AS n_buckets,
       |  round(sum(js ORDER BY b), 6) AS js_divergence
       |FROM contrib
       |GROUP BY split ORDER BY split""".stripMargin
  }

  // -- q156: cluster-safe split — near-dup-aware train/eval assignment:
  //          hash the q126 CLUSTER id (not the doc id), so every LSH
  //          near-dup cluster lands in one split and cross-split
  //          leakage is zero BY CONSTRUCTION. The report proves it in
  //          data: per split, docs/clusters plus the near-dup pairs
  //          that cross splits under this scheme (always 0) vs under
  //          the naive doc-hash split (the leakage a doc-level split
  //          silently ships). Scale shape: q28's LSH pair graph +
  //          star-contraction components (both 100 TB-shaped), then
  //          pure hash arithmetic and keyed aggregates.
  private val CsSalt = "cs"
  private val CsWeights = Seq("train" -> 8, "val" -> 1, "test" -> 1)

  private def q156(s: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.Sampling
    val d = docs(s, dir)
    val pairs = graft.dedup.DedupIndex.pairs(s, dir)
    val cc = graft.dedup.DedupIndex.clusters(s, dir)
      .select(col("doc_id"), col("cluster_id"))
    val spl = d.select(col("doc_id"))
      .join(cc, Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
      .select(col("doc_id"), col("cluster_id"),
        Sampling.splitColumn(col("cluster_id"), CsWeights, CsSalt)
          .as("split"),
        Sampling.splitColumn(col("doc_id"), CsWeights, CsSalt)
          .as("naive_split"))
    val stats = spl.groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("cluster_id")).as("n_clusters"))
    val a = spl.select(col("doc_id").as("a_id"), col("split").as("sa"),
      col("naive_split").as("na"))
    val b = spl.select(col("doc_id").as("b_id"), col("split").as("sb"),
      col("naive_split").as("nb"))
    val pagg = pairs.join(a, Seq("a_id")).join(b, Seq("b_id"))
      .groupBy(least(col("sa"), col("sb")).as("split"))
      .agg(count(lit(1)).as("pairs_touching"),
        sum(when(col("sa") =!= col("sb"), 1L).otherwise(0L))
          .as("safe_cross"),
        sum(when(col("na") =!= col("nb"), 1L).otherwise(0L))
          .as("naive_cross"))
    stats.join(pagg, Seq("split"), "left")
      .select(col("split"), col("n_docs"), col("n_clusters"),
        coalesce(col("pairs_touching"), lit(0L)).as("pairs_touching"),
        coalesce(col("safe_cross"), lit(0L)).as("safe_cross"),
        coalesce(col("naive_cross"), lit(0L)).as("naive_cross"))
      .orderBy(col("split"))
  }

  private val q156Sql = {
    import graft.pipeline.Sampling
    def splitCase(key: String) = {
      val h = Sampling.sql.hashBucket(key, 10, CsSalt)
      s"CASE WHEN $h < 8 THEN 'train' WHEN $h < 9 THEN 'val' " +
        "ELSE 'test' END"
    }
    s"""WITH RECURSIVE ${DedupQueries.componentCtes},
       |spl AS (
       |  SELECT d.doc_id,
       |    coalesce(c.cluster_id, d.doc_id) AS cluster_id,
       |    ${splitCase("coalesce(c.cluster_id, d.doc_id)")} AS split,
       |    ${splitCase("d.doc_id")} AS naive_split
       |  FROM documents d LEFT JOIN comp c USING (doc_id)),
       |stats AS (
       |  SELECT split, count(*) AS n_docs,
       |    count(DISTINCT cluster_id) AS n_clusters
       |  FROM spl GROUP BY 1),
       |pagg AS (
       |  SELECT least(a.split, b.split) AS split,
       |    CAST(count(*) AS BIGINT) AS pairs_touching,
       |    CAST(sum(CASE WHEN a.split <> b.split THEN 1 ELSE 0 END)
       |      AS BIGINT) AS safe_cross,
       |    CAST(sum(CASE WHEN a.naive_split <> b.naive_split
       |      THEN 1 ELSE 0 END) AS BIGINT) AS naive_cross
       |  FROM pairs p
       |  JOIN spl a ON p.a_id = a.doc_id
       |  JOIN spl b ON p.b_id = b.doc_id
       |  GROUP BY 1)
       |SELECT s.split, s.n_docs, s.n_clusters,
       |  coalesce(pa.pairs_touching, 0) AS pairs_touching,
       |  coalesce(pa.safe_cross, 0) AS safe_cross,
       |  coalesce(pa.naive_cross, 0) AS naive_cross
       |FROM stats s LEFT JOIN pagg pa USING (split)
       |ORDER BY s.split""".stripMargin
  }

  // -- q157: ANN recall@10 evaluation — the oracle-gated form of the
  //          RecallReport diagnostic: for 16 probe vectors, the exact
  //          cosine top-10 vs the IVF(nprobe=2) top-10 (the q22 path),
  //          per-probe hit counts and recall. Turns the TUNING.md
  //          recall claims into a hash-checked metric. Scale shape:
  //          both legs broadcast the 16-probe frame onto linear scans;
  //          the IVF leg prunes its scan to the probed cells first;
  //          rankings are per-probe windows (WindowGroupLimit), and the
  //          final intersection is one (q_id, vec_id) equi-join.
  private val ArProbes = 16
  private val ArK = 10
  private val ArNprobe = 2

  private def q157(s: SparkSession, dir: String): DataFrame = {
    import graft.semantic.VectorSearch
    val e = emb(s, dir)
    val cents = VectorSearch.centroids(e, "label")
    val probes = broadcast(e.filter(col("vec_id") < ArProbes)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec")))
    val wq = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("vec_id"))
    val exact = e.crossJoin(probes)
      .withColumn("sim",
        VectorFunctions.cosine(col("embedding"), col("q_vec")))
      .withColumn("rn", row_number().over(wq)).filter(col("rn") <= ArK)
      .select(col("q_id"), col("vec_id"))
    val assigned = VectorSearch.ivfAssign(e, "label", Some(cents))
    val wc = Window.partitionBy(col("q_id"))
      .orderBy(col("cdist"), col("cell"))
    val probeCells = broadcast(cents).crossJoin(probes)
      .withColumn("cdist",
        VectorFunctions.l2Distance(col("centroid"), col("q_vec")))
      .withColumn("crn", row_number().over(wc))
      .filter(col("crn") <= ArNprobe)
      .select(col("q_id"), col("cell"), col("q_vec"))
    val approx = assigned.join(probeCells, Seq("cell"))
      .withColumn("sim",
        VectorFunctions.cosine(col("embedding"), col("q_vec")))
      .withColumn("rn", row_number().over(wq)).filter(col("rn") <= ArK)
      .select(col("q_id"), col("vec_id"))
    exact.join(approx, Seq("q_id", "vec_id"), "left_semi")
      .groupBy(col("q_id")).agg(count(lit(1)).as("n_hit"))
      .select(col("q_id"), col("n_hit"),
        round(col("n_hit") / lit(ArK.toDouble), 6).as("recall_at_10"))
      .orderBy(col("q_id"))
  }

  private val q157Sql = {
    val l2 = "sqrt(list_sum(list_transform(list_zip(%s, %s), " +
      "z -> (z[1]-z[2])*(z[1]-z[2]))))"
    val cosEq = VectorFunctions.sql.cosine("e.embedding", "p.q_vec")
    val cosAq = VectorFunctions.sql.cosine("a2.embedding", "pc.q_vec")
    s"""WITH el AS (
       |  SELECT vec_id, label, generate_subscripts(embedding, 1) AS pos,
       |         unnest(embedding::DOUBLE[]) AS x
       |  FROM embeddings),
       |centl AS (
       |  SELECT label AS cell, list(cx ORDER BY pos) AS centroid FROM (
       |    SELECT label, pos, avg(x) AS cx FROM el GROUP BY label, pos) c
       |  GROUP BY label),
       |dists AS (
       |  SELECT e.vec_id, c.cell,
       |    ${l2.format("e.embedding::DOUBLE[]", "c.centroid")} AS dist
       |  FROM embeddings e CROSS JOIN centl c),
       |assign AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT vec_id, cell,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell)
       |        AS rn
       |    FROM dists) x WHERE rn = 1),
       |probes AS (
       |  SELECT vec_id AS q_id, embedding::DOUBLE[] AS q_vec
       |  FROM embeddings WHERE vec_id < $ArProbes),
       |exact AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT p.q_id, e.vec_id,
       |      row_number() OVER (PARTITION BY p.q_id
       |        ORDER BY $cosEq DESC, e.vec_id) AS rn
       |    FROM embeddings e CROSS JOIN probes p) x
       |  WHERE rn <= $ArK),
       |probecells AS (
       |  SELECT q_id, cell, q_vec FROM (
       |    SELECT p.q_id, c.cell, p.q_vec,
       |      row_number() OVER (PARTITION BY p.q_id
       |        ORDER BY ${l2.format("c.centroid", "p.q_vec")}, c.cell)
       |        AS crn
       |    FROM centl c CROSS JOIN probes p) x
       |  WHERE crn <= $ArNprobe),
       |approx AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT pc.q_id, a.vec_id,
       |      row_number() OVER (PARTITION BY pc.q_id
       |        ORDER BY $cosAq DESC, a.vec_id) AS rn
       |    FROM assign a
       |    JOIN probecells pc ON a.cell = pc.cell
       |    JOIN embeddings a2 ON a2.vec_id = a.vec_id) x
       |  WHERE rn <= $ArK)
       |SELECT x.q_id, count(*) AS n_hit,
       |  round(count(*) / $ArK.0, 6) AS recall_at_10
       |FROM exact x
       |WHERE EXISTS (SELECT 1 FROM approx ap
       |  WHERE ap.q_id = x.q_id AND ap.vec_id = x.vec_id)
       |GROUP BY x.q_id
       |ORDER BY x.q_id""".stripMargin
  }

  // -- q158: source divergence map — Jensen–Shannon divergence of each
  //          source's hashed-unigram distribution against the REST of
  //          the corpus (exact complement counts: rest = global −
  //          source, all integers). The "which source is the odd one
  //          out" view that pairs with q137's centroid map and q144's
  //          vocabulary matrix; inputs to source reweighting decisions.
  //          Scale shape: one instance scan, (source × 256)-bounded
  //          aggregates, source-ordered bucket folds.
  private def q158(s: SparkSession, dir: String): DataFrame = {
    val inst = Dsir.instances(docs(s, dir), DriftBuckets)
    val sb = inst.groupBy(col("source"), col("b"))
      .agg(count(lit(1)).as("c"))
    val st = inst.groupBy(col("source")).agg(count(lit(1)).as("t"))
    val gb = inst.groupBy(col("b")).agg(count(lit(1)).as("cg"))
    val gt = inst.agg(count(lit(1)).as("tg"))
    val contrib = gb.crossJoin(broadcast(gt))
      .join(broadcast(st), lit(true)) // (bucket × source) grid
      .join(sb, Seq("source", "b"), "left")
      .select(col("source"), col("b"),
        ((coalesce(col("c"), lit(0L)) + lit(1.0)) /
          (col("t") + lit(DriftBuckets.toDouble))).as("p"),
        ((col("cg") - coalesce(col("c"), lit(0L)) + lit(1.0)) /
          (col("tg") - col("t") + lit(DriftBuckets.toDouble))).as("r"))
      .select(col("source"), col("b"),
        (lit(0.5) * (col("p") * log(col("p") * lit(2.0) /
            (col("p") + col("r")))) +
          lit(0.5) * (col("r") * log(col("r") * lit(2.0) /
            (col("p") + col("r"))))).as("js"))
    contrib.groupBy(col("source"))
      .agg(sort_array(collect_list(struct(col("b"), col("js")))).as("jss"))
      .select(col("source"),
        size(col("jss")).cast("long").as("n_buckets"),
        round(aggregate(col("jss"), lit(0.0d), (acc, x) => acc + x("js")), 6)
          .as("js_divergence"))
      .orderBy(col("source"))
  }

  private val q158Sql = {
    import graft.pipeline.Sampling
    val bucket = Sampling.sql.hashBucket("l[i]", DriftBuckets)
    s"""WITH toks AS (
       |  SELECT source, string_split(text, ' ') AS l FROM documents),
       |inst AS (
       |  SELECT source, $bucket AS b
       |  FROM toks, unnest(range(1, len(l) + 1)) r(i)),
       |sb AS (SELECT source, b, count(*) AS c FROM inst GROUP BY 1, 2),
       |st AS (SELECT source, count(*) AS t FROM inst GROUP BY 1),
       |gb AS (SELECT b, count(*) AS cg FROM inst GROUP BY 1),
       |gt AS (SELECT count(*) AS tg FROM inst),
       |contrib AS (
       |  SELECT source, b,
       |    0.5 * (p * ln(p * 2.0 / (p + r))) +
       |      0.5 * (r * ln(r * 2.0 / (p + r))) AS js
       |  FROM (
       |    SELECT st.source, gb.b,
       |      (coalesce(sb.c, 0) + 1.0) / (st.t + $DriftBuckets.0) AS p,
       |      (gb.cg - coalesce(sb.c, 0) + 1.0) /
       |        (gt.tg - st.t + $DriftBuckets.0) AS r
       |    FROM gb CROSS JOIN gt CROSS JOIN st
       |    LEFT JOIN sb ON sb.source = st.source AND sb.b = gb.b) x)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_buckets,
       |  round(sum(js ORDER BY b), 6) AS js_divergence
       |FROM contrib
       |GROUP BY source ORDER BY source""".stripMargin
  }

  // -- q159: embedding dominant-direction report — matrix-free power
  //          iteration (2 steps) for the top principal direction of the
  //          centered embedding cloud + its variance share, the
  //          all-but-the-top (Mu & Viswanath 2018) health check run
  //          before embeddings feed retrieval/clustering. Scale shape:
  //          one linear scan per power step with a dim-bounded integer
  //          aggregate; μ/v are 1-row broadcast frames; the covariance
  //          matrix never materializes. See semantic/Pca.scala for the
  //          micro-unit determinism contract.
  private val PcaDim = 64
  private val PcaIters = 2

  private def q159(s: SparkSession, dir: String): DataFrame = {
    import graft.semantic.Pca
    val e = emb(s, dir)
    val mu = Pca.meanVector(e, "embedding")
    val v = Pca.topDirection(e, "embedding", mu, PcaDim, PcaIters)
    val share = Pca.varianceShare(e, "embedding", mu, v)
    v.select(posexplode(col("v")).as(Seq("dim", "loading")))
      .crossJoin(broadcast(share))
      .select(col("dim").cast("long").as("dim"),
        round(col("loading"), 6).as("loading"),
        round(col("var_share"), 6).as("var_share"), col("n"))
      .orderBy(col("dim"))
  }

  private val q159Sql = {
    val cent = "list_transform(list_zip(x, mu), z -> z[1] - z[2])"
    def iter(i: Int): String =
      s"""w$i AS (
         |  SELECT list(w ORDER BY pos) AS w FROM (
         |    SELECT pos,
         |      sum(CAST(round(c * d * 1000000) AS BIGINT)) / 1000000.0 AS w
         |    FROM (
         |      SELECT generate_subscripts(c, 1) AS pos, unnest(c) AS c, d
         |      FROM (
         |        SELECT $cent AS c,
         |          list_dot_product($cent, v) AS d
         |        FROM ev CROSS JOIN mu CROSS JOIN v${i - 1}) y)
         |    GROUP BY pos) z),
         |v$i AS (
         |  SELECT list_transform(w, e -> e / nrm) AS v FROM (
         |    SELECT w, sqrt(list_sum(list_transform(w, e -> e * e))) AS nrm
         |    FROM w$i) z)""".stripMargin
    s"""WITH ev AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS x FROM embeddings),
       |mu AS (
       |  SELECT list(m ORDER BY pos) AS mu FROM (
       |    SELECT pos,
       |      sum(CAST(round(x * 1000) AS BIGINT)) / (1000.0 * count(*)) AS m
       |    FROM (SELECT generate_subscripts(x, 1) AS pos, unnest(x) AS x
       |          FROM ev) e
       |    GROUP BY pos) z),
       |v0 AS (
       |  SELECT list_transform(range(1, ${PcaDim + 1}),
       |    i -> 1.0 / sqrt($PcaDim.0)) AS v),
       |${(1 to PcaIters).map(iter).mkString(",\n")},
       |sh AS (
       |  SELECT count(*) AS n,
       |    sum(CAST(round(d * d * 1000000) AS BIGINT)) AS top,
       |    sum(CAST(round(ss * 1000000) AS BIGINT)) AS tot
       |  FROM (
       |    SELECT list_dot_product($cent, v) AS d,
       |      list_dot_product($cent, $cent) AS ss
       |    FROM ev CROSS JOIN mu CROSS JOIN v$PcaIters) y)
       |SELECT CAST(dim AS BIGINT) AS dim, round(loading, 6) AS loading,
       |  round(top * 1.0 / tot, 6) AS var_share, n
       |FROM (
       |  SELECT generate_subscripts(v, 1) - 1 AS dim, unnest(v) AS loading
       |  FROM v$PcaIters) l
       |CROSS JOIN sh
       |ORDER BY dim""".stripMargin
  }

  // -- q160: ABTT-corrected retrieval comparison — applies q159's
  //          dominant direction: embeddings centered and with the top
  //          direction projected out (x' = c − (c·v)v), then the exact
  //          cosine top-10 for probe 0 under RAW vs CORRECTED
  //          similarity, joined rank-by-rank. Shows what the nuisance
  //          direction was doing to retrieval. Scale shape: same 1-row
  //          μ/v broadcasts + one linear corrected scan per leg; both
  //          selections TakeOrdered before the 10-row rank windows.
  private val AbttK = 10

  private def q160(s: SparkSession, dir: String): DataFrame = {
    import graft.semantic.Pca
    val e = emb(s, dir)
    val mu = Pca.meanVector(e, "embedding")
    val v = Pca.topDirection(e, "embedding", mu, PcaDim, PcaIters)
    val cExpr = zip_with(col("embedding").cast("array<double>"),
      col("mu"), (a, b) => a - b)
    val corrected = e.crossJoin(broadcast(mu)).crossJoin(broadcast(v))
      .select(col("vec_id"), cExpr.as("c"),
        VectorFunctions.dot(cExpr, col("v")).as("d"), col("v"))
      .select(col("vec_id"),
        zip_with(col("c"), col("v"), (c, vv) => c - col("d") * vv)
          .as("xc"))
    val rawQ = broadcast(e.filter(col("vec_id") === 0)
      .select(col("embedding").as("q_raw")))
    val corQ = broadcast(corrected.filter(col("vec_id") === 0)
      .select(col("xc").as("q_cor")))
    def leg(frame: DataFrame, vecCol: String, qCol: String,
        prefix: String) = {
      val w = Window.orderBy(col("sim").desc, col("vec_id"))
      frame.withColumn("sim",
          VectorFunctions.cosine(col(vecCol), col(qCol)))
        .orderBy(col("sim").desc, col("vec_id")).limit(AbttK)
        .select(row_number().over(w).cast("long").as("rank"),
          col("vec_id").as(s"${prefix}_vec_id"),
          round(col("sim"), 6).as(s"${prefix}_sim"))
    }
    val raw = leg(e.crossJoin(rawQ), "embedding", "q_raw", "raw")
    val cor = leg(corrected.crossJoin(corQ), "xc", "q_cor", "abtt")
    raw.join(cor, Seq("rank")).orderBy(col("rank"))
  }

  private val q160Sql = {
    val cent = "list_transform(list_zip(x, mu), z -> z[1] - z[2])"
    val cosRaw = VectorFunctions.sql.cosine("e.embedding", "q.embedding")
    val cosCor = VectorFunctions.sql.cosine("c.xc", "q.xc")
    def pcaIter(i: Int): String =
      s"""w$i AS (
         |  SELECT list(w ORDER BY pos) AS w FROM (
         |    SELECT pos,
         |      sum(CAST(round(c * d * 1000000) AS BIGINT)) / 1000000.0 AS w
         |    FROM (
         |      SELECT generate_subscripts(c, 1) AS pos, unnest(c) AS c, d
         |      FROM (
         |        SELECT $cent AS c,
         |          list_dot_product($cent, v) AS d
         |        FROM ev CROSS JOIN mu CROSS JOIN v${i - 1}) y)
         |    GROUP BY pos) z),
         |v$i AS (
         |  SELECT list_transform(w, e -> e / nrm) AS v FROM (
         |    SELECT w, sqrt(list_sum(list_transform(w, e -> e * e))) AS nrm
         |    FROM w$i) z)""".stripMargin
    s"""WITH ev AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS x FROM embeddings),
       |mu AS (
       |  SELECT list(m ORDER BY pos) AS mu FROM (
       |    SELECT pos,
       |      sum(CAST(round(x * 1000) AS BIGINT)) / (1000.0 * count(*)) AS m
       |    FROM (SELECT generate_subscripts(x, 1) AS pos, unnest(x) AS x
       |          FROM ev) e
       |    GROUP BY pos) z),
       |v0 AS (
       |  SELECT list_transform(range(1, ${PcaDim + 1}),
       |    i -> 1.0 / sqrt($PcaDim.0)) AS v),
       |${(1 to PcaIters).map(pcaIter).mkString(",\n")},
       |corrected AS (
       |  SELECT vec_id,
       |    list_transform(list_zip(c, v), z -> z[1] - d * z[2]) AS xc
       |  FROM (
       |    SELECT vec_id, $cent AS c,
       |      list_dot_product($cent, v) AS d, v
       |    FROM ev CROSS JOIN mu CROSS JOIN v$PcaIters) y),
       |rawleg AS (
       |  SELECT rn AS rank, vec_id AS raw_vec_id,
       |    round(sim, 6) AS raw_sim
       |  FROM (
       |    SELECT e.vec_id, $cosRaw AS sim,
       |      CAST(row_number() OVER (ORDER BY $cosRaw DESC, e.vec_id)
       |        AS BIGINT) AS rn
       |    FROM embeddings e CROSS JOIN
       |      (SELECT embedding FROM embeddings WHERE vec_id = 0) q) x
       |  WHERE rn <= $AbttK),
       |corleg AS (
       |  SELECT rn AS rank, vec_id AS abtt_vec_id,
       |    round(sim, 6) AS abtt_sim
       |  FROM (
       |    SELECT c.vec_id, $cosCor AS sim,
       |      CAST(row_number() OVER (ORDER BY $cosCor DESC, c.vec_id)
       |        AS BIGINT) AS rn
       |    FROM corrected c CROSS JOIN
       |      (SELECT xc FROM corrected WHERE vec_id = 0) q) x
       |  WHERE rn <= $AbttK)
       |SELECT r.rank, r.raw_vec_id, r.raw_sim, c.abtt_vec_id, c.abtt_sim
       |FROM rawleg r JOIN corleg c USING (rank)
       |ORDER BY r.rank""".stripMargin
  }

  // -- q161: held-out perplexity — the PROPER eval form of q129's
  //          self-perplexity: the bigram model (counts + vocabulary)
  //          trains on the q111-style train split only, and val-split
  //          documents are scored under it, with add-one smoothing
  //          absorbing unseen prefixes/bigrams (n_oov reported). The
  //          per-split LM quality gate a pipeline runs before shipping
  //          an eval set. Scale shape: q129's keyed count joins, with
  //          the count tables built from the train slice only.
  private def q161(s: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.Sampling
    import graft.text.{NgramLm, Repetition}
    val base = docs(s, dir)
      .select(col("doc_id"), Repetition.tokens(col("text")).as("l"),
        Sampling.splitColumn(col("doc_id"), CsWeights).as("split"))
      .filter(size(col("l")) >= 2)
    NgramLm.scoreAgainst(
        base.filter(col("split") === "train"),
        base.filter(col("split") === "val"))
      .select(col("doc_id"), col("n_bigrams"), col("n_oov"),
        round(col("ce"), 6).as("cross_entropy"),
        round(col("ppl"), 6).as("perplexity"))
      .orderBy(col("doc_id"))
  }

  private val q161Sql = {
    import graft.pipeline.Sampling
    val h = Sampling.sql.hashBucket("doc_id", 10)
    s"""WITH toks AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS l,
       |    CASE WHEN $h < 8 THEN 'train' WHEN $h < 9 THEN 'val'
       |      ELSE 'test' END AS split
       |  FROM documents),
       |scoped AS (SELECT * FROM toks WHERE len(l) >= 2),
       |ti AS (
       |  SELECT doc_id, i AS pos, l[i] AS w1, l[i+1] AS w2
       |  FROM scoped, unnest(range(1, len(l))) r(i)
       |  WHERE split = 'train'),
       |c12 AS (SELECT w1, w2, count(*) AS c12 FROM ti GROUP BY 1, 2),
       |c1 AS (SELECT w1, count(*) AS c1 FROM ti GROUP BY 1),
       |v AS (
       |  SELECT count(DISTINCT w) AS v
       |  FROM (SELECT unnest(l) AS w FROM scoped WHERE split = 'train')),
       |ei AS (
       |  SELECT doc_id, i AS pos, l[i] AS w1, l[i+1] AS w2
       |  FROM scoped, unnest(range(1, len(l))) r(i)
       |  WHERE split = 'val'),
       |lp AS (
       |  SELECT ei.doc_id, ei.pos,
       |    ln((coalesce(c12, 0) + 1.0) / (coalesce(c1, 0) + v)) AS lp,
       |    CASE WHEN c12 IS NULL THEN 1 ELSE 0 END AS oov
       |  FROM ei
       |  LEFT JOIN c12 USING (w1, w2)
       |  LEFT JOIN c1 USING (w1)
       |  CROSS JOIN v)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       |  CAST(sum(oov) AS BIGINT) AS n_oov,
       |  round(-sum(lp ORDER BY pos) / count(*), 6) AS cross_entropy,
       |  round(exp(-sum(lp ORDER BY pos) / count(*)), 6) AS perplexity
       |FROM lp
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin
  }

  // -- q162: dedup threshold sensitivity — ONE LSH signature pass
  //          (k=12, 2 bands, floor 0.7), then the pair count, touched-doc
  //          count, and exact micro-unit mean signature-Jaccard at each
  //          candidate threshold {0.7, 0.8, 0.9}. The tuning report that
  //          decides how aggressive near-dedup should be before a full
  //          run — re-running the corpus sweep per threshold is the
  //          anti-pattern it replaces. Scale shape: q28's banded
  //          candidate generation once; thresholds are a 3-row explode
  //          over the pair frame.
  private val ThSweep = Seq(0.7, 0.8, 0.9)

  private def q162(s: SparkSession, dir: String): DataFrame = {
    // the materialized index is stored at the catalog-wide floor
    // (0.5); the sweep filters to its own floor exactly
    val pairs = graft.dedup.DedupIndex.candidatePairs(s, dir)
      .filter(col("est_jaccard") >= ThSweep.min)
    // single pass over the pair frame: one conditional aggregate per
    // threshold (no per-threshold replication); docs-touched at t =
    // docs whose best pair estimate reaches t, from a per-doc max frame
    // threshold-indexed (not value-named) columns: a dot in a column
    // name ("np_0.7") would parse as a nested-field reference
    val pairAggs = ThSweep.zipWithIndex.flatMap { case (t, i) =>
      Seq(sum(when(col("est_jaccard") >= t, 1L).otherwise(0L))
          .as(s"np_$i"),
        sum(when(col("est_jaccard") >= t,
            round(col("est_jaccard") * lit(1000000), 0).cast("long"))
          .otherwise(0L)).as(s"se_$i"))
    }
    val pw = pairs.agg(pairAggs.head, pairAggs.tail: _*)
    val docAggs = ThSweep.zipWithIndex.map { case (t, i) =>
      sum(when(col("m") >= t, 1L).otherwise(0L)).as(s"nd_$i") }
    val dw = pairs
      .select(explode(array(col("a_id"), col("b_id"))).as("doc_id"),
        col("est_jaccard"))
      .groupBy(col("doc_id")).agg(max(col("est_jaccard")).as("m"))
      .agg(docAggs.head, docAggs.tail: _*)
    val wide = pw.crossJoin(dw)
    val rows = ThSweep.zipWithIndex.map { case (t, i) =>
      struct(lit(t).as("threshold"),
        col(s"np_$i").as("n_pairs"), col(s"nd_$i").as("n_docs_touched"),
        round(col(s"se_$i") / (lit(1000000.0) * col(s"np_$i")), 6)
          .as("mean_est")) }
    wide.select(explode(array(rows: _*)).as("r"))
      .select(col("r.threshold"), col("r.n_pairs"),
        col("r.n_docs_touched"), col("r.mean_est"))
      .orderBy(col("threshold"))
  }

  private val q162Sql = {
    import graft.text.{TextFunctions => TF}
    s"""WITH sig AS (
       |  SELECT doc_id AS id, ${TF.sql.minhashSignature("text", 12)} AS sig
       |  FROM documents),
       |banded AS (
       |  SELECT id, sig,
       |    b::VARCHAR || '#' || array_to_string(sig[b*6+1:b*6+6], '#') AS bucket
       |  FROM sig, range(0, 2) t(b)),
       |cand AS (
       |  SELECT DISTINCT a.id AS a_id, b.id AS b_id
       |  FROM banded a JOIN banded b ON a.bucket = b.bucket AND a.id < b.id),
       |pairs AS (
       |  SELECT a_id, b_id, est FROM (
       |    SELECT c.a_id, c.b_id,
       |      len(list_filter(list_zip(sa.sig, sb.sig), z -> z[1] = z[2]))
       |        * 1.0 / 12 AS est
       |    FROM cand c JOIN sig sa ON sa.id = c.a_id
       |    JOIN sig sb ON sb.id = c.b_id) x
       |  WHERE est >= ${ThSweep.min}),
       |pw AS (
       |  SELECT
       |${ThSweep.map(t =>
          s"    CAST(sum(CASE WHEN est >= $t THEN 1 ELSE 0 END) AS BIGINT) AS \"np_$t\",\n" +
          s"    CAST(sum(CASE WHEN est >= $t THEN CAST(round(est * 1000000) AS BIGINT) ELSE 0 END) AS BIGINT) AS \"se_$t\"")
         .mkString(",\n")}
       |  FROM pairs),
       |dm AS (
       |  SELECT doc_id, max(est) AS m FROM (
       |    SELECT a_id AS doc_id, est FROM pairs
       |    UNION ALL SELECT b_id, est FROM pairs) u
       |  GROUP BY 1),
       |dw AS (
       |  SELECT
       |${ThSweep.map(t =>
          s"    CAST(sum(CASE WHEN m >= $t THEN 1 ELSE 0 END) AS BIGINT) AS \"nd_$t\"")
         .mkString(",\n")}
       |  FROM dm)
       |SELECT t.threshold,
       |  CASE ${ThSweep.map(t => s"WHEN t.threshold = $t THEN \"np_$t\"").mkString(" ")} END AS n_pairs,
       |  CASE ${ThSweep.map(t => s"WHEN t.threshold = $t THEN \"nd_$t\"").mkString(" ")} END AS n_docs_touched,
       |  CASE ${ThSweep.map(t => s"WHEN t.threshold = $t THEN round(\"se_$t\" / (1000000.0 * \"np_$t\"), 6)").mkString(" ")} END AS mean_est
       |FROM pw CROSS JOIN dw
       |CROSS JOIN (VALUES ${ThSweep.map(t => s"(CAST($t AS DOUBLE))").mkString(", ")}) t(threshold)
       |ORDER BY t.threshold""".stripMargin
  }

  // -- q163: Heaps'-law vocabulary growth — per-source (token, type)
  //          mass plus the corpus-level Heaps fit ln V = ln k + β ln T
  //          across sources. β says how fast NEW vocabulary keeps
  //          arriving as the corpus grows: the datasheet statistic
  //          behind "is more data still adding new words", which sizes
  //          tokenizer vocab (q136) and OOV expectations. One explode
  //          scan + per-source aggregates; the fit is over #sources
  //          points. Determinism: the least-squares fit is computed
  //          from exact micro-unit integer sums of the ln terms (NOT
  //          native regr_slope, whose double accumulation is
  //          partition-order dependent) — both engines sum identical
  //          bigints, cast them to double once, and evaluate the same
  //          IEEE expression tree, so the fit is bit-stable. The slope
  //          is scale-invariant under the uniform ×1e6 quantization;
  //          the intercept divides the micro-units back out.
  private def q163(s: SparkSession, dir: String): DataFrame = {
    import graft.text.{TextFunctions => TF}
    val bySrc = docs(s, dir)
      .select(col("source"), explode(TF.tokens(col("text"))).as("token"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("tokens"),
        countDistinct(col("token")).as("types"))
    val fit = lnlnFit(bySrc, col("tokens"), col("types"),
      "heaps_beta", "heaps_lnk")
    bySrc.crossJoin(broadcast(fit))
      .select(col("source"), col("tokens"), col("types"),
        round(col("types") * lit(1.0) / col("tokens"), 6)
          .as("type_token_ratio"),
        round(col("heaps_beta"), 6).as("heaps_beta"),
        round(col("heaps_lnk"), 6).as("heaps_lnk"))
      .orderBy(col("source"))
  }

  private val q163Sql =
    s"""WITH bysrc AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS tokens,
       |    count(DISTINCT token) AS types
       |  FROM (
       |    SELECT source, unnest(string_split(text, ' ')) AS token
       |    FROM documents) t
       |  GROUP BY source),
       |${lnlnFitSql("bysrc", "tokens", "types", "heaps_beta", "heaps_lnk")}
       |SELECT source, tokens, types,
       |  round(types * 1.0 / tokens, 6) AS type_token_ratio,
       |  round(heaps_beta, 6) AS heaps_beta,
       |  round(heaps_lnk, 6) AS heaps_lnk
       |FROM bysrc CROSS JOIN fit
       |ORDER BY source""".stripMargin

  // -- q164: Zipf rank–frequency fit — q163's companion: the top-1000
  //          token frequencies against their ranks in ln-ln space
  //          (slope ≈ −1 for natural text; a flat slope flags synthetic
  //          or templated corpora). Scale shape: one token-count
  //          aggregate (vocab-bounded), TakeOrdered top-1000, then a
  //          1000-row rank window and a 1-row fit broadcast back onto
  //          the top-20 report rows.
  private val ZipfFit = 1000
  private val ZipfTop = 20

  private def q164(s: SparkSession, dir: String): DataFrame = {
    import graft.text.{TextFunctions => TF}
    val counts = docs(s, dir)
      .select(explode(TF.tokens(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("freq"))
    val w = Window.orderBy(col("freq").desc, col("token"))
    val ranked = counts.orderBy(col("freq").desc, col("token"))
      .limit(ZipfFit)
      .select(row_number().over(w).cast("long").as("rank"),
        col("token"), col("freq"))
    val fit = lnlnFit(ranked, col("rank"), col("freq"),
      "zipf_slope", "zipf_lnc")
    ranked.filter(col("rank") <= ZipfTop)
      .crossJoin(broadcast(fit))
      .select(col("rank"), col("token"), col("freq"),
        round(col("zipf_slope"), 6).as("zipf_slope"),
        round(col("zipf_lnc"), 6).as("zipf_lnc"))
      .orderBy(col("rank"))
  }

  private val q164Sql =
    s"""WITH counts AS (
       |  SELECT token, count(*) AS freq FROM (
       |    SELECT unnest(string_split(text, ' ')) AS token
       |    FROM documents) t
       |  GROUP BY token),
       |ranked AS (
       |  SELECT CAST(row_number() OVER (ORDER BY freq DESC, token)
       |      AS BIGINT) AS rank,
       |    token, freq
       |  FROM counts
       |  ORDER BY freq DESC, token LIMIT $ZipfFit),
       |${lnlnFitSql("ranked", "rank", "freq", "zipf_slope", "zipf_lnc")}
       |SELECT rank, token, freq,
       |  round(zipf_slope, 6) AS zipf_slope,
       |  round(zipf_lnc, 6) AS zipf_lnc
       |FROM ranked CROSS JOIN fit
       |WHERE rank <= $ZipfTop
       |ORDER BY rank""".stripMargin

  // -- q165: BPE ENCODING — q154's missing second half: apply a fixed,
  //          rank-ordered merge table to the corpus and report the REAL
  //          subword token counts a training pipeline budgets with
  //          (whitespace tokens overcount rare words, undercount
  //          morphology). The merge list is a FIXTURE (16 common
  //          English merges, each operand a base char or an earlier
  //          merge's output — the property trained lists have by
  //          construction) so the DuckDB oracle can apply the identical
  //          chain. Scale shape: encoding runs once per DISTINCT word
  //          (vocab-bounded — the dominant cost at 100 TB is the one
  //          explode scan + the (source, word) aggregate), then the
  //          per-word symbol count joins back onto frequencies. The
  //          encode itself is a chain of literal `replace` passes over
  //          a delimiter-wrapped symbol string (BpeTrainer.delimited):
  //          pure codegen'd string expressions, one leftmost-first
  //          merge pass per rank on both engines.
  private val BpeEow = graft.text.BpeTrainer.EndOfWord
  private val BpeFixtureMerges: Seq[(String, String)] = Seq(
    "t" -> "h", "th" -> "e", "the" -> BpeEow, "e" -> BpeEow,
    "s" -> BpeEow, "d" -> BpeEow, "a" -> "n", "an" -> "d",
    "and" -> BpeEow, "i" -> "n", "in" -> BpeEow, "e" -> "r",
    "er" -> BpeEow, "o" -> "n", "t" -> BpeEow, "o" -> "f")

  private def q165(s: SparkSession, dir: String): DataFrame = {
    import graft.text.{BpeTrainer => B, TextFunctions => TF}
    val words = docs(s, dir)
      .select(col("source"), explode(TF.tokens(col("text"))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("source"), col("word")).agg(count(lit(1)).as("freq"))
    val vocab = words.select(col("word")).distinct()
      .select(col("word"),
        B.symbolCount(B.encodeSymbols(col("word"), BpeFixtureMerges))
          .as("n_sym"))
    words.join(vocab, Seq("word"))
      .groupBy(col("source"))
      .agg(sum(col("freq")).as("ws_tokens"),
        sum(col("freq") * col("n_sym")).as("bpe_tokens"),
        sum(col("freq") * (length(col("word")) + lit(1)))
          .as("char_symbols"))
      .select(col("source"), col("ws_tokens"), col("bpe_tokens"),
        round(col("bpe_tokens") * lit(1.0) / col("ws_tokens"), 6)
          .as("symbols_per_token"),
        round(col("bpe_tokens") * lit(1.0) / col("char_symbols"), 6)
          .as("bpe_compression"))
      .orderBy(col("source"))
  }

  /** DuckDB twin of the encode chain: chr(1)-delimited symbols, one
    * literal replace per merge in rank order. */
  private val q165Sql = {
    def d(sym: String) = s"chr(1)||'$sym'||chr(1)"
    val init = "regexp_replace(replace(word, chr(1), ''), '(.)', " +
      "chr(1)||'\\1'||chr(1), 'g') || " + d(BpeEow)
    val enc = BpeFixtureMerges.foldLeft(init) { case (acc, (l, r)) =>
      s"replace($acc, ${d(l)}||${d(r)}, ${d(l + r)})"
    }
    s"""WITH words AS (
       |  SELECT source, word, CAST(count(*) AS BIGINT) AS freq FROM (
       |    SELECT source, unnest(string_split(text, ' ')) AS word
       |    FROM documents) t
       |  WHERE length(word) > 0
       |  GROUP BY source, word),
       |vocab AS (
       |  SELECT word,
       |    (length(enc) - length(replace(enc, chr(1), ''))) // 2 AS n_sym
       |  FROM (SELECT word, $enc AS enc
       |        FROM (SELECT DISTINCT word FROM words) v) e)
       |SELECT source,
       |  CAST(sum(freq) AS BIGINT) AS ws_tokens,
       |  CAST(sum(freq * n_sym) AS BIGINT) AS bpe_tokens,
       |  round(sum(freq * n_sym) * 1.0 / sum(freq), 6) AS symbols_per_token,
       |  round(sum(freq * n_sym) * 1.0 / sum(freq * (length(word) + 1)), 6)
       |    AS bpe_compression
       |FROM words JOIN vocab USING (word)
       |GROUP BY source
       |ORDER BY source""".stripMargin
  }

  // -- q167: SemDeDup — semantic deduplication via within-cluster
  //          cosine pruning (Abbas et al. 2023, "SemDeDup: Data-
  //          efficient learning at web-scale through semantic
  //          deduplication"): k-means the embedding space (reusing the
  //          q149 deterministic Lloyd fit), then compare pairs ONLY
  //          inside each cluster and drop the higher-id member of any
  //          pair above the cosine threshold. The deterministic
  //          set-expressible variant of the paper's keep-one rule: a
  //          vector is a semantic duplicate iff a lower-id cluster-mate
  //          is within tau (greedy-by-id, not path-dependent).
  //          Scale shape: THE point of the method — all-pairs work is
  //          O(sum cluster_size^2), never O(n^2); the pair leg is a
  //          hash equi-join on cid whose skew is exactly what q153's
  //          cell-balance report monitors, and at 100 TB you raise k so
  //          clusters stay bounded (the paper runs k~11k on LAION).
  private val SdTau = 0.30

  private def q167(s: SparkSession, dir: String): DataFrame = {
    val asg = graft.semantic.KMeans.fit(
        emb(s, dir), "vec_id", "embedding", KmK, KmIters)
      .select(col("vec_id"), col("cid"))
    val dup = graft.dedup.Dedup.semanticDuplicates(
      asg, emb(s, dir), "vec_id", "embedding", SdTau)
    asg.groupBy(col("cid")).agg(count(lit(1)).as("n"))
      .join(dup.groupBy(col("cid")).agg(count(lit(1)).as("n_sem_dup")),
        Seq("cid"), "left")
      .select(col("cid"), col("n"),
        coalesce(col("n_sem_dup"), lit(0L)).as("n_sem_dup"),
        ExactRound.ratio6(
          col("n") - coalesce(col("n_sem_dup"), lit(0L)), col("n"))
          .as("keep_rate"))
      .orderBy(col("cid"))
  }

  private val q167Sql = {
    val cos = VectorFunctions.sql.cosine("a.v", "b.v")
    s"""WITH ${graft.semantic.KMeans.sql.fitCtes(KmK, KmIters)},
       |m AS (SELECT f.vec_id, f.cid, e.v
       |      FROM asgF f JOIN ev e USING (vec_id)),
       |dup AS (
       |  SELECT DISTINCT b.cid, b.vec_id AS b_id
       |  FROM m a JOIN m b ON a.cid = b.cid AND a.vec_id < b.vec_id
       |  WHERE $cos >= $SdTau),
       |sz AS (SELECT cid, CAST(count(*) AS BIGINT) AS n FROM asgF GROUP BY 1),
       |dc AS (SELECT cid, CAST(count(*) AS BIGINT) AS n_sem_dup
       |       FROM dup GROUP BY 1)
       |SELECT s.cid, s.n,
       |  COALESCE(d.n_sem_dup, 0) AS n_sem_dup,
       |  ${graft.functions.ExactRound.sql.ratio6("s.n - COALESCE(d.n_sem_dup, 0)", "s.n")} AS keep_rate
       |FROM sz s LEFT JOIN dc d USING (cid)
       |ORDER BY s.cid""".stripMargin
  }

  // -- q168: UniMax sampling allocation (Chung et al. 2023, "UniMax:
  //          Fairer and More Effective Language Sampling for Large-
  //          Scale Multilingual Pretraining"): given a total token
  //          budget and a per-source epoch cap, allocate the budget as
  //          uniformly as possible without repeating any source more
  //          than E epochs — waterfilling. Closed form instead of the
  //          paper's sequential loop: sort sources by capacity
  //          ascending; source i is capped iff cap_i*(S-i+1) <=
  //          budget - prefix_{i-1} (ALL arithmetic exact bigints), the
  //          capped set is a prefix of that order, and the uncapped
  //          rest shares the leftover evenly (one double division at
  //          the end). Scale shape: one linear token-count aggregate,
  //          then every window runs over the #sources-row frame —
  //          bounded, the q134/q141 precedent.
  private val UmEpochCap = 4L
  private val UmBudgetNum = 3L // budget = floor(3/5 of corpus tokens)
  private val UmBudgetDen = 5L

  private def q168(s: SparkSession, dir: String): DataFrame = {
    import graft.text.{TextFunctions => TF}
    val st = docs(s, dir).groupBy(col("source"))
      .agg(sum(TF.tokenCount(col("text")).cast("long")).as("n_tok"))
    graft.pipeline.Unimax
      .alloc(st, UmEpochCap, UmBudgetNum, UmBudgetDen)
      .select(col("source"), col("n_tok"), col("cap"),
        round(col("alloc"), 2).as("allocated"),
        round(col("alloc") / col("n_tok"), 6).as("epochs"))
      .orderBy(col("source"))
  }

  private val q168Sql =
    s"""WITH st0 AS (
       |  SELECT source,
       |    CAST(sum(${graft.text.TextFunctions.sql.tokenCount("text")})
       |      AS BIGINT) AS n_tok
       |  FROM documents GROUP BY 1),
       |${graft.pipeline.Unimax.sql.allocCtes(
          "st0", UmEpochCap, UmBudgetNum, UmBudgetDen)}
       |SELECT source, n_tok, cap,
       |  round(alloc, 2) AS allocated,
       |  round(alloc / n_tok, 6) AS epochs
       |FROM ualloc
       |ORDER BY source""".stripMargin

  // -- q169: prototype-distance data pruning (Sorscher et al. 2022,
  //          "Beyond neural scaling laws: beating power law scaling via
  //          data pruning"): rank each vector by distance to its
  //          cluster centroid and keep the HARDEST fraction per cluster
  //          (far-from-prototype examples carry the most signal when
  //          data is abundant). Reuses the q149 Lloyd fit; keep count
  //          is the exact integer ceil(3n/5) per cluster; ranking ties
  //          break by vec_id. Scale shape: the fit's bounded broadcast
  //          rounds plus ONE per-cluster window — no global sort, no
  //          pairwise leg at all.
  private val PpKeepNum = 3L // keep ceil(3/5) hardest per cluster
  private val PpKeepDen = 5L

  private def q169(s: SparkSession, dir: String): DataFrame = {
    val asg = graft.semantic.KMeans.fit(
      emb(s, dir), "vec_id", "embedding", KmK, KmIters)
    val byHard = Window.partitionBy(col("cid"))
      .orderBy(col("sqdist").desc, col("vec_id"))
    val sz = Window.partitionBy(col("cid"))
    asg.withColumn("rnk", row_number().over(byHard).cast("long"))
      .withColumn("n", count(lit(1)).over(sz))
      .withColumn("n_keep",
        expr(s"($PpKeepNum * n + ${PpKeepDen - 1}) div $PpKeepDen"))
      .filter(col("rnk") <= col("n_keep"))
      .groupBy(col("cid"))
      .agg(max(col("n")).as("n"), max(col("n_keep")).as("n_keep"),
        round(min(col("sqdist")), 6).as("cut_sqdist"))
      .orderBy(col("cid"))
  }

  private val q169Sql =
    s"""WITH ${graft.semantic.KMeans.sql.fitCtes(KmK, KmIters)},
       |ranked AS (
       |  SELECT cid, vec_id, sqdist,
       |    CAST(row_number() OVER (PARTITION BY cid
       |      ORDER BY sqdist DESC, vec_id) AS BIGINT) AS rnk,
       |    CAST(count(*) OVER (PARTITION BY cid) AS BIGINT) AS n
       |  FROM asgF),
       |kept AS (
       |  SELECT *, ($PpKeepNum * n + ${PpKeepDen - 1}) // $PpKeepDen
       |    AS n_keep
       |  FROM ranked)
       |SELECT cid, max(n) AS n, max(n_keep) AS n_keep,
       |  round(min(sqdist), 6) AS cut_sqdist
       |FROM kept WHERE rnk <= n_keep
       |GROUP BY cid
       |ORDER BY cid""".stripMargin

  // -- q170: lexical-entropy quality signal — per-document Shannon
  //          entropy of the word distribution, the standard
  //          repetitiveness proxy (a doc that reuses few words has low
  //          H; complements q128's Gopher surface rules with an
  //          information-theoretic score). Determinism: per-word terms
  //          freq*ln(freq) are micro-quantized bigints summed exactly
  //          (the q163/q164 ln-quantization pattern), and H's closed
  //          form ln(L) - S/L is evaluated as ONE integer numerator
  //          (lnL_micro*L - S) over one double division, so both
  //          engines emit bit-identical doubles. Scale shape: the
  //          per-doc score is Repetition.entropy — a sorted-run fold
  //          INSIDE the scan (zero shuffle, the q128 runStats shape) —
  //          so the whole query is one linear pass + one per-source
  //          rollup; the oracle recomputes H from the independent
  //          unnest + group-by formulation, cross-checking the fold.
  private val WeTau = 2.5 // docs below this H flag as repetitive

  private def q170(s: SparkSession, dir: String): DataFrame = {
    import graft.text.Repetition
    val d = docs(s, dir).select(col("source"), col("doc_id"),
      Repetition.entropy(Repetition.tokens(col("text"))).as("h"))
    d.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        ExactRound.microMean6(
          sum(round(col("h") * lit(1e6), 0).cast("long")), count(lit(1)))
          .as("mean_entropy"),
        round(min(col("h")), 6).as("min_entropy"),
        round(max(col("h")), 6).as("max_entropy"),
        sum(when(col("h") < WeTau, 1L).otherwise(0L)).as("n_repetitive"))
      .orderBy(col("source"))
  }

  private val q170Sql =
    s"""WITH w AS (
       |  SELECT source, doc_id, word, CAST(count(*) AS BIGINT) AS freq
       |  FROM (SELECT source, doc_id,
       |          unnest(${graft.text.TextFunctions.sql.tokens("text")})
       |            AS word
       |        FROM documents) t
       |  WHERE length(word) > 0
       |  GROUP BY 1, 2, 3),
       |d AS (
       |  SELECT source, doc_id, sum(freq) AS len,
       |    sum(CAST(round(freq * ln(freq) * 1e6) AS BIGINT)) AS sl
       |  FROM w GROUP BY 1, 2),
       |h AS (
       |  SELECT source, doc_id,
       |    (CAST(round(ln(len) * 1e6) AS BIGINT) * len - sl) /
       |      (1e6 * len) AS h
       |  FROM d)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  ${graft.functions.ExactRound.sql.microMean6("sum(CAST(round(h * 1e6) AS BIGINT))", "count(*)")}
       |    AS mean_entropy,
       |  round(min(h), 6) AS min_entropy,
       |  round(max(h), 6) AS max_entropy,
       |  CAST(sum(CASE WHEN h < $WeTau THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_repetitive
       |FROM h
       |GROUP BY source
       |ORDER BY source""".stripMargin

  // -- q172: incremental SemDeDup delta — q167's daily-ingest twin
  //          (the semantic analog of q142's exact/LSH delta): newest
  //          20% of vec_ids arrive as the batch, centroids are trained
  //          on the EXISTING 80% only (KMeans.fitCentroids — the
  //          reusable index artifact), and the batch is flagged against
  //          corpus + lower batch mates without ever re-pairing the
  //          corpus with itself. Per-cluster report: arrivals, dups vs
  //          corpus, batch-internal-only dups, net new. Scale shape:
  //          the cutoff is a 1-row broadcast, centroid training and
  //          both assignments are k-row broadcasts onto linear scans,
  //          and the pair legs are cid equi-joins with the BATCH on one
  //          side — cost tracks the batch, not the corpus.
  private def q172(s: SparkSession, dir: String): DataFrame = {
    import graft.dedup.Dedup
    import graft.semantic.KMeans
    val cut = emb(s, dir).agg(max(col("vec_id")).as("max_id"))
      .select(expr("(max_id + 1) * 4 div 5").as("cutoff"))
    val e = emb(s, dir).select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(cut))
    val oldE = e.filter(col("vec_id") < col("cutoff"))
    val newE = e.filter(col("vec_id") >= col("cutoff"))
    val cents = KMeans.fitCentroids(oldE, "vec_id", "embedding",
      KmK, KmIters)
    val dup = Dedup.semanticDuplicatesAgainst(newE, oldE, cents,
      "vec_id", "embedding", SdTau)
    KMeans.assign(newE, cents, "vec_id", "embedding")
      .groupBy(col("cid")).agg(count(lit(1)).as("n_new"))
      .join(dup.groupBy(col("cid"))
        .agg(sum(when(col("vs_corpus"), 1L).otherwise(0L))
          .as("n_dup_corpus"),
          sum(when(col("vs_corpus"), 0L).otherwise(1L))
            .as("n_dup_batch_only")), Seq("cid"), "left")
      .select(col("cid"), col("n_new"),
        coalesce(col("n_dup_corpus"), lit(0L)).as("n_dup_corpus"),
        coalesce(col("n_dup_batch_only"), lit(0L)).as("n_dup_batch_only"),
        (col("n_new") - coalesce(col("n_dup_corpus"), lit(0L)) -
          coalesce(col("n_dup_batch_only"), lit(0L))).as("n_net_new"))
      .orderBy(col("cid"))
  }

  private val q172Sql = {
    val K = graft.semantic.KMeans.sql
    val cosNB = VectorFunctions.sql.cosine("n.v", "o.v")
    val cosNN = VectorFunctions.sql.cosine("a.v", "b.v")
    val sqd = "list_sum(list_transform(list_zip(e.v, c.cent), " +
      "z -> (z[1] - z[2]) * (z[1] - z[2])))"
    s"""WITH cut AS (
       |  SELECT (max(vec_id) + 1) * 4 // 5 AS cutoff FROM embeddings),
       |ob AS (SELECT e.* FROM embeddings e, cut WHERE vec_id < cutoff),
       |nb AS (SELECT e.* FROM embeddings e, cut WHERE vec_id >= cutoff),
       |${K.fitCtes(KmK, KmIters, src = "ob")},
       |evn AS (SELECT vec_id, (embedding)::DOUBLE[] AS v FROM nb),
       |asgN AS (
       |  SELECT vec_id, cid, v FROM (
       |    SELECT e.vec_id, c.cid, e.v,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY $sqd, c.cid) AS rn
       |    FROM evn e CROSS JOIN cent$KmIters c)
       |  WHERE rn = 1),
       |asgO AS (
       |  SELECT f.vec_id, f.cid, e.v FROM asgF f JOIN ev e USING (vec_id)),
       |dupC AS (
       |  SELECT DISTINCT n.cid, n.vec_id AS dup_id
       |  FROM asgN n JOIN asgO o ON n.cid = o.cid
       |  WHERE $cosNB >= $SdTau),
       |dupB AS (
       |  SELECT DISTINCT b.cid, b.vec_id AS dup_id
       |  FROM asgN a JOIN asgN b
       |    ON a.cid = b.cid AND a.vec_id < b.vec_id
       |  WHERE $cosNN >= $SdTau),
       |dup AS (
       |  SELECT cid, dup_id, bool_or(vs_corpus) AS vs_corpus FROM (
       |    SELECT cid, dup_id, TRUE AS vs_corpus FROM dupC
       |    UNION ALL
       |    SELECT cid, dup_id, FALSE FROM dupB) u
       |  GROUP BY 1, 2),
       |arr AS (SELECT cid, CAST(count(*) AS BIGINT) AS n_new
       |        FROM asgN GROUP BY 1),
       |dd AS (
       |  SELECT cid,
       |    CAST(sum(CASE WHEN vs_corpus THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_dup_corpus,
       |    CAST(sum(CASE WHEN vs_corpus THEN 0 ELSE 1 END) AS BIGINT)
       |      AS n_dup_batch_only
       |  FROM dup GROUP BY 1)
       |SELECT a.cid, a.n_new,
       |  COALESCE(d.n_dup_corpus, 0) AS n_dup_corpus,
       |  COALESCE(d.n_dup_batch_only, 0) AS n_dup_batch_only,
       |  a.n_new - COALESCE(d.n_dup_corpus, 0) -
       |    COALESCE(d.n_dup_batch_only, 0) AS n_net_new
       |FROM arr a LEFT JOIN dd d USING (cid)
       |ORDER BY a.cid""".stripMargin
  }

  // -- q173: quality-classifier filter — the fasttext-shaped "looks
  //          like the reference corpus" logistic regression every
  //          public pretraining pipeline trains (CCNet / GPT-3-style;
  //          DSIR's discriminative sibling): 3 fixed batch-GD steps
  //          over 64 hashed unigram-frequency features separating the
  //          q145 target source from the rest, then every document
  //          scored under the learned weights. Per-source report:
  //          volume, exact micro-unit mean score, docs flagged
  //          reference-like (score ≥ 0.5). Scale shape + determinism:
  //          see pipeline/QualityClassifier.
  private val QcBuckets = 64
  private val QcIters = 3
  private val QcLr = 8L

  private def q173(s: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.QualityClassifier
    val d = docs(s, dir)
    val feats = QualityClassifier.features(
      d, col("source") === DsirTarget, QcBuckets)
    val (w, bias) = QualityClassifier.train(feats, QcBuckets, QcIters, QcLr)
    QualityClassifier.scores(feats, w, bias)
      .join(d.select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        ExactRound.microMean6(sum(col("score_micro")), count(lit(1)))
          .as("mean_score"),
        sum(when(col("score_micro") >= 500000L, 1L).otherwise(0L))
          .as("n_ref_like"))
      .orderBy(col("source"))
  }

  private val q173Sql =
    s"""WITH ${graft.pipeline.QualityClassifier.sql
        .trainCtes(DsirTarget, QcBuckets, QcIters, QcLr)}
       |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
       |  ${graft.functions.ExactRound.sql.microMean6("sum(s.score_micro)", "count(*)")} AS mean_score,
       |  CAST(sum(CASE WHEN s.score_micro >= 500000 THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_ref_like
       |FROM qscore s JOIN documents d USING (doc_id)
       |GROUP BY d.source
       |ORDER BY d.source""".stripMargin

  // -- q174: end-to-end curation build v2 — the round-8 operator
  //          family composed into the pipeline a training run actually
  //          executes (q116's successor): (1) entropy gate drops
  //          repetitive docs (q170), (2) SemDeDup drops semantic
  //          duplicates (q167), (3) the class-balanced classifier
  //          scores survivors against the reference source (q173),
  //          (4) UniMax waterfills the token budget across sources
  //          over the SURVIVOR mass (q168), (5) each source spends its
  //          allocation on its best-scored docs first (per-source
  //          running token cumsum — a PARTITIONED window, no global
  //          sort). Report: per-source candidates, selected docs,
  //          selected tokens, allocation, mean selected score.
  private def q174(s: SparkSession, dir: String): DataFrame = {
    import graft.dedup.Dedup
    import graft.pipeline.{QualityClassifier, Unimax}
    import graft.semantic.KMeans
    import graft.text.{Repetition, TextFunctions => TF}
    val d = docs(s, dir)
    val keepEnt = d.select(col("doc_id"), col("source"),
        TF.tokenCount(col("text")).cast("long").as("n_tok"),
        Repetition.entropy(Repetition.tokens(col("text"))).as("h"))
      .filter(col("h") >= WeTau)
    val asg = KMeans.fit(emb(s, dir), "vec_id", "embedding", KmK, KmIters)
      .select(col("vec_id"), col("cid"))
    val dup = Dedup.semanticDuplicates(asg, emb(s, dir),
        "vec_id", "embedding", SdTau)
      .select(col("dup_id").as("doc_id"))
    val feats = QualityClassifier.features(
      d, col("source") === DsirTarget, QcBuckets)
    val (w, bias) = QualityClassifier.train(feats, QcBuckets, QcIters, QcLr)
    val sv = keepEnt.join(dup, Seq("doc_id"), "left_anti")
      .join(QualityClassifier.scores(feats, w, bias), Seq("doc_id"))
    val alloc = Unimax.alloc(
        sv.groupBy(col("source")).agg(sum(col("n_tok")).as("n_tok")),
        UmEpochCap, UmBudgetNum, UmBudgetDen)
      .select(col("source"), col("alloc"))
    val bySrc = Window.partitionBy(col("source"))
      .orderBy(col("score_micro").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sel = sv.join(alloc, Seq("source"))
      .withColumn("cum", sum(col("n_tok")).over(bySrc))
      .filter(col("cum") <= col("alloc"))
    sv.groupBy(col("source")).agg(count(lit(1)).as("n_candidates"))
      .join(sel.groupBy(col("source"))
        .agg(count(lit(1)).as("n_selected"),
          sum(col("n_tok")).as("tok_selected"),
          ExactRound.microMean6(sum(col("score_micro")), count(lit(1)))
            .as("mean_sel_score")), Seq("source"), "left")
      .join(alloc, Seq("source"))
      .select(col("source"), col("n_candidates"),
        coalesce(col("n_selected"), lit(0L)).as("n_selected"),
        coalesce(col("tok_selected"), lit(0L)).as("tok_selected"),
        round(col("alloc"), 2).as("allocated"),
        coalesce(col("mean_sel_score"), lit(0.0)).as("mean_sel_score"))
      .orderBy(col("source"))
  }

  private val q174Sql = {
    val cos = VectorFunctions.sql.cosine("a.v", "b.v")
    s"""WITH ${graft.pipeline.QualityClassifier.sql
        .trainCtes(DsirTarget, QcBuckets, QcIters, QcLr)},
       |${graft.semantic.KMeans.sql.fitCtes(KmK, KmIters)},
       |sm AS (SELECT f.vec_id, f.cid, e.v
       |       FROM asgF f JOIN ev e USING (vec_id)),
       |sdup AS (
       |  SELECT DISTINCT b.vec_id AS doc_id
       |  FROM sm a JOIN sm b ON a.cid = b.cid AND a.vec_id < b.vec_id
       |  WHERE $cos >= $SdTau),
       |ew AS (
       |  SELECT doc_id, word, CAST(count(*) AS BIGINT) AS freq
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
       |        FROM documents) t
       |  WHERE length(word) > 0 GROUP BY 1, 2),
       |ed AS (
       |  SELECT doc_id, sum(freq) AS len,
       |    sum(CAST(round(freq * ln(freq) * 1e6) AS BIGINT)) AS sl
       |  FROM ew GROUP BY 1),
       |eh AS (
       |  SELECT doc_id,
       |    (CAST(round(ln(len) * 1e6) AS BIGINT) * len - sl) /
       |      (1e6 * len) AS h
       |  FROM ed),
       |sv AS (
       |  SELECT d.doc_id, d.source, n.n_tok, q.score_micro
       |  FROM documents d
       |  JOIN qntok n USING (doc_id)
       |  JOIN qscore q USING (doc_id)
       |  JOIN eh USING (doc_id)
       |  WHERE eh.h >= $WeTau
       |    AND d.doc_id NOT IN (SELECT doc_id FROM sdup)),
       |svm AS (SELECT source, CAST(sum(n_tok) AS BIGINT) AS n_tok
       |        FROM sv GROUP BY 1),
       |${graft.pipeline.Unimax.sql.allocCtes(
          "svm", UmEpochCap, UmBudgetNum, UmBudgetDen)},
       |sel AS (
       |  SELECT v.*, a.alloc,
       |    sum(v.n_tok) OVER (PARTITION BY v.source
       |      ORDER BY v.score_micro DESC, v.doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM sv v JOIN ualloc a USING (source)),
       |selk AS (SELECT * FROM sel WHERE cum <= alloc),
       |cand AS (SELECT source, CAST(count(*) AS BIGINT) AS n_candidates
       |         FROM sv GROUP BY 1),
       |rep AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_selected,
       |    CAST(sum(n_tok) AS BIGINT) AS tok_selected,
       |    ${graft.functions.ExactRound.sql.microMean6("sum(score_micro)", "count(*)")}
       |      AS mean_sel_score
       |  FROM selk GROUP BY 1)
       |SELECT c.source, c.n_candidates,
       |  COALESCE(r.n_selected, 0) AS n_selected,
       |  COALESCE(r.tok_selected, 0) AS tok_selected,
       |  round(a.alloc, 2) AS allocated,
       |  COALESCE(r.mean_sel_score, 0.0) AS mean_sel_score
       |FROM cand c
       |LEFT JOIN rep r USING (source)
       |JOIN ualloc a USING (source)
       |ORDER BY c.source""".stripMargin
  }

  // -- q175: classifier evaluation — the eval report a pipeline reads
  //          before trusting the q173 filter: exact ROC-AUC (Mann–
  //          Whitney over the micro-quantized score histogram, ties at
  //          ½) and 0.5-threshold precision/recall/F1/accuracy, with
  //          the reference source as ground truth. All ratios are
  //          integer-exact (ExactRound); the only window runs over the
  //          VALUE-bounded score grid (≤ 1e6+1 rows), never the
  //          corpus — scale contract in pipeline/Evaluation.scala.
  private def q175(s: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.{Evaluation, QualityClassifier}
    val d = docs(s, dir)
    val feats = QualityClassifier.features(
      d, col("source") === DsirTarget, QcBuckets)
    val (w, bias) = QualityClassifier.train(feats, QcBuckets, QcIters, QcLr)
    Evaluation.binaryMetrics(
      QualityClassifier.scores(feats, w, bias)
        .join(d.select(col("doc_id"),
          when(col("source") === DsirTarget, 1L).otherwise(0L).as("y")),
          Seq("doc_id")))
  }

  private val q175Sql =
    s"""WITH ${graft.pipeline.QualityClassifier.sql
        .trainCtes(DsirTarget, QcBuckets, QcIters, QcLr)},
       |qsl AS (
       |  SELECT s.score_micro,
       |    CASE WHEN d.source = '$DsirTarget' THEN 1 ELSE 0 END AS y
       |  FROM qscore s JOIN documents d USING (doc_id))
       |${graft.pipeline.Evaluation.sql.binaryMetricsSelect("qsl")}""".stripMargin

  // -- q177: semantic decontamination — the paraphrase-level
  //          complement to q115's n-gram gate: a rephrased benchmark
  //          item shares no 8-gram with its source but still sits next
  //          to it in embedding space, so training docs whose embedding
  //          cosine to ANY benchmark-source vector reaches the
  //          semantic-dup threshold are flagged before the corpus
  //          ships. Per-source report over the TRAIN side: volume,
  //          flagged count, exact flag rate. Scale shape: centroids
  //          (q149's Lloyd) are fit on the train side only — k-row
  //          broadcasts over linear scans — and the pair leg is a cid
  //          equi-join with the BENCH side (the small, fixed eval
  //          suite) on one side, so cost tracks bench size per
  //          cluster; train never pairs with train.
  private def q177(s: SparkSession, dir: String): DataFrame = {
    import graft.semantic.KMeans
    val d = docs(s, dir).select(col("doc_id"), col("source"))
    val e = emb(s, dir).select(col("vec_id"), col("embedding"))
      .join(d, col("vec_id") === col("doc_id"))
    val trainE = e.filter(col("source") =!= DsirTarget)
      .select(col("vec_id"), col("embedding"))
    val benchE = e.filter(col("source") === DsirTarget)
      .select(col("vec_id"), col("embedding"))
    val cents = KMeans.fitCentroids(trainE, "vec_id", "embedding",
      KmK, KmIters)
    def side(x: DataFrame) =
      KMeans.assign(x, cents, "vec_id", "embedding")
        .select(col("cid"), col("vec_id"))
        .join(x, Seq("vec_id"))
    val flag = side(trainE)
      .select(col("cid"), col("vec_id"), col("embedding").as("t_vec"))
      .join(side(benchE).select(col("cid"), col("embedding").as("b_vec")),
        Seq("cid"))
      .filter(VectorFunctions.cosine(col("t_vec"), col("b_vec")) >= SdTau)
      .select(col("vec_id")).distinct()
      .withColumn("flagged", lit(true))
    trainE.select(col("vec_id"))
      .join(d, col("vec_id") === col("doc_id"))
      .join(flag, Seq("vec_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("flagged"), 1L).otherwise(0L)).as("n_flagged"))
      .select(col("source"), col("n_docs"), col("n_flagged"),
        ExactRound.ratio6(col("n_flagged"), col("n_docs")).as("flag_rate"))
      .orderBy(col("source"))
  }

  private val q177Sql = {
    val K = graft.semantic.KMeans.sql
    val sqd = "list_sum(list_transform(list_zip(e.v, c.cent), " +
      "z -> (z[1] - z[2]) * (z[1] - z[2])))"
    val cosTB = VectorFunctions.sql.cosine("t.v", "b.v")
    s"""WITH tb AS (
       |  SELECT e.* FROM embeddings e JOIN documents d
       |    ON e.vec_id = d.doc_id WHERE d.source <> '$DsirTarget'),
       |bb AS (
       |  SELECT e.* FROM embeddings e JOIN documents d
       |    ON e.vec_id = d.doc_id WHERE d.source = '$DsirTarget'),
       |${K.fitCtes(KmK, KmIters, src = "tb")},
       |evb AS (SELECT vec_id, (embedding)::DOUBLE[] AS v FROM bb),
       |asgB AS (
       |  SELECT vec_id, cid, v FROM (
       |    SELECT e.vec_id, c.cid, e.v,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY $sqd, c.cid) AS rn
       |    FROM evb e CROSS JOIN cent$KmIters c)
       |  WHERE rn = 1),
       |asgT AS (
       |  SELECT f.vec_id, f.cid, e.v FROM asgF f JOIN ev e USING (vec_id)),
       |flag AS (
       |  SELECT DISTINCT t.vec_id
       |  FROM asgT t JOIN asgB b ON t.cid = b.cid
       |  WHERE $cosTB >= $SdTau)
       |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN f.vec_id IS NOT NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_flagged,
       |  ${ExactRound.sql.ratio6(
          "sum(CASE WHEN f.vec_id IS NOT NULL THEN 1 ELSE 0 END)",
          "count(*)")} AS flag_rate
       |FROM tb e JOIN documents d ON e.vec_id = d.doc_id
       |LEFT JOIN flag f ON e.vec_id = f.vec_id
       |GROUP BY d.source ORDER BY d.source""".stripMargin
  }

  // -- q178: excess-loss domain reweighting — the DoReMi-shaped (Xie
  //          et al. 2023, "Doremi: Optimizing data mixtures...") one-
  //          shot mixture update a pipeline runs between q127's static
  //          mixing and a full proxy-model loop: each domain's held-out
  //          loss under the q161 train-split bigram LM is compared to
  //          the corpus-wide mean, and domains running ABOVE it (hard /
  //          under-served) get their baseline token share multiplied by
  //          exp(excess/4) (exponentiated-gradient step, excess clipped
  //          at 2 nats so the weight blow-up — and the integer range —
  //          is bounded), then renormalized. Report: per-domain val
  //          volume, mean NLL, excess, baseline share, updated weight.
  //          Scale shape: the LM legs are q161's (vocab-keyed hash
  //          joins, 1-row vocab broadcast); everything after the
  //          per-source aggregate runs on a SOURCE-bounded frame, so
  //          the unpartitioned windows are bounded by the domain count.
  //          Determinism: per-position NLL is micro-quantized before
  //          any sum; every downstream value is integer arithmetic
  //          (ExactRound) except the one exp(), quantized immediately.
  private val DmCapMicro = 2000000L // clip excess at 2 nats
  private val DmEtaDen = 4.0 // weight multiplier = exp(excess / 4)

  private def q178(s: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.Sampling
    import graft.text.{NgramLm, Repetition}
    val all = docs(s, dir).select(col("doc_id"), col("source"),
      Repetition.tokens(col("text")).as("l"),
      Sampling.splitColumn(col("doc_id"), CsWeights).as("split"))
    val scoped = all.filter(size(col("l")) >= 2)
    val train = scoped.filter(col("split") === "train")
    val ev = scoped.filter(col("split") === "val")
    val ti = NgramLm.bigramInstances(train)
    val c12 = ti.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    val c1 = ti.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val vocab = train.select(explode(col("l")).as("w"))
      .agg(countDistinct(col("w")).as("v"))
    val nll = NgramLm.bigramInstances(ev)
      .join(c12, Seq("w1", "w2"), "left")
      .join(c1, Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"),
        round(-log((coalesce(col("c12"), lit(0L)) + lit(1.0)) /
          (coalesce(col("c1"), lit(0L)) + col("v"))) * lit(1000000), 0)
          .cast("long").as("nll"))
    val ps = nll
      .join(docs(s, dir).select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("nb"), sum(col("nll")).as("snll"))
    val ts = all.groupBy(col("source"))
      .agg(sum(size(col("l")).cast("long")).as("tok"))
    val allW = Window.orderBy(col("source"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    ts.join(ps, Seq("source"), "left")
      .select(col("source"), col("tok"),
        coalesce(col("nb"), lit(0L)).as("nb"),
        coalesce(col("snll"), lit(0L)).as("snll"))
      .withColumn("tok_tot", sum(col("tok")).over(allW))
      .withColumn("nb_tot", sum(col("nb")).over(allW))
      .withColumn("snll_tot", sum(col("snll")).over(allW))
      .withColumn("lref",
        when(col("nb_tot") === 0L, lit(0L))
          .otherwise(ExactRound.meanMicro(col("snll_tot"), col("nb_tot"))))
      .withColumn("excess",
        when(col("nb") === 0L, lit(0L))
          .otherwise(least(greatest(
            ExactRound.meanMicro(col("snll"), col("nb")) - col("lref"),
            lit(0L)), lit(DmCapMicro))))
      .withColumn("share_micro",
        ExactRound.micro6(col("tok"), col("tok_tot")))
      .withColumn("a",
        round(lit(1e6) * exp(col("excess") / lit(DmEtaDen * 1e6)), 0)
          .cast("long"))
      .withColumn("num", col("share_micro") * col("a"))
      .withColumn("num_tot", sum(col("num")).over(allW))
      .select(col("source"), col("nb").as("n_val_bigrams"),
        when(col("nb") === 0L, lit(0.0))
          .otherwise(ExactRound.microMean6(col("snll"), col("nb")))
          .as("mean_nll"),
        (col("excess") / lit(1e6)).as("excess_nll"),
        (col("share_micro") / lit(1e6)).as("base_share"),
        ExactRound.ratio6(col("num"), col("num_tot")).as("weight"))
      .orderBy(col("source"))
  }

  private val q178Sql = {
    import graft.pipeline.Sampling
    val h = Sampling.sql.hashBucket("doc_id", 10)
    val ER = ExactRound.sql
    s"""WITH dtoks AS (
       |  SELECT doc_id, source,
       |    list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS l,
       |    CASE WHEN $h < 8 THEN 'train' WHEN $h < 9 THEN 'val'
       |      ELSE 'test' END AS split
       |  FROM documents),
       |dscoped AS (SELECT * FROM dtoks WHERE len(l) >= 2),
       |dti AS (
       |  SELECT doc_id, i AS pos, l[i] AS w1, l[i+1] AS w2
       |  FROM dscoped, unnest(range(1, len(l))) r(i)
       |  WHERE split = 'train'),
       |dc12 AS (SELECT w1, w2, count(*) AS c12 FROM dti GROUP BY 1, 2),
       |dc1 AS (SELECT w1, count(*) AS c1 FROM dti GROUP BY 1),
       |dv AS (
       |  SELECT count(DISTINCT w) AS v
       |  FROM (SELECT unnest(l) AS w FROM dscoped WHERE split = 'train')),
       |dei AS (
       |  SELECT doc_id, i AS pos, l[i] AS w1, l[i+1] AS w2
       |  FROM dscoped, unnest(range(1, len(l))) r(i)
       |  WHERE split = 'val'),
       |dnll AS (
       |  SELECT e.doc_id,
       |    CAST(round(-ln((coalesce(c12, 0) + 1.0) /
       |      (coalesce(c1, 0) + v)) * 1000000) AS BIGINT) AS nll
       |  FROM dei e
       |  LEFT JOIN dc12 USING (w1, w2)
       |  LEFT JOIN dc1 USING (w1)
       |  CROSS JOIN dv),
       |dps AS (
       |  SELECT d.source, CAST(count(*) AS BIGINT) AS nb,
       |    CAST(sum(n.nll) AS BIGINT) AS snll
       |  FROM dnll n JOIN documents d USING (doc_id) GROUP BY 1),
       |dts AS (
       |  SELECT source, CAST(sum(len(l)) AS BIGINT) AS tok
       |  FROM dtoks GROUP BY 1),
       |dg AS (
       |  SELECT t.source, t.tok,
       |    COALESCE(p.nb, 0) AS nb, COALESCE(p.snll, 0) AS snll,
       |    CAST(sum(t.tok) OVER () AS BIGINT) AS tok_tot,
       |    CAST(sum(COALESCE(p.nb, 0)) OVER () AS BIGINT) AS nb_tot,
       |    CAST(sum(COALESCE(p.snll, 0)) OVER () AS BIGINT) AS snll_tot
       |  FROM dts t LEFT JOIN dps p USING (source)),
       |dx AS (
       |  SELECT source, tok, nb, snll, tok_tot,
       |    CASE WHEN nb = 0 THEN 0
       |      ELSE least(greatest(${ER.meanMicro("snll", "nb")} -
       |        (CASE WHEN nb_tot = 0 THEN 0
       |          ELSE ${ER.meanMicro("snll_tot", "nb_tot")} END), 0),
       |        $DmCapMicro) END AS excess
       |  FROM dg),
       |dy AS (
       |  SELECT source, nb, snll, excess,
       |    ${ER.micro6("tok", "tok_tot")} AS share_micro,
       |    CAST(round(1e6 * exp(excess / ${DmEtaDen * 1e6})) AS BIGINT) AS a
       |  FROM dx),
       |dz AS (
       |  SELECT source, nb, snll, excess, share_micro,
       |    share_micro * a AS num,
       |    CAST(sum(share_micro * a) OVER () AS BIGINT) AS num_tot
       |  FROM dy)
       |SELECT source, nb AS n_val_bigrams,
       |  CASE WHEN nb = 0 THEN 0.0
       |    ELSE ${ER.microMean6("snll", "nb")} END AS mean_nll,
       |  excess / 1e6 AS excess_nll,
       |  share_micro / 1e6 AS base_share,
       |  ${ER.ratio6("num", "num_tot")} AS weight
       |FROM dz ORDER BY source""".stripMargin
  }

  // -- q179: cluster-quality report — the validation leg for the q149
  //          corpus map: per-cluster SIMPLIFIED silhouette (Hruschka et
  //          al. 2004's centroid form: s = (b−a)/max(a,b) with a = L2
  //          to the own centroid, b = to the second-nearest), the form
  //          that stays k-bounded at 100 TB because it never pairs
  //          points with points — one k-row centroid broadcast onto a
  //          linear scan, one per-vec rank over k rows. Report: size,
  //          mean silhouette, and how many members sit within 0.1 of
  //          the decision boundary (ambiguous assignments — the docs a
  //          re-clustering would move first). Per-vec silhouette is
  //          micro-quantized the moment the doubles combine (round
  //          absorbs sqrt/division ulp, the established contract);
  //          aggregate stats are exact integer sums.
  private def q179(s: SparkSession, dir: String): DataFrame = {
    import graft.semantic.KMeans
    val e = emb(s, dir).select(col("vec_id"), col("embedding"))
    val cents = KMeans.fitCentroids(e, "vec_id", "embedding", KmK, KmIters)
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("sqdist"), col("cid"))
    val ranked = e
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .crossJoin(broadcast(cents))
      .withColumn("sqdist", VectorFunctions.squaredL2(col("v"), col("cent")))
      .withColumn("rn", row_number().over(w))
    val own = ranked.filter(col("rn") === 1)
      .select(col("vec_id"), col("cid"), col("sqdist").as("a2"))
    val second = ranked.filter(col("rn") === 2)
      .select(col("vec_id"), col("sqdist").as("b2"))
    own.join(second, Seq("vec_id"))
      .select(col("cid"),
        when(greatest(sqrt(col("a2")), sqrt(col("b2"))) === 0.0, lit(0L))
          .otherwise(round((sqrt(col("b2")) - sqrt(col("a2"))) /
            greatest(sqrt(col("a2")), sqrt(col("b2"))) * lit(1000000), 0)
            .cast("long")).as("sil"))
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n"), sum(col("sil")).as("sils"),
        sum(when(col("sil") < 100000L, 1L).otherwise(0L)).as("n_border"))
      .select(col("cid"), col("n"),
        ExactRound.microMean6(col("sils"), col("n")).as("mean_sil"),
        col("n_border"))
      .orderBy(col("cid"))
  }

  private val q179Sql = {
    val K = graft.semantic.KMeans.sql
    val sqd = "list_sum(list_transform(list_zip(e.v, c.cent), " +
      "z -> (z[1] - z[2]) * (z[1] - z[2])))"
    s"""WITH ${K.fitCtes(KmK, KmIters)},
       |rk AS (
       |  SELECT e.vec_id, c.cid, $sqd AS sqdist,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY $sqd, c.cid) AS rn
       |  FROM ev e CROSS JOIN cent$KmIters c),
       |own AS (SELECT vec_id, cid, sqdist AS a2 FROM rk WHERE rn = 1),
       |sec AS (SELECT vec_id, sqdist AS b2 FROM rk WHERE rn = 2),
       |sil AS (
       |  SELECT o.cid,
       |    CASE WHEN greatest(sqrt(o.a2), sqrt(s.b2)) = 0 THEN 0
       |      ELSE CAST(round((sqrt(s.b2) - sqrt(o.a2)) /
       |        greatest(sqrt(o.a2), sqrt(s.b2)) * 1000000) AS BIGINT)
       |      END AS sil
       |  FROM own o JOIN sec s USING (vec_id))
       |SELECT cid, CAST(count(*) AS BIGINT) AS n,
       |  ${ExactRound.sql.microMean6("sum(sil)", "count(*)")} AS mean_sil,
       |  CAST(sum(CASE WHEN sil < 100000 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_border
       |FROM sil GROUP BY cid ORDER BY cid""".stripMargin
  }

  // -- q180: n-gram novelty report — the memorization/generalization
  //          proxy measured before trusting a val split (the n-gram
  //          overlap methodology of the dedup literature, Lee et al.
  //          2022): for n ∈ {2,4,8}, what fraction of each source's
  //          val-split n-grams (per-doc distinct instances, and
  //          source-distinct types) already occur anywhere in the
  //          train split? High seen-rates at large n mean the val set
  //          rehearses training text (leakage q132 would catch only at
  //          document grain); low rates at n=2 flag out-of-domain val
  //          docs. Scale shape: per n, one inverted-index LEFT join
  //          keyed on the 64-bit shingle hash (q115's machinery) —
  //          instance-linear, never doc×doc; the distinct train set is
  //          n-gram-vocabulary-bounded. Counts are exact integers;
  //          rates are ExactRound ratios.
  private def q180(s: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.{Decontaminate => DC, Sampling}
    import graft.text.{TextFunctions => TF}
    val base = docs(s, dir).select(col("doc_id"), col("source"),
      col("text"), Sampling.splitColumn(col("doc_id"), CsWeights).as("split"))
    def grams(df: DataFrame, n: Int) = df.select(col("source"),
      explode(array_distinct(transform(
        DC.wordShingles(TF.tokens(col("text")), n),
        g => TF.md5Long(g)))).as("g_id"))
    val frames = Seq(2, 4, 8).map { n =>
      val tset = grams(base.filter(col("split") === "train"), n)
        .select(col("g_id")).distinct()
        .withColumn("seen", lit(true))
      grams(base.filter(col("split") === "val"), n)
        .join(tset, Seq("g_id"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_vgrams"),
          sum(when(col("seen"), 1L).otherwise(0L)).as("n_seen"),
          countDistinct(col("g_id")).as("n_distinct"),
          countDistinct(when(col("seen"), col("g_id")))
            .as("n_distinct_seen"))
        .select(col("source"), lit(n.toLong).as("n"), col("n_vgrams"),
          col("n_seen"),
          ExactRound.ratio6(col("n_seen"), col("n_vgrams")).as("seen_rate"),
          col("n_distinct"), col("n_distinct_seen"),
          ExactRound.ratio6(col("n_distinct_seen"), col("n_distinct"))
            .as("distinct_seen_rate"))
    }
    frames.reduce(_ unionByName _).orderBy(col("source"), col("n"))
  }

  private val q180Sql = {
    import graft.pipeline.Sampling
    val h = Sampling.sql.hashBucket("doc_id", 10)
    val ER = ExactRound.sql
    def leg(n: Int) = {
      val sh = graft.pipeline.Decontaminate.sql
        .shingleHashes("string_split(text, ' ')", n)
      s"""tg$n AS (
         |  SELECT DISTINCT g_id FROM (
         |    SELECT unnest($sh) AS g_id FROM nv WHERE split = 'train') t),
         |vg$n AS (
         |  SELECT source, g_id FROM (
         |    SELECT source, unnest($sh) AS g_id FROM nv
         |    WHERE split = 'val') t),
         |r$n AS (
         |  SELECT v.source, CAST($n AS BIGINT) AS n,
         |    CAST(count(*) AS BIGINT) AS n_vgrams,
         |    CAST(sum(CASE WHEN t.g_id IS NOT NULL THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_seen,
         |    ${ER.ratio6(
              "sum(CASE WHEN t.g_id IS NOT NULL THEN 1 ELSE 0 END)",
              "count(*)")} AS seen_rate,
         |    CAST(count(DISTINCT v.g_id) AS BIGINT) AS n_distinct,
         |    CAST(count(DISTINCT CASE WHEN t.g_id IS NOT NULL
         |      THEN v.g_id END) AS BIGINT) AS n_distinct_seen,
         |    ${ER.ratio6(
              "count(DISTINCT CASE WHEN t.g_id IS NOT NULL THEN v.g_id END)",
              "count(DISTINCT v.g_id)")} AS distinct_seen_rate
         |  FROM vg$n v LEFT JOIN tg$n t USING (g_id)
         |  GROUP BY v.source)""".stripMargin
    }
    s"""WITH nv AS (
       |  SELECT doc_id, source, text,
       |    CASE WHEN $h < 8 THEN 'train' WHEN $h < 9 THEN 'val'
       |      ELSE 'test' END AS split
       |  FROM documents),
       |${leg(2)},
       |${leg(4)},
       |${leg(8)}
       |SELECT * FROM r2
       |UNION ALL SELECT * FROM r4
       |UNION ALL SELECT * FROM r8
       |ORDER BY source, n""".stripMargin
  }

  // -- q181: retrieval-quality evaluation — MRR and nDCG@10 for the
  //          exact-cosine retriever against source-match relevance
  //          (the q148/q157 probe protocol turned into the standard IR
  //          metrics a pipeline reports before trusting retrieval-
  //          based curation like q146/q151/q160). Relevance: a result
  //          is relevant iff it shares the probe's source (self
  //          excluded); ideal DCG truncates at min(#relevant, 10).
  //          Determinism: the rank-discount weights round(1e6/log2(i+1))
  //          are micro-quantized per rank (i ≤ 10 — a bounded grid, so
  //          the one libm log2 is absorbed by the round), DCG/IDCG are
  //          integer sums over them, and MRR/nDCG are ExactRound
  //          integer ratios. Scale shape: probe-bounded broadcast
  //          (16 rows) onto one linear scan, per-probe TakeOrdered-
  //          style rank, source-bounded rollup.
  private val RqK = 10

  private def q181(s: SparkSession, dir: String): DataFrame = {
    val src = docs(s, dir).select(col("doc_id"), col("source"))
    val e = emb(s, dir).join(src, col("vec_id") === col("doc_id"))
      .select(col("vec_id"), col("embedding"), col("source"))
    val probes = broadcast(e.filter(col("vec_id") < HnProbes)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"),
        col("source").as("q_source")))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("vec_id"))
    val wRank = round(lit(1e6) / log2(col("rnk") + lit(1.0)), 0).cast("long")
    val topk = e.crossJoin(probes)
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("sim",
        VectorFunctions.cosine(col("embedding"), col("q_vec")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= RqK)
      .select(col("q_id"), col("q_source"),
        col("rnk").cast("long").as("rnk"),
        when(col("source") === col("q_source"), 1L).otherwise(0L).as("rel"))
    val nsrc = e.groupBy(col("source")).agg(count(lit(1)).as("n_src"))
    topk
      .groupBy(col("q_id"), col("q_source"))
      .agg(sum(col("rel") * wRank).as("dcg_micro"),
        min(when(col("rel") === 1L, col("rnk"))).as("minrel"))
      .join(nsrc.select(col("source").as("q_source"), col("n_src")),
        Seq("q_source"))
      .withColumn("idcg_micro",
        when(col("n_src") <= 1L, lit(0L)).otherwise(expr(
          s"aggregate(sequence(1, int(least(n_src - 1, $RqK))), 0L, " +
            "(acc, i) -> acc + cast(round(1e6 / log2(i + 1)) as long))")))
      .select(col("q_id"), col("q_source"),
        when(col("minrel").isNull, 0L)
          .otherwise(ExactRound.micro6(lit(1L), col("minrel")))
          .as("mrr_micro"),
        when(col("idcg_micro") === 0L, 0L)
          .otherwise(ExactRound.micro6(col("dcg_micro"), col("idcg_micro")))
          .as("ndcg_micro"))
      .groupBy(col("q_source"))
      .agg(count(lit(1)).as("n_probes"),
        sum(col("mrr_micro")).as("mrs"), sum(col("ndcg_micro")).as("nds"),
        sum(when(col("mrr_micro") === 0L, 1L).otherwise(0L)).as("n_miss"))
      .select(col("q_source"), col("n_probes"),
        ExactRound.microMean6(col("mrs"), col("n_probes")).as("mean_mrr"),
        ExactRound.microMean6(col("nds"), col("n_probes")).as("mean_ndcg"),
        col("n_miss"))
      .orderBy(col("q_source"))
  }

  private val q181Sql = {
    val cos = VectorFunctions.sql.cosine("c.embedding", "q.embedding")
    val ER = ExactRound.sql
    val wRank = "CAST(round(1e6 / log2(t.rnk + 1)) AS BIGINT)"
    s"""WITH e AS (
       |  SELECT e.vec_id, e.embedding, d.source
       |  FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id),
       |sims AS (
       |  SELECT q.vec_id AS q_id, q.source AS q_source,
       |    c.vec_id AS vec_id, c.source AS source, $cos AS sim
       |  FROM e q JOIN e c
       |    ON q.vec_id < $HnProbes AND c.vec_id <> q.vec_id),
       |ranked AS (
       |  SELECT q_id, q_source, source,
       |    CAST(row_number() OVER (PARTITION BY q_id
       |      ORDER BY sim DESC, vec_id) AS BIGINT) AS rnk
       |  FROM sims),
       |topk AS (
       |  SELECT q_id, q_source, rnk,
       |    CASE WHEN source = q_source THEN 1 ELSE 0 END AS rel
       |  FROM ranked WHERE rnk <= $RqK),
       |nsrc AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_src
       |  FROM e GROUP BY 1),
       |pp AS (
       |  SELECT t.q_id, t.q_source,
       |    CAST(sum(t.rel * $wRank) AS BIGINT) AS dcg_micro,
       |    min(CASE WHEN t.rel = 1 THEN t.rnk END) AS minrel
       |  FROM topk t GROUP BY 1, 2),
       |pi AS (
       |  SELECT p.q_id, p.q_source, p.dcg_micro, p.minrel,
       |    COALESCE(CAST(list_sum(list_transform(
       |      range(1, CAST(least(s.n_src - 1, $RqK) AS BIGINT) + 1),
       |      i -> CAST(round(1e6 / log2(i + 1)) AS BIGINT))) AS BIGINT), 0)
       |      AS idcg_micro
       |  FROM pp p JOIN nsrc s ON p.q_source = s.source),
       |pm AS (
       |  SELECT q_id, q_source,
       |    CASE WHEN minrel IS NULL THEN 0
       |      ELSE ${ER.micro6("1", "minrel")} END AS mrr_micro,
       |    CASE WHEN idcg_micro = 0 THEN 0
       |      ELSE ${ER.micro6("dcg_micro", "idcg_micro")} END AS ndcg_micro
       |  FROM pi)
       |SELECT q_source, CAST(count(*) AS BIGINT) AS n_probes,
       |  ${ER.microMean6("sum(mrr_micro)", "count(*)")} AS mean_mrr,
       |  ${ER.microMean6("sum(ndcg_micro)", "count(*)")} AS mean_ndcg,
       |  CAST(sum(CASE WHEN mrr_micro = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_miss
       |FROM pm GROUP BY 1 ORDER BY q_source""".stripMargin
  }

  // -- q182: corpus drift monitor (PSI) — the population-stability
  //          index every production data pipeline alarms on: the
  //          newest 20% of doc_ids (the q142 cutoff convention: the
  //          "latest ingest") is compared to the existing 80% over two
  //          distributions — document-length buckets (fixed 100-char
  //          grid, capped at 10) and source mix. PSI = Σ (pₙ−pₒ)·
  //          ln(pₙ/pₒ) with add-one smoothing over the observed
  //          buckets; > 0.2 is the standard "significant shift" alarm.
  //          Complements q155 (JSD between SPLITS) with the
  //          time-axis monitoring form. Determinism: smoothed shares
  //          are exact micro-ints (ExactRound.micro6), each bucket
  //          term quantizes its one ln() immediately, PSI is an
  //          integer sum — and every frame after the per-bucket
  //          aggregate is BUCKET-bounded (≤10 / ≤#sources rows).
  private def q182(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val cut = d.agg(max(col("doc_id")).as("max_id"))
      .select(expr("(max_id + 1) * 4 div 5").as("cutoff"))
    val dd = d.crossJoin(broadcast(cut))
      .select(col("source"), col("n_chars"),
        (col("doc_id") >= col("cutoff")).as("is_new"))
    val allW = Window.orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    def leg(name: String, bucket: Column) =
      dd.groupBy(bucket.cast("string").as("b"))
        .agg(sum(when(col("is_new"), 0L).otherwise(1L)).as("co"),
          sum(when(col("is_new"), 1L).otherwise(0L)).as("cn"))
        .withColumn("to", sum(col("co")).over(allW))
        .withColumn("tn", sum(col("cn")).over(allW))
        .withColumn("nb", count(lit(1)).over(allW))
        .select(
          ExactRound.micro6(col("co") + 1L, col("to") + col("nb"))
            .as("po_m"),
          ExactRound.micro6(col("cn") + 1L, col("tn") + col("nb"))
            .as("pn_m"),
          col("nb"))
        .select(col("nb"),
          round((col("pn_m") - col("po_m")) *
            log(col("pn_m") / col("po_m")), 0).cast("long").as("term"))
        .agg(first(col("nb")).as("n_buckets"), sum(col("term")).as("psi_m"))
        .select(lit(name).as("feature"), col("n_buckets"),
          (col("psi_m") / lit(1e6)).as("psi"),
          (col("psi_m") > 200000L).as("drifted"))
    leg("len_bucket", least(floor(col("n_chars") / 100), lit(9)))
      .unionByName(leg("source", col("source")))
      .orderBy(col("feature"))
  }

  private val q182Sql = {
    val ER = ExactRound.sql
    def leg(name: String, bucket: String) =
      s"""SELECT '$name' AS feature, n_buckets, psi_m / 1e6 AS psi,
         |  psi_m > 200000 AS drifted FROM (
         |  SELECT CAST(any_value(nb) AS BIGINT) AS n_buckets,
         |    CAST(sum(term) AS BIGINT) AS psi_m FROM (
         |    SELECT nb,
         |      CAST(round((pn_m - po_m) * ln(pn_m * 1.0 / po_m))
         |        AS BIGINT) AS term
         |    FROM (
         |      SELECT ${ER.micro6("co + 1", "xo + nb")} AS po_m,
         |        ${ER.micro6("cn + 1", "xn + nb")} AS pn_m, nb
         |      FROM (
         |        SELECT b,
         |          CAST(sum(co) AS BIGINT) AS co,
         |          CAST(sum(cn) AS BIGINT) AS cn,
         |          CAST(sum(sum(co)) OVER () AS BIGINT) AS xo,
         |          CAST(sum(sum(cn)) OVER () AS BIGINT) AS xn,
         |          CAST(count(*) OVER () AS BIGINT) AS nb
         |        FROM (
         |          SELECT CAST($bucket AS VARCHAR) AS b,
         |            CASE WHEN is_new THEN 0 ELSE 1 END AS co,
         |            CASE WHEN is_new THEN 1 ELSE 0 END AS cn
         |          FROM dd) src
         |        GROUP BY b) g) p) t) a""".stripMargin
    s"""WITH cut AS (
       |  SELECT (max(doc_id) + 1) * 4 // 5 AS cutoff FROM documents),
       |dd AS (
       |  SELECT source, n_chars, doc_id >= cutoff AS is_new
       |  FROM documents, cut)
       |SELECT * FROM (
       |${leg("len_bucket", "least(floor(n_chars / 100), 9)")}
       |UNION ALL
       |${leg("source", "source")})
       |ORDER BY feature""".stripMargin
  }

  // -- q184: classifier calibration — the reliability diagram + ECE +
  //          Brier score that complete the q175 evaluation (AUC ranks;
  //          calibration says whether the 0.5-and-above scores a
  //          threshold gate consumes MEAN anything): scores bucketed
  //          into 10 confidence bins, each bin reporting mean
  //          confidence vs empirical positive rate and their gap;
  //          ECE = Σ nᵦ·gapᵦ/N and the Brier mean-squared error are
  //          repeated as corpus-level columns. Determinism: everything
  //          is integer arithmetic over micro-unit scores (per-row
  //          Brier residuals are rounded to milli units BEFORE
  //          squaring so the squared sum stays in micro units and
  //          long-range through ~9e12 docs); windows run over the
  //          10-row bin frame only.
  private def q184(s: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.QualityClassifier
    val d = docs(s, dir)
    val feats = QualityClassifier.features(
      d, col("source") === DsirTarget, QcBuckets)
    val (w, bias) = QualityClassifier.train(feats, QcBuckets, QcIters, QcLr)
    val allW = Window.orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    QualityClassifier.scores(feats, w, bias)
      .join(d.select(col("doc_id"),
        when(col("source") === DsirTarget, 1L).otherwise(0L).as("y")),
        Seq("doc_id"))
      .withColumn("ad", abs(col("score_micro") - col("y") * lit(1000000L)))
      .withColumn("dm", ExactRound.meanMicro(col("ad"), lit(1000L)))
      .withColumn("bin", expr("least(score_micro div 100000, 9)"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("np"),
        sum(col("score_micro")).as("ss"),
        sum(col("dm") * col("dm")).as("sq"))
      .withColumn("mean_conf_m", ExactRound.meanMicro(col("ss"), col("n")))
      .withColumn("frac_pos_m", ExactRound.micro6(col("np"), col("n")))
      .withColumn("gap_m", abs(col("mean_conf_m") - col("frac_pos_m")))
      .withColumn("ntot", sum(col("n")).over(allW))
      .withColumn("ece_m", ExactRound.meanMicro(
        sum(col("n") * col("gap_m")).over(allW), col("ntot")))
      .withColumn("brier_m", ExactRound.meanMicro(
        sum(col("sq")).over(allW), col("ntot")))
      .select(col("bin"), col("n"),
        (col("mean_conf_m") / lit(1e6)).as("mean_conf"),
        (col("frac_pos_m") / lit(1e6)).as("frac_pos"),
        (col("gap_m") / lit(1e6)).as("gap"),
        (col("ece_m") / lit(1e6)).as("ece"),
        (col("brier_m") / lit(1e6)).as("brier"))
      .orderBy(col("bin"))
  }

  private val q184Sql = {
    val ER = ExactRound.sql
    s"""WITH ${graft.pipeline.QualityClassifier.sql
        .trainCtes(DsirTarget, QcBuckets, QcIters, QcLr)},
       |cal AS (
       |  SELECT s.score_micro,
       |    CASE WHEN d.source = '$DsirTarget' THEN 1 ELSE 0 END AS y
       |  FROM qscore s JOIN documents d USING (doc_id)),
       |cd AS (
       |  SELECT score_micro, y,
       |    abs(score_micro - y * 1000000) AS ad FROM cal),
       |ce AS (
       |  SELECT score_micro, y, ${ER.meanMicro("ad", "1000")} AS dm
       |  FROM cd),
       |cb AS (
       |  SELECT least(score_micro // 100000, 9) AS bin,
       |    CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(y) AS BIGINT) AS np,
       |    CAST(sum(score_micro) AS BIGINT) AS ss,
       |    CAST(sum(dm * dm) AS BIGINT) AS sq
       |  FROM ce GROUP BY 1),
       |cw AS (
       |  SELECT bin, n, np, ss, sq,
       |    ${ER.meanMicro("ss", "n")} AS mean_conf_m,
       |    ${ER.micro6("np", "n")} AS frac_pos_m,
       |    CAST(sum(n) OVER () AS BIGINT) AS ntot,
       |    CAST(sum(sq) OVER () AS BIGINT) AS sqtot
       |  FROM cb),
       |cg AS (SELECT *, abs(mean_conf_m - frac_pos_m) AS gap_m FROM cw),
       |cf AS (
       |  SELECT *, CAST(sum(n * gap_m) OVER () AS BIGINT) AS wg FROM cg)
       |SELECT bin, n,
       |  mean_conf_m / 1e6 AS mean_conf,
       |  frac_pos_m / 1e6 AS frac_pos,
       |  gap_m / 1e6 AS gap,
       |  ${ER.meanMicro("wg", "ntot")} / 1e6 AS ece,
       |  ${ER.meanMicro("sqtot", "ntot")} / 1e6 AS brier
       |FROM cf ORDER BY bin""".stripMargin
  }

  // -- q188: Good–Turing unseen-mass estimate — the "is more data from
  //          this source still teaching new words" statistic (Good
  //          1953; Gale & Sampson 1995 simple GT): the probability the
  //          NEXT token drawn from a source is a previously-unseen
  //          type is estimated by hapax-share V₁/N. Complements q163's
  //          Heaps fit (growth CURVE) with the missing-mass POINT
  //          estimate a mixing policy can threshold on, plus V₂ (the
  //          GT smoothing input) and the type–token ratio. One token
  //          aggregate + one source rollup — instance-linear, vocab-
  //          bounded; exact integer counts, ExactRound ratios.
  private def q188(s: SparkSession, dir: String): DataFrame = {
    import graft.text.{TextFunctions => TF}
    docs(s, dir)
      .select(col("source"), explode(TF.tokens(col("text"))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("f"))
      .groupBy(col("source"))
      .agg(sum(col("f")).as("n_tokens"), count(lit(1)).as("n_types"),
        sum(when(col("f") === 1L, 1L).otherwise(0L)).as("v1"),
        sum(when(col("f") === 2L, 1L).otherwise(0L)).as("v2"))
      .select(col("source"), col("n_tokens"), col("n_types"), col("v1"),
        col("v2"),
        ExactRound.ratio6(col("v1"), col("n_tokens")).as("unseen_mass"),
        ExactRound.ratio6(col("n_types"), col("n_tokens"))
          .as("type_token_ratio"))
      .orderBy(col("source"))
  }

  private val q188Sql = {
    val ER = ExactRound.sql
    s"""WITH gi AS (
       |  SELECT source, word AS w FROM (
       |    SELECT source, unnest(string_split(text, ' ')) AS word
       |    FROM documents) t
       |  WHERE length(word) > 0),
       |gf AS (
       |  SELECT source, w, CAST(count(*) AS BIGINT) AS f
       |  FROM gi GROUP BY 1, 2)
       |SELECT source,
       |  CAST(sum(f) AS BIGINT) AS n_tokens,
       |  CAST(count(*) AS BIGINT) AS n_types,
       |  CAST(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT) AS v1,
       |  CAST(sum(CASE WHEN f = 2 THEN 1 ELSE 0 END) AS BIGINT) AS v2,
       |  ${ER.ratio6("sum(CASE WHEN f = 1 THEN 1 ELSE 0 END)", "sum(f)")}
       |    AS unseen_mass,
       |  ${ER.ratio6("count(*)", "sum(f)")} AS type_token_ratio
       |FROM gf GROUP BY source ORDER BY source""".stripMargin
  }

  // -- q246: vocabulary-richness estimators — Chao1 (Chao 1984,
  //          bias-corrected form V + f1(f1−1)/(2(f2+1)), defined even
  //          at f2=0) and ACE (Chao & Lee 1992, rare cutoff 10) per
  //          source: the "how many word types does this source REALLY
  //          have" lower bounds that close the richness toolkit —
  //          q163 fits the growth CURVE, q188 the unseen MASS, these
  //          estimate the asymptote a crawl of this source would reach.
  //          Exactness: everything derives from the per-source
  //          frequency-of-frequencies (exact longs from one token
  //          census); each estimator is one double expression per
  //          source row, identical operand order on both engines; ACE
  //          degenerates (all rare types are hapax ⇒ coverage 0) to
  //          NULL on both. Scale shape: q188's instance-linear census,
  //          then everything is vocab- then source-bounded.
  private def q246(s: SparkSession, dir: String): DataFrame = {
    import graft.text.{TextFunctions => TF}
    val f = docs(s, dir)
      .select(col("source"), explode(TF.tokens(col("text"))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("f"))
    def dd(c: org.apache.spark.sql.Column) = c.cast("double")
    val agg = f.groupBy(col("source")).agg(
      count(lit(1)).as("n_types"),
      sum(when(col("f") === 1L, 1L).otherwise(0L)).as("f1"),
      sum(when(col("f") === 2L, 1L).otherwise(0L)).as("f2"),
      sum(when(col("f") <= 10L, 1L).otherwise(0L)).as("s_rare"),
      sum(when(col("f") > 10L, 1L).otherwise(0L)).as("s_abund"),
      sum(when(col("f") <= 10L, col("f")).otherwise(0L)).as("n_rare"),
      sum(when(col("f") <= 10L, col("f") * (col("f") - 1L)).otherwise(0L))
        .as("kk1"))
    agg.select(col("source"), col("n_types"), col("f1"), col("f2"),
      col("s_rare"), col("s_abund"), col("n_rare"),
      round(dd(col("n_types")) + dd(col("f1")) * (col("f1") - lit(1L)) /
        (lit(2.0) * (col("f2") + lit(1L))), 6).as("chao1"),
      when(col("n_rare") > 0L && col("n_rare") > col("f1"), {
        val cAce = lit(1.0) - dd(col("f1")) / col("n_rare")
        val g2 = greatest(
          (dd(col("s_rare")) / cAce) * dd(col("kk1")) /
            (dd(col("n_rare")) * (col("n_rare") - lit(1L))) - lit(1.0),
          lit(0.0))
        round(dd(col("s_abund")) + dd(col("s_rare")) / cAce +
          (dd(col("f1")) / cAce) * g2, 6)
      }).as("ace"))
      .orderBy(col("source"))
  }

  private val q246Sql =
    """WITH gi AS (
      |  SELECT source, word AS w FROM (
      |    SELECT source, unnest(string_split(text, ' ')) AS word
      |    FROM documents) t
      |  WHERE length(word) > 0),
      |gf AS (
      |  SELECT source, w, CAST(count(*) AS BIGINT) AS f
      |  FROM gi GROUP BY 1, 2),
      |a AS (
      |  SELECT source,
      |    CAST(count(*) AS BIGINT) AS n_types,
      |    CAST(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
      |    CAST(sum(CASE WHEN f = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2,
      |    CAST(sum(CASE WHEN f <= 10 THEN 1 ELSE 0 END) AS BIGINT) AS s_rare,
      |    CAST(sum(CASE WHEN f > 10 THEN 1 ELSE 0 END) AS BIGINT) AS s_abund,
      |    CAST(sum(CASE WHEN f <= 10 THEN f ELSE 0 END) AS BIGINT) AS n_rare,
      |    CAST(sum(CASE WHEN f <= 10 THEN f * (f - 1) ELSE 0 END)
      |      AS BIGINT) AS kk1
      |  FROM gf GROUP BY source)
      |SELECT source, n_types, f1, f2, s_rare, s_abund, n_rare,
      |  round(CAST(n_types AS DOUBLE) + CAST(f1 AS DOUBLE) * (f1 - 1) /
      |    (2.0 * (f2 + 1)), 6) AS chao1,
      |  CASE WHEN n_rare > 0 AND n_rare > f1 THEN
      |    round(CAST(s_abund AS DOUBLE) +
      |      CAST(s_rare AS DOUBLE) / (1.0 - CAST(f1 AS DOUBLE) / n_rare) +
      |      (CAST(f1 AS DOUBLE) / (1.0 - CAST(f1 AS DOUBLE) / n_rare)) *
      |      greatest((CAST(s_rare AS DOUBLE) /
      |          (1.0 - CAST(f1 AS DOUBLE) / n_rare)) *
      |        CAST(kk1 AS DOUBLE) /
      |          (CAST(n_rare AS DOUBLE) * (n_rare - 1)) - 1.0, 0.0)
      |    , 6) END AS ace
      |FROM a ORDER BY source""".stripMargin

  // -- q196: CCNet-style head/middle/tail bucketing (Wenzek et al.
  //          2020) — per-language perplexity terciles under the corpus
  //          bigram LM (q129's scoring): head = most fluent third,
  //          tail = most surprising. The standard pre-mixing quality
  //          banding for web corpora. Scale shape: q129's keyed count
  //          joins + ONE per-language window (ntile over (ce, doc_id) —
  //          a total order, so the cut is deterministic); at 100 TB the
  //          exact per-lang sort becomes approx-quantile cuts
  //          (percentile_approx on ce) — same bands, no global sort
  //          (see docs/TUNING.md).
  private def q196(s: SparkSession, dir: String): DataFrame = {
    import graft.text.{NgramLm, Repetition}
    val d = docs(s, dir)
    val toks = d.select(col("doc_id"), Repetition.tokens(col("text")).as("l"))
      .filter(size(col("l")) >= 2)
    val scored = NgramLm.score(toks)
      .join(d.select(col("doc_id"), col("lang")), "doc_id")
    val w = Window.partitionBy(col("lang")).orderBy(col("ce"), col("doc_id"))
    scored.withColumn("tercile", ntile(3).over(w))
      .select(col("doc_id"), col("lang"),
        round(col("ppl"), 6).as("perplexity"),
        when(col("tercile") === 1, "head")
          .when(col("tercile") === 2, "middle")
          .otherwise("tail").as("bucket"))
      .orderBy(col("doc_id"))
  }

  private val q196Sql =
    s"""WITH ${graft.text.NgramLm.sql.scoreCtes},
       |scored AS (
       |  SELECT l.doc_id, d.lang, l.ce
       |  FROM lmagg l JOIN documents d USING (doc_id)),
       |b AS (
       |  SELECT doc_id, lang, ce,
       |    ntile(3) OVER (PARTITION BY lang ORDER BY ce, doc_id) AS tercile
       |  FROM scored)
       |SELECT doc_id, lang, round(exp(ce), 6) AS perplexity,
       |  CASE tercile WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
       |    ELSE 'tail' END AS bucket
       |FROM b ORDER BY doc_id""".stripMargin

  // -- q198: truncated-dimension retrieval fidelity — the evaluation a
  //          pipeline runs before adopting Matryoshka-style dimension
  //          truncation (Kusupati et al. 2022) for its first-stage
  //          retriever: exact cosine top-10 on the full 64-dim
  //          embedding vs the FIRST-16-dims truncation, per-probe
  //          overlap@10. The q157 protocol with the IVF leg swapped for
  //          a prefix slice. Scale shape: both legs broadcast the
  //          16-probe frame onto one linear scan each; per-probe
  //          rankings are WindowGroupLimit; the comparison is one
  //          (q_id, vec_id) semi-join.
  private val MatProbes = 16
  private val MatK = 10
  private val MatDims = 16

  private def q198(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val probes = broadcast(e.filter(col("vec_id") < MatProbes)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec")))
    val wq = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("vec_id"))
    def topk(simCol: Column) =
      e.crossJoin(probes).withColumn("sim", simCol)
        .withColumn("rn", row_number().over(wq)).filter(col("rn") <= MatK)
        .select(col("q_id"), col("vec_id"))
    val full = topk(VectorFunctions.cosine(col("embedding"), col("q_vec")))
    val trunc = topk(VectorFunctions.cosine(
      slice(col("embedding"), 1, MatDims), slice(col("q_vec"), 1, MatDims)))
    full.join(trunc, Seq("q_id", "vec_id"), "left_semi")
      .groupBy(col("q_id")).agg(count(lit(1)).as("n_hit"))
      .select(col("q_id"), col("n_hit"),
        round(col("n_hit") / lit(MatK.toDouble), 6).as("overlap_at_10"))
      .orderBy(col("q_id"))
  }

  private val q198Sql = {
    val cosFull = VectorFunctions.sql.cosine("e.embedding", "p.q_vec")
    val cosTrunc = VectorFunctions.sql.cosine(
      s"e.embedding[1:$MatDims]", s"p.q_vec[1:$MatDims]")
    s"""WITH probes AS (
       |  SELECT vec_id AS q_id, embedding AS q_vec
       |  FROM embeddings WHERE vec_id < $MatProbes),
       |full_top AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT p.q_id, e.vec_id,
       |      row_number() OVER (PARTITION BY p.q_id
       |        ORDER BY $cosFull DESC, e.vec_id) AS rn
       |    FROM embeddings e CROSS JOIN probes p) x
       |  WHERE rn <= $MatK),
       |trunc_top AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT p.q_id, e.vec_id,
       |      row_number() OVER (PARTITION BY p.q_id
       |        ORDER BY $cosTrunc DESC, e.vec_id) AS rn
       |    FROM embeddings e CROSS JOIN probes p) x
       |  WHERE rn <= $MatK)
       |SELECT f.q_id, count(*) AS n_hit,
       |  round(count(*) / $MatK.0, 6) AS overlap_at_10
       |FROM full_top f
       |WHERE EXISTS (SELECT 1 FROM trunc_top t
       |  WHERE t.q_id = f.q_id AND t.vec_id = f.vec_id)
       |GROUP BY f.q_id
       |ORDER BY f.q_id""".stripMargin
  }

  // -- q204: feature-hash collision audit — the capacity check behind
  //          every hashed-feature consumer in the catalog (q145 DSIR,
  //          q173 classifier, q184 calibration): for each candidate
  //          bucket count, how many vocabulary types collide under the
  //          SAME portable md5 bucket hash those operators use. A type
  //          is "collided" when it shares its bucket with another type;
  //          rate = collided/types (exact integer rounding). Scale
  //          shape: ONE exploded scan builds the distinct-type frame
  //          (vocab-bounded); each audited width is a keyed aggregate
  //          over that frame, never over the corpus.
  private val HashAuditWidths = Seq(64, 256, 1024)

  private def q204(s: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.Sampling
    import graft.functions.ExactRound
    val types = docs(s, dir)
      .select(explode(graft.text.TextFunctions.tokens(col("text"))).as("token"))
      .distinct()
    HashAuditWidths.map { bcount =>
      val perBucket = types
        .select(Sampling.hashBucket(col("token"), bcount).as("b"))
        .groupBy(col("b")).agg(count(lit(1)).as("n_types_in_bucket"))
      perBucket.agg(
          sum(col("n_types_in_bucket")).as("n_types"),
          count(lit(1)).as("n_buckets_used"),
          max(col("n_types_in_bucket")).as("max_bucket_load"),
          sum(when(col("n_types_in_bucket") === 1, 1L).otherwise(0L))
            .as("singleton_buckets"))
        .select(lit(bcount).as("buckets"), col("n_types"),
          col("n_buckets_used"), col("max_bucket_load"),
          (col("n_types") - col("singleton_buckets")).as("collided_types"),
          ExactRound.ratio6(col("n_types") - col("singleton_buckets"),
            col("n_types")).as("collision_rate"))
    }.reduce(_ unionByName _).orderBy(col("buckets"))
  }

  private val q204Sql = {
    import graft.pipeline.Sampling
    val legs = HashAuditWidths.map { bcount =>
      s"""SELECT $bcount AS buckets,
         |  CAST(sum(n) AS BIGINT) AS n_types,
         |  count(*) AS n_buckets_used,
         |  CAST(max(n) AS BIGINT) AS max_bucket_load,
         |  CAST(sum(n) - sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS collided_types,
         |  ${graft.functions.ExactRound.sql.ratio6(
        "sum(n) - sum(CASE WHEN n = 1 THEN 1 ELSE 0 END)", "sum(n)")}
         |    AS collision_rate
         |FROM (
         |  SELECT ${Sampling.sql.hashBucket("token", bcount, "")} AS b,
         |    count(*) AS n
         |  FROM types GROUP BY 1) t$bcount""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH types AS (
       |  SELECT DISTINCT unnest(${graft.text.TextFunctions.sql.tokens("text")})
       |    AS token
       |  FROM documents)
       |$legs
       |ORDER BY buckets""".stripMargin
  }

  // -- q207: embedding outlier audit — per label cluster, the vectors
  //          farthest from their own centroid (top ~2%, min 1, by
  //          (distance desc, vec_id)) — the "inspect these before they
  //          poison retrieval" queue next to q41's value-space
  //          outliers. Rank-based (no moment arithmetic, no float-sum
  //          determinism contract beyond the q157 centroid machinery).
  //          Scale shape: k-row centroid broadcast onto one scan,
  //          per-label top windows (WindowGroupLimit).
  private def q207(s: SparkSession, dir: String): DataFrame = {
    import graft.semantic.VectorSearch
    val e = emb(s, dir)
    val cents = VectorSearch.centroids(e, "label")
    val counts = e.groupBy(col("label")).agg(count(lit(1)).as("n"))
    val wl = Window.partitionBy(col("label"))
      .orderBy(col("dist").desc, col("vec_id"))
    e.join(broadcast(cents), e("label") === cents("cell"))
      .withColumn("dist",
        VectorFunctions.l2Distance(col("embedding"), col("centroid")))
      .withColumn("rank", row_number().over(wl))
      .join(broadcast(counts), "label")
      .filter(col("rank") <= greatest(lit(1L), expr("n div 50")))
      .select(col("label"), col("rank"), col("vec_id"),
        round(col("dist"), 6).as("dist"))
      .orderBy(col("label"), col("rank"))
  }

  private val q207Sql = {
    val l2 = "sqrt(list_sum(list_transform(list_zip(%s, %s), " +
      "z -> (z[1]-z[2])*(z[1]-z[2]))))"
    s"""WITH el AS (
       |  SELECT vec_id, label, generate_subscripts(embedding, 1) AS pos,
       |         unnest(embedding::DOUBLE[]) AS x
       |  FROM embeddings),
       |centl AS (
       |  SELECT label AS cell, list(cx ORDER BY pos) AS centroid FROM (
       |    SELECT label, pos, avg(x) AS cx FROM el GROUP BY label, pos) c
       |  GROUP BY label),
       |counts AS (SELECT label, count(*) AS n FROM embeddings GROUP BY label),
       |d AS (
       |  SELECT e.label, e.vec_id,
       |    ${l2.format("e.embedding::DOUBLE[]", "c.centroid")} AS dist
       |  FROM embeddings e JOIN centl c ON c.cell = e.label),
       |ranked AS (
       |  SELECT label, vec_id, dist,
       |    row_number() OVER (PARTITION BY label
       |      ORDER BY dist DESC, vec_id) AS rank
       |  FROM d)
       |SELECT r.label, r.rank, r.vec_id, round(r.dist, 6) AS dist
       |FROM ranked r JOIN counts n USING (label)
       |WHERE r.rank <= greatest(1, n.n // 50)
       |ORDER BY r.label, r.rank""".stripMargin
  }

  // -- q212: per-source semantic dispersion — how tight each source's
  //          embedding cloud is around its own centroid (mean + max
  //          distance): the source-grain companion to q207's per-label
  //          outliers and q137's cross-source centroid map; diffuse
  //          sources are candidates for sub-clustering before mixture
  //          weighting. Determinism: each distance quantizes to micro
  //          units per ROW (identical doubles both engines), the mean
  //          is an exact integer fold (ExactRound.microMean6); max is
  //          order-free. Scale shape: source-bounded centroid
  //          broadcast onto one scan, one keyed rollup.
  private def q212(s: SparkSession, dir: String): DataFrame = {
    import graft.semantic.VectorSearch
    import graft.functions.ExactRound
    val e = emb(s, dir).join(
      docs(s, dir).select(col("doc_id"), col("source")),
      col("vec_id") === col("doc_id"))
    val cents = VectorSearch.centroids(
      e.select(col("source").as("label"), col("embedding")), "label")
    e.join(broadcast(cents), col("source") === col("cell"))
      .withColumn("dist",
        VectorFunctions.l2Distance(col("embedding"), col("centroid")))
      .withColumn("dmicro", round(col("dist") * 1e6).cast("long"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("dmicro")).as("sd"),
        max(col("dist")).as("mx"))
      .select(col("source"), col("n_vecs"),
        ExactRound.microMean6(col("sd"), col("n_vecs")).as("mean_dist"),
        round(col("mx"), 6).as("max_dist"))
      .orderBy(col("source"))
  }

  private val q212Sql = {
    val l2 = "sqrt(list_sum(list_transform(list_zip(%s, %s), " +
      "z -> (z[1]-z[2])*(z[1]-z[2]))))"
    s"""WITH ed AS (
       |  SELECT e.vec_id, d.source, e.embedding
       |  FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id),
       |el AS (
       |  SELECT source, generate_subscripts(embedding, 1) AS pos,
       |         unnest(embedding::DOUBLE[]) AS x
       |  FROM ed),
       |centl AS (
       |  SELECT source, list(cx ORDER BY pos) AS centroid FROM (
       |    SELECT source, pos, avg(x) AS cx FROM el GROUP BY source, pos) c
       |  GROUP BY source),
       |dist AS (
       |  SELECT ed.source,
       |    ${l2.format("ed.embedding::DOUBLE[]", "c.centroid")} AS dist
       |  FROM ed JOIN centl c ON c.source = ed.source),
       |q AS (
       |  SELECT source, dist,
       |    CAST(round(dist * 1e6) AS BIGINT) AS dmicro
       |  FROM dist)
       |SELECT source, count(*) AS n_vecs,
       |  ${graft.functions.ExactRound.sql.microMean6("sum(dmicro)", "count(*)")}
       |    AS mean_dist,
       |  round(max(dist), 6) AS max_dist
       |FROM q GROUP BY source ORDER BY source""".stripMargin
  }

  // -- q260: leave-one-source-out LM influence — data valuation without
  //          retraining: because bigram counts form a group under
  //          subtraction, the model "trained without source S" is the
  //          global count tables minus S's per-source counts (exact
  //          integers), and every LOO model scores the SAME held-out
  //          val split in one pass. influence_S = ce_loo(S) − ce_full:
  //          positive means S's data was helping (removing it hurts) —
  //          the Shapley-lite attribution a mixture tuner reads next to
  //          q178's DoReMi weights. Exactness: per-bigram-type log
  //          probabilities are micro-quantized (the q163 ln pattern)
  //          and multiplied by exact type counts into integer sums, so
  //          the fold is shuffle-order-proof; LOO vocabulary sizes are
  //          exact source-exclusive word counts. Scale shape: count
  //          tables are vocab-bounded; the scoring join runs over
  //          val-bigram TYPES × #sources (vocab × 10, not corpus-
  //          sized); the sources frame is a bounded broadcast.
  private def q260(s: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.Sampling
    import graft.text.Repetition
    import graft.functions.ExactRound
    val base = docs(s, dir)
      .select(col("doc_id"), col("source"),
        Repetition.tokens(col("text")).as("l"),
        Sampling.splitColumn(col("doc_id"), CsWeights).as("split"))
      .filter(size(col("l")) >= 2)
    val train = base.filter(col("split") === "train")
    val inst = train
      .select(col("source"), explode(expr(
        """transform(sequence(1, size(l) - 1),
          |  i -> struct(element_at(l, i) as w1,
          |    element_at(l, i + 1) as w2))""".stripMargin)).as("bg"))
      .select(col("source"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val c12 = inst.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c12"))
    val c1 = inst.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val c12s = inst.groupBy(col("source"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("c12s"))
    val c1s = inst.groupBy(col("source"), col("w1"))
      .agg(count(lit(1)).as("c1s"))
    // vocabulary + per-source exclusive word counts (words whose train
    // occurrences all live in one source)
    val words = train.select(col("source"), explode(col("l")).as("w"))
    val wordSrc = words.groupBy(col("w"))
      .agg(countDistinct(col("source")).as("ns"),
        min(col("source")).as("only_src"))
    val vTotal = wordSrc.agg(count(lit(1)).as("v"))
    val excl = wordSrc.filter(col("ns") === 1)
      .groupBy(col("only_src").as("source"))
      .agg(count(lit(1)).as("n_excl"))
    val sources = base.select(col("source")).distinct()
      .join(excl, Seq("source"), "left")
      .select(col("source"), coalesce(col("n_excl"), lit(0L)).as("n_excl"))
    // held-out bigram TYPES with multiplicities
    val valTypes = base.filter(col("split") === "val")
      .select(explode(expr(
        """transform(sequence(1, size(l) - 1),
          |  i -> struct(element_at(l, i) as w1,
          |    element_at(l, i + 1) as w2))""".stripMargin)).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("m"))
    val scoredBase = valTypes
      .join(c12, Seq("w1", "w2"), "left")
      .join(c1, Seq("w1"), "left")
      .crossJoin(broadcast(vTotal))
      .select(col("w1"), col("w2"), col("m"),
        coalesce(col("c12"), lit(0L)).as("c12"),
        coalesce(col("c1"), lit(0L)).as("c1"), col("v"))
    val perSource = scoredBase
      .crossJoin(broadcast(sources))
      .join(c12s, Seq("source", "w1", "w2"), "left")
      .join(c1s, Seq("source", "w1"), "left")
      .select(col("source"), col("m"), col("v"), col("n_excl"),
        (col("c12") - coalesce(col("c12s"), lit(0L))).as("d12"),
        (col("c1") - coalesce(col("c1s"), lit(0L))).as("d1"))
      .select(col("source"), col("m"),
        round(log((col("d12") + lit(1.0)) /
          (col("d1") + col("v") - col("n_excl"))) * lit(1000000), 0)
          .cast("long").as("lpq"))
    val full = scoredBase
      .select(col("m"),
        round(log((col("c12") + lit(1.0)) / (col("c1") + col("v"))) *
          lit(1000000), 0).cast("long").as("lpq"))
      .agg(sum(col("m")).as("n"), sum(col("m") * col("lpq")).as("lsum"))
    perSource.groupBy(col("source"))
      .agg(sum(col("m") * col("lpq")).as("lsum_loo"))
      .crossJoin(broadcast(full))
      .select(col("source"), col("n").as("n_val_bigrams"),
        (ExactRound.microMean6(-col("lsum"), col("n"))).as("ce_full"),
        (ExactRound.microMean6(-col("lsum_loo"), col("n"))).as("ce_loo"),
        round(ExactRound.microMean6(-col("lsum_loo"), col("n")) -
          ExactRound.microMean6(-col("lsum"), col("n")), 6)
          .as("influence"))
      .orderBy(col("source"))
  }

  private lazy val q260Sql = {
    import graft.pipeline.Sampling
    import graft.functions.{ExactRound => ER}
    val h = Sampling.sql.hashBucket("doc_id", 10)
    s"""WITH toks AS (
       |  SELECT doc_id, source,
       |    list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS l,
       |    CASE WHEN $h < 8 THEN 'train' WHEN $h < 9 THEN 'val'
       |      ELSE 'test' END AS split
       |  FROM documents),
       |scoped AS (SELECT * FROM toks WHERE len(l) >= 2),
       |ti AS (
       |  SELECT source, l[i] AS w1, l[i+1] AS w2
       |  FROM scoped, unnest(range(1, len(l))) r(i)
       |  WHERE split = 'train'),
       |c12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
       |        FROM ti GROUP BY 1, 2),
       |c1 AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1
       |       FROM ti GROUP BY 1),
       |c12s AS (SELECT source, w1, w2, CAST(count(*) AS BIGINT) AS c12s
       |         FROM ti GROUP BY 1, 2, 3),
       |c1s AS (SELECT source, w1, CAST(count(*) AS BIGINT) AS c1s
       |        FROM ti GROUP BY 1, 2),
       |ws AS (
       |  SELECT w, count(DISTINCT source) AS ns, min(source) AS only_src
       |  FROM (SELECT source, unnest(l) AS w FROM scoped
       |        WHERE split = 'train') GROUP BY w),
       |vt AS (SELECT CAST(count(*) AS BIGINT) AS v FROM ws),
       |excl AS (SELECT only_src AS source, CAST(count(*) AS BIGINT)
       |           AS n_excl
       |         FROM ws WHERE ns = 1 GROUP BY 1),
       |srcs AS (
       |  SELECT s.source, coalesce(e.n_excl, 0) AS n_excl
       |  FROM (SELECT DISTINCT source FROM scoped) s
       |  LEFT JOIN excl e ON e.source = s.source),
       |vtypes AS (
       |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS m FROM (
       |    SELECT l[i] AS w1, l[i+1] AS w2
       |    FROM scoped, unnest(range(1, len(l))) r(i)
       |    WHERE split = 'val') GROUP BY 1, 2),
       |sb AS (
       |  SELECT t.w1, t.w2, t.m,
       |    coalesce(c12.c12, 0) AS c12, coalesce(c1.c1, 0) AS c1, vt.v
       |  FROM vtypes t
       |  LEFT JOIN c12 USING (w1, w2)
       |  LEFT JOIN c1 USING (w1)
       |  CROSS JOIN vt),
       |ps AS (
       |  SELECT s.source, sb.m,
       |    CAST(round(ln((sb.c12 - coalesce(c12s.c12s, 0) + 1.0) /
       |      (sb.c1 - coalesce(c1s.c1s, 0) + sb.v - s.n_excl)) * 1000000)
       |      AS BIGINT) AS lpq
       |  FROM sb CROSS JOIN srcs s
       |  LEFT JOIN c12s ON c12s.source = s.source
       |    AND c12s.w1 = sb.w1 AND c12s.w2 = sb.w2
       |  LEFT JOIN c1s ON c1s.source = s.source AND c1s.w1 = sb.w1),
       |fm AS (
       |  SELECT CAST(sum(m) AS BIGINT) AS n,
       |    CAST(sum(m * CAST(round(ln((c12 + 1.0) / (c1 + v)) * 1000000)
       |      AS BIGINT)) AS BIGINT) AS lsum
       |  FROM sb)
       |SELECT ps.source, f.n AS n_val_bigrams,
       |  ${ER.sql.microMean6("-f.lsum", "f.n")} AS ce_full,
       |  ${ER.sql.microMean6("-sum(ps.m * ps.lpq)", "f.n")} AS ce_loo,
       |  round(${ER.sql.microMean6("-sum(ps.m * ps.lpq)", "f.n")} -
       |    ${ER.sql.microMean6("-f.lsum", "f.n")}, 6) AS influence
       |FROM ps CROSS JOIN fm f
       |GROUP BY ps.source, f.n, f.lsum
       |ORDER BY ps.source""".stripMargin
  }

  // -- q279: ROC operating points — the q175 scalar AUC unrolled into
  //          the actual (FPR, TPR, precision) table at nine candidate
  //          thresholds, plus Youden's J (TPR − FPR): what a pipeline
  //          owner reads to PICK the filter threshold, not just to
  //          grade the model. Determinism: one conditional-aggregate
  //          pass over the (score_micro, y) frame — every TP/FP cell
  //          is an exact integer, rates are ExactRound ratios, and J
  //          is a difference of two already-rounded doubles.
  //          Scale shape: one scan → 1 wide row → 9-row explode.
  private val RocThresholds: Seq[Long] = (1 to 9).map(_ * 100000L)

  private def qcScored(s: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.QualityClassifier
    val d = docs(s, dir)
    val feats = QualityClassifier.features(
      d, col("source") === DsirTarget, QcBuckets)
    val (w, bias) = QualityClassifier.train(feats, QcBuckets, QcIters, QcLr)
    QualityClassifier.scores(feats, w, bias)
      .join(d.select(col("doc_id"),
        when(col("source") === DsirTarget, 1L).otherwise(0L).as("y")),
        Seq("doc_id"))
  }

  private def q279(s: SparkSession, dir: String): DataFrame = {
    val scored = qcScored(s, dir)
    val cells = RocThresholds.zipWithIndex.flatMap { case (t, i) =>
      Seq(sum(when(col("score_micro") >= t, col("y")).otherwise(0L))
          .as(s"tp_$i"),
        sum(when(col("score_micro") >= t, lit(1L) - col("y")).otherwise(0L))
          .as(s"fp_$i"))
    }
    val aggCols = Seq(sum(col("y")).as("np"),
      sum(lit(1L) - col("y")).as("nn")) ++ cells
    val wide = scored.agg(aggCols.head, aggCols.tail: _*)
    val rows = RocThresholds.zipWithIndex.map { case (t, i) =>
      struct(lit(t / 1e6).as("threshold"),
        col(s"tp_$i").as("tp"), col(s"fp_$i").as("fp"),
        ExactRound.ratio6(col(s"tp_$i"), col("np")).as("tpr"),
        ExactRound.ratio6(col(s"fp_$i"), col("nn")).as("fpr"),
        when(col(s"tp_$i") + col(s"fp_$i") > 0,
          ExactRound.ratio6(col(s"tp_$i"), col(s"tp_$i") + col(s"fp_$i")))
          .as("precision"))
    }
    wide.select(explode(array(rows: _*)).as("r"))
      .select(col("r.threshold"), col("r.tp"), col("r.fp"), col("r.tpr"),
        col("r.fpr"), round(col("r.tpr") - col("r.fpr"), 6).as("youden_j"),
        col("r.precision"))
      .orderBy(col("threshold"))
  }

  private val q279Sql = {
    val cells = RocThresholds.zipWithIndex.flatMap { case (t, i) => Seq(
      s"CAST(sum(CASE WHEN score_micro >= $t THEN y ELSE 0 END) AS BIGINT) AS tp_$i",
      s"CAST(sum(CASE WHEN score_micro >= $t THEN 1 - y ELSE 0 END) AS BIGINT) AS fp_$i")
    }.mkString(",\n    ")
    val rows = RocThresholds.zipWithIndex.map { case (t, i) =>
      val tpr = ExactRound.sql.ratio6(s"tp_$i", "np")
      val fpr = ExactRound.sql.ratio6(s"fp_$i", "nn")
      s"""SELECT ${t / 1e6} AS threshold, tp_$i AS tp, fp_$i AS fp,
         |  $tpr AS tpr, $fpr AS fpr,
         |  round($tpr - $fpr, 6) AS youden_j,
         |  CASE WHEN tp_$i + fp_$i > 0
         |    THEN ${ExactRound.sql.ratio6(s"tp_$i", s"tp_$i + fp_$i")}
         |    END AS precision
         |FROM wide""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH ${graft.pipeline.QualityClassifier.sql
        .trainCtes(DsirTarget, QcBuckets, QcIters, QcLr)},
       |qsl AS (
       |  SELECT s.score_micro, s.doc_id,
       |    CASE WHEN d.source = '$DsirTarget' THEN 1 ELSE 0 END AS y
       |  FROM qscore s JOIN documents d USING (doc_id)),
       |wide AS (
       |  SELECT CAST(sum(y) AS BIGINT) AS np,
       |    CAST(sum(1 - y) AS BIGINT) AS nn,
       |    $cells
       |  FROM qsl)
       |SELECT * FROM ($rows) ORDER BY threshold""".stripMargin
  }

  // -- q280: average precision (area under the precision–recall
  //          curve, the rank-based "AP" of retrieval evaluation) for
  //          the q173 classifier — the metric that matters when
  //          positives are rare and ROC-AUC flatters (Davis & Goadrich
  //          2006). AP = mean over positives of precision@rank, under
  //          the TOTAL order (score desc, doc_id) so both engines rank
  //          identically through score ties. Determinism: per-positive
  //          precision@k quantizes to micro units (mean-of-rounded,
  //          the documented q176-style contract), then one exact
  //          integer mean. Scale note: the final ranking is a global
  //          sort — fine for the doc-bounded eval frame this grades;
  //          at corpus scale grade with the histogram AUC (q175),
  //          which needs no total order.
  private def q280(s: SparkSession, dir: String): DataFrame = {
    val w = Window.orderBy(col("score_micro").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = qcScored(s, dir)
      .withColumn("k", count(lit(1)).over(w))
      .withColumn("cp", sum(col("y")).over(w))
    ranked.agg(
        sum(col("y")).as("np"), sum(lit(1L) - col("y")).as("nn"),
        sum(when(col("y") === 1L, ExactRound.micro6(col("cp"), col("k")))
          .otherwise(0L)).as("ap_micro_sum"))
      .select(col("np").as("n_pos"), col("nn").as("n_neg"),
        ExactRound.microMean6(col("ap_micro_sum"), col("np"))
          .as("average_precision"),
        ExactRound.ratio6(col("np"), col("np") + col("nn"))
          .as("random_baseline"))
  }

  private val q280Sql =
    s"""WITH ${graft.pipeline.QualityClassifier.sql
        .trainCtes(DsirTarget, QcBuckets, QcIters, QcLr)},
       |qsl AS (
       |  SELECT s.score_micro, s.doc_id,
       |    CASE WHEN d.source = '$DsirTarget' THEN 1 ELSE 0 END AS y
       |  FROM qscore s JOIN documents d USING (doc_id)),
       |ranked AS (
       |  SELECT y,
       |    CAST(count(*) OVER wo AS BIGINT) AS k,
       |    CAST(sum(y) OVER wo AS BIGINT) AS cp
       |  FROM qsl
       |  WINDOW wo AS (ORDER BY score_micro DESC, doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       |agg AS (
       |  SELECT CAST(sum(y) AS BIGINT) AS np,
       |    CAST(sum(1 - y) AS BIGINT) AS nn,
       |    CAST(sum(CASE WHEN y = 1
       |      THEN ${ExactRound.sql.micro6("cp", "k")} ELSE 0 END)
       |      AS BIGINT) AS ap_micro_sum
       |  FROM ranked)
       |SELECT np AS n_pos, nn AS n_neg,
       |  ${ExactRound.sql.microMean6("ap_micro_sum", "np")}
       |    AS average_precision,
       |  ${ExactRound.sql.ratio6("np", "np + nn")} AS random_baseline
       |FROM agg""".stripMargin

  // -- q305: Matthews correlation + F1 over the ROC threshold grid
  //          for the q173 classifier — the confusion-matrix summary
  //          pair a filtering pipeline tunes its cut on: MCC is the
  //          balanced ±1 correlation that stays honest under the
  //          class skew AP (q280) was built for, F1 the standard
  //          harmonic readout; q279's tpr/fpr don't determine either
  //          without the negatives split. Same one-pass wide
  //          aggregate as q279 (tn/fn derived: tn = nn − fp,
  //          fn = np − tp). Determinism: all 4 cells exact longs per
  //          threshold; MCC's numerator is integer-valued double
  //          arithmetic and its denominator one IEEE sqrt of a
  //          parenthesis-fixed product (double-exact to N ~ 9e3;
  //          above that the products pass 2^53 — acceptable for the
  //          eval-frame-bounded grade, like q280); F1/accuracy are
  //          ExactRound ratios. Scale: one scan → 1 wide row →
  //          9-row explode.
  private def q305(s: SparkSession, dir: String): DataFrame = {
    val scored = qcScored(s, dir)
    val cells = RocThresholds.zipWithIndex.flatMap { case (t, i) =>
      Seq(sum(when(col("score_micro") >= t, col("y")).otherwise(0L))
          .as(s"tp_$i"),
        sum(when(col("score_micro") >= t, lit(1L) - col("y")).otherwise(0L))
          .as(s"fp_$i"))
    }
    val aggCols = Seq(sum(col("y")).as("np"),
      sum(lit(1L) - col("y")).as("nn")) ++ cells
    val wide = scored.agg(aggCols.head, aggCols.tail: _*)
    val rows = RocThresholds.zipWithIndex.map { case (t, i) =>
      val (tp, fp) = (col(s"tp_$i"), col(s"fp_$i"))
      val tn = col("nn") - fp
      val fn = col("np") - tp
      struct(lit(t / 1e6).as("threshold"),
        tp.as("tp"), fp.as("fp"), tn.as("tn"), fn.as("fn"),
        when(lit(2L) * tp + fp + fn > 0,
          ExactRound.ratio6(lit(2L) * tp, lit(2L) * tp + fp + fn))
          .as("f1"),
        ExactRound.ratio6(tp + tn, col("np") + col("nn")).as("accuracy"),
        expr(s"round((CAST(tp_$i AS DOUBLE) * (nn - fp_$i) - " +
          s"CAST(fp_$i AS DOUBLE) * (np - tp_$i)) / " +
          s"nullif(sqrt(((tp_$i + fp_$i) * (CAST(np AS DOUBLE))) * " +
          s"(((nn - fp_$i) + fp_$i) * " +
          s"(CAST((nn - fp_$i) + (np - tp_$i) AS DOUBLE)))), 0), 6)")
          .as("mcc"))
    }
    wide.select(explode(array(rows: _*)).as("r"))
      .select(col("r.threshold"), col("r.tp"), col("r.fp"), col("r.tn"),
        col("r.fn"), col("r.f1"), col("r.accuracy"), col("r.mcc"))
      .orderBy(col("threshold"))
  }

  private val q305Sql = {
    val rows = RocThresholds.zipWithIndex.map { case (t, i) =>
      val f1 = ExactRound.sql.ratio6(s"2 * tp_$i",
        s"2 * tp_$i + fp_$i + (np - tp_$i)")
      val acc = ExactRound.sql.ratio6(s"tp_$i + (nn - fp_$i)", "np + nn")
      s"""SELECT ${t / 1e6} AS threshold, tp_$i AS tp, fp_$i AS fp,
         |  CAST(nn - fp_$i AS BIGINT) AS tn,
         |  CAST(np - tp_$i AS BIGINT) AS fn,
         |  CASE WHEN 2 * tp_$i + fp_$i + (np - tp_$i) > 0
         |    THEN $f1 END AS f1,
         |  $acc AS accuracy,
         |  round((CAST(tp_$i AS DOUBLE) * (nn - fp_$i) -
         |    CAST(fp_$i AS DOUBLE) * (np - tp_$i)) /
         |    nullif(sqrt(((tp_$i + fp_$i) * (CAST(np AS DOUBLE))) *
         |    (((nn - fp_$i) + fp_$i) *
         |    (CAST((nn - fp_$i) + (np - tp_$i) AS DOUBLE)))), 0), 6)
         |    AS mcc
         |FROM wide""".stripMargin
    }.mkString("\nUNION ALL\n")
    val cells = RocThresholds.zipWithIndex.flatMap { case (t, i) => Seq(
      s"CAST(sum(CASE WHEN score_micro >= $t THEN y ELSE 0 END) AS BIGINT) AS tp_$i",
      s"CAST(sum(CASE WHEN score_micro >= $t THEN 1 - y ELSE 0 END) AS BIGINT) AS fp_$i")
    }.mkString(",\n    ")
    s"""WITH ${graft.pipeline.QualityClassifier.sql
        .trainCtes(DsirTarget, QcBuckets, QcIters, QcLr)},
       |qsl AS (
       |  SELECT s.score_micro, s.doc_id,
       |    CASE WHEN d.source = '$DsirTarget' THEN 1 ELSE 0 END AS y
       |  FROM qscore s JOIN documents d USING (doc_id)),
       |wide AS (
       |  SELECT CAST(sum(y) AS BIGINT) AS np,
       |    CAST(sum(1 - y) AS BIGINT) AS nn,
       |    $cells
       |  FROM qsl)
       |SELECT * FROM ($rows) ORDER BY threshold""".stripMargin
  }

  // -- q287: Brier score decomposition (Murphy 1973) for the q173
  //          classifier — brier = reliability − resolution +
  //          uncertainty over 10 probability bins: the readout that
  //          says WHERE a bad Brier comes from (miscalibrated bins vs
  //          no discrimination), complementing q184's per-bin table
  //          with the three scalar components a model card reports.
  //          Determinism: per-bin stats are exact integer sums; the
  //          bin means are micro-quantized by integral division
  //          (non-negative operands, the q176-style mean-of-rounded
  //          contract), so the component numerators are integer
  //          arithmetic; final ratios are single-row double formulas,
  //          round6. Scale shape: one scan → 10-bin frame → 1-row
  //          totals cross → one row out.
  private def q287(s: SparkSession, dir: String): DataFrame = {
    val b = qcScored(s, dir).select(
      expr("least(score_micro div 100000, 9)").as("bin"),
      col("score_micro"), col("y"))
    val per = b.groupBy(col("bin")).agg(
      count(lit(1)).as("nb"),
      sum(col("score_micro")).as("sp"),
      sum(col("y")).as("sy"),
      sum((col("score_micro") - col("y") * lit(1000000L)) *
        (col("score_micro") - col("y") * lit(1000000L))).as("se"))
    val tot = per.agg(sum(col("nb")).as("n"), sum(col("sy")).as("sytot"),
      sum(col("se")).as("setot"))
    per.crossJoin(broadcast(tot))
      .select(col("nb"), col("n"), col("sytot"), col("setot"),
        expr("sp div nb").as("pmu"),
        expr("(sy * 1000000) div nb").as("ymu"),
        expr("(sytot * 1000000) div n").as("gmu"))
      .agg(max(col("n")).as("n"), max(col("sytot")).as("sy"),
        max(col("setot")).as("se"),
        sum(expr("nb * (pmu - ymu) * (pmu - ymu)")).as("rel"),
        sum(expr("nb * (ymu - gmu) * (ymu - gmu)")).as("res"))
      .select(col("n").as("n_docs"),
        expr("round(CAST(se AS DOUBLE) / (1e12 * n), 6)").as("brier"),
        expr("round(CAST(rel AS DOUBLE) / (1e12 * n), 6)")
          .as("reliability"),
        expr("round(CAST(res AS DOUBLE) / (1e12 * n), 6)")
          .as("resolution"),
        expr("round(CAST(sy AS DOUBLE) * (n - sy) / " +
          "(CAST(n AS DOUBLE) * n), 6)").as("uncertainty"))
  }

  private val q287Sql =
    s"""WITH ${graft.pipeline.QualityClassifier.sql
        .trainCtes(DsirTarget, QcBuckets, QcIters, QcLr)},
       |qsl AS (
       |  SELECT s.score_micro,
       |    CASE WHEN d.source = '$DsirTarget' THEN 1 ELSE 0 END AS y
       |  FROM qscore s JOIN documents d USING (doc_id)),
       |per AS (
       |  SELECT least(score_micro // 100000, 9) AS bin,
       |    CAST(count(*) AS BIGINT) AS nb,
       |    CAST(sum(score_micro) AS BIGINT) AS sp,
       |    CAST(sum(y) AS BIGINT) AS sy,
       |    CAST(sum((score_micro - y*1000000) * (score_micro - y*1000000))
       |      AS BIGINT) AS se
       |  FROM qsl GROUP BY 1),
       |tot AS (SELECT CAST(sum(nb) AS BIGINT) AS n,
       |    CAST(sum(sy) AS BIGINT) AS sytot,
       |    CAST(sum(se) AS BIGINT) AS setot FROM per),
       |terms AS (
       |  SELECT nb, n, sytot, setot,
       |    sp // nb AS pmu,
       |    (sy * 1000000) // nb AS ymu,
       |    (sytot * 1000000) // n AS gmu
       |  FROM per, tot),
       |agg AS (
       |  SELECT CAST(max(n) AS BIGINT) AS n,
       |    CAST(max(sytot) AS BIGINT) AS sy,
       |    CAST(max(setot) AS BIGINT) AS se,
       |    CAST(sum(nb * (pmu - ymu) * (pmu - ymu)) AS BIGINT) AS rel,
       |    CAST(sum(nb * (ymu - gmu) * (ymu - gmu)) AS BIGINT) AS res
       |  FROM terms)
       |SELECT n AS n_docs,
       |  round(CAST(se AS DOUBLE) / (1e12 * n), 6) AS brier,
       |  round(CAST(rel AS DOUBLE) / (1e12 * n), 6) AS reliability,
       |  round(CAST(res AS DOUBLE) / (1e12 * n), 6) AS resolution,
       |  round(CAST(sy AS DOUBLE) * (n - sy) /
       |    (CAST(n AS DOUBLE) * n), 6) AS uncertainty
       |FROM agg""".stripMargin

  // -- q288: nDCG@10 per source (Järvelin & Kekäläinen 2002) for the
  //          q173 classifier's within-source ranking — grades whether
  //          the score ORDERS each source's docs by graded relevance
  //          (rel = target-label + lexical-diversity bit ∈ {0,1,2}),
  //          the metric a curation pipeline reads when it keeps the
  //          top slice of every source rather than a global cut.
  //          Determinism: ranking under the total order (score desc,
  //          doc_id); each DCG term (2^rel − 1)·1e6 / log2(rank+1) is
  //          a pointwise double floored to micro units before the
  //          ≤10-term integer sum; ideal ranking orders by rel desc
  //          (ties share a term value, so the cut is value-stable).
  //          Scale shape: per-source windows — partitioned, never
  //          global; ≤10 scored rows per source survive the rank cut.
  private def q288(s: SparkSession, dir: String): DataFrame = {
    import graft.text.{TextFunctions => TF}
    val d = docs(s, dir)
    val scored = qcScored(s, dir)
      .join(d.select(col("doc_id"), col("source"),
        (TF.tokenDiversity(col("text")) > lit(0.5)).cast("long").as("dv")),
        Seq("doc_id"))
      .withColumn("rel", col("y") + col("dv"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("score_micro").desc, col("doc_id"))
    val wi = Window.partitionBy(col("source"))
      .orderBy(col("rel").desc, col("doc_id"))
    scored
      .withColumn("rnk", row_number().over(w))
      .withColumn("irnk", row_number().over(wi))
      .groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("rnk") <= 10, expr(
          "CAST(floor((pow(2, rel) - 1) * 1000000 / log2(rnk + 1)) AS BIGINT)"))
          .otherwise(0L)).as("dcg_micro"),
        sum(when(col("irnk") <= 10, expr(
          "CAST(floor((pow(2, rel) - 1) * 1000000 / log2(irnk + 1)) AS BIGINT)"))
          .otherwise(0L)).as("idcg_micro"))
      .select(col("source"), col("n_docs"), col("dcg_micro"),
        col("idcg_micro"),
        when(col("idcg_micro") > 0,
          ExactRound.ratio6(col("dcg_micro"), col("idcg_micro")))
          .as("ndcg"))
      .orderBy(col("source"))
  }

  private val q288Sql = {
    import graft.text.{TextFunctions => TF}
    s"""WITH ${graft.pipeline.QualityClassifier.sql
        .trainCtes(DsirTarget, QcBuckets, QcIters, QcLr)},
       |qsl AS (
       |  SELECT s.score_micro, s.doc_id, d.source,
       |    CASE WHEN d.source = '$DsirTarget' THEN 1 ELSE 0 END
       |      + CASE WHEN ${TF.sql.tokenDiversity("d.text")} > 0.5
       |        THEN 1 ELSE 0 END AS rel
       |  FROM qscore s JOIN documents d USING (doc_id)),
       |ranked AS (
       |  SELECT source, rel,
       |    row_number() OVER (PARTITION BY source
       |      ORDER BY score_micro DESC, doc_id) AS rnk,
       |    row_number() OVER (PARTITION BY source
       |      ORDER BY rel DESC, doc_id) AS irnk
       |  FROM qsl),
       |agg AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(CASE WHEN rnk <= 10 THEN
       |      CAST(floor((pow(2, rel) - 1) * 1000000 / log2(rnk + 1))
       |        AS BIGINT) ELSE 0 END) AS BIGINT) AS dcg_micro,
       |    CAST(sum(CASE WHEN irnk <= 10 THEN
       |      CAST(floor((pow(2, rel) - 1) * 1000000 / log2(irnk + 1))
       |        AS BIGINT) ELSE 0 END) AS BIGINT) AS idcg_micro
       |  FROM ranked GROUP BY 1)
       |SELECT source, n_docs, dcg_micro, idcg_micro,
       |  CASE WHEN idcg_micro > 0
       |    THEN ${ExactRound.sql.ratio6("dcg_micro", "idcg_micro")}
       |    END AS ndcg
       |FROM agg ORDER BY source""".stripMargin
  }

  // -- q340: dedup-threshold knee detection (Satopää et al. 2011
  //          "Kneedle", the max-distance-to-chord special case) on the
  //          pair-count-vs-threshold curve off DedupIndex's candidate
  //          frame — the auto-tuning step ABOVE q162's sweep: instead
  //          of eyeballing three thresholds, find where the curve
  //          stops paying (below the knee every loosening admits a
  //          flood of weak pairs). The curve's x-grid is the MinHash
  //          estimate lattice (est = m/K, m ∈ [K/2, K] — at most
  //          K/2+1 points by construction); y = pairs at est ≥ x,
  //          a descending cumulative over that grid. Both axes are
  //          micro-normalized in EXACT integer arithmetic and the
  //          knee is argmax of the chord distance |x_n + y_n − 1|
  //          (ties → smaller threshold). Scale shape: one group-by on
  //          the warmed candidate frame; everything after is
  //          grid-sized.
  private def q340(s: SparkSession, dir: String): DataFrame = {
    import graft.dedup.DedupIndex
    val W = Window.orderBy(col("m"))
    val grid = DedupIndex.candidatePairs(s, dir)
      .select(expr(s"CAST(round(est_jaccard * ${DedupIndex.K})" +
        " AS BIGINT)").as("m"))
      .groupBy(col("m")).agg(count(lit(1)).as("c"))
      .withColumn("y", sum(col("c")).over(
        W.rowsBetween(0, Window.unboundedFollowing)))
    val ext = grid.agg(min(col("m")).as("m0"), max(col("m")).as("m1"),
      min(col("y")).as("y0"), max(col("y")).as("y1"))
    val normed = grid.crossJoin(broadcast(ext))
      .withColumn("x_micro", graft.functions.ExactRound.micro6(
        col("m") - col("m0"), col("m1") - col("m0")))
      .withColumn("y_micro", graft.functions.ExactRound.micro6(
        col("y") - col("y0"), col("y1") - col("y0")))
      .withColumn("dist_micro",
        abs(col("x_micro") + col("y_micro") - 1000000L))
    val knee = normed.agg(max(struct(col("dist_micro").as("d"),
        (-col("m")).as("nm"))).as("k"))
      .select((-col("k").getField("nm")).as("knee_m"))
    normed.crossJoin(broadcast(knee))
      .select(
        graft.functions.ExactRound.ratio6(col("m"),
          lit(DedupIndex.K.toLong)).as("threshold"),
        col("c").as("n_pairs_at"), col("y").as("n_pairs_ge"),
        (col("x_micro") / lit(1e6)).as("x_norm"),
        (col("y_micro") / lit(1e6)).as("y_norm"),
        (col("dist_micro") / lit(1e6)).as("chord_dist"),
        (col("m") === col("knee_m")).as("is_knee"))
      .orderBy(col("threshold"))
  }

  private val q340Sql = {
    import graft.text.{TextFunctions => TF}
    s"""WITH sig AS (
       |  SELECT doc_id AS id, ${TF.sql.minhashSignature("text", 12)}
       |    AS sig
       |  FROM documents),
       |banded AS (
       |  SELECT id, sig,
       |    b::VARCHAR || '#' || array_to_string(sig[b*6+1:b*6+6], '#')
       |      AS bucket
       |  FROM sig, range(0, 2) t(b)),
       |cand AS (
       |  SELECT DISTINCT a.id AS a_id, b.id AS b_id
       |  FROM banded a JOIN banded b
       |    ON a.bucket = b.bucket AND a.id < b.id),
       |grid AS (
       |  SELECT m, CAST(count(*) AS BIGINT) AS c FROM (
       |    SELECT CAST(len(list_filter(list_zip(sa.sig, sb.sig),
       |        z -> z[1] = z[2])) AS BIGINT) AS m
       |    FROM cand c JOIN sig sa ON sa.id = c.a_id
       |    JOIN sig sb ON sb.id = c.b_id) p
       |  WHERE m >= 6 GROUP BY 1),
       |cum AS (
       |  SELECT m, c,
       |    CAST(sum(c) OVER (ORDER BY m ROWS BETWEEN CURRENT ROW AND
       |      UNBOUNDED FOLLOWING) AS BIGINT) AS y
       |  FROM grid),
       |ext AS (SELECT min(m) AS m0, max(m) AS m1, min(y) AS y0,
       |  max(y) AS y1 FROM cum),
       |normed AS (
       |  SELECT m, c, y,
       |    CAST(${graft.functions.ExactRound.sql.micro6("m - m0",
            "m1 - m0")} AS BIGINT) AS x_micro,
       |    CAST(${graft.functions.ExactRound.sql.micro6("y - y0",
            "y1 - y0")} AS BIGINT) AS y_micro
       |  FROM cum CROSS JOIN ext),
       |dist AS (
       |  SELECT *, abs(x_micro + y_micro - 1000000) AS dist_micro
       |  FROM normed),
       |knee AS (
       |  SELECT -(max(struct_pack(d := dist_micro, nm := -m)).nm)
       |    AS knee_m
       |  FROM dist)
       |SELECT ${graft.functions.ExactRound.sql.ratio6("m", "12")}
       |    AS threshold,
       |  c AS n_pairs_at, y AS n_pairs_ge,
       |  x_micro / 1e6 AS x_norm, y_micro / 1e6 AS y_norm,
       |  dist_micro / 1e6 AS chord_dist,
       |  m = knee_m AS is_knee
       |FROM dist CROSS JOIN knee
       |ORDER BY threshold""".stripMargin
  }

  // -- q345: greedy weighted set cover for source selection (the
  //          (1−1/e)-approx greedy of Nemhauser/Wolsey/Fisher 1978;
  //          "which 4 sources buy the most vocabulary?" — the
  //          acquisition-planning twin of q168's UniMax allocation):
  //          4 unrolled rounds, each picking the source covering the
  //          most still-uncovered tokens (ties → smallest source
  //          name), reporting marginal gain, cumulative coverage and
  //          the coverage fraction of the token universe.
  //          Determinism: pure integer token censuses; the pick is a
  //          two-phase max-gain + min-name. Scale shape per round:
  //          one anti-join of the (source, token) incidence against
  //          the covered set + one keyed count — the incidence is
  //          built once; rounds are unrolled (fixed K = 4), each
  //          materialized.
  private val CoverRounds = 4

  private def q345(s: SparkSession, dir: String): DataFrame = {
    import graft.text.{TextFunctions => TF}
    import graft.engine.Lineage.LineageOps
    // universe = word BIGRAMS: the unigram vocabulary of this corpus
    // is tiny (~31 types, one source covers it in one round); the
    // bigram universe is the realistic acquisition target
    val toks = docs(s, dir)
      .select(col("source"), TF.tokens(col("text")).as("l"))
      .filter(size(col("l")) >= 2)
    val st = toks.select(col("source"),
        explode(transform(sequence(lit(1), size(col("l")) - 1),
          i => concat(element_at(col("l"), i), lit(" "),
            element_at(col("l"), i + 1)))).as("tok"))
      .distinct().truncateLineage()
    val uni = st.select(col("tok")).distinct()
      .agg(count(lit(1)).as("u"))
    var covered: DataFrame = null
    var out: DataFrame = null
    for (r <- 1 to CoverRounds) {
      val uncovered =
        if (covered == null) st
        else st.join(covered, Seq("tok"), "left_anti")
      val gains = uncovered.groupBy(col("source"))
        .agg(count(lit(1)).as("gain"))
      val best = gains.agg(max(col("gain")).as("mg"))
      val pick = gains.crossJoin(broadcast(best))
        .filter(col("gain") === col("mg"))
        .agg(min(col("source")).as("src"), max(col("mg")).as("gain"))
        .truncateLineage()
      val pickSrc = pick.select(col("src"))
      covered = (if (covered == null)
          st.join(pickSrc, col("source") === col("src"))
            .select(col("tok"))
        else covered.unionByName(
          st.join(pickSrc, col("source") === col("src"))
            .select(col("tok")))).distinct().truncateLineage()
      val row = pick
        .crossJoin(broadcast(covered.agg(count(lit(1)).as("cum"))))
        .crossJoin(broadcast(uni))
        .select(lit(r).as("round"), col("src").as("source"),
          col("gain").as("new_tokens"), col("cum").as("cum_covered"),
          graft.functions.ExactRound.ratio6(col("cum"), col("u"))
            .as("coverage_frac"))
      out = if (out == null) row else out.unionByName(row)
    }
    out.orderBy(col("round"))
  }

  private val q345Sql = {
    import graft.text.{TextFunctions => TF}
    import graft.functions.{ExactRound => ER}
    def round(r: Int): String = {
      val unc = if (r == 1) "st"
      else s"(SELECT * FROM st WHERE tok NOT IN " +
        s"(SELECT tok FROM c_${r - 1}))"
      val prevCov = if (r == 1) ""
      else s"SELECT tok FROM c_${r - 1} UNION "
      s"""g_$r AS MATERIALIZED (
         |  SELECT source, CAST(count(*) AS BIGINT) AS gain
         |  FROM $unc u GROUP BY 1),
         |p_$r AS MATERIALIZED (
         |  SELECT min(source) AS src, max(gain) AS gain
         |  FROM g_$r WHERE gain = (SELECT max(gain) FROM g_$r)),
         |c_$r AS MATERIALIZED (
         |  SELECT DISTINCT tok FROM (
         |    ${prevCov}SELECT tok FROM st
         |    WHERE source = (SELECT src FROM p_$r)) u)""".stripMargin
    }
    val rounds = (1 to CoverRounds).map(round).mkString(",\n")
    val legs = (1 to CoverRounds).map { r =>
      s"""SELECT $r AS round, src AS source, gain AS new_tokens,
         |  (SELECT CAST(count(*) AS BIGINT) FROM c_$r)
         |    AS cum_covered,
         |  ${ER.sql.ratio6(s"(SELECT count(*) FROM c_$r)",
            "(SELECT u FROM uni)")} AS coverage_frac
         |FROM p_$r""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH toks AS (
       |  SELECT source, ${TF.sql.tokens("text")} AS l
       |  FROM documents),
       |st AS MATERIALIZED (
       |  SELECT DISTINCT source, l[i] || ' ' || l[i+1] AS tok
       |  FROM (SELECT * FROM toks WHERE len(l) >= 2) t,
       |    unnest(range(1, len(l))) r(i)),
       |uni AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS u
       |        FROM st),
       |$rounds
       |SELECT * FROM (
       |$legs) z
       |ORDER BY round""".stripMargin
  }

  val qs: Seq[Q] = Seq(
    Q("q145_dsir_importance", q145, Some(q145Sql), headline = true),
    Q("q146_bm25_topk", q146, Some(q146Sql)),
    Q("q147_pagerank", q147, Some(q147Sql), headline = true),
    Q("q148_hard_negatives", q148, Some(q148Sql)),
    Q("q149_kmeans_corpus_map", q149, Some(q149Sql)),
    Q("q150_corpus_datasheet", q150, Some(q150Sql)),
    Q("q151_rrf_fusion", q151, Some(q151Sql)),
    Q("q152_weighted_sample", q152, Some(q152Sql)),
    Q("q153_ivf_cell_balance", q153, Some(q153Sql)),
    Q("q154_bpe_merges", q154, Some(q154Sql)),
    Q("q155_split_drift", q155, Some(q155Sql)),
    Q("q156_cluster_safe_split", q156, Some(q156Sql), headline = true),
    Q("q157_ann_recall_eval", q157, Some(q157Sql)),
    Q("q158_source_divergence", q158, Some(q158Sql)),
    Q("q159_dominant_direction", q159, Some(q159Sql)),
    Q("q160_abtt_retrieval", q160, Some(q160Sql)),
    Q("q161_heldout_perplexity", q161, Some(q161Sql)),
    Q("q162_dedup_threshold_sweep", q162, Some(q162Sql), headline = true),
    Q("q340_kneedle_threshold", q340, Some(q340Sql)),
    Q("q345_set_cover_sources", q345, Some(q345Sql)),
    Q("q163_heaps_law", q163, Some(q163Sql)),
    Q("q164_zipf_fit", q164, Some(q164Sql)),
    Q("q165_bpe_encode", q165, Some(q165Sql)),
    Q("q167_semdedup", q167, Some(q167Sql), headline = true),
    Q("q168_unimax_alloc", q168, Some(q168Sql)),
    Q("q169_prototype_prune", q169, Some(q169Sql)),
    Q("q170_word_entropy", q170, Some(q170Sql)),
    Q("q172_incremental_semdedup", q172, Some(q172Sql), headline = true),
    Q("q173_quality_classifier", q173, Some(q173Sql), headline = true),
    Q("q174_curation_build_v2", q174, Some(q174Sql)),
    Q("q175_classifier_eval", q175, Some(q175Sql), headline = true),
    Q("q177_semantic_decontamination", q177, Some(q177Sql)),
    Q("q178_doremi_mixture", q178, Some(q178Sql)),
    Q("q179_silhouette", q179, Some(q179Sql)),
    Q("q180_ngram_novelty", q180, Some(q180Sql)),
    Q("q181_retrieval_quality", q181, Some(q181Sql)),
    Q("q182_drift_psi", q182, Some(q182Sql)),
    Q("q184_classifier_calibration", q184, Some(q184Sql)),
    Q("q188_good_turing", q188, Some(q188Sql)),
    Q("q196_ccnet_buckets", q196, Some(q196Sql)),
    Q("q198_matryoshka_fidelity", q198, Some(q198Sql)),
    Q("q204_hash_collision_audit", q204, Some(q204Sql)),
    Q("q207_embedding_outliers", q207, Some(q207Sql)),
    Q("q212_source_dispersion", q212, Some(q212Sql)),
    Q("q233_weighted_pagerank", q233, Some(q233Sql)),
    Q("q237_feature_correlation", q237, Some(q237Sql)),
    Q("q246_vocab_richness", q246, Some(q246Sql)),
    Q("q260_loo_influence", q260, Some(q260Sql)),
    Q("q279_roc_points", q279, Some(q279Sql)),
    Q("q280_average_precision", q280, Some(q280Sql)),
    Q("q305_mcc_f1_grid", q305, Some(q305Sql)),
    Q("q287_brier_decomposition", q287, Some(q287Sql)),
    Q("q288_ndcg_eval", q288, Some(q288Sql)))
}
