package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** BM25 keyword retrieval (builder mandate — no reference counterpart
  * beyond the word-overlap `textRelevance` of q87): the standard
  * Okapi BM25 ranking function (Robertson & Zaragoza 2009) over the
  * document corpus, the lexical leg every retrieval/dedup pipeline
  * pairs with the vector leg (q17).
  *
  * Scale shape: term frequencies come from ONE linear explode scan
  * filtered to the query's terms (the scan predicate is an `isin` over
  * a handful of literals, so it pushes into the scan); the per-term
  * document-frequency / idf table is QUERY-bounded (≤ #terms rows) and
  * broadcasts back onto the tf stream; corpus stats (N, avgdl) are one
  * 1-row aggregate. Nothing pairs documents with documents; the final
  * selection is a TakeOrdered top-k.
  *
  * Determinism contract: tf/df/dl are integers; avgdl is one exact
  * integer division (`sum(dl) * 1.0 / N`); each term's score is one
  * IEEE expression of those; per-document scores fold in TERM order
  * (sorted-array left fold = oracle `sum(... ORDER BY term)`), so both
  * engines produce bit-identical doubles before rounding.
  */
object Bm25 {

  val K1 = 1.2
  val B = 0.75

  /** Per-document BM25 scores for `terms`: (doc_id, n_hit, score),
    * score unrounded; documents matching no term are absent. */
  def score(docs: DataFrame, terms: Seq[String]): DataFrame = {
    val toks = docs.select(col("doc_id"),
      explode(TextFunctions.tokens(col("text"))).as("token"))
    val dl = docs.select(col("doc_id"),
      TextFunctions.tokenCount(col("text")).cast("long").as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      (sum(col("dl")) * lit(1.0) / count(lit(1))).as("avgdl"))
    val tf = toks.filter(col("token").isin(terms: _*))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val idf = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(stats))
      .select(col("token"),
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) /
          (col("df") + lit(0.5))).as("idf"))
    tf.join(broadcast(idf), Seq("token"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("token"),
        (col("idf") * col("tf") * lit(K1 + 1.0) /
          (col("tf") + lit(K1) * (lit(1.0 - B) +
            lit(B) * col("dl") / col("avgdl")))).as("s"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("token"), col("s"))))
        .as("ss"))
      .select(col("doc_id"),
        size(col("ss")).cast("long").as("n_hit"),
        aggregate(col("ss"), lit(0.0d), (acc, x) => acc + x("s"))
          .as("score"))
  }

  /** DuckDB oracle fragments. */
  object sql {
    /** CTE chain ending in `bmagg(doc_id, n_hit, score)` — the oracle
      * twin of [[score]] over `documents`. */
    def scoreCtes(terms: Seq[String]): String = {
      val termList = terms.map(t => s"'$t'").mkString("(", ", ", ")")
      s"""toks AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
         |  FROM documents),
         |dl AS (
         |  SELECT doc_id,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
         |  FROM documents),
         |stats AS (
         |  SELECT count(*) AS n_docs, sum(dl) * 1.0 / count(*) AS avgdl
         |  FROM dl),
         |tf AS (
         |  SELECT doc_id, token, count(*) AS tf FROM toks
         |  WHERE token IN $termList GROUP BY 1, 2),
         |idf AS (
         |  SELECT token,
         |    ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) AS idf
         |  FROM (SELECT token, count(*) AS df FROM tf GROUP BY 1)
         |  CROSS JOIN stats),
         |ts AS (
         |  SELECT tf.doc_id, tf.token,
         |    idf.idf * tf.tf * ${K1 + 1.0} /
         |      (tf.tf + $K1 * (${1.0 - B} + $B * dl.dl / avgdl)) AS s
         |  FROM tf JOIN idf USING (token) JOIN dl USING (doc_id)
         |  CROSS JOIN stats),
         |bmagg AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hit,
         |    sum(s ORDER BY token) AS score
         |  FROM ts GROUP BY 1)""".stripMargin
    }
  }
}
