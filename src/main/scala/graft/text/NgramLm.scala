package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus-trained bigram language model scoring (builder mandate — no
  * reference counterpart): the CCNet-style "perplexity filter" used by
  * large-scale training pipelines, where each document is scored by how
  * surprising its word sequence is under a model of the whole corpus,
  * and the tail of the perplexity distribution is cut. Here the model
  * IS the corpus being scored (self-perplexity): add-one-smoothed
  * bigram probabilities from global prefix/bigram counts.
  *
  * Scale shape: two key-partitioned count aggregates (bigram, prefix),
  * two shuffle hash joins back onto the bigram instance stream, and one
  * per-document aggregate — every stage is keyed, nothing is collected,
  * and the only broadcast is the 1-row vocabulary frame. At 100 TB the
  * count tables are corpus-vocabulary-sized (quadratic in vocab, not in
  * corpus) so the joins stay hash joins on word keys.
  *
  * Determinism contract: per-document log-probabilities are summed in
  * POSITION order via a sorted-array left fold, not a floating-point
  * shuffle-order `sum`, so the engine and an oracle that sums in the
  * same order produce bit-identical doubles before rounding.
  */
object NgramLm {

  /** Bigram instances of token-array frame (doc_id, l) →
    * (doc_id, pos, w1, w2); pos is the 1-based bigram position. */
  def bigramInstances(toks: DataFrame): DataFrame =
    toks
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(1), size(col("l")) - 1),
          i => struct(element_at(col("l"), i).as("w1"),
            element_at(col("l"), i + 1).as("w2")))))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"),
        col("col.w1").as("w1"), col("col.w2").as("w2"))

  /** Per-document cross-entropy + perplexity under the corpus bigram
    * model: ce = -(1/n)·Σ ln((c(w1,w2)+1)/(c(w1·)+V)). Input is the
    * tokenized frame (doc_id, l) with at least 2 tokens per row;
    * output (doc_id, n_bigrams, ce, ppl) with ce/ppl unrounded. */
  def score(toks: DataFrame): DataFrame = {
    val inst = bigramInstances(toks)
    val bigramCounts = inst.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c12"))
    val prefixCounts = inst.groupBy(col("w1"))
      .agg(count(lit(1)).as("c1"))
    val vocab = toks.select(explode(col("l")).as("w"))
      .agg(countDistinct(col("w")).as("v"))
    val lp = inst
      .join(bigramCounts, Seq("w1", "w2"))
      .join(prefixCounts, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"), col("pos"),
        log((col("c12") + lit(1.0)) / (col("c1") + col("v"))).as("lp"))
    lp.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("pos"), col("lp"))))
        .as("lps"))
      .select(col("doc_id"),
        size(col("lps")).cast("long").as("n_bigrams"),
        (-aggregate(col("lps"), lit(0.0d), (acc, x) => acc + x("lp")) /
          size(col("lps"))).as("ce"))
      .withColumn("ppl", exp(col("ce")))
  }

  /** Interpolated Kneser–Ney bigram scoring (Kneser & Ney 1995; the
    * fixed-discount form of Chen & Goodman 1999): instead of add-one
    * mass, each seen bigram is discounted by D and the freed mass backs
    * off to the CONTINUATION unigram — how many distinct contexts a
    * word follows, not how often it occurs ("Francisco" is frequent but
    * only ever follows "San", so its continuation probability is tiny).
    * P(w2|w1) = (c12 − D)/c1 + (D/c1)·N1+(w1,·)·(N1+(·,w2)/N1+(··)).
    * Self-scoring like [[score]], so every bigram is seen and c12 ≥ 1 >
    * D — no zero clamp needed. Same position-ordered fold determinism
    * contract; same scale shape plus one vocab-bounded continuation
    * aggregate over the bigram TYPE frame (never the instance stream).
    */
  def scoreKneserNey(toks: DataFrame, discount: Double = 0.75): DataFrame = {
    val inst = bigramInstances(toks)
    val bigramCounts = inst.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c12"))
    val prefixCounts = inst.groupBy(col("w1"))
      .agg(count(lit(1)).as("c1"), countDistinct(col("w2")).as("n1p"))
    val contCounts = bigramCounts.groupBy(col("w2"))
      .agg(count(lit(1)).as("ncont"))
    val nbig = bigramCounts.agg(count(lit(1)).as("nbig"))
    val lp = inst
      .join(bigramCounts, Seq("w1", "w2"))
      .join(prefixCounts, Seq("w1"))
      .join(contCounts, Seq("w2"))
      .crossJoin(broadcast(nbig))
      .select(col("doc_id"), col("pos"),
        log((col("c12") - lit(discount)) / col("c1") +
          lit(discount) / col("c1") * col("n1p") *
            (col("ncont") / col("nbig"))).as("lp"))
    lp.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("pos"), col("lp"))))
        .as("lps"))
      .select(col("doc_id"),
        size(col("lps")).cast("long").as("n_bigrams"),
        (-aggregate(col("lps"), lit(0.0d), (acc, x) => acc + x("lp")) /
          size(col("lps"))).as("ce"))
      .withColumn("ppl", exp(col("ce")))
  }

  /** Held-out scoring: the bigram model (counts + vocabulary) comes
    * from `train` ONLY; `eval` documents are scored under it, with
    * unseen prefixes/bigrams handled by the same add-one smoothing
    * (coalesce to zero counts). Output adds `n_oov` — the number of
    * eval bigrams never seen in training. Same position-ordered fold
    * determinism contract as [[score]]. */
  def scoreAgainst(train: DataFrame, eval: DataFrame): DataFrame = {
    val trainInst = bigramInstances(train)
    val bigramCounts = trainInst.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c12"))
    val prefixCounts = trainInst.groupBy(col("w1"))
      .agg(count(lit(1)).as("c1"))
    val vocab = train.select(explode(col("l")).as("w"))
      .agg(countDistinct(col("w")).as("v"))
    val lp = bigramInstances(eval)
      .join(bigramCounts, Seq("w1", "w2"), "left")
      .join(prefixCounts, Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"), col("pos"),
        log((coalesce(col("c12"), lit(0L)) + lit(1.0)) /
          (coalesce(col("c1"), lit(0L)) + col("v"))).as("lp"),
        when(col("c12").isNull, 1L).otherwise(0L).as("oov"))
    lp.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("pos"), col("lp"))))
        .as("lps"),
        sum(col("oov")).as("n_oov"))
      .select(col("doc_id"),
        size(col("lps")).cast("long").as("n_bigrams"),
        col("n_oov"),
        (-aggregate(col("lps"), lit(0.0d), (acc, x) => acc + x("lp")) /
          size(col("lps"))).as("ce"))
      .withColumn("ppl", exp(col("ce")))
  }

  /** The same scoring as inline DuckDB SQL fragments (oracle side). */
  object sql {
    /** Tokenizing CTE prefix shared by the oracle: (doc_id, l) with
      * len(l) >= 2, from `documents`. */
    val toksCte: String =
      """toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS l
        |  FROM documents),
        |scoped AS (SELECT * FROM toks WHERE len(l) >= 2)""".stripMargin

    /** Full oracle CTE chain ending in
      * `lmagg(doc_id, n_bigrams, ce)` — the DuckDB twin of [[score]]
      * (sum(... ORDER BY pos) reproduces the position-ordered fold
      * bit-for-bit). */
    val scoreCtes: String =
      s"""$toksCte,
         |inst AS (
         |  SELECT doc_id, i AS pos, l[i] AS w1, l[i+1] AS w2
         |  FROM scoped, unnest(range(1, len(l))) r(i)),
         |c12 AS (SELECT w1, w2, count(*) AS c12 FROM inst GROUP BY 1, 2),
         |c1 AS (SELECT w1, count(*) AS c1 FROM inst GROUP BY 1),
         |v AS (
         |  SELECT count(DISTINCT w) AS v
         |  FROM (SELECT unnest(l) AS w FROM scoped)),
         |lp AS (
         |  SELECT doc_id, pos, ln((c12 + 1.0) / (c1 + v)) AS lp
         |  FROM inst JOIN c12 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v),
         |lmagg AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |    -sum(lp ORDER BY pos) / count(*) AS ce
         |  FROM lp GROUP BY 1)""".stripMargin

    /** DuckDB twin of [[scoreKneserNey]], ending in
      * `knagg(doc_id, n_bigrams, ce)`. The probability expression
      * mirrors the Spark column left-assoc term-for-term so both
      * engines materialize the identical double before ln. */
    def knCtes(discount: Double): String =
      s"""$toksCte,
         |inst AS (
         |  SELECT doc_id, i AS pos, l[i] AS w1, l[i+1] AS w2
         |  FROM scoped, unnest(range(1, len(l))) r(i)),
         |c12 AS (SELECT w1, w2, count(*) AS c12 FROM inst GROUP BY 1, 2),
         |pc AS (
         |  SELECT w1, count(*) AS c1, count(DISTINCT w2) AS n1p
         |  FROM inst GROUP BY 1),
         |cc AS (SELECT w2, count(*) AS ncont FROM c12 GROUP BY 1),
         |nb AS (SELECT count(*) AS nbig FROM c12),
         |lp AS (
         |  SELECT doc_id, pos,
         |    ln((c12 - $discount) / c1 +
         |       $discount / c1 * n1p * (ncont / nbig)) AS lp
         |  FROM inst JOIN c12 USING (w1, w2) JOIN pc USING (w1)
         |    JOIN cc USING (w2) CROSS JOIN nb),
         |knagg AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |    -sum(lp ORDER BY pos) / count(*) AS ce
         |  FROM lp GROUP BY 1)""".stripMargin
  }
}
