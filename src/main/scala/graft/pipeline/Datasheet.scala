package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.text.TextFunctions

/** Incremental corpus-datasheet maintenance (the streaming twin of the
  * q150 data card): every per-source statistic in the datasheet is
  * decomposed into per-(content-key, source) PARTIALS that merge by
  * addition, so a micro-batch stream can append partials per trigger,
  * compact them by re-aggregation at any time, and render the exact
  * batch datasheet from state alone — the same
  * append-then-compact contract as the incremental dedup twin (q142).
  *
  * Exactness: token counts and doc counts are integers; per-doc quality
  * enters state as its exact micro-unit integer (`round(q·1e6)`), so
  * partial sums commute and the rendered mean equals q150's
  * micro-unit-exact mean bit-for-bit regardless of batch decomposition.
  * Duplicate exposure needs the GLOBAL key count, which no per-batch
  * row can know — it is re-derived at render time from one key-level
  * aggregate over state (state is key-bounded, not corpus-bounded).
  */
object Datasheet {

  /** Per-document features: (source, doc_id, n_tok, en, q_micro, key). */
  def perDoc(docs: DataFrame): DataFrame =
    docs.select(col("source"), col("doc_id"),
      TextFunctions.tokenCount(col("text")).cast("long").as("n_tok"),
      when(TextFunctions.langId(col("text")) === "en", 1L).otherwise(0L)
        .as("en"),
      round(TextFunctions.qualityScore(col("text"), col("n_chars")) *
        lit(1000000), 0).cast("long").as("q_micro"),
      md5(array_join(array_sort(TextFunctions.distinctTokens(col("text"))),
        " ")).as("key"))

  /** Additive per-(key, source) partials for one slice of the corpus. */
  def partials(docs: DataFrame): DataFrame =
    perDoc(docs).groupBy(col("key"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("tokens"),
        sum(col("en")).as("en_docs"),
        sum(col("q_micro")).as("q_micro_sum"))

  /** Compact appended partials (idempotent; same schema in and out). */
  def compact(state: DataFrame): DataFrame =
    state.groupBy(col("key"), col("source"))
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("tokens")).as("tokens"),
        sum(col("en_docs")).as("en_docs"),
        sum(col("q_micro_sum")).as("q_micro_sum"))

  /** Render the per-source datasheet from (possibly uncompacted) state —
    * identical columns and values to the q150 batch card. */
  def render(state: DataFrame): DataFrame = {
    val s = compact(state)
    val keyTotals = s.groupBy(col("key"))
      .agg(sum(col("n_docs")).as("key_docs"))
    s.join(keyTotals, Seq("key"))
      .groupBy(col("source"))
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("tokens")).as("tokens"),
        sum(when(col("key_docs") > 1, col("n_docs")).otherwise(0L))
          .as("dup_docs"),
        sum(col("en_docs")).as("en_docs"),
        sum(col("q_micro_sum")).as("q_micro"))
      .select(col("source"), col("n_docs"), col("tokens"),
        round(col("tokens") * lit(1.0) / col("n_docs"), 6).as("mean_tokens"),
        round(col("en_docs") * lit(1.0) / col("n_docs"), 6).as("en_share"),
        round(col("dup_docs") * lit(1.0) / col("n_docs"), 6).as("dup_rate"),
        round(col("q_micro") / (lit(1000000.0) * col("n_docs")), 6)
          .as("mean_quality"))
      .orderBy(col("source"))
  }
}
