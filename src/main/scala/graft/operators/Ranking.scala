package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.text.TextFunctions

/** Result-ranking feature scores (SURVEY.md §2.5, reference
  * query/result_ranker.py): relevance / quality / length scores as pure
  * column expressions, weighted combination, and the greedy diversity
  * re-rank over the (small) top-k — the only sequential step, executed on
  * the collected top-k exactly like the reference (k ≤ 50).
  */
object Ranking {

  /** Relevance: word-overlap Jaccard of query vs content token sets,
    * ×2 capped at 1 (result_ranker.py:202-264's overlap-ratio shape). */
  def relevance(text: Column, queryTokens: Seq[String]): Column = {
    val toks = TextFunctions.distinctTokens(text)
    val q = lit(queryTokens.toArray)
    val inter = size(array_intersect(toks, q)).cast("double")
    val uni = (size(toks) + lit(queryTokens.size)).cast("double") - inter
    least(when(uni > 0, inter / uni).otherwise(0.0) * 2, lit(1.0))
  }

  /** Freshness step decay (result_ranker.py:336-377): 1.0 / 0.9 / 0.7 /
    * 0.5 / 0.3 / 0.1 at age 0 / ≤7 / ≤30 / ≤90 / ≤365 / older days. */
  def freshness(ageDays: Column): Column =
    when(ageDays <= 0, 1.0).when(ageDays <= 7, 0.9).when(ageDays <= 30, 0.7)
      .when(ageDays <= 90, 0.5).when(ageDays <= 365, 0.3).otherwise(0.1)

  /** Popularity: log(accessCount+1)/log(100), capped at 1
    * (result_ranker.py:400-404 base term). */
  def popularity(accessCount: Column): Column =
    least(log(accessCount.cast("double") + 1) / math.log(100.0), lit(1.0))

  /** Full popularity (result_ranker.py:379-411): 0.1 floor for
    * never-accessed content, log base, plus a recent-access boost of
    * min(recent/10, 0.2), capped at 1. */
  def popularityFull(accessCount: Column, recentAccessCount: Column): Column =
    when(accessCount === 0, 0.1)
      .otherwise(least(
        popularity(accessCount) +
          when(recentAccessCount > 0,
            least(recentAccessCount.cast("double") / 10, lit(0.2)))
            .otherwise(lit(0.0)),
        lit(1.0)))

  /** Text-query relevance (result_ranker.py:247-264, the
    * NATURAL_LANGUAGE branch): exact-phrase containment scores 1.0,
    * otherwise matched query words / |query words| (duplicates in the
    * query count separately, as the reference's list-sum does). */
  def textRelevance(content: Column, query: String): Column = {
    val q = query.toLowerCase
    val words = q.split("\\s+").filter(_.nonEmpty)
    if (words.isEmpty) lit(0.0)
    else {
      val contentWords = TextFunctions.tokens(lower(content))
      val matches = words
        .map(w => when(array_contains(contentWords, w), 1).otherwise(0))
        .map(_.cast("double"))
        .reduce(_ + _)
      when(lower(content).contains(q), 1.0)
        .otherwise(matches / words.length)
    }
  }

  /** Relationship-count score (result_ranker.py:438-457): 0.2 if none,
    * 0.5 + 0.1·n up to 5, then 0.8 + 0.02·(n−5) capped at 1. */
  def relCountScore(n: Column): Column =
    when(n === 0, 0.2)
      .when(n <= 5, lit(0.5) + lit(0.1) * n)
      .otherwise(least(lit(0.8) + lit(0.02) * (n - 5), lit(1.0)))

  /** Metadata richness: meaningful fields / 8 (result_ranker.py:459-493). */
  def metadataRichness(nFields: Column): Column =
    least(nFields.cast("double") / 8, lit(1.0))

  /** Weighted combination with normalized weights
    * (result_ranker.py:542-568; semantic weights .6/.2/.2 :628-660). */
  def combine(scores: Seq[(Column, Double)]): Column = {
    require(scores.nonEmpty, "combine needs at least one score")
    val total = scores.map(_._2).sum
    require(total > 0, s"weights must sum to a positive value (got $total)")
    scores.map { case (c, w) => c * (w / total) }.reduce(_ + _)
  }

  /** Greedy diversity filter over an ORDERED, collected top-k
    * (result_ranker.py:570-626): keep a result unless its token-set
    * Jaccard vs an already-kept result exceeds `maxSim`. Returns kept
    * ranks (1-based). Driver-side by design: k ≤ 50 and the pass is
    * inherently sequential. */
  def greedyDiversityKeep(tokenSets: Seq[Set[String]], maxSim: Double): Seq[Int] = {
    val kept = scala.collection.mutable.ArrayBuffer.empty[Int]
    tokenSets.zipWithIndex.foreach { case (toks, i) =>
      val clash = kept.exists { j =>
        val other = tokenSets(j)
        val inter = toks.intersect(other).size.toDouble
        val uni = (toks.size + other.size) - inter
        (if (uni > 0) inter / uni else 0.0) > maxSim
      }
      if (!clash) kept += i
    }
    kept.map(_ + 1).toSeq
  }
}
