package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.engine.Lineage.LineageOps

/** BPE merge training (builder mandate — tokenizer-preparation stage;
  * the public byte-pair-encoding recipe of Sennrich et al. 2016): learn
  * the `n` highest-count adjacent-symbol merges over the corpus.
  *
  * Scale shape: ONE corpus scan builds the (word, count) table; every
  * iteration after that runs on the VOCABULARY (distinct words), which
  * is sub-linear in corpus size — the pair census is a vocab-bounded
  * explode + keyed sum, the argmax is a 1-row TakeOrdered, and the
  * merge application is a per-word index-ordered fold. The word table
  * is lineage-truncated per iteration, so iteration k never re-runs
  * iterations 1..k-1 (the PageRank/BFS pattern).
  *
  * Determinism: pair counts are exact integers (weighted by word
  * frequency); argmax ties break lexicographically on (left, right);
  * the merge fold applies strictly leftmost-first (`aaa` + merge (a,a)
  * → `aa a`, matching the reference implementation's scan order). No
  * floats anywhere, so training is bit-stable across runs and
  * partitionings.
  */
object BpeTrainer {

  val EndOfWord = "</w>"

  /** (word, n) frequency table from whitespace tokens. */
  def wordCounts(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(TextFunctions.tokens(col(textCol))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("n"))

  /** Initial symbol sequence: characters plus the end-of-word marker. */
  def initSymbols(word: Column): Column =
    concat(split(word, ""), array(lit(EndOfWord)))

  /** Weighted adjacent-pair census over a (syms, n) table. Words that
    * have collapsed to a single symbol carry no adjacent pair and are
    * filtered out first — without the guard, `sequence(1, size-1)`
    * on a 1-element array yields the DESCENDING sequence [1, 0] and
    * `element_at(syms, 0)` throws at runtime. */
  def pairCounts(words: DataFrame): DataFrame =
    words
      .filter(size(col("syms")) >= 2)
      .select(col("n"), explode(transform(
        sequence(lit(1), size(col("syms")) - 1),
        i => struct(element_at(col("syms"), i).as("left"),
          element_at(col("syms"), i + 1).as("right")))).as("p"))
      .groupBy(col("p.left").as("left"), col("p.right").as("right"))
      .agg(sum(col("n")).as("cnt"))

  /** Apply one merge (left, right) → left+right, leftmost-first. */
  def applyMerge(syms: Column, left: String, right: String): Column =
    applyMerges(syms, Seq((left, right)))

  /** Apply a SYMBOL-DISJOINT merge batch in one left-to-right pass.
    * Because no symbol (or merge output) is shared between batch
    * members, at most one merge can match a given (prev, cur) position
    * and the single greedy pass equals applying each merge
    * leftmost-first in sequence — the precondition [[selectBatch]]
    * enforces. */
  def applyMerges(syms: Column, ms: Seq[(String, String)]): Column =
    aggregate(syms,
      array().cast("array<string>"),
      (acc, x) => ms.foldRight(concat(acc, array(x))) {
        case ((l, r), els) =>
          when(size(acc) > 0 &&
              element_at(acc, -1) === lit(l) && x === lit(r),
            concat(slice(acc, lit(1), size(acc) - 1),
              array(lit(l + r))))
            .otherwise(els)
      })

  /** Maximal batch of merges provably identical to taking them one at a
    * time (so batched training is BIT-IDENTICAL to sequential BPE, not
    * an approximation). Scanning the census in (cnt desc, left, right)
    * order — the sequential tie-break — a candidate joins the batch iff
    *
    *  1. it shares no symbol with any selected merge (disjointness:
    *     earlier selections cannot change its count), and
    *  2. its count is STRICTLY greater than every census pair that
    *     overlaps a selected merge, wherever that pair ranks, and than
    *     the unseen tail bound (`tailMax`). Applying a selected merge
    *     only creates pairs involving its output symbol, and each such
    *     new pair's count is bounded by an overlapping census pair (a
    *     new (x, ab) occurs only where (x, a) did) — so nothing the
    *     earlier merges create or leave behind can outrank, or tie
    *     with, the candidate when its sequential turn comes. An
    *     overlapping pair ranked AFTER the candidate counts too: with
    *     an equal count, the pair it becomes can still win the
    *     (left, right) tie-break ("acb": (a,c) creates (ac,b), which
    *     ties (b,</w>) and sorts first).
    *
    * Output-string collisions (a candidate consuming or re-creating a
    * symbol that a selected merge outputs, or vice versa) terminate the
    * batch: a one-pass fold could then merge occurrences a sequential
    * pass ordered by rank would not see. Returns the selected
    * (left, right, cnt) rows in rank order. */
  private def selectBatch(top: Array[org.apache.spark.sql.Row],
      tailMax: Long, maxSelect: Int): Seq[(String, String, Long)] = {
    val sel = scala.collection.mutable.ListBuffer[(String, String, Long)]()
    val used = scala.collection.mutable.Set[String]()
    val outs = scala.collection.mutable.Set[String]()
    var maxSkip = tailMax
    var stop = false
    for (row <- top if !stop && sel.size < maxSelect) {
      val (l, r, c) = (row.getString(0), row.getString(1), row.getLong(2))
      val outCollision = outs(l) || outs(r) || used(l + r) || outs(l + r)
      val adjOverlap = used(l) || used(r)
      if (sel.isEmpty || (!outCollision && !adjOverlap && c > maxSkip)) {
        sel += ((l, r, c)); used += l; used += r; outs += (l + r)
        maxSkip = top.iterator.filter(o => !(o eq row) &&
            Seq(o.getString(0), o.getString(1)).exists(x => x == l || x == r))
          .map(_.getLong(2)).foldLeft(maxSkip)(math.max)
      } else if (outCollision) stop = true
      else if (adjOverlap) maxSkip = math.max(maxSkip, c)
      else stop = true
    }
    sel.toList
  }

  /** Symbol delimiter for the flat-string ENCODING representation (a
    * control char that never appears in whitespace-split tokens of the
    * synthetic corpus; stripped defensively in [[delimited]]). */
  val Sep = "\u0001"

  /** A word as a flat delimited symbol string: every character wrapped
    * Sep‹c›Sep, then the end-of-word marker. "ab" → ␁a␁␁b␁␁</w>␁.
    * Carrying BOTH delimiters per symbol means adjacent symbols never
    * share a boundary character, so a literal leftmost non-overlapping
    * `replace` of ␁l␁␁r␁ → ␁lr␁ is EXACTLY one leftmost-first BPE merge
    * pass — including on self-runs (␁a␁␁a␁␁a␁ → ␁aa␁␁a␁) — and the
    * whole encode chain stays inside codegen'd string expressions on
    * both engines (no UDF, and SQL-expressible for the DuckDB oracle). */
  def delimited(word: Column): Column =
    concat(
      regexp_replace(replace(word, lit(Sep), lit("")), "(.)", Sep + "$1" + Sep),
      lit(Sep + EndOfWord + Sep))

  /** BPE ENCODING: apply a FIXED rank-ordered merge list to a word,
    * one leftmost-first pass per merge (the standard apply-in-rank-order
    * encoder; valid whenever each merge's operands are base characters
    * or outputs of STRICTLY earlier merges, which trained lists satisfy
    * by construction). Returns the delimited symbol string. */
  def encodeSymbols(word: Column, merges: Seq[(String, String)]): Column =
    merges.foldLeft(delimited(word)) { case (c, (l, r)) =>
      replace(c, lit(Sep + l + Sep + Sep + r + Sep), lit(Sep + l + r + Sep))
    }

  /** Number of symbols in a delimited encoding (delimiter count / 2). */
  def symbolCount(encoded: Column): Column =
    ((length(encoded) -
      length(replace(encoded, lit(Sep), lit("")))) / 2).cast("long")

  /** Train `n` merges; returns (rank, left, right, cnt) ordered by rank.
    * Stops early if no adjacent pair remains.
    *
    * Job bound: one pair-census job + one `batchTop`-row collect + one
    * merge-fold job PER BATCH, and batches hold every merge the census
    * order proves independent (see [[selectBatch]]) — O(n / E[batch])
    * Spark jobs instead of the naive O(n) one-job-per-merge loop, with
    * identical output. Long-tailed real censuses batch well (distinct
    * counts over disjoint symbol pairs); the worst case (every top pair
    * chained through a shared symbol, e.g. a single repeated character)
    * degrades gracefully to batch size 1. The per-round work stays
    * vocabulary-bounded: the census is a vocab-sized explode + keyed
    * sum and the driver only ever holds `batchTop` rows. */
  def train(docs: DataFrame, textCol: String, n: Int,
      batchTop: Int = 256): Seq[(Int, String, String, Long)] = {
    var words = wordCounts(docs, textCol)
      .select(initSymbols(col("word")).as("syms"), col("n"))
      .truncateLineage()
    val merges = scala.collection.mutable.ListBuffer[(Int, String, String, Long)]()
    var done = false
    while (merges.size < n && !done) {
      val top = pairCounts(words)
        .orderBy(col("cnt").desc, col("left"), col("right"))
        .limit(batchTop).collect()
      if (top.isEmpty) done = true
      else {
        val tailMax = if (top.length == batchTop) top.last.getLong(2) else 0L
        val batch = selectBatch(top, tailMax, n - merges.size)
        batch.foreach { case (l, r, c) =>
          merges += ((merges.size + 1, l, r, c))
        }
        words = words
          .select(applyMerges(col("syms"),
            batch.map(m => (m._1, m._2))).as("syms"), col("n"))
          .truncateLineage()
      }
    }
    merges.toList
  }
}
