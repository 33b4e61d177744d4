package graft.semantic

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.text.TextFunctions
import graft.engine.Lineage.LineageOps

/** Relationship-discovery joins (SURVEY.md §2.3): the reference's O(n²)
  * pairwise loops (ingestion/relationship_extractor.py:215-369)
  * re-expressed as blocked equi/range joins so cost is Σ|block|² instead
  * of n² — the correctness-preserving distributed form.
  */
object SimilarityJoins {

  /** SAME_SOURCE / SAME_DOMAIN: all unordered pairs inside an equality
    * group (relationship_extractor.py:324,775). Returned aggregated per
    * group (pair count = C(n,2)) — materializing the pairs themselves is
    * the caller's choice via `pairsWithinGroups`. */
  def groupPairCounts(df: DataFrame, keyCols: Seq[String]): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n"))
      .withColumn("n_pairs", (col("n") * (col("n") - 1) / 2).cast("long"))

  /** Token-set Jaccard similarity join within blocks
    * (SIMILAR_TAGS / SIMILAR_CONTENT, relationship_extractor.py:264-347).
    * `confidence = min(0.95, 0.6 + (sim - threshold) * 0.4)` mirrors the
    * tag auto-relationship formula (:484-616). */
  def tokenJaccardJoin(docs: DataFrame, blockCol: String, textCol: String,
      threshold: Double, stopworded: Boolean = false,
      saltBuckets: Int = 16, idCol: String = "doc_id"): DataFrame = {
    def toks(c: Column) = {
      val t = TextFunctions.distinctTokens(c)
      if (stopworded)
        array_except(t, lit(TextFunctions.stopwords("en").toArray))
      else t
    }
    // Tokenize ONCE and materialize — otherwise the projection is inlined
    // into the join and split/distinct re-runs per emitted pair.
    val tokenized = docs
      .select(col(blockCol).as("blk"), col(idCol).as("id"),
        toks(col(textCol)).as("toks"))
      .truncateLineage()
    // Salted self-join: block keys are few (low cardinality ⇒ skew), so
    // pair (a,b) is produced at key (blk, salt(a)) with the b side
    // replicated across salts — same pairs exactly once, S× the
    // parallelism. This is the standard skew-salting pattern that also
    // carries to the 100 TB case.
    val a = tokenized.select(col("blk"), col("id").as("a_id"),
      col("toks").as("a_toks"),
      pmod(xxhash64(col("id")), lit(saltBuckets)).as("salt"))
    val b = tokenized.select(col("blk"), col("id").as("b_id"),
      col("toks").as("b_toks"))
      .withColumn("salt", explode(sequence(lit(0L), lit((saltBuckets - 1).toLong))))
    a.join(b, Seq("blk", "salt"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("sim", TextFunctions.jaccardSim(col("a_toks"), col("b_toks")))
      .filter(col("sim") > threshold)
      .withColumn("confidence",
        least(lit(0.95), lit(0.6) + (col("sim") - threshold) * 0.4))
      .select(col("blk"), col("a_id"), col("b_id"), col("sim"), col("confidence"))
  }

  /** Prefix-filtered token-set Jaccard join — same output as
    * `tokenJaccardJoin` (exact, recall 1.0 by the prefix-filtering
    * theorem), but candidates come from an equi-join on rare prefix
    * tokens instead of the full within-block cross product.
    *
    * Prefix filtering (AllPairs/PPJoin family): order each doc's tokens
    * by ascending document frequency (rarest first, ties by token); if
    * Jaccard(A,B) > t then |A∩B| ≥ ⌈t·|A|⌉, so the first
    * |A| − ⌈t·|A|⌉ + 1 tokens of A must contain a token of B (and
    * symmetrically), hence every qualifying pair shares a PREFIX token.
    * Candidate cost is Σ_token df(token)² over prefix tokens only —
    * on realistic corpora orders of magnitude below Σ|block|², and every
    * join here is an equi-join Spark can shuffle-partition, so the plan
    * survives 100× data. (The synthetic test corpus is adversarially
    * self-similar, so pruning there is minimal — the guarantee that
    * matters is exactness plus equi-join shape.)
    *
    * Same semantics/shape as tokenJaccardJoin: threshold is strict (>),
    * confidence = min(0.95, 0.6 + (sim − t)·0.4)
    * (relationship_extractor.py:264-347, :484-616). */
  def prefixJaccardJoin(docs: DataFrame, blockCol: String, textCol: String,
      threshold: Double, stopworded: Boolean = false,
      idCol: String = "doc_id"): DataFrame = {
    def toks(c: Column) = {
      val t = TextFunctions.distinctTokens(c)
      if (stopworded)
        array_except(t, lit(TextFunctions.stopwords("en").toArray))
      else t
    }
    val tokenized = docs
      .select(col(blockCol).as("blk"), col(idCol).as("id"),
        toks(col(textCol)).as("toks"))
      .truncateLineage() // tokenize once; reused by prefix + verify stages
    prefixPairs(tokenized, threshold)
      .filter(col("sim") > threshold)
      .withColumn("confidence",
        least(lit(0.95), lit(0.6) + (col("sim") - threshold) * 0.4))
      .select(col("blk"), col("a_id"), col("b_id"), col("sim"), col("confidence"))
  }

  /** Prefix-filtered candidate generation + exact Jaccard scoring over a
    * pre-tokenized `(blk, id, toks)` frame (the set element type is
    * opaque — word tokens, character shingles, tags all work). Returns
    * every within-block pair that can reach `threshold` with its exact
    * `sim`; the caller applies its own threshold inequality (`>` or `≥` —
    * both are sound against the ≥-derived prefix/positional/length bounds,
    * since a strict qualifier also satisfies ≥). `tokenized` should be
    * materialized (localCheckpoint) by the caller: it feeds both the
    * prefix and verify stages.
    *
    * Beyond the basic prefix filter, applies the two PPJoin prunes —
    * both exact, zero recall loss:
    *  - length filter: J(A,B) ≤ min(|A|,|B|)/max(|A|,|B|), so any
    *    qualifying pair has min(|A|,|B|) ≥ t·max(|A|,|B|). Applied inside
    *    the candidate join condition, before the dedup shuffle.
    *  - positional filter: tokens are ordered by the same per-block
    *    (df, tok) key in every doc, so for a shared prefix token at
    *    position i in A and j in B, |A∩B| ≤ min(i,j) + min(|A|−i,|B|−j)
    *    (≤ min(i−1,j−1) shared before it, the token itself, and
    *    ≤ min(|A|−i,|B|−j) after it). J ≥ t requires
    *    |A∩B| ≥ t·(|A|+|B|)/(1+t); the bound holds for EVERY shared
    *    prefix token, so the tightest (min over shared tokens) is taken
    *    in the same aggregate that dedups candidate pairs — no extra
    *    shuffle vs the previous distinct(). */
  private[graft] def prefixPairs(tokenized: DataFrame, threshold: Double)
      : DataFrame = {
    // set size rides along from before the explode — computing it with a
    // count-over-(blk,id) window after the explode would cost an extra
    // shuffle+sort pass over the exploded rows for a value that is just
    // size(toks)
    // All three bounds below compare an integer against t·(integer
    // expression) computed in doubles. t is usually not representable
    // (0.8 → 0.8000…0004), so the product can land an ulp ABOVE the true
    // rational value and flip an exact-equality comparison — dropping a
    // pair whose Jaccard is exactly t, which the ≥-threshold callers
    // (Dedup.ngramJaccard) must keep. Relaxing each bound by EPS keeps
    // those pairs: FP error is ≤ ~n·2⁻⁵² (≪ 1e-8 for any real n) while
    // genuinely-failing candidates miss the bound by ≥ 1/(|A|+|B|)
    // (≫ 1e-8) — the relaxation only ever ADMITS candidates, and every
    // candidate is exact-verified afterwards, so output is unaffected.
    val Eps = 1e-8
    val ex = tokenized.select(col("blk"), col("id"), size(col("toks")).as("n"),
      explode(col("toks")).as("tok"))
    // per-block document frequency orders tokens rarest-first, which
    // minimizes candidate generation (the classic AllPairs ordering)
    val dfreq = ex.groupBy(col("blk"), col("tok"))
      .agg(count(lit(1)).as("df"))
    val byRarity = Window.partitionBy(col("blk"), col("id"))
      .orderBy(col("df"), col("tok"))
    val prefix = ex.join(dfreq, Seq("blk", "tok"))
      .withColumn("rn", row_number().over(byRarity))
      .filter(col("rn") <=
        col("n") - ceil(lit(threshold) * col("n") - Eps) + 1)
      .select(col("blk"), col("id"), col("tok"), col("n"), col("rn"))
    val lhs = prefix.select(col("blk"), col("tok"), col("id").as("a_id"),
      col("n").as("a_n"), col("rn").as("a_rn"))
    val rhs = prefix.select(col("blk"), col("tok"), col("id").as("b_id"),
      col("n").as("b_n"), col("rn").as("b_rn"))
    val joined = lhs.join(rhs, Seq("blk", "tok"))
      .filter(col("a_id") < col("b_id"))
    // Pair-dedup on ONE packed 64-bit (a, b) key when ids are longs
    // (§2.3 narrower types — the catalog's doc ids all are): the dedup
    // aggregate is the plan's hottest step (BENCH_EXPLAIN r15: two
    // HashAggregates of 2.1–2.5 s task-time over 831k groups on
    // (blk string, a_id, b_id)), and a doc lives in exactly ONE block,
    // so (a, b) determines blk — the string drops out of the grouping
    // key and rides as first(blk). Per-row range guard raises loudly
    // if an id ever exceeds 2^31−1; non-long ids keep the 3-column key.
    val longIds = tokenized.schema("id").dataType ==
      org.apache.spark.sql.types.LongType
    val packGroup: Seq[Column] =
      if (longIds) Seq(when(
          col("a_id") >= 0L && col("a_id") < lit(1L << 31) &&
            col("b_id") >= 0L && col("b_id") < lit(1L << 31),
          shiftleft(col("a_id"), 32).bitwiseOR(col("b_id")))
        .otherwise(raise_error(concat(
          lit("prefixPairs: doc id outside [0, 2^31) breaks the packed "
            + "pair key: ("),
          col("a_id").cast("string"), lit(", "),
          col("b_id").cast("string"), lit(")")))).as("pair"))
      else Seq(col("blk"), col("a_id"), col("b_id"))
    def unpack(df: DataFrame): DataFrame =
      if (longIds) df.select(col("blk"),
        shiftright(col("pair"), 32).as("a_id"),
        col("pair").bitwiseAND(lit((1L << 32) - 1)).as("b_id"),
        col("ub"), col("a_n"), col("b_n"))
      else df
    // aggregates: the grouping columns come back automatically; the
    // packed form additionally recovers blk (constant per pair) and the
    // n's via first()
    val aggExtra: Seq[Column] =
      Seq(first(col("a_n")).as("a_n"), first(col("b_n")).as("b_n")) ++
        (if (longIds) Seq(first(col("blk")).as("blk")) else Nil)
    val cand = unpack(joined
        // length filter — prunes before the pair-dedup shuffle
        .filter(least(col("a_n"), col("b_n")) >=
          lit(threshold) * greatest(col("a_n"), col("b_n")) - Eps)
        // positional overlap upper bound for THIS shared token occurrence
        .withColumn("ub", least(col("a_rn"), col("b_rn")) +
          least(col("a_n") - col("a_rn"), col("b_n") - col("b_rn")))
        // a pair may share several prefix tokens; dedup + take the
        // tightest bound in one aggregate (same shuffle the old
        // distinct() paid)
        .groupBy(packGroup: _*)
        .agg(min(col("ub")).as("ub"), aggExtra: _*))
      // positional filter: required overlap α = t·(|A|+|B|)/(1+t)
      .filter(col("ub") >=
        lit(threshold) * (col("a_n") + col("b_n")) / (1 + threshold) - Eps)
      .select(col("blk"), col("a_id"), col("b_id"))
    // verify joins: tokenized is a caller-materialized checkpoint whose
    // stats the static planner does not know — broadcast it while
    // bounded (same gating discipline as Dedup.sigSide)
    val tokRows = tokenized.count()
    def tokSide(df: DataFrame): DataFrame =
      if (tokRows <= 1000000L) broadcast(df) else df.hint("SHUFFLE_HASH")
    cand
      .join(tokSide(tokenized.select(col("blk"), col("id").as("a_id"),
        col("toks").as("a_toks"))), Seq("blk", "a_id"))
      .join(tokSide(tokenized.select(col("blk"), col("id").as("b_id"),
        col("toks").as("b_toks"))), Seq("blk", "b_id"))
      .withColumn("sim", TextFunctions.jaccardSim(col("a_toks"), col("b_toks")))
      .select(col("blk"), col("a_id"), col("b_id"), col("sim"))
  }

  /** TEMPORAL_PROXIMITY range join (relationship_extractor.py:353-367):
    * |Δt| < window within a key. Implemented as a bucketed band join —
    * bucket by `window` seconds, join each left bucket against the three
    * neighboring right buckets, then apply the exact predicate. Each
    * candidate pair is produced exactly once (the exploded right bucket
    * ids are distinct), so no dedup shuffle is needed. At 100 TB this is
    * the standard interval-join pattern: an equi-join on (key, bucket)
    * that AQE can plan, instead of a cross join with a theta predicate.
    * confidence = max(0.5, 1 - Δt/3600). */
  def temporalProximity(events: DataFrame, keyCol: String, idCol: String,
      tsCol: String, windowSec: Long): DataFrame = {
    val base = events.select(col(keyCol).as("k"), col(idCol).as("id"),
      unix_timestamp(col(tsCol)).as("sec"))
    val a = base.withColumn("bkt", floor(col("sec") / windowSec))
      .select(col("k"), col("id").as("a_id"), col("sec").as("a_sec"), col("bkt"))
    val b = base
      .withColumn("bkt", explode(array(
        floor(col("sec") / windowSec) - 1,
        floor(col("sec") / windowSec),
        floor(col("sec") / windowSec) + 1)))
      .select(col("k"), col("id").as("b_id"), col("sec").as("b_sec"), col("bkt"))
    a.join(b, Seq("k", "bkt"))
      .filter(col("a_id") < col("b_id") &&
        abs(col("a_sec") - col("b_sec")) < windowSec)
      .withColumn("delta_sec", abs(col("a_sec") - col("b_sec")))
      .withColumn("confidence",
        greatest(lit(0.5), lit(1.0) - col("delta_sec").cast("double") / 3600))
      .select(col("k"), col("a_id"), col("b_id"), col("delta_sec"), col("confidence"))
  }
}
