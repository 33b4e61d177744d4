package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.text.TextFunctions
import graft.functions.VectorFunctions
import graft.engine.Lineage.LineageOps

/** Deduplication operators for large-scale training-data pipelines:
  * exact (hash group-by), MinHash+LSH (shingle → signature → band →
  * bucket-join), SimHash (hamming-ball), n-gram Jaccard, and
  * embedding-cosine near-dup. The reference's ingest-time merge dedup is
  * a top-1 vector match (ingestion/merging.py:17-111); these generalize
  * it to corpus-scale sweeps.
  *
  * Scale notes: exact dedup is one hash aggregate on the content key.
  * MinHash-LSH is the sub-quadratic path — candidates come from equality
  * joins on band buckets (shuffle on bucket key), never from a cross
  * join; bucket-size skew (a band shared by k docs → C(k,2) candidates)
  * is the thing to watch, handled by salting/AQE at cluster scale.
  */
object Dedup {

  /** Exact dedup on a normalized content key: md5 of the sorted distinct
    * token set. Returns one row per duplicate group (size > 1) with the
    * kept representative (min id) — the map-side-combinable form of
    * "keep first, drop rest". */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .withColumn("key",
        md5(array_join(array_sort(TextFunctions.distinctTokens(col(textCol))), " ")))
      .groupBy(col("key"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("group_size"))
      .filter(col("group_size") > 1)

  /** MinHash-LSH near-dup pairs: k-slot signatures, banded into
    * `bands` buckets of r = k/bands rows; docs sharing any band bucket
    * become candidates (equality join); candidates are then scored by the
    * full-signature Jaccard estimate and thresholded. */
  def minhashLsh(docs: DataFrame, idCol: String, textCol: String,
      k: Int, bands: Int, threshold: Double): DataFrame = {
    val sig = docs.select(col(idCol).as("id"),
      TextFunctions.minhashSignature(col(textCol), k).as("sig"))
      .truncateLineage() // signatures computed exactly once
    minhashLshFromSig(sig, k, bands, threshold)
  }

  /** Broadcast the signature side of a scoring join while it is
    * bounded; SHUFFLE_HASH beyond. The sig frame is a caller-
    * materialized checkpoint whose row stats the static planner does
    * not know (a LogicalRDD defaults to spark.sql.defaultSizeInBytes =
    * Long.Max), so UNhinted the planner sort-merges — at sf1.0 that
    * sorted the ~30M-row candidate stream twice for a 50k-row build
    * side (round-13's "scoring path is ~35 s of 42.8"). Broadcast
    * removes the candidate shuffle outright while sig fits comfortably
    * (1M rows ≈ 140 MB framed); past that the SHUFFLE_HASH hint still
    * never sorts the candidate stream and its build side is a
    * per-partition sig slice (guide §3.1 — same gating discipline as
    * GraphAnalyticsQueries.shuffleHashIfCompact). */
  private def sigSide(df: DataFrame, sigRows: Long): DataFrame =
    if (sigRows <= 1000000L) broadcast(df) else df.hint("SHUFFLE_HASH")

  /** [[minhashLsh]] over a precomputed signature frame (id, sig) —
    * the shared-artifact path (DedupIndex.signatures computes one
    * md5-per-token pass for BOTH the MinHash and SimHash catchers).
    * `sig` must already be materialized (both join sides read it, and
    * the scoring-join strategy gate counts it).
    *
    * NOTE the threshold filter is applied OVER the scored frame in the
    * same query stage here; callers on a hot path should prefer
    * [[minhashLshScored]] + materialize + filter — a threshold
    * predicate planned into the scoring join's whole-stage-codegen
    * stage measured ~34 µs/row (123 task-s for 3.55M pairs at sf0.1)
    * vs 0.05 µs/row for the identical estimate as a projection, a
    * ~50× codegen pathology that reproduced with the predicate as a
    * join condition, as a Filter above the Project, with constraint
    * propagation off, and with a branch-free estimate form — and
    * vanished with codegen.wholeStage=false (0.9 s) or a
    * materialization barrier (0.5 s). DedupIndex.candidatePairs uses
    * the barrier form (its artifact checkpoints at exactly that point
    * anyway). */
  def minhashLshFromSig(sig: DataFrame, k: Int, bands: Int,
      threshold: Double): DataFrame =
    minhashLshScored(sig, k, bands)
      .filter(col("est_jaccard") >= threshold)

  /** The scored candidate frame of [[minhashLshFromSig]] WITHOUT the
    * threshold filter: every distinct band-bucket collision pair with
    * its full-signature Jaccard estimate. Exactly the frame a caller
    * should materialize before thresholding (see the codegen note on
    * [[minhashLshFromSig]]). */
  def minhashLshScored(sig: DataFrame, k: Int, bands: Int): DataFrame = {
    require(bands >= 1 && bands <= k && k % bands == 0,
      s"bands must divide k (got k=$k, bands=$bands): a remainder silently " +
        "drops signature slots, and r=0 degenerates to an all-pairs join")
    val r = k / bands
    // Candidate generation on NARROW rows (bucket, id): the bucket join
    // never shuffles signatures, and duplicate collisions across bands
    // are deduplicated before any scoring work.
    // Bucket key is hashed to a long: joining on ~200-char concatenated
    // md5 strings wastes shuffle width and comparison time. A 64-bit
    // collision can only create a spurious CANDIDATE (never a spurious
    // result: any pair passing the estimate threshold shares a fully
    // equal band by pigeonhole, so it is a true candidate anyway).
    val banded = sig.select(col("id"),
      posexplode(expr(
        s"transform(sequence(0, ${bands - 1}), b -> " +
          s"xxhash64(concat_ws('#', cast(b as string), slice(sig, b * $r + 1, $r))))"))
        .as(Seq("band", "bucket")))
      .select(col("id"), col("bucket"))
    val joined = banded.select(col("bucket"), col("id").as("a_id"))
      .join(banded.select(col("bucket"), col("id").as("b_id")), "bucket")
      .filter(col("a_id") < col("b_id"))
    // Pair dedup on ONE packed 64-bit key when ids are longs (§2.3
    // narrower types — the catalog's doc ids all are): the distinct is
    // the candidate sweep's only wide exchange, and (a·2^32 | b) halves
    // its key bytes and hashes/compares one word instead of two. The
    // per-row range guard raises loudly if an id ever exceeds 2^31−1
    // (generated ids reach ~2×10^5 at sf2 — 10,000× headroom); non-long
    // ids keep the two-column form. Output is identical — pairs are
    // unpacked before scoring.
    val integralIds =
      sig.schema("id").dataType == org.apache.spark.sql.types.LongType
    val cand =
      if (integralIds) {
        val inRange = col("a_id") >= 0L && col("a_id") < lit(1L << 31) &&
          col("b_id") >= 0L && col("b_id") < lit(1L << 31)
        joined.select(when(inRange,
            shiftleft(col("a_id"), 32).bitwiseOR(col("b_id")))
          .otherwise(raise_error(concat(
            lit("minhashLsh: doc id outside [0, 2^31) breaks the packed "
              + "pair key: ("),
            col("a_id"), lit(", "), col("b_id"), lit(")")))).as("pair"))
          .distinct()
          .select(shiftright(col("pair"), 32).as("a_id"),
            col("pair").bitwiseAND(lit((1L << 32) - 1)).as("b_id"))
      } else {
        joined.select(col("a_id"), col("b_id")).distinct()
      }
    // Score once per distinct pair; join strategy via [[sigSide]].
    val sigRows = sig.count()
    cand
      .join(sigSide(sig.select(col("id").as("a_id"), col("sig").as("a_sig")),
        sigRows), "a_id")
      .join(sigSide(sig.select(col("id").as("b_id"), col("sig").as("b_sig")),
        sigRows), "b_id")
      .select(col("a_id"), col("b_id"),
        TextFunctions.minhashEstimate(col("a_sig"), col("b_sig"), k).as("est_jaccard"))
  }

  /** Asymmetric MinHash-LSH: near-dup pairs between a NEW batch and the
    * EXISTING corpus — the incremental-ingestion form of [[minhashLsh]].
    * Band buckets are built per side and candidates come only from
    * cross-side bucket matches, so the old×old and new×new pair spaces
    * are never generated: a daily append to a 100 TB corpus costs the
    * batch's bucket join against the (pre-computable, cacheable) corpus
    * band index, not a re-dedup of the corpus. Same signature/banding
    * arithmetic as [[minhashLsh]], so the two compose: run this for the
    * delta, the symmetric sweep only for full rebuilds.
    * Returns (new_id, old_id, est_jaccard). */
  def minhashLshAgainst(newDocs: DataFrame, oldDocs: DataFrame,
      idCol: String, textCol: String, k: Int, bands: Int,
      threshold: Double): DataFrame = {
    require(bands >= 1 && bands <= k && k % bands == 0,
      s"bands must divide k (got k=$k, bands=$bands): a remainder silently " +
        "drops signature slots, and r=0 degenerates to an all-pairs join")
    val r = k / bands
    def sig(docs: DataFrame) = docs.select(col(idCol).as("id"),
      TextFunctions.minhashSignature(col(textCol), k).as("sig"))
      .truncateLineage()
    def banded(sigDf: DataFrame) = sigDf.select(col("id"),
      posexplode(expr(
        s"transform(sequence(0, ${bands - 1}), b -> " +
          s"xxhash64(concat_ws('#', cast(b as string), slice(sig, b * $r + 1, $r))))"))
        .as(Seq("band", "bucket")))
      .select(col("id"), col("bucket"))
    val (nSig, oSig) = (sig(newDocs), sig(oldDocs))
    val cand = banded(nSig).select(col("bucket"), col("id").as("new_id"))
      .join(banded(oSig).select(col("bucket"), col("id").as("old_id")), "bucket")
      .select(col("new_id"), col("old_id"))
      .distinct()
    cand
      .join(nSig.select(col("id").as("new_id"), col("sig").as("a_sig")), "new_id")
      .join(oSig.select(col("id").as("old_id"), col("sig").as("b_sig")), "old_id")
      .select(col("new_id"), col("old_id"),
        TextFunctions.minhashEstimate(col("a_sig"), col("b_sig"), k).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
  }

  /** One micro-batch step of STREAMING incremental dedup (the
    * foreachBatch form of [[minhashLshAgainst]]): the complete near-dup
    * pair set the full-corpus sweep would emit for pairs involving this
    * batch — within-batch symmetric pairs plus batch-vs-corpus
    * asymmetric pairs, id-normalized to (a_id < b_id). Because LSH
    * candidacy is a per-pair predicate (share ≥1 band bucket), the
    * union of this over any batch decomposition of a corpus equals
    * [[minhashLsh]] of the whole corpus EXACTLY — every unordered pair
    * lands in the same batch (symmetric leg) or straddles two
    * (asymmetric leg), never both, with identical signatures either
    * way. DedupStreamSpec pins that parity through a real
    * Structured Streaming run. */
  def incrementalPairs(batch: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String, k: Int, bands: Int,
      threshold: Double): DataFrame = {
    val within = minhashLsh(batch, idCol, textCol, k, bands, threshold)
    val across = minhashLshAgainst(batch, corpus, idCol, textCol, k, bands,
        threshold)
      .select(least(col("new_id"), col("old_id")).as("a_id"),
        greatest(col("new_id"), col("old_id")).as("b_id"),
        col("est_jaccard"))
    within.unionByName(across)
  }

  /** 16-bit SimHash per document: bit j is the sign of Σ_tokens
    * (±1 by token-hash bit j), weighted by token frequency (tokens kept
    * with duplicates). */
  def simhash16(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val exploded = docs.select(col(idCol).as("id"),
        explode(TextFunctions.tokens(col(textCol))).as("tok"))
      .withColumn("h", TextFunctions.md5Long(col("tok")))
    val sums = (0 until 16).map(j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(lit(1L)) === 1L, 1)
        .otherwise(-1)).as(s"s$j"))
    val bits = (0 until 16).map(j =>
      when(col(s"s$j") > 0, lit(1L << j)).otherwise(lit(0L)))
    exploded.groupBy(col("id"))
      .agg(sums.head, sums.tail: _*)
      .withColumn("simhash", bits.reduce(_ + _))
      .select(col("id"), col("simhash"))
  }

  /** SimHash near-dup pairs within blocks: hamming distance ≤ maxDist.
    *
    * Candidates come from pigeonhole chunk bucketing, not an all-pairs
    * self-join: the 16-bit simhash splits into `maxDist + 1` chunks, and
    * any pair at hamming ≤ maxDist has all its differing bits confined to
    * ≤ maxDist chunks, hence shares at least one chunk EXACTLY. So the
    * candidate set is an equi-join on (blk, chunk_idx, chunk_value) —
    * shuffle-partitionable, cost Σ per-bucket² instead of Σ|block|² —
    * followed by the exact hamming verify. Output is identical to the
    * all-pairs sweep (the pigeonhole superset is filtered exactly); this
    * is the same candidates-then-verify shape as `minhashLsh`. */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
      blockCol: String, maxDist: Int): DataFrame = {
    val withBlk = docs.select(col(idCol).as("id"), col(blockCol).as("blk"),
      col(textCol).as("text"))
    val sh = simhash16(withBlk, "id", "text")
      .join(withBlk.select(col("id"), col("blk")), "id")
      .truncateLineage() // hashes computed once; reused by both join sides
    simhashPairsFromSig(sh, maxDist)
  }

  /** [[simhashPairs]] over a precomputed (id, blk, simhash) frame —
    * the shared-artifact path. `sh` must already be materialized. */
  def simhashPairsFromSig(sh: DataFrame, maxDist: Int): DataFrame = {
    require(maxDist >= 0 && maxDist < 16, s"maxDist must be in [0, 16): $maxDist")
    val nChunks = maxDist + 1
    // chunk i covers bits [bounds(i), bounds(i+1)) — widths differ by ≤1
    // when nChunks doesn't divide 16, preserving the pigeonhole guarantee
    val bounds = (0 to nChunks).map(i => i * 16 / nChunks)
    val chunks = (0 until nChunks).map { i =>
      val lo = bounds(i)
      val w = bounds(i + 1) - lo
      struct(lit(i).as("ci"),
        shiftright(col("simhash"), lo).bitwiseAND(lit((1L << w) - 1)).as("cv"))
    }
    val chunked = sh
      .select(col("blk"), col("id"), col("simhash"),
        explode(array(chunks: _*)).as("ch"))
      .select(col("blk"), col("id"), col("simhash"),
        col("ch.ci").as("ci"), col("ch.cv").as("cv"))
    // the simhash (one long) rides through the join so the verify needs no
    // third join back to `sh` — cheap here, unlike carrying array signatures
    chunked.select(col("blk"), col("ci"), col("cv"),
        col("id").as("a_id"), col("simhash").as("a_sh"))
      .join(chunked.select(col("blk"), col("ci"), col("cv"),
        col("id").as("b_id"), col("simhash").as("b_sh")), Seq("blk", "ci", "cv"))
      .filter(col("a_id") < col("b_id"))
      .select(col("blk"), col("a_id"), col("b_id"), col("a_sh"), col("b_sh"))
      .distinct() // a pair may agree on several chunks; verify once
      .withColumn("hamming", bit_count(col("a_sh").bitwiseXOR(col("b_sh"))))
      .filter(col("hamming") <= maxDist)
      .select(col("blk"), col("a_id"), col("b_id"), col("hamming"))
  }

  /** Character n-gram Jaccard near-dup within blocks — exact output via
    * AllPairs prefix filtering (SimilarityJoins.prefixPairs) over the
    * shingle sets: candidates from an equi-join on rare prefix shingles
    * instead of the within-block cross product. */
  def ngramJaccard(docs: DataFrame, idCol: String, textCol: String,
      blockCol: String, n: Int, threshold: Double): DataFrame = {
    // prefix filtering can only produce pairs sharing ≥1 shingle, so
    // threshold 0 (which the all-pairs sweep would satisfy with
    // disjoint-set pairs at sim 0.0) is outside this operator's contract
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0, 1]: $threshold")
    val g = docs.select(col(blockCol).as("blk"), col(idCol).as("id"),
        array_distinct(TextFunctions.charShingles(col(textCol), n)).as("toks"))
      .truncateLineage() // shingle once; reused by prefix + verify stages
    graft.semantic.SimilarityJoins.prefixPairs(g, threshold)
      .filter(col("sim") >= threshold)
      .select(col("blk"), col("a_id"), col("b_id"), col("sim"))
  }

  /** Incremental SemDeDup — [[semanticDuplicates]]'s daily-ingest twin
    * (the semantic analog of [[minhashLshAgainst]]): assign BOTH sides
    * to a fixed trained centroid table (e.g. `KMeans.fitCentroids` over
    * the existing corpus), then flag a batch vector as a semantic
    * duplicate when a same-cluster CORPUS vector is within `tau`
    * (vs_corpus=true) or a lower-id same-cluster BATCH mate is
    * (vs_corpus=false). The corpus is never re-paired with itself, so
    * cost tracks the batch size — the property that keeps daily
    * semantic dedup affordable at 100 TB. With append-only ids (every
    * batch id greater than every corpus id) the flagged set equals the
    * full [[semanticDuplicates]] sweep restricted to batch ids
    * (parity-pinned in ContainmentSpec's sibling suite).
    * Returns (cid, dup_id, vs_corpus). */
  def semanticDuplicatesAgainst(batch: DataFrame, corpus: DataFrame,
      centroids: DataFrame, idCol: String, vecCol: String,
      tau: Double): DataFrame = {
    import graft.semantic.KMeans
    def members(side: DataFrame) =
      KMeans.assign(side, centroids, idCol, vecCol)
        .select(col("cid"), col(idCol))
        .join(side.select(col(idCol), col(vecCol)), Seq(idCol))
    val b = members(batch)
    val c = members(corpus)
    val vsCorpus = b.select(col("cid"), col(idCol).as("dup_id"),
        col(vecCol).as("b_vec"))
      .join(c.select(col("cid"), col(vecCol).as("c_vec")), Seq("cid"))
      .filter(VectorFunctions.cosine(col("b_vec"), col("c_vec")) >= tau)
      .select(col("cid"), col("dup_id")).distinct()
    val inBatch = b.select(col("cid"), col(idCol).as("a_id"),
        col(vecCol).as("a_vec"))
      .join(b.select(col("cid"), col(idCol).as("b_id"),
        col(vecCol).as("b_vec")), Seq("cid"))
      .filter(col("a_id") < col("b_id"))
      .filter(VectorFunctions.cosine(col("a_vec"), col("b_vec")) >= tau)
      .select(col("cid"), col("b_id").as("dup_id")).distinct()
    vsCorpus.select(col("cid"), col("dup_id"), lit(true).as("vs_corpus"))
      .unionByName(inBatch.select(col("cid"), col("dup_id"),
        lit(false).as("vs_corpus")))
      .groupBy(col("cid"), col("dup_id"))
      .agg(max(col("vs_corpus")).as("vs_corpus"))
  }

  /** Containment near-dup pairs (Broder 1997, "On the resemblance and
    * containment of documents"): asymmetric subset duplication — a
    * short document embedded inside a longer one scores containment
    * |S_a ∩ S_b| / min(|S_a|,|S_b|) ≈ 1 while its symmetric Jaccard
    * stays low, so MinHash-LSH (q28) never surfaces the pair. The
    * standard quote/boilerplate/subset-dup detector.
    *
    * Scale shape: word-shingle inverted index (the q115 decontamination
    * machinery — per-doc DISTINCT hashed n-grams), with shingles whose
    * doc frequency exceeds `maxDf` dropped before the join (the classic
    * stopword cut — a documented recall trade that bounds every posting
    * list, making pair work O(Σ df²) with df ≤ maxDf, never
    * corpus-quadratic). The shared-shingle count per pair comes
    * straight off that equi-join — the full shingle sets never
    * re-join — and set sizes are measured in the same pruned universe
    * so containment is internally consistent. Integer counts
    * throughout; the two ratios are single double divisions. */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 8, maxDf: Int = 50, tau: Double = 0.8,
      minShingles: Int = 5): DataFrame = {
    val sh = docs.select(col(idCol).as("id"),
        explode(array_distinct(transform(
          graft.pipeline.Decontaminate.wordShingles(
            TextFunctions.tokens(col(textCol)), n),
          g => TextFunctions.md5Long(g)))).as("g_id"))
      .truncateLineage() // shingle once; reused by df + pair stages
    val hot = sh.groupBy(col("g_id")).agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf).select(col("g_id"))
    val pruned = sh.join(hot, Seq("g_id"), "left_anti").truncateLineage()
    val nsh = pruned.groupBy(col("id")).agg(count(lit(1)).as("nsh"))
    val pairs = pruned.select(col("g_id"), col("id").as("a_id"))
      .join(pruned.select(col("g_id"), col("id").as("b_id")), Seq("g_id"))
      .filter(col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id")).agg(count(lit(1)).as("shared"))
    pairs
      .join(nsh.select(col("id").as("a_id"), col("nsh").as("nsh_a")),
        Seq("a_id"))
      .join(nsh.select(col("id").as("b_id"), col("nsh").as("nsh_b")),
        Seq("b_id"))
      .filter(least(col("nsh_a"), col("nsh_b")) >= minShingles)
      .withColumn("containment",
        col("shared") * lit(1.0) / least(col("nsh_a"), col("nsh_b")))
      .filter(col("containment") >= tau)
      .select(col("a_id"), col("b_id"), col("shared"),
        col("nsh_a"), col("nsh_b"), col("containment"),
        (col("shared") * lit(1.0) /
          (col("nsh_a") + col("nsh_b") - col("shared"))).as("jaccard"))
  }

  /** Embedding-cosine near-dup: exact all-pairs (no blocking) — the
    * small-corpus reference sweep. The theta join (a_id < b_id) is a
    * nested loop, O(n²) with no shuffle key — correct, but NOT the form
    * to run at corpus scale; `embeddingNearDupBlocked` is. */
  def embeddingNearDup(emb: DataFrame, threshold: Double): DataFrame = {
    val a = emb.select(col("vec_id").as("a_id"), col("embedding").as("a_vec"))
    val b = emb.select(col("vec_id").as("b_id"), col("embedding").as("b_vec"))
    a.join(b, col("a_id") < col("b_id"))
      .withColumn("sim", VectorFunctions.cosine(col("a_vec"), col("b_vec")))
      .filter(col("sim") >= threshold)
      .select(col("a_id"), col("b_id"), col("sim"))
  }

  /** SemDeDup within-cluster prune (Abbas et al. 2023, "SemDeDup:
    * Data-efficient learning at web-scale through semantic
    * deduplication"): given a cluster assignment (cid, id) and the
    * vectors, flag as semantic duplicates the higher-id member of
    * every same-cluster pair with cosine >= tau. The deterministic
    * set-expressible variant of the paper's keep-one rule —
    * greedy-by-id, not path-dependent — so re-runs and engines agree
    * id-for-id. Pairs straddling cluster boundaries are never compared:
    * that is the method's documented recall trade, the same dial as
    * [[embeddingNearDupBlocked]]'s cells.
    *
    * Scale shape: the pair leg is a hash equi-join on cid, so all-pairs
    * work is O(Σ cluster_size²) — bounded by the clustering the caller
    * controls (raise k at corpus scale; the paper runs k≈11k on LAION).
    * Returns (cid, dup_id) distinct. */
  def semanticDuplicates(assignment: DataFrame, vecs: DataFrame,
      idCol: String, vecCol: String, tau: Double): DataFrame = {
    val m = assignment.select(col("cid"), col(idCol))
      .join(vecs.select(col(idCol), col(vecCol)), Seq(idCol))
    m.select(col("cid"), col(idCol).as("a_id"), col(vecCol).as("a_vec"))
      .join(m.select(col("cid"), col(idCol).as("b_id"),
        col(vecCol).as("b_vec")), Seq("cid"))
      .filter(col("a_id") < col("b_id"))
      .filter(VectorFunctions.cosine(col("a_vec"), col("b_vec")) >= tau)
      .select(col("cid"), col("b_id").as("dup_id")).distinct()
  }

  /** IVF-blocked embedding near-dup — the corpus-scale form. Dense
    * vectors admit no exact sub-quadratic threshold join (every dimension
    * is populated, so AllPairs-style prefix bounds never prune), so the
    * standard design is candidate blocking + exact verification:
    *
    *   1. deterministic centroids per label cell (mean vectors — same
    *      reproducible build as VectorSearch.ivfAssign, numpy_store.py's
    *      index semantics);
    *   2. each vector is assigned to its `probes` nearest cells
    *      (multi-probe assignment recovers pairs straddling a cell
    *      boundary — the recall dial);
    *   3. candidates = pairs sharing any assigned cell (equi-join on
    *      cell — shuffle-partitionable, no theta join anywhere);
    *   4. exact cosine ≥ threshold on candidates only.
    *
    * Cost is Σ|cell|²·probes² / nlist-ish instead of n² and every join
    * is an equi-join, so the plan holds at 1000 executors. Results are
    * a defined subset of the exact sweep (candidates only), which is the
    * operator's contract — same as any production ANN dedup pass. */
  def embeddingNearDupBlocked(emb: DataFrame, threshold: Double,
      probes: Int = 2, labelCol: String = "label"): DataFrame = {
    val cents = graft.semantic.VectorSearch.centroids(emb, labelCol)
    val byDist = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(col("dist"), col("cell"))
    val assigned = emb.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(cents)) // nlist rows — always broadcastable
      .withColumn("dist", VectorFunctions.l2Distance(col("embedding"), col("centroid")))
      .withColumn("rnk", row_number().over(byDist))
      .filter(col("rnk") <= probes)
      .select(col("vec_id"), col("cell"))
    val cand = assigned.select(col("cell"), col("vec_id").as("a_id"))
      .join(assigned.select(col("cell"), col("vec_id").as("b_id")), "cell")
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"))
      .distinct() // shared in up to `probes` cells; verify once
    cand
      .join(emb.select(col("vec_id").as("a_id"), col("embedding").as("a_vec")), "a_id")
      .join(emb.select(col("vec_id").as("b_id"), col("embedding").as("b_vec")), "b_id")
      .withColumn("sim", VectorFunctions.cosine(col("a_vec"), col("b_vec")))
      .filter(col("sim") >= threshold)
      .select(col("a_id"), col("b_id"), col("sim"))
  }

  /** Cluster canonicalization — the step every pair-producing dedup
    * needs before it can DROP anything: near-dup pairs are not
    * transitive, so "keep a, drop b" per pair can drop both ends of a
    * chain. Connected components over the pair graph define the
    * duplicate clusters; one survivor per cluster (longest text, ties
    * to the smallest id — the usual keep-the-richest-copy policy) is
    * marked canonical and the rest are droppable.
    *
    * Scale shape: the pair graph is tiny relative to the corpus (only
    * docs with a near-dup appear), label propagation shuffles narrow
    * (id, label) rows per iteration and converges in O(cluster
    * diameter) rounds — near-dup clusters are dense, so diameter is
    * small even when clusters are large. The final survivor pick is one
    * window over the clustered docs only, and the downstream drop is an
    * anti-join of the corpus against the non-canonical ids. */
  def clusters(pairs: DataFrame, docs: DataFrame, idCol: String,
      textCol: String, maxIter: Int = 20): DataFrame = {
    val edges = pairs.select(col("a_id").as("from_id"), col("b_id").as("to_id"))
    val cc = graft.graph.GraphOps.connectedComponents(edges, maxIter)
      .select(col("node_id").as(idCol), col("component").as("cluster_id"))
    val byRichness = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id"))
      .orderBy(length(col(textCol)).desc, col(idCol))
    val bySize = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id"))
    cc.join(docs.select(col(idCol), col(textCol)), idCol)
      .withColumn("cluster_size", count(lit(1)).over(bySize))
      .withColumn("is_canonical", row_number().over(byRichness) === 1)
      .select(col(idCol), col("cluster_id"), col("cluster_size"),
        col("is_canonical"))
  }
}
