package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.engine.SessionCache
import graft.engine.Lineage.LineageOps

/** Materialized near-dup index over the `documents` table — the dedup
  * analog of KGraph's oriented edge indexes: the LSH pair graph and its
  * connected-component cluster table are ingestion-time artifacts a
  * curation pipeline builds ONCE and every downstream consumer reads
  * (canonicalization q126, duplicate-flow q135, soft-dedup weighting
  * q143, cluster-safe split q156, threshold sweep q162, edit-distance
  * audit q183, cluster histogram q186, cohesion grading q226 — the
  * round-8 finding was each of them recomputing the identical pair
  * graph, ~20 s of the 41-headliner bench).
  *
  * The pair frame is materialized at the FLOOR threshold (0.5, the
  * q176 calibration sweep's operating point — the loosest any catalog
  * consumer queries): `minhashLsh`'s banding and estimate are
  * threshold-independent — the threshold is only the final filter — so
  * every consumer at a tighter threshold is an exact filter of this
  * one frame (pairs(0.9) == pairs(0.5) WHERE est >= 0.9, bit-for-bit),
  * and the candidate-generation + scoring work (the actual cost) is
  * identical at any floor. Storing the index at the loosest threshold
  * an operator might query is exactly how the production artifact
  * would be laid out; the floor only sizes the RETAINED frame (~3.5M
  * rows at sf0.1 — narrow, checkpoint-cheap).
  *
  * At 100 TB this is a bucketed parquet table written by the ingestion
  * job; here it is a lineage-truncated frame cached per (session, sf).
  */
object DedupIndex {

  val K = 12
  val Bands = 2
  /** Loosest threshold any catalog consumer queries (q176's
    * calibration sample; q162 sweeps from 0.7). */
  val FloorThreshold = 0.5
  /** The operating near-dup threshold (q28 and every cluster consumer). */
  val Threshold = 0.9
  /** The SimHash catcher's hamming radius (q29/q277's operating point). */
  val SimhashMaxDist = 3

  private def docs(spark: SparkSession, dir: String) =
    Tables.load(spark, dir, "documents")

  /** Per-document signature table (id, blk, sig, simhash), built once
    * per (session, sfDir): ONE documents scan and ONE md5-per-token
    * pass feed BOTH catchers — the MinHash signature (array_distinct of
    * the hash array, exact: array_min is multiplicity-blind) and the
    * per-row SimHash (same integer arithmetic as the explode/groupBy
    * form, without the corpus-token-sized explode). Round-12 verdict
    * item 4: the two legs each re-tokenized and re-hashed the corpus. */
  def signatures(spark: SparkSession, dir: String): DataFrame =
    SessionCache.getOrBuild(spark, s"dedup|$dir|sigs")(
      // null-text docs are DROPPED, matching the legacy explode paths
      // (explode of a null token array emits no rows, so
      // Dedup.simhash16 / minhashLsh never saw them) — without the
      // filter the per-row SimHash degrades null to simhash 0 and all
      // null docs would pair at distance 0 (ADVICE r13). Empty text is
      // NOT null: split("", " ") yields one "" token in both paths.
      docs(spark, dir).filter(col("text").isNotNull)
        .select(col("doc_id").as("id"), col("source").as("blk"),
          graft.text.TextFunctions.tokenHashes(col("text")).as("hs"))
        .select(col("id"), col("blk"),
          graft.text.TextFunctions.minhashSignatureFromHashes(col("hs"), K)
            .as("sig"),
          graft.text.TextFunctions.simhash16FromHashes(col("hs"))
            .as("simhash"))
        .truncateLineage())

  /** Candidate pair frame (a_id, b_id, est_jaccard) at the sweep floor,
    * built once per (session, sfDir). The artifact materializes the
    * SCORED frame and applies the floor filter over the checkpoint:
    * the floor threshold evaluated inside the scoring join's
    * whole-stage-codegen stage measured ~8 s at sf0.1 vs ~0.5 s with
    * this barrier (the ~50× predicate-in-join-stage pathology — see
    * Dedup.minhashLshFromSig's scaladoc); at the floor ~98% of scored
    * candidates are retained anyway, so the materialized frame is the
    * same size either way. */
  def candidatePairs(spark: SparkSession, dir: String): DataFrame =
    SessionCache.getOrBuild(spark, s"dedup|$dir|pairs")(
      Dedup.minhashLshScored(
          signatures(spark, dir).select(col("id"), col("sig")), K, Bands)
        .truncateLineage()
        .filter(col("est_jaccard") >= FloorThreshold))

  /** The operating pair graph: exact filter of [[candidatePairs]] to
    * the q28 threshold — identical to running minhashLsh at 0.9. */
  def pairs(spark: SparkSession, dir: String): DataFrame =
    candidatePairs(spark, dir).filter(col("est_jaccard") >= Threshold)

  /** Duplicate-cluster table (doc_id, cluster_id, cluster_size,
    * is_canonical) over [[pairs]] — Dedup.clusters materialized once.
    * Only docs participating in a near-dup pair appear. */
  def clusters(spark: SparkSession, dir: String): DataFrame =
    SessionCache.getOrBuild(spark, s"dedup|$dir|clusters")(
      Dedup.clusters(pairs(spark, dir), docs(spark, dir), "doc_id", "text")
        .truncateLineage())

  /** The SECOND catcher table: source-blocked SimHash pairs
    * (blk, a_id, b_id, hamming) at hamming ≤ [[SimhashMaxDist]] —
    * same build-once contract as the LSH pair graph. q29 reads it
    * directly and q277's capture–recapture probes it; before round 10
    * the recall estimate re-ran the full SimHash candidate join per
    * call while its LSH side read this index (4.7× at 10× data). */
  def simhashPairs(spark: SparkSession, dir: String): DataFrame =
    SessionCache.getOrBuild(spark, s"dedup|$dir|simhash")(
      Dedup.simhashPairsFromSig(
          signatures(spark, dir).select(col("id"), col("blk"), col("simhash")),
          maxDist = SimhashMaxDist)
        .truncateLineage())
}
