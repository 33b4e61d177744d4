package graft

import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.semantic.VectorSearch

/** Diagnostic main: empirical recall of the IVF ANN paths vs the exact
  * sweep, across nprobe ∈ {1, 2, 4} — the numbers behind the
  * docs/TUNING.md recall table.
  *
  *  - top-k recall (the q22 shape): mean recall@10 of `ivfSearch` vs the
  *    exact cosine top-10, over the first 50 vectors used as queries.
  *  - near-dup pair recall (the q31 shape): fraction of the exact
  *    threshold-pairs (`embeddingNearDup`) that the IVF-blocked form
  *    (`embeddingNearDupBlocked`) recovers. The blocked form is
  *    exact-verified, so precision is 1.0 by construction — recall is
  *    the only dial.
  *
  * Usage: runMain graft.RecallReport [sfDir]
  */
object RecallReport {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession.local("graft-recall")
    val emb = Tables.load(spark, sfDir, "embeddings").cache()
    emb.count()

    // ---- top-k recall (q22 shape) ----
    val cents = VectorSearch.centroids(emb, "label").cache()
    val assigned = VectorSearch.ivfAssign(emb, "label", Some(cents)).cache()
    assigned.count()
    val queryIds = emb.select("vec_id").orderBy("vec_id").limit(50)
      .collect().map(_.getLong(0))
    val k = 10
    // exact ground truth is nprobe-independent — compute once per query
    val groundTruth = queryIds.map { qid =>
      val qvec = emb.filter(col("vec_id") === qid).select("embedding")
      qid -> VectorSearch.topK(emb, qvec, k)
        .select("vec_id").collect().map(_.getLong(0)).toSet
    }.toMap
    for (nprobe <- Seq(1, 2, 4)) {
      val recalls = queryIds.map { qid =>
        val qvec = emb.filter(col("vec_id") === qid).select("embedding")
        val approx = VectorSearch.ivfSearch(assigned, cents, qvec, k, nprobe)
          .select("vec_id").collect().map(_.getLong(0)).toSet
        approx.intersect(groundTruth(qid)).size.toDouble / k
      }
      println(f"[recall] topk_q22 nprobe=$nprobe recall@$k=${recalls.sum / recalls.length}%.4f")
    }

    // ---- PQ ADC recall (q91 shape) vs exact L2 top-k ----
    val books = VectorSearch.pqCodebooks(emb, "label", m = 8, dim = 64).cache()
    books.count()
    val encoded = VectorSearch.pqEncode(emb, books, m = 8, dim = 64).cache()
    encoded.count()
    val pqRecalls = queryIds.map { qid =>
      val qvec = emb.filter(col("vec_id") === qid).select("embedding")
      val exactL2 = emb.crossJoin(broadcast(qvec.select(col("embedding").as("qv"))))
        .withColumn("d", graft.functions.VectorFunctions.l2Distance(
          col("embedding"), col("qv")))
        .orderBy(col("d"), col("vec_id")).limit(10)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      val approx = VectorSearch.pqSearch(encoded, books, qvec, 10, m = 8, dim = 64)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      approx.intersect(exactL2).size.toDouble / 10
    }
    println(f"[recall] pq_q91 m=8 recall@10=${pqRecalls.sum / pqRecalls.length}%.4f")

    // ---- SQ8 recall (q92 shape) vs exact L2 top-k ----
    val sqp = VectorSearch.sq8Params(emb).cache()
    sqp.count()
    val sqEnc = VectorSearch.sq8Encode(emb, sqp).cache()
    sqEnc.count()
    val sqRecalls = queryIds.map { qid =>
      val qvec = emb.filter(col("vec_id") === qid).select("embedding")
      val exactL2 = emb.crossJoin(broadcast(qvec.select(col("embedding").as("qv"))))
        .withColumn("d", graft.functions.VectorFunctions.l2Distance(
          col("embedding"), col("qv")))
        .orderBy(col("d"), col("vec_id")).limit(10)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      val approx = VectorSearch.sq8Search(sqEnc, sqp, qvec, 10)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      approx.intersect(exactL2).size.toDouble / 10
    }
    println(f"[recall] sq8_q92 recall@10=${sqRecalls.sum / sqRecalls.length}%.4f")

    // ---- near-dup pair recall (q31 shape) ----
    val threshold = 0.35
    val exactPairs = Dedup.embeddingNearDup(emb, threshold)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    for (probes <- Seq(1, 2, 4)) {
      val got = Dedup.embeddingNearDupBlocked(emb, threshold, probes)
        .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      require(got.subsetOf(exactPairs), "blocked form produced a false positive")
      println(f"[recall] neardup_q31 probes=$probes recall=${
        got.size.toDouble / exactPairs.size}%.4f pairs=${got.size}/${exactPairs.size}")
    }
    spark.stop()
  }
}
