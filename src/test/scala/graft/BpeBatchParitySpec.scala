package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed
import graft.text.BpeTrainer

/** Property proof for the q154 oracle's core claim: BATCHED merge
  * training (selectBatch taking every provably-independent merge per
  * census) is BIT-IDENTICAL to one-merge-at-a-time sequential BPE.
  * The DuckDB oracle replays the sequential form, so this property is
  * exactly what makes the hash gate sound; a selectBatch edit that
  * breaks the independence proof fails here on a random corpus long
  * before it maybe perturbs the fixed sf0.01 census.
  *
  * Corpora are drawn over a 3-letter alphabet with heavy repetition —
  * the adversarial regime for batching (chained symbols, self-runs
  * like "aaa", output-string collisions), where batch size degrades
  * toward 1 and every guard in selectBatch is actually exercised.
  */
class BpeBatchParitySpec extends SparkSpec {
  import spark.implicits._

  private def train(words: Seq[String], n: Int, batchTop: Int) =
    BpeTrainer.train(words.map(Tuple1(_)).toDF("text"), "text", n, batchTop)

  test("batched training == sequential training on random adversarial corpora") {
    val word = for {
      len <- Gen.choose(1, 6)
      cs <- Gen.listOfN(len, Gen.oneOf('a', 'b', 'c'))
    } yield cs.mkString
    val corpus = for {
      nw <- Gen.choose(1, 12)
      ws <- Gen.listOfN(nw, word)
    } yield ws.mkString(" ")
    val prop = Prop.forAll(Gen.listOfN(4, corpus)) { docs =>
      // batchTop=1 forces one merge per census (the sequential
      // reference); the default batches maximally
      val seq = train(docs, n = 8, batchTop = 1)
      val bat = train(docs, n = 8, batchTop = 256)
      if (seq != bat)
        println(s"MISMATCH on $docs:\n  seq=$seq\n  bat=$bat")
      seq == bat
    }
    // 30 corpora: each case runs two Spark training loops; this is an
    // equivalence proof, not a load test. The seed is fixed so a
    // failure reproduces on every run.
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(30).withInitialSeed(Seed(20261018L)), prop)
    assert(res.passed, res.status.toString)
  }

  test("batched training == sequential training when a merge creates a " +
    "pair that wins a tie-break") {
    // census (a,c), (b,</w>), (c,b), all count 1: merging (a,c) makes
    // (ac,b), which ties (b,</w>) and sorts first, so (b,</w>) must not
    // join (a,c)'s batch
    Seq(Seq("acb"), Seq("acb a"), Seq("bc c abaa baacb a")).foreach { docs =>
      assert(train(docs, n = 8, batchTop = 256) ==
        train(docs, n = 8, batchTop = 1), docs)
    }
  }

  test("DedupIndex.pairs == a direct minhashLsh run at the operating threshold") {
    import org.apache.spark.sql.functions._
    val direct = graft.dedup.Dedup.minhashLsh(
        graft.Tables.load(spark, sf, "documents"), "doc_id", "text",
        k = graft.dedup.DedupIndex.K, bands = graft.dedup.DedupIndex.Bands,
        threshold = graft.dedup.DedupIndex.Threshold)
      .select(col("a_id"), col("b_id"), col("est_jaccard"))
      .collect().map(_.toSeq).toSet
    val indexed = graft.dedup.DedupIndex.pairs(spark, sf)
      .select(col("a_id"), col("b_id"), col("est_jaccard"))
      .collect().map(_.toSeq).toSet
    assert(direct == indexed && direct.nonEmpty)
  }
}
