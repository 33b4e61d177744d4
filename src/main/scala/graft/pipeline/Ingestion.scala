package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.text.TextFunctions
import graft.semantic.SimilarityJoins
import graft.engine.Lineage.LineageOps

/** End-to-end ingestion pipeline (reference lifecycle:
  * advanced_extractor.py:84-196 → merging.py → relationship_extractor
  * .py:798-880): documents → knowledge-unit extraction (flatMap) →
  * dedup-merge → embeddings → relationship discovery → graph tables.
  *
  * Extraction and embedding are pluggable provider traits; the defaults
  * are deterministic (no network), which is what the correctness path
  * and tests use. A production deployment swaps in an LLM extractor /
  * model embedder behind the same traits — the Spark plumbing
  * (batching, dedup-before-embed, joins) is identical.
  */
object Ingestion {

  /** text → knowledge units (the reference's only UDTF-shaped operator,
    * advanced_extractor.py:51-82). */
  trait KnowledgeExtractor extends Serializable {
    def extract(docId: Long, text: String): Seq[(String, Seq[String])] // (content, tags)
  }

  /** Deterministic fallback extractor: clause-per-unit, tags = distinct
    * leading tokens. */
  object SentenceExtractor extends KnowledgeExtractor {
    def extract(docId: Long, text: String): Seq[(String, Seq[String])] =
      text.split("\\.\\s+").toSeq.filter(_.nonEmpty).map { s =>
        (s, s.split(" ").toSeq.filter(_.nonEmpty).distinct.take(3))
      }
  }

  /** Batched embedding provider (embeddings/embedding_manager.py:140-214).
    * Implementations should be vectorized per partition. */
  trait EmbeddingProvider extends Serializable {
    def dim: Int
    def embed(texts: Seq[String]): Seq[Array[Float]]
  }

  /** Deterministic hash-embedding: tokens hashed into `dim` buckets with
    * ±1 signs, L2-normalized — the no-network default, and a reasonable
    * lexical-overlap embedding in its own right. */
  final case class HashEmbedding(dim: Int = 64) extends EmbeddingProvider {
    def embed(texts: Seq[String]): Seq[Array[Float]] = texts.map { t =>
      val v = new Array[Float](dim)
      t.split(" ").foreach { w =>
        val h = w.hashCode
        val idx = math.floorMod(h, dim)
        v(idx) += (if ((h >> 31) == 0) 1.0f else -1.0f)
      }
      val n = math.sqrt(v.map(x => x.toDouble * x).sum)
      if (n > 0) v.map(x => (x / n).toFloat) else v
    }
  }

  final case class IngestResult(nodes: DataFrame, edges: DataFrame,
      embeddings: DataFrame, revisions: DataFrame)

  /** Full pipeline. `docs` needs (doc_id, text, source, ts?). */
  def ingest(spark: SparkSession, docs: DataFrame,
      extractor: KnowledgeExtractor = SentenceExtractor,
      embedder: EmbeddingProvider = HashEmbedding(),
      jaccardThreshold: Double = 0.7): IngestResult = {
    import spark.implicits._

    // 1. Extract knowledge units (flatMap — distributed UDTF shape).
    //    Unit id = (doc_id << 20) | unit_index: collision-free for
    //    doc_id < 2^43 and ≤ 2^20 units per document (both enforced).
    val units = docs.select(col("doc_id"), col("text"), col("source"))
      .filter(col("text").isNotNull && col("doc_id").isNotNull)
      .as[(Long, String, String)]
      .flatMap { case (id, text, source) =>
        require(id >= 0 && id < (1L << 43), s"doc_id $id out of id-packing range")
        extractor.extract(id, text).take(1 << 20).zipWithIndex
          .map { case ((content, tags), i) =>
            ((id << 20) | i, content, tags, source)
          }
      }
      .toDF("node_id", "content", "tags", "source")

    // 2. Dedup-merge on normalized content (merging.py:17-111): exact
    //    groups collapse to the min-id representative (min_by keeps the
    //    representative's content deterministic — first() is not).
    val keyed = units.withColumn("key",
      md5(array_join(array_sort(TextFunctions.distinctTokens(col("content"))), " ")))
    val reps = keyed.groupBy(col("key"))
      .agg(min(col("node_id")).as("node_id"),
        min_by(col("content"), col("node_id")).as("content"),
        array_sort(array_distinct(flatten(collect_list(col("tags"))))).as("tags"),
        array_sort(collect_set(col("source"))).as("sources"),
        count(lit(1)).as("merged_from"))
      .withColumn("source", array_join(col("sources"), "; "))
      .truncateLineage() // feeds nodes, embeddings, both edge joins, revisions

    // 3. Embed unique contents only (dedup-before-embed: identical texts
    //    embed once), batched per partition.
    val embedded = reps.select(col("node_id"), col("content"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val batch = it.toSeq
        batch.map(_._1).zip(embedder.embed(batch.map(_._2))).iterator
      }
      .toDF("node_id", "embedding")

    // 4. Relationship discovery: SAME_SOURCE + token-Jaccard SIMILAR_TAGS
    //    (LSH-gated at scale) — the ingest-time joins of §2.3. Blocking
    //    uses the EXPLODED per-origin sources (not the merged "; "-joined
    //    string), so a node merged from s1+s2 still pairs with s1-only
    //    nodes; multi-shared-source pairs are deduplicated.
    val forJoin = reps.select(explode(col("sources")).as("blk"),
      col("node_id"), col("content").as("text"))
    val similar = SimilarityJoins
      .tokenJaccardJoin(forJoin, "blk", "text", jaccardThreshold,
        idCol = "node_id")
      .groupBy(col("a_id"), col("b_id")) // a pair may share several sources
      .agg(max(col("confidence")).as("confidence"))
      .select(col("a_id").as("from_id"), col("b_id").as("to_id"),
        lit("SIMILAR_TAGS").as("relation_type"),
        col("confidence"))
    val bySrc = forJoin.select(col("blk"), col("node_id"))
    val sameSource = bySrc.alias("a").join(bySrc.alias("b"),
        col("a.blk") === col("b.blk") && col("a.node_id") < col("b.node_id"))
      .select(col("a.node_id").as("from_id"), col("b.node_id").as("to_id"))
      .distinct()
      .select(col("from_id"), col("to_id"),
        lit("SAME_SOURCE").as("relation_type"), lit(0.7).as("confidence"))
    val edges = similar.unionByName(sameSource)

    // 5. Revision log: every created node gets a 'create' entry.
    val revisions = reps.select(
      concat(lit("rev-"), col("node_id")).as("rev_id"),
      lit("node").as("object_type"),
      col("node_id").cast("string").as("object_id"),
      lit("create").as("change_type"))

    IngestResult(reps.drop("key", "sources"), edges, embedded, revisions)
  }
}
