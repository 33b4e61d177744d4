package graft.semantic

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.VectorFunctions._

/** Vector search operators (SURVEY.md §2.6): exact top-k, thresholded /
  * metadata-filtered search, batch k-NN join, exact similarity self-join,
  * and an IVF (inverted-file) ANN index for the 100 TB scale path.
  *
  * Scale design: the query vector(s) are broadcast (tiny side); exact
  * top-k compiles to TakeOrderedAndProject (no full sort, no shuffle of
  * the data side); the k-NN join partitions by query id; IVF turns a
  * full scan into `nprobe/nlist` of the data — the standard recall/cost
  * dial — and the centroid assignment is a broadcast join.
  */
object VectorSearch {

  /** Exact top-k by cosine against one query vector: orderBy+limit →
    * Spark plans TakeOrderedAndProject, a per-partition heap + driver
    * merge — the distributed argpartition the reference does in NumPy
    * (numpy_store.py:358-364). */
  def topK(data: DataFrame, queryVec: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    data.crossJoin(broadcast(queryVec.select(col(vecCol).as("qvec"))))
      .withColumn("sim", cosine(col(vecCol), col("qvec")))
      .select(col(idCol), col("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)

  /** Thresholded + metadata-filtered variant (vector_store_interface
    * .py:181-201: filter_expr pre-filters BEFORE similarity ranking —
    * the filter prunes the scan, it is not post-filtering). */
  def topKFiltered(data: DataFrame, queryVec: DataFrame, k: Int,
      threshold: Double, preFilter: org.apache.spark.sql.Column,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    data.filter(preFilter)
      .crossJoin(broadcast(queryVec.select(col(vecCol).as("qvec"))))
      .withColumn("sim", cosine(col(vecCol), col("qvec")))
      .filter(col("sim") >= threshold) // prune BEFORE the top-k heap
      .select(col(idCol), col("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)

  /** Batch k-NN join: top-k neighbors for EACH query row — window
    * row_number partitioned by query id, so ranking is distributed per
    * query (no global sort). */
  def knnJoin(data: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = broadcast(queries.select(col("vec_id").as("q_id"),
      col("embedding").as("q_vec")))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("vec_id"))
    data.crossJoin(q)
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("sim", cosine(col("embedding"), col("q_vec")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("vec_id"), col("rnk"), col("sim"))
  }

  /** Exact similarity self-join within blocks: equi-join on the blocking
    * key turns O(n²) into Σ|block|² — the correctness-preserving
    * replacement for the reference's all-pairs loops
    * (relationship_extractor.py:617-713). At scale, skewed blocks get
    * AQE skew-split; LSH (Dedup.scala) is the sub-quadratic path. */
  def similaritySelfJoin(data: DataFrame, blockCol: String,
      threshold: Double): DataFrame = {
    val a = data.select(col(blockCol).as("blk"), col("vec_id").as("a_id"),
      col("embedding").as("a_vec"))
    val b = data.select(col(blockCol).as("blk"), col("vec_id").as("b_id"),
      col("embedding").as("b_vec"))
    a.join(b, "blk")
      .filter(col("a_id") < col("b_id"))
      .withColumn("sim", cosine(col("a_vec"), col("b_vec")))
      .filter(col("sim") >= threshold)
      .select(col("blk"), col("a_id"), col("b_id"), col("sim"))
  }

  /** IVF index build: centroid per partition-label (deterministic mean
    * — no sampled k-means, so results are reproducible and
    * oracle-checkable), then assign every vector to its nearest
    * centroid. Returns (vec_id, embedding, cell). */
  def ivfAssign(data: DataFrame, labelCol: String = "label",
      precomputed: Option[DataFrame] = None): DataFrame = {
    val cents = precomputed.getOrElse(centroids(data, labelCol)) // (cell, centroid)
    val w = Window.partitionBy(col("vec_id")).orderBy(col("dist"), col("cell"))
    data.crossJoin(broadcast(cents))
      .withColumn("dist", l2Distance(col("embedding"), col("centroid")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") === 1)
      .select(col("vec_id"), col("embedding"), col("cell"))
  }

  /** Per-label mean vectors via posexplode + per-dimension avg —
    * distributed, no vector collects on the driver. */
  def centroids(data: DataFrame, labelCol: String): DataFrame =
    data.select(col(labelCol).as("cell"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy(col("cell"), col("pos"))
      .agg(avg(col("x").cast("double")).as("cx"))
      .groupBy(col("cell"))
      .agg(array_sort(collect_list(struct(col("pos"), col("cx")))).as("pairs"))
      .select(col("cell"), expr("transform(pairs, p -> p.cx)").as("centroid"))

  // ---- IVF_PQ: product quantization + ADC scan -----------------------
  // The second index family of the reference's enum (vector_store_
  // interface.py:24-44 lists FLAT/IVF_*/HNSW/ANNOY; FLAT + IVF are
  // above). PQ compresses each vector to `m` small codes (one per
  // contiguous dimension subspace) against per-subspace codebooks;
  // search computes a query-specific lookup table of partial squared
  // distances (m × ncodes doubles — broadcastable at any corpus size)
  // and scores every vector with ONE array lookup per subspace: a
  // single scan over rows carrying m ints, no shuffle, TakeOrdered
  // top-k. This is the batch-scale ANN shape (HNSW, the remaining enum
  // row, is an online-serving graph index — out of scope for a batch
  // engine, documented in README). Codebooks are label-mean subvectors
  // (deterministic, like `centroids`), so the whole path is
  // oracle-checkable; production corpora would swap in k-means
  // codebooks without changing any plan shape.

  private def sqDist(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.squaredL2(a, b)

  private def subspaced(df: DataFrame, idCols: Seq[String], dsub: Int,
      out: String): DataFrame =
    df.select(idCols.map(col) :+
        posexplode(col("embedding").cast("array<double>")).as(Seq("pos", "x")): _*)
      .withColumn("sub", (col("pos") / dsub).cast("int"))
      .groupBy((idCols :+ "sub").map(col): _*)
      .agg(array_sort(collect_list(struct(col("pos"), col("x")))).as("pairs"))
      .select(idCols.map(col) :+ col("sub") :+
        expr("transform(pairs, p -> p.x)").as(out): _*)

  /** PQ codebooks: `m` contiguous subspaces over `dim` dimensions
    * (last one shorter when m ∤ dim); one codeword per distinct label
    * per subspace = that label's mean subvector.
    * Returns (sub, code, codeword). */
  def pqCodebooks(data: DataFrame, labelCol: String, m: Int, dim: Int): DataFrame = {
    val dsub = (dim + m - 1) / m
    data.select(col(labelCol).cast("int").as("code"),
        posexplode(col("embedding").cast("array<double>")).as(Seq("pos", "x")))
      .withColumn("sub", (col("pos") / dsub).cast("int"))
      .groupBy(col("sub"), col("code"), col("pos"))
      .agg(avg(col("x")).as("cx"))
      .groupBy(col("sub"), col("code"))
      .agg(array_sort(collect_list(struct(col("pos"), col("cx")))).as("pairs"))
      .select(col("sub"), col("code"),
        expr("transform(pairs, p -> p.cx)").as("codeword"))
  }

  /** PQ encode: each vector → `m` codes (nearest codeword per subspace,
    * ties by code). Returns (vec_id, codes: array<int>) — the compact
    * row-sized index a 100 TB corpus stores instead of raw vectors. */
  def pqEncode(data: DataFrame, books: DataFrame, m: Int, dim: Int): DataFrame = {
    val dsub = (dim + m - 1) / m
    val byDist = Window.partitionBy(col("vec_id"), col("sub"))
      .orderBy(col("d2"), col("code"))
    subspaced(data, Seq("vec_id"), dsub, "subvec")
      .join(broadcast(books), "sub")
      .withColumn("d2", sqDist(col("subvec"), col("codeword")))
      .withColumn("rn", row_number().over(byDist))
      .filter(col("rn") === 1)
      .groupBy(col("vec_id"))
      .agg(array_sort(collect_list(struct(col("sub"), col("code")))).as("sc"))
      .select(col("vec_id"), expr("transform(sc, p -> p.code)").as("codes"))
  }

  /** ADC search: build the query's (sub × code) table of partial squared
    * distances, broadcast it as one nested row of per-subspace
    * code→distance MAPS, and score every encoded vector with
    * per-subspace lookups — approx top-k by quantized L2. The map form
    * works for ARBITRARY code ids (a positional array indexed by raw
    * code value assumed dense 0-based ids and overflowed the moment
    * cell ids were strided — the round-11 ScaleGen shard-label fix
    * surfaced exactly that; production cell ids are never guaranteed
    * dense). Ordering uses the ROUNDED distance (6 dp) so ranking is
    * stable across summation orders. */
  def pqSearch(encoded: DataFrame, books: DataFrame, queryVec: DataFrame,
      k: Int, m: Int, dim: Int): DataFrame = {
    val dsub = (dim + m - 1) / m
    // ceil-division subspacing can yield FEWER than m non-empty
    // subspaces (m=4, dim=9 → dsub=3 → subs 0..2 only); sizing the LUT
    // by m would leave null holes that zip_with pads codes against,
    // nulling every adc_dist (round-11 review). Size by the actual
    // subspace count — pqEncode's codes arrays have the same length.
    val mEff = (dim + dsub - 1) / dsub
    val qsub = subspaced(queryVec.select(lit(0L).as("vec_id"), col("embedding")),
      Seq("vec_id"), dsub, "qsub").drop("vec_id")
    val lut = books.join(qsub, "sub")
      .withColumn("pd", sqDist(col("codeword"), col("qsub")))
      .groupBy(col("sub"))
      .agg(map_from_entries(array_sort(
        collect_list(struct(col("code"), col("pd"))))).as("cp"))
      .groupBy()
      // struct<sub, map> is not orderable, so the per-sub layout is
      // rebuilt by explicit index lookup instead of array_sort
      .agg(collect_list(struct(col("sub"), col("cp"))).as("sp"))
      .select(expr(s"transform(sequence(0, ${mEff - 1}), " +
        "i -> filter(sp, p -> p.sub = i)[0].cp)").as("lut"))
    encoded.crossJoin(broadcast(lut))
      .withColumn("adc_dist", round(sqrt(aggregate(
        zip_with(col("codes"), col("lut"),
          (c, subLut) => element_at(subLut, c)),
        lit(0.0), (acc, v) => acc + v)), 6))
      .orderBy(col("adc_dist"), col("vec_id"))
      .limit(k)
      .select(col("vec_id"), col("adc_dist"))
  }

  /** Minimum per-subspace codebook cardinality for AUTO to hand out
    * IVF_PQ: 256 codewords (the standard 8-bit PQ setting). Measured at
    * sf0.1 (docs/TUNING.md): 10-codeword books give recall@10 = 0.16 —
    * an index that loses 5 of every 6 true neighbors is not a usable
    * default, so small-book corpora fall back to IVF_SQ8 (same 4×
    * compression ballpark, 0.99 measured recall). */
  val MinPqCodebookSize = 256

  /** AUTO index selection (the enum's AUTO row,
    * vector_store_interface.py:24-44): the documented policy a batch
    * engine applies per corpus — FLAT below ~100k vectors (an exact scan
    * beats any index build), IVF_FLAT to ~100M (scan fraction
    * nprobe/nlist), IVF_SQ8 beyond (4× compression at 0.99 measured
    * recall). IVF_PQ is handed out only when storage dominates AND the
    * available codebooks meet [[MinPqCodebookSize]] — below that the
    * policy emits IVF_SQ8 rather than disclose-and-proceed at recall
    * 0.16 (docs/TUNING.md "PQ recall"). */
  def autoIndex(nVectors: Long, storageBound: Boolean = false,
      codebookSize: Int = MinPqCodebookSize): String =
    if (storageBound && codebookSize >= MinPqCodebookSize) "IVF_PQ"
    else if (storageBound) "IVF_SQ8"
    else if (nVectors < 100000L) "FLAT"
    else if (nVectors < 100000000L) "IVF_FLAT"
    else "IVF_SQ8"

  // ---- IVF_SQ8: per-dimension scalar quantization ---------------------
  // The third batch-relevant index family of the enum: each dimension
  // compresses to an 8-bit code against per-dimension [min, max] ranges
  // (4× smaller than float32; 8× smaller than the double form). Search
  // dequantizes on the fly — one broadcastable params row, no shuffle.
  // Quantization uses floor(v·255 + 0.5) (half-up for non-negative v),
  // which Spark and DuckDB compute identically, so the path is
  // oracle-checkable end to end.

  /** Per-dimension [min, max] over the corpus, as one broadcastable row
    * of (mins, maxs) arrays ordered by dimension. */
  def sq8Params(data: DataFrame): DataFrame =
    data.select(posexplode(col("embedding").cast("array<double>")).as(Seq("pos", "x")))
      .groupBy(col("pos"))
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .groupBy()
      .agg(array_sort(collect_list(struct(col("pos"), col("mn"), col("mx"))))
        .as("pm"))
      .select(expr("transform(pm, p -> p.mn)").as("mins"),
        expr("transform(pm, p -> p.mx)").as("maxs"))

  /** SQ8 encode: code_i = floor((x_i − min_i)/(max_i − min_i)·255 + 0.5),
    * constant dims → 0. Returns (vec_id, codes: array<int>). */
  def sq8Encode(data: DataFrame, params: DataFrame): DataFrame =
    data.crossJoin(broadcast(params))
      .select(col("vec_id"),
        expr("""transform(embedding, (x, i) ->
          CASE WHEN maxs[i] = mins[i] THEN 0
               ELSE CAST(floor((CAST(x AS DOUBLE) - mins[i]) /
                 (maxs[i] - mins[i]) * 255 + 0.5) AS INT) END)""").as("codes"))

  /** SQ8 search: rank by L2 between the query and the DEQUANTIZED codes
    * (x'_i = min_i + code_i/255·(max_i − min_i)) — a single scan over
    * int8-sized codes with the params row broadcast. Rounded distance
    * (6 dp) orders the result for cross-engine stability. */
  def sq8Search(encoded: DataFrame, params: DataFrame, queryVec: DataFrame,
      k: Int): DataFrame =
    encoded.crossJoin(broadcast(params))
      .crossJoin(broadcast(queryVec
        .select(col("embedding").cast("array<double>").as("qv"))))
      .withColumn("dq", expr("""transform(codes, (c, i) ->
        mins[i] + CAST(c AS DOUBLE) / 255 * (maxs[i] - mins[i]))"""))
      .withColumn("sq_dist",
        round(sqrt(graft.functions.VectorFunctions.squaredL2(col("dq"), col("qv"))), 6))
      .orderBy(col("sq_dist"), col("vec_id"))
      .limit(k)
      .select(col("vec_id"), col("sq_dist"))

  /** IVF search: probe the `nprobe` nearest cells for the query, exact
    * cosine top-k inside those cells only. */
  def ivfSearch(assigned: DataFrame, cents: DataFrame, queryVec: DataFrame,
      k: Int, nprobe: Int): DataFrame = {
    val probed = cents.crossJoin(broadcast(queryVec.select(col("embedding").as("q_vec"))))
      .withColumn("dist", l2Distance(col("centroid"), col("q_vec")))
      .orderBy(col("dist"), col("cell")).limit(nprobe)
      .select(col("cell"))
    assigned.join(broadcast(probed), "cell")
      .crossJoin(broadcast(queryVec.select(col("embedding").as("q_vec"))))
      .withColumn("sim", cosine(col("embedding"), col("q_vec")))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(k)
      .select(col("vec_id"), col("cell"), col("sim"))
  }
}
