package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synthesizes a larger scale factor from an existing one for
  * scale-proofing benches (the driver only ships sf ≤ 0.1). The corpus
  * grows as `factor` independent "shards": every shard is a
  * statistically-identical copy of the base with a DISJOINT key space —
  * shifted entity ids, renamed block keys, injectively-renamed text
  * tokens, orthogonally-transformed embeddings. Per-block/per-key
  * densities therefore stay constant while block/key count grows —
  * the growth model of a real corpus gaining new sources/users/
  * communities, and the one under which "runtime scales ≤ ~N× for N×
  * data" is the right pass/fail bar. (Growing the same blocks N× deeper
  * instead would make every within-block pair workload grow N²× by
  * construction, which measures the data model, not the engine.)
  *
  * Shared dimension tables (nation, region) keep their size, exactly as
  * TPC-H does at higher SF: new customers/suppliers attach to the same
  * nations, so graph traversals fan out through the same hubs into
  * `factor`× the entities.
  *
  * Determinism: pure column expressions over the base tables — no RNG.
  * Usage: runMain graft.ScaleGen <baseDir> <outDir> [factor]
  */
object ScaleGen {

  private val Shift = 10000000L // key-space stride per shard (> any base id)

  /** Max base embedding label per base dir, computed once (the guard in
    * `shard` runs per call; the constant it checks doesn't). STALENESS
    * NOTE (ADVICE r13): the memo is keyed on baseDir only, so
    * regenerating the base dir's contents within one JVM session would
    * leave the guard checking the old max — fine for the dev-main
    * usage (one generation per process); re-key on a table snapshot if
    * in-session regeneration ever becomes a flow. */
  private val labelMax =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  private def shifted(df: DataFrame, s: Int, keys: Seq[String]): DataFrame = {
    if (s == 0) {
      // validate once per table: base ids must fit under the stride or
      // shards would collide (e.g. chaining ScaleGen on its own output)
      // cast to long so integer-typed key columns still hit the designed
      // require() message instead of a ClassCastException in getLong
      val maxCols = keys.map(k => max(col(k).cast("long")))
      val maxes = df.agg(
        (if (maxCols.size == 1) maxCols.head
         else greatest(maxCols: _*)).as("m")).head()
      require(maxes.isNullAt(0) || maxes.getLong(0) < Shift,
        s"base ids in ${keys.mkString("/")} reach ${maxes.getLong(0)} ≥ " +
          s"stride $Shift — shard key spaces would collide; rescale Shift " +
          "or use a smaller base")
    }
    keys.foldLeft(df)((d, k) =>
      d.withColumn(k, col(k).cast("long") + lit(s * Shift)))
  }

  /** token → token+"x<s>q": injective on the token space, so within-shard
    * Jaccard/minhash/simhash structure is EXACTLY the base corpus's;
    * across shards token sets are disjoint (no spurious near-dups). */
  private def renameTokens(text: Column, s: Int): Column =
    array_join(transform(split(text, " "), t => concat(t, lit(s"x${s}q"))), " ")

  /** Orthogonal per-shard transform: flip the sign of dimension i when
    * popcount(i & s) is odd. Preserves every within-shard inner product
    * and norm bit-for-bit (signs cancel), decorrelates across shards. */
  private def signFlip(vec: Column, s: Int): Column =
    zip_with(vec,
      transform(sequence(lit(0), size(vec) - 1),
        i => (lit(1) - lit(2) * (bit_count(i.cast("long").bitwiseAND(lit(s.toLong))) % 2))
          .cast("float")),
      (x, sign) => x * sign)

  def shard(spark: SparkSession, baseDir: String, name: String, s: Int): DataFrame = {
    val df = Tables.load(spark, baseDir, name)
    name match {
      case "nation" | "region" => df // shared dimensions: emit once (s == 0)
      case "customer" => shifted(df, s, Seq("c_custkey"))
      case "supplier" => shifted(df, s, Seq("s_suppkey"))
      case "part" => shifted(df, s, Seq("p_partkey"))
      case "orders" => shifted(df, s, Seq("o_orderkey", "o_custkey"))
      case "lineitem" =>
        shifted(df, s, Seq("l_orderkey", "l_partkey", "l_suppkey"))
      case "events" => shifted(df, s, Seq("event_id", "user_id"))
      case "documents" =>
        val base = shifted(df, s, Seq("doc_id"))
        if (s == 0) base
        else base
          .withColumn("text", renameTokens(col("text"), s))
          .withColumn("source", concat(col("source"), lit(s"_x$s")))
          .withColumn("n_chars", length(col("text")))
      case "embeddings" =>
        val base = shifted(df, s, Seq("vec_id"))
        // collision guard, effective for EVERY shard (round-11 review:
        // shard() is public and per-shard, so an s==0-only guard never
        // fires on chained/partial generation that skips shard 0):
        // chaining ScaleGen on its own output would otherwise wrap
        // strided labels back onto earlier shards' cells silently.
        // The max is one scan per BASE dir, memoized (ADVICE r12: the
        // per-call eager agg rescanned the same base n times for n
        // shards just to recompute the same constant).
        val m: Long = labelMax.computeIfAbsent(baseDir, _ => {
          val r = df.agg(max(col("label").cast("long"))).head()
          java.lang.Long.valueOf(
            if (r.isNullAt(0)) Long.MinValue else r.getLong(0))
        })
        require(m == Long.MinValue || m < 1000,
          s"base labels reach $m >= label stride 1000 — " +
            "shard cell spaces would collide; rescale the stride or " +
            "use a smaller base")
        if (s == 0) base
        else base
          .withColumn("embedding", signFlip(col("embedding"), s))
          // labels are cluster/cell assignments — under the
          // new-communities growth model they must be shard-disjoint
          // (like documents' source), or every IVF cell accumulates
          // `factor` decorrelated shards: per-cell density grows
          // factor x and any cell-equi-join pair leg grows factor² x
          // (q31 measured 97x at 10x data before this rename — an
          // artifact of the generator, not the operator). Integer
          // stride keeps the column's type.
          .withColumn("label", col("label") + lit(s * 1000))
      case other => sys.error(s"unknown table: $other")
    }
  }

  def generate(spark: SparkSession, baseDir: String, outDir: String,
      factor: Int): Unit =
    Tables.names.foreach { name =>
      val shards = if (name == "nation" || name == "region") 1 else factor
      val all = (0 until shards)
        .map(s => shard(spark, baseDir, name, s))
        .reduce(_ unionByName _)
      all.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      println(s"[scalegen] $name: ${spark.read.parquet(s"$outDir/$name.parquet").count()} rows")
    }

  def main(args: Array[String]): Unit = {
    val baseDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outDir = args.lift(1).getOrElse("/root/repo/testdata_sf1/sf1.0")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = GraftSession.local("graft-scalegen")
    generate(spark, baseDir, outDir, factor)
    spark.stop()
  }
}
