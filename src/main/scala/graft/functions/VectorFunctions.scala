package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector similarity primitives as Catalyst higher-order functions —
  * no UDFs, so everything stays inside whole-stage codegen.
  *
  * Mirrors the reference's metrics (COSINE with ε-guarded norms, L2 →
  * similarity 1/(1+d), inner product — embeddings/vector_stores/numpy/
  * numpy_store.py:590-627; cosine also at ingestion/relationship_extractor
  * .py:692-697). All arithmetic is double-precision left-to-right folds,
  * which keeps results bit-stable across partitions and matches the
  * DuckDB oracle formulas exactly.
  */
object VectorFunctions {

  import org.apache.spark.sql.GraftBridge
  import graft.functions.expressions.VectorSimExpr

  private def native(a: Column, b: Column, mode: String): Column =
    GraftBridge.column(VectorSimExpr(
      GraftBridge.expression(a), GraftBridge.expression(b), mode))

  /** Element-wise double cast — embeddings are Array[Float] on disk. */
  private def d(x: Column): Column = x.cast("double")

  /** Codegen'd one-pass primitives (VectorSimExpr). */
  def dot(a: Column, b: Column): Column = native(a, b, "dot")
  def cosine(a: Column, b: Column): Column = native(a, b, "cos")
  def l2Distance(a: Column, b: Column): Column = native(a, b, "l2")

  /** Sum of squared differences — the shared fold under both the exact
    * L2 distance and the PQ partial-distance tables (VectorSearch). */
  def squaredL2(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (d(x) - d(y)) * (d(x) - d(y))),
      lit(0.0), (acc, v) => acc + v)

  /** L2 distance mapped to a similarity in (0,1]: 1/(1+d). */
  def l2Similarity(a: Column, b: Column): Column =
    lit(1.0) / (lit(1.0) + l2Distance(a, b))

  /** HAMMING / JACCARD — the two binary-vector metrics of the
    * reference's metric enum (vector_store_interface.py:24-30). They
    * operate on bit vectors; the standard binarization of a float
    * embedding is its sign bits (the SimHash construction), so these
    * take float vectors and compare sign(x) > 0 positions. Pure integer
    * folds — bit-stable across engines. */
  def hammingSign(a: Column, b: Column): Column =
    aggregate(zip_with(a, b,
      (x, y) => when((x > 0) === (y > 0), 0L).otherwise(1L)),
      lit(0L), (acc, v) => acc + v)

  def jaccardSign(a: Column, b: Column): Column = {
    val inter = aggregate(zip_with(a, b,
      (x, y) => when(x > 0 && y > 0, 1L).otherwise(0L)),
      lit(0L), (acc, v) => acc + v)
    val union = aggregate(zip_with(a, b,
      (x, y) => when(x > 0 || y > 0, 1L).otherwise(0L)),
      lit(0L), (acc, v) => acc + v)
    when(union === 0L, lit(0.0)).otherwise(inter.cast("double") / union)
  }

  /** The same formulas as DuckDB SQL snippets (oracle side), over
    * DOUBLE[] casts so both engines accumulate in double. */
  object sql {
    def dot(a: String, b: String): String =
      s"list_dot_product(($a)::DOUBLE[], ($b)::DOUBLE[])"
    def cosine(a: String, b: String): String = {
      val den = s"(sqrt(${dot(a, a)}) * sqrt(${dot(b, b)}))"
      s"(CASE WHEN $den <= 1e-12 THEN 0.0 " +
        s"ELSE least(greatest(${dot(a, b)} / $den, -1.0), 1.0) END)"
    }
    def l2Distance(a: String, b: String): String =
      s"sqrt(list_sum(list_transform(list_zip(($a)::DOUBLE[], ($b)::DOUBLE[]), " +
        s"z -> (z[1] - z[2]) * (z[1] - z[2]))))"
    def l2Similarity(a: String, b: String): String =
      s"(1.0 / (1.0 + ${l2Distance(a, b)}))"
    def hammingSign(a: String, b: String): String =
      s"CAST(list_sum(list_transform(list_zip(($a)::DOUBLE[], ($b)::DOUBLE[]), " +
        s"z -> CASE WHEN (z[1] > 0) = (z[2] > 0) THEN 0 ELSE 1 END)) AS BIGINT)"
    def jaccardSign(a: String, b: String): String = {
      val inter = s"list_sum(list_transform(list_zip(($a)::DOUBLE[], ($b)::DOUBLE[]), " +
        s"z -> CASE WHEN z[1] > 0 AND z[2] > 0 THEN 1 ELSE 0 END))"
      val union = s"list_sum(list_transform(list_zip(($a)::DOUBLE[], ($b)::DOUBLE[]), " +
        s"z -> CASE WHEN z[1] > 0 OR z[2] > 0 THEN 1 ELSE 0 END))"
      s"(CASE WHEN $union = 0 THEN 0.0 ELSE CAST($inter AS DOUBLE) / $union END)"
    }
  }
}
