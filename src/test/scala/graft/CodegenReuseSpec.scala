package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum}

/** Generated classes are compiled once per JVM: a plan that ran in one
  * session runs in a sibling session without compiling, and the codegen
  * cache holds more than Spark's default 100 classes
  * (`GraftSession.builder`). Integer literals are inlined into the
  * generated code, so each plan below carries one that no other suite
  * uses: its first run must compile. */
class CodegenReuseSpec extends SparkSpec {

  /** `body`'s value and the classes Spark compiled, JVM-wide, while it
    * ran. */
  private def compiles[T](body: => T): (T, Long) = {
    val n0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val out = body
    (out, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - n0)
  }

  /** Scan, filter, aggregate, join, aggregate, sort: several stages. */
  private def multiStage(s: SparkSession): DataFrame = {
    val lines = Tables.load(s, sf, "lineitem")
      .filter(col("l_linenumber") < lit(917_263))
      .groupBy("l_orderkey").agg(sum("l_quantity").as("qty"))
    Tables.load(s, sf, "orders").join(lines,
        col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), sum("qty").as("qty"))
      .orderBy("o_orderpriority")
  }

  test("a multi-stage query re-run in a new session compiles no class") {
    val (want, first) = compiles(multiStage(spark.newSession()).collect())
    assert(first > 0 && want.nonEmpty)
    val (got, again) = compiles(multiStage(spark.newSession()).collect())
    assert(got.toSeq == want.toSeq)
    assert(again == 0)
  }

  test("a plan run before 100 other distinct plans still compiles nothing") {
    def run(i: Int): Unit = spark.newSession().range(16)
      .selectExpr(s"id * ${734_000 + i} AS v").filter(col("v") % 3 =!= 1)
      .collect(): Unit
    assert(compiles(run(0))._2 > 0)
    assert(compiles((1 to 120).foreach(run))._2 > 100)
    assert(compiles(run(0))._2 == 0)
  }
}
