package graft

import graft.queries.Catalog

/** Plan auditor: prints the formatted physical plan of catalog queries so
  * pushdown (`PushedFilters`), column pruning (`ReadSchema`), join
  * strategies, and WholeStageCodegen coverage can be reviewed.
  * Usage: runMain graft.ExplainAudit <sfDir> [queryName ...]
  */
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.tail.toSeq else Catalog.all.map(_.name)
    val spark = GraftSession.builder("graft-explain-audit", Some("local[4]"), 4)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n================ $n ================")
      try println(Catalog.byName(n).run(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      catch { case e: Throwable => println(s"FAILED: ${e.getMessage}") }
    }
    spark.stop()
  }
}
