package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional trailing names restrict the dump (dev loop); the driver
    // always passes exactly (sfDir, outDir) → full dump
    val Array(sfDir, outDir) = args.take(2)
    val only = args.drop(2).toSet
    val unknown = only.diff(SparkEntry.queries.keySet)
    require(unknown.isEmpty,
      s"unknown query name(s): ${unknown.mkString(", ")} — a typo here " +
        "would silently dump nothing and let a stale compare pass")
    val spark = GraftSession.local("graft-verify")
    new java.io.File(outDir).mkdirs()
    // Queries are independent — run them on a small pool so Spark's
    // scheduler overlaps their jobs (I/O + planning gaps fill in).
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val selected =
      if (only.isEmpty) SparkEntry.queries.toSeq
      else SparkEntry.queries.toSeq.filter(kv => only(kv._1))
    val failedNames =
      new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val tasks = selected.map { case (name, fn) =>
      pool.submit(new Runnable {
        def run(): Unit =
          try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          catch { case e: Throwable =>
            failedNames.add(name): Unit
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
            // remove any PRIOR dump for this query: a stale result
            // under the current name would otherwise hash-compare
            // against the oracle and mask the failure as a pass.
            // Deletion is recursive (a failed overwrite can leave a
            // _temporary/ subtree, which would make a flat delete
            // silently no-op) and logs when it cannot complete.
            def rm(f: java.io.File): Boolean = {
              if (f.isDirectory)
                Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
              val ok = f.delete()
              if (!ok) System.err.println(
                s"[verify] $name: could not delete stale ${f.getPath}")
              ok
            }
            val dir = new java.io.File(s"$outDir/$name")
            if (dir.exists()) { rm(dir): Unit }
          }
      })
    }
    tasks.foreach(_.get())
    pool.shutdown()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Compact final stdout line (round-11 verdict items 1-2): a dump
    // summary small enough for the driver's 2000-char tail window, with
    // provenance, so an empty downstream correctness board is
    // attributable to the compare stage rather than the dump. Printed
    // AFTER spark.stop() so shutdown logging can't land lines after it.
    val fails = {
      import scala.jdk.CollectionConverters._
      failedNames.asScala.toSeq.sorted
    }
    try spark.stop()
    catch { case e: Throwable =>
      System.err.println(s"[verify] spark.stop failed: ${e.getMessage}")
    }
    val summary =
      s"""{"dumped":${selected.size - fails.size},"failed":${fails.size},""" +
      s""""failed_names":${fails.take(8).map(n => "\"" + n + "\"")
        .mkString("[", ",", "]")},""" +
      s""""git":"${graft.engine.Provenance.gitSha().take(12)}",""" +
      s""""at":"${graft.engine.Provenance.nowIso()}","sf":"$sfDir"}"""
    println(summary)
    System.out.flush()
  }
}
