package graft

import org.apache.spark.sql.SparkSession

/** Dev timing harness: run arbitrary catalog queries at a given sf dir
  * and print per-query wall seconds (two passes; min reported, both
  * shown). Mirrors Bench's semantics — ingestion artifacts (KGraph
  * indexes, DedupIndex, co-purchase canon) are warmed OUTSIDE the
  * per-query timings, and transient checkpoint blocks are released
  * between queries (the round-9 q273 lesson) — so numbers here are
  * comparable to the official bench floors and usable for the
  * BENCH_NOTES scaling tables.
  *
  * Usage: runMain graft.QueryTimer <sfDir> <queryName> [more names...]
  * Dev tool only — not part of the query surface.
  */
object QueryTimer {

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: QueryTimer <sfDir> <name> [names]")
    val sfDir = args.head
    val names = args.tail.toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark: SparkSession =
      GraftSession.get("graft-qtimer", Some(s"local[$cpus]"), cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    GraftSession.quietAuditedWarnings()

    def timed(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    Tables.names.foreach(n => Tables.load(spark, sfDir, n).count())
    // QTIMER_LIGHT=1 warms only the graph indexes — a graph-query A/B
    // at sf2 otherwise pays the ~250 s dedup-index build it never reads
    // (a query that DOES read a skipped artifact still works: it is
    // built on demand, inside the query's first timed run)
    val light = sys.env.get("QTIMER_LIGHT").contains("1")
    val ingest = Artifacts.warm(spark, sfDir,
      if (light) Seq("kgraph_index") else Artifacts.groups).map(_._2).sum
    val keepIds = graft.engine.Lineage.persistentIds(spark)
    println(f"[qtimer] warm+ingest $ingest%.1f s")

    val rows = names.map { n =>
      val q = graft.queries.Catalog.byName.getOrElse(n,
        sys.error(s"unknown query: $n"))
      // QTIMER_PASSES overrides the pass count (noisy heavies at scale
      // need >2 samples to separate a floor from interference)
      val passes = sys.env.get("QTIMER_PASSES").map(_.toInt).getOrElse(2)
      val ts = (1 to passes).map { _ =>
        val t = timed(q.run(spark, sfDir).count())
        graft.engine.Lineage.releaseTransient(spark, keepIds,
          blocking = true): Unit
        t
      }
      println(f"[qtimer] $n%-28s min=${ts.min}%7.2f  runs=${
        ts.map(t => f"$t%.2f").mkString(",")}")
      n -> ts.min
    }
    val json = rows.map { case (n, t) => s""""$n":${f"$t%.3f"}""" }
      .mkString("{", ",", "}")
    println(s"""{"qtimer":{"sf":"$sfDir","queries":$json}}""")
    spark.stop()
  }
}
