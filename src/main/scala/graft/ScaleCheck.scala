package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.queries.Catalog

/** sf1.0 correctness spot-gate: the DuckDB oracle gate runs at sf0.01,
  * so scale runs validated only wall time — this main makes the heavy
  * headliners validate RESULTS at scale too. Each query runs twice in
  * two independently-configured sibling sessions (different shuffle
  * partition counts, separately-built session artifacts), so physical
  * parallelism, shuffle placement and artifact construction all differ
  * between the runs; the two result fingerprints must match exactly.
  * A query whose output depended on execution order (an un-tiebroken
  * top-k cut, a float reduction order, a nondeterministic hash seed)
  * fails here at the scale where it matters.
  *
  * The fingerprint is order-independent and duplicate-sensitive:
  * per-row xxhash64 over the name-sorted stringified columns, then
  * (count, decimal-sum, bit-xor) over the row hashes — no driver-side
  * collect of data-sized results.
  *
  * Usage: runMain graft.ScaleCheck [sfDir] [names...]; writes
  * SCALECHECK.json and prints the result JSON as the final line.
  */
object ScaleCheck {

  /** The heavy headliners by sf1.0 sweep cost (round 9's 10 + the
    * round-10 session-2 tie-sensitive set + the round-11 headline
    * promotions q293/q294/q299), so a default run covers every
    * expensive plan in the repo. */
  val DefaultHeavy: Seq[String] = Seq(
    "q268_link_prediction", "q269_hits", "q273_graph_census",
    "q147_pagerank", "q256_betweenness", "q231_graph_mixing",
    "q193_lpa_communities", "q192_kcore_layers",
    "q191_copurchase_clustering", "q254_entity_resolution",
    "q343_hyperball", "q338_local_max_matching",
    "q345_set_cover_sources", "q328_rake_keywords",
    "q337_ecod_outliers", "q326_uplift_curve", "q319_butterfly_census",
    "q293_ktruss_layers", "q294_personalized_pagerank",
    "q299_bridge_audit")

  /** (row count, decimal sum of row hashes, xor of row hashes). */
  def fingerprint(df: DataFrame): (Long, String, Long) = {
    val cols = df.columns.sorted.toIndexedSeq.map(c => col(c).cast("string"))
    // control-char separator + sentinel for nulls: concat_ws silently
    // DROPS null args, which would make (null, "x") collide with ("x")
    val hashed = df.select(
      xxhash64(concat_ws("\u0001",
        cols.map(coalesce(_, lit("\u0002"))): _*)).as("h"))
    val r = hashed.agg(
      count(lit(1)).as("n"),
      sum(col("h").cast("decimal(38,0)")).as("s"),
      expr("bit_xor(h)").as("x")).head()
    (r.getLong(0),
      Option(r.getDecimal(1)).map(_.toBigInteger.toString).getOrElse("0"),
      if (r.isNullAt(2)) 0L else r.getLong(2))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/repo/testdata_sf1/sf1.0")
    val names = if (args.length > 1) args.drop(1).toSeq else DefaultHeavy
    val root = GraftSession.local("graft-scalecheck")
    val cpus = root.conf.get("spark.sql.shuffle.partitions")

    // trial sessions: same data, different physical parallelism; each
    // builds its own session artifacts (SessionCache keys per session).
    // TRIAL-MAJOR sweep (round-10 verdict item 4): only ONE trial's
    // artifacts are ever resident — the whole trial runs, then its
    // SessionCache entries are invalidated and its persistent blocks
    // released before the sibling trial builds. The round-10 gate held
    // both sessions' sf1.0 artifacts resident for the entire sweep and
    // needed a 96 GiB driver heap for it; a fingerprint compare never
    // needed them simultaneously. Within a trial, ALL ingestion
    // artifacts warm before the timed sweep, so no query's time
    // includes an artifact build.
    val parts = Seq(cpus, "17")
    val baseKeep = graft.engine.Lineage.persistentIds(root)
    val trialFps = parts.map { p =>
      val s = root.newSession()
      s.conf.set("spark.sql.shuffle.partitions", p)
      Artifacts.warm(s, sfDir): Unit
      val keep = graft.engine.Lineage.persistentIds(root)
      // Trial-1 warm-up pass (round-13 verdict item 5): the artifact
      // builds above cover the session artifacts, but the FIRST
      // execution of each query plan still pays JVM JIT + codegen
      // compilation that Bench's interleaved min-of-2 absorbs and this
      // single-timed sweep cannot (q147 read [15.98, 7.93] on the
      // refreshed sf1.0 board — a 2x first-trial-only spread). One
      // untimed execution per query in the first trial warms the JIT
      // and the codegen cache, which the trial sessions share
      // (GraftSession.builder: one class loader for every session).
      // SPARK_GRAFT_SCALECHECK_WARM=0 skips it (halves a quick run).
      if (p == parts.head &&
          sys.env.getOrElse("SPARK_GRAFT_SCALECHECK_WARM", "1") != "0")
        names.foreach { name =>
          try Catalog.byName(name).run(s, sfDir).count()
          catch { case e: Throwable =>
            System.err.println(s"[scalecheck] warm $name failed: " +
              e.getMessage)
          }
          graft.engine.Lineage.releaseTransient(s, keep, blocking = true): Unit
        }
      val fps = names.map { name =>
        val q = Catalog.byName(name)
        val t0 = System.nanoTime()
        val fp = fingerprint(q.run(s, sfDir))
        val secs = (System.nanoTime() - t0) / 1e9
        System.err.println(f"[scalecheck] trial p=$p $name done " +
          f"($secs%.1f s)")
        // per-query transient checkpoint blocks must not accumulate
        // across the sweep (the round-9 q273 failure mode)
        graft.engine.Lineage.releaseTransient(s, keep, blocking = true): Unit
        (name, fp, secs)
      }
      // retire this trial's artifacts before the sibling builds
      graft.engine.SessionCache.invalidate(s)
      graft.engine.Lineage.releaseTransient(root, baseKeep, blocking = true): Unit
      fps
    }
    val results = names.zipWithIndex.map { case (name, i) =>
      val fps = trialFps.map(t => (t(i)._2, t(i)._3))
      val ok = fps.map(_._1).distinct.size == 1
      System.err.println(s"[scalecheck] $name " +
        (if (ok) "MATCH" else s"MISMATCH ${fps.map(_._1)}") +
        f" (${fps.map(_._2).map(t => f"$t%.1f").mkString("/")} s)")
      (name, ok, fps)
    }
    // per-entry provenance (ADVICE r12): each entry carries the sha +
    // timestamp of the run that produced IT, so a merged board can't
    // silently present results from an older binary as current
    val entrySha = graft.engine.Provenance.gitSha().take(12)
    val entryAt = graft.engine.Provenance.nowIso()
    // cfg stamp (round-13 verdict item: the sf2.0 board's 24g
    // trial-major numbers were cross-read against the BENCH_NOTES 48g
    // min-of-2 pins — a 1.8x spread explained entirely by protocol,
    // invisible because entries carried only git/at). Every entry now
    // self-describes the heap and trial shape that produced it.
    val heapG = Runtime.getRuntime.maxMemory / (1L << 30)
    val entryCfg = s"heap=${heapG}g;cpus=$cpus;trial-major;secs-per-trial"
    val fresh = results.map { case (name, ok, fps) =>
      val (n, s, x) = fps.head._1
      name -> (s"""{"match":$ok,"rows":$n,"sum":"$s","xor":$x,""" +
        s""""secs":[${fps.map(f => f"${f._2}%.2f").mkString(",")}],""" +
        s""""cfg":"$entryCfg","git":"$entrySha","at":"$entryAt"}""", ok)
    }
    // MERGE with the existing board, and keep one board FILE per scale
    // base: a targeted run (one query) must not clobber the 20-query
    // record, and an sf2 exponent run must not clobber the canonical
    // sf1.0 board — the exact failure mode that hit BENCH_RESULT.json
    // twice in round 11. The canonical file (the ScaleEvidenceSpec
    // gate's input) is sf1.0's; other scales get SCALECHECK.<base>.json.
    val base = java.nio.file.Paths.get(sfDir)
      .normalize().getFileName.toString
    val boardFile =
      if (base == "sf1.0") "SCALECHECK.json" else s"SCALECHECK.$base.json"
    // prior entries are kept when they measured the SAME SCALE — the
    // base name (sf1.0), not the full directory string. ScaleGen
    // regenerates a scale deterministically at whatever path has disk,
    // and the round-14 refresh (run from /root/scratch/sf1.0 against a
    // board recorded at /root/repo/testdata_sf1/sf1.0) dropped the
    // whole 21-entry catalog board over a path spelling. Fingerprints
    // across regenerations are bit-identical (round-14 board refresh:
    // 21/21), so the scale is the identity, not the mount point.
    def scaleBase(p: String): String = java.nio.file.Paths.get(p)
      .normalize().getFileName.toString
    val prior: Seq[(String, (String, Boolean))] =
      try {
        val txt = java.nio.file.Files.readString(
          java.nio.file.Paths.get(boardFile))
        val node = new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(txt)
        if (node.get("sf") == null ||
            scaleBase(node.get("sf").asText()) != scaleBase(sfDir)) Nil
        else {
          import scala.jdk.CollectionConverters._
          node.get("queries").properties().asScala.map { e =>
            e.getKey -> (e.getValue.toString,
              e.getValue.get("match").asBoolean())
          }.toSeq
        }
      } catch { case _: Throwable => Nil }
    val freshNames = fresh.map(_._1).toSet
    // drop carried-forward entries for queries that left the catalog
    // (ADVICE r12): a green board must not reflect code that no longer
    // exists
    val catalogNames = Catalog.all.map(_.name).toSet
    val merged = prior.filter(p =>
      !freshNames(p._1) && catalogNames(p._1)) ++ fresh
    val json = merged.sortBy(_._1)
      .map { case (name, (body, _)) => s""""$name":$body""" }
      .mkString("{", ",", "}")
    val allOk = merged.forall(_._2._2)
    val line = s"""{"metric":"scalecheck","sf":"$sfDir","all_match":$allOk,"queries":$json}"""
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(boardFile), line + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[scalecheck] persist failed: ${e.getMessage}")
    }
    println(line)
    root.stop()
    if (!allOk) sys.exit(1)
  }
}
