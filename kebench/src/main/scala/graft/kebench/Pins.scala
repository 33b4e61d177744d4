package graft.kebench

import scala.collection.immutable.ListMap
import org.apache.spark.sql.SparkSession
import graft.engine.{Lineage, SessionCache}

/** Result fingerprints (`graft.ScaleCheck.fingerprint`: rows, decimal
  * sum and xor of the per-row hashes) pinned per op and dataset. */
object Pins {
  type Fp = (Long, String, Long)

  def load(path: String): Map[String, Fp] = {
    val node = Main.json.readTree(new java.io.File(path)).get("pins")
    require(node != null, s"$path has no \"pins\" object")
    import scala.jdk.CollectionConverters._
    node.properties().asScala.map { e =>
      val v = e.getValue
      e.getKey -> ((v.get(0).asLong, v.get(1).asText, v.get(2).asLong))
    }.toMap
  }

  /** Fingerprints every op of every workload in two sessions that differ
    * in `spark.sql.shuffle.partitions`, each building its own artifacts
    * (the ScaleCheck trial rule). Only values both sessions agree on are
    * pinned; the others are written under "unstable" and reported.
    * Returns 0 when every value was pinned. */
  def pin(root: SparkSession, dir: String, out: String, nproc: Int): Int = {
    val queries = Workload.all.filter(_.setup.nonEmpty).flatMap(_.ops)
      .distinctBy(_.name)
    val ingest = Workload.byName("ingest")
    val baseKeep = Lineage.persistentIds(root)
    val trials = Seq(nproc, 17).map { parts =>
      val s = root.newSession()
      s.conf.set("spark.sql.shuffle.partitions", parts.toString)
      val built = ingest.order(0).flatMap(_.run(s, dir)).map { case (k, df) =>
        k -> graft.ScaleCheck.fingerprint(df) }
      val keep = Lineage.persistentIds(root)
      val ran = queries.flatMap { op =>
        val fps = op.run(s, dir).map { case (k, df) =>
          k -> graft.ScaleCheck.fingerprint(df) }
        Lineage.releaseTransient(root, keep, blocking = true)
        System.err.println(s"[pin] partitions=$parts ${op.name} done")
        fps
      }
      SessionCache.invalidate(s)
      Lineage.releaseTransient(root, baseKeep, blocking = true)
      (built ++ ran).toMap
    }
    val (a, b) = (trials(0), trials(1))
    val keys = a.keys.toSeq.sorted
    val (stable, unstable) = keys.partition(k => a(k) == b.get(k).orNull)
    val doc = ListMap(
      "dataset" -> java.nio.file.Paths.get(dir).getFileName.toString,
      "rule" -> s"agreed at spark.sql.shuffle.partitions $nproc and 17",
      "pins" -> ListMap(stable.map(k => k -> a(k)): _*),
      "unstable" -> ListMap(unstable.map(k => k -> Seq(a(k), b.get(k).orNull)): _*))
    Main.json.writerWithDefaultPrettyPrinter().writeValue(new java.io.File(out), doc)
    unstable.foreach(k => System.err.println(
      s"[pin] $k differs between sessions: ${a(k)} vs ${b.get(k)}"))
    println(Main.json.writeValueAsString(
      ListMap("pinned" -> stable.size, "unstable" -> unstable)))
    if (unstable.isEmpty) 0 else 1
  }
}

/** Checks that each workload's setup builds exactly the session
  * artifacts its ops read: every op runs once in a fresh session, and
  * the session-cache keys it created are compared with the keys the
  * workload's setup creates. */
object Discover {
  def apply(root: SparkSession, dir: String): Int = {
    val baseKeep = Lineage.persistentIds(root)
    def fresh[T](body: SparkSession => T): (T, Set[String]) = {
      val s = root.newSession()
      val r = body(s)
      val keys = Main.cacheKeys(s).map(_.replace(dir, "<data>"))
      SessionCache.invalidate(s)
      Lineage.releaseTransient(root, baseKeep, blocking = true)
      (r, keys)
    }
    val ok = Workload.all.filter(_.setup.nonEmpty).map { w =>
      val (_, setupKeys) = fresh(s => w.setup.foreach(_.run(s, dir)))
      val read = w.ops.map { op =>
        val (_, keys) = fresh(s => op.run(s, dir).foreach(f =>
          graft.ScaleCheck.fingerprint(f._2)))
        println(s"${w.name} ${op.name} reads ${keys.toSeq.sorted.mkString(" ")}")
        keys
      }.reduce(_ ++ _)
      println(s"${w.name} setup builds ${setupKeys.toSeq.sorted.mkString(" ")}")
      val missing = read -- setupKeys
      val unused = setupKeys -- read
      if (missing.nonEmpty) println(s"${w.name} MISSING from setup: $missing")
      if (unused.nonEmpty) println(s"${w.name} UNUSED in setup: $unused")
      missing.isEmpty && unused.isEmpty
    }
    if (ok.forall(identity)) 0 else 1
  }
}
