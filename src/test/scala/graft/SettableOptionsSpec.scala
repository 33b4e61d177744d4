package graft

import java.io.File
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** Pins the engine's settable options: every environment variable and
  * every `spark.graft.*` conf key that `src/main` reads. A dev knob added
  * for one measurement and left behind is a second code path the oracle,
  * the bench and the specs never run with; this spec makes adding one a
  * deliberate edit here rather than a line nobody counts. It also pins
  * that every lineage cut honours `spark.graft.reliableCheckpoints`.
  */
class SettableOptionsSpec extends AnyFunSuite {

  private val EnvVars = Set("SPARK_GRAFT_CPUS", "SPARK_GRAFT_SF_DIR",
    "SPARK_GRAFT_BENCH_ONLY", "SPARK_GRAFT_SCALECHECK_WARM")
  private val ConfKeys = Set("spark.graft.reliableCheckpoints")

  /** (path, text) of every Scala source under src/main. */
  private lazy val sources: Seq[(String, String)] = {
    val root = Iterator.iterate(new File(sys.props("user.dir")).getAbsoluteFile)(
        _.getParentFile)
      .takeWhile(_ != null)
      .map(new File(_, "src/main/scala"))
      .find(_.isDirectory)
      .getOrElse(fail("no src/main/scala above the working directory"))
    def walk(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    walk(root).map(f => f.getPath -> new String(Files.readAllBytes(f.toPath), "UTF-8"))
  }

  test("src/main reads exactly the pinned environment variables") {
    // any env access, then the literal-key forms it must take
    val access = """sys\.env|System\.getenv""".r
    val keyed =
      """(?:sys\.env(?:\.get|\.getOrElse|\.contains|\.apply)?|System\.getenv)\(\s*"([^"]+)"""".r
    val unkeyed = sources.flatMap { case (path, text) =>
      val keyedAt = keyed.findAllMatchIn(text).map(_.start).toSet
      access.findAllMatchIn(text).map(_.start).filterNot(keyedAt)
        .map(i => s"$path:${text.take(i).count(_ == '\n') + 1}")
    }
    assert(unkeyed.isEmpty, s"environment reads without a literal key: $unkeyed")
    val read = sources.flatMap { case (_, text) =>
      keyed.findAllMatchIn(text).map(_.group(1)) }.toSet
    assert(read == EnvVars,
      s"added: ${read -- EnvVars}; no longer read: ${EnvVars -- read}")
  }

  test("src/main names exactly the pinned spark.graft conf keys") {
    val key = """spark\.graft\.[A-Za-z0-9_]+(?:\.[A-Za-z0-9_]+)*""".r
    val named = sources.flatMap { case (_, text) =>
      key.findAllIn(text) }.toSet
    assert(named == ConfKeys,
      s"added: ${named -- ConfKeys}; no longer named: ${ConfKeys -- named}")
  }

  test("no src/main file outside engine/Lineage.scala checkpoints directly") {
    // a direct localCheckpoint()/checkpoint() ignores the session's
    // reliable-checkpoint opt-in: every lineage cut goes through
    // Lineage.LineageOps
    val call = """localCheckpoint\(|\.checkpoint\(""".r
    val lineage = Seq("engine", "Lineage.scala").mkString(File.separator)
    val direct = sources.filterNot(_._1.endsWith(lineage)).flatMap {
      case (path, text) => call.findAllMatchIn(text)
        .map(m => s"$path:${text.take(m.start).count(_ == '\n') + 1}")
    }
    assert(direct.isEmpty, s"direct checkpoint calls: ${direct.mkString(", ")}")
  }
}
