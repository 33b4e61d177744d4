package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.util.{Success, Try}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{LongType, StructType, TimestampType}

/** graft.Tables.load: a table's schema is inferred once per version of
  * its files and parquet confs, and equals what `spark.read.parquet`
  * infers. */
class TablesSpec extends SparkSpec {

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** Jobs launched by `body`, counted after the listener bus drains. */
  private def jobs(body: => Unit): Int = {
    val sc = spark.sparkContext
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        n.incrementAndGet(): Unit
    }
    GraftBridge.drainListeners(sc)
    sc.addSparkListener(l)
    try { body; GraftBridge.drainListeners(sc); n.get }
    finally sc.removeSparkListener(l)
  }

  /** The sf tables copied to a new directory: paths no load has seen. */
  private def copyOfTables(): String = {
    val dir = Files.createTempDirectory("graft-tables")
    Tables.names.foreach(n => Files.copy(Paths.get(s"$sf/$n.parquet"),
      dir.resolve(s"$n.parquet")))
    dir.toString
  }

  /** The schema `spark.read.parquet` infers, with events' ts normalized
    * from the micros the test data carries. */
  private def inferred(dir: String, name: String): StructType = {
    val df = spark.newSession().read.parquet(s"$dir/$name.parquet")
    if (name == "events") df.withColumn("ts", col("ts").cast(TimestampType))
      .schema
    else df.schema
  }

  private def assertSameFields(got: StructType, want: StructType,
      what: String): Unit = {
    assert(got.fieldNames.toSeq == want.fieldNames.toSeq, what)
    got.fields.zip(want.fields).foreach { case (g, w) =>
      assert(g.dataType == w.dataType, s"$what.${w.name} type")
      assert(g.nullable == w.nullable, s"$what.${w.name} nullable")
      assert(g.metadata == w.metadata, s"$what.${w.name} metadata")
    }
  }

  test("every table's schema on a miss and on a hit is the inferred one") {
    val dir = copyOfTables()
    Tables.names.foreach { n =>
      val want = inferred(dir, n)
      val miss = spark.newSession()
      assert(jobs(assertSameFields(Tables.load(miss, dir, n).schema, want,
        s"$n miss")) > 0, s"$n: a new path infers its schema")
      assertSameFields(Tables.load(spark.newSession(), dir, n).schema, want,
        s"$n hit")
    }
    assert(inferred(dir, "events")("ts").dataType == TimestampType)
  }

  test("a second load in a fresh session launches no job") {
    Tables.names.foreach(n => Tables.load(spark.newSession(), sf, n))
    Tables.names.foreach { n =>
      val s = spark.newSession()
      assert(jobs(Tables.load(s, sf, n): Unit) == 0, n)
    }
  }

  test("loading the tables leaves the session's confs unchanged") {
    val s = spark.newSession()
    val before = s.conf.getAll
    val dir = copyOfTables()
    Tables.names.foreach(n => Tables.load(s, dir, n))
    Tables.names.foreach(n => Tables.load(s, sf, n))
    assert(s.conf.getAll == before)
  }

  test("a table file rewritten with an added column is inferred again") {
    val dir = copyOfTables()
    val table = s"$dir/region.parquet"
    assert(!Tables.load(spark.newSession(), dir, "region").columns
      .contains("r_extra"))
    val out = Files.createTempDirectory("graft-tables-rewrite").resolve("w")
    spark.read.parquet(table).withColumn("r_extra", lit(7L)).coalesce(1)
      .write.parquet(out.toString)
    val part = Files.list(out).filter(_.getFileName.toString
      .endsWith(".parquet")).findFirst.get
    Files.move(part, Paths.get(table), StandardCopyOption.REPLACE_EXISTING)
    val df = Tables.load(spark.newSession(), dir, "region")
    assertSameFields(df.schema, inferred(dir, "region"), "rewritten region")
    assert(df.select("r_extra").distinct().collect().map(_.getLong(0))
      .toSeq == Seq(7L))
  }

  test("a schema inferred under one nanosAsLong value is not reused under the other") {
    // a TIMESTAMP(NANOS) column, as early events.parquet files carried
    val dir = Files.createTempDirectory("graft-tables-nanos")
    val schema = MessageTypeParser.parseMessageType(
      "message clock { required int64 id; " +
        "required int64 ts (TIMESTAMP(NANOS,false)); }")
    val nanos = 1700000000123456789L
    Seq("clock", "events").foreach { n =>
      val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
        new Path(s"$dir/$n.parquet"), new Configuration())).withType(schema)
        .build()
      val g = new SimpleGroupFactory(schema)
      try (0 until 3).foreach(i =>
        w.write(g.newGroup().append("id", i.toLong).append("ts", nanos + i)))
      finally w.close()
    }
    def session(nanosAsLong: String): SparkSession = {
      val s = spark.newSession()
      s.conf.set(NanosAsLong, nanosAsLong)
      s
    }
    def ts(nanosAsLong: String) =
      Try(Tables.load(session(nanosAsLong), dir.toString, "clock")
        .schema("ts").dataType)
    assert(ts("true") == Success(LongType))
    assert(ts("false") != Success(LongType))
    assert(ts("true") == Success(LongType))
    // a session from GraftSession.builder reads nanos as long, and the
    // events loader truncates them to micros
    assert(spark.newSession().conf.get(NanosAsLong) == "true")
    val events = Tables.load(spark.newSession(), dir.toString, "events")
    assert(events.schema("ts").dataType == TimestampType)
    assert(events.selectExpr("unix_micros(ts)").collect().map(_.getLong(0))
      .toSeq == Seq.fill(3)(nanos / 1000))

    // a plain table infers once per parquet conf set, then hits under each
    val tables = copyOfTables()
    def loadJobs(nanosAsLong: String) =
      jobs(Tables.load(session(nanosAsLong), tables, "orders"): Unit)
    assert(loadJobs("false") > 0)
    assert(loadJobs("true") > 0)
    assert(loadJobs("true") == 0)
    assert(loadJobs("false") == 0)
  }

  test("concurrent loads of the same tables all get the inferred schema") {
    val dir = copyOfTables()
    val want = Tables.names.map(n => n -> inferred(dir, n)).toMap
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val got = Await.result(Future.sequence((1 to 4).map(_ => Future {
        val s = spark.newSession()
        Tables.names.map(n => n -> Tables.load(s, dir, n).schema)
      })), 5.minutes)
      got.flatten.foreach { case (n, schema) =>
        assertSameFields(schema, want(n), s"concurrent $n")
      }
    } finally {
      pool.shutdown()
      pool.awaitTermination(1, TimeUnit.MINUTES): Unit
    }
  }
}
