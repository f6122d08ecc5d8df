package graft

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.graft.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{BinaryType, StringType}

/** `Tables` infers a fixture file's schema once per session and opens it
  * with that schema afterwards: no footer-inference job, a fresh relation
  * per call, and never a stale or foreign schema. */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  private def withTempDir(body: File => Unit): Unit = {
    val dir = Files.createTempDirectory("tables-spec").toFile
    try body(dir) finally deleteRecursively(dir)
  }

  private def deleteRecursively(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  /** One parquet FILE, the fixture layout (a Spark write makes a directory). */
  private def writeFile(df: DataFrame, file: File): Unit = {
    val tmp = new File(file.getParentFile, file.getName + ".tmp")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
    val part = tmp.listFiles().filter(_.getName.endsWith(".parquet")).head
    Files.move(part.toPath, file.toPath, StandardCopyOption.REPLACE_EXISTING)
    deleteRecursively(tmp)
  }

  /** `body`'s result and the number of Spark jobs it launched. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    ListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      ListenerBus.drain(sc)
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  private def columns(df: DataFrame) =
    df.queryExecution.optimizedPlan.output.map(a => (a.name, a.dataType, a.nullable))

  test("a second open of a fixture file in one session runs no Spark job") {
    withTempDir { dir =>
      writeFile(Seq((1L, "F", 10.5), (2L, "O", 3.25))
        .toDF("o_orderkey", "o_orderstatus", "o_totalprice"),
        new File(dir, "orders.parquet"))
      val (first, missJobs) = jobsDuring(Tables(spark, dir.getPath, "orders"))
      val (second, hitJobs) = jobsDuring(Tables(spark, dir.getPath, "orders"))
      assert(missJobs == 1) // the inferring read itself, never a second read
      assert(hitJobs == 0)
      assert(second.schema == first.schema)
      assert(columns(second) == columns(first))
      assert(second.collect().toSeq == first.collect().toSeq)
    }
  }

  test("a fixture file rewritten with another schema is inferred again") {
    withTempDir { dir =>
      val f = new File(dir, "t.parquet")
      writeFile(Seq((1L, "a")).toDF("k", "v"), f)
      assert(Tables(spark, dir.getPath, "t").schema.fieldNames.toSeq == Seq("k", "v"))
      val (size, mtime) = (f.length, f.lastModified)
      writeFile(Seq((1L, 2.5, "a", "b")).toDF("k", "w", "v", "u"), f)
      f.setLastModified(mtime + 10000)
      assert(f.length != size)
      val (df, jobs) = jobsDuring(Tables(spark, dir.getPath, "t"))
      assert(jobs == 1)
      assert(df.schema.fieldNames.toSeq == Seq("k", "w", "v", "u"))
      assert(df.as[(Long, Double, String, String)].collect().toSeq ==
        Seq((1L, 2.5, "a", "b")))
    }
  }

  test("a *.parquet directory rewritten with another schema is seen fresh") {
    withTempDir { dir =>
      val d = new File(dir, "out.parquet").getPath
      Seq(1L, 2L).toDF("k").write.parquet(d)
      assert(Tables(spark, dir.getPath, "out").schema.fieldNames.toSeq == Seq("k"))
      Seq((1L, "x")).toDF("k", "extra").write.mode("overwrite").parquet(d)
      val df = Tables(spark, dir.getPath, "out")
      assert(df.schema.fieldNames.toSeq == Seq("k", "extra"))
      assert(df.count() == 1)
    }
  }

  test("sessions with different binaryAsString each get their own schema") {
    withTempDir { dir =>
      // a plain parquet writer: Spark's own files carry their Spark schema
      // in the footer, which inference prefers over binaryAsString
      val schema = MessageTypeParser.parseMessageType(
        "message t { required int64 k; required binary b; }")
      val w = ExampleParquetWriter
        .builder(new Path(new File(dir, "bin.parquet").getPath))
        .withType(schema).build()
      try w.write(new SimpleGroupFactory(schema).newGroup()
        .append("k", 1L).append("b", Binary.fromString("x")))
      finally w.close()
      def session(binaryAsString: Boolean): SparkSession = {
        val s = spark.newSession()
        s.conf.set("spark.sql.parquet.binaryAsString", binaryAsString.toString)
        s
      }
      def typeOfB(s: SparkSession) = Tables(s, dir.getPath, "bin").schema("b").dataType
      val (raw, text) = (session(false), session(true))
      assert(typeOfB(raw) == BinaryType)
      assert(typeOfB(text) == StringType)
      val (again, jobs) = jobsDuring(typeOfB(raw))
      assert(again == BinaryType)
      assert(jobs == 0)
      // a conf flipped inside one session is inferred again, too
      raw.conf.set("spark.sql.parquet.binaryAsString", "true")
      assert(typeOfB(raw) == StringType)
    }
  }

  test("two opens of one table self-join without an ambiguous reference") {
    withTempDir { dir =>
      writeFile(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"),
        new File(dir, "t.parquet"))
      val a = Tables(spark, dir.getPath, "t")
      val b = Tables(spark, dir.getPath, "t")
      val joined = a.join(b, a("k") === b("k")).select(a("k"), b("v"))
      assert(joined.as[(Long, String)].collect().sorted.toSeq ==
        Seq((1L, "a"), (2L, "b"), (3L, "c")))
    }
  }
}
