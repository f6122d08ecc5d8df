package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.SparkSpec

class StreamsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("windowedRollup aggregates a file-backed stream with watermark") {
    val dir = Files.createTempDirectory("stream-in").toString
    Seq(
      (1L, ts("2024-01-01 00:01:00"), "view", 1.0),
      (2L, ts("2024-01-01 00:02:00"), "view", 2.0),
      (3L, ts("2024-01-01 00:07:00"), "click", 5.0)
    ).toDF("event_id", "ts", "event_type", "value")
      .write.mode("overwrite").parquet(dir)

    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("event_type", StringType), StructField("value", DoubleType)))
    val stream = spark.readStream.schema(schema).parquet(dir)
    val rolled = Streams.windowedRollup(stream, "ts", "10 minutes", "5 minutes")

    val q = rolled.writeStream.outputMode("append")
      .format("memory").queryName("rollup_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)

    // append mode only emits closed windows; re-read with complete mode
    val q2 = rolled.writeStream.outputMode("complete")
      .format("memory").queryName("rollup_all")
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination(60000)
    val rows = spark.table("rollup_all")
      .select(col("window.start").cast("string"), col("event_type"), col("n_events"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(rows == Set(
      ("2024-01-01 00:00:00", "view", 2L),
      ("2024-01-01 00:05:00", "click", 1L)))
  }

  test("incrementalMirror lands only new files across restarts (checkpoint = bookmark)") {
    val src = Files.createTempDirectory("mirror-src").toString
    val dest = Files.createTempDirectory("mirror-dest").toString + "/out"
    val ckpt = Files.createTempDirectory("mirror-ckpt").toString
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("v", StringType)))

    Seq((1L, "a"), (2L, "b")).toDF("event_id", "v")
      .write.mode("append").parquet(src)
    Streams.incrementalMirror(spark, src, schema, dest, ckpt)
    assert(spark.read.parquet(dest).count() == 2)

    // new files appear; restarting the query lands ONLY them
    Seq((3L, "c")).toDF("event_id", "v").write.mode("append").parquet(src)
    Streams.incrementalMirror(spark, src, schema, dest, ckpt)
    val out = spark.read.parquet(dest)
    assert(out.count() == 3) // no batch-1 duplicates
    assert(out.select("event_id").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 2L, 3L))
  }

  test("clickViewJoin: watermarked stream-stream join within a time window") {
    val dir = Files.createTempDirectory("ss-join").toString
    Seq(
      (7L, ts("2024-01-01 00:10:00"), 100L, "click"),
      (7L, ts("2024-01-01 00:05:00"), 1L, "view"),   // within 30min before
      (7L, ts("2024-01-01 00:09:00"), 2L, "view"),   // within 30min before
      (7L, ts("2023-12-31 23:00:00"), 3L, "view"),   // too old
      (8L, ts("2024-01-01 00:10:00"), 101L, "click") // no views
    ).toDF("user_id", "ts", "event_id", "event_type")
      .write.mode("overwrite").parquet(dir)
    val schema = StructType(Seq(
      StructField("user_id", LongType), StructField("ts", TimestampType),
      StructField("event_id", LongType), StructField("event_type", StringType)))
    val stream = spark.readStream.schema(schema).parquet(dir)
    val joined = Streams.clickViewJoin(
      stream.filter(col("event_type") === "click"),
      stream.filter(col("event_type") === "view"),
      lateness = "1 hour", windowSpec = "30 minutes")
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ssjoin_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val rows = spark.table("ssjoin_out")
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(4))).toSet
    assert(rows == Set((7L, 100L, 1L), (7L, 100L, 2L))) // old view + user 8 dropped
  }

  test("sessionize groups events into gap-bounded sessions (streaming q13)") {
    implicit val s = spark
    val dir = Files.createTempDirectory("sess-in").toString
    Seq(
      Streams.SessionEvent(7L, ts("2024-01-01 00:00:00"), 1L),
      Streams.SessionEvent(7L, ts("2024-01-01 00:10:00"), 2L),
      Streams.SessionEvent(7L, ts("2024-01-01 01:30:00"), 3L), // new session
      Streams.SessionEvent(8L, ts("2024-01-01 00:00:00"), 4L)
    ).toDS().write.mode("overwrite").parquet(dir)

    val schema = StructType(Seq(
      StructField("user_id", LongType), StructField("ts", TimestampType),
      StructField("event_id", LongType)))
    val stream = spark.readStream.schema(schema).parquet(dir)
      .as[Streams.SessionEvent]
    val sessions = Streams.sessionize(stream, gapMs = 30L * 60 * 1000)

    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("sessions_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    // within one micro-batch, user 7's first session closes when the
    // 01:30 event arrives (gap > 30min); open sessions stay in state
    val closed = spark.table("sessions_out")
      .collect().map(r => (r.getLong(0), r.getLong(3))).toSet
    assert(closed == Set((7L, 2L)))
    // the processing-time timeout keeps the query eligible for further
    // batches; stop it so no background batch overlaps later tests
    q.stop()
  }

  test("attributionStream (x143's continuous form): latest-click state " +
      "crosses micro-batches under the batch tie law; row-for-row " +
      "parity with Temporal.asofJoin on a time-ordered replay") {
    implicit val s = spark
    val dir = Files.createTempDirectory("attr-in").toString
    val early = Seq(
      Streams.AttrEvent(1L, ts("2024-01-01 00:00:10"), 100L, "click", 1.0),
      Streams.AttrEvent(1L, ts("2024-01-01 00:00:20"), 101L, "click", 2.0),
      Streams.AttrEvent(1L, ts("2024-01-01 00:00:20"), 102L, "click", 3.0),
      // purchase AT the two clicks' instant: '<=' includes them, the
      // larger click id (102) wins the tie
      Streams.AttrEvent(1L, ts("2024-01-01 00:00:20"), 200L, "purchase", 0.0),
      Streams.AttrEvent(2L, ts("2024-01-01 00:00:05"), 201L, "purchase", 0.0))
    val late = Seq(
      // attributed from STATE: user 1's clicks live in the prior batch
      Streams.AttrEvent(1L, ts("2024-01-01 00:01:00"), 202L, "purchase", 0.0),
      Streams.AttrEvent(2L, ts("2024-01-01 00:01:10"), 103L, "click", 4.0),
      Streams.AttrEvent(2L, ts("2024-01-01 00:01:20"), 203L, "purchase", 0.0))
    // ONE part-file per write (local[32] would split each 5-row batch
    // into several files, and maxFilesPerTrigger=1 would then replay
    // them as arbitrary-order fragments)
    early.toDS().coalesce(1).write.mode("overwrite").parquet(dir)
    Thread.sleep(1100) // distinct mod-times → two source micro-batches
    late.toDS().coalesce(1).write.mode("append").parquet(dir)

    val schema = StructType(Seq(
      StructField("user_id", LongType), StructField("ts", TimestampType),
      StructField("event_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
      .as[Streams.AttrEvent]
    val q = Streams.attributionStream(stream).writeStream
      .outputMode("append").format("memory").queryName("attr_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    def key(r: org.apache.spark.sql.Row) =
      r.getAs[Long]("event_id") ->
        ((Option(r.getAs[java.lang.Long]("prior_event_id")),
          Option(r.getAs[java.lang.Double]("prior_value"))))
    val got = spark.table("attr_out").collect().map(key).toMap
    assert(got === Map(
      200L -> ((Some(102L), Some(3.0))),
      201L -> ((None, None)),
      202L -> ((Some(102L), Some(3.0))),
      203L -> ((Some(103L), Some(4.0)))))
    // parity: the batch as-of over the full union returns the same rows
    val all = (early ++ late).toDS().toDF()
    val batch = graft.operators.Temporal.asofJoin(
      all.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts")),
      all.filter(col("event_type") === "click"),
      "user_id", "ts", "ts", "event_id", Seq("value"))
      .collect().map(key).toMap
    assert(batch === got)
  }

  test("scd2Stream (x148's continuous form): versions emit as they " +
      "CLOSE, the open version crosses micro-batches in state, and " +
      "the emitted set equals the batch build's non-current rows") {
    implicit val s = spark
    val dir = Files.createTempDirectory("scd2-in").toString
    val early = Seq(
      Streams.Scd2Event(1L, ts("2024-01-01 00:00:01"), 1L, Some("a")),
      Streams.Scd2Event(1L, ts("2024-01-01 00:00:02"), 2L, Some("a")),
      Streams.Scd2Event(1L, ts("2024-01-01 00:00:03"), 3L, Some("b")),
      Streams.Scd2Event(2L, ts("2024-01-01 00:00:01"), 4L, Some("z")))
    val late = Seq(
      // version 'b' (opened in batch 1) closes HERE — n_events must
      // count its batch-1 open plus this batch's repeat
      Streams.Scd2Event(1L, ts("2024-01-01 00:00:04"), 5L, Some("b")),
      Streams.Scd2Event(1L, ts("2024-01-01 00:00:05"), 6L, None),
      Streams.Scd2Event(1L, ts("2024-01-01 00:00:06"), 7L, Some("a")),
      Streams.Scd2Event(2L, ts("2024-01-01 00:00:09"), 8L, Some("z")))
    early.toDS().coalesce(1).write.mode("overwrite").parquet(dir)
    Thread.sleep(1100)
    late.toDS().coalesce(1).write.mode("append").parquet(dir)

    val schema = StructType(Seq(
      StructField("key", LongType), StructField("ts", TimestampType),
      StructField("tie_id", LongType), StructField("attr", StringType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
      .as[Streams.Scd2Event]
    val q = Streams.scd2Stream(stream).writeStream
      .outputMode("append").format("memory").queryName("scd2_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("key"), r.getAs[Long]("version")) ->
        ((Option(r.getAs[String]("attr")),
          r.getAs[Long]("valid_from_ms"), r.getAs[Long]("valid_to_ms"),
          r.getAs[Long]("n_events")))
    val got = spark.table("scd2_out").collect().map(key).toMap
    // closed versions only: key 1's a (2 events), b (2 events,
    // boundary-crossing), NULL (1 event); key 2's single open 'z'
    // version and key 1's reopened 'a' are still in state
    val base = ts("2024-01-01 00:00:00").getTime
    assert(got === Map(
      (1L, 1L) -> ((Some("a"), base + 1000, base + 3000, 2L)),
      (1L, 2L) -> ((Some("b"), base + 3000, base + 5000, 2L)),
      (1L, 3L) -> ((None, base + 5000, base + 6000, 1L))))
    // parity: the batch build's non-current rows on the full union
    val all = (early ++ late).toDS().toDF()
    val batch = graft.operators.Temporal
      .scd2(all, "key", "ts", "tie_id", "attr")
      .filter(!col("is_current"))
      .collect().map { r =>
        (r.getAs[Long]("key"), r.getAs[Long]("version")) ->
          ((Option(r.getAs[String]("attr")),
            r.getAs[Long]("valid_from_ms"),
            r.getAs[java.lang.Long]("valid_to_ms").longValue,
            r.getAs[Long]("n_events")))
      }.toMap
    assert(batch === got)
  }

  test("dedupStream keeps first arrival per digest with bounded state") {
    val dir = Files.createTempDirectory("dedup-in").toString
    Seq(
      (1L, ts("2024-01-01 00:01:00"), "Hello World"),
      (2L, ts("2024-01-01 00:02:00"), "  hello world "), // dup after norm
      (3L, ts("2024-01-01 00:03:00"), "something else"),
      (4L, ts("2024-01-01 00:04:00"), "HELLO WORLD")     // dup again
    ).toDF("event_id", "ts", "text")
      .write.mode("overwrite").parquet(dir)

    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("text", StringType)))
    val stream = spark.readStream.schema(schema).parquet(dir)
    val deduped = Streams.dedupStream(stream, "ts", "text", "10 minutes")

    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("dedup_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val ids = spark.table("dedup_out")
      .select("event_id").collect().map(_.getLong(0)).sorted.toSeq
    // exactly one representative per digest group ({1,2,4} normalize to
    // the same hash; within one micro-batch the pick is arbitrary)
    assert(ids.length == 2)
    assert(ids.contains(3L))
    assert(ids.exists(Set(1L, 2L, 4L)))
  }

  test("qualityGate runs the repetition kernel inside a streaming plan") {
    val dir = Files.createTempDirectory("qgate-in").toString
    Seq(
      (1L, ts("2024-01-01 00:01:00"),
        "a varied document with many distinct interesting words inside"),
      (2L, ts("2024-01-01 00:02:00"),
        "spam spam spam spam spam spam spam spam spam spam spam spam"),
      (3L, ts("2024-01-01 00:03:00"), "too short")
    ).toDF("event_id", "ts", "text")
      .write.mode("overwrite").parquet(dir)

    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("text", StringType)))
    val stream = spark.readStream.schema(schema).parquet(dir)
    val gated = Streams.qualityGate(stream, "text",
      maxTopBigramFrac = 0.5, minChars = 20)

    val q = gated.writeStream.outputMode("append")
      .format("memory").queryName("qgate_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val ids = spark.table("qgate_out")
      .select("event_id").collect().map(_.getLong(0)).toSeq
    assert(ids == Seq(1L)) // spam fails repetition; short doc fails length
    // the gate is schema-transparent: no derived signal columns leak out
    assert(gated.schema.fieldNames.toSeq == schema.fieldNames.toSeq)
  }

  test("semanticDecontamGate drops benchmark-close vectors inside a " +
      "streaming plan (x231 twin); verdict parity with the batch " +
      "operator; schema-transparent") {
    import graft.operators.Similarity
    val bench = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val (ids, bvecs) = {
      val rows = bench.collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).sortBy(_._1)
      (rows.map(_._1), rows.map(_._2))
    }
    val dir = Files.createTempDirectory("sdgate-in").toString
    Seq(
      (10L, Array(0.9f, 0.1f, 0.0f)),  // close to bench 0 -> dropped
      (11L, Array(0.0f, 0.0f, 1.0f)),  // orthogonal -> kept
      (12L, Array(0.1f, 0.95f, 0.0f))  // close to bench 1 -> dropped
    ).toDF("vec_id", "embedding").write.mode("overwrite").parquet(dir)
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val stream = spark.readStream.schema(schema).parquet(dir)
    val gated = Streams.semanticDecontamGate(stream, "embedding",
      ids, bvecs, threshold = 0.8)
    val q = gated.writeStream.outputMode("append")
      .format("memory").queryName("sdgate_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val kept = spark.table("sdgate_out")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(11L))
    // parity: stream survivors == the batch operator's kept set
    val batchKept = Similarity.semanticDecontam(
        spark.read.schema(schema).parquet(dir), bench, "vec_id",
        "embedding", threshold = 0.8)
      .filter(col("status") === "kept")
      .collect().map(_.getLong(0)).toSet
    assert(kept === batchKept)
    assert(gated.schema.fieldNames.toSeq === schema.fieldNames.toSeq)
  }

  test("scoreGate gates a stream at a batch-calibrated quantile " +
      "threshold (x119 twin): stream survivors = batch survivors") {
    import graft.operators.TextAnalysis
    val corpus = Seq(
      (1L, "!!! ??? $$$ %%%"),
      (2L, "plain middling words without any stop terms here"),
      (3L, "the quick brown fox jumps over the lazy dog"),
      (4L, "the and of to in is a document with stopwords " * 3),
      (5L, "zz yy xx ww vv uu"),
      (6L, "another perfectly ordinary document of the corpus")
    ).toDF("doc_id", "text")
    // calibrate batch-side: the snapshot's exact p25 score
    val thr = TextAnalysis.scoreQuantiles(corpus, "doc_id", "text",
      Seq(0.25)).head().getAs[Double]("quality_score")
    val batchKept = TextAnalysis.calibratedGate(corpus, "doc_id", "text",
      q = 0.25).collect().map(_.getLong(0)).toSet

    val dir = Files.createTempDirectory("sgate-in").toString
    corpus.write.mode("overwrite").parquet(dir)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val stream = spark.readStream.schema(schema).parquet(dir)
    val gated = Streams.scoreGate(stream, "text", thr)
    val q = gated.writeStream.outputMode("append")
      .format("memory").queryName("sgate_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val streamKept = spark.table("sgate_out")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(streamKept === batchKept && batchKept.nonEmpty)
    // schema-preserving: the score never leaks into the output
    assert(gated.schema.fieldNames.toSeq == schema.fieldNames.toSeq)
  }

  test("groupedScoreGate gates each language at ITS batch-frozen bar " +
      "(x147 twin): stream survivors = batch survivors; uncalibrated " +
      "groups drop by default, pass at an explicit fallback") {
    import graft.operators.TextAnalysis
    val corpus = Seq(
      (1L, "the quick document one of the corpus and the usual words", "en"),
      (2L, "plain middling words without any stop terms here", "en"),
      (3L, "the and of to in is a document with stopwords " * 3, "en"),
      (4L, "!!! ??? $$$ %%%", "en"),
      (5L, "der schnelle braune fuchs springt und ist ein hund", "de"),
      (6L, "zz yy xx ww vv uu", "de"),
      (7L, "der faule hund und der schnelle fuchs ist ein tier", "de"),
      (8L, "mehr ganz andere worte ohne besondere zeichen hier", "de")
    ).toDF("doc_id", "text", "lang")
    val batch = TextAnalysis.groupedCalibratedGate(corpus, "doc_id",
      "text", "lang", q = 0.25)
    val thresholds = batch.select("lang", "threshold").distinct()
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val batchKept = batch.collect().map(_.getLong(0)).toSet
    assert(thresholds.keySet === Set("en", "de"))

    val dir = Files.createTempDirectory("ggate-in").toString
    // one doc of an UNCALIBRATED language rides along in the stream
    corpus.union(Seq((9L, "the usual words of the corpus", "fr"))
      .toDF("doc_id", "text", "lang"))
      .write.mode("overwrite").parquet(dir)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType)))
    def run(name: String, default: Option[Double]) = {
      val stream = spark.readStream.schema(schema).parquet(dir)
      val gated = Streams.groupedScoreGate(stream, "text", "lang",
        thresholds, default)
      val q = gated.writeStream.outputMode("append")
        .format("memory").queryName(name)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
      spark.table(name).select("doc_id").collect()
        .map(_.getLong(0)).toSet
    }
    // default None: calibrated groups mirror batch, fr drops
    assert(run("ggate_none", None) === batchKept && batchKept.nonEmpty)
    // an explicit 0.0 fallback admits the uncalibrated doc
    assert(run("ggate_dflt", Some(0.0)) === batchKept + 9L)
  }

  test("neardupGate drops stream docs near-duplicate to the batch corpus " +
      "(x75 twin)") {
    import graft.operators.TextDedup
    val existing = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today again")
    ).toDF("doc_id", "text")
    val sketch = TextDedup.bandSketch(existing, "text", k = 3)
    assert(sketch != null)

    val dir = Files.createTempDirectory("ndgate-in").toString
    Seq(
      // identical text: every band matches -> guaranteed candidate -> drop
      (10L, "the quick brown fox jumps over the lazy dog today again"),
      (11L, "completely fresh unrelated arriving document text here"),
      (12L, "ok")) // too short to shingle: passes through, as in batch
      .toDF("event_id", "text").write.mode("overwrite").parquet(dir)
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("text", StringType)))
    val stream = spark.readStream.schema(schema).parquet(dir)
    val gated = Streams.neardupGate(stream, "text", sketch, k = 3)
    val q = gated.writeStream.outputMode("append")
      .format("memory").queryName("ndgate_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val ids = spark.table("ndgate_out")
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(11L, 12L))
    // null (empty-corpus) sketch is a pass-through, by convention
    val empty = TextDedup.bandSketch(
      Seq((1L, "ok")).toDF("doc_id", "text"), "text", k = 3)
    assert(empty == null)
    val all = Streams.neardupGate(
      Seq((1L, "any text at all works here")).toDF("event_id", "text"),
      "text", empty, k = 3)
    assert(all.count() == 1)
  }

  test("spanGate drops stream docs sharing a full gram frame with the " +
      "corpus (x83 twin)") {
    import graft.operators.TextDedup
    val existing = Seq(
      (1L, "a b c d e f g h i j k l")
    ).toDF("doc_id", "text")
    val sketch = TextDedup.gramSketch(existing, "text", spanTokens = 8)
    assert(sketch != null)

    val dir = Files.createTempDirectory("spangate-in").toString
    Seq(
      // embeds the corpus's 8-token run "a b c d e f g h" -> drop
      (10L, "x a b c d e f g h y z w"),
      // 12 tokens, no shared 8-frame -> pass
      (11L, "q r s t u v w x0 y0 z0 a0 b0"),
      (12L, "short doc")) // < spanTokens tokens: passes, as in batch
      .toDF("event_id", "text").write.mode("overwrite").parquet(dir)
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("text", StringType)))
    val stream = spark.readStream.schema(schema).parquet(dir)
    val gated = Streams.spanGate(stream, "text", sketch, spanTokens = 8)
    val q = gated.writeStream.outputMode("append")
      .format("memory").queryName("spangate_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val ids = spark.table("spangate_out")
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(11L, 12L))
    // null sketch (corpus below spanTokens everywhere) = pass-through
    val empty = TextDedup.gramSketch(
      Seq((1L, "too short")).toDF("doc_id", "text"), "text", 8)
    assert(empty == null)
    assert(Streams.spanGate(
      Seq((1L, "any text")).toDF("event_id", "text"), "text", empty, 8)
      .count() == 1)
  }

  test("paragraphSketch + boilerplateScrub cut corpus-known paragraphs " +
      "from arriving docs (x85 twin)") {
    import graft.operators.TextDedup
    val existing = Seq(
      (1L, "a b c d e f g h i j k l")  // one full 12-token paragraph
    ).toDF("doc_id", "text")
    val sketch = TextDedup.paragraphSketch(existing, "text", chunk = 12)
    assert(sketch != null)

    val dir = Files.createTempDirectory("parascrub-in").toString
    Seq(
      // head chunk == the corpus paragraph -> cut; unique tail kept
      (10L, "a b c d e f g h i j k l n1 n2 n3"),
      // no corpus paragraph: byte-identical pass-through
      (11L, "q r s t u"))
      .toDF("event_id", "text").write.mode("overwrite").parquet(dir)
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("text", StringType)))
    val stream = spark.readStream.schema(schema).parquet(dir)
    val scrubbed = Streams.boilerplateScrub(stream, "text", sketch,
      passageTokens = 12)
    val q = scrubbed.writeStream.outputMode("append")
      .format("memory").queryName("parascrub_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val out = spark.table("parascrub_out")
      .collect().map(r => r.getAs[Long]("event_id") ->
        r.getAs[String]("text")).toMap
    assert(out == Map(10L -> "n1 n2 n3", 11L -> "q r s t u"))
    // empty corpus -> null sketch -> pass-through convention
    assert(TextDedup.paragraphSketch(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), "text", 12) == null)
  }

  private def dropIdxTable(name: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    val Array(db, t) = name.split('.')
    val loc = java.nio.file.Paths.get("spark-warehouse", s"$db.db", t)
    if (java.nio.file.Files.exists(loc)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(loc).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("noveltyIngest: new-content gate vs the persisted gram index; " +
      "survivors extend the index; compaction restores exact df " +
      "(x110 twin)") {
    import graft.operators.TextAnalysis
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_idx_test")
    val dfT = "graft_idx_test.st_nov_df"
    dropIdxTable(dfT)

    // indexed corpus doc: grams over w1..w30
    val corpusText = (1 to 30).map(i => s"w$i").mkString(" ")
    // near-copy: 29 of its 30 tokens -> most grams known, low novelty
    val nearCorpus = (1 to 29).map(i => s"w$i").mkString(" ") + " zz"
    val freshText = (1 to 30).map(i => s"f$i").mkString(" ")
    val nearFresh = (1 to 29).map(i => s"f$i").mkString(" ") + " qq"
    val fresh2 = (1 to 30).map(i => s"g$i").mkString(" ")
    TextAnalysis.writeNoveltyIndex(
      Seq((100L, corpusText)).toDF("doc_id", "text"), "doc_id", "text",
      k = 3, dfT, numBuckets = 2)

    val dir = Files.createTempDirectory("novingest-in").toString
    val ckpt = Files.createTempDirectory("novingest-ckpt").toString
    val got = scala.collection.mutable.ArrayBuffer[Long]()
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    def run(): Unit = {
      val stream = spark.readStream.schema(schema).parquet(dir)
      val q = Streams.noveltyIngest(stream, "doc_id", "text", k = 3,
          minNewFrac = 0.5, dfT, numBuckets = 2) { (df, _) =>
        val ids = df.select("doc_id").collect().map(_.getLong(0))
        got.synchronized { got ++= ids; () }
      }.option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }

    // batch 1: the near-copy of the INDEXED doc is mostly-known mass
    // (1 of 28 grams new = 4%) and drops; the fresh doc is 100% new
    Seq((1L, nearCorpus), (2L, freshText)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(dir)
    run()
    assert(got.toSet == Set(2L))
    // batch 2: a near-copy of batch 1's SURVIVOR drops — only possible
    // because the ingest appended doc 2's grams; a second fresh doc
    // passes
    Seq((3L, nearFresh), (4L, fresh2)).toDF("doc_id", "text")
      .write.mode("append").parquet(dir)
    run()
    assert(got.toSet == Set(2L, 4L))

    // append-then-compact: after compaction the index is one row per
    // hash again and exact-df serving works — the indexed corpus,
    // scored against itself, reports full coverage (nothing unique
    // since doc 2/4's grams are disjoint from w*)
    spark.catalog.refreshTable(dfT)
    TextAnalysis.compactNoveltyIndex(spark, dfT, numBuckets = 2)
    val rows = spark.table(dfT).count()
    val distinct = spark.table(dfT).select("_h").distinct().count()
    assert(rows == distinct, "compaction must leave one row per hash")
    val scored = TextAnalysis.noveltyScoresIndexed(spark,
      Seq((100L, corpusText)).toDF("doc_id", "text"), "doc_id", "text",
      k = 3, dfT).head()
    assert(scored.getAs[Long]("n_shingles") == 28L)
    assert(scored.getAs[Long]("n_unique") == 28L) // df=1: only w-doc has them
  }

  test("indexedNeardupIngest: exact gate vs the persisted index; " +
      "survivors extend the index across micro-batches (x80 twin)") {
    import graft.operators.TextDedup
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_idx_test")
    val sets = "graft_idx_test.st_sets"; val bands = "graft_idx_test.st_bands"
    Seq(sets, bands).foreach(dropIdxTable)

    // 30 distinct tokens; the near-dup variants change ONE trailing
    // token: 27 of 28 3-shingles shared, exact J = 27/29 ~ 0.931 >= 0.8
    val corpusText = (1 to 30).map(i => s"w$i").mkString(" ")
    val nearCorpus = (1 to 29).map(i => s"w$i").mkString(" ") + " zz"
    val freshText = (1 to 30).map(i => s"f$i").mkString(" ")
    val nearFresh = (1 to 29).map(i => s"f$i").mkString(" ") + " qq"
    TextDedup.writeNeardupIndex(
      Seq((100L, corpusText)).toDF("doc_id", "text"), "doc_id", "text",
      k = 3, sets, bands, numBuckets = 2)

    val dir = Files.createTempDirectory("ndingest-in").toString
    val ckpt = Files.createTempDirectory("ndingest-ckpt").toString
    val got = scala.collection.mutable.ArrayBuffer[Long]()
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    def run(): Unit = {
      val stream = spark.readStream.schema(schema).parquet(dir)
      val q = Streams.indexedNeardupIngest(stream, "doc_id", "text",
          k = 3, threshold = 0.8, sets, bands, numBuckets = 2) {
        (df, _) =>
          val ids = df.select("doc_id").collect().map(_.getLong(0))
          got.synchronized { got ++= ids; () }
      }.option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }

    // batch 1: the corpus near-dup drops, the fresh doc survives
    Seq((1L, nearCorpus), (2L, freshText)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(dir)
    run()
    assert(got.toSet == Set(2L))
    // batch 2: a near-dup of batch 1's SURVIVOR drops — only possible
    // because the ingest appended doc 2's sets/bands to the index
    Seq((3L, nearFresh)).toDF("doc_id", "text")
      .write.mode("append").parquet(dir)
    run()
    assert(got.toSet == Set(2L))
    // and the index now holds exactly the corpus doc + the survivor.
    // (the appends ran in the stream's cloned session — this session's
    // cached file listing must be refreshed, standard Spark semantics
    // for out-of-session writes)
    spark.catalog.refreshTable(sets)
    assert(spark.table(sets).select("doc_id").collect()
      .map(_.getLong(0)).toSet == Set(100L, 2L))
  }

  test("substringDecontamScrub: arriving docs are cut against the " +
      "frozen benchmark gram index inside the stream (x232 twin) — " +
      "leaked spans excised, clean docs byte-identical, batch parity") {
    import graft.operators.TextDedup
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_idx_test")
    val idxT = "graft_idx_test.ssscrub_keys"
    dropIdxTable(idxT)
    val block = "The license block is repeated verbatim everywhere."
    TextDedup.writeSubstringIndex(
      Seq((100L, s"benchmark item text: $block end."))
        .toDF("doc_id", "text"),
      "doc_id", "text", 24, idxT, numBuckets = 2)
    val novel = "a wholly novel streaming document with nothing shared."
    val dir = Files.createTempDirectory("ssscrub-in").toString
    val inRows = Seq(
      (1L, s"leaked doc carries $block in the middle of it."),
      (2L, novel))
    inRows.toDF("doc_id", "text").write.mode("overwrite").parquet(dir)
    val got = scala.collection.mutable.Map[Long, (Long, String)]()
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val q = Streams.substringDecontamScrub(
        spark.readStream.schema(schema).parquet(dir), "doc_id", "text",
        24, idxT) { (df, _) =>
      got.synchronized {
        got ++= df.collect().map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[Long]("n_chars_removed"),
            r.getAs[String]("clean_text")))
        ()
      }
    }.option("checkpointLocation",
        Files.createTempDirectory("ssscrub-ckpt").toString)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    assert(got(1L)._1 > 0L && !got(1L)._2.contains(block), got(1L))
    assert(got(2L) === ((0L, novel)))
    // batch parity: the stream delivered exactly the batch composition
    val batchOut = TextDedup.applyCharSpans(
        inRows.toDF("doc_id", "text"), "doc_id", "text",
        TextDedup.substringContaminatedSpans(
          inRows.toDF("doc_id", "text"), "doc_id", "text", 24, idxT))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_chars_removed"),
          r.getAs[String]("clean_text"))).toMap
    assert(got.toMap === batchOut)
    dropIdxTable(idxT)
  }

  test("substringIngestManifest migrate-in-place: an existing " +
      "unversioned gram-key table serves as version 0 — batch 0 is " +
      "cut against it, v1's manifest lists it beside seg1, retire " +
      "never drops it and the first compaction folds it in") {
    import graft.operators.{Snapshots, TextDedup}
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_idx_test")
    val ledT = "graft_idx_test.ssmm_ledger"
    val base = "graft_idx_test.ssmm_keys"
    val aux = (1 to 4).flatMap(v => Seq(s"${base}_seg$v",
      s"${base}_mf_v$v"))
    (Seq(ledT, base) ++ aux).foreach(dropIdxTable)
    val block = "The license block is repeated verbatim everywhere."
    val corpusDoc = s"corpus document alpha carries the block: $block !"
    // the pre-stream corpus index, built by the BATCH path (x227's
    // artifact) — the stream must not ignore it
    TextDedup.writeSubstringIndex(
      Seq((100L, corpusDoc)).toDF("doc_id", "text"), "doc_id", "text",
      24, base, numBuckets = 2)
    val novel = "a wholly novel streaming document with nothing shared."
    val got = scala.collection.mutable.Map[Long, (Long, String)]()
    def ingest(b: org.apache.spark.sql.DataFrame, epoch: Long): Boolean =
      Streams.substringIngestManifestBatch(b, epoch, "doc_id", "text", 24,
          ledT, "ssmm", base, numBuckets = 2, keepVersions = 1) {
        (df, _) =>
          got ++= df.collect().map(r => r.getAs[Long]("doc_id") ->
            (r.getAs[Long]("n_chars_removed"),
              r.getAs[String]("clean_text")))
          ()
      }
    assert(ingest(Seq(
      (1L, s"stream doc one also carries $block plus its own tail."),
      (2L, novel)).toDF("doc_id", "text"), 0L))
    // batch 0 was cut against the MIGRATED corpus, not bootstrapped
    // blind
    assert(got(1L)._1 > 0L && !got(1L)._2.contains(block), got(1L))
    assert(got(2L) === ((0L, novel)))
    // v1 = the base + the batch's own segment (zero rebuild); the
    // ledger records a staged append onto the migrated snapshot, not a
    // blind build
    assert(TextDedup.substringSegments(spark, ledT, "ssmm", base) ===
      Seq(base, s"${base}_seg1"))
    assert(Snapshots.ledger(spark, ledT, "ssmm").collect()
      .map(r => (r.getLong(1), r.getString(3))).toSet
      === Set((1L, "append-staged")))
    // v2's retire (keepVersions = 1) reclaims v1's manifest, not the base
    assert(ingest(Seq((3L, "another brand new doc, nothing shared either."))
      .toDF("doc_id", "text"), 1L))
    assert(!spark.catalog.tableExists(s"${base}_mf_v1"))
    assert(spark.catalog.tableExists(base))
    // the first compaction folds the base in: ONE segment holding the
    // migrated corpus's keys ∪ every batch's cleaned keys
    assert(TextDedup.substringManifestCompact(spark, ledT, "ssmm", base,
      numBuckets = 2))
    assert(TextDedup.substringSegments(spark, ledT, "ssmm", base) ===
      Seq(s"${base}_seg3"))
    val expect = TextDedup.substringGramKeys(
        got.toSeq.map { case (id, (_, t)) => (id, t) }
          .toDF("doc_id", "text")
          .unionByName(Seq((100L, corpusDoc)).toDF("doc_id", "text")),
        "doc_id", "text", 24)
      .collect().map(_.getLong(0)).toSet
    spark.catalog.refreshTable(s"${base}_seg3")
    assert(spark.table(s"${base}_seg3").collect()
      .map(_.getLong(0)).toSet === expect)
    // retire past the compaction drops the folded segments, still
    // never the base ([[Snapshots.decommissionBase]] owns that)
    TextDedup.retireSubstringManifest(spark, ledT, "ssmm", base,
      keepVersions = 1)
    assert(!spark.catalog.tableExists(s"${base}_seg1"))
    assert(!spark.catalog.tableExists(s"${base}_seg2"))
    assert(spark.catalog.tableExists(base))
    (Seq(ledT, base) ++ aux).foreach(dropIdxTable)
  }

  test("decommissionBase: the migrated version-0 base is reclaimed " +
      "once the lineage outgrows the grace window — refused inside " +
      "it, idempotent, event-logged, and the migration batch's " +
      "replay still no-ops afterward") {
    import graft.operators.{Snapshots, TextDedup}
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_idx_test")
    val ledT = "graft_idx_test.ssdc_ledger"
    val base = "graft_idx_test.ssdc_keys"
    val aux = (1 to 4).flatMap(v => Seq(s"${base}_seg$v",
      s"${base}_mf_v$v"))
    (Seq(ledT, s"${ledT}_events", base) ++ aux).foreach(dropIdxTable)
    val corpusDoc = "corpus document alpha, migrated in place."
    TextDedup.writeSubstringIndex(
      Seq((100L, corpusDoc)).toDF("doc_id", "text"),
      "doc_id", "text", 24, base, numBuckets = 2)
    def batch(id: Long, epoch: Long): Boolean =
      Streams.substringIngestManifestBatch(
        Seq((id, s"novel streaming doc number $id, sharing nothing."))
          .toDF("doc_id", "text"),
        epoch, "doc_id", "text", 24, ledT, "ssdc", base,
        numBuckets = 2, keepVersions = 1)((_, _) => ())
    def decommission(): Boolean =
      Snapshots.decommissionBase(spark, ledT, "ssdc", Seq(base),
        keepVersions = 1)
    assert(batch(1L, 0L)) // v1 lists the base + seg1
    // inside the grace window (cur=1, keep=1): refused, base intact —
    // a reader that resolved just before v1 may still hold the base
    assert(!decommission())
    assert(spark.catalog.tableExists(base))
    // v2 outgrows the window, but its manifest still LISTS the base:
    // refused, or serving would lose the migrated corpus's keys
    assert(batch(2L, 1L))
    assert(!decommission())
    assert(spark.catalog.tableExists(base))
    // the first compaction folds the base in (v3 lists only seg3); with
    // the listing manifests out of the window the base goes
    assert(TextDedup.substringManifestCompact(spark, ledT, "ssdc", base,
      numBuckets = 2))
    assert(decommission())
    assert(!spark.catalog.tableExists(base))
    val ev = Snapshots.events(spark, ledT, "ssdc").collect()
    assert(ev.length === 1 &&
      ev.head.getAs[String]("event") === "decommission_base",
      ev.mkString("; "))
    // idempotent: the repeat finds nothing to drop, logs nothing
    assert(!decommission())
    assert(Snapshots.events(spark, ledT, "ssdc").count() === 1L)
    // serving and replay survive the drop: the folded segment still
    // cuts the migrated corpus's text, and the migration batch's replay
    // is still a ledger no-op (its row stays)
    assert(TextDedup.substringDedupApplyManifested(
        Seq((9L, corpusDoc)).toDF("doc_id", "text"), "doc_id", "text", 24,
        ledT, "ssdc", base)
      .head().getAs[String]("clean_text") === "")
    assert(!batch(1L, 0L))
    (Seq(ledT, s"${ledT}_events", base) ++ aux).foreach(dropIdxTable)
  }

  test("decommissionBase keeps a migrated base the live manifest still " +
      "lists: past the grace window by version count, the call refuses " +
      "and the manifested serve still reads the base's keys") {
    import graft.operators.{Snapshots, TextDedup}
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_idx_test")
    val ledT = "graft_idx_test.ssdl_ledger"
    val base = "graft_idx_test.ssdl_keys"
    val aux = (1 to 2).flatMap(v => Seq(s"${base}_seg$v",
      s"${base}_mf_v$v"))
    (Seq(ledT, s"${ledT}_events", base) ++ aux).foreach(dropIdxTable)
    val corpusDoc = "corpus document alpha, migrated in place."
    TextDedup.writeSubstringIndex(
      Seq((100L, corpusDoc)).toDF("doc_id", "text"),
      "doc_id", "text", 24, base, numBuckets = 2)
    Seq(0L, 1L).foreach(epoch => assert(
      Streams.substringIngestManifestBatch(
        Seq((epoch + 1, s"novel streaming doc number $epoch, no overlap."))
          .toDF("doc_id", "text"),
        epoch, "doc_id", "text", 24, ledT, "ssdl", base,
        numBuckets = 2, keepVersions = 1)((_, _) => ())))
    assert(TextDedup.substringSegments(spark, ledT, "ssdl", base) ===
      Seq(base, s"${base}_seg1", s"${base}_seg2"))
    assert(!Snapshots.decommissionBase(spark, ledT, "ssdl", Seq(base),
      keepVersions = 1))
    assert(spark.catalog.tableExists(base))
    assert(Snapshots.events(spark, ledT, "ssdl").count() === 0L)
    assert(TextDedup.substringDedupApplyManifested(
        Seq((9L, corpusDoc)).toDF("doc_id", "text"), "doc_id", "text", 24,
        ledT, "ssdl", base)
      .head().getAs[String]("clean_text") === "")
    (Seq(ledT, s"${ledT}_events", base) ++ aux).foreach(dropIdxTable)
  }

  test("substringIngestManifestBatch: O(batch) segment staging + " +
      "one-ledger-row commit — kill at every step, every replay " +
      "re-delivers the same cleaned frame, the served union converges " +
      "to the staged form's index, the per-batch segment holds ONLY " +
      "the batch's keys, and compaction folds the family to one " +
      "deduplicated segment") {
    import graft.operators.{Snapshots, TextDedup}
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_idx_test")
    val ledT = "graft_idx_test.ssm_ledger"
    val base = "graft_idx_test.ssm_keys"
    val aux = (1 to 6).flatMap(v => Seq(s"${base}_seg$v",
      s"${base}_mf_v$v"))
    (Seq(ledT, base) ++ aux).foreach(dropIdxTable)
    val block = "The license block is repeated verbatim everywhere."
    val novel = "a wholly novel streaming document with nothing shared."
    val batches = Map(
      0L -> Seq(
        (1L, s"first doc carries the block once: $block end."),
        (2L, s"second doc repeats it: $block with a tail."))
        .toDF("doc_id", "text"),
      1L -> Seq(
        (3L, novel),
        (4L, s"fourth doc carries $block yet again, uncut otherwise."))
        .toDF("doc_id", "text"),
      2L -> Seq((5L, s"fifth doc re-sends the novel text: $novel ."))
        .toDF("doc_id", "text"))
    val deliveries = scala.collection.mutable.Map[Long,
      scala.collection.mutable.ArrayBuffer[Map[Long, (Long, String)]]]()
    def run(epoch: Long, crash: Option[String]): Boolean =
      try Streams.substringIngestManifestBatch(batches(epoch), epoch,
          "doc_id", "text", 24, ledT, "ssm", base, numBuckets = 2,
          keepVersions = 1, crashAfterStep = crash) { (df, e) =>
        deliveries.getOrElseUpdate(e,
          scala.collection.mutable.ArrayBuffer.empty) +=
          df.collect().map(r => r.getAs[Long]("doc_id") ->
            (r.getAs[Long]("n_chars_removed"),
              r.getAs[String]("clean_text"))).toMap
        ()
      } catch {
        case e: IllegalStateException
          if e.getMessage.startsWith("injected") => false
      }
    // the full kill walk on the bootstrap AND the steady-state batch
    Seq(0L, 1L).foreach { epoch =>
      Seq("sink", "stage", "publish").foreach(k => run(epoch, Some(k)))
      assert(!run(epoch, None)) // post-publish replay: whole-batch no-op
      val d = deliveries(epoch)
      assert(d.size === 3, s"epoch $epoch: ${d.size}")
      assert(d.forall(_ == d.head), s"epoch $epoch diverged: $d")
    }
    // cut semantics: batch 0's first copy of the block keeps, the
    // second is cut; batch 1 is checked against v1
    assert(deliveries(0L).head(1L)._1 === 0L)
    assert(deliveries(0L).head(2L)._1 > 0L)
    assert(deliveries(1L).head(3L) === ((0L, novel)))
    assert(deliveries(1L).head(4L)._1 > 0L)
    // O(batch) staging law: each version's segment carries ONLY its
    // batch's cleaned keys — never the accumulated index
    val cleaned0 = deliveries(0L).head.toSeq
      .map { case (id, (_, t)) => (id, t) }.toDF("doc_id", "clean_text")
    val cleaned1 = deliveries(1L).head.toSeq
      .map { case (id, (_, t)) => (id, t) }.toDF("doc_id", "clean_text")
    def keysOf(df: org.apache.spark.sql.DataFrame): Set[Long] =
      TextDedup.substringGramKeys(df, "doc_id", "clean_text", 24)
        .collect().map(_.getLong(0)).toSet
    spark.catalog.refreshTable(s"${base}_seg2")
    assert(spark.table(s"${base}_seg2").collect()
      .map(_.getLong(0)).toSet === keysOf(cleaned1))
    // the served union = the from-scratch key set over both cleaned
    // frames (the convergence law, via the manifest)
    assert(TextDedup.substringSegments(spark, ledT, "ssm", base) ===
      Seq(s"${base}_seg1", s"${base}_seg2"))
    val expect = keysOf(cleaned0) ++ keysOf(cleaned1)
    val served = TextDedup.substringSegments(spark, ledT, "ssm", base)
      .map(t => { spark.catalog.refreshTable(t); spark.table(t) })
      .reduce(_ unionByName _).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(served === expect)
    // one ledger row per batch; tripwire clean
    assert(Snapshots.ledger(spark, ledT, "ssm").collect()
      .map(r => (r.getLong(1), r.getString(2), r.getString(3))).toSet
      === Set((1L, "stream-0", "build"),
        (2L, "stream-1", "append-staged")))
    assert(Snapshots.versionConflicts(spark, ledT, "ssm").isEmpty)
    // batch 2: a dup of batch 1's survivor is fully cut against the
    // SERVED segment union (the manifested read)
    assert(run(2L, None))
    assert(deliveries(2L).head(5L)._1 >= novel.length.toLong)
    // retire (keep=1) reclaimed v1's manifest and nothing it strands
    // is still referenced
    assert(!spark.catalog.tableExists(s"${base}_mf_v1"))
    assert(spark.catalog.tableExists(s"${base}_seg1"), // still listed by v3
      TextDedup.substringSegments(spark, ledT, "ssm", base).toString)
    // compaction folds the family to ONE deduplicated segment and the
    // next retire reclaims the strands; serving is unchanged
    assert(TextDedup.substringManifestCompact(spark, ledT, "ssm", base,
      numBuckets = 2))
    assert(!TextDedup.substringManifestCompact(spark, ledT, "ssm", base,
      numBuckets = 2)) // idempotent under compact-v<next>
    val segsAfter = TextDedup.substringSegments(spark, ledT, "ssm", base)
    assert(segsAfter === Seq(s"${base}_seg4"), segsAfter.toString)
    TextDedup.retireSubstringManifest(spark, ledT, "ssm", base,
      keepVersions = 1)
    assert(!spark.catalog.tableExists(s"${base}_seg1"))
    assert(!spark.catalog.tableExists(s"${base}_seg2"))
    spark.catalog.refreshTable(s"${base}_seg4")
    val cleaned2 = deliveries(2L).head.toSeq
      .map { case (id, (_, t)) => (id, t) }.toDF("doc_id", "clean_text")
    assert(spark.table(s"${base}_seg4").collect()
      .map(_.getLong(0)).toSet ===
      expect ++ keysOf(cleaned2))
    // and the one-call manifested serve still cuts correctly
    assert(TextDedup.substringDedupApplyManifested(
        Seq((9L, novel)).toDF("doc_id", "text"), "doc_id", "text", 24,
        ledT, "ssm", base)
      .head().getAs[String]("clean_text") === "")
    (Seq(ledT, base) ++ aux).foreach(dropIdxTable)
  }

  test("substringIngestManifest wiring: a file-backed stream publishes " +
      "each micro-batch through the manifest, compactEvery folds the " +
      "family to one segment, and later batches cut against earlier " +
      "survivors before and after the fold") {
    import graft.operators.{Snapshots, TextDedup}
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_idx_test")
    val ledT = "graft_idx_test.ssmw_ledger"
    val base = "graft_idx_test.ssmw_keys"
    val aux = (1 to 6).flatMap(v => Seq(s"${base}_seg$v",
      s"${base}_mf_v$v"))
    (Seq(ledT, base) ++ aux).foreach(dropIdxTable)
    val novel = "a wholly novel streaming document with nothing shared."
    val other = "another novel streaming text, unlike the first one."
    val dir = Files.createTempDirectory("ssmingest-in").toString
    val ckpt = Files.createTempDirectory("ssmingest-ckpt").toString
    val got = scala.collection.mutable.Map[Long, (Long, String)]()
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    def run(id: Long, text: String): Unit = {
      Seq((id, text)).toDF("doc_id", "text")
        .write.mode("append").parquet(dir)
      val stream = spark.readStream.schema(schema).parquet(dir)
      val q = Streams.substringIngestManifest(stream, "doc_id", "text",
          L = 24, ledT, "ssmw", base, numBuckets = 2,
          compactEvery = 2) { (df, _) =>
        val rows = df.collect().map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[Long]("n_chars_removed"),
            r.getAs[String]("clean_text")))
        got.synchronized { got ++= rows; () }
      }.option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }
    // batches 0 and 1 bootstrap v1 and stage v2 from novel text
    run(1L, novel)
    assert(got(1L) === ((0L, novel)))
    run(2L, other)
    assert(got(2L) === ((0L, other)))
    assert(TextDedup.substringSegments(spark, ledT, "ssmw", base).size
      === 2)
    // batch 2: a repeat of batch 0's survivor is cut against the
    // segment union, then the wiring's compaction folds the family
    run(3L, novel)
    assert(got(3L) === ((novel.length.toLong, "")), got(3L).toString)
    assert(TextDedup.substringSegments(spark, ledT, "ssmw", base) ===
      Seq(s"${base}_seg4"))
    // batch 3: a later repeat is still cut, now against the one segment
    run(4L, other)
    assert(got(4L) === ((other.length.toLong, "")), got(4L).toString)
    assert(Snapshots.currentVersion(spark, ledT, "ssmw") === 5L)
    (Seq(ledT, base) ++ aux).foreach(dropIdxTable)
  }

  test("splitAssignIngest: near-dups inherit the matched doc's split; " +
      "fresh docs hash-split; later batches inherit from earlier " +
      "(x93 twin)") {
    import graft.operators.{TextAnalysis, TextDedup}
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_idx_test")
    val sets = "graft_idx_test.sp_sets"; val bands = "graft_idx_test.sp_bands"
    val splits = "graft_idx_test.sp_splits"
    Seq(sets, bands, splits).foreach(dropIdxTable)

    val corpusText = (1 to 30).map(i => s"w$i").mkString(" ")
    val nearCorpus = (1 to 29).map(i => s"w$i").mkString(" ") + " zz"
    val freshText = (1 to 30).map(i => s"f$i").mkString(" ")
    val nearFresh = (1 to 29).map(i => s"f$i").mkString(" ") + " qq"
    TextDedup.writeNeardupIndex(
      Seq((100L, corpusText)).toDF("doc_id", "text"), "doc_id", "text",
      k = 3, sets, bands, numBuckets = 2)
    // seed with a sentinel split no hash can produce, so inheritance
    // is distinguishable from hash coincidence
    Seq((100L, "heldout")).toDF("doc_id", "split")
      .write.format("parquet").saveAsTable(splits)

    def lbl(id: Long): String = spark.range(1)
      .select(TextAnalysis.splitLabel(lit(id))).head.getString(0)

    val dir = Files.createTempDirectory("spl-in").toString
    val ckpt = Files.createTempDirectory("spl-ckpt").toString
    val got = scala.collection.mutable.Map[Long, String]()
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    def run(): Unit = {
      val stream = spark.readStream.schema(schema).parquet(dir)
      val q = Streams.splitAssignIngest(stream, "doc_id", "text",
          k = 3, threshold = 0.8, sets, bands, splits, numBuckets = 2) {
        (df, _) =>
          val rows = df.collect()
            .map(r => r.getLong(0) -> r.getString(1))
          got.synchronized { got ++= rows; () }
      }.option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }

    // batch 1: the corpus near-dup INHERITS the sentinel; fresh hashes
    Seq((1L, nearCorpus), (2L, freshText)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(dir)
    run()
    assert(got(1L) == "heldout")
    assert(got(2L) == lbl(2L))
    // batch 2: a near-dup of batch 1's doc 2 inherits ITS split (the
    // split table and index grew); an unrelated doc hashes. Doc id 6
    // chosen so its own hash split DIFFERS from doc 2's (md5("6")='1'
    // → train vs md5("2")='c' → test) — inheritance is observable
    assert(lbl(6L) != lbl(2L))
    Seq((6L, nearFresh), (4L, "totally distinct standalone payload"))
      .toDF("doc_id", "text").write.mode("append").parquet(dir)
    run()
    assert(got(6L) == lbl(2L)) // inherited, not lbl(6)
    assert(got(4L) == lbl(4L))
    // the split table now covers corpus + all four ingested docs
    spark.catalog.refreshTable(splits)
    assert(spark.table(splits).count() == 5)
  }

  test("indexedAnnIngest: embedding gate vs the persisted IVF index; " +
      "survivors extend the index across micro-batches (x92 twin)") {
    import graft.operators.Similarity
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_idx_test")
    val assignT = "graft_idx_test.st_ann_assign"
    val centT = "graft_idx_test.st_ann_cent"
    Seq(assignT, centT).foreach(dropIdxTable)

    val corpus = Seq(
      (100L, Array(1.0f, 0.0f, 0.0f)),
      (101L, Array(0.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding")
    Similarity.writeAnnIndex(corpus, corpus, "vec_id", "embedding",
      assignT, centT, numBuckets = 2)

    val dir = Files.createTempDirectory("annin-in").toString
    val ckpt = Files.createTempDirectory("annin-ckpt").toString
    val got = scala.collection.mutable.ArrayBuffer[Long]()
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    def run(): Unit = {
      val stream = spark.readStream.schema(schema).parquet(dir)
      val q = Streams.indexedAnnIngest(stream, "vec_id", "embedding",
          threshold = 0.9, nprobe = 2, assignT, centT, numBuckets = 2) {
        (df, _) =>
          val ids = df.select("vec_id").collect().map(_.getLong(0))
          got.synchronized { got ++= ids; () }
      }.option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }

    // batch 1: the corpus near-dup drops, the orthogonal vector survives
    Seq((1L, Array(0.99f, 0.01f, 0.0f)), (2L, Array(0.0f, 0.0f, 1.0f)))
      .toDF("vec_id", "embedding").write.mode("overwrite").parquet(dir)
    run()
    assert(got.toSet == Set(2L))
    // batch 2: a near-dup of batch 1's SURVIVOR drops — only possible
    // because the ingest appended vector 2 to the assignment table
    Seq((3L, Array(0.0f, 0.0f, 0.95f)))
      .toDF("vec_id", "embedding").write.mode("append").parquet(dir)
    run()
    assert(got.toSet == Set(2L))
    spark.catalog.refreshTable(assignT)
    assert(spark.table(assignT).select("neighbor_id").collect()
      .map(_.getLong(0)).toSet == Set(100L, 101L, 2L))
  }

  test("indexedAnnIngestVersioned: an EXISTING unversioned index " +
      "migrates in as version 0 — ledger-guarded appends, compaction " +
      "publishes v1, replayed epochs skip whole, base never retired") {
    import graft.operators.{Similarity, Snapshots}
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_idx_test")
    val ledger = "graft_idx_test.va_ann_ledger"
    val assignT = "graft_idx_test.va_ann_assign"
    val centT = "graft_idx_test.va_ann_cent"
    (Seq(ledger, assignT, centT) ++
      (1L to 2L).map(v => s"${assignT}_v$v")).foreach(dropIdxTable)
    val corpus = Seq(
      (100L, Array(1.0f, 0.0f, 0.0f)),
      (101L, Array(0.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding")
    Similarity.writeAnnIndex(corpus, corpus, "vec_id", "embedding",
      assignT, centT, numBuckets = 2)

    val dir = Files.createTempDirectory("annvs-in").toString
    val ckpt = Files.createTempDirectory("annvs-ckpt").toString
    val got = scala.collection.mutable.ArrayBuffer[Long]()
    def run(checkpoint: String): Unit = {
      val stream = spark.readStream.schema(StructType(Seq(
          StructField("vec_id", LongType),
          StructField("embedding", ArrayType(FloatType))))).parquet(dir)
      val q = Streams.indexedAnnIngestVersioned(stream, "vec_id",
          "embedding", threshold = 0.9, nprobe = 2, ledger, "va_ann",
          assignT, centT, numBuckets = 2, compactEvery = 2) {
        (df, _) =>
          val ids = df.select("vec_id").collect().map(_.getLong(0))
          got.synchronized { got ++= ids; () }
      }.option("checkpointLocation", checkpoint)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }
    // epoch 0: appends into VERSION 0 (the migrated-in base table)
    Seq((1L, Array(0.99f, 0.01f, 0.0f)), (2L, Array(0.0f, 0.0f, 1.0f)))
      .toDF("vec_id", "embedding").write.mode("overwrite").parquet(dir)
    run(ckpt)
    assert(got.toSet == Set(2L)) // 1 near-dups the migrated corpus
    assert(Snapshots.currentVersion(spark, ledger, "va_ann") === 0L)
    // epoch 1: cross-batch dedup via the version-0 append, then the
    // compactEvery boundary publishes v1
    Seq((3L, Array(0.0f, 0.0f, 0.95f)), (4L, Array(0.7f, 0.7f, 0.0f)))
      .toDF("vec_id", "embedding").write.mode("append").parquet(dir)
    run(ckpt)
    assert(got.toSet == Set(2L, 4L)) // 3 near-dups survivor 2
    assert(Snapshots.currentVersion(spark, ledger, "va_ann") === 1L)
    val actions = spark.table(ledger).orderBy("batch_id")
      .collect().map(r => (r.getAs[Long]("version"),
        r.getAs[String]("batch_id"), r.getAs[String]("action"))).toSeq
    assert(actions === Seq(
      (1L, "compact-stream-1", "compact"), (0L, "stream-0", "append"),
      (0L, "stream-1", "append")))
    // the migrated base survives (retire reclaims STAGED versions only)
    assert(spark.catalog.tableExists(assignT))
    assert(spark.catalog.tableExists(s"${assignT}_v1"))
    // v1 serves the full membership
    val Seq(cur) = Snapshots.resolve(spark, ledger, "va_ann", Seq(assignT))
    assert(cur === s"${assignT}_v1")
    assert(spark.table(cur).select("neighbor_id").collect()
      .map(_.getLong(0)).toSet == Set(100L, 101L, 2L, 4L))
    // a re-delivered epoch (fresh checkpoint, same source) skips whole
    got.clear()
    val before = spark.table(ledger).count()
    run(Files.createTempDirectory("annvs-ckpt2").toString)
    assert(got.isEmpty)
    assert(spark.table(ledger).count() === before)
  }

  test("pqIndexIngest: stream-appended codes equal batch appendPqIndex " +
      "codes under the same frozen books; the served index grows " +
      "across micro-batches") {
    import graft.operators.Similarity
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_idx_test")
    val (codesS, booksS) = ("graft_idx_test.st_pq_codes",
      "graft_idx_test.st_pq_books")
    val (codesB, booksB) = ("graft_idx_test.bt_pq_codes",
      "graft_idx_test.bt_pq_books")
    Seq(codesS, booksS, codesB, booksB).foreach(dropIdxTable)

    // two separated groups (the SimilaritySpec PQ fixture's shape)
    val corpus = Seq(
      (0L, Array(1.0f, 0.9f, 1.1f, 1.0f, 0.0f, 0.1f, 0.0f, 0.0f)),
      (1L, Array(0.0f, 0.1f, 0.0f, 0.0f, 1.0f, 1.1f, 0.9f, 1.0f)),
      (2L, Array(1.1f, 1.0f, 0.9f, 1.0f, 0.1f, 0.0f, 0.0f, 0.1f)),
      (3L, Array(0.1f, 0.0f, 0.1f, 0.0f, 0.9f, 1.0f, 1.0f, 1.1f))
    ).toDF("vec_id", "embedding")
    // identical frozen books on both sides (same corpus, same knobs)
    Similarity.writePqIndex(corpus, "vec_id", "embedding",
      codesS, booksS, m = 2, k = 2, rounds = 2)
    Similarity.writePqIndex(corpus, "vec_id", "embedding",
      codesB, booksB, m = 2, k = 2, rounds = 2)

    val batch1 = Seq((10L, Array(0.95f, 1.0f, 1.0f, 0.9f,
      0.05f, 0.0f, 0.1f, 0.0f)))
    val batch2 = Seq((11L, Array(0.05f, 0.0f, 0.1f, 0.0f,
      1.0f, 0.95f, 1.0f, 1.0f)))

    val dir = Files.createTempDirectory("pqin-in").toString
    val ckpt = Files.createTempDirectory("pqin-ckpt").toString
    val got = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    def run(): Unit = {
      val stream = spark.readStream.schema(schema).parquet(dir)
      val q = Streams.pqIndexIngest(stream, "vec_id", "embedding",
          codesS, booksS) { (df, bid) =>
        val ids = df.select("vec_id").collect().map(_.getLong(0))
        got.synchronized { got ++= ids.map(_ -> bid); () }
      }.option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }

    batch1.toDF("vec_id", "embedding").write.mode("overwrite").parquet(dir)
    run()
    batch2.toDF("vec_id", "embedding").write.mode("append").parquet(dir)
    run()
    assert(got.map(_._1).toSet == Set(10L, 11L))

    // batch twin: the same vectors through batch appendPqIndex
    (batch1 ++ batch2).toDF("vec_id", "embedding")
      .createOrReplaceTempView("pq_batch_twin")
    Similarity.appendPqIndex(spark.table("pq_batch_twin"),
      "vec_id", "embedding", codesB, booksB)
    def codes(table: String) = {
      spark.catalog.refreshTable(table)
      spark.table(table).collect().map(r => (r.getAs[Long]("vec_id"),
        r.getAs[Long]("code_0"), r.getAs[Long]("code_1"))).toSet
    }
    // stream-appended codes == batch-appended codes, row for row
    assert(codes(codesS) == codes(codesB))
    assert(codes(codesS).map(_._1) == Set(0L, 1L, 2L, 3L, 10L, 11L))
    // the served index covers both micro-batches' vectors
    val served = Similarity.pqTopKIndexed(spark,
        corpus.filter("vec_id = 0"), "vec_id", "embedding",
        codesS, booksS, topK = 5)
      .collect().map(_.getAs[Long]("neighbor_id")).toSet
    assert(served.contains(10L) && served.contains(11L))
  }

  test("ivfPqIndexIngest: stream-appended (bucket, codes) rows equal the " +
      "batch appendIvfPqIndex rows under the same frozen codebooks; the " +
      "composed index serves stream-ingested vectors (x127 twin)") {
    import graft.operators.Similarity
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_idx_test")
    val s3 = ("graft_idx_test.st_ivfpq_codes", "graft_idx_test.st_ivfpq_books",
      "graft_idx_test.st_ivfpq_cent")
    val b3 = ("graft_idx_test.bt_ivfpq_codes", "graft_idx_test.bt_ivfpq_books",
      "graft_idx_test.bt_ivfpq_cent")
    Seq(s3._1, s3._2, s3._3, b3._1, b3._2, b3._3).foreach(dropIdxTable)

    val corpus = Seq(
      (0L, Array(1.0f, 0.9f, 1.1f, 1.0f, 0.0f, 0.1f, 0.0f, 0.0f)),
      (1L, Array(0.0f, 0.1f, 0.0f, 0.0f, 1.0f, 1.1f, 0.9f, 1.0f)),
      (2L, Array(1.1f, 1.0f, 0.9f, 1.0f, 0.1f, 0.0f, 0.0f, 0.1f)),
      (3L, Array(0.1f, 0.0f, 0.1f, 0.0f, 0.9f, 1.0f, 1.0f, 1.1f))
    ).toDF("vec_id", "embedding")
    val cents = corpus.filter("vec_id < 2")
    Similarity.writeIvfPqIndex(corpus, cents, "vec_id", "embedding",
      s3._1, s3._2, s3._3, m = 2, k = 2, rounds = 2, numBuckets = 4)
    Similarity.writeIvfPqIndex(corpus, cents, "vec_id", "embedding",
      b3._1, b3._2, b3._3, m = 2, k = 2, rounds = 2, numBuckets = 4)

    val batch = Seq(
      (10L, Array(0.95f, 1.0f, 1.0f, 0.9f, 0.05f, 0.0f, 0.1f, 0.0f)),
      (11L, Array(0.05f, 0.0f, 0.1f, 0.0f, 1.0f, 0.95f, 1.0f, 1.0f)))

    val dir = Files.createTempDirectory("ivfpqin-in").toString
    val ckpt = Files.createTempDirectory("ivfpqin-ckpt").toString
    val got = scala.collection.mutable.ArrayBuffer[Long]()
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    batch.toDF("vec_id", "embedding").write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(schema).parquet(dir)
    val q = Streams.ivfPqIndexIngest(stream, "vec_id", "embedding",
        s3._1, s3._2, s3._3, numBuckets = 4) { (df, _) =>
      val ids = df.select("vec_id").collect().map(_.getLong(0))
      got.synchronized { got ++= ids; () }
    }.option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    assert(got.toSet == Set(10L, 11L))

    batch.toDF("vec_id", "embedding").createOrReplaceTempView("ivfpq_twin")
    Similarity.appendIvfPqIndex(spark.table("ivfpq_twin"),
      "vec_id", "embedding", b3._1, b3._2, b3._3, numBuckets = 4)
    def rows(table: String) = {
      spark.catalog.refreshTable(table)
      spark.table(table).collect().map(r => (r.getAs[Long]("vec_id"),
        r.getAs[Long]("centroid_id"), r.getAs[Long]("code_0"),
        r.getAs[Long]("code_1"))).toSet
    }
    assert(rows(s3._1) == rows(b3._1))
    assert(rows(s3._1).map(_._1) == Set(0L, 1L, 2L, 3L, 10L, 11L))
    // the composed index serves the stream-ingested vectors
    val served = Similarity.ivfPqTopKIndexed(spark,
        corpus.filter("vec_id = 0"), "vec_id", "embedding",
        s3._1, s3._2, s3._3, topK = 5, nprobe = 2)
      .collect().map(_.getAs[Long]("neighbor_id")).toSet
    assert(served.contains(10L) && served.contains(11L))
  }

  test("edgeIndexIngest: disjoint complete-order micro-batches fold into " +
      "partial counts whose merge-sum serve equals the batch rebuild " +
      "(x204-x209 twin), bootstrapping from EMPTY tables") {
    import graft.operators.Graph
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_idx_test")
    val st = Seq("graft_idx_test.st_eg_ob", "graft_idx_test.st_eg_edges",
      "graft_idx_test.st_eg_totals", "graft_idx_test.st_eg_stats")
    val bt = Seq("graft_idx_test.bt_eg_ob", "graft_idx_test.bt_eg_edges",
      "graft_idx_test.bt_eg_totals", "graft_idx_test.bt_eg_stats")
    (st ++ bt).foreach(dropIdxTable)
    val part = Seq((1L, "X"), (2L, "Y"), (3L, "Z"))
      .toDF("p_partkey", "p_brand")
    // two micro-batches, each carrying COMPLETE orders, keys disjoint
    val batch1 = Seq((10L, 1L), (10L, 2L), (11L, 1L), (11L, 3L))
    val batch2 = Seq((12L, 1L), (12L, 2L), (13L, 2L), (13L, 3L), (14L, 1L))

    val dir = Files.createTempDirectory("egin-in").toString
    val ckpt = Files.createTempDirectory("egin-ckpt").toString
    val got = scala.collection.mutable.ArrayBuffer[Long]()
    val schema = StructType(Seq(
      StructField("l_orderkey", LongType),
      StructField("l_partkey", LongType)))
    def run(): Unit = {
      val stream = spark.readStream.schema(schema).parquet(dir)
      val q = Streams.edgeIndexIngest(stream, part,
          st(0), st(1), st(2), st(3), numBuckets = 2) { (df, _) =>
        val ids = df.select("l_orderkey").collect().map(_.getLong(0))
        got.synchronized { got ++= ids; () }
      }.option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }
    batch1.toDF("l_orderkey", "l_partkey").write.mode("overwrite")
      .parquet(dir)
    run()
    batch2.toDF("l_orderkey", "l_partkey").write.mode("append")
      .parquet(dir)
    run()
    assert(got.toSet == Set(10L, 11L, 12L, 13L, 14L))

    // batch twin: one-shot rebuild over the union
    val all = (batch1 ++ batch2).toDF("l_orderkey", "l_partkey")
    Graph.writeEdgeIndex(all, part, bt(0), bt(1), bt(2), bt(3),
      numBuckets = 2)
    st.foreach(spark.catalog.refreshTable)
    val (obS, eS, tS, sS) = Graph.readEdgeIndex(spark, st(0), st(1),
      st(2), st(3))
    val (obB, eB, tB, sB) = Graph.readEdgeIndex(spark, bt(0), bt(1),
      bt(2), bt(3))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    assert(rows(obS) == rows(obB))
    assert(rows(eS) == rows(eB))
    assert(rows(tS) == rows(tB))
    assert(rows(sS) == rows(sB))
    // and the SERVED operator agrees end-to-end
    assert(rows(Graph.pageRank(eS)) == rows(Graph.pageRank(eB)))
  }

  test("edgeIndexIngest compactEvery=1: the steady state stays one file " +
      "per bucket across micro-batches, rows and serve unchanged") {
    import graft.operators.{Graph, Warehouse}
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_idx_test")
    val ct = Seq("graft_idx_test.ce_eg_ob", "graft_idx_test.ce_eg_edges",
      "graft_idx_test.ce_eg_totals", "graft_idx_test.ce_eg_stats")
    ct.foreach(dropIdxTable)
    val part = Seq((1L, "X"), (2L, "Y"), (3L, "Z"))
      .toDF("p_partkey", "p_brand")
    val batch1 = Seq((10L, 1L), (10L, 2L), (11L, 1L), (11L, 3L))
    val batch2 = Seq((12L, 1L), (12L, 2L), (13L, 2L), (13L, 3L))
    val dir = Files.createTempDirectory("egce-in").toString
    val ckpt = Files.createTempDirectory("egce-ckpt").toString
    val schema = StructType(Seq(
      StructField("l_orderkey", LongType),
      StructField("l_partkey", LongType)))
    def run(): Unit = {
      val stream = spark.readStream.schema(schema).parquet(dir)
      val q = Streams.edgeIndexIngest(stream, part,
          ct(0), ct(1), ct(2), ct(3), numBuckets = 2, compactEvery = 1) {
        (_, _) => ()
      }.option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }
    batch1.toDF("l_orderkey", "l_partkey").write.mode("overwrite")
      .parquet(dir)
    run()
    batch2.toDF("l_orderkey", "l_partkey").write.mode("append")
      .parquet(dir)
    run()
    ct.foreach(spark.catalog.refreshTable)
    val audit = Warehouse.indexFileAudit(spark,
        Seq("ob" -> ct(0), "edges" -> ct(1), "totals" -> ct(2),
          "stats" -> ct(3)))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // after 2 appends WITHOUT compaction these would hold 2 files per
    // bucket (the plain-ingest test's `before` state); compactEvery=1
    // holds the steady state at one per bucket / one per sidecar
    assert(audit("ob")._2 === 2L && audit("edges")._2 === 2L)
    assert(audit("totals")._2 === 1L && audit("stats")._2 === 1L)
    assert(audit("stats")._3 === 2L) // partial rows preserved
    // serve still equals the one-shot rebuild
    val bt = ct.map(_ + "_ref")
    bt.foreach(dropIdxTable)
    Graph.writeEdgeIndex((batch1 ++ batch2).toDF("l_orderkey", "l_partkey"),
      part, bt(0), bt(1), bt(2), bt(3), numBuckets = 2)
    val (_, eS, _, _) = Graph.readEdgeIndex(spark, ct(0), ct(1), ct(2),
      ct(3))
    val (_, eB, _, _) = Graph.readEdgeIndex(spark, bt(0), bt(1), bt(2),
      bt(3))
    assert(eS.collect().map(_.toSeq).toSet ===
      eB.collect().map(_.toSeq).toSet)
  }

  test("edgeIndexIngestVersioned: micro-batches publish through the " +
      "ledger — bootstrap + append + merge cadence, versioned serve == " +
      "batch rebuild, replays of every mutation are logged no-ops") {
    import graft.operators.{Graph, Snapshots, Warehouse}
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_idx_test")
    val ledger = "graft_idx_test.vs_eg_ledger"
    val bases = Seq("graft_idx_test.vs_eg_ob", "graft_idx_test.vs_eg_edges",
      "graft_idx_test.vs_eg_totals", "graft_idx_test.vs_eg_stats")
    val bt = bases.map(_ + "_ref")
    (ledger +: (bases ++ bt)).foreach(dropIdxTable)
    (1L to 3L).foreach(v => bases.foreach(b => dropIdxTable(s"${b}_v$v")))
    val part = Seq((1L, "X"), (2L, "Y"), (3L, "Z"))
      .toDF("p_partkey", "p_brand")
    val batch1 = Seq((10L, 1L), (10L, 2L), (11L, 1L), (11L, 3L))
    val batch2 = Seq((12L, 1L), (12L, 2L), (13L, 2L), (13L, 3L), (14L, 1L))
    val dir = Files.createTempDirectory("egvs-in").toString
    val ckpt = Files.createTempDirectory("egvs-ckpt").toString
    val schema = StructType(Seq(
      StructField("l_orderkey", LongType),
      StructField("l_partkey", LongType)))
    def run(): Unit = {
      val stream = spark.readStream.schema(schema).parquet(dir)
      val q = Streams.edgeIndexIngestVersioned(stream, part, ledger,
          "eg", bases(0), bases(1), bases(2), bases(3), numBuckets = 2,
          mergeEvery = 1) { (_, _) => () }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }
    batch1.toDF("l_orderkey", "l_partkey").write.mode("overwrite")
      .parquet(dir)
    run() // batch 0: bootstrap v1 (bid stream-0), merge -> v2
    batch2.toDF("l_orderkey", "l_partkey").write.mode("append")
      .parquet(dir)
    run() // batch 1: append into v2 (bid stream-1), merge -> v3, retire v1

    assert(Snapshots.currentVersion(spark, ledger, "eg") === 3L)
    val actions = spark.table(ledger)
      .orderBy("version", "batch_id")
      .collect().map(r => (r.getAs[Long]("version"),
        r.getAs[String]("batch_id"), r.getAs[String]("action"))).toSeq
    assert(actions === Seq(
      (1L, "stream-0", "build"), (2L, "merge-stream-0", "merge"),
      (2L, "stream-1", "append"), (3L, "merge-stream-1", "merge")))
    // v1 retired past the grace window; v2 (the grace copy) + v3 live
    assert(!spark.catalog.tableExists(s"${bases(1)}_v1"))
    assert(spark.catalog.tableExists(s"${bases(1)}_v2"))
    assert(spark.catalog.tableExists(s"${bases(1)}_v3"))

    // versioned serve == one-shot batch rebuild over the union
    Graph.writeEdgeIndex((batch1 ++ batch2).toDF("l_orderkey", "l_partkey"),
      part, bt(0), bt(1), bt(2), bt(3), numBuckets = 2)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    val (obS, eS, tS, sS) = Graph.readEdgeIndexVersioned(spark, ledger,
      "eg", bases(0), bases(1), bases(2), bases(3))
    val (obB, eB, tB, sB) = Graph.readEdgeIndex(spark, bt(0), bt(1),
      bt(2), bt(3))
    assert(rows(obS) == rows(obB))
    assert(rows(eS) == rows(eB))
    assert(rows(tS) == rows(tB))
    assert(rows(sS) == rows(sB))
    // the merge cadence holds the CURRENT version at canonical layout
    val audit = Warehouse.indexFileAudit(spark,
        Seq("edges" -> s"${bases(1)}_v3", "totals" -> s"${bases(2)}_v3"))
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(audit("edges") === 2L && audit("totals") === 1L)

    // REPLAYS of each guarded mutation — the at-least-once window — are
    // logged no-ops: same deterministic ids, false returns, serve
    // unchanged, no new ledger rows.
    val before = spark.table(ledger).count()
    assert(!Graph.writeEdgeIndexVersioned(
      batch1.toDF("l_orderkey", "l_partkey"), part, ledger, "eg",
      bases(0), bases(1), bases(2), bases(3), 2, Some("stream-0")))
    assert(!Graph.appendEdgeIndexVersioned(
      batch2.toDF("l_orderkey", "l_partkey"), part, ledger, "eg",
      bases(0), bases(1), bases(2), bases(3), Some("stream-1")))
    assert(!Graph.mergeEdgeIndexVersioned(spark, ledger, "eg",
      bases(0), bases(1), bases(2), bases(3), Some("merge-stream-1")))
    assert(spark.table(ledger).count() === before)
    val (_, eS2, _, _) = Graph.readEdgeIndexVersioned(spark, ledger,
      "eg", bases(0), bases(1), bases(2), bases(3))
    assert(rows(eS2) == rows(eB))
  }

  test("edgeIndexIngestVersioned staged=true: every micro-batch " +
      "publishes a deep-merged snapshot (no partial files, no " +
      "append/publish window), serve == batch rebuild") {
    import graft.operators.{Graph, Snapshots, Warehouse}
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_idx_test")
    val ledger = "graft_idx_test.st2_eg_ledger"
    val bases = Seq("graft_idx_test.st2_eg_ob", "graft_idx_test.st2_eg_edges",
      "graft_idx_test.st2_eg_totals", "graft_idx_test.st2_eg_stats")
    val bt = bases.map(_ + "_ref")
    (ledger +: (bases ++ bt)).foreach(dropIdxTable)
    (1L to 3L).foreach(v => bases.foreach(b => dropIdxTable(s"${b}_v$v")))
    val part = Seq((1L, "X"), (2L, "Y"), (3L, "Z"))
      .toDF("p_partkey", "p_brand")
    val batch1 = Seq((10L, 1L), (10L, 2L), (11L, 1L), (11L, 3L))
    val batch2 = Seq((12L, 1L), (12L, 2L), (13L, 2L), (13L, 3L))
    val dir = Files.createTempDirectory("egst-in").toString
    val ckpt = Files.createTempDirectory("egst-ckpt").toString
    val schema = StructType(Seq(
      StructField("l_orderkey", LongType),
      StructField("l_partkey", LongType)))
    def run(): Unit = {
      val stream = spark.readStream.schema(schema).parquet(dir)
      val q = Streams.edgeIndexIngestVersioned(stream, part, ledger,
          "st2", bases(0), bases(1), bases(2), bases(3), numBuckets = 2,
          staged = true) { (_, _) => () }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }
    batch1.toDF("l_orderkey", "l_partkey").write.mode("overwrite")
      .parquet(dir)
    run()
    batch2.toDF("l_orderkey", "l_partkey").write.mode("append")
      .parquet(dir)
    run()
    val actions = spark.table(ledger).orderBy("version")
      .collect().map(r => (r.getAs[Long]("version"),
        r.getAs[String]("action"))).toSeq
    assert(actions === Seq((1L, "build"), (2L, "append-staged")))
    // the staged snapshot is MERGED by construction: one row per key,
    // one file per bucket, no partial files to replay
    val audit = Warehouse.indexFileAudit(spark,
        Seq("edges" -> s"${bases(1)}_v2", "stats" -> s"${bases(3)}_v2"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    assert(audit("edges")._1 === 2L) // one file per bucket
    assert(audit("stats") === ((1L, 1L))) // merged: ONE stats row
    Graph.writeEdgeIndex((batch1 ++ batch2).toDF("l_orderkey", "l_partkey"),
      part, bt(0), bt(1), bt(2), bt(3), numBuckets = 2)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    val (_, eS, tS, sS) = Graph.readEdgeIndexVersioned(spark, ledger,
      "st2", bases(0), bases(1), bases(2), bases(3))
    val (_, eB, tB, sB) = Graph.readEdgeIndex(spark, bt(0), bt(1),
      bt(2), bt(3))
    assert(rows(eS) == rows(eB))
    assert(rows(tS) == rows(tB))
    assert(rows(sS) == rows(sB))
    assert(Snapshots.currentVersion(spark, ledger, "st2") === 2L)
  }

  test("dsirGate keeps exactly the docs whose frozen-weight score " +
      "clears the threshold (x222's serving form), schema preserved") {
    import graft.operators.TextAnalysis
    import org.apache.spark.sql.functions.col
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_idx_test")
    val table = "graft_idx_test.dsir_gate_w"
    dropIdxTable(table)
    val corpus = Seq(
      (2L, "alpha beta gamma alpha beta", "en"),
      (4L, "omega psi chi omega psi", "xx")
    ).toDF("doc_id", "text", "lang")
    TextAnalysis.writeDsirIndex(corpus, "doc_id", "text",
      col("lang") === "en", numBuckets = 32, table)
    val batch = Seq(
      (1L, "alpha beta gamma"),   // target-like: clears the bar
      (3L, "omega psi chi"),      // off-target: below it
      (5L, "solo"))               // no grams: neutral 0, below the bar
      .toDF("doc_id", "text")
    // threshold between the two scored docs, picked from the batch op
    val scores = TextAnalysis.dsirScoreIndexed(spark, batch, "doc_id",
        "text", table)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Double]("score")).toMap
    assert(scores(1L) > 0 && scores(3L) < 0)
    // positive bar: clears target-like doc 1, rejects off-target doc 3
    // AND the no-gram doc 5 (whose neutral 0 would clear any negative
    // bar — the x220 caveat made operational)
    val thr = scores(1L) / 2.0

    val dir = Files.createTempDirectory("dsg-in").toString
    batch.write.mode("overwrite").parquet(dir)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val stream = spark.readStream.schema(schema).parquet(dir)
    val got = scala.collection.mutable.ArrayBuffer[(Long, String)]()
    val q = Streams.dsirGate(stream, "doc_id", "text", table, thr) {
      (df, _) =>
        assert(df.columns.toSeq === Seq("doc_id", "text")) // schema kept
        val rows = df.collect().map(r => (r.getLong(0), r.getString(1)))
        got.synchronized { got ++= rows; () }
    }.option("checkpointLocation",
        Files.createTempDirectory("dsg-ckpt").toString)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    assert(got.map(_._1).toSet === Set(1L))
  }

  test("indexedNeardupIngestVersioned: ledger-guarded bootstrap + " +
      "append + compaction cadence; versioned serve == batch rebuild; " +
      "a re-delivered epoch is skipped whole") {
    import graft.operators.{Snapshots, TextDedup, Warehouse}
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_idx_test")
    val ledger = "graft_idx_test.vs_nd_ledger"
    val bases = Seq("graft_idx_test.vs_nd_sets", "graft_idx_test.vs_nd_bands")
    val bt = bases.map(_ + "_ref")
    (ledger +: (bases ++ bt)).foreach(dropIdxTable)
    (1L to 4L).foreach(v => bases.foreach(b => dropIdxTable(s"${b}_v$v")))
    val batch1 = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "an entirely different document about spark bucketed joins"))
    val batch2 = Seq(
      (3L, "the quick brown fox jumps over the lazy dog tonight"), // dup of 1
      (4L, "novel content that matches nothing in the index at all"))
    val dir = Files.createTempDirectory("ndvs-in").toString
    val ckpt = Files.createTempDirectory("ndvs-ckpt").toString
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val got = scala.collection.mutable.Map[Long, Set[Long]]()
    def run(checkpoint: String): Unit = {
      val stream = spark.readStream.schema(schema).parquet(dir)
      val q = Streams.indexedNeardupIngestVersioned(stream, "doc_id",
          "text", k = 3, threshold = 0.8, ledger, "nd",
          bases(0), bases(1), numBuckets = 2, compactEvery = 1) {
        (df, bid) =>
          val ids = df.select("doc_id").collect().map(_.getLong(0)).toSet
          got.synchronized { got(bid) = ids; () }
      }.option("checkpointLocation", checkpoint)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }
    batch1.toDF("doc_id", "text").write.mode("overwrite").parquet(dir)
    run(ckpt) // epoch 0: bootstrap v1, compact -> v2
    batch2.toDF("doc_id", "text").write.mode("append").parquet(dir)
    run(ckpt) // epoch 1: survivors appended into v2, compact -> v3

    assert(got(0L) === Set(1L, 2L)) // bootstrap: all survive
    assert(got(1L) === Set(4L))     // 3 dups indexed doc 1
    assert(Snapshots.currentVersion(spark, ledger, "nd") === 3L)
    val actions = spark.table(ledger).orderBy("version", "batch_id")
      .collect().map(r => (r.getAs[Long]("version"),
        r.getAs[String]("batch_id"), r.getAs[String]("action"))).toSeq
    assert(actions === Seq(
      (1L, "stream-0", "build"), (2L, "compact-stream-0", "compact"),
      (2L, "stream-1", "append"), (3L, "compact-stream-1", "compact")))
    assert(!spark.catalog.tableExists(s"${bases(0)}_v1")) // retired
    assert(spark.catalog.tableExists(s"${bases(0)}_v2"))

    // versioned serve == one-shot rebuild over the surviving docs
    val union = (batch1 ++ batch2.filter(_._1 == 4L))
      .toDF("doc_id", "text")
    TextDedup.writeNeardupIndex(union, "doc_id", "text", k = 3,
      bt(0), bt(1), numBuckets = 2)
    val Seq(setsT, bandsT) = Snapshots.resolve(spark, ledger, "nd", bases)
    def rows(t: String) = {
      spark.catalog.refreshTable(t)
      spark.table(t).collect().map(_.toSeq).toSet
    }
    assert(rows(setsT) == rows(bt(0)))
    assert(rows(bandsT) == rows(bt(1)))
    // compaction cadence holds the current version at canonical layout
    val audit = Warehouse.indexFileAudit(spark,
        Seq("sets" -> setsT, "bands" -> bandsT))
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(audit("sets") === 2L && audit("bands") === 2L)

    // a RE-DELIVERED epoch (fresh checkpoint over the same source
    // re-plays everything as epoch 0) is skipped whole: no sink call
    // with drifted content applied to the index, no new ledger rows,
    // serve unchanged
    got.clear()
    val before = spark.table(ledger).count()
    run(Files.createTempDirectory("ndvs-ckpt2").toString)
    assert(spark.table(ledger).count() === before)
    assert(rows(setsT) == rows(bt(0)))
    // the skipped epoch still ran the stream (one batch, no effects)
    assert(Snapshots.currentVersion(spark, ledger, "nd") === 3L)
  }

  test("quarantineJson routes records inside a streaming plan (x76 twin)") {
    import graft.operators.Project
    val dir = Files.createTempDirectory("quar-in").toString
    Seq(
      (1L, """{"k": 5}"""),
      (2L, "garbage{"),
      (3L, """{"other": 1}"""))
      .toDF("event_id", "props").write.mode("overwrite").parquet(dir)
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("props", StringType)))
    val stream = spark.readStream.schema(schema).parquet(dir)
    // the SAME stateless operator body; split = one filter per route
    val routed = Project.quarantineJson(stream, "props", Seq("k" -> LongType))
    val q = routed.writeStream.outputMode("append")
      .format("memory").queryName("quar_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val verdicts = spark.table("quar_out")
      .collect().map(r => r.getAs[Long]("event_id") ->
        r.getAs[String]("verdict")).toMap
    assert(verdicts == Map(1L -> "ok", 2L -> "not_json",
      3L -> "missing_required:k"))
  }

  test("classifierGate filters by the linear score inside a streaming plan " +
      "(x69 twin)") {
    val dir = Files.createTempDirectory("cgate-in").toString
    val rows = Seq(
      (1L, ts("2024-01-01 00:01:00"), "the quick brown fox jumps"),
      (2L, ts("2024-01-01 00:02:00"), "over the lazy dog today"),
      (3L, ts("2024-01-01 00:03:00"), "some words score low here"))
    rows.toDF("event_id", "ts", "text").write.mode("overwrite").parquet(dir)

    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("text", StringType)))
    val stream = spark.readStream.schema(schema).parquet(dir)
    val gated = Streams.classifierGate(stream, "text", threshold = 0.0)
    val q = gated.writeStream.outputMode("append")
      .format("memory").queryName("cgate_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val streamed = spark.table("cgate_out")
      .select("event_id").collect().map(_.getLong(0)).toSet
    // batch/stream parity by construction: same operator body
    val batch = graft.operators.Classifier
      .keep(rows.toDF("event_id", "ts", "text"), "text", 0.0)
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(streamed == batch)
    // the gate must actually discriminate on this fixture
    assert(streamed.nonEmpty && streamed.size < rows.size)
    // schema-transparent: no derived signal columns leak out
    assert(gated.schema.fieldNames.toSeq == schema.fieldNames.toSeq)
  }

  test("relevanceGate keeps query-relevant docs in-stream; score parity " +
      "with batch x98 (BM25 twin)") {
    import graft.operators.Retrieval
    val corpus = Seq(
      (10L, "apple pie apple tart"),
      (11L, "apple sauce with toast"),
      (12L, "banana split"),
      (13L, "plain bread loaf here")).toDF("doc_id", "text")
    val stats = Retrieval.bm25Stats(corpus, "text", Seq("apple", "banana"))
    assert(stats.nDocs == 4 && stats.termDf("apple") == 2L)

    // batch parity first: per-row relevance == the x98 plan's score for
    // every doc the top-k surfaces (same laws, same decimal sum)
    val topk = Retrieval.bm25TopK(corpus, "doc_id", "text",
      Seq("apple", "banana"), topK = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val perRow = Retrieval.scoreAgainst(corpus, "text", stats)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Double]("relevance")).toMap
    topk.foreach { case (id, s) => assert(perRow(id) == s, s"doc $id") }
    assert(perRow(13L) == 0.0) // no query term -> zero relevance

    // now the same operator body inside a streaming plan
    val dir = Files.createTempDirectory("rgate-in").toString
    corpus.write.mode("overwrite").parquet(dir)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val stream = spark.readStream.schema(schema).parquet(dir)
    val thr = topk.values.min // admits exactly the matching docs
    val gated = Streams.relevanceGate(stream, "text", stats, thr)
    val q = gated.writeStream.outputMode("append")
      .format("memory").queryName("rgate_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val streamed = spark.table("rgate_out")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(streamed == topk.keySet)
    assert(gated.schema.fieldNames.toSeq == schema.fieldNames.toSeq)
  }

  test("boilerplateScrub rewrites docs against the batch-built sketch (x50 twin)") {
    val corpus = Seq(
      (1L, "subscribe now click here unique alpha content words"),
      (2L, "subscribe now click here other beta distinct body text")
    ).toDF("doc_id", "text")
    val sketch = graft.operators.Cleaning
      .boilerplateSketch(corpus, "doc_id", "text", passageTokens = 4, maxDf = 1)
    assert(sketch != null)

    val dir = Files.createTempDirectory("bscrub-in").toString
    Seq(
      (1L, ts("2024-01-01 00:01:00"),
        "subscribe now click here fresh gamma payload words"),
      (2L, ts("2024-01-01 00:02:00"),
        "entirely original phrasing with no template chrome")
    ).toDF("event_id", "ts", "text")
      .write.mode("overwrite").parquet(dir)

    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("text", StringType)))
    val stream = spark.readStream.schema(schema).parquet(dir)
    val scrubbed = Streams.boilerplateScrub(stream, "text", sketch,
      passageTokens = 4)

    val q = scrubbed.writeStream.outputMode("append")
      .format("memory").queryName("bscrub_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val out = spark.table("bscrub_out")
      .collect().map(r => r.getLong(0) -> r.getAs[String]("text")).toMap
    assert(out(1L) == "fresh gamma payload words") // template prefix scrubbed
    assert(out(2L) == "entirely original phrasing with no template chrome")
    // schema-transparent: the text column is rewritten in place
    assert(scrubbed.schema.fieldNames.toSeq == schema.fieldNames.toSeq)
  }

  test("boilerplateScrub passes through on a null (no-boilerplate) sketch") {
    val unique = Seq(
      (1L, "every document here is entirely unique text")
    ).toDF("doc_id", "text")
    assert(graft.operators.Cleaning
      .boilerplateSketch(unique, "doc_id", "text", passageTokens = 4) == null)
    val scrubbed = Streams.boilerplateScrub(unique, "text", null, 4)
    assert(scrubbed.collect().map(_.getString(1)).toSeq ==
      Seq("every document here is entirely unique text"))
  }

  test("boilerplateScrub leaves hit-free documents byte-identical") {
    val corpus = Seq(
      (1L, "subscribe now click here unique alpha content words"),
      (2L, "subscribe now click here other beta distinct body text")
    ).toDF("doc_id", "text")
    val sketch = graft.operators.Cleaning
      .boilerplateSketch(corpus, "doc_id", "text", passageTokens = 4, maxDf = 1)
    // MIXED case + irregular whitespace: the rewrite path would
    // lowercase and whitespace-normalize this — the no-hit path must not
    val pristine = "Entirely  Original Phrasing\twith NO Template chrome"
    val docs = Seq(
      (1L, "subscribe now click here fresh gamma payload words"),
      (2L, pristine)
    ).toDF("doc_id", "text")
    val out = Streams.boilerplateScrub(docs, "text", sketch, 4)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "fresh gamma payload words") // hit ⇒ rewritten
    assert(out(2L) == pristine)                    // no hit ⇒ untouched
  }

  test("imageGate drops flat frames in-stream with the shared contrast law (x64 twin)") {
    import graft.operators.Multimodal
    val textured = Array.tabulate(70)(i => (i * 37 + 11) % 256)
    val dir = Files.createTempDirectory("igate-in").toString
    Seq(
      (1L, Multimodal.makePpmGray(7, 10, textured)),
      (2L, Multimodal.makePpmGray(7, 10, Array.fill(70)(128))), // flat
      (3L, "not an image at all".getBytes("UTF-8")) // stub grid, textured
    ).toDF("doc_id", "payload")
      .write.mode("overwrite").parquet(dir)
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("payload", org.apache.spark.sql.types.BinaryType)))
    val gated = Streams.imageGate(
      spark.readStream.schema(schema).parquet(dir), minContrast = 10.0)
    val q = gated.writeStream.outputMode("append")
      .format("memory").queryName("igate_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val ids = spark.table("igate_out")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(1L, 3L)) // flat frame gated out in-stream
    assert(gated.schema.fieldNames.toSeq == schema.fieldNames.toSeq)
  }

  test("redactPii runs unchanged inside a streaming plan (x60 twin)") {
    val dir = Files.createTempDirectory("redact-in").toString
    Seq(
      (1L, ts("2024-01-01 00:01:00"),
        "ping alice@ex.org from 10.1.2.3 now"),
      (2L, ts("2024-01-01 00:02:00"), "no pii here at all")
    ).toDF("event_id", "ts", "text")
      .write.mode("overwrite").parquet(dir)
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("text", StringType)))
    // a pure per-row projection composes into a streaming plan with no
    // state and no watermark — the same stateless-gate property as
    // qualityGate/boilerplateScrub
    val redacted = graft.operators.Cleaning.redactPii(
      spark.readStream.schema(schema).parquet(dir), "text")
    val q = redacted.writeStream.outputMode("append")
      .format("memory").queryName("redact_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val out = spark.table("redact_out")
      .collect().map(r => r.getLong(0) ->
        ((r.getAs[String]("text"), r.getAs[Long]("n_pii_emails"),
          r.getAs[Long]("n_pii_ips")))).toMap
    assert(out(1L) == (("ping <EMAIL> from <IP> now", 1L, 1L)))
    assert(out(2L) == (("no pii here at all", 0L, 0L)))
  }

  test("decontaminationGate drops benchmark-overlapping docs in-stream (x44 twin)") {
    val bench = Seq((1L, "held out eval phrase one two three"))
      .toDF("bench_id", "text")
    val sketch = graft.operators.TextAnalysis
      .benchmarkSketch(bench, "text", k = 3)

    val dir = Files.createTempDirectory("dgate-in").toString
    Seq(
      (1L, ts("2024-01-01 00:01:00"),
        "a clean document with entirely original phrasing throughout"),
      (2L, ts("2024-01-01 00:02:00"),
        "it quotes the held out eval phrase one two three verbatim")
    ).toDF("event_id", "ts", "text")
      .write.mode("overwrite").parquet(dir)

    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("text", StringType)))
    val stream = spark.readStream.schema(schema).parquet(dir)
    val gated = Streams.decontaminationGate(stream, "text", sketch,
      k = 3, threshold = 2)

    val q = gated.writeStream.outputMode("append")
      .format("memory").queryName("dgate_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val ids = spark.table("dgate_out")
      .select("event_id").collect().map(_.getLong(0)).toSeq
    assert(ids == Seq(1L)) // the quoting doc trips the sketch and drops
    assert(gated.schema.fieldNames.toSeq == schema.fieldNames.toSeq)
  }

  test("hybridServe: streamed query micro-batches serve the exact " +
      "batch hybrid ranking from the frozen indexes; an all-null-text " +
      "batch serves dense-only") {
    import graft.operators.{Retrieval, Similarity}
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_idx_test")
    val (post, statsT) = ("graft_idx_test.hs_post", "graft_idx_test.hs_stats")
    val (assignT, centT) =
      ("graft_idx_test.hs_assign", "graft_idx_test.hs_cent")
    Seq(post, statsT, assignT, centT).foreach(dropIdxTable)
    val docs = Seq(
      (0L, "apple pie tart"), (1L, "apple sauce toast"),
      (2L, "banana split"), (3L, "plain bread loaf"))
      .toDF("doc_id", "text")
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
      (3L, Array(0.0f, 0.9f, 0.1f, 0.0f))).toDF("vec_id", "embedding")
    Retrieval.writeBm25Index(docs, "doc_id", "text", post, statsT,
      numBuckets = 2)
    Similarity.writeAnnIndex(vecs, vecs.filter(col("vec_id") < 2),
      "vec_id", "embedding", assignT, centT)

    val batch1 = Seq(
      (10L, "apple", Array(1.0f, 0.05f, 0.0f, 0.0f)),
      (11L, null.asInstanceOf[String], Array(0.05f, 1.0f, 0.0f, 0.0f)))
    val batch2 = Seq( // all-null text: the lexical leg must go empty
      (12L, null.asInstanceOf[String], Array(0.0f, 0.95f, 0.05f, 0.0f)))

    // per-query results are batch-independent (df is a corpus
    // property), so the batch expectation over ALL queries equals the
    // union of per-micro-batch servings
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3),
        r.getLong(4), r.getDouble(5))
    val all = (batch1 ++ batch2).toDF("qid", "text", "embedding")
    val expect = Retrieval.rrfFuse(
      Retrieval.bm25TopKPerQueryIndexed(spark, post, statsT, all,
        "qid", "text", topK = 3),
      Similarity.ivfTopKIndexed(all, "qid", "embedding",
        k = 3, nprobe = 1, assignT, centT),
      topK = 3).collect().map(key).toSet
    assert(expect.nonEmpty)
    assert(expect.exists(_._1 == 12L), "dense-only query must serve")

    val dir = Files.createTempDirectory("hserve-in").toString
    val ckpt = Files.createTempDirectory("hserve-ckpt").toString
    val schema = StructType(Seq(
      StructField("qid", LongType), StructField("text", StringType),
      StructField("embedding", ArrayType(FloatType))))
    val got = scala.collection.mutable.ArrayBuffer[
      (Long, Long, Long, Long, Long, Double)]()
    def run(): Unit = {
      val stream = spark.readStream.schema(schema).parquet(dir)
      val q = Streams.hybridServe(stream, "qid", "text", "embedding",
          post, statsT, assignT, centT,
          lexK = 3, vecK = 3, nprobe = 1, topK = 3) { (df, _) =>
        val rows = df.collect().map(key)
        got.synchronized { got ++= rows; () }
      }.option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }
    batch1.toDF("qid", "text", "embedding")
      .write.mode("overwrite").parquet(dir)
    run()
    batch2.toDF("qid", "text", "embedding")
      .write.mode("append").parquet(dir)
    run()
    assert(got.toSet === expect)
  }

  test("anomalyGate flags the same days as batch x163 against the " +
      "frozen stats snapshot; types with no baseline drop") {
    import graft.operators.Analytics
    // type 'a': five 1-count days + one 10-count spike (the x163
    // fixture — only the spike breaks the exact-integer bound)
    val ev = ((0 to 4).map(d => ("a", d.toLong * 86400000L)) ++
      (0 until 10).map(i => ("a", 5L * 86400000L + i)))
      .toDF("event_type", "ms")
      .withColumn("ts", timestamp_millis(col("ms"))).drop("ms")
    val daily = Analytics.dailyCounts(ev, "ts", "event_type")
    val stats = Analytics.anomalyStats(daily)
    val batchFlagged = Analytics.anomalyDays(ev, "ts", "event_type")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(batchFlagged === Set(("a", 5L)))

    val dir = Files.createTempDirectory("agate-in").toString
    // an UNBASELINED type rides along in the stream — must drop
    daily.unionByName(Seq(("zz", 0L, 99L))
        .toDF("event_type", "day", "n_events"))
      .write.mode("overwrite").parquet(dir)
    val schema = StructType(Seq(
      StructField("event_type", StringType),
      StructField("day", LongType), StructField("n_events", LongType)))
    val stream = spark.readStream.schema(schema).parquet(dir)
    val q = Streams.anomalyGate(stream, stats)
      .writeStream.outputMode("append")
      .format("memory").queryName("agate")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val streamed = spark.table("agate")
      .select("event_type", "day").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(streamed === batchFlagged)
  }

  test("cusumStream emits batch x189's exact flag sequence against " +
      "the frozen baseline, carries state ACROSS micro-batches, and " +
      "drops unbaselined types") {
    import graft.operators.Analytics
    // the x189 drift fixture: 20 days at 10, then 10 days at 12 —
    // no single day is a point anomaly, the run accumulates
    val day = 86400000L
    val counts = (0 until 20).map(d => (d, 10)) ++
      (20 until 30).map(d => (d, 12))
    val ev = counts.flatMap { case (d, n) =>
      (0 until n).map(i => ("t", d * day + i))
    }.toDF("event_type", "ms")
      .withColumn("ts", timestamp_millis(col("ms"))).drop("ms")
    val daily = Analytics.dailyCounts(ev, "ts", "event_type")
    val baselines = Streams.cusumBaselines(Analytics.cusumStats(daily))
    val batch = Analytics.cusumDrift(ev, "ts", "event_type", h = 3)
      .collect().map(r => (r.getLong(1), r.getBoolean(4))).toMap
    assert(batch.values.count(identity) > 0)

    val dir = Files.createTempDirectory("cusum-in").toString
    val schema = StructType(Seq(
      StructField("event_type", StringType),
      StructField("day", LongType), StructField("n_events", LongType)))
    def run(): Unit = {
      val stream = spark.readStream.schema(schema).parquet(dir)
        .as[Streams.DailyCount]
      implicit val s = spark
      val q = Streams.cusumStream(stream, baselines, h = 3)
        .writeStream.outputMode("append")
        .format("memory").queryName("cusum_out")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
    }
    val rows = daily.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._2)
    // two micro-batches split mid-drift, plus an unbaselined type
    (rows.take(15) :+ (("zz", 0L, 99L)))
      .toSeq.toDF("event_type", "day", "n_events")
      .write.mode("overwrite").parquet(dir)
    run()
    rows.drop(15).toSeq.toDF("event_type", "day", "n_events")
      .write.mode("append").parquet(dir)
    run()
    val streamed = spark.table("cusum_out")
      .collect().map(r => (r.getString(0), r.getLong(1),
        r.getLong(3), r.getBoolean(4)))
    assert(streamed.forall(_._1 == "t"))   // zz dropped
    assert(streamed.map(r => (r._2, r._4)).toMap === batch)
    // the emitted S values match the direct max(0, S+d) recursion
    val xs = counts.map(_._2.toLong)
    val dd = xs.map(x => xs.length * x - xs.sum)
    val svals = dd.scanLeft(0L)((s, d) => math.max(0L, s + d)).tail
    assert(streamed.sortBy(_._2).map(_._3).toSeq === svals)
  }

  test("cusumStream: the prefix sum accumulates in BigInt — a series " +
      "whose running sum exceeds Long range still flags exactly (a " +
      "long accumulator would wrap negative and un-flag day 2)") {
    // d=2, s1=0, v=1: each 3e18-count day deviates by 6e18 (fits a
    // long), but the 2-day prefix sum 1.2e19 does not
    val baselines = Map("t" -> ((2L, 0L, BigInt(1))))
    val dir = Files.createTempDirectory("cusumbig-in").toString
    val schema = StructType(Seq(
      StructField("event_type", StringType),
      StructField("day", LongType), StructField("n_events", LongType)))
    Seq(("t", 0L, 3000000000000000000L), ("t", 1L, 3000000000000000000L))
      .toDF("event_type", "day", "n_events")
      .write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(schema).parquet(dir)
      .as[Streams.DailyCount]
    implicit val s = spark
    val q = Streams.cusumStream(stream, baselines, h = 3)
      .writeStream.outputMode("append")
      .format("memory").queryName("cusumbig_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val rows = spark.table("cusumbig_out")
      .collect().map(r => r.getLong(1) -> ((r.getLong(3), r.getBoolean(4))))
      .toMap
    assert(rows.view.mapValues(_._2).toMap === Map(0L -> true, 1L -> true))
    // day 0's S = 6e18 fits a long and reports exactly; day 1's
    // S = 1.2e19 exceeds Long range — the report column SATURATES at
    // Long.MaxValue (a plain toLong would wrap to a garbage negative)
    assert(rows(0L)._1 === 6000000000000000000L)
    assert(rows(1L)._1 === Long.MaxValue)
  }

  test("latenessGate measures each event against its key's running " +
      "max event time, admits within the allowance, carries state " +
      "across micro-batches, and never drops rows") {
    // user 1 arrival order (by id): ts 100, 400, then 200 (late by
    // 200) and 390 (late by 10) — allowance 50 rejects only the first
    val batch1 = Seq((1L, 1L, "a", 100L), (1L, 2L, "a", 400L))
    val batch2 = Seq((1L, 3L, "a", 200L), (1L, 4L, "a", 390L),
      (2L, 5L, "a", 10L)) // fresh key in batch 2: never late
    val dir = Files.createTempDirectory("lgate-in").toString
    val schema = StructType(Seq(
      StructField("user_id", LongType), StructField("event_id", LongType),
      StructField("event_type", StringType),
      StructField("ts_ms", LongType)))
    def run(): Unit = {
      val stream = spark.readStream.schema(schema).parquet(dir)
        .as[Streams.ArrivedEvent]
      implicit val s = spark
      val q = Streams.latenessGate(stream, allowedLatenessMs = 50L)
        .writeStream.outputMode("append")
        .format("memory").queryName("lgate_out")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
    }
    batch1.toDF("user_id", "event_id", "event_type", "ts_ms")
      .write.mode("overwrite").parquet(dir)
    run()
    batch2.toDF("user_id", "event_id", "event_type", "ts_ms")
      .write.mode("append").parquet(dir)
    run()
    val got = spark.table("lgate_out").collect()
      .map(r => r.getLong(1) -> ((r.getLong(4), r.getBoolean(5))))
      .toMap
    assert(got === Map(
      1L -> ((0L, true)), 2L -> ((0L, true)),
      3L -> ((200L, false)),  // batch-1 state (max 400) crossed over
      4L -> ((10L, true)),
      5L -> ((0L, true))))
  }

  test("riGate passes exactly the facts whose FK has a parent in the " +
      "dim snapshot; riQuarantine catches the complement incl. NULL " +
      "keys — the x176 orphan law on a stream") {
    val dim = Seq(1L, 2L, 3L).toDF("pk")
    val dir = Files.createTempDirectory("rigate-in").toString
    Seq((Some(1L), "ok1"), (Some(2L), "ok2"), (Some(9L), "orphan"),
      (None: Option[Long], "nullkey"))
      .toDF("fk", "payload")
      .write.mode("overwrite").parquet(dir)
    val schema = StructType(Seq(
      StructField("fk", LongType), StructField("payload", StringType)))
    val stream = spark.readStream.schema(schema).parquet(dir)
    val qPass = Streams.riGate(stream, "fk", dim, "pk")
      .writeStream.outputMode("append")
      .format("memory").queryName("ripass")
      .trigger(Trigger.AvailableNow()).start()
    val qQuar = Streams.riQuarantine(stream, "fk", dim, "pk")
      .writeStream.outputMode("append")
      .format("memory").queryName("riquar")
      .trigger(Trigger.AvailableNow()).start()
    qPass.awaitTermination(60000)
    qQuar.awaitTermination(60000)
    val passed = spark.table("ripass").select("payload")
      .collect().map(_.getString(0)).toSet
    val quarantined = spark.table("riquar").select("payload")
      .collect().map(_.getString(0)).toSet
    assert(passed === Set("ok1", "ok2"))
    assert(quarantined === Set("orphan", "nullkey"))
  }
}
