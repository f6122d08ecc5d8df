package perfbench

import java.net.{InetAddress, InetSocketAddress, URLDecoder, URLEncoder}
import java.nio.file.{Files, Path, Paths}
import java.time.Instant
import java.time.format.DateTimeFormatter
import java.util.concurrent.{ConcurrentLinkedQueue, Executors}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, count, expr, lit, xxhash64}

import graft.Tables
import graft.model.Views
import graft.operators.{Flatten, Project, Upsert, Warehouse}
import graft.runner.Orchestrator
import graft.sinks.Sinks
import graft.sources.Sources
import graft.state.Bookmarks

/** `elt_sync`: closed-loop sync rounds against an in-process paginated
  * HTTP fixture — the reference's extract → flatten → project → upsert →
  * land → bookmark → dbt-view path, and the only workload that writes.
  *
  * Two streams:
  *  - `wrike.tasks`, derived from `orders`: Wrike-shaped records (nested
  *    `dates` object, a list, an undeclared key), 1,000 per page. After a
  *    20,000-row backfill every round serves 10,000 rows, a fifth of them
  *    updates of keys already landed. Flatten (`-` separator) → declared
  *    projection → latest per key, merged onto the landed snapshot with
  *    `Warehouse.cdcApply` and written as a new snapshot, so the landed
  *    table grows every round while the batch stays fixed;
  *  - `hubspot.events`, derived from `events`: append-only HubSpot-shaped
  *    records, 100 per page, 1,000 per round, merged by id onto the landed
  *    events the same way, so a replayed page lands once.
  *
  * Each round runs `Orchestrator.runOnce` (parallelism 1, as `loop` does),
  * then `Bookmarks.save`, then refreshes both dbt models to completion.
  * The seed chooses which keys each round updates and every timestamp;
  * round `r`'s rows depend only on the seed and `r`. */
object EltSync {
  val BackfillTasks = 20000
  val TasksPerRound = 10000
  val UpdatesPerRound = 2000
  val TaskPageSize = 1000
  val EventsPerRound = 1000
  val EventPageSize = 100
  /** Untimed rounds before the timed ones: the backfill and one
    * incremental round, which warm every code path the timed rounds use. */
  val WarmupRounds = 2

  val Declared: Seq[String] = Seq("id", "accountId", "title", "status",
    "importance", "createdDate", "updatedDate", "completedDate",
    "dates-start", "dates-due", "dates-type", "dates-duration")
  private val EventCols = Seq("id", "createdAt", "updatedAt", "user_id",
    "event_type", "value", "props", "archived")

  private val Epoch0 = Instant.parse("2024-06-01T00:00:00Z").toEpochMilli
  private val RoundMs = 3600000L
  private val DayMs = 86400000L
  private val Iso = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")
    .withZone(java.time.ZoneOffset.UTC)
  def iso(ms: Long): String = Iso.format(Instant.ofEpochMilli(ms))

  final case class Task(id: String, accountId: String, title: String,
                        status: String, importance: String, createdMs: Long,
                        updatedMs: Long, completedMs: Option[Long],
                        dueMs: Long, durationMin: Long, responsible: Seq[String]) {
    def json: String = Json.write(Map(
      "id" -> id, "accountId" -> accountId, "title" -> title,
      "status" -> status, "importance" -> importance,
      "createdDate" -> iso(createdMs), "updatedDate" -> iso(updatedMs),
      "completedDate" -> completedMs.map(iso),
      "dates" -> Map("type" -> "Planned", "start" -> iso(createdMs),
        "due" -> iso(dueMs), "duration" -> durationMin),
      "responsibleIds" -> responsible,
      "permalink" -> s"https://www.wrike.com/open.htm?id=$id"))
    /** The landed row, in `Declared` order, as `rowKey` renders it. */
    def landed: String = Seq(id, accountId, title, status, importance,
      iso(createdMs), iso(updatedMs), completedMs.map(iso).orNull,
      iso(createdMs), iso(dueMs), "Planned", durationMin).mkString("\u0001")
  }

  final case class Event(id: String, createdMs: Long, updatedMs: Long,
                         user: Long, kind: String, value: Double, props: String) {
    def json: String = Json.write(Map(
      "id" -> id, "createdAt" -> iso(createdMs), "updatedAt" -> iso(updatedMs),
      "archived" -> false,
      "properties" -> Map("user_id" -> user, "event_type" -> kind,
        "value" -> value, "props" -> props)))
    def landed: String = Seq(id, iso(createdMs), iso(updatedMs), user, kind,
      value, props, false).mkString("\u0001")
  }

  private def rowKey(r: Row): String =
    r.toSeq.map(String.valueOf).mkString("\u0001")

  /** Builds each round's rows and keeps, on its own, what the landed
    * tables, views and bookmarks must hold after the rows it served. */
  final class Generator(seed: Long, orders: IndexedSeq[Row], events: IndexedSeq[Row]) {
    val tasks = mutable.HashMap.empty[String, Task]
    val served = mutable.ArrayBuffer.empty[Event]
    var maxTaskMs = 0L
    var maxEventMs = 0L
    private var nextTask = 0L
    private var nextEvent = 0L

    private def newTask(i: Long, updatedMs: Long): Task = {
      val o = orders((i % orders.size).toInt)
      val key = o.getLong(0)
      val created = o.getTimestamp(4).getTime + i / orders.size * 7 * DayMs
      val status = o.getString(2) match {
        case "F" => "Completed"
        case "O" => "Active"
        case _ => "Deferred"
      }
      val kind = Seq("Proposal for", "Quote", "Review of", "Design", "Renewal quote")((key % 5).toInt)
      Task(s"T$i", s"A${o.getLong(1) % 97}", s"$kind $key", status,
        o.getString(5).head match { case '1' | '2' => "High"; case '3' => "Normal"; case _ => "Low" },
        created, updatedMs,
        if (status == "Completed") Some(created + (1 + key % 45) * DayMs + key * 7919 % DayMs) else None,
        created + 30 * DayMs, (o.getDouble(3) % 10000).toLong,
        (0 to (key % 3).toInt).map(k => s"U${(o.getLong(1) + k) % 13}"))
    }

    /** Round `r`'s task and event records as (timestamp ms, JSON), each
      * list sorted by timestamp. */
    def round(r: Int): (Seq[(Long, String)], Seq[(Long, String)]) = {
      val rng = new Random(seed * 1000003L + r)
      def stamp() = Epoch0 + r * RoundMs + rng.nextLong(RoundMs)
      val nUpd = if (r == 0) 0 else UpdatesPerRound
      val nNew = (if (r == 0) BackfillTasks else TasksPerRound) - nUpd
      val upd = mutable.LinkedHashSet.empty[Long]
      while (upd.size < nUpd) upd += rng.nextLong(nextTask)
      val updated = upd.toSeq.map { i =>
        val t = tasks(s"T$i")
        val status = Seq("Completed", "Active", "Deferred")(rng.nextInt(3))
        t.copy(status = status, updatedMs = stamp(),
          completedMs = if (status == "Completed")
            Some(t.createdMs + (1 + rng.nextInt(60)) * DayMs + rng.nextLong(DayMs)) else None)
      }
      val fresh = (nextTask until nextTask + nNew).map(i => newTask(i, stamp()))
      nextTask += nNew
      val batch = updated ++ fresh
      batch.foreach(t => tasks(t.id) = t)
      maxTaskMs = math.max(maxTaskMs, batch.map(_.updatedMs).max)

      val evts = (nextEvent until nextEvent + EventsPerRound).map { j =>
        val e = events((j % events.size).toInt)
        Event(s"E$j", e.getTimestamp(1).getTime, stamp(), e.getLong(2),
          e.getString(3), e.getDouble(4), e.getString(5))
      }
      nextEvent += EventsPerRound
      served ++= evts
      maxEventMs = math.max(maxEventMs, evts.map(_.updatedMs).max)
      (batch.map(t => t.updatedMs -> t.json).sortBy(_._1),
        evts.map(e => e.updatedMs -> e.json).sortBy(_._1))
    }

    def proposal: Seq[String] = durations("proposal")
    def quote: Seq[String] = durations("quote")

    /** The dbt model's rows (id, duration in days at 4 decimals), by its
      * own definition: completed tasks whose title matches. */
    private def durations(word: String): Seq[String] = tasks.values.collect {
      case t if t.status == "Completed" && t.completedMs.isDefined &&
          t.title.toLowerCase.contains(word) =>
        val d = math.floor((t.completedMs.get - t.createdMs) / 8.64e7 * 10000 + 0.5) / 10000.0
        s"${t.id}\u0001$d"
    }.toSeq
  }

  /** One page a fixture handler served: stream, rows, body bytes, when. */
  final case class Served(stream: String, rows: Int, bytes: Long, nanos: Long)

  /** In-process paginated HTTP API. Each stream holds every record it was
    * given, sorted by timestamp; a request names the bookmark and a page
    * token (an absolute offset) and gets the next page of newer records.
    * No faults and no rate limit; at most `threads` handler threads. */
  final class HttpFixture(threads: Int) extends AutoCloseable {
    private val pool = Executors.newFixedThreadPool(threads)
    private val server = HttpServer.create(
      new InetSocketAddress(InetAddress.getLoopbackAddress, 0), 0)
    @volatile private var rows = Map.empty[String, Vector[(Long, String)]]
    val served = new ConcurrentLinkedQueue[Served]

    server.setExecutor(pool)
    server.createContext("/wrike/tasks", (ex: HttpExchange) =>
      handle(ex, "tasks", "updatedDate", TaskPageSize, (data, next) =>
        s"""{"kind":"tasks","data":[${data.mkString(",")}]""" +
          next.fold("")(n => s""","nextPageToken":"$n"""") + "}"))
    server.createContext("/hubspot/events", (ex: HttpExchange) =>
      handle(ex, "events", "since", EventPageSize, (data, next) =>
        s"""{"results":[${data.mkString(",")}]""" +
          next.fold("")(n => s""","paging":{"next":{"after":"$n"}}""") + "}"))
    server.start()

    val base = s"http://${InetAddress.getLoopbackAddress.getHostAddress}:${server.getAddress.getPort}"

    def publish(stream: String, recs: Seq[(Long, String)]): Unit =
      rows = rows.updated(stream, rows.getOrElse(stream, Vector.empty) ++ recs)

    private def handle(ex: HttpExchange, stream: String, sinceParam: String,
                       pageSize: Int,
                       render: (Seq[String], Option[Int]) => String): Unit = {
      val params = Option(ex.getRequestURI.getRawQuery).getOrElse("").split('&')
        .map(_.split("=", 2)).collect { case Array(k, v) => k -> URLDecoder.decode(v, "UTF-8") }.toMap
      val all = rows.getOrElse(stream, Vector.empty)
      val start = params.get("token").map(_.toInt).getOrElse {
        // the first record newer than the bookmark
        val since = Instant.parse(params(sinceParam)).toEpochMilli
        var (lo, hi) = (0, all.size)
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (all(mid)._1 > since) hi = mid else lo = mid + 1
        }
        lo
      }
      val end = math.min(start + pageSize, all.size)
      val body = render(all.slice(start, end).map(_._2), Some(end).filter(_ < all.size))
        .getBytes("UTF-8")
      ex.sendResponseHeaders(200, body.length)
      val os = ex.getResponseBody
      try os.write(body) finally os.close()
      served.add(Served(stream, end - start, body.length, System.nanoTime()))
    }

    def close(): Unit = {
      server.stop(0)
      pool.shutdownNow()
    }
  }

  def open(spark: SparkSession, data: String): HttpFixture = {
    Seq("orders", "events").foreach(t => Tables(spark, data, t).head(1))
    new HttpFixture(Runtime.getRuntime.availableProcessors)
  }

  def run(ctx: Ctx, fixture: HttpFixture): Outcome = {
    import ctx.{spark, tracer}
    val orders = Tables(spark, ctx.data, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"), col("o_totalprice"),
        col("o_orderdate").cast("timestamp"), col("o_orderpriority"))
      .orderBy("o_orderkey").collect().toIndexedSeq
    val events = Tables(spark, ctx.data, "events")
      .select(col("event_id"), col("ts").cast("timestamp"), col("user_id"),
        col("event_type"), col("value"), col("props"))
      .orderBy("event_id").collect().toIndexedSeq
    val gen = new Generator(ctx.seed, orders, events)
    val landing = s"${ctx.work}/landing"
    val statePath = Paths.get(s"${ctx.work}/state/bookmarks.json")

    val tasksTable = new Landed(spark, s"$landing/tasks", "id", "updatedDate")
    val eventsTable = new Landed(spark, s"$landing/events", "id", "updatedAt")
    var round = 0

    def fetcher(path: String, sinceParam: String, bookmark: Option[String],
                dataField: String, next: com.fasterxml.jackson.databind.JsonNode => Option[String]) =
      new Sources.HttpPageFetcher(
        token => s"${fixture.base}/$path?$sinceParam=" +
          URLEncoder.encode(bookmark.getOrElse("1970-01-01T00:00:00Z"), "UTF-8") +
          token.fold("")(t => s"&token=$t"),
        body => {
          val root = Json.mapper.readTree(body)
          (root.get(dataField).elements().asScala.map(_.toString).toSeq, next(root))
        })

    val pipelines = Seq(
      Orchestrator.Pipeline("wrike", Seq(Orchestrator.StreamJob(
        name = "tasks", tsCol = "updatedDate",
        extract = (s, bookmark) => {
          val raw = tracer.span("sources.extract")(Sources.readPaginated(s,
            fetcher("wrike/tasks", "updatedDate", bookmark, "data",
              r => Option(r.get("nextPageToken")).map(_.asText))))
          // builds the plan only: it runs when the sink first computes
          // the batch runOnce persisted, inside `sinks.write`
          tracer.span("operators.shape")(Upsert.latestPerKey(
            Project.toDeclaredLenient(Flatten.flatten(raw), Declared), Seq("id"), "updatedDate"))
        },
        sink = batch => tracer.span("sinks.write")(tasksTable.land(batch)),
        advanceToMaxSeen = true))),
      Orchestrator.Pipeline("hubspot", Seq(Orchestrator.StreamJob(
        name = "events", tsCol = "updatedAt",
        extract = (s, bookmark) => {
          val raw = tracer.span("sources.extract")(Sources.readPaginated(s,
            fetcher("hubspot/events", "since", bookmark, "results",
              r => Option(r.get("paging")).map(_.get("next").get("after").asText))))
          tracer.span("operators.shape")(Flatten.hoistStruct(raw, "properties"))
        },
        sink = batch => tracer.span("sinks.write")(eventsTable.land(batch)),
        advanceToMaxSeen = true))))

    def refreshViews(): Unit = {
      Views.register(spark, "wrike", "tasks", tasksTable.read)
      val tasks = spark.table("wrike_tasks")
      Seq(Views.proposalDurations(tasks), Views.quoteDurations(tasks))
        .foreach(_.queryExecution.toRdd.foreach(_ => ()))
    }

    /** One sync round; returns the new bookmarks and its duration. */
    def sync(state: Bookmarks): (Bookmarks, Long) = {
      val t0 = System.nanoTime()
      val next = tracer.span("round", root = s"round$round") {
        val next = tracer.span("runner")(Orchestrator.runOnce(spark, pipelines, state, parallelism = 1))
        tracer.span("state.save")(Bookmarks.save(next, statePath))
        tracer.span("model.refresh")(refreshViews())
        next
      }
      (next, System.nanoTime() - t0)
    }

    final case class RoundStats(nanos: Long, rows: Long, bytes: Long, requests: Int,
                                pages: Int, freshness: Seq[Double], traced: Boolean,
                                files: Int)

    var attempted = 0L
    var failed = 0L
    val notes = Seq.newBuilder[String]
    // about three seconds per round on four cores; at least three
    val timed = math.max(3, math.round(ctx.seconds / 3.0).toInt)
    var state = Bookmarks.empty
    var lastState = state
    val stats = mutable.ArrayBuffer.empty[RoundStats]
    var warmupNanos = 0L
    var tracedGcMs = 0L

    def doRound(traced: Boolean): Unit = {
      val (tasksRecs, eventRecs) = gen.round(round)
      fixture.publish("tasks", tasksRecs)
      fixture.publish("events", eventRecs)
      fixture.served.clear()
      tracer.enabled = traced
      val gc0 = Metrics.gcMillis
      attempted += 1
      lastState = state
      val (next, nanos) = sync(state)
      tracer.enabled = false
      if (traced) tracedGcMs += Metrics.gcMillis - gc0
      state = next
      val end = System.nanoTime()
      val pages = fixture.served.asScala.toSeq
      stats += RoundStats(nanos, pages.map(_.rows.toLong).sum, pages.map(_.bytes).sum,
        pages.size, pages.count(_.rows > 0), pages.filter(_.rows > 0).map(p => (end - p.nanos) / 1e9),
        traced, tasksTable.files + eventsTable.files)
      round += 1
    }

    try {
      (0 until WarmupRounds).foreach(_ => doRound(traced = false))
      warmupNanos = stats.map(_.nanos).sum
      stats.clear()
      // ABBA order of traced and untraced rounds, so the growth of the
      // landed table does not bias the tracing overhead
      (0 until timed).foreach(i => doRound(traced = ctx.trace && (i % 4 == 0 || i % 4 == 3)))
    } catch { case e: Throwable =>
      failed += 1
      notes += s"round $round failed: $e"
    }

    /** What the sync leaves behind: both landed tables and both views. */
    def landed(): Seq[(String, DataFrame)] = {
      val tasks = tasksTable.read.select(Declared.map(col): _*)
      Seq("landed tasks" -> tasks,
        "landed events" -> eventsTable.read.select(EventCols.map(col): _*),
        "proposal_durations" -> Views.proposalDurations(tasks).select("id", "duration_days"),
        "quote_durations" -> Views.quoteDurations(tasks).select("id", "duration_days"))
    }

    /** Row count and an order-independent hash of each, and the bookmarks. */
    def digest(): Seq[Any] = landed().map { case (_, df) =>
      df.select(xxhash64(df.columns.map(col).toIndexedSeq: _*).as("h"))
        .agg(count(lit(1)), expr("bit_xor(h)")).head().toSeq
    } :+ Files.readString(statePath)

    /** Everything landed, and the bookmarks, against what the generator
      * served, row for row: a row landed twice is a failure. Returns the
      * number of checks that failed. */
    def check(): Int = {
      val expected = Seq(gen.tasks.values.map(_.landed).toSeq,
        gen.served.map(_.landed).toSeq, gen.proposal, gen.quote)
      val results = landed().zip(expected).map { case ((what, df), exp) =>
        what -> (df.collect().map(rowKey).toSeq.sorted == exp.sorted)
      } :+ ("bookmarks" -> (Bookmarks.load(statePath).value == Map(
        "wrike.tasks" -> Instant.ofEpochMilli(gen.maxTaskMs).toString,
        "hubspot.events" -> Instant.ofEpochMilli(gen.maxEventMs).toString)))
      results.filterNot(_._2).foreach { case (what, _) => notes += s"$what differ from what was served" }
      attempted += results.size
      results.count(!_._2)
    }

    val bad = if (tasksTable.current.isEmpty) 1 else try {
      // at-least-once + upsert: replaying the last round serves its rows
      // again, and landing them again changes nothing
      val before = digest()
      round -= 1
      state = lastState
      attempted += 2
      fixture.served.clear()
      sync(state)
      val replayed = fixture.served.asScala.map(_.rows.toLong).sum
      val same = replayed == stats.last.rows && digest() == before
      if (!same) notes += s"replaying the last round served $replayed rows " +
        s"(the round served ${stats.last.rows}) or changed what was landed"
      (if (same) 0 else 1) + check()
    } catch { case e: Throwable =>
      notes += s"check or replay failed: $e"
      1
    }
    failed += bad

    val secs = stats.map(_.nanos / 1e9).toSeq
    val rows = stats.map(_.rows).sum
    notes += f"elt_sync: ${stats.size} timed rounds after $WarmupRounds warm-up rounds " +
      f"(${warmupNanos / 1e9}%.2f s), landed tasks ${gen.tasks.size}, events ${gen.served.size}"

    val metrics =
      if (stats.isEmpty) Nil
      else if (!ctx.trace) {
        val fresh = stats.flatMap(_.freshness).toSeq
        val (p, tailV) = Stats.tail(fresh)
        notes += s"latency_tail_s is p$p of n=${fresh.size} page freshness times"
        Seq(
          "warmup_s" -> warmupNanos / 1e9,
          "mix_s" -> Stats.median(secs),
          "latency_p50_s" -> Stats.median(fresh),
          "latency_tail_s" -> tailV,
          "throughput_per_s" -> (if (bad == 0) rows / secs.sum else 0.0))
      } else {
        val (on, off) = stats.partition(_.traced)
        val cycles = on.size.toDouble
        val bytesServed = on.map(_.bytes).sum.toDouble
        val layers = Metrics.layers(tracer, cycles, on.map(_.nanos).sum, tracedGcMs)
        def perS(s: Seq[RoundStats]) = s.map(_.rows).sum / (s.map(_.nanos).sum / 1e9)
        Seq(
          "sources.requests" -> on.map(_.requests).sum / cycles,
          "sources.pages" -> on.map(_.pages).sum / cycles,
          "sources.requests_per_page" -> on.map(_.requests).sum.toDouble / on.map(_.pages).sum,
          "sinks.files_written" -> on.map(_.files).sum / cycles,
          "sinks.write_amp" -> layers("sinks.mb_written") * cycles * 1024 * 1024 / bytesServed,
          "trace.overhead_mix_s" -> (if (off.isEmpty) 0.0 else
            Stats.median(on.map(_.nanos / 1e9).toSeq) - Stats.median(off.map(_.nanos / 1e9).toSeq)),
          "trace.overhead_throughput_per_s" -> (if (off.isEmpty) 0.0 else perS(on.toSeq) - perS(off.toSeq))
        ) ++ layers.toSeq
      }
    Outcome(attempted, failed, metrics, notes.result())
  }

  /** A landed table kept as numbered parquet snapshots. Each sink call
    * merges its batch onto the latest snapshot by key with
    * `Warehouse.cdcApply` (every row an upsert, sequenced by `seqCol`) and
    * writes the result as the next snapshot, so landing the same rows
    * again leaves the table as it was. */
  final class Landed(spark: SparkSession, dir: String, key: String, seqCol: String) {
    private var version = 0
    var current: Option[String] = None

    def read: DataFrame = spark.read.parquet(current.get)

    def land(batch: DataFrame): Unit = {
      val base = current.fold(spark.createDataFrame(java.util.List.of[Row](), batch.schema))(
        spark.read.parquet(_))
      val changes = batch.withColumn("_op", lit("U")).withColumn("_seq", col(seqCol))
      version += 1
      val path = s"$dir/v$version"
      Sinks.writeParquet(Warehouse.cdcApply(base, changes, key, "_op", "_seq"), path)
      current = Some(path)
      // keep the snapshot the next call merges onto and the one before it
      if (version > 2) deleteTree(Paths.get(s"$dir/v${version - 2}"))
    }

    /** Data files of the latest snapshot. */
    def files: Int = current.fold(0)(p =>
      Option(new java.io.File(p).listFiles()).fold(0)(_.count(_.getName.startsWith("part-"))))
  }

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
    finally s.close()
  }
}
