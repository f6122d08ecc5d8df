package graft.sources

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Source layer (SURVEY §2.1 S1-S6, §7.1 step 5).
  *
  * The reference's sources are paginated REST scans; in the engine they are
  * modeled as a driver-side page fetcher that lands raw JSON lines, which
  * then enter the declarative plan via `spark.read.json` — from that point
  * on, flatten/explode/project are ordinary Catalyst operators. Live
  * EXTERNAL HTTP stays out of scope (§7.5 — zero egress), but the seams
  * compose into a real socket client: [[HttpPageFetcher]] wires
  * [[TokenCache]] (C4) + [[RateLimiter]] (C1) + [[withRetries]] (C2)
  * around a JDK-only GET, and SourcesHttpSpec drives the whole stack
  * against an in-process HTTP fixture with injected 401/429/500s —
  * the `tap_wrike/utility.py:82-143` / `tap_xero/__init__.py:48-136`
  * request loop, end-to-end.
  */
object Sources {

  /** One page of a paginated scan: raw records + continuation token.
    * Models HubSpot `after`-cursor (S1), Wrike `nextPageToken` (S2), and
    * Xero `page=N` (S3) scans behind one shape. */
  trait PageFetcher extends Serializable {
    def fetch(pageToken: Option[String]): (Seq[String], Option[String])
  }

  /** Normalize a record to one JSON line: raw newlines in a JSON record
    * are legal only BETWEEN tokens (pretty-printed fetcher output — a
    * string literal may not contain an unescaped newline), so replacing
    * them with spaces preserves the document while making the spilled
    * JSON-lines file parse identically to the in-memory path. Applied on
    * BOTH paths so behavior never diverges with fetch size. */
  private def jsonLine(record: String): String =
    if (record.indexOf('\n') < 0 && record.indexOf('\r') < 0) record
    else record.replace('\n', ' ').replace('\r', ' ')

  /** Drain a paginated source into a DataFrame of parsed JSON records.
    * Pages are pulled on the driver (the reference's rate-limited loop,
    * C1); schema inference or an explicit schema applies downstream.
    * `maxPages` bounds runaway cursors.
    *
    * Driver memory is BOUNDED: once more than `spillThresholdRecords`
    * records — or more than `spillThresholdChars` buffered text (chars
    * ≈ UTF-8 bytes for the ASCII-dominated JSON wire format; multi-byte
    * text under-counts by at most 3×), so a fetcher yielding FEW HUGE
    * records is bounded too — are buffered, the buffer is landed
    * incrementally as JSON-line files (one file per flush) and the
    * result is read back as a file scan — a large backfill never
    * accumulates in one driver buffer (the reference holds every page of
    * a window in a single list, `tap_wrike/utility.py:108-131`; this
    * keeps its page-loop behavior without that shape). Small fetches
    * stay on the no-spill fast path (one in-memory parallelize).
    *
    * Spill files land in a UNIQUE per-call subdirectory of `spillDir`
    * (or of a fresh temp dir), so a caller-supplied spillDir reused
    * across runs never mixes a previous fetch's files into this result.
    * The files must outlive this call (the returned DataFrame is a lazy
    * scan over them): they are registered for JVM-exit deletion, and a
    * caller needing earlier cleanup deletes the per-call subdirectory
    * after the DataFrame's last action (its path = the one new entry
    * under `spillDir`).
    */
  def readPaginated(spark: SparkSession, fetcher: PageFetcher,
                    maxPages: Int = 10000,
                    spillThresholdRecords: Int = 100000,
                    spillDir: Option[java.nio.file.Path] = None,
                    spillThresholdChars: Long = 256L << 20): DataFrame = {
    import java.nio.file.Files
    import spark.implicits._
    val buf = scala.collection.mutable.ArrayBuffer.empty[String]
    var bufChars = 0L
    var dir: java.nio.file.Path = null
    var flushed = 0
    def flush(): Unit = if (buf.nonEmpty) {
      if (dir == null) {
        val parent = spillDir.getOrElse(Files.createTempDirectory("graft-pages"))
        Files.createDirectories(parent)
        dir = Files.createTempDirectory(parent, "fetch-")
        dir.toFile.deleteOnExit() // deleteOnExit runs LIFO: dir after files
      }
      val f = dir.resolve(f"pages-$flushed%05d.jsonl")
      Files.write(f, buf.mkString("", "\n", "\n").getBytes("UTF-8"))
      f.toFile.deleteOnExit()
      flushed += 1
      buf.clear()
      bufChars = 0L
    }
    var token: Option[String] = None
    var pages = 0
    var done = false
    while (!done && pages < maxPages) {
      val (records, next) = fetcher.fetch(token)
      records.foreach { r =>
        val rec = jsonLine(r)
        buf += rec
        bufChars += rec.length.toLong
      }
      if (buf.length > spillThresholdRecords || bufChars > spillThresholdChars)
        flush()
      pages += 1
      done = next.isEmpty || records.isEmpty
      token = next
    }
    if (flushed == 0) spark.read.json(buf.toSeq.toDS())
    else {
      flush() // remainder
      spark.read.json(dir.toString)
    }
  }

  /** Multi-tenant scan (S3/T3): per-tenant frame production with constant
    * tenant columns stamped on, then `unionByName`. This is the faithful
    * per-tenant-physical-source shape; when tenants share one table, a
    * broadcast join against the tenant dim (ReferenceQueries Q7) is the
    * better plan. */
  def multiTenantUnion(tenants: Seq[(String, String)],
                       scan: String => DataFrame): DataFrame =
    tenants.map { case (id, name) =>
      scan(id)
        .withColumn("tenant_id", lit(id))
        .withColumn("tenant_name", lit(name))
    }.reduce(_.unionByName(_))

  /** Dict-keyed analytics scan shape (S5, `tap_hubspot/utility.py:109-116`):
    * the API returns `{date: [rows...]}`; as a DataFrame with a map column
    * this is `explode(map_entries(...))` then explode of the per-key list —
    * each key's rows land with their `date_key` stamped on. */
  def explodeDictOfLists(payload: DataFrame, mapCol: String,
                         keyName: String = "date_key"): DataFrame =
    payload
      .select(explode(col(mapCol)).as(Seq(keyName, "_rows")))
      .select(col(keyName), explode(col("_rows")).as("_row"))
      .select(col(keyName), col("_row.*"))

  /** Keyed fan-out scan (S6, `tap_hubspot/utility.py:119-148`): one scan
    * per cached key (form ids), key stamped on every record, union of the
    * legs. Each leg is an independent source — they parallelize trivially
    * and `unionByName` is metadata-only. */
  def keyedFanout(keys: Seq[String], keyName: String,
                  scan: String => DataFrame): DataFrame =
    keys.map(k => scan(k).withColumn(keyName, lit(k)))
      .reduce(_.unionByName(_))

  /** S6 key-cache round-trip (the HubSpot `form_ids` analog: discovered
    * keys are written back into config and reused on later runs,
    * `tap_hubspot/fetch.py:187-188`): return the keys cached at `path` if
    * present, else run `discover`, persist its result atomically (temp
    * file + move, like Bookmarks), and return it. One JSON array of
    * strings — a user-editable artifact, like the reference's
    * object-config.json. */
  def cachedKeys(path: java.nio.file.Path)(discover: => Seq[String]): Seq[String] = {
    import java.nio.file.{Files, StandardCopyOption}
    if (Files.exists(path)) {
      org.json4s.jackson.JsonMethods.parse(Files.readString(path)) match {
        case org.json4s.JArray(vs) =>
          vs.collect { case org.json4s.JString(s) => s }
        case _ => Seq.empty
      }
    } else {
      val keys = discover
      Files.createDirectories(path.toAbsolutePath.getParent)
      val tmp = path.resolveSibling(path.getFileName.toString + ".tmp")
      import org.json4s.DefaultFormats
      implicit val fmts: org.json4s.Formats = DefaultFormats
      Files.writeString(tmp, org.json4s.jackson.Serialization.write(keys))
      Files.move(tmp, path, StandardCopyOption.REPLACE_EXISTING,
        StandardCopyOption.ATOMIC_MOVE)
      keys
    }
  }

  /** C4 — OAuth2-style token cache (reference `tap_xero/__init__.py:19-57`:
    * load_tokens / save_tokens / is_token_expired / refresh_access_token):
    * caches an (access token, expiry-millis) pair, calling `refresh` only
    * when no token is cached or the cached one is within `marginMs` of
    * expiry; optionally persisted to a JSON file so a restarted run reuses
    * an unexpired token, like the reference's `token_cache_xero.json`.
    * `refresh` is the injection point for a real HTTP token endpoint
    * (live HTTP is out of engine scope, SURVEY §7.5); `clock` is
    * injectable for tests. Thread-safe: one refresh at a time. */
  final class TokenCache(refresh: () => (String, Long),
                         cachePath: Option[java.nio.file.Path] = None,
                         marginMs: Long = 60000,
                         clock: () => Long = () => System.currentTimeMillis()) {
    import java.nio.file.{Files, StandardCopyOption}
    import org.json4s._
    private var cached: Option[(String, Long)] = None

    private def loadPersisted(): Option[(String, Long)] =
      cachePath.filter(Files.exists(_)).flatMap { p =>
        org.json4s.jackson.JsonMethods.parse(Files.readString(p)) match {
          case o: JObject => (o \ "access_token", o \ "expiration") match {
            case (JString(t), JInt(e)) => Some((t, e.toLong))
            case _ => None
          }
          case _ => None
        }
      }

    private def persist(te: (String, Long)): Unit = cachePath.foreach { p =>
      Files.createDirectories(p.toAbsolutePath.getParent)
      val tmp = p.resolveSibling(p.getFileName.toString + ".tmp")
      implicit val fmts: Formats = DefaultFormats
      Files.writeString(tmp, jackson.Serialization.write(
        Map("access_token" -> te._1, "expiration" -> te._2)))
      Files.move(tmp, p, StandardCopyOption.REPLACE_EXISTING,
        StandardCopyOption.ATOMIC_MOVE)
    }

    def get(): String = synchronized {
      val now = clock()
      def live(te: (String, Long)) = now < te._2 - marginMs
      cached.filter(live)
        .orElse(loadPersisted().filter(live).map { te => cached = Some(te); te })
        .map(_._1)
        .getOrElse {
          val te = refresh()
          cached = Some(te)
          persist(te)
          te._1
        }
    }

    /** Drop the cached token (e.g. after a 401) — next get() refreshes. */
    def invalidate(): Unit = synchronized {
      cached = None
      cachePath.foreach(Files.deleteIfExists(_))
    }
  }

  /** C1 — driver-side token-bucket rate limiter for API fetch loops
    * (reference: 1.2 req/s, `tap_wrike/utility.py:211-239`). A connector
    * concern, not a query operator: it paces the driver's page loop. */
  final class RateLimiter(ratePerSec: Double) {
    private var nextFree = 0L
    def acquire(): Unit = synchronized {
      val now = System.nanoTime()
      val interval = (1e9 / ratePerSec).toLong
      val at = math.max(now, nextFree)
      nextFree = at + interval
      val sleepNs = at - now
      if (sleepNs > 0) Thread.sleep(sleepNs / 1000000, (sleepNs % 1000000).toInt)
    }
  }

  /** Thrown by an attempt that ALREADY served its wait (a 429 honoring
    * `Retry-After`): [[withRetries]] retries it without stacking its own
    * exponential backoff on top — the server named the wait, adding a
    * second one doubles it for no reason. Still consumes an attempt. */
  final class AlreadyWaited(msg: String) extends java.io.IOException(msg)

  /** C2 — retry with exponential backoff around an IO action. The
    * reference declares this intent but misapplies the decorator to pure
    * functions (SURVEY §2.1 C2); here it wraps the actual fetch.
    * [[AlreadyWaited]] failures retry immediately (their wait was served
    * inside the attempt) and leave the backoff schedule unadvanced. Only
    * `NonFatal` failures retry: an `InterruptedException` (a cancelled
    * sync) or a fatal error propagates from the first attempt. */
  def withRetries[T](attempts: Int = 5, backoffMs: Long = 1000,
                     maxBackoffMs: Long = 10000)(f: => T): T = {
    var remaining = attempts
    var backoff = backoffMs
    while (true) {
      try return f
      catch {
        case e: AlreadyWaited =>
          remaining -= 1
          if (remaining <= 0) throw e
        case NonFatal(e) =>
          remaining -= 1
          if (remaining <= 0) throw e
          Thread.sleep(backoff)
          backoff = math.min(backoff * 2, maxBackoffMs)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** One HTTP response, status + lower-cased headers + body. */
  final case class HttpResponse(status: Int, headers: Map[String, String],
                                body: String)

  /** Minimal JDK-only HTTP GET (no dependencies): returns status,
    * lower-cased headers, and the UTF-8 body — error bodies included
    * (a 429's Retry-After and a 500's message are data here, not
    * exceptions; connection-level failures still throw `IOException`,
    * which is what [[withRetries]] retries). */
  def httpGet(url: String, headers: Map[String, String] = Map.empty,
              timeoutMs: Int = 30000): HttpResponse = {
    import scala.jdk.CollectionConverters._
    val conn = new java.net.URI(url).toURL.openConnection()
      .asInstanceOf[java.net.HttpURLConnection]
    try {
      conn.setConnectTimeout(timeoutMs)
      conn.setReadTimeout(timeoutMs)
      conn.setRequestMethod("GET")
      headers.foreach { case (k, v) => conn.setRequestProperty(k, v) }
      val status = conn.getResponseCode
      val stream = if (status >= 400) conn.getErrorStream else conn.getInputStream
      val body = if (stream == null) "" else
        try new String(stream.readAllBytes(), "UTF-8") finally stream.close()
      val hdrs = conn.getHeaderFields.asScala.collect {
        case (k, vs) if k != null && !vs.isEmpty =>
          k.toLowerCase -> vs.get(vs.size() - 1)
      }.toMap
      HttpResponse(status, hdrs, body)
    } finally conn.disconnect()
  }

  /** A [[PageFetcher]] over live HTTP — the composition of the
    * connector seams into the reference's actual request loop
    * (`tap_wrike/utility.py:82-143`: Bearer auth, 429/5xx retry with
    * backoff; `tap_xero/__init__.py:48-136`: refresh-on-401 token
    * lifecycle):
    *
    *  - every attempt paces through the [[RateLimiter]] (C1) — retries
    *    are attempts too, so a retry storm can't breach the API budget;
    *  - auth comes from the [[TokenCache]] (C4) per attempt: a 401
    *    invalidates the cache and fails the attempt, so the retry
    *    refreshes and carries the NEW token;
    *  - a 429 honors `Retry-After` (seconds, capped at `maxBackoffMs`)
    *    before failing the attempt; 5xx and connection errors fail the
    *    attempt directly; [[withRetries]] (C2) supplies the exponential
    *    backoff between attempts;
    *  - a 200 parses through `parsePage` into the (records, next
    *    continuation) shape [[readPaginated]] drains.
    *
    * Driven end-to-end against an in-process HTTP server (injected
    * 401/429/500s, observed request timeline) by SourcesHttpSpec. */
  final class HttpPageFetcher(
      buildUrl: Option[String] => String,
      parsePage: String => (Seq[String], Option[String]),
      tokens: Option[TokenCache] = None,
      limiter: Option[RateLimiter] = None,
      attempts: Int = 5,
      backoffMs: Long = 100,
      maxBackoffMs: Long = 2000,
      timeoutMs: Int = 30000) extends PageFetcher {
    def fetch(pageToken: Option[String]): (Seq[String], Option[String]) =
      withRetries(attempts, backoffMs, maxBackoffMs) {
        limiter.foreach(_.acquire())
        val auth = tokens.map(t => "Authorization" -> s"Bearer ${t.get()}")
        val resp = httpGet(buildUrl(pageToken), auth.toMap, timeoutMs)
        resp.status match {
          case 200 => parsePage(resp.body)
          case 401 =>
            tokens.foreach(_.invalidate())
            throw new java.io.IOException(
              "HTTP 401 — token invalidated, retry refreshes")
          case 429 =>
            val ra = resp.headers.get("retry-after")
            ra.flatMap(_.toLongOption).map(_ * 1000) match {
              case Some(waitMs) if waitMs > 0 =>
                // the server named the wait: serve it (capped), then
                // retry WITHOUT withRetries' own backoff on top — the
                // old behavior stacked both (double wait)
                Thread.sleep(math.min(waitMs, maxBackoffMs))
                throw new AlreadyWaited(
                  "HTTP 429 — Retry-After served, retrying")
              case Some(_) => // Retry-After: 0 — plain backoff applies
                throw new java.io.IOException("HTTP 429 — rate limited")
              case None =>
                // absent, or the HTTP-date form toLongOption can't parse
                // — fall back to exponential backoff, but say so
                ra.foreach(v => System.err.println(
                  s"[sources] unparseable Retry-After '$v' " +
                    "(HTTP-date form?) — exponential backoff applies"))
                throw new java.io.IOException("HTTP 429 — rate limited")
            }
          case s =>
            throw new java.io.IOException(s"HTTP $s: ${resp.body.take(200)}")
        }
      }
  }

  /** Interval-chunked scan windows (S4, `tap_xero/utility.py:221-240`):
    * the [start, end) date windows a chunked fetch would issue, as a
    * DataFrame — `sequence` + `explode`, no driver loop. */
  def intervalChunks(spark: SparkSession, startDate: String, endDate: String,
                     intervalExpr: String = "interval 1 year"): DataFrame =
    spark.range(1).select(
        explode(expr(
          s"sequence(to_date('$startDate'), to_date('$endDate'), $intervalExpr)"))
          .as("window_start"))
      .withColumn("window_end",
        expr(s"window_start + $intervalExpr").cast("date"))
}
