package graft.sources

import graft.SparkSpec

class SourcesExtraSpec extends SparkSpec {
  import spark.implicits._

  test("explodeDictOfLists lands {date: [rows]} with date_key stamped (S5)") {
    val payload = Seq(
      """{"2024-01-01":[{"breakdown":"organic","visits":5},
                        {"breakdown":"paid","visits":2}],
         "2024-01-02":[{"breakdown":"organic","visits":7}]}""").toDF("raw")
      .selectExpr("""from_json(raw,
        'map<string, array<struct<breakdown: string, visits: bigint>>>')
        as report""")
    val out = Sources.explodeDictOfLists(payload, "report")
    assert(out.count() == 3)
    assert(out.columns.toSet == Set("date_key", "breakdown", "visits"))
    assert(out.filter("date_key = '2024-01-02'").head()
      .getAs[String]("breakdown") == "organic")
  }

  test("keyedFanout unions per-key scans with the key stamped (S6)") {
    val data = Map("f1" -> Seq(1L, 2L), "f2" -> Seq(3L))
    val out = Sources.keyedFanout(Seq("f1", "f2"), "form_id",
      k => data(k).toDF("submission"))
    assert(out.count() == 3)
    assert(out.filter("form_id = 'f2'").head().getAs[Long]("submission") == 3L)
  }

  test("cachedKeys persists discovered keys and reuses them (S6 form_ids)") {
    val path = java.nio.file.Files.createTempDirectory("keys")
      .resolve("form_ids.json")
    var discoveries = 0
    val first = Sources.cachedKeys(path) { discoveries += 1; Seq("f1", "f2") }
    assert(first == Seq("f1", "f2") && discoveries == 1)
    assert(java.nio.file.Files.exists(path))
    // second run: served from the state file; discover must NOT run again
    val second = Sources.cachedKeys(path) {
      fail("discover ran despite cache"): Seq[String]
    }
    assert(second == Seq("f1", "f2"))
    // the artifact is user-editable JSON, like the reference's config
    java.nio.file.Files.writeString(path, """["f9"]""")
    assert(Sources.cachedKeys(path)(fail("no"): Seq[String]) == Seq("f9"))
  }

  test("TokenCache refreshes only on miss/expiry and round-trips its file (C4)") {
    var now = 1000L
    var refreshes = 0
    val path = java.nio.file.Files.createTempDirectory("tok")
      .resolve("token_cache.json")
    def cache() = new Sources.TokenCache(
      refresh = () => { refreshes += 1; (s"tok$refreshes", now + 10000) },
      cachePath = Some(path), marginMs = 1000, clock = () => now)
    val c = cache()
    assert(c.get() == "tok1" && refreshes == 1)
    assert(c.get() == "tok1" && refreshes == 1) // cached, no refresh
    // a NEW instance (restarted run) reuses the persisted unexpired token
    assert(cache().get() == "tok1" && refreshes == 1)
    // inside the expiry margin => refresh
    now += 9500
    assert(c.get() == "tok2" && refreshes == 2)
    // invalidate (e.g. a 401) forces refresh and clears the file
    c.invalidate()
    assert(c.get() == "tok3" && refreshes == 3)
  }

  test("withRetries retries failures then succeeds (C2)") {
    var calls = 0
    val r = Sources.withRetries(attempts = 3, backoffMs = 1) {
      calls += 1
      if (calls < 3) sys.error("flaky") else 42
    }
    assert(r == 42 && calls == 3)
    intercept[RuntimeException] {
      Sources.withRetries(attempts = 2, backoffMs = 1) { sys.error("always") }
    }
  }

  test("withRetries does not retry an interrupt: one call, and it propagates") {
    var calls = 0
    intercept[InterruptedException] {
      Sources.withRetries(attempts = 3, backoffMs = 1) {
        calls += 1
        throw new InterruptedException("sync cancelled")
      }
    }
    assert(calls == 1)
  }

  test("RateLimiter paces acquisitions (C1)") {
    val rl = new Sources.RateLimiter(100.0) // 10ms interval
    val t0 = System.nanoTime()
    (1 to 5).foreach(_ => rl.acquire())
    val elapsedMs = (System.nanoTime() - t0) / 1e6
    assert(elapsedMs >= 35) // 4 waits x ~10ms (first is free)
  }
}
