package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PUBLISH-BY-POINTER index versioning + the APPLIED-BATCH LEDGER —
  * the commit protocol that makes multi-table index mutations
  * crash-atomic, replay-idempotent, and safe to run next to serving
  * reads. The reference's sink is safe under at-least-once replays
  * because its PK upsert is idempotent by construction
  * (`pipelinewise-target-postgres`' ON CONFLICT path, SURVEY §2.2);
  * the ADDITIVE indexes here (edge partials, BM25 stats) broke that
  * contract — a replayed negated-partial delete double-subtracts, and
  * a crash between two of a family's table writes serves a TORN pair
  * with no error. This module restores it:
  *
  *  - Every versioned index family owns an append-only LEDGER table
  *    `(index_name, version, batch_id, action)`. The current snapshot
  *    is `max(version)`; physical tables live at
  *    `<base>_v<version>` ([[tableAt]]).
  *  - A mutation (delete, merge, compact) builds the ENTIRE next
  *    version's tables first — overwrite-mode writes, so a crashed
  *    attempt's rerun rebuilds them bit-identically — and then
  *    publishes ONE ledger row ([[publish]]). Until that row lands,
  *    every reader resolves the old version: complete, never torn. The
  *    commit point is a single 1-row/1-file table append — the same
  *    atomicity grain the state store ([[graft.state.Bookmarks]])
  *    already trusts.
  *  - The ledger row carries the mutation's deterministic
  *    [[batchIdFor]] digest; every mutating entry point checks
  *    [[isApplied]] FIRST, so a replay — the natural post-crash
  *    recovery action — is a logged no-op instead of a
  *    double-subtract.
  *  - Readers that resolved version N keep a complete snapshot even
  *    while version N+1 publishes: nothing is dropped at commit time.
  *    [[retire]] reclaims old versions afterward (the grace period =
  *    the maintenance cadence), which is the versioned families'
  *    answer to [[Warehouse.swapIn]]'s no-concurrent-reads caveat.
  *
  * Ledger rows are never deleted: they are the idempotency record
  * (one row per applied batch — takedown-cadence-sized, metadata next
  * to a 100 TB corpus).
  */
object Snapshots {

  /** 2^60 — the fixed-width fold every md5 digest law in this repo
    * shares ([[Warehouse.bucketChecksums]]). */
  private val Fold = 1152921504606846976L

  /** Drop any cached file listing for the ledger before reading it:
    * a session that read the ledger earlier caches the table's files,
    * and a publish from ANOTHER session (a streaming micro-batch's
    * cloned session, a separate maintenance process on the same
    * catalog) appends a file that cache never sees — the reader would
    * silently stay on the old version forever and a mutator could
    * re-stage an already-applied batch. One directory listing per
    * read, on a table that is metadata-sized by construction. */
  private def freshLedger(spark: SparkSession,
                          ledgerTable: String): DataFrame = {
    spark.catalog.refreshTable(ledgerTable)
    spark.table(ledgerTable)
  }

  /** Current published version of an index family: `max(version)` over
    * its ledger rows; 0 when the family has never published (version 0
    * = the UNVERSIONED base tables, for families migrating in). */
  def currentVersion(spark: SparkSession, ledgerTable: String,
                     indexName: String): Long =
    if (!spark.catalog.tableExists(ledgerTable)) 0L
    else freshLedger(spark, ledgerTable)
      .filter(col("index_name") === indexName)
      .agg(coalesce(max(col("version")), lit(0L))).head().getLong(0)

  /** Has `batchId` already been applied to this family? Checked at the
    * top of every mutating entry point — the replay guard. */
  def isApplied(spark: SparkSession, ledgerTable: String,
                indexName: String, batchId: String): Boolean =
    spark.catalog.tableExists(ledgerTable) &&
      !freshLedger(spark, ledgerTable)
        .filter(col("index_name") === indexName &&
          col("batch_id") === batchId)
        .isEmpty

  /** THE COMMIT POINT: append one `(index_name, version, batch_id,
    * action)` row. A mutation is visible to readers exactly when this
    * row lands; everything before it is invisible staging. */
  def publish(spark: SparkSession, ledgerTable: String, indexName: String,
              version: Long, batchId: String, action: String): Unit = {
    import spark.implicits._
    Seq((indexName, version, batchId, action))
      .toDF("index_name", "version", "batch_id", "action")
      .coalesce(1).write.mode("append").format("parquet")
      .saveAsTable(ledgerTable)
  }

  /** Physical table name of `base` at `version` (version 0 = the
    * unversioned base itself). */
  def tableAt(base: String, version: Long): String =
    if (version <= 0L) base else s"${base}_v$version"

  /** Physical name of a MANIFEST-published family's manifest at
    * `version`: the one-column `(segment)` list of the tables whose
    * union is that version's data
    * ([[graft.streaming.Streams.substringIngestManifest]]'s layout,
    * written by [[graft.operators.TextDedup.writeManifest]]). */
  def manifestAt(base: String, version: Long): String =
    tableAt(s"${base}_mf", version)

  /** Every segment table the manifests of `versions` list — the live
    * set [[decommissionBase]] and [[graft.operators.TextDedup
    * .retireSubstringManifest]] must keep. Versions without a manifest
    * (retired, or a table-per-version family) contribute nothing. */
  def manifestSegments(spark: SparkSession, base: String,
                       versions: Seq[Long]): Set[String] =
    versions.map(manifestAt(base, _)).filter(spark.catalog.tableExists(_))
      .flatMap { mf =>
        spark.catalog.refreshTable(mf)
        spark.table(mf).select(col("segment")).collect().map(_.getString(0))
      }.toSet

  /** Append one row to the family's SIDECAR EVENT LOG
    * (`<ledgerTable>_events`) — observability rows that must NOT live
    * in the ledger itself: the ledger is the idempotency record
    * ([[isApplied]] keys on its batch ids, [[versionConflicts]] audits
    * its actions, exhibit queries hash its frame), so a diagnostic row
    * there would either alias a real batch or trip the audits. First
    * customer: [[Warehouse.deleteFromIndexVersioned]]'s `aliased_noop`
    * — the documented-benign silent no-op on a content-aliased batch
    * id, made attributable so the maintenance `deleteStale` repair
    * that later fixes the staleness can be traced to its cause. */
  def logEvent(spark: SparkSession, ledgerTable: String,
               indexName: String, batchId: String, event: String,
               detail: String): Unit = {
    import spark.implicits._
    Seq((indexName, batchId, event, detail, System.currentTimeMillis()))
      .toDF("index_name", "batch_id", "event", "detail", "ts")
      .coalesce(1).write.mode("append").format("parquet")
      .saveAsTable(s"${ledgerTable}_events")
  }

  /** The family's sidecar event rows ([[logEvent]]); empty frame when
    * nothing has ever been logged. */
  def events(spark: SparkSession, ledgerTable: String,
             indexName: String): DataFrame = {
    val t = s"${ledgerTable}_events"
    if (!spark.catalog.tableExists(t)) {
      import spark.implicits._
      Seq.empty[(String, String, String, String, Long)]
        .toDF("index_name", "batch_id", "event", "detail", "ts")
    } else {
      spark.catalog.refreshTable(t)
      spark.table(t).filter(col("index_name") === indexName)
    }
  }

  /** Resolve a family's base names to the current version's physical
    * tables — what every versioned serving read consults first. One
    * metadata-scale read however many tables the family has. */
  def resolve(spark: SparkSession, ledgerTable: String, indexName: String,
              bases: Seq[String]): Seq[String] = {
    val v = currentVersion(spark, ledgerTable, indexName)
    bases.map(tableAt(_, v))
  }

  /** Deterministic batch id of a key frame: `<n>-<digest>` where n =
    * distinct-key count and digest = the order-free 60-bit md5 fold of
    * the keys' string casts ([[Warehouse.bucketChecksums]]' law, so a
    * SQL oracle recomputes it bit-for-bit). Order-free and
    * distributed: no sorted collect, no driver-side string — a
    * corpus-scale retention sweep digests as cheaply as a 3-row
    * takedown. Two DIFFERENT key sets colliding requires both the
    * count and the 2⁻⁶⁰ fold to agree — the anti-entropy trade the
    * checksum family already accepts. */
  def batchIdFor(keys: DataFrame): String = {
    val r = keys.toDF("_k").distinct()
      .select(conv(substring(md5(col("_k").cast("string")), 1, 15), 16, 10)
        .cast("long").as("_h"))
      .agg(count(lit(1)).as("n"),
        coalesce(pmod(sum(col("_h").cast("decimal(38,0)")),
          lit(Fold).cast("decimal(38,0)")).cast("long"), lit(0L)).as("d"))
      .head()
    s"${r.getLong(0)}-${r.getLong(1)}"
  }

  /** [[batchIdFor]] SALTED with a mutation EPOCH — `e<epoch>-<n>-<d>`
    * — for mutations whose id is CAPTURED once at creation time and
    * carried with the batch (the tombstone feed's `batch_id` column,
    * [[graft.operators.Warehouse.deleteFromLandingWithCapture]]).
    *
    * Why the epoch exists: a purely content-derived id ALIASES a
    * legitimate second mutation of the same key set to the first one —
    * delete keys K (applied, ledger row lands), re-ingest K, delete K
    * again (a repeat takedown, a retention sweep's next pass): the
    * second delete recomputes the SAME id, [[isApplied]] reports it
    * already applied, and the mutation silently no-ops, leaving an
    * additive index permanently stale. Salting with the family's
    * current version at CAPTURE time gives the new epoch's identical
    * key set a fresh id (the intervening apply bumped the version)
    * while replays of the captured batch keep the STORED id and stay
    * no-ops.
    *
    * Why this only works for captured ids, stated as the contract: an
    * id RECOMPUTED at apply time cannot be salted — the first apply
    * itself bumps the version, so a post-crash rerun (which recomputes
    * from the same inputs) would derive a DIFFERENT salt, miss the
    * ledger row, and re-apply: the exact double-subtract the ledger
    * exists to prevent. Replay-vs-new-mutation is undecidable from
    * (key set, ledger) alone; the temporal anchor must be captured
    * WITH the batch. Direct mutation entry points that default to the
    * unsalted [[batchIdFor]] therefore keep the content-derived id and
    * inherit its aliasing caveat (documented there); routes that need
    * repeat-mutation safety go through the capture feed. */
  def batchIdFor(keys: DataFrame, epoch: Long): String =
    s"e$epoch-${batchIdFor(keys)}"

  /** The family's ledger rows (x216's exhibit frame), ordered columns
    * only — consumers sort as they need. A family that has never
    * published (no ledger table yet — a cold-start stream before batch
    * 0, a MaintainedIndex registered ahead of its first build) reads
    * as the empty ledger, mirroring [[currentVersion]]/[[isApplied]]'s
    * existence guards, so audits over it ([[versionConflicts]]) report
    * clean instead of aborting the whole maintenance cycle. */
  def ledger(spark: SparkSession, ledgerTable: String,
             indexName: String): DataFrame =
    if (!spark.catalog.tableExists(ledgerTable)) {
      import spark.implicits._
      Seq.empty[(String, Long, String, String)]
        .toDF("index_name", "version", "batch_id", "action")
    } else
      freshLedger(spark, ledgerTable).filter(col("index_name") === indexName)
        .select(col("index_name"), col("version"), col("batch_id"),
          col("action"))

  /** CONCURRENT-WRITER TRIPWIRE. The protocol's operating contract is
    * ONE mutating writer per family (the Orchestrator runs maintenance
    * single-threaded; takedown/ingest paths serialize through it) —
    * the ledger is an append-only file table, so two writers that both
    * staged version N+1 BOTH publish successfully and the
    * second-staged tables silently win: the first mutation is recorded
    * as applied but its effect is lost. A file catalog has no
    * compare-and-swap to prevent that race, so this audit DETECTS it
    * after the fact: any version carrying more than one STAGING
    * publish (actions that bump the version — build/delete/merge/
    * compact/append-staged; plain `append` publishes at the current
    * version by design and any number may share it). One row per
    * conflicted version with the sorted batch ids; empty = the
    * single-writer contract held. Run every cycle
    * ([[graft.runner.Maintenance.runCycle]]'s `conflict_audit` row);
    * recovery from a hit is re-applying the losing batch (its inputs
    * are replayable: tombstone feeds, corpus batches) or a rebuild. */
  def versionConflicts(spark: SparkSession, ledgerTable: String,
                       indexName: String): DataFrame =
    ledger(spark, ledgerTable, indexName)
      .filter(col("action") =!= "append")
      .groupBy(col("version"))
      .agg(count(lit(1)).as("n_batches"),
        sort_array(collect_list(col("batch_id"))).as("batch_ids"))
      .filter(col("n_batches") > 1)

  /** Thrown by the DIRECT versioned delete entry points
    * ([[graft.operators.Graph.deleteFromEdgeIndexVersioned]],
    * [[graft.operators.Retrieval.deleteFromBm25IndexVersioned]]) when
    * a recomputed content-derived batch id hits the ledger WHILE the
    * batch's keys are still present in the current snapshot — the
    * aliasing the [[batchIdFor(keys:DataFrame,epoch:Long)*]] scaladoc
    * proves undecidable from (key set, ledger) alone: either this is a
    * legitimate SECOND mutation of a re-ingested key set (silently
    * no-opping it would freeze the staleness in permanently) or a
    * replay racing a re-ingest (re-applying could double-subtract).
    * Raising is the only safe verdict; the caller routes repeat
    * mutations through the delete-time capture feed
    * ([[graft.operators.Warehouse.deleteFromLandingWithCapture]]),
    * whose epoch-salted captured id makes the two cases
    * distinguishable. A replay whose keys are genuinely gone (the
    * normal post-crash case) still no-ops. */
  final case class AliasedBatchId(indexName: String, batchId: String)
    extends RuntimeException(
      s"batch $batchId already applied to $indexName but its keys are " +
        "present in the current snapshot: content-derived ids cannot " +
        "tell a repeat mutation of re-ingested keys from a replay — " +
        "route repeat deletes through the delete-time capture feed " +
        "(Warehouse.deleteFromLandingWithCapture's epoch-salted " +
        "batch id, Snapshots.batchIdFor(keys, epoch)) or pass the " +
        "batch id captured at mutation creation")

  /** Thrown by [[withLease]] when another writer holds the family's
    * lease — the caller's mutation was NOT started; retry after the
    * holder releases (its inputs are replayable by design: tombstone
    * feeds, corpus batches, deterministic batch ids). */
  final case class LeaseDenied(indexName: String, holders: Seq[String])
    extends RuntimeException(
      s"lease for $indexName held by ${holders.mkString(", ")}")

  /** BEST-EFFORT WRITER LEASE — prevention for the race the
    * [[versionConflicts]] tripwire detects. The protocol's contract is
    * one mutating writer per family; a file catalog has no
    * compare-and-swap, so two writers that stage the same next version
    * both publish and the second-staged tables silently win. This
    * narrows that race to a hair: append an `(index_name, owner, ts,
    * state=held)` row to the lease table, re-list, and proceed ONLY as
    * the holder of the EARLIEST live row — ordered by `(ts, owner)`,
    * so a writer arriving while another already holds the lease always
    * sees the earlier row and backs off ([[LeaseDenied]]), releasing
    * its own row before throwing. (Ordering by owner id alone would
    * let a later arrival with a smaller random id steal a HELD lease —
    * the arrival timestamp is what makes first-come-first-served
    * actually hold.) The body always runs with the lease held and the
    * row is released afterward. A crash inside the body (a driver
    * kill — an ordinary exception still releases through `finally`)
    * leaks the held row; recovery is AUTOMATIC via `maxHoldMs`: a held
    * row older than the bound with no release marker is EXPIRED — the
    * next arrival steps over it (appending an `expired` marker so the
    * step-over is durable and observable, [[expireStale]]) instead of
    * being denied forever. Before round 19 the only recovery was a
    * manual [[clearLeases]]; with `runCycle` lease-guarded, one driver
    * crash mid-cycle turned into silent permanent maintenance
    * starvation — every later cycle denied by a phantom row. Expiry is
    * safe for the same reason `clearLeases` was: the crashed mutation
    * either published (its replay is a ledger no-op) or staged
    * idempotent overwrites a rerun rebuilds. The bound's honest trade:
    * a holder still ALIVE past `maxHoldMs` (a pathologically slow
    * cycle) loses exclusivity and the race falls back to the
    * [[versionConflicts]] tripwire — size the bound at a few cycle
    * periods (the [[DefaultLeaseHoldMs]] default) so that window is
    * operationally unreachable.
    *
    * RELEASE IS APPEND-ONLY: a `state=released` marker row (or
    * `expired`, appended by a later arrival stepping over a
    * crash-leaked row), matched to the held row by owner id, and a
    * lease is live only while its held row is unmatched and younger
    * than `maxHoldMs` ([[liveLeases]]). An earlier form released by
    * rewriting the shared table ([[Warehouse.deleteFromIndex]]'s
    * read→rewrite→swap), where two overlapping releases each rewrote
    * from their own pre-release listing and the LAST swap won —
    * resurrecting the other writer's already-released row as a phantom
    * lease that denied every later writer until [[clearLeases]].
    * Marker appends are commutative: overlapping releases cannot lose
    * each other. The table grows two metadata rows per acquisition;
    * [[compactLeases]] (run by the maintenance cycle while it holds
    * the lease) reclaims terminated history, [[clearLeases]] remains
    * the operator's full reset.
    *
    * Honest limits, stated: two writers arriving within one clock tick
    * tie-break on owner id, and each may list before the other's
    * append is visible — the SIMULTANEOUS-arrival window (one
    * millisecond + the append/list gap on a POSIX-visibility catalog;
    * wider on delayed-listing object stores). The lease is prevention
    * for the common case; the tripwire remains the audit of record,
    * and recovery from a detected conflict is re-applying the losing
    * batch at a fresh version (its id is content-derived, so the
    * re-apply stages bit-identically). Cross-host clock skew widens
    * the tie window to the skew bound — serialize multi-host writers
    * through the Orchestrator instead. */
  /** Default [[withLease]] expiry bound: 30 minutes — a few multiples
    * of any sane maintenance cadence, so a live-but-slow holder never
    * reaches it while a crash-leaked row starves at most one bound. */
  val DefaultLeaseHoldMs: Long = 30L * 60L * 1000L

  def withLease[T](spark: SparkSession, leaseTable: String,
                   indexName: String,
                   maxHoldMs: Long = DefaultLeaseHoldMs)(body: => T): T = {
    // step over crash-leaked rows FIRST, so the liveness listing below
    // never carries a phantom older than the bound
    expireStale(spark, leaseTable, indexName, maxHoldMs)
    val owner = java.util.UUID.randomUUID().toString
    val ts = System.currentTimeMillis()
    leaseAppend(spark, leaseTable, indexName, owner, ts, "held")
    def releaseOwn(): Unit =
      leaseAppend(spark, leaseTable, indexName, owner, ts, "released")
    val live = liveLeases(spark, leaseTable, indexName, maxHoldMs)
    if (live.headOption.contains((ts, owner)))
      try body finally releaseOwn()
    else {
      releaseOwn()
      throw LeaseDenied(indexName,
        live.filterNot(_ == ((ts, owner))).map(_._2))
    }
  }

  /** One monitor per lease table: two THREADS of one driver appending
    * to the same table concurrently collide in the output committer's
    * shared `_temporary/0` staging dir (job A's commit sweeps job B's
    * in-flight task files — a FileNotFoundException, or worse a lost
    * row), so same-process lease traffic — the Orchestrator's
    * concurrent cycles, exactly the lease's main customer — serializes
    * its appends here. SEPARATE processes keep the committer-collision
    * risk; it is part of [[withLease]]'s documented
    * simultaneous-arrival window (serialize multi-host writers through
    * the Orchestrator). */
  private val leaseLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Pre-round-18 lease tables carried `(index_name, owner, ts)` with
    * DELETE-based release — no `state` column. Reading or appending
    * the 4-column shape against one fails with an AnalysisException on
    * the first acquisition after an in-place upgrade. Migration is
    * safe and lossless by the legacy form's own law: delete-based
    * release removed rows physically, so any row still at rest is a
    * crash-LEAKED held row — rewrite each as `state=held` (expiry or
    * [[clearLeases]] then reclaims it exactly like a 4-column leak).
    * Called under the table's [[leaseLocks]] monitor by every lease
    * read/append. */
  private def ensureLeaseSchema(spark: SparkSession,
                                leaseTable: String): Unit =
    if (spark.catalog.tableExists(leaseTable) &&
        !spark.table(leaseTable).columns.contains("state")) {
      import spark.implicits._
      val legacy = spark.table(leaseTable)
        .select(col("index_name"), col("owner"), col("ts"))
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), "held"))
        .toSeq
      graft.sinks.Sinks.dropManaged(spark, leaseTable)
      if (legacy.nonEmpty)
        legacy.toDF("index_name", "owner", "ts", "state")
          .coalesce(1).write.mode("append").format("parquet")
          .saveAsTable(leaseTable)
    }

  private def leaseLock(leaseTable: String): Object =
    leaseLocks.computeIfAbsent(leaseTable, _ => new Object)

  private def leaseAppend(spark: SparkSession, leaseTable: String,
                          indexName: String, owner: String, ts: Long,
                          state: String): Unit = {
    import spark.implicits._
    leaseLock(leaseTable).synchronized {
      ensureLeaseSchema(spark, leaseTable)
      Seq((indexName, owner, ts, state))
        .toDF("index_name", "owner", "ts", "state")
        .coalesce(1).write.mode("append").format("parquet")
        .saveAsTable(leaseTable)
    }
  }

  /** The family's UNMATCHED held rows — no released/expired marker —
    * ordered `(ts, owner)`, earliest first. The raw listing under
    * [[liveLeases]]/[[expireStale]]. */
  private def unmatchedHeld(spark: SparkSession, leaseTable: String,
                            indexName: String): Seq[(Long, String)] =
    if (!spark.catalog.tableExists(leaseTable)) Seq.empty
    else {
      leaseLock(leaseTable).synchronized {
        ensureLeaseSchema(spark, leaseTable)
      }
      spark.catalog.refreshTable(leaseTable)
      val rows = spark.table(leaseTable)
        .filter(col("index_name") === indexName)
        .select(col("ts"), col("owner"), col("state")).collect()
      val terminated = rows.filter(_.getString(2) != "held")
        .map(_.getString(1)).toSet
      rows.filter(r => r.getString(2) == "held" &&
          !terminated.contains(r.getString(1)))
        .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    }

  /** The family's LIVE leases — held rows with no released/expired
    * marker, younger than `maxHoldMs` — ordered `(ts, owner)`,
    * earliest (the holder) first. Empty when no writer is active (and
    * on a lease table that does not exist yet). The operator's
    * lease-health read; the default bound keeps the historical
    * no-expiry behavior for direct callers. */
  def liveLeases(spark: SparkSession, leaseTable: String,
                 indexName: String,
                 maxHoldMs: Long = Long.MaxValue): Seq[(Long, String)] = {
    val now = System.currentTimeMillis()
    unmatchedHeld(spark, leaseTable, indexName)
      .filter { case (ts, _) => now - ts <= maxHoldMs }
  }

  /** Step over crash-leaked leases: every unmatched held row older
    * than `maxHoldMs` gets an `expired` marker appended (commutative,
    * like releases — two writers expiring the same phantom cannot lose
    * each other) and is returned `(ts, owner)` so the caller can log
    * the step-over ([[graft.runner.Maintenance.runCycle]]'s
    * `lease_expired` action row). [[withLease]] runs this before every
    * acquisition, which is what turns a crashed holder from permanent
    * starvation into a one-bound wait with no [[clearLeases]] call. */
  def expireStale(spark: SparkSession, leaseTable: String,
                  indexName: String,
                  maxHoldMs: Long = DefaultLeaseHoldMs)
      : Seq[(Long, String)] = {
    val now = System.currentTimeMillis()
    val stale = unmatchedHeld(spark, leaseTable, indexName)
      .filter { case (ts, _) => now - ts > maxHoldMs }
    stale.foreach { case (ts, owner) =>
      leaseAppend(spark, leaseTable, indexName, owner, ts, "expired")
    }
    stale
  }

  /** Reclaim the lease table's terminated history for one family:
    * every owner carrying a released/expired marker has ALL its rows
    * (held + markers) dropped; unmatched held rows — the live holder,
    * any not-yet-expired phantom — survive untouched. Append-only
    * release grows two rows and two parquet files per acquisition
    * forever, and [[liveLeases]] collects the whole history per
    * acquisition — an always-on orchestrator accumulates thousands of
    * small files without this. Call while HOLDING the family's lease
    * (the cycle does, after its repairs): the holder is the family's
    * sole writer by construction, and the table-level [[leaseLocks]]
    * monitor serializes the rewrite against OTHER families' same-JVM
    * appends (cross-process writers stay the documented
    * simultaneous-arrival caveat). Owner ids are UUIDs, so the
    * owner-keyed delete cannot touch another family's rows. No-op
    * below `minRows` family rows (don't pay a rewrite to reclaim two
    * rows); returns the number of owners reclaimed. */
  def compactLeases(spark: SparkSession, leaseTable: String,
                    indexName: String, minRows: Int = 0): Int =
    if (!spark.catalog.tableExists(leaseTable)) 0
    else leaseLock(leaseTable).synchronized {
      ensureLeaseSchema(spark, leaseTable)
      spark.catalog.refreshTable(leaseTable)
      val fam = spark.table(leaseTable)
        .filter(col("index_name") === indexName)
      if (fam.count() <= math.max(minRows, 0).toLong) 0
      else {
        import spark.implicits._
        val done = fam.filter(col("state") =!= "held")
          .select(col("owner")).distinct()
          .collect().map(_.getString(0)).toSeq
        if (done.isEmpty) 0
        else {
          Warehouse.deleteFromIndex(spark, leaseTable, "owner",
            done.toDF("owner"))
          done.size
        }
      }
    }

  /** Drop every lease row for a family — the operator's recovery from
    * a crashed holder (see [[withLease]]'s crash note). */
  def clearLeases(spark: SparkSession, leaseTable: String,
                  indexName: String): Unit =
    if (spark.catalog.tableExists(leaseTable)) {
      import spark.implicits._
      Warehouse.deleteFromIndex(spark, leaseTable, "index_name",
        Seq(indexName).toDF("index_name"))
    }

  /** Reclaim retired snapshots: drop every physical table of versions
    * ≤ current − `keepVersions` (default keeps the current AND the
    * previous version — the grace window for readers that resolved
    * just before a publish). Ledger rows are kept (the idempotency
    * record). Returns the versions dropped. Run from the maintenance
    * cycle, not from the mutation itself — that lag IS the grace
    * period. */
  def retire(spark: SparkSession, ledgerTable: String, indexName: String,
             bases: Seq[String], keepVersions: Int = 2): Seq[Long] = {
    require(keepVersions >= 1, s"keepVersions must be >= 1, got $keepVersions")
    val cur = currentVersion(spark, ledgerTable, indexName)
    val cutoff = cur - keepVersions
    if (cutoff < 1) Seq.empty
    else {
      val retired = (1L to cutoff).filter { v =>
        bases.exists(b => spark.catalog.tableExists(tableAt(b, v)))
      }
      retired.foreach { v =>
        bases.foreach(b =>
          graft.sinks.Sinks.dropManaged(spark, tableAt(b, v)))
      }
      retired
    }
  }

  /** Reclaim the MIGRATED version-0 base: a family that migrated in
    * place (an existing unversioned table serving as version 0 —
    * [[graft.streaming.Streams.substringIngestManifest]]'s
    * migrate-in-place contract) keeps its base table forever, because
    * [[retire]] deliberately drops only versions ≥ 1: v0 is the
    * operator's fallback while the versioned lineage is young. That
    * fallback is a permanent duplicate copy of the entire index on
    * disk, so once the lineage has outgrown the grace window —
    * `currentVersion − keepVersions ≥ 1`, i.e. every version a reader
    * could still be holding is a versioned snapshot, not the base —
    * this drops the base tables explicitly and records a
    * `decommission_base` row in the sidecar event log ([[logEvent]];
    * NOT the ledger — the act mutates no served version, and ledger
    * actions feed the [[versionConflicts]] audit). A manifest-published
    * family serves the base itself as a segment until a compaction
    * folds it in, so a base any manifest in the grace window still
    * lists ([[manifestSegments]]) is kept. Idempotent: a repeat call
    * (or a crashed call's rerun) finds the tables gone and returns
    * false without a second event row. Replays of the migration batch
    * stay no-ops — [[isApplied]] reads the ledger, which keeps every
    * row. Returns true when any base table was actually dropped. */
  def decommissionBase(spark: SparkSession, ledgerTable: String,
                       indexName: String, bases: Seq[String],
                       keepVersions: Int = 2): Boolean = {
    require(keepVersions >= 1, s"keepVersions must be >= 1, got $keepVersions")
    val cur = currentVersion(spark, ledgerTable, indexName)
    val cutoff = cur - keepVersions
    if (cutoff < 1) false
    else {
      val present = bases.filter(b => spark.catalog.tableExists(b) &&
        !manifestSegments(spark, b, (cutoff + 1) to cur).contains(b))
      present.foreach(graft.sinks.Sinks.dropManaged(spark, _))
      if (present.nonEmpty)
        logEvent(spark, ledgerTable, indexName, s"decommission-v0",
          "decommission_base", s"dropped=${present.mkString(",")}")
      present.nonEmpty
    }
  }
}
