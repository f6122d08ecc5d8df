package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming layer (SURVEY §2.1 W1-W3 in stream form).
  *
  * The reference's incremental model is a 300-second polling loop with a
  * bookmark; its true streaming analog is a `readStream` source with an
  * event-time watermark. Two canonical stateful shapes are provided:
  * windowed aggregation (the analytics rollup, S5) and gap-based
  * sessionization via `flatMapGroupsWithState` (the stateful shape the
  * polling loop can't express). Both are tested with file sources + memory
  * sinks (batch-equivalent semantics checked against ReferenceQueries).
  */
object Streams {

  /** Windowed event rollup with late-data policy: counts + sums per
    * (window, event_type), dropping events later than `lateness`. */
  def windowedRollup(events: DataFrame, tsCol: String, lateness: String,
                     windowLen: String): DataFrame =
    events
      .withWatermark(tsCol, lateness)
      .groupBy(window(col(tsCol), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("value_sum"))

  /** Incremental landing mirror — the Structured-Streaming replacement for
    * the reference's 300-second polling loop + bookmark file: the source
    * checkpoint IS the bookmark (exactly-once file tracking), and each
    * micro-batch lands at a deterministic batchId-derived path
    * (`destDir/batch_id=<n>`, mode=overwrite), so a micro-batch replayed
    * after a partial/failed write REPLACES its own directory instead of
    * re-appending — end-to-end exactly-once, not just at-least-once.
    * Readers see `batch_id` as an extra partition column (useful lineage;
    * drop it if mirroring the source schema exactly).
    * `Trigger.AvailableNow` gives the reference's batch cadence; swapping
    * in `ProcessingTime("300 seconds")` gives the daemon.
    */
  def incrementalMirror(spark: SparkSession, sourceDir: String,
                        schema: org.apache.spark.sql.types.StructType,
                        destDir: String, checkpointDir: String): Unit = {
    val q = spark.readStream.schema(schema).parquet(sourceDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        batch.write.mode("overwrite").parquet(s"$destDir/batch_id=$batchId")
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Watermarked stream-stream join: clicks joined to views of the same
    * user within `windowSpec` before the click. Both sides carry
    * watermarks and the join condition bounds event-time distance, so
    * Spark can expire join state — the unbounded-state trap of naive
    * stream joins is avoided.
    */
  def clickViewJoin(clicks: DataFrame, views: DataFrame,
                    lateness: String, windowSpec: String): DataFrame = {
    val c = clicks.withWatermark("ts", lateness)
      .select(col("user_id"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
    val v = views.withWatermark("ts", lateness)
      .select(col("user_id").as("v_user_id"), col("ts").as("view_ts"),
        col("event_id").as("view_id"))
    c.join(v,
      col("user_id") === col("v_user_id") &&
        col("view_ts") <= col("click_ts") &&
        col("view_ts") >= col("click_ts") - expr(s"interval $windowSpec"))
      .select(col("user_id"), col("click_ts"), col("click_id"),
        col("view_ts"), col("view_id"))
  }

  final case class SessionEvent(user_id: Long, ts: Timestamp, event_id: Long)
  final case class SessionState(start: Long, end: Long, n: Long)
  final case class Session(user_id: Long, session_start: Timestamp,
                           session_end: Timestamp, n_events: Long)

  /** Gap-based sessionization with processing-time timeout: a session
    * closes when no event arrives within `gapMs`. The streaming twin of
    * ReferenceQueries q13_sessionize. */
  def sessionize(events: Dataset[SessionEvent], gapMs: Long)
                (implicit spark: SparkSession): Dataset[Session] = {
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.ProcessingTimeTimeout) {
        (userId: Long, rows: Iterator[SessionEvent],
         state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val out = state.getOption.map(s =>
              Session(userId, new Timestamp(s.start), new Timestamp(s.end), s.n))
            state.remove()
            out.iterator
          } else {
            val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var cur = state.getOption
            val closed = Seq.newBuilder[Session]
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.end <= gapMs =>
                  cur = Some(s.copy(end = t, n = s.n + 1))
                case Some(s) =>
                  closed += Session(userId, new Timestamp(s.start),
                    new Timestamp(s.end), s.n)
                  cur = Some(SessionState(t, t, 1))
                case None =>
                  cur = Some(SessionState(t, t, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutDuration(gapMs)
            }
            closed.result().iterator
          }
      }
  }

  final case class AttrEvent(user_id: Long, ts: Timestamp, event_id: Long,
                             event_type: String, value: Double)
  final case class LastClick(id: Long, tsMs: Long, value: Double)
  final case class Attribution(event_id: Long, user_id: Long, ts: Timestamp,
                               prior_event_id: Option[Long],
                               prior_ts: Option[Timestamp],
                               prior_value: Option[Double],
                               gap_ms: Option[Long])

  /** Streaming LAST-TOUCH ATTRIBUTION — the continuous form of the x143
    * as-of join ([[graft.operators.Temporal.asofJoin]]): per user, keep
    * ONE click (the latest by (ts, id)) as state; every purchase in a
    * micro-batch is attributed against that state plus the batch's own
    * at-or-before clicks, under the exact batch tie law — clicks at the
    * purchase's own timestamp count (`<=`), equal-timestamp clicks
    * resolve to the larger id. Unattributed purchases are emitted with
    * NULLs, not dropped.
    *
    * State is one fixed-size record per user — the streaming as-of's
    * whole trick (the batch form's running window becomes a 24-byte
    * state value; no event history is retained). Replayed or reordered
    * batches keep the tie law deterministic WITHIN a batch; a click
    * arriving in a LATER batch than a purchase it should have
    * attributed cannot retro-attribute it (append-mode law — the same
    * reason the batch oracle is authoritative: replay the union
    * time-ordered and the outputs match row-for-row, spec-pinned). */
  def attributionStream(events: Dataset[AttrEvent])
                       (implicit spark: SparkSession): Dataset[Attribution] = {
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[LastClick, Attribution](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[AttrEvent],
         state: GroupState[LastClick]) =>
          // batch-local merge order = the batch operator's sort: time,
          // clicks before purchases at the same instant, then id (so
          // the max-(ts, id) click wins ties)
          val sorted = rows.toSeq.sortBy(e =>
            (e.ts.getTime, if (e.event_type == "click") 0 else 1,
              e.event_id))
          val out = Seq.newBuilder[Attribution]
          var last = state.getOption
          sorted.foreach { e =>
            val t = e.ts.getTime
            e.event_type match {
              case "click" =>
                if (last.forall(s =>
                    s.tsMs < t || (s.tsMs == t && s.id < e.event_id)))
                  last = Some(LastClick(e.event_id, t, e.value))
              case "purchase" =>
                out += Attribution(e.event_id, userId, e.ts,
                  last.map(_.id), last.map(s => new Timestamp(s.tsMs)),
                  last.map(_.value), last.map(s => t - s.tsMs))
              case _ => () // other event types pass through unobserved
            }
          }
          last.foreach(state.update)
          out.result().iterator
      }
  }

  final case class Scd2Event(key: Long, ts: Timestamp, tie_id: Long,
                             attr: Option[String])
  final case class Scd2State(attr: Option[String], fromMs: Long,
                             nEvents: Long, version: Long)
  final case class Scd2Row(key: Long, version: Long, attr: Option[String],
                           valid_from_ms: Long, valid_to_ms: Long,
                           n_events: Long)

  /** Streaming SCD2 maintenance — the continuous form of the x148
    * dimension build ([[graft.operators.Temporal.scd2]]): per key, the
    * OPEN version (attribute, valid_from, event count, version number)
    * is the state; each micro-batch folds its events in (ts, tie_id)
    * order under the batch null-safe change law, and a version is
    * EMITTED the moment a change closes it — `valid_to_ms` = the
    * closing event's timestamp, exactly the batch lead(). The open
    * version is never emitted (append mode cannot retract); it
    * surfaces when a later change closes it, so the stream's output is
    * precisely the batch build's `is_current = false` rows under a
    * time-ordered replay (spec-pinned). Late events older than the
    * open version's start cannot rewrite closed history — the same
    * append-mode law as [[attributionStream]]; the batch rebuild is
    * authoritative for out-of-order corrections.
    *
    * State is one fixed-size record per key, the streaming-dimension
    * trick: no event history, no closed versions retained. */
  def scd2Stream(events: Dataset[Scd2Event])
                (implicit spark: SparkSession): Dataset[Scd2Row] = {
    import spark.implicits._
    events
      .groupByKey(_.key)
      .flatMapGroupsWithState[Scd2State, Scd2Row](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: Long, rows: Iterator[Scd2Event],
         state: GroupState[Scd2State]) =>
          val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.tie_id))
          val out = Seq.newBuilder[Scd2Row]
          var cur = state.getOption
          sorted.foreach { e =>
            val ms = e.ts.getTime
            cur match {
              case Some(s) if s.attr == e.attr =>
                cur = Some(s.copy(nEvents = s.nEvents + 1))
              case Some(s) =>
                out += Scd2Row(key, s.version, s.attr, s.fromMs, ms,
                  s.nEvents)
                cur = Some(Scd2State(e.attr, ms, 1L, s.version + 1))
              case None =>
                cur = Some(Scd2State(e.attr, ms, 1L, 1L))
            }
          }
          cur.foreach(state.update)
          out.result().iterator
      }
  }

  /** Streaming classifier gate — the model-scored twin of
    * [[qualityGate]]: [[graft.operators.Classifier.keep]]'s linear
    * bag-of-words score is a stateless per-row projection, so the SAME
    * operator body runs unchanged inside a streaming plan (batch/stream
    * parity is by construction, pinned by a spec). A learned weight
    * table plugs into the same seam; the gate stays stateless either
    * way, so it composes before any stateful stage. */
  def classifierGate(docs: DataFrame, textCol: String,
                     threshold: Double): DataFrame =
    graft.operators.Classifier.keep(docs, textCol, threshold)

  /** Streaming DSIR gate — x222's serving form at ingest: keep
    * documents whose hashed-bigram importance score against the FROZEN
    * [[graft.operators.TextAnalysis.writeDsirIndex]] weight table
    * reaches `threshold` (the x119 batch-frozen-threshold pattern: the
    * corpus paid its gram pass once at index-build time; each
    * micro-batch pays one gram pass over ITSELF plus a broadcast join
    * of the B-row table — no state store, no corpus touch). Schema-
    * preserving like every gate here: the score is re-derivable
    * (x222's batch surface), not carried. foreachBatch only because
    * the weight join reads a catalog table; the scoring itself is
    * stateless. */
  def dsirGate(docs: DataFrame, idCol: String, textCol: String,
               weightsTable: String, threshold: Double)
              (sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[
          org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        val b = batch.toDF()
        val keep = graft.operators.TextAnalysis.dsirScoreIndexed(spark,
            b, idCol, textCol, weightsTable)
          .filter(col("score") >= threshold)
          .select(col("doc_id").as("_keep_id"))
        sink(b.join(keep, col(idCol) === col("_keep_id"), "left_semi"),
          batchId)
    }

  /** Streaming SEMANTIC-DECONTAMINATION gate — x231's serving form at
    * ingest, the embedding sibling of the lexical Bloom decontam gate:
    * drop arriving vectors whose cosine against ANY benchmark vector
    * reaches `threshold` (paraphrased benchmark leakage the lexical
    * gates cannot see). The benchmark is frozen batch-side
    * ([[graft.operators.Similarity.collectCentroids]]'s driver-bounded
    * collect — the bandSketch convention: build the shareable artifact
    * once, hand it to the stream) and the verdict is the
    * [[org.apache.spark.sql.graft.VectorExpressions.bestMatch]] codegen
    * kernel — a stateless per-row projection, so the gate runs
    * unchanged in a streaming plan: no state store, no shuffle, no
    * corpus touch. Schema-preserving like every gate here (the witness
    * is re-derivable — x231's batch surface). */
  def semanticDecontamGate(vecs: DataFrame, vecCol: String,
                           benchIds: Array[Long],
                           benchVecs: Array[Array[Float]],
                           threshold: Double): DataFrame = {
    require(benchIds.nonEmpty, "semanticDecontamGate: empty benchmark")
    val m = org.apache.spark.sql.graft.VectorExpressions
      .bestMatch(col(vecCol), benchIds, benchVecs)
    vecs.withColumn("_m", m)
      .filter(col("_m").isNull || col("_m.sim") < threshold)
      .drop("_m")
  }

  /** Streaming RELEVANCE gate — the retrieval-scored sibling of
    * [[classifierGate]]: keep documents whose BM25 relevance against a
    * fixed query reaches `threshold`, scored with
    * [[graft.operators.Retrieval.scoreAgainst]] against FROZEN corpus
    * statistics ([[graft.operators.Retrieval.bm25Stats]] — built once
    * per corpus snapshot batch-side, the bandSketch convention). Every
    * idf is a broadcast constant and the per-row fold is a stateless
    * projection, so the same operator body runs unchanged in a
    * streaming plan; schema-preserving like every gate here (the score
    * is the batch x98 surface — re-derivable, not carried). Targeted
    * curation at ingest: "keep what looks like `queryTerms`" without a
    * shuffle or state store. */
  def relevanceGate(docs: DataFrame, textCol: String,
                    stats: graft.operators.Retrieval.Bm25Stats,
                    threshold: Double): DataFrame =
    graft.operators.Retrieval.scoreAgainst(docs, textCol, stats)
      .filter(col("relevance") >= threshold)
      .drop("relevance")

  /** Streaming corpus quality gate — the stateless pre-filter of an
    * ingestion pipeline: the per-row kernels (repetition signals) are
    * ordinary Catalyst projections, so they run UNCHANGED inside a
    * streaming plan; documents failing the repetition/length thresholds
    * are dropped before any stateful stage (e.g. [[dedupStream]]) pays
    * state for them. Stateless => no watermark required here and no
    * state to bound; at scale this is the free-filter stage that keeps
    * spam out of the dedup state store. */
  def qualityGate(docs: DataFrame, textCol: String,
                  maxTopBigramFrac: Double, minChars: Int): DataFrame = {
    val st = org.apache.spark.sql.graft.TextExpressions
      .repetitionStats(col(textCol))
    // output schema == input schema: both working columns are dropped
    // (leaving the derived signal in would silently widen downstream)
    docs
      .withColumn("_st", st)
      .withColumn("_top_bigram_frac",
        when(element_at(col("_st"), 1) > 0,
          element_at(col("_st"), 2).cast("double") /
            element_at(col("_st"), 1).cast("double")))
      .filter(length(trim(col(textCol))) >= minChars &&
        (col("_top_bigram_frac").isNull ||
          col("_top_bigram_frac") <= maxTopBigramFrac))
      .drop("_st", "_top_bigram_frac")
  }

  /** Streaming CALIBRATED score gate — x119's serving form: the
    * threshold is the corpus snapshot's own exact q-quantile score,
    * computed BATCH-side ([[graft.operators.TextAnalysis
    * .scoreQuantiles]], no global sort) and frozen into the stream as
    * a literal — the same frozen-batch-artifact split as
    * [[bm25Gate]]'s corpus stats and [[neardupGate]]'s band sketch.
    * The gate itself is the x12 score expression (a pure projection —
    * stopHits kernel + regexps) and a stateless filter, so arriving
    * documents pay one kernel pass and no state; recalibrate by
    * recomputing the quantile on the next snapshot and restarting the
    * query with the new literal. Schema-preserving. Ties at the bar
    * survive — gate on score, exactly like the batch twin. */
  def scoreGate(docs: DataFrame, textCol: String,
                threshold: Double): DataFrame =
    docs.filter(
      graft.operators.TextAnalysis.scoreColumn(textCol) >= threshold)

  /** Streaming PER-GROUP calibrated score gate — x147's serving form,
    * [[scoreGate]] with one frozen bar PER GROUP (language, source):
    * the thresholds are a batch-side snapshot of
    * [[graft.operators.TextAnalysis.groupedCalibratedGate]]'s
    * per-group exact quantile scores, frozen into the stream as a
    * LITERAL map (group-count-sized — the same frozen-batch-artifact
    * split as [[scoreGate]]'s single literal). The gate is the x12
    * score kernel + one map lookup — a stateless projection, no state,
    * no shuffle. A row whose group has NO calibrated bar is DROPPED
    * when `defaultThreshold` is None (an uncalibrated language has no
    * admission bar — refusing is the conservative curation default) or
    * gated at the given fallback otherwise; recalibrate by recomputing
    * the snapshot and restarting with the new map. */
  def groupedScoreGate(docs: DataFrame, textCol: String,
                       groupCol: String, thresholds: Map[String, Double],
                       defaultThreshold: Option[Double] = None)
      : DataFrame = {
    require(thresholds.nonEmpty, "thresholds must be non-empty")
    val thrMap = typedlit(thresholds)
    val thr = defaultThreshold match {
      case Some(d) => coalesce(element_at(thrMap, col(groupCol)), lit(d))
      case None => element_at(thrMap, col(groupCol)) // NULL → dropped
    }
    docs.filter(
      graft.operators.TextAnalysis.scoreColumn(textCol) >= thr)
  }

  /** Streaming DAILY-ANOMALY gate — x163's serving form: arriving
    * per-day count rows (e.g. [[windowedRollup]]'s output, or any
    * `(event_type, day, n_events)` stream) are flagged against a
    * BATCH-side stats snapshot ([[graft.operators.Analytics
    * .anomalyStats]] — per-type day count, Σx, Σx², the frozen
    * artifact, same split as [[bm25Gate]]'s corpus stats) through the
    * SAME exact-integer predicate the batch report filters with
    * ([[graft.operators.Analytics.anomalyBound]] — parity by
    * construction, no float law). Stream-static broadcast join + a
    * stateless row filter: no state store, no watermark; re-baseline
    * by recomputing the snapshot and restarting. A type with no
    * baseline drops (an uncalibrated alert has no meaning — the
    * [[groupedScoreGate]] convention). */
  def anomalyGate(counts: DataFrame, stats: DataFrame,
                  sigmas: Int = 2): DataFrame =
    counts.join(broadcast(stats), Seq("event_type"))
      .filter(graft.operators.Analytics.anomalyBound(sigmas))
      .select(counts.columns.map(col): _*)

  final case class DailyCount(event_type: String, day: Long,
                              n_events: Long)
  final case class CusumState(p: BigInt, minP: BigInt)
  final case class CusumRow(event_type: String, day: Long,
                            n_events: Long, cusum: Long, flagged: Boolean)

  /** Driver-side snapshot of [[graft.operators.Analytics.cusumStats]]
    * for [[cusumStream]]: per type `(D, Σx, V = D·Σx² − (Σx)²)` —
    * the stats frame is event-type-dictionary-sized, so collecting
    * it is the same bounded collect as every other frozen-baseline
    * gate. V rides BigInt (it exceeds a long exactly when the batch
    * side needed DECIMAL(38,0)). */
  def cusumBaselines(stats: org.apache.spark.sql.DataFrame)
      : Map[String, (Long, Long, BigInt)] =
    stats.collect().map { r =>
      val d = r.getLong(1)
      val s1 = r.getLong(2)
      val s2 = BigInt(r.getDecimal(3).toBigInteger)
      r.getString(0) ->
        ((d, s1, BigInt(d) * s2 - BigInt(s1) * BigInt(s1)))
    }.toMap

  /** Streaming CUSUM drift detector — x189's continuous form
    * ([[graft.operators.Analytics.cusumDrift]]): per event type, the
    * prefix sum `P` and prefix min of the exact integer deviations
    * `d = D·x − Σx` (against the FROZEN batch baseline — the
    * anomalyGate split) are ONE fixed-size state record; each
    * micro-batch folds its days in day order, emits
    * `S = P − min(0, min_j P_j)` and the exact-integer flag
    * `S² > h²·V` per day. Because batch and stream share the closed
    * form and the baseline, a time-ordered replay emits the batch
    * report's exact flag sequence (spec-pinned). Types missing from
    * the baseline drop (the anomalyGate law). The prefix sum P and
    * its running min accumulate in BigInt (state rides DECIMAL(38,0),
    * exactly the batch side's type): P = Σ(D·x − Σx) can be ~D×
    * larger than any single day's deviation, so a long accumulator
    * would silently wrap on series the batch side still handles
    * exactly, breaking the spec-pinned flag parity. Only the REPORT
    * column S narrows to long, SATURATING at Long.MaxValue (S ≥ 0 by
    * construction) — the flag compares in BigInt before the
    * narrowing, so it stays exact at any magnitude and a beyond-Long
    * prefix sum can never surface as a garbage negative cusum. */
  def cusumStream(counts: Dataset[DailyCount],
                  baselines: Map[String, (Long, Long, BigInt)],
                  h: Int = 3)
                 (implicit spark: SparkSession): Dataset[CusumRow] = {
    import spark.implicits._
    require(h >= 1, s"h must be >= 1, got $h")
    val h2 = BigInt(h.toLong * h)
    counts.groupByKey(_.event_type)
      .flatMapGroupsWithState[CusumState, CusumRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (etype: String, rows: Iterator[DailyCount],
         state: GroupState[CusumState]) =>
          baselines.get(etype) match {
            case None => Iterator.empty
            case Some((d, s1, v)) =>
              val sorted = rows.toSeq.sortBy(_.day)
              var st = state.getOption
                .getOrElse(CusumState(BigInt(0), BigInt(0)))
              val out = Seq.newBuilder[CusumRow]
              sorted.foreach { r =>
                val p = st.p + (BigInt(d) * r.n_events - s1)
                st = CusumState(p, st.minP.min(p))
                val s = p - st.minP.min(BigInt(0))
                val sLong =
                  if (s > BigInt(Long.MaxValue)) Long.MaxValue else s.toLong
                out += CusumRow(etype, r.day, r.n_events, sLong,
                  s * s > h2 * v)
              }
              state.update(st)
              out.result().iterator
          }
      }
  }

  final case class ArrivedEvent(user_id: Long, event_id: Long,
                                event_type: String, ts_ms: Long)
  final case class MaxSeen(maxMs: Long)
  final case class GatedEvent(user_id: Long, event_id: Long,
                              event_type: String, ts_ms: Long,
                              lateness_ms: Long, admitted: Boolean)

  /** Streaming LATENESS GATE — x193's ingest form
    * ([[graft.operators.Warehouse.latenessAudit]] is the batch audit
    * that SIZES this gate's knob): per key, the max event-time seen
    * so far is ONE fixed-size state record; each arriving event's
    * lateness is measured against it (`max(0, maxSeen − ts)`) and
    * the event is admitted iff `lateness ≤ allowedLatenessMs` —
    * exactly the drop decision `withWatermark` makes inside stateful
    * operators, made EXPLICIT so late rows can be quarantined and
    * counted instead of silently vanishing. Within a micro-batch,
    * arrival order is the event id (the audit's tie law); across
    * batches it is batch order — the same append-mode law as
    * [[attributionStream]]. Rejected events are emitted with
    * `admitted = false`, not dropped — routing is the caller's
    * policy (the [[riQuarantine]] split). */
  def latenessGate(events: Dataset[ArrivedEvent],
                   allowedLatenessMs: Long)
                  (implicit spark: SparkSession): Dataset[GatedEvent] = {
    import spark.implicits._
    require(allowedLatenessMs >= 0,
      s"allowedLatenessMs must be >= 0, got $allowedLatenessMs")
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[MaxSeen, GatedEvent](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[ArrivedEvent],
         state: GroupState[MaxSeen]) =>
          val sorted = rows.toSeq.sortBy(_.event_id)
          var maxMs = state.getOption.map(_.maxMs).getOrElse(Long.MinValue)
          val out = Seq.newBuilder[GatedEvent]
          sorted.foreach { e =>
            val late = math.max(0L,
              if (maxMs == Long.MinValue) 0L else maxMs - e.ts_ms)
            out += GatedEvent(userId, e.event_id, e.event_type,
              e.ts_ms, late, late <= allowedLatenessMs)
            maxMs = math.max(maxMs, e.ts_ms)
          }
          state.update(MaxSeen(maxMs))
          out.result().iterator
      }
  }

  /** Streaming REFERENTIAL-INTEGRITY gate — x176's ingest form: an
    * arriving fact passes only if its FK has a parent in the BATCH
    * dim-key snapshot (the frozen artifact, same split as
    * [[anomalyGate]]); [[riQuarantine]] is the complement — the
    * orphans (early-arriving facts, bad loads) routed to a holding
    * sink instead of silently landing. Stream-static LEFT SEMI /
    * LEFT ANTI against the broadcast distinct key column: stateless,
    * no watermark; NULL keys are orphans by the x176 convention (a
    * fact that references nothing cannot join anything downstream).
    * Re-snapshot dims and restart to admit newly-landed parents. */
  def riGate(facts: DataFrame, fkCol: String,
             dimKeys: DataFrame, pkCol: String): DataFrame =
    facts.join(broadcast(dimKeys.select(col(pkCol).as(fkCol)).distinct()),
      Seq(fkCol), "left_semi")

  /** The orphan complement of [[riGate]] — see there. */
  def riQuarantine(facts: DataFrame, fkCol: String,
                   dimKeys: DataFrame, pkCol: String): DataFrame =
    facts.filter(col(fkCol).isNull).unionByName(
      facts.filter(col(fkCol).isNotNull).join(
        broadcast(dimKeys.select(col(pkCol).as(fkCol)).distinct()),
        Seq(fkCol), "left_anti"))

  /** Streaming cross-corpus NEAR-dup gate — the stateless ingest form
    * of batch x75 ([[graft.operators.TextDedup.crossNeardupSurvivors]]):
    * the Bloom sketch of the existing corpus's LSH band keys (built
    * ONCE batch-side via [[graft.operators.TextDedup.bandSketch]])
    * becomes a per-row predicate — an arriving document is dropped when
    * ANY of its band keys hits the sketch, i.e. when batch x75 would
    * have generated a candidate pair for it. No exact verify join on
    * the stream (the [[decontaminationGate]] trade): the gate's
    * over-drop rate is the LSH false-candidate rate plus the sketch fp
    * rate, both calibrated batch-side. Documents too short to shingle
    * have no signature and pass through, as in batch. */
  def neardupGate(docs: DataFrame, textCol: String,
                  bloomBytes: Array[Byte], k: Int, numBands: Int = 20,
                  rowsPerBand: Int = 4): DataFrame = {
    if (bloomBytes == null) return docs
    val te = org.apache.spark.sql.graft.TextExpressions
    val sig = te.minhashSigFromHashes(
      te.shingleHashSet(col(textCol), k), numBands * rowsPerBand)
    // the combined per-band key must hash (band_idx, band_key) with the
    // SAME types as the sketch build (int position, long key)
    val combined = transform(
      graft.functions.Text.lshBands(sig, numBands, rowsPerBand),
      (b, i) => xxhash64(i, b))
    docs.filter(sig.isNull ||
      !exists(combined, h => te.bloomMightContain(bloomBytes, h)))
  }

  /** Streaming span-contamination gate — the streaming twin of batch
    * x83 ([[graft.operators.TextDedup.duplicateSpans]]): the Bloom
    * sketch of the corpus's positional `spanTokens`-gram digests
    * (built ONCE batch-side via
    * [[graft.operators.TextDedup.gramSketch]]) becomes a stateless
    * per-row predicate — a document whose full-frame grams hit the
    * sketch at least `maxHits` times shares (modulo the fp rate) a
    * duplicated run with the corpus and is dropped/held for the batch
    * span-surgery pass. Documents shorter than `spanTokens` tokens
    * have no full frame and always pass, exactly as they produce no
    * grams in batch x83. Null sketch (corpus with no full frames) =
    * pass-through. Like the other gates: per-row, zero state,
    * composes before any stateful stage; the fp-rate over-drop is the
    * standard sketch trade ([[decontaminationGate]]'s note). */
  def spanGate(docs: DataFrame, textCol: String, bloomBytes: Array[Byte],
               spanTokens: Int = 8, maxHits: Int = 1): DataFrame = {
    if (bloomBytes == null) return docs
    val te = org.apache.spark.sql.graft.TextExpressions
    val toks = graft.functions.Text.tokens(col(textCol))
    val hits = when(toks.isNull || size(toks) < spanTokens, lit(0))
      .otherwise(size(filter(
        transform(te.chunkTokens(col(textCol), spanTokens, 1),
          g => xxhash64(g)),
        h => te.bloomMightContain(bloomBytes, h))))
    docs.filter(hits < lit(maxHits))
  }

  /** Streaming INDEXED near-dup ingest — the streaming twin of batch
    * x80 ([[graft.operators.TextDedup.crossNeardupSurvivorsIndexed]])
    * and the closing of [[graft.operators.TextDedup.writeNeardupIndex]]'s
    * incremental-maintenance contract: each micro-batch is (1) checked
    * EXACTLY against the persisted band index (LSH candidates from the
    * bands table, exact-Jaccard verify against the sets table — zero
    * corpus text scanned, zero signatures recomputed, unlike the
    * stateless [[neardupGate]] whose Bloom sketch trades fp over-drops
    * for statelessness), (2) handed to `sink` with its batch id, and
    * (3) appended to the index, so a document in batch N+1 near-duping
    * a batch-N survivor is dropped — corpus state lives in the bucketed
    * tables, not in stream state, which is why this composes as
    * `foreachBatch` rather than a stateful operator (Spark's stream
    * state cannot host a bucketed join index; the catalog can).
    *
    * Semantics match x80: batch-internal near-dup pairs both survive
    * (the batch checks against the CORPUS, not itself — compose
    * [[graft.operators.TextDedup.minhashLshDedup]] inside `sink` when
    * within-batch collapse is wanted). Replayed micro-batches (the
    * at-least-once window after a crash, before the checkpoint commit)
    * re-append their survivors; dedup the index on doc_id at the next
    * compaction, or make `sink` idempotent by batch id as usual. */
  /** Shared auto-compaction hook for the indexed-ingest family: when
    * `compactEvery` > 0, every that-many micro-batches the appended
    * index tables are rebuilt through
    * [[graft.operators.Warehouse.compactIndex]] — appends add one
    * file per touched bucket per batch, so without a compaction
    * cadence a long-running ingest accretes the classic streaming
    * small-files failure; with it the steady state stays ~1 file per
    * bucket. Compaction preserves rows bit-identically, so the serve
    * contract is untouched at any cadence (0 = caller compacts on
    * their own schedule, e.g. off [[graft.operators.Warehouse
    * .indexFileAudit]]). */
  private def maybeCompact(spark: SparkSession, tables: Seq[String],
                           batchId: Long, compactEvery: Int): Unit =
    if (compactEvery > 0 && (batchId + 1) % compactEvery == 0)
      tables.foreach(graft.operators.Warehouse.compactIndex(spark, _))

  /** Heal any torn compaction swap BEFORE a micro-batch touches its
    * index tables ([[graft.operators.Warehouse.recoverIndex]]): after
    * a crash between [[maybeCompact]]'s swap statements, the
    * at-least-once replay would otherwise find the live table missing
    * and the append would silently RE-CREATE it from that one batch's
    * rows — serving under-counted aggregates with no error. Two
    * catalog lookups per table per batch; runs at the top of every
    * indexed-ingest handler. */
  private def recoverAll(spark: SparkSession, tables: Seq[String]): Unit =
    tables.foreach(graft.operators.Warehouse.recoverIndex(spark, _))

  def indexedNeardupIngest(docs: DataFrame, idCol: String, textCol: String,
                           k: Int, threshold: Double, setsTable: String,
                           bandsTable: String, numBands: Int = 20,
                           rowsPerBand: Int = 4, numBuckets: Int = 16,
                           compactEvery: Int = 0)
                          (sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[
          org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val td = graft.operators.TextDedup
        recoverAll(batch.sparkSession, Seq(setsTable, bandsTable))
        val survivors = td.crossNeardupSurvivorsIndexed(batch.toDF(),
          idCol, textCol, k, threshold, setsTable, bandsTable,
          numBands, rowsPerBand).cache()
        try {
          sink(survivors, batchId)
          td.appendNeardupIndex(survivors, idCol, textCol, k,
            setsTable, bandsTable, numBands, rowsPerBand, numBuckets)
          maybeCompact(batch.sparkSession, Seq(setsTable, bandsTable),
            batchId, compactEvery)
        } finally survivors.unpersist()
    }

  /** Streaming CHAR-level benchmark-decontamination scrub — x232's
    * serving form at ingest ([[boilerplateScrub]]'s role on the
    * substring tier): each micro-batch is span-checked against the
    * FROZEN benchmark gram-key index
    * ([[graft.operators.TextDedup.substringContaminatedSpans]] — no
    * first-occurrence exemption, no batch-internal leg) and the
    * contaminated spans are cut character-exact before `sink` sees
    * the rows. UNLIKE [[substringIngestManifest]] nothing is staged
    * and there is no ledger: the benchmark is an immutable release
    * artifact, so the scrub is pure per-batch computation — replays
    * recompute the identical cleaned frame by construction
    * (at-least-once redelivery of the SAME rows, safe for idempotent
    * sinks).
    * `foreachBatch` only because the index is a catalog table (the
    * [[dsirGate]] convention); the work itself is stateless. */
  def substringDecontamScrub(docs: DataFrame, idCol: String,
                             textCol: String, L: Int,
                             benchIndexTable: String)
                            (sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[
          org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val td = graft.operators.TextDedup
        val b = batch.toDF()
        sink(td.applyCharSpans(b, idCol, textCol,
          td.substringContaminatedSpans(b, idCol, textCol, L,
            benchIndexTable)), batchId)
    }

  /** Streaming EXACT-SUBSTRING dedup ingest — the streaming twin of
    * batch x227 ([[graft.operators.TextDedup.substringDupSpansIndexed]])
    * and the exact-substring family's one ingest form: each micro-batch
    * is (1) span-checked against the persisted gram-key index (one
    * doubling pass over the batch + a bucketed semi-join — corpus text
    * never rescanned), (2) CUT (duplicated spans excised
    * character-exact, the x225 surgery) and the cleaned
    * `(doc_id, n_chars_removed, clean_text)` frame handed to `sink`,
    * and (3) the CLEANED text's keys staged as the batch's own SEGMENT
    * table plus a metadata-sized manifest listing the next version's
    * segments, both committed with ONE ledger row. A batch-N+1 document
    * repeating batch-N's surviving material is cut against it; the
    * index reflects the post-surgery corpus — what actually entered —
    * which is the Lee et al. pipeline run continuously.
    *
    * A version's key set is the union of its manifest's segments
    * ([[graft.operators.TextDedup.substringDupSpansManifested]] — set
    * semantics make cross-segment duplicate keys harmless, which is
    * exactly what buys the no-anti-join O(batch) stage). Zero residual
    * crash window: the span check runs against the CURRENT manifest
    * until the publish, so a kill at any step replays to the identical
    * cleaned frame and converges to the same index; a replay after the
    * publish is a whole-batch no-op (the ledger is the replay guard —
    * epoch ids are meaningful within ONE checkpoint lineage, so start
    * a fresh ledger with a fresh checkpoint). Deferred costs fold back
    * in maintenance: every `compactEvery` batches (0 = never) the
    * family compacts to a single deduplicated segment
    * ([[graft.operators.TextDedup.substringManifestCompact]]) — until
    * then serving unions `compactEvery`-bounded segment scans;
    * `compactEvery = 1` keeps a single-table steady state.
    * MIGRATE-IN-PLACE: an unversioned
    * [[graft.operators.TextDedup.writeSubstringIndex]] table at
    * `indexBase` serves as version 0's only segment — batch 0 is cut
    * against it and every manifest lists it until the first compaction
    * folds it in (zero rebuild at migration;
    * [[graft.operators.Snapshots.decommissionBase]] reclaims the base
    * once no manifest in the grace window lists it). Retired manifests
    * and the segments they strand drop past `keepVersions`
    * ([[graft.operators.TextDedup.retireSubstringManifest]] — never the
    * base). */
  def substringIngestManifest(docs: DataFrame, idCol: String,
                              textCol: String, L: Int,
                              ledgerTable: String, indexName: String,
                              indexBase: String, numBuckets: Int = 16,
                              keepVersions: Int = 2,
                              compactEvery: Int = 0)
                             (sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[
          org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        substringIngestManifestBatch(batch.toDF(), batchId, idCol,
          textCol, L, ledgerTable, indexName, indexBase, numBuckets,
          keepVersions)(sink)
        if (compactEvery > 0 && batchId > 0 &&
            batchId % compactEvery == 0) {
          graft.operators.TextDedup.substringManifestCompact(
            batch.sparkSession, ledgerTable, indexName, indexBase,
            numBuckets)
          ()
        }
    }

  /** [[substringIngestManifest]]'s batch handler (spec-drivable kill
    * hooks: `crashAfterStep` ∈ {sink, stage, publish}). Returns false
    * on a replayed epoch. */
  private[graft] def substringIngestManifestBatch(
      b: DataFrame, batchId: Long, idCol: String, textCol: String,
      L: Int, ledgerTable: String, indexName: String, indexBase: String,
      numBuckets: Int, keepVersions: Int,
      crashAfterStep: Option[String] = None)
      (sink: (DataFrame, Long) => Unit): Boolean = {
    import graft.operators.Snapshots
    def step(s: String): Unit =
      if (crashAfterStep.contains(s))
        throw new IllegalStateException(s"injected crash after step $s")
    val td = graft.operators.TextDedup
    val spark = b.sparkSession
    val bid = s"stream-$batchId"
    if (Snapshots.isApplied(spark, ledgerTable, indexName, bid)) false
    else {
      val cur = Snapshots.currentVersion(spark, ledgerTable, indexName)
      val next = cur + 1
      // span-check against the CURRENT manifest (cold bootstrap: the
      // batch against itself) — never the staged segment, so a crashed
      // attempt's rerun recomputes the identical cleaned frame
      val segsCur = td.substringSegments(spark, ledgerTable, indexName,
        indexBase)
      val spans =
        if (segsCur.nonEmpty)
          td.substringDupSpansSegmented(b, idCol, textCol, L, segsCur)
        else td.substringDupSpans(b, idCol, textCol, L)
      val cleaned = td.applyCharSpans(b, idCol, textCol, spans).cache()
      try {
        sink(cleaned, batchId)
        step("sink")
        // O(batch): the segment is the batch's own distinct keys — no
        // anti-join against the index, no union rewrite; keys already
        // present in an earlier segment are harmless to the semi-join
        // serving law and fold out at the next compaction
        val segT = td.substringSegmentTable(indexBase, next)
        graft.sinks.Sinks.dropManaged(spark, segT)
        graft.sinks.Sinks.writeBucketed(
          td.substringGramKeys(cleaned, "doc_id", "clean_text", L),
          segT, Seq("gram_key"), numBuckets)
        td.writeManifest(spark, indexBase, next, segsCur :+ segT)
        step("stage")
        Snapshots.publish(spark, ledgerTable, indexName, next, bid,
          if (segsCur.isEmpty) "build" else "append-staged")
        step("publish")
        td.retireSubstringManifest(spark, ledgerTable, indexName,
          indexBase, keepVersions)
        true
      } finally { cleaned.unpersist(); () }
    }
  }

  /** [[indexedNeardupIngest]] through the VERSIONED protocol — the
    * per-key-row twin of [[edgeIndexIngestVersioned]], closing the
    * same caveat: a replayed micro-batch re-appends its survivors'
    * (sets, bands) rows, and duplicated index rows DUPLICATE served
    * candidate matches downstream. Here every batch's append is
    * guarded by the applied-batch ledger under `stream-<batchId>`
    * (replay = logged no-op); batch 0 bootstraps version 1 under the
    * same id; `compactEvery` publishes a compacted NEXT snapshot for
    * the whole two-table family in one ledger row
    * ([[graft.operators.Warehouse.compactFamilyVersioned]] — no
    * in-place swap under in-flight readers) and retires versions past
    * the grace window. The serving read resolves the family through
    * [[graft.operators.Snapshots.resolve]].
    *
    * A replayed batch is skipped WHOLE — survivors recomputed after
    * the original append would dup against the batch's own index rows
    * and hand `sink` a spuriously-empty frame, which is worse than the
    * at-least-once redelivery it replaces; the ledger check happens
    * before any work, so the replay costs two metadata reads. Same
    * residual window as the edge twin: a crash between the append and
    * its publish replays those rows once; the staged full-snapshot
    * write closes it at per-batch index-rewrite cost. */
  def indexedNeardupIngestVersioned(docs: DataFrame, idCol: String,
                                    textCol: String, k: Int,
                                    threshold: Double, ledgerTable: String,
                                    indexName: String, setsBase: String,
                                    bandsBase: String, numBands: Int = 20,
                                    rowsPerBand: Int = 4,
                                    numBuckets: Int = 16,
                                    compactEvery: Int = 0)
                                   (sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[
          org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        import graft.operators.{Snapshots, Warehouse}
        val td = graft.operators.TextDedup
        val spark = batch.sparkSession
        val bases = Seq(setsBase, bandsBase)
        val bid = s"stream-$batchId"
        val applied = Snapshots.isApplied(spark, ledgerTable, indexName,
          bid)
        val bootstrapped =
          Snapshots.currentVersion(spark, ledgerTable, indexName) > 0
        val b = batch.toDF().cache()
        try {
          if (applied) () // replayed epoch: fully processed — no-op
          else if (!bootstrapped) {
            // first batch: no corpus to dup against — all survive,
            // and version 1 IS this batch's index
            sink(b, batchId)
            val Seq(s1, b1) = bases.map(Snapshots.tableAt(_, 1L))
            Seq(s1, b1).foreach(graft.sinks.Sinks.dropManaged(spark, _))
            td.writeNeardupIndex(b, idCol, textCol, k, s1, b1,
              numBands, rowsPerBand, numBuckets)
            Snapshots.publish(spark, ledgerTable, indexName, 1L, bid,
              "build")
          } else {
            val Seq(setsT, bandsT) = Snapshots.resolve(spark,
              ledgerTable, indexName, bases)
            val survivors = td.crossNeardupSurvivorsIndexed(b, idCol,
              textCol, k, threshold, setsT, bandsT, numBands,
              rowsPerBand).cache()
            try {
              sink(survivors, batchId)
              td.appendNeardupIndex(survivors, idCol, textCol, k,
                setsT, bandsT, numBands, rowsPerBand, numBuckets)
              Snapshots.publish(spark, ledgerTable, indexName,
                Snapshots.currentVersion(spark, ledgerTable, indexName),
                bid, "append")
            } finally { survivors.unpersist(); () }
          }
          if (compactEvery > 0 && (batchId + 1) % compactEvery == 0) {
            Warehouse.compactFamilyVersioned(spark, ledgerTable,
              indexName, bases, batchId = Some(s"compact-stream-$batchId"))
            Snapshots.retire(spark, ledgerTable, indexName, bases)
            ()
          }
        } finally { b.unpersist(); () }
    }

  /** Streaming SPLIT ASSIGNMENT on ingest — the online counterpart of
    * batch x93 ([[graft.operators.CorpusPipeline.clusterSplit]]): a
    * new document that near-dups an indexed corpus document INHERITS
    * that document's train/val/test split (so a near-dup of training
    * data can never land in the eval split); an unmatched document
    * takes its own [[graft.operators.TextAnalysis.splitLabel]] hash
    * split. Each micro-batch then extends BOTH artifacts — the split
    * table and the near-dup index — so later batches inherit from
    * earlier ones.
    *
    * Matching multiple corpus docs with DIFFERENT splits inherits the
    * smallest matched id's split (deterministic). This is the greedy
    * online approximation of x93's global components: chains
    * discovered across batches in the wrong order can diverge from
    * the global recompute, and near-dup pairs WITHIN one micro-batch
    * are not linked to each other (the batch checks the CORPUS, not
    * itself — they only converge once both are in the index) — re-run
    * the batch op offline when exact component splits matter; the
    * streaming gate guarantees the direction that matters
    * operationally (nothing near already-SPLIT data lands on the
    * other side of its boundary, because every match inherits).
    *
    * `splitTable` rows are `(doc_id, split)`; seed it with the
    * existing corpus's assignment before starting the stream. */
  def splitAssignIngest(docs: DataFrame, idCol: String, textCol: String,
                        k: Int, threshold: Double, setsTable: String,
                        bandsTable: String, splitTable: String,
                        numBands: Int = 20, rowsPerBand: Int = 4,
                        numBuckets: Int = 16, compactEvery: Int = 0)
                       (sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[
          org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val td = graft.operators.TextDedup
        val spark = batch.sparkSession
        recoverAll(spark, Seq(setsTable, bandsTable, splitTable))
        val b = batch.toDF()
        val best = td.crossNeardupMatchesIndexed(b, idCol, textCol, k,
            threshold, setsTable, bandsTable, numBands, rowsPerBand)
          .groupBy(col("new_id"))
          .agg(min(col("old_id")).as("match_id"))
        val inherited = best
          .join(spark.table(splitTable).hint("shuffle_hash")
              .select(col("doc_id").as("match_id"), col("split")),
            Seq("match_id"))
          .select(col("new_id").as(idCol), col("split"))
        val assigned = b.select(col(idCol))
          .join(inherited, Seq(idCol), "left")
          .withColumn("split", coalesce(col("split"),
            graft.operators.TextAnalysis.splitLabel(col(idCol))))
          .select(col(idCol).cast("long").as("doc_id"), col("split"))
          .cache()
        try {
          sink(assigned, batchId)
          assigned.write.mode("append").format("parquet")
            .saveAsTable(splitTable)
          td.appendNeardupIndex(b, idCol, textCol, k, setsTable,
            bandsTable, numBands, rowsPerBand, numBuckets)
          maybeCompact(spark, Seq(setsTable, bandsTable, splitTable),
            batchId, compactEvery)
        } finally assigned.unpersist()
    }

  /** Streaming INDEXED embedding near-dup ingest — the vector-side
    * twin of [[indexedNeardupIngest]] (same contract, x92's operator):
    * each micro-batch is (1) checked against the persisted IVF index
    * ([[graft.operators.Similarity.embeddingSurvivorsIndexed]] — probed
    * buckets only, zero corpus re-assignment), (2) handed to `sink`
    * with its batch id, and (3) appended to the assignment table under
    * the SAME persisted codebook, so a vector in batch N+1 near-duping
    * a batch-N survivor is dropped. Corpus state lives in the bucketed
    * catalog tables, not stream state — `foreachBatch`, not a stateful
    * operator, for the same reason as the text twin. Batch-internal
    * near-dup pairs both survive (the batch checks the CORPUS, not
    * itself); replayed micro-batches re-append survivors — dedup the
    * index on neighbor_id at compaction, or make `sink` idempotent by
    * batch id. */
  def indexedAnnIngest(vecs: DataFrame, idCol: String, vecCol: String,
                       threshold: Double, nprobe: Int,
                       assignTable: String, centTable: String,
                       numBuckets: Int = 16, compactEvery: Int = 0)
                      (sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[
          org.apache.spark.sql.Row] =
    vecs.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val sim = graft.operators.Similarity
        recoverAll(batch.sparkSession, Seq(assignTable))
        val survivors = sim.embeddingSurvivorsIndexed(batch.toDF(),
          idCol, vecCol, threshold, nprobe, assignTable, centTable)
          .cache()
        try {
          sink(survivors, batchId)
          sim.appendAnnIndex(survivors, idCol, vecCol,
            assignTable, centTable, numBuckets)
          maybeCompact(batch.sparkSession, Seq(assignTable), batchId,
            compactEvery)
        } finally survivors.unpersist()
    }

  /** [[indexedAnnIngest]] through the VERSIONED protocol — the vector
    * tier's ledger-guarded twin, and the MIGRATE-IN-PLACE
    * demonstration: the pre-built unversioned assignment table IS
    * version 0 ([[graft.operators.Snapshots.tableAt]]'s convention for
    * families migrating in), so an existing x91-shape index joins the
    * protocol with zero rebuild — the first appends land in the base
    * table under ledger guard, and the first `compactEvery` boundary
    * publishes version 1 ([[graft.operators.Warehouse
    * .compactFamilyVersioned]]); the version-0 base is never retired
    * (the migration residue — [[graft.operators.Snapshots.retire]]
    * reclaims staged versions only, so the caller keeps its original
    * table). Replayed epochs skip WHOLE for
    * [[indexedNeardupIngestVersioned]]'s reason: recomputed survivors
    * after the original append would near-dup against the batch's own
    * index rows. The frozen codebook table is read-only and stays
    * unversioned. */
  def indexedAnnIngestVersioned(vecs: DataFrame, idCol: String,
                                vecCol: String, threshold: Double,
                                nprobe: Int, ledgerTable: String,
                                indexName: String, assignBase: String,
                                centTable: String, numBuckets: Int = 16,
                                compactEvery: Int = 0)
                               (sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[
          org.apache.spark.sql.Row] =
    vecs.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        import graft.operators.{Snapshots, Warehouse}
        val sim = graft.operators.Similarity
        val spark = batch.sparkSession
        val bid = s"stream-$batchId"
        if (!Snapshots.isApplied(spark, ledgerTable, indexName, bid)) {
          val Seq(assignT) = Snapshots.resolve(spark, ledgerTable,
            indexName, Seq(assignBase))
          val survivors = sim.embeddingSurvivorsIndexed(batch.toDF(),
            idCol, vecCol, threshold, nprobe, assignT, centTable)
            .cache()
          try {
            sink(survivors, batchId)
            sim.appendAnnIndex(survivors, idCol, vecCol, assignT,
              centTable, numBuckets)
            Snapshots.publish(spark, ledgerTable, indexName,
              Snapshots.currentVersion(spark, ledgerTable, indexName),
              bid, "append")
          } finally { survivors.unpersist(); () }
        }
        if (compactEvery > 0 && (batchId + 1) % compactEvery == 0) {
          Warehouse.compactFamilyVersioned(spark, ledgerTable, indexName,
            Seq(assignBase), batchId = Some(s"compact-stream-$batchId"))
          Snapshots.retire(spark, ledgerTable, indexName, Seq(assignBase))
          ()
        }
    }

  /** Streaming PQ index MAINTENANCE — [[graft.operators.Similarity.
    * appendPqIndex]] as the per-micro-batch stage of a continuous
    * ingest, completing the indexed-ingest family
    * ([[indexedNeardupIngest]], [[indexedAnnIngest]], [[noveltyIngest]])
    * on the PQ tier: each arriving batch is (1) handed to `sink` with
    * its batch id and (2) encoded under the FROZEN persisted codebooks
    * and appended to the codes table — so
    * [[graft.operators.Similarity.pqTopKIndexed]] serves the union
    * corpus continuously, every vector scored through the same books
    * (batch/stream parity by construction: both paths run the same
    * frozen-book encode, spec-pinned). No gating — PQ append is pure
    * index maintenance; compose with [[indexedAnnIngest]] upstream
    * when the stream should also dedup. Corpus state lives in the
    * catalog, not stream state — `foreachBatch` for the family's
    * usual reason. Replayed micro-batches re-append their codes —
    * dedup the codes table on vec_id at compaction, or make `sink`
    * idempotent by batch id. Retrain + rebuild
    * ([[graft.operators.Similarity.writePqIndex]]) offline when
    * x122's distortion report says the frozen books have drifted. */
  def pqIndexIngest(vecs: DataFrame, idCol: String, vecCol: String,
                    codesTable: String, booksTable: String,
                    compactEvery: Int = 0)
                   (sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[
          org.apache.spark.sql.Row] =
    vecs.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        recoverAll(batch.sparkSession, Seq(codesTable))
        val b = batch.toDF().cache()
        try {
          sink(b, batchId)
          graft.operators.Similarity.appendPqIndex(b, idCol, vecCol,
            codesTable, booksTable)
          maybeCompact(b.sparkSession, Seq(codesTable), batchId,
            compactEvery)
        } finally { b.unpersist(); () }
    }

  /** Streaming CO-PURCHASE EDGE-INDEX MAINTENANCE — x204-x209's
    * continuous form ([[graft.operators.Graph.appendEdgeIndex]] as the
    * per-micro-batch stage), completing the indexed-ingest family on
    * the graph side: each arriving batch of lineitem rows is (1)
    * handed to `sink` with its batch id and (2) collapsed to its
    * basket frame and appended as PARTIAL counts — co-order counts
    * are ADDITIVE across disjoint order sets, so
    * [[graft.operators.Graph.readEdgeIndex]]'s merge-sum serves the
    * union corpus exactly (stream-appended == batch rebuild,
    * spec-pinned).
    *
    * The additivity PRECONDITIONS become stream obligations: each
    * micro-batch must carry COMPLETE orders (an order split across
    * batches under-counts its within-order pairs — batch by order
    * boundary upstream, e.g. group the feed by order id before the
    * stream) with order keys DISJOINT from every prior ingest.
    * Replayed micro-batches (the at-least-once window) violate
    * disjointness and double-count — make `sink` idempotent by batch
    * id and rebuild ([[graft.operators.Graph.writeEdgeIndex]]) or
    * drop the replayed partials at the next
    * [[graft.operators.Warehouse.compactIndex]] window. Corpus state
    * lives in the catalog tables, not stream state — `foreachBatch`
    * for the family's usual reason. */
  def edgeIndexIngest(lineitems: DataFrame, part: DataFrame,
                      obTable: String, edgesTable: String,
                      totalsTable: String, statsTable: String,
                      numBuckets: Int = 8, compactEvery: Int = 0)
                     (sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[
          org.apache.spark.sql.Row] =
    lineitems.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        recoverAll(batch.sparkSession, Seq(obTable, edgesTable,
          totalsTable, statsTable))
        val b = batch.toDF().cache()
        try {
          sink(b, batchId)
          graft.operators.Graph.appendEdgeIndex(b, part, obTable,
            edgesTable, totalsTable, statsTable, numBuckets)
          maybeCompact(b.sparkSession, Seq(obTable, edgesTable,
            totalsTable, statsTable), batchId, compactEvery)
        } finally { b.unpersist(); () }
    }

  /** [[edgeIndexIngest]] through the VERSIONED protocol
    * ([[graft.operators.Snapshots]]) — the streaming twin of the batch
    * layer's applied-batch ledger (x216), closing the replay caveat the
    * unversioned ingest documents ("make `sink` idempotent by batch
    * id"): here the LIBRARY enforces it — for the index AND the sink.
    * Each micro-batch runs under the deterministic id
    * `stream-<batchId>` (the checkpoint's epoch — stable across
    * replays by construction); a replayed epoch whose id already sits
    * in the ledger is skipped WHOLE, sink delivery included (batch
    * content is deterministic by epoch, so skipping loses nothing —
    * the neardup/ANN twins' law), and a first-delivery crash between
    * the sink and the publish re-delivers the sink call once (the
    * sink's residual at-least-once window — same as the ANN twin's).
    * [[graft.operators.Graph.appendEdgeIndexVersioned]] then logs a
    * no-op instead of double-counting if the replay races the guard.
    *
    * LINEAGE CONTRACT (applies to every versioned ingest twin): epoch
    * ids are deterministic only WITHIN one checkpoint lineage. Pointing
    * a stream with a FRESH checkpoint at an existing family restarts
    * epoch numbering at 0, so `stream-0` aliases the old run's batch 0
    * and the new batch — different content — is skipped whole, sink
    * included, with no error. Resuming always means reusing the
    * checkpoint; replacing the checkpoint means a fresh
    * ledger/indexName (or migrating the family), never both-new-ids
    * against old-ledger-rows. Batch 0 bootstraps the family
    * ([[graft.operators.Graph.writeEdgeIndexVersioned]]) under the SAME
    * id, so a replay straddling the bootstrap publish short-circuits on
    * the ledger rather than falling through to the append path.
    *
    * `mergeEvery` is [[maybeCompact]]'s versioned analog: every
    * that-many micro-batches the family deep-merges (one row per key,
    * one file per bucket) by PUBLISHING the next snapshot
    * ([[graft.operators.Graph.mergeEdgeIndexVersioned]]) — no in-place
    * swap under in-flight readers — and versions older than
    * current−1 are reclaimed ([[graft.operators.Snapshots.retire]]);
    * the one-cadence lag IS the readers' grace period. Steady-state
    * growth is therefore bounded: ≤ `mergeEvery` partial files per
    * bucket between merges, ≤ 2 live snapshots. Serving reads resolve
    * through [[graft.operators.Graph.readEdgeIndexVersioned]].
    *
    * Remaining window, stated honestly: the per-batch append lands its
    * partial files BEFORE its ledger row (the appendEdgeIndexVersioned
    * contract), so a crash BETWEEN them replays the partials once.
    * `staged = true` closes it — every batch publishes a whole
    * deep-merged next version
    * ([[graft.operators.Graph.appendEdgeIndexVersionedStaged]], the
    * delete's cost model: crash ANYWHERE re-stages, replay no-ops) —
    * at the cost of rewriting the index per batch: the right trade
    * for low-cadence batch feeds, the wrong one for high-cadence
    * streams, whose merge cadence bounds the blast radius instead.
    * Staged batches ARE merged snapshots, so `mergeEvery` then only
    * matters for retiring old versions. Additivity preconditions
    * (complete orders, disjoint keys across DISTINCT batches) are
    * unchanged. */
  def edgeIndexIngestVersioned(lineitems: DataFrame, part: DataFrame,
                               ledgerTable: String, indexName: String,
                               obBase: String, edgesBase: String,
                               totalsBase: String, statsBase: String,
                               numBuckets: Int = 8, mergeEvery: Int = 0,
                               staged: Boolean = false)
                              (sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[
          org.apache.spark.sql.Row] =
    lineitems.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        import graft.operators.{Graph, Snapshots}
        val spark = batch.sparkSession
        val bases = Seq(obBase, edgesBase, totalsBase, statsBase)
        val bid = s"stream-$batchId"
        // a replayed epoch (already in the ledger) is skipped WHOLE —
        // including the sink delivery: batch content is deterministic
        // by epoch, so the sink sees each batch at most once (the
        // neardup/ANN twins' law, now enforced here too instead of
        // delegated to the sink's own idempotence)
        if (!Snapshots.isApplied(spark, ledgerTable, indexName, bid)) {
          val b = batch.toDF().cache()
          try {
            sink(b, batchId)
            val bootstrapped =
              Snapshots.currentVersion(spark, ledgerTable, indexName) > 0
            if (!bootstrapped)
              Graph.writeEdgeIndexVersioned(b, part, ledgerTable, indexName,
                obBase, edgesBase, totalsBase, statsBase, numBuckets,
                Some(bid))
            else if (staged)
              Graph.appendEdgeIndexVersionedStaged(b, part, ledgerTable,
                indexName, obBase, edgesBase, totalsBase, statsBase,
                Some(bid))
            else
              Graph.appendEdgeIndexVersioned(b, part, ledgerTable, indexName,
                obBase, edgesBase, totalsBase, statsBase, Some(bid))
          } finally { b.unpersist(); () }
        }
        if (mergeEvery > 0 && (batchId + 1) % mergeEvery == 0) {
          Graph.mergeEdgeIndexVersioned(spark, ledgerTable, indexName,
            obBase, edgesBase, totalsBase, statsBase,
            Some(s"merge-stream-$batchId"))
          Snapshots.retire(spark, ledgerTable, indexName, bases)
          ()
        }
    }

  /** Streaming HYBRID SERVING (x135's continuous form) — the
    * QUERY-side complement of the ingest twins: where
    * [[indexedNeardupIngest]]/[[indexedAnnIngest]]/[[pqIndexIngest]]
    * keep the persisted indexes current as the corpus streams IN,
    * this serves a stream of queries OUT of those frozen artifacts.
    * Each micro-batch of `(id, text, embedding)` queries runs the
    * exact x135 operator bodies — per-query BM25 over the postings
    * index ([[graft.operators.Retrieval.bm25TopKPerQueryIndexed]])
    * fused with IVF top-k over the ANN index
    * ([[graft.operators.Similarity.ivfTopKIndexed]]) by
    * reciprocal-rank fusion — and hands the fused ranking to `sink`
    * with its batch id. Parity with the batch query is by
    * construction: the same code paths serve both.
    *
    * Stateless by design — serving reads catalog artifacts, the
    * stream holds nothing, so replay just re-serves (idempotent by
    * batch id for free). An all-null-text micro-batch serves
    * dense-only (the lexical leg returns empty rather than erroring);
    * the eager term/probe collects inside the legs are per-batch and
    * batch-bounded. */
  def hybridServe(queries: DataFrame, idCol: String, textCol: String,
                  vecCol: String, postingsTable: String,
                  statsTable: String, assignTable: String,
                  centTable: String, lexK: Int, vecK: Int, nprobe: Int,
                  topK: Int)
                 (sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[
          org.apache.spark.sql.Row] =
    queries.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        val b = batch.toDF().cache()
        try {
          val lex = graft.operators.Retrieval.bm25TopKPerQueryIndexed(
            spark, postingsTable, statsTable, b, idCol, textCol, lexK)
          val vec = graft.operators.Similarity.ivfTopKIndexed(
            b, idCol, vecCol, vecK, nprobe, assignTable, centTable)
          sink(graft.operators.Retrieval.rrfFuse(lex, vec, topK), batchId)
        } finally { b.unpersist(); () }
    }

  /** Streaming COMPOSED-INDEX maintenance — [[pqIndexIngest]]'s twin on
    * the IVF-PQ tier (x127): each micro-batch is handed to `sink`, then
    * assigned + encoded under BOTH frozen codebooks (coarse centroids
    * and PQ books) and appended into the bucketed codes table
    * ([[graft.operators.Similarity.appendIvfPqIndex]] — one file per
    * bucket per ingest), so [[graft.operators.Similarity.
    * ivfPqTopKIndexed]] serves the union corpus continuously. Same
    * replay/retrain caveats as [[pqIndexIngest]]. */
  def ivfPqIndexIngest(vecs: DataFrame, idCol: String, vecCol: String,
                       codesTable: String, booksTable: String,
                       centTable: String, numBuckets: Int = 16,
                       compactEvery: Int = 0)
                      (sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[
          org.apache.spark.sql.Row] =
    vecs.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val b = batch.toDF().cache()
        try {
          sink(b, batchId)
          graft.operators.Similarity.appendIvfPqIndex(b, idCol, vecCol,
            codesTable, booksTable, centTable, numBuckets)
          maybeCompact(b.sparkSession, Seq(codesTable), batchId,
            compactEvery)
        } finally { b.unpersist(); () }
    }

  /** Streaming NOVELTY gate on ingest — the online form of the x110
    * index pairing, third member of the indexed-ingest family
    * ([[indexedNeardupIngest]], [[indexedAnnIngest]]): keep an
    * arriving document only when at least `minNewFrac` of its distinct
    * k-shingles are ABSENT from the persisted gram index — "does this
    * document add new content", the diversity-budget question the
    * pairwise gates can't ask (a document can near-dup nothing yet
    * still be 100% recombined boilerplate). Each micro-batch is (1)
    * scored against the index via an anti-join presence probe (hash-
    * equi against the bucketed table, batch text read once, corpus
    * never), (2) survivors handed to `sink`, and (3) survivors' grams
    * appended to the index ([[
    * graft.operators.TextAnalysis.appendNoveltyIndex]]) so batch N+1
    * is measured against everything batch N admitted. Corpus state
    * lives in the catalog, not stream state — `foreachBatch` for the
    * family's usual reason.
    *
    * The gate law is an exact long/long comparison (n_new ≥ minNewFrac
    * · n_grams as `n_new · 1 ≥ frac · n` in doubles — one IEEE product
    * each side, no accumulation), so it is deterministic under any
    * partitioning. Documents with fewer than k tokens have no grams
    * and are DROPPED (nothing measurable is admitted). Presence
    * probing tolerates the duplicate hash rows appends create; run
    * [[graft.operators.TextAnalysis.compactNoveltyIndex]] before
    * exact-df serving (x110), per the append-then-compact lifecycle.
    * Replayed micro-batches re-append survivor grams — compaction
    * sums them, which over-counts df by the replay multiplicity in
    * the at-least-once window; make `sink` idempotent by batch id as
    * usual and compact from a checkpoint-committed offset when exact
    * df matters. */
  def noveltyIngest(docs: DataFrame, idCol: String, textCol: String,
                    k: Int, minNewFrac: Double, dfTable: String,
                    numBuckets: Int = 8, compactEvery: Int = 0)
                   (sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[
          org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val te = org.apache.spark.sql.graft.TextExpressions
        val spark = batch.sparkSession
        val b = batch.toDF()
        val grams = graft.functions.Par.spread(b)
          .select(col(idCol).as("_nid"),
            explode(te.shingleHashSet(col(textCol), k)).as("_h"))
        // distinct-per-bucket presence set: appended ingests may hold a
        // hash several times; distinct on the bucketing column plans
        // without an exchange
        val known = spark.table(dfTable).select(col("_h")).distinct()
          .withColumn("_seen", lit(1))
        val perDoc = grams.join(known, Seq("_h"), "left")
          .groupBy(col("_nid"))
          .agg(count(lit(1)).as("_n_grams"),
            sum(when(col("_seen").isNull, 1L).otherwise(0L)).as("_n_new"))
        val keepIds = perDoc.filter(
          col("_n_new").cast("double") >=
            lit(minNewFrac) * col("_n_grams").cast("double"))
          .select(col("_nid"))
        val survivors = b.join(keepIds,
          b(idCol) === keepIds("_nid"), "left_semi").cache()
        try {
          sink(survivors, batchId)
          graft.operators.TextAnalysis.appendNoveltyIndex(survivors,
            idCol, textCol, k, dfTable, numBuckets)
          maybeCompact(spark, Seq(dfTable), batchId, compactEvery)
        } finally survivors.unpersist()
    }

  /** Streaming benchmark-decontamination gate — the streaming twin of
    * the batch x44 prefilter: the Bloom sketch of the benchmark's
    * k-shingle hashes (built ONCE, batch-side, via
    * [[graft.operators.TextAnalysis]]'s BloomFilterAggregate machinery
    * and passed in as bytes) becomes a stateless per-row predicate on
    * the stream — a document is dropped when `threshold` or more of its
    * shingles hit the sketch. Stateless and codegen'd, so it composes
    * before any stateful stage, like [[qualityGate]].
    *
    * Unlike batch x44 there is no exact verify join on a stream (the
    * benchmark side would be a static join per micro-batch — possible
    * but pointless here): the streaming gate accepts the sketch's false
    * positive rate as an over-drop rate, the standard trade for an
    * ingestion-time filter. fpp is configured at sketch build time. */
  def decontaminationGate(docs: DataFrame, textCol: String,
                          bloomBytes: Array[Byte], k: Int,
                          threshold: Int): DataFrame = {
    val te = org.apache.spark.sql.graft.TextExpressions
    val hits = size(filter(te.shingleHashSet(col(textCol), k),
      h => te.bloomMightContain(bloomBytes, h)))
    docs.filter(hits < threshold)
  }

  /** Streaming boilerplate scrub — the streaming twin of batch x50
    * ([[graft.operators.Cleaning.stripBoilerplate]]): the Bloom sketch
    * of the corpus's boilerplate passage hashes (built ONCE batch-side
    * via [[graft.operators.Cleaning.boilerplateSketch]]) REWRITES each
    * arriving document in place — passages hitting the sketch are
    * removed and the survivors re-joined in order. A pure per-row
    * projection (kernel chunking + codegen'd membership probes), so it
    * composes before any stateful stage like the other gates.
    *
    * Unlike batch x50 there is no exact verify against the passage set
    * (corpus-sized — not a stream-side artifact): the sketch's false
    * positive rate becomes an over-scrub rate, the standard trade for
    * an ingestion-time filter. A null sketch (no boilerplate at build
    * time) passes documents through unchanged.
    *
    * Documents with NO sketch hit pass through byte-identical — the
    * rewrite (which reassembles from the lowercasing, whitespace-
    * normalizing chunk kernel) only fires when at least one passage
    * hits, so a clean document is never silently case/whitespace-
    * mangled and the hit-free path matches the null-sketch path. */
  def boilerplateScrub(docs: DataFrame, textCol: String,
                       bloomBytes: Array[Byte],
                       passageTokens: Int): DataFrame = {
    if (bloomBytes == null) docs
    else {
      val te = org.apache.spark.sql.graft.TextExpressions
      val chunks = te.chunkTokens(col(textCol), passageTokens, passageTokens)
      val anyHit = exists(chunks,
        c => te.bloomMightContain(bloomBytes, xxhash64(c)))
      docs.withColumn(textCol, when(anyHit, array_join(
        filter(chunks,
          c => !te.bloomMightContain(bloomBytes, xxhash64(c))), " "))
        .otherwise(col(textCol)))
    }
  }

  /** Streaming IMAGE quality gate — the multimodal twin of
    * [[qualityGate]]: drop frames whose decoded-pixel contrast falls
    * below `minContrast` (blank / flat / synthetic-filler imagery)
    * before any stateful stage pays state for them. Schema-transparent
    * (a row-level typed filter over whatever columns ride along) and
    * stateless — no watermark, composes identically in batch and
    * streaming plans. The threshold applies to the SAME gridded
    * contrast law `Multimodal.imageStats` exports (single shared
    * definition — the gate cannot drift from the stat it thresholds);
    * undecodable payloads take the deterministic stub grid, so the gate
    * is total. Decode runs inside the filter row by row — the scan-side
    * cost profile of the other gates, with no shuffle and no payload
    * movement. */
  def imageGate(media: DataFrame, minContrast: Double,
                decoder: graft.operators.Multimodal.MediaDecoder =
                  graft.operators.Multimodal.ImageIoDecoder): DataFrame = {
    import graft.operators.{ImageDedup, Multimodal}
    media.filter { (row: org.apache.spark.sql.Row) =>
      val payload = row.getAs[Array[Byte]]("payload")
      val (w, h, gray) = decoder.decodeGray(payload)
        .getOrElse((ImageDedup.GridW, ImageDedup.GridH,
          ImageDedup.stubGray(payload)))
      val (sum, sumSq) = Multimodal.grayMoments(gray, w * h)
      Multimodal.contrastLaw(w.toLong * h, sum, sumSq) >= minContrast
    }
  }

  /** Streaming exact dedup — the streaming twin of the batch x1 operator:
    * exactly one representative per content digest, with BOUNDED state
    * (the first-seen row across micro-batches; within one micro-batch the
    * representative is an arbitrary member of the digest group).
    * `dropDuplicatesWithinWatermark` expires a digest's state once the
    * watermark passes its event time + `lateness`, so state size tracks
    * the dedup window, not the full stream history — the only shape that
    * survives an unbounded stream (plain dropDuplicates accumulates
    * forever). Duplicates separated by more than the window are
    * re-admitted by design.
    */
  def dedupStream(events: DataFrame, tsCol: String, textCol: String,
                  lateness: String): DataFrame =
    events
      .withColumn("text_hash", sha2(lower(trim(col(textCol))), 256))
      .withWatermark(tsCol, lateness)
      .dropDuplicatesWithinWatermark("text_hash")
}
