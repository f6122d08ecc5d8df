package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import org.apache.spark.sql.graft.TextExpressions

import graft.functions.{Num, Par, Text}
import graft.sinks.Sinks

/** Document deduplication suite (BASELINE.json extension ops; SURVEY §2.4
  * X1/X2). All operators are declarative DataFrame plans tuned for scale:
  *
  *  - exact: one hash-aggregate on a normalized-text digest (single
  *    shuffle of (hash, id) pairs only — the text never moves).
  *  - near-dup, exact Jaccard: prefix-filtered inverted-index join
  *    (AllPairs/PPJoin family): shingles are globally ordered by document
  *    frequency and only each document's rare-shingle *prefix* is indexed —
  *    provably no false negatives at the given threshold, and the hot
  *    (stop-word) shingles that explode a naive shingle self-join never
  *    enter the index. Candidates are exact-verified on the full sets.
  *  - near-dup, MinHash+LSH: signatures via explode + codegen'd min
  *    aggregates (one pass over (doc, shingle) pairs — no interpreted
  *    higher-order lambdas); banded keys generate candidates; exact verify.
  *  - near-dup, SimHash: 64-bit fingerprint from codegen'd bit-vote sums;
  *    4x16-bit pigeonhole banding gives exact Hamming<=3 retrieval.
  *
  * CACHE CONTRACT: jaccardPairs/minhashLshPairs/winnowPairs/
  * crossNeardupSurvivors (two set frames: batch + existing) /
  * crossNeardupSurvivorsIndexed (batch frame only — the existing side
  * reads persisted tables) — and
  * [[TextAnalysis.sourceSimilarity]] over in that module — cache
  * operator-internal intermediates (the shingle sets; x8's prefix index;
  * winnowing's (doc_id, fingerprint) frame; the (source, term) frame)
  * because one plan references them several times. The caches are keyed
  * to the returned plan and are NOT unpersisted here — callers running
  * many queries in one session should `spark.catalog.clearCache()`
  * between queries (as Bench and Verify do), or the cached partitions
  * persist until Spark evicts them under memory pressure. Operators with
  * a degenerate-input guard (winnowPairs' maxFpDf, containmentPairs'
  * maxProbeDf, sourceSimilarity's maxSources) additionally run ONE eager
  * counting job at DataFrame-construction time — constructing the frame
  * is not free of Spark jobs for those.
  */
object TextDedup {

  /** X1 — exact dedup groups on sha256(lower(trim(text))). */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(sha2(lower(trim(col(textCol))), 256).as("text_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** SNAPSHOT DIFF (x133) — dataset versioning's first question: what
    * changed between corpus snapshot N and N+1? Per document id:
    * `added` (new snapshot only), `removed` (old only), `changed`
    * (both, different normalized-text digest), `unchanged` (both, same
    * digest). The audit behind crawl-over-crawl data cards, cache
    * invalidation for downstream persisted indexes (an id marked
    * `changed` must be re-encoded/re-indexed), and retraining triggers.
    *
    * Scale shape: digests are computed scan-side (x1's normalization,
    * so "changed" means the DEDUP-RELEVANT text changed), and the only
    * exchange is the id-keyed full-outer join of (id, digest) pairs —
    * 40-byte rows, text never moves. At warehouse scale both snapshots
    * are landed bucketed by id ([[graft.sinks.Sinks.writeBucketed]])
    * and the join is exchange-free. */
  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame,
                   idCol: String, textCol: String): DataFrame = {
    // presence flags, not digest nullness, mark membership: a NULL text
    // digests to NULL and must still count as present; two NULL texts
    // compare `unchanged` via the null-safe <=>
    def dig(df: DataFrame, d: String, in: String) =
      graft.functions.Par.spread(df)
        .select(col(idCol), sha2(lower(trim(col(textCol))), 256).as(d),
          lit(1).as(in))
    dig(oldSnap, "_d_old", "_in_old")
      .join(dig(newSnap, "_d_new", "_in_new"), Seq(idCol), "full_outer")
      .select(col(idCol),
        when(col("_in_old").isNull, lit("added"))
          .when(col("_in_new").isNull, lit("removed"))
          .when(col("_d_old") <=> col("_d_new"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"))
  }

  /** Sorted distinct HASHED shingle sets (h = xxhash64(shingle)) with
    * sizes, computed as a per-row codegen'd kernel projection
    * ([[TextExpressions.shingleHashSet]]) — ZERO shuffles (round 1 paid
    * posexplode + window lead + dropDuplicates + groupBy collect, i.e. 3
    * shuffles of the exploded shingle stream, for the equivalent string
    * sets). Everything downstream — document frequencies, prefix filters,
    * candidate joins, intersect counts — moves 8-byte longs instead of
    * ~25-byte shingle strings; Jaccard counts are unchanged (64-bit
    * collisions are ~1e-9 corpus-wide). Docs with fewer than k tokens
    * have no shingles and are dropped, matching the exploded formulation.
    * CACHED: one query plan references the sets up to three times
    * (inverted index + both verify sides). Sorted order enables the
    * codegen'd long-merge intersect. */
  private def shingleSets(docs: DataFrame, idCol: String, textCol: String,
                          k: Int): DataFrame =
    // doc_id-keyed spread (not round-robin): the prefix-ranking window
    // downstream partitions by doc_id over the EXPLODED inverted index
    // — the pair machinery's largest intermediate — and the df side of
    // its join broadcasts, so this one exchange of the compact set rows
    // replaces a full shuffle of the exploded stream (guide §2.4; at
    // scale the verify join's doc-keyed side is co-partitioned too).
    // Same skew law as the kernel pipelines: a doc's shingles explode
    // from one row under either scheme.
    docs.repartition(col(idCol))
      .select(col(idCol).as("doc_id"),
        TextExpressions.shingleHashSet(col(textCol), k).as("sh"))
      .withColumn("n", size(col("sh")))
      .filter(col("n") > 0)
      .cache()

  /** Exact-verify candidate (doc1, doc2) pairs against true shingle
    * Jaccard; emit pairs >= threshold. The sets table joins in on doc id
    * WITHOUT an explicit broadcast hint: the planner picks broadcast
    * whenever the sets' estimated size clears autoBroadcastJoinThreshold
    * (small corpora — today's plan), and falls back to a shuffled hash /
    * sort-merge join on doc id when the corpus-sized sets table cannot be
    * broadcast (the 100 TB path; there, sets would additionally be
    * persisted bucketed by doc_id so the verify join is co-located). */
  private def verified(candidates: DataFrame, sets: DataFrame,
                       threshold: Double): DataFrame = {
    val inter = TextExpressions.sortedLongIntersectSize(col("sh1"), col("sh2"))
    candidates
      .join(sets.select(col("doc_id").as("doc1"), col("sh").as("sh1"),
        col("n").as("n1")), "doc1")
      .join(sets.select(col("doc_id").as("doc2"), col("sh").as("sh2"),
        col("n").as("n2")), "doc2")
      .withColumn("inter", inter)
      .withColumn("jaccard", Num.fpRound(
        col("inter").cast("double") /
          (col("n1") + col("n2") - col("inter")).cast("double"), 4))
      .filter(col("jaccard") >= threshold)
      .select("doc1", "doc2", "jaccard")
  }

  /** Exact Jaccard near-dup pairs (prefix-filtered AllPairs join).
    *
    * For jaccard(A,B) >= t, |A∩B| >= ceil(t·|A|); under a global shingle
    * order, any qualifying partner must hit one of the first
    * |A| - ceil(t·|A|) + 1 shingles of A (and symmetrically) — so indexing
    * only those prefixes loses no qualifying pair. Ordering by ascending
    * document frequency puts the *rarest* shingles in the prefix, keeping
    * per-shingle join groups small at any scale.
    */
  def jaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                   k: Int, threshold: Double): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0,1], got $threshold (a non-positive " +
        "threshold degenerates the prefix filter to an all-pairs self-join)")
    val sets = shingleSets(docs, idCol, textCol, k)
    val inv = sets.select(col("doc_id"), col("n"), explode(col("sh")).as("s"))
    val freq = inv.groupBy(col("s")).agg(count(lit(1)).as("df"))
    val wOrder = Window.partitionBy(col("doc_id"))
      .orderBy(col("df"), col("s"))
    // cached: the candidate self-join references the prefix TWICE (a and
    // b sides) — without pinning it the freq join + ranking window run
    // twice per query
    // tEff, not t: verify accepts fpRound(jaccard, 4) >= t, i.e. true
    // jaccard >= t - 5e-5 — candidate generation must be complete under
    // the rounded comparison (same law as containmentPairs below).
    val tEff = threshold - 5e-5
    val prefix = inv.join(freq, "s")
      .withColumn("pos", row_number().over(wOrder))
      .filter(col("pos") <=
        col("n") - ceil(lit(tEff) * col("n")).cast("int") + lit(1))
      .select(col("doc_id"), col("n"), col("s"))
      .cache()
    val a = prefix.alias("a"); val b = prefix.alias("b")
    // length filter: jaccard >= t forces t*max(|A|,|B|) <= min(|A|,|B|)
    val candidates = a.join(b,
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id") &&
          col("b.n") >= lit(tEff) * col("a.n") &&
          col("a.n") >= lit(tEff) * col("b.n"))
      .select(col("a.doc_id").as("doc1"), col("b.doc_id").as("doc2"))
      .distinct()
    verified(candidates, sets, threshold)
  }

  /** Directional Jaccard-CONTAINMENT pairs: emit (inner, outer,
    * containment) where containment(A→B) = |A∩B| / |A| >= threshold —
    * the asymmetric near-dup test that catches a small document embedded
    * in a larger one, which symmetric Jaccard misses when the size ratio
    * is large (|A∩B|/|A∪B| shrinks with |B| even at full containment).
    *
    * Prefix filter (asymmetric AllPairs): |A∩B| >= ceil(t·|A|) depends
    * only on the INNER side's size, so only A's rare-shingle prefix
    * (first |A| - ceil(t·|A|) + 1 shingles under the global
    * document-frequency order) is probed; the outer side stays the full
    * inverted index — no length filter applies to B, by design. Join
    * groups stay small anyway: the probe side only carries low-df
    * shingles, and a shingle's join group IS its df. Candidates are
    * exact-verified on the full sorted hash sets (same codegen'd
    * long-merge intersect as [[jaccardPairs]]).
    *
    * Reference analog: none (the reference dedups exact keys only, via
    * its `pipelinewise-target-postgres` upsert-by-pk); this is the
    * containment member of the dedup family alongside x2/x7/x8.
    *
    * Scale guard: unlike [[jaccardPairs]], the probe side here is
    * df-bounded, not prefix-bounded — a boilerplate shingle that lands
    * in any inner doc's prefix joins against its ENTIRE df-sized
    * posting list, so a spammy corpus degenerates toward quadratic.
    * `maxProbeDf` bounds the join group (a probed shingle's group IS
    * its df): by default the operator FAILS FAST if any prefix shingle
    * exceeds it (error names the knobs and the banded alternative);
    * with `capProbeDf=true` hot prefix entries are instead DROPPED from
    * the probe index — a documented completeness trade (a pair is lost
    * only if every shingle of A's rare-shingle prefix is hotter than
    * the cap, i.e. A is pure boilerplate — exactly the pairs LSH-class
    * methods are for). */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       k: Int, threshold: Double,
                       maxProbeDf: Long = 50000,
                       capProbeDf: Boolean = false): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0,1], got $threshold (a non-positive " +
        "threshold degenerates the prefix filter to an all-pairs self-join)")
    require(maxProbeDf >= 1, s"maxProbeDf must be >= 1, got $maxProbeDf")
    val sets = shingleSets(docs, idCol, textCol, k)
    val inv = sets.select(col("doc_id"), col("n"), explode(col("sh")).as("s"))
    val freq = inv.groupBy(col("s")).agg(count(lit(1)).as("df"))
    val wOrder = Window.partitionBy(col("doc_id"))
      .orderBy(col("df"), col("s"))
    // Verify accepts fpRound(inter/n, 4) >= t, i.e. inter/n >= t - 5e-5 —
    // so the prefix bound must be ceil((t - 5e-5)·n), not ceil(t·n), or a
    // pair in the round-up band could pass verify yet never be generated.
    val prefixAll = inv.join(freq, "s")
      .withColumn("pos", row_number().over(wOrder))
      .filter(col("pos") <=
        col("n") - ceil(lit(threshold - 5e-5) * col("n")).cast("int") + lit(1))
      .select(col("doc_id"), col("s"), col("df"))
    val prefix =
      if (capProbeDf) prefixAll.filter(col("df") <= maxProbeDf)
        .select(col("doc_id"), col("s"))
      else {
        // fail fast before the candidate join can blow up: one cheap agg
        // over the cached prefix (reused by the join below)
        val pinned = prefixAll.cache()
        val hottest = pinned.agg(max(col("df"))).collect()(0)
        if (!hottest.isNullAt(0)) {
          val df0 = hottest.getLong(0)
          require(df0 <= maxProbeDf,
            s"containmentPairs: a prefix shingle has df=$df0 " +
              s"(> maxProbeDf=$maxProbeDf) — its candidate join group is " +
              "df-sized and the corpus is boilerplate-heavy. Pass " +
              "capProbeDf=true to drop hot prefix entries (documented " +
              "completeness trade), raise maxProbeDf if the group size is " +
              "intended, or use minhashLshPairs (banded, df-independent) " +
              "for near-dup at scale.")
        }
        pinned.select(col("doc_id"), col("s"))
      }
    val a = prefix.alias("a")
    val b = inv.select(col("doc_id"), col("s")).alias("b")
    val candidates = a.join(b,
        col("a.s") === col("b.s") && col("a.doc_id") =!= col("b.doc_id"))
      .select(col("a.doc_id").as("inner_id"), col("b.doc_id").as("outer_id"))
      .distinct()
    candidates
      .join(sets.select(col("doc_id").as("inner_id"), col("sh").as("sh1"),
        col("n").as("n1")), "inner_id")
      .join(sets.select(col("doc_id").as("outer_id"), col("sh").as("sh2")),
        "outer_id")
      .withColumn("inter",
        TextExpressions.sortedLongIntersectSize(col("sh1"), col("sh2")))
      .withColumn("containment", Num.fpRound(
        col("inter").cast("double") / col("n1").cast("double"), 4))
      .filter(col("containment") >= threshold)
      .select("inner_id", "outer_id", "containment")
  }

  /** MinHash + LSH near-dup pairs. Signatures are computed per row by the
    * [[TextExpressions.minhashSig]] kernel (identical hash values to the
    * explode + MIN-aggregate formulation, see TextKernels) — signature
    * building is now a scan-side projection with no shuffle at all; only
    * the 80-long signatures and band keys ever move. Banded signature
    * slices generate candidates; candidates are exact-verified. Miss
    * probability at j >= threshold is (1 - j^rows)^bands (~2.6e-5 at
    * j=0.8 with 20x4).
    */
  def minhashLshPairs(docs: DataFrame, idCol: String, textCol: String,
                      k: Int, threshold: Double,
                      numBands: Int = 20, rowsPerBand: Int = 4): DataFrame =
    minhashLshPairsFromSets(shingleSets(docs, idCol, textCol, k), threshold,
      numBands, rowsPerBand)

  /** [[minhashLshPairs]] over a PRECOMPUTED `(doc_id, sh, n)` hashed-
    * shingle-set frame (the [[shingleSets]] shape) — the fused-scan entry
    * point: a composed pipeline that already carries the shingle sets as
    * a column (x42's one-scan base frame) generates candidates without a
    * second text pass. The caller owns caching of `sets`: this plan
    * references it three times (band self-join + both verify sides). */
  private[operators] def minhashLshPairsFromSets(
      sets: DataFrame, threshold: Double,
      numBands: Int = 20, rowsPerBand: Int = 4): DataFrame = {
    val numPerms = numBands * rowsPerBand
    val sigs = sets.select(col("doc_id"),
      TextExpressions.minhashSigFromHashes(col("sh"), numPerms).as("sig"))
    val bands = sigs.select(col("doc_id"),
      posexplode(Text.lshBands(col("sig"), numBands, rowsPerBand))
        .as(Seq("band_idx", "band_key")))
    val x = bands.alias("x"); val y = bands.alias("y")
    val candidates = x.join(y,
        col("x.band_idx") === col("y.band_idx") &&
          col("x.band_key") === col("y.band_key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc1"), col("y.doc_id").as("doc2"))
      .distinct()
    verified(candidates, sets, threshold)
  }

  /** 4-chunk pigeonhole candidate join over a (doc_id, fp) fingerprint
    * frame: docs sharing any `chunkBits`-bit chunk pair up, then exact
    * hamming filter — exact retrieval for hamming <= 3 (a pair differing
    * in <= 3 bits must agree on at least one of 4 chunks). Shared with
    * [[ImageDedup]] — the banding is fingerprint-agnostic (any
    * (doc_id, fp) frame, text SimHash or image dHash). */
  private[operators] def pigeonholePairs(fp: DataFrame, chunkBits: Int,
                                         maxHamming: Int): DataFrame = {
    require(maxHamming <= 3, "4-chunk pigeonhole is exact only for <= 3")
    val chunks = fp.select(col("doc_id"), col("fp"),
      posexplode(array((0 until 4).map(j =>
        shiftrightunsigned(col("fp"), j * chunkBits)
          .bitwiseAND(lit((1L << chunkBits) - 1))): _*))
        .as(Seq("chunk_idx", "chunk_val")))
    val p = chunks.alias("p"); val q = chunks.alias("q")
    p.join(q,
        col("p.chunk_idx") === col("q.chunk_idx") &&
          col("p.chunk_val") === col("q.chunk_val") &&
          col("p.doc_id") < col("q.doc_id"))
      .select(col("p.doc_id").as("doc1"), col("q.doc_id").as("doc2"),
        Text.hamming64(col("p.fp"), col("q.fp")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** SimHash near-dup pairs: per-row 64-bit fingerprint from the
    * [[TextExpressions.simhash64]] kernel (identical bit votes to the
    * exploded 64-SUM-aggregate formulation — see TextKernels), then
    * pigeonhole banding. Fingerprinting shuffles nothing. Exact for <= 3. */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3): DataFrame =
    pigeonholePairs(
      Par.spread(docs).select(col(idCol).as("doc_id"),
        TextExpressions.simhash64(col(textCol)).as("fp")),
      chunkBits = 16, maxHamming)

  /** SimHash near-dup pairs on the oracle-mirrorable 60-bit md5
    * fingerprint ([[TextExpressions.simhashMd5]]): per-token hash = first
    * 15 hex chars of md5(token), so a SQL engine reproduces the exact
    * fingerprints (`('0x' || substring(md5(t),1,15))::BIGINT` in DuckDB) —
    * same banding/plan shape as [[simhashPairs]], 4x15-bit chunks. */
  def simhashMd5Pairs(docs: DataFrame, idCol: String, textCol: String,
                      maxHamming: Int = 3): DataFrame =
    pigeonholePairs(
      Par.spread(docs).select(col(idCol).as("doc_id"),
        TextExpressions.simhashMd5(col(textCol)).as("fp")),
      chunkBits = 15, maxHamming)

  /** Exact dedup APPLIED to the corpus: the surviving documents (group
    * representative = min id per normalized-text hash), with the group
    * size carried along. One (hash, id) shuffle for the groups plus one
    * id-equi-join back to the corpus — at 100 TB the keep set is
    * corpus-sized, so the join shuffles on id (and disappears entirely
    * when the corpus is bucketed by id); the text column itself never
    * moves through the group stage. */
  def dedupedCorpus(docs: DataFrame, idCol: String,
                    textCol: String): DataFrame =
    docs.join(
      exactGroups(docs, idCol, textCol)
        .select(col("keep_id").as(idCol), col("n_dups")),
      Seq(idCol))

  /** Near-dup dedup APPLIED end-to-end — the full pretraining-corpus
    * pipeline in one operator: MinHash+LSH candidate pairs, exact
    * Jaccard verify, connected components over the verified pairs, drop
    * every document that is not its cluster's representative (min id).
    * Returns the surviving corpus rows. Every stage is the bucketed /
    * banded scale path (no all-pairs joins anywhere); the drop set is
    * near-dup-sized — tiny next to the corpus — so the final anti-join
    * broadcasts in practice. */
  def neardupSurvivors(docs: DataFrame, idCol: String, textCol: String,
                       k: Int, threshold: Double): DataFrame = {
    val pairs = minhashLshPairs(docs, idCol, textCol, k, threshold)
    val comps = Components.connectedComponents(pairs, "doc1", "doc2")
    val drops = comps.filter(col("node") =!= col("component"))
      .select(col("node").as(idCol))
    docs.join(drops, Seq(idCol), "left_anti")
  }

  /** Incremental exact dedup (x74) — the production ingest shape: dedup
    * a NEW batch against the digest index of the EXISTING corpus AND
    * within itself, without touching (let alone recomputing) the corpus
    * text. The existing side contributes only its distinct digests
    * (~40 bytes/doc — the persisted dedup index of a 100 TB corpus,
    * stored bucketed by digest so this anti-join is co-located); the
    * batch is day-sized. Surviving rows: one representative (min id)
    * per batch digest, minus anything the corpus already has. */
  def incrementalExactDedup(newDocs: DataFrame, existing: DataFrame,
                            idCol: String, textCol: String): DataFrame = {
    def digest(c: Column) = sha2(lower(trim(c)), 256)
    val existingH = existing.select(digest(col(textCol)).as("_h")).distinct()
    val withH = newDocs.withColumn("_h", digest(col(textCol)))
    val reps = withH.groupBy(col("_h")).agg(min(col(idCol)).as(idCol))
    withH.join(reps, Seq("_h", idCol), "left_semi")
      .join(existingH, Seq("_h"), "left_anti")
      .drop("_h")
  }

  /** Incremental NEAR-dup dedup (x75) — [[incrementalExactDedup]]'s
    * fuzzy stage: drop every batch document whose shingle Jaccard
    * against SOME existing-corpus document reaches `threshold`. The
    * candidate generation is the x2 banded-MinHash machinery applied
    * CROSS-corpus: both sides band their signatures, candidates are
    * batch×existing band-key matches only (never batch×batch or
    * existing×existing, and never all-pairs), and candidates are
    * exact-verified on the full shingle sets before anything drops —
    * same no-false-negatives-at-calibration convention as x2/x36.
    *
    * At 100 TB the existing side's (signature, band) index — like the
    * digest index above — is the PERSISTED artifact of the last run:
    * that path is implemented as [[writeNeardupIndex]] +
    * [[crossNeardupSurvivorsIndexed]] (x80), which joins the batch
    * against the bucketed index tables with zero recompute and zero
    * text scan on the existing side; THIS self-contained form is the
    * bootstrap/one-shot shape that builds both sides from text.
    * Intra-batch near-dups are [[neardupSurvivors]]'s
    * job — the two compose in either order; this operator is the
    * cross-corpus filter alone. */
  def crossNeardupSurvivors(newDocs: DataFrame, existing: DataFrame,
                            idCol: String, textCol: String, k: Int,
                            threshold: Double, numBands: Int = 20,
                            rowsPerBand: Int = 4): DataFrame = {
    val numPerms = numBands * rowsPerBand
    val bSets = shingleSets(newDocs, idCol, textCol, k)
    val eSets = shingleSets(existing, idCol, textCol, k)
    def bandsOf(sets: DataFrame): DataFrame = sets.select(col("doc_id"),
      posexplode(Text.lshBands(
        TextExpressions.minhashSigFromHashes(col("sh"), numPerms),
        numBands, rowsPerBand)).as(Seq("band_idx", "band_key")))
    val candidates = bandsOf(bSets).alias("x")
      .join(bandsOf(eSets).alias("y"),
        col("x.band_idx") === col("y.band_idx") &&
          col("x.band_key") === col("y.band_key"))
      .select(col("x.doc_id").as("new_id"), col("y.doc_id").as("old_id"))
      .distinct()
    val drops = candidates
      .join(bSets.select(col("doc_id").as("new_id"), col("sh").as("sh1"),
        col("n").as("n1")), "new_id")
      .join(eSets.select(col("doc_id").as("old_id"), col("sh").as("sh2"),
        col("n").as("n2")), "old_id")
      .withColumn("inter",
        TextExpressions.sortedLongIntersectSize(col("sh1"), col("sh2")))
      .withColumn("jaccard", Num.fpRound(
        col("inter").cast("double") /
          (col("n1") + col("n2") - col("inter")).cast("double"), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("new_id").as(idCol)).distinct()
    newDocs.join(drops, Seq(idCol), "left_anti")
  }

  /** Materialize the PERSISTED near-dup index of a corpus snapshot —
    * the artifact [[crossNeardupSurvivors]]'s contract names: at 100 TB
    * the existing side's signatures are the PRIOR run's output, not
    * something a daily batch recomputes from corpus text. Two
    * catalog-managed bucketed tables:
    *
    *  - `setsTable` `(doc_id, sh, n)`, bucketed by doc_id — the hashed
    *    shingle sets the verify stage reads (candidate-pruned, joined
    *    on doc id, co-located by the bucketing);
    *  - `bandsTable` `(band_hash, doc_id)`, bucketed by band_hash —
    *    the LSH candidate index (band_hash = xxhash64(band_idx,
    *    band_key), the [[bandSketch]] convention, so keys from
    *    different bands never alias; a residual 64-bit collision only
    *    adds a candidate the exact verify then rejects).
    *
    * Corpus text is read exactly ONCE (by the sets write); the band
    * table derives from the persisted sets, so nothing re-tokenizes.
    * Incremental maintenance is an append of the surviving batch's own
    * (sets, bands) rows after each ingest. */
  def writeNeardupIndex(existing: DataFrame, idCol: String, textCol: String,
                        k: Int, setsTable: String, bandsTable: String,
                        numBands: Int = 20, rowsPerBand: Int = 4,
                        numBuckets: Int = 16): Unit = {
    val spark = existing.sparkSession
    val numPerms = numBands * rowsPerBand
    val sets = Par.spread(existing)
      .select(col(idCol).as("doc_id"),
        TextExpressions.shingleHashSet(col(textCol), k).as("sh"))
      .withColumn("n", size(col("sh")))
      .filter(col("n") > 0)
    Sinks.writeBucketed(sets, setsTable, Seq("doc_id"), numBuckets)
    val bands = spark.table(setsTable).select(col("doc_id"),
        posexplode(Text.lshBands(
          TextExpressions.minhashSigFromHashes(col("sh"), numPerms),
          numBands, rowsPerBand)).as(Seq("band_idx", "band_key")))
      .select(xxhash64(col("band_idx"), col("band_key")).as("band_hash"),
        col("doc_id"))
    Sinks.writeBucketed(bands, bandsTable, Seq("band_hash"), numBuckets)
  }

  /** The incremental-maintenance half of [[writeNeardupIndex]]'s
    * contract ("an append of the surviving batch's own (sets, bands)
    * rows after each ingest"): append `batch`'s shingle sets and band
    * hashes to the two index tables. The batch is tokenized exactly
    * once (the sets frame is cached across the two writes — batch-sized,
    * not corpus-sized); each append lands one file per bucket, so the
    * index stays scan-efficient across ingests (compact by rewriting
    * via [[writeNeardupIndex]] when file counts warrant). Same band
    * conventions as the writer, so appended rows are
    * indistinguishable from originals to [[crossNeardupSurvivorsIndexed]]. */
  def appendNeardupIndex(batch: DataFrame, idCol: String, textCol: String,
                         k: Int, setsTable: String, bandsTable: String,
                         numBands: Int = 20, rowsPerBand: Int = 4,
                         numBuckets: Int = 16): Unit = {
    val numPerms = numBands * rowsPerBand
    val sets = Par.spread(batch)
      .select(col(idCol).as("doc_id"),
        TextExpressions.shingleHashSet(col(textCol), k).as("sh"))
      .withColumn("n", size(col("sh")))
      .filter(col("n") > 0)
      .cache()
    try {
      Sinks.writeBucketed(sets, setsTable, Seq("doc_id"), numBuckets,
        append = true)
      val bands = sets.select(col("doc_id"),
          posexplode(Text.lshBands(
            TextExpressions.minhashSigFromHashes(col("sh"), numPerms),
            numBands, rowsPerBand)).as(Seq("band_idx", "band_key")))
        .select(xxhash64(col("band_idx"), col("band_key")).as("band_hash"),
          col("doc_id"))
      Sinks.writeBucketed(bands, bandsTable, Seq("band_hash"), numBuckets,
        append = true)
    } finally sets.unpersist()
  }

  /** [[crossNeardupSurvivors]] over a [[writeNeardupIndex]] artifact —
    * the shape the production contract actually promises: the existing
    * corpus contributes ONLY its persisted index tables (band hashes
    * for candidates, shingle sets for verify); no corpus text is
    * scanned, no signature is recomputed on the existing side. Result
    * rows are identical to [[crossNeardupSurvivors]] on the same split
    * (band-hash collisions can only ADD candidates, and candidates are
    * exact-verified before anything drops). Only the batch side's sets
    * frame is cached (bands + verify read it) — half the cache
    * footprint of the self-contained form. */
  def crossNeardupSurvivorsIndexed(newDocs: DataFrame, idCol: String,
                                   textCol: String, k: Int,
                                   threshold: Double, setsTable: String,
                                   bandsTable: String, numBands: Int = 20,
                                   rowsPerBand: Int = 4): DataFrame = {
    val drops = crossNeardupMatchesIndexed(newDocs, idCol, textCol, k,
        threshold, setsTable, bandsTable, numBands, rowsPerBand)
      .select(col("new_id").as(idCol)).distinct()
    newDocs.join(drops, Seq(idCol), "left_anti")
  }

  /** The MATCH PAIRS under [[crossNeardupSurvivorsIndexed]] —
    * `(new_id, old_id, jaccard)` for every batch×corpus near-dup at
    * `threshold` — exposed for consumers that need the matched corpus
    * document, not just the drop verdict: provenance audits, and
    * split INHERITANCE on ingest ([[graft.streaming.Streams
    * .splitAssignIngest]] routes a new near-dup to its match's split).
    * Same plan as the survivors form up to the final anti-join. */
  def crossNeardupMatchesIndexed(newDocs: DataFrame, idCol: String,
                                 textCol: String, k: Int,
                                 threshold: Double, setsTable: String,
                                 bandsTable: String, numBands: Int = 20,
                                 rowsPerBand: Int = 4): DataFrame = {
    val spark = newDocs.sparkSession
    val numPerms = numBands * rowsPerBand
    val bSets = shingleSets(newDocs, idCol, textCol, k)
    val bBands = bSets.select(col("doc_id").as("new_id"),
        posexplode(Text.lshBands(
          TextExpressions.minhashSigFromHashes(col("sh"), numPerms),
          numBands, rowsPerBand)).as(Seq("band_idx", "band_key")))
      .select(xxhash64(col("band_idx"), col("band_key")).as("band_hash"),
        col("new_id"))
    val eBands = spark.table(bandsTable).hint("shuffle_hash")
      .select(col("band_hash"), col("doc_id").as("old_id"))
    val candidates = bBands.join(eBands, "band_hash")
      .select(col("new_id"), col("old_id")).distinct()
    // the corpus-side sets table is NEVER broadcast (at scale it is the
    // corpus): the shuffle_hash hint makes the candidate stream shuffle
    // TO the table's doc_id bucketing instead — the index stays where
    // it is, candidates (tiny) move
    val eSets = spark.table(setsTable).hint("shuffle_hash")
    candidates
      .join(bSets.select(col("doc_id").as("new_id"), col("sh").as("sh1"),
        col("n").as("n1")), "new_id")
      .join(eSets.select(col("doc_id").as("old_id"), col("sh").as("sh2"),
        col("n").as("n2")), "old_id")
      .withColumn("inter",
        TextExpressions.sortedLongIntersectSize(col("sh1"), col("sh2")))
      .withColumn("jaccard", Num.fpRound(
        col("inter").cast("double") /
          (col("n1") + col("n2") - col("inter")).cast("double"), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("new_id"), col("old_id"), col("jaccard"))
  }

  /** The exact-dedup twin of [[writeNeardupIndex]]: persist the
    * corpus's distinct normalized-text digests as a bucketed table —
    * the ~40-bytes/doc artifact [[incrementalExactDedup]]'s contract
    * describes, stored bucketed by digest so the daily anti-join is
    * co-located. */
  def writeDigestIndex(existing: DataFrame, textCol: String,
                       table: String, numBuckets: Int = 16): Unit =
    Sinks.writeBucketed(
      existing.select(sha2(lower(trim(col(textCol))), 256).as("digest"))
        .distinct(),
      table, Seq("digest"), numBuckets)

  /** [[incrementalExactDedup]] over a [[writeDigestIndex]] artifact:
    * the existing corpus contributes only its persisted digest table —
    * its text is never scanned, its digests never recomputed. */
  def incrementalExactDedupIndexed(newDocs: DataFrame, idCol: String,
                                   textCol: String,
                                   digestTable: String): DataFrame = {
    val spark = newDocs.sparkSession
    def digest(c: Column) = sha2(lower(trim(c)), 256)
    val withH = newDocs.withColumn("_h", digest(col(textCol)))
    val reps = withH.groupBy(col("_h")).agg(min(col(idCol)).as(idCol))
    withH.join(reps, Seq("_h", idCol), "left_semi")
      .join(spark.table(digestTable).select(col("digest").as("_h")),
        Seq("_h"), "left_anti")
      .drop("_h")
  }

  /** The serialized Bloom sketch of a corpus's LSH BAND KEYS — the
    * shareable artifact behind the streaming
    * [[graft.streaming.Streams.neardupGate]] (the x75 ingest gate's
    * stateless form): build once per corpus snapshot from the same
    * banded signatures [[crossNeardupSurvivors]] joins on, then probe
    * per arriving document with zero state. Each entry is
    * `xxhash64(band_idx, band_key)` so keys from different bands never
    * alias. Null when the corpus has no shingle-bearing documents
    * (gate treats null as pass-through) — the
    * [[TextAnalysis.benchmarkSketch]] conventions throughout. */
  def bandSketch(existing: DataFrame, textCol: String, k: Int,
                 numBands: Int = 20, rowsPerBand: Int = 4): Array[Byte] = {
    val numPerms = numBands * rowsPerBand
    val bands = Par.spread(existing)
      .select(TextExpressions.shingleHashSet(col(textCol), k).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(posexplode(Text.lshBands(
        TextExpressions.minhashSigFromHashes(col("sh"), numPerms),
        numBands, rowsPerBand)).as(Seq("band_idx", "band_key")))
      .select(xxhash64(col("band_idx"), col("band_key")).as("_h"))
      .distinct().cache()
    try {
      val n = bands.count()
      if (n == 0L) null
      else bands.agg(TextExpressions.bloomAgg(col("_h"),
          math.max(n, 4096L)).as("bf"))
        .head().getAs[Array[Byte]](0)
    } finally bands.unpersist()
  }

  /** The serialized Bloom sketch of a corpus's positional
    * `spanTokens`-gram digests — [[duplicateSpans]]' shareable
    * artifact, behind the streaming
    * [[graft.streaming.Streams.spanGate]]: an arriving document
    * sharing any full `spanTokens`-token frame with the corpus
    * (modulo the sketch fp rate) can be held for span surgery instead
    * of ingested verbatim. Digests are xxhash64 of the gram text —
    * the SAME family [[duplicateSpans]] aggregates, so batch and
    * stream agree on what a gram is. Null when no document reaches
    * `spanTokens` tokens (gate treats null as pass-through) — the
    * [[bandSketch]] conventions. */
  def gramSketch(existing: DataFrame, textCol: String,
                 spanTokens: Int = 8): Array[Byte] = {
    val grams = Par.spread(existing)
      .select(
        TextExpressions.chunkTokens(col(textCol), spanTokens, 1).as("_g"),
        graft.functions.Text.tokens(col(textCol)).as("_t"))
      .filter(size(col("_t")) >= spanTokens) // full frames only
      .select(explode(col("_g")).as("gram"))
      .select(xxhash64(col("gram")).as("_h"))
      .distinct().cache()
    try {
      val n = grams.count()
      if (n == 0L) null
      else grams.agg(TextExpressions.bloomAgg(col("_h"),
          math.max(n, 4096L)).as("bf"))
        .head().getAs[Array[Byte]](0)
    } finally grams.unpersist()
  }

  /** The serialized Bloom sketch of a corpus's paragraph-chunk digests
    * — [[dedupParagraphs]]' shareable artifact, the streaming pairing
    * of the x85 batch pass: feed it to
    * [[graft.streaming.Streams.boilerplateScrub]] with the SAME `chunk`
    * as `passageTokens` and arriving documents are rewritten with every
    * corpus-known paragraph cut out (the scrub's chunk grid and digest
    * family are identical — stride = size, xxhash64 of the chunk text —
    * so batch and stream agree on what a paragraph is). The fp-rate
    * over-scrub is the standard sketch trade; null when the corpus is
    * empty (scrub treats null as pass-through). */
  def paragraphSketch(existing: DataFrame, textCol: String,
                      chunk: Int = 12): Array[Byte] = {
    val digests = Par.spread(existing)
      .select(explode(
        TextExpressions.chunkTokens(col(textCol), chunk, chunk))
        .as("para"))
      .select(xxhash64(col("para")).as("_h"))
      .distinct().cache()
    try {
      val n = digests.count()
      if (n == 0L) null
      else digests.agg(TextExpressions.bloomAgg(col("_h"),
          math.max(n, 4096L)).as("bf"))
        .head().getAs[Array[Byte]](0)
    } finally digests.unpersist()
  }

  /** Winnowing-style document fingerprint: the `keep` lexicographically
    * smallest md5 digests of the document's shingles, joined by '|'.
    * Fully fused per-row kernel (shingle set -> digests -> k-smallest) —
    * a pure scan projection with zero shuffles; round 1 paid the exploded
    * shingle stream plus a ranking window plus a group-by for the same
    * result. */
  def fingerprints(docs: DataFrame, idCol: String, textCol: String,
                   shingleK: Int = 3, keep: Int = 4): DataFrame =
    Par.spread(docs)
      .select(col(idCol).as("doc_id"),
        TextExpressions.smallestDigests(
          TextExpressions.shingleSet(col(textCol), shingleK), keep)
          .as("fingerprint"))
      .filter(col("fingerprint").isNotNull)

  /** Substring-SPAN exact dedup (the suffix-array dedup family, Lee et
    * al. 2022 "Deduplicating Training Data Makes Language Models
    * Better"): find every maximal token span of >= `spanTokens` tokens
    * that also occurs elsewhere in the corpus, and emit the (doc, span)
    * REMOVAL decisions — every occurrence except the globally first —
    * the span-level verdict winnowing (x52) and containment (x43) only
    * approximate. A shared run of m >= spanTokens tokens is covered by
    * m - spanTokens + 1 duplicated positional grams, so merging
    * adjacent/overlapping duplicated positions reconstructs the maximal
    * span exactly — no suffix array needed, and every stage is
    * bounded:
    *
    *  1. positional `spanTokens`-grams from the fused
    *     [[org.apache.spark.sql.graft.TextExpressions.chunkTokens]]
    *     kernel (stride 1 = every full frame), digested to 8-byte
    *     xxhash64 — a narrow explode, linear in corpus tokens;
    *  2. per-digest `(count, min(struct(doc, pos)))` — ONE high-reduction
    *     hash aggregate (never a pair join: a gram shared by df docs
    *     costs df aggregate rows, not df² join rows, so corpus-wide
    *     boilerplate cannot go quadratic here);
    *  3. digest-keyed equi-join back to the gram stream marks every
    *     non-first duplicated position;
    *  4. gaps-and-islands merge per document (lag + running sum over a
    *     doc-partitioned window — duplicated positions only, never the
    *     corpus) into maximal spans; spans separated by a gap <
    *     spanTokens of unique material coalesce (they share or touch
    *     tokens).
    *
    * Output: `(doc_id, span_start, span_len)` in token units,
    * span_start 0-based — the drop list a span-surgery pass consumes.
    * "Globally first" = smallest (doc_id, pos) lexicographically, as a
    * STRUCT-typed argmin — no doc·factor + pos encoding, so documents
    * of any length keep correct first-occurrence selection (both
    * engines order structs field-by-field). 64-bit digest
    * collisions (~1e-9 corpus-wide) are the standard sketch trade, same
    * as [[shingleSets]]. */
  def duplicateSpans(docs: DataFrame, idCol: String, textCol: String,
                     spanTokens: Int = 8): DataFrame = {
    require(spanTokens >= 2, s"spanTokens must be >= 2, got $spanTokens")
    val grams = Par.spread(docs)
      .select(col(idCol).as("doc_id"),
        TextExpressions.chunkTokens(col(textCol), spanTokens, 1).as("_g"),
        graft.functions.Text.tokens(col(textCol)).as("_t"))
      .filter(size(col("_t")) >= spanTokens) // full frames only
      .select(col("doc_id"), posexplode(col("_g")).as(Seq("pos", "gram")))
      .select(col("doc_id"), col("pos"), xxhash64(col("gram")).as("_h"))
    markedToSpans(nonFirstDuplicated(grams), spanTokens)
  }

  /** Every NON-FIRST occurrence of a duplicated `(doc_id, pos, _h)` key
    * — step 2+3 of [[duplicateSpans]]' recipe fused into ONE
    * key-partitioned window pass: per-key occurrence count and
    * `min(struct(doc_id, pos))` argmin as window aggregates, filter in
    * place. The former `groupBy` + equi-join-back formulation
    * referenced the gram stream TWICE, and because the partial
    * aggregate runs BELOW its exchange, the two references' exchanges
    * differ and ReuseExchange could not dedupe them — the entire gram
    * construction (for the substring tier: the char explode + the
    * doubling window chain) executed once per reference. Semantics are
    * identical (the join-back preserved each gram row exactly once);
    * skew is identical (the hot key owned one reduce partition under
    * the join too). Shared by the token tier ([[duplicateSpans]]) and
    * the character tier ([[substringDupSpans]]/
    * [[substringDupSpansSegmented]]). */
  private def nonFirstDuplicated(grams: DataFrame): DataFrame = {
    val wh = Window.partitionBy(col("_h"))
    val enc = struct(col("doc_id"), col("pos"))
    grams
      .withColumn("_n", count(lit(1)).over(wh))
      .withColumn("_first", min(enc).over(wh))
      .filter(col("_n") >= 2 && enc =!= col("_first"))
      .select(col("doc_id"), col("pos"))
  }

  /** Span-level DECONTAMINATION — [[duplicateSpans]]'s islands
    * machinery against a BENCHMARK instead of the corpus's own grams:
    * every maximal ≥ `spanTokens`-token corpus span that appears
    * VERBATIM in the benchmark, emitted as `(doc_id, span_start,
    * span_len)` removal decisions that [[applySpanRemovals]] (x87)
    * consumes directly. Completes the decontamination family the way
    * x83 completed dedup: x38/x44 give document-level overlap VERDICTS
    * (drop or keep whole docs); this gives the span-level SURGERY form
    * (cut the leaked benchmark text, keep the document) of Lee et al.
    * 2022's decontamination appendix.
    *
    * Scale shape: the benchmark's distinct gram digests are
    * benchmark-sized — the exact-set analog of x44's Bloom sketch —
    * and the match is a semi-join of (doc, pos, digest) triples
    * against them (broadcast at typical benchmark scale); corpus TEXT
    * never crosses the wire, and there is no (count, argmin) stage at
    * all — any benchmark hit is contamination, first occurrence
    * included. Islands merge as in [[duplicateSpans]] step 4. */
  def contaminatedSpans(corpus: DataFrame, benchmark: DataFrame,
                        idCol: String, textCol: String,
                        spanTokens: Int = 8): DataFrame = {
    require(spanTokens >= 2, s"spanTokens must be >= 2, got $spanTokens")
    def grams(df: DataFrame): DataFrame = Par.spread(df)
      .select(col(idCol).as("doc_id"),
        TextExpressions.chunkTokens(col(textCol), spanTokens, 1).as("_g"),
        graft.functions.Text.tokens(col(textCol)).as("_t"))
      .filter(size(col("_t")) >= spanTokens)
      .select(col("doc_id"), posexplode(col("_g")).as(Seq("pos", "gram")))
      .select(col("doc_id"), col("pos"), xxhash64(col("gram")).as("_h"))
    val bench = grams(benchmark).select(col("_h")).distinct()
    val matched = grams(corpus).join(bench, Seq("_h"), "left_semi")
      .select(col("doc_id"), col("pos"))
    markedToSpans(matched, spanTokens)
  }

  /** Paragraph-level exact dedup (the CCNet recipe, Wenzek et al. 2020:
    * drop duplicated paragraphs, keep the document): the corpus is cut
    * into non-overlapping `chunk`-token "paragraphs" (stride = size in
    * [[org.apache.spark.sql.graft.TextExpressions.chunkTokens]], the
    * last one possibly short — the fixture text carries no newline
    * structure, so fixed token windows stand in for paragraph breaks;
    * on real corpora pre-split on the delimiter and feed one row per
    * paragraph), every occurrence of a repeated paragraph EXCEPT the
    * globally first (min (doc_id, chunk_idx), the [[duplicateSpans]]
    * struct argmin) is dropped, and each document is reassembled from its
    * surviving paragraphs in order. Unlike document-level dedup (x1)
    * the document SURVIVES with its unique material; unlike span dedup
    * (x83) the verdicts are aligned to the chunk grid, which is what
    * makes the rewrite a pure local reassembly.
    *
    * Plan shape / 100 TB design: one narrow posexplode (paragraph
    * strings, not corpus text, move), ONE high-reduction hash aggregate
    * per distinct paragraph digest (df occurrences cost df aggregate
    * rows — never a pair join), a digest equi-join back, and a per-doc
    * reassembly aggregate (hash-partitioned by doc id; `collect_list`
    * here is per-DOCUMENT — bounded by a single document's paragraph
    * count, never a corpus-scale buffer). 64-bit digest collisions
    * (~1e-9 corpus-wide) are the standard sketch trade ([[shingleSets]]).
    *
    * Output: `(doc_id, n_kept, n_dropped, clean_text)`; documents whose
    * every paragraph was dropped (full duplicates of earlier material)
    * are removed entirely, the document-dedup limit case. */
  def dedupParagraphs(docs: DataFrame, idCol: String, textCol: String,
                      chunk: Int = 12): DataFrame = {
    require(chunk >= 1, s"chunk must be >= 1, got $chunk")
    val paras = Par.spread(docs)
      .select(col(idCol).as("doc_id"),
        posexplode(TextExpressions.chunkTokens(col(textCol), chunk, chunk))
          .as(Seq("pos", "para")))
    val enc = struct(col("doc_id"), col("pos"))
    // keeper marking fused into ONE digest-partitioned window pass (the
    // [[nonFirstDuplicated]] argument: the former groupBy + join-back
    // referenced the paragraph stream twice, and the partial aggregate
    // below its exchange kept ReuseExchange from deduping them — the
    // chunk kernel + explode ran once per reference)
    val flagged = paras.withColumn("_h", xxhash64(col("para")))
      .withColumn("_keep", enc === min(enc).over(
        Window.partitionBy(col("_h"))))
    flagged.groupBy(col("doc_id"))
      .agg(
        sum(when(col("_keep"), 1).otherwise(0)).cast("long").as("n_kept"),
        sum(when(col("_keep"), 0).otherwise(1)).cast("long")
          .as("n_dropped"),
        concat_ws(" ", transform(
          array_sort(collect_list(when(col("_keep"),
            struct(col("pos"), col("para"))))),
          s => s.getField("para"))).as("clean_text"))
      .filter(col("n_kept") >= 1)
  }

  /** Span SURGERY — the apply half of [[duplicateSpans]] (the
    * decisions/apply pairing of x1/x34): rewrite each document with its
    * removal spans cut out, keeping everything else in order. Output is
    * the normalized token stream rejoined (`tokens()` casing/whitespace,
    * the engine's canonical text form), one row per input document:
    * `(doc_id, n_tokens_removed, clean_text)` — documents with no spans
    * pass through with 0 removed; documents entirely covered (exact
    * duplicates of earlier material) emit an empty `clean_text`, the
    * caller's drop decision (vs [[dedupParagraphs]], which drops them).
    *
    * Plan shape / 100 TB design: the span list folds per document (ONE
    * hash aggregate over the decisions frame — span counts per doc are
    * small by construction), broadcast-or-shuffle equi-joins the corpus
    * ONCE on doc id, and the cut itself is a per-row fused
    * `filter(tokens, (t, pos) => !covered)` projection — no explode, no
    * window, corpus text crosses the wire at most once. */
  def applySpanRemovals(docs: DataFrame, idCol: String, textCol: String,
                        spans: DataFrame): DataFrame = {
    val sp = spans.groupBy(col("doc_id"))
      .agg(collect_list(struct(col("span_start").as("s"),
        col("span_len").as("l"))).as("_spans"))
    docs.select(col(idCol).as("doc_id"), col(textCol).as("_text"))
      .join(sp, Seq("doc_id"), "left")
      .withColumn("_toks", graft.functions.Text.tokens(col("_text")))
      .withColumn("_kept",
        when(col("_spans").isNull, col("_toks")).otherwise(
          filter(col("_toks"), (_, i) =>
            !exists(col("_spans"), s =>
              i >= s.getField("s") && i < s.getField("s") + s.getField("l")))))
      .select(col("doc_id"),
        (size(col("_toks")) - size(col("_kept"))).cast("long")
          .as("n_tokens_removed"),
        concat_ws(" ", col("_kept")).as("clean_text"))
  }

  /** EXACT-SUBSTRING duplicate spans (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better" — the suffix-array
    * dedup production corpora run NEXT TO MinHash): every maximal
    * CHARACTER span covered by length-`L` substrings that occur more
    * than once in the corpus, minus each substring's globally-first
    * occurrence (min `(doc_id, pos)` — the kept copy). Character-level
    * where x83 is token-level: verbatim boilerplate, markup and
    * license blocks dedup here even when tokenization splits them
    * differently.
    *
    * The L-bounded SUFFIX-RANK construction, not a gram materialize:
    * the paper builds a suffix array; the equality classes its
    * duplicate scan needs are "suffixes equal on their first L chars",
    * computed here by REPEATED DOUBLING (Manber–Myers, prefix-doubling
    * step): one row per character carries a 64-bit key; round k
    * replaces it with `hash(key(i), key(i+k))` via a per-document
    * `lead(_, k)` window, doubling the matched prefix, and a final
    * overlapped combine (`hash(key_m(i), key_m(i + L − m))`, sound for
    * equality since the two m-windows cover all L positions) reaches
    * exactly L. Every round shares ONE hash partition + sort on
    * `(doc_id, pos)` — the corpus shuffles fixed-width
    * `(doc_id, pos, key)` triples ONCE, against the naive
    * alternative's O(L)-byte gram strings per position (at the paper's
    * L ≈ 50 a 6× shuffle-byte blowup). Classical integer dense ranks
    * (one distributed rank per round) drop in where lexicographic
    * ORDER is also needed — equality classes, which is all dedup
    * consumes, compose with the repo's 64-bit digest convention
    * ([[dedupParagraphs]]' collision trade, ~1e-9 corpus-wide).
    *
    * Downstream of the keys: occurrence marking is x83's
    * `(count, argmin)` aggregate per class (no pair join anywhere —
    * df occurrences cost df aggregate rows), islands merge marked
    * positions ≤ L apart, and spans emit as `(doc_id, span_start,
    * span_len)` — `span_start` 1-based CHARACTER position, directly
    * consumable by [[substringDedupApply]]. Documents shorter than L
    * emit nothing (no full window — the winnowing boundary rule).
    *
    * No document-length precondition: the keeper argmin is a
    * STRUCT-typed `min(struct(doc_id, pos))` (shared with
    * [[duplicateSpans]]), so book-scale documents — the corpora the
    * paper targets contain >10⁶-character books — keep exact
    * first-occurrence selection; the earlier `doc_id·10⁶ + pos`
    * encoding silently bled positions across id ranges past 1M chars
    * (round-18 fix, spec-pinned with a 1.2M-char document). */
  def substringDupSpans(docs: DataFrame, idCol: String, textCol: String,
                        L: Int = 24): DataFrame = {
    require(L >= 2, s"L must be >= 2, got $L")
    // occurrence marking via the fused one-pass window
    // ([[nonFirstDuplicated]]) — the doubling chain runs ONCE
    markedToSpans(
      nonFirstDuplicated(substringKeys(docs, idCol, textCol, L)), L)
  }

  /** One `(doc_id, pos, _h)` row per position carrying the L-bounded
    * suffix-rank key — the doubling construction shared by
    * [[substringDupSpans]], [[substringDupSpansIndexed]] and
    * [[writeSubstringIndex]]. */
  private def substringKeys(docs: DataFrame, idCol: String,
                            textCol: String, L: Int): DataFrame = {
    val chars = Par.spread(docs)
      .select(col(idCol).cast("long").as("doc_id"), col(textCol).as("_t"))
      .filter(length(col("_t")) >= L)
      .select(col("doc_id"), length(col("_t")).as("_len"),
        posexplode(split(col("_t"), "")).as(Seq("pos0", "_c")))
      // split-by-empty keeps a trailing "" (Java split, limit -1):
      // it sits at pos0 = len, so dropping it leaves pos0 = 0..len-1
      .filter(col("_c") =!= "")
      .select(col("doc_id"), col("_len"), (col("pos0") + 1).as("pos"),
        xxhash64(col("_c")).as("_h"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    // doubling rounds to m = 2^floor(log2 L): after each, _h(i) keys
    // the 2k chars at i. Tail positions absorb null leads into garbage
    // keys, harmlessly: only pos + L - 1 <= len rows emit below, and a
    // valid row's sub-windows are valid by induction.
    val m = Integer.highestOneBit(L)
    val doubled = Iterator.iterate(1)(_ * 2).takeWhile(_ < m)
      .foldLeft(chars) { (df, k) =>
        df.withColumn("_h", xxhash64(col("_h"), lead(col("_h"), k).over(w)))
      }
    val keyed =
      if (m == L) doubled
      else doubled.withColumn("_h",
        xxhash64(col("_h"), lead(col("_h"), L - m).over(w)))
    keyed.filter(col("pos") + L - 1 <= col("_len"))
      .select(col("doc_id"), col("pos"), col("_h"))
  }

  /** Gaps-and-islands merge of marked `(doc_id, pos)` `width`-window
    * positions into maximal `(doc_id, span_start, span_len)` spans —
    * THE span-merge rule, shared by the token tier ([[duplicateSpans]]
    * width = spanTokens, [[contaminatedSpans]]) and the character tier
    * ([[substringDupSpans]]/[[substringDupSpansIndexed]] width = L):
    * positions ≤ width apart coalesce, span_len = last − first + width. */
  private def markedToSpans(removals: DataFrame, L: Int): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    removals
      .withColumn("_new",
        when(col("pos") - lag(col("pos"), 1).over(w) <= L, lit(0))
          .otherwise(lit(1)))
      .withColumn("_grp", sum(col("_new")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("_grp"))
      .agg(min(col("pos")).cast("long").as("span_start"),
        (max(col("pos")) - min(col("pos")) + lit(L)).cast("long")
          .as("span_len"))
      .drop("_grp")
  }

  /** Persist the corpus's L-gram KEY SET — the substring family's
    * serving artifact ([[writeDigestIndex]]'s shape one level down:
    * digests of every positional L-window, not whole documents):
    * distinct 64-bit doubling keys, bucketed, one row per distinct
    * L-substring the corpus contains. Gram-count-sized (≈ corpus
    * characters), which is the honest cost of exact-substring serving
    * — the same ballpark as a postings index, and it replaces
    * re-scanning the corpus text on every arriving batch. */
  def writeSubstringIndex(corpus: DataFrame, idCol: String,
                          textCol: String, L: Int, table: String,
                          numBuckets: Int = 16): Unit =
    Sinks.writeBucketed(substringGramKeys(corpus, idCol, textCol, L),
      table, Seq("gram_key"), numBuckets)

  /** A corpus's DISTINCT L-gram doubling keys as `(gram_key)` — the
    * exact frame [[writeSubstringIndex]] persists, exposed so segment
    * writers ([[graft.streaming.Streams.substringIngestManifest]]) and
    * maintenance repairs can build / extend an index under their own
    * commit protocol. */
  def substringGramKeys(docs: DataFrame, idCol: String, textCol: String,
                        L: Int): DataFrame = {
    require(L >= 2, s"L must be >= 2, got $L")
    substringKeys(docs, idCol, textCol, L)
      .select(col("_h").as("gram_key")).distinct()
  }

  /** [[substringDupSpans]] for a NEW BATCH against a FROZEN
    * [[writeSubstringIndex]] corpus — the family's incremental /
    * serving form (x74/x80's continuous-ingestion shape on the
    * substring tier): a batch occurrence is duplicated when its L-gram
    * exists ANYWHERE in the indexed corpus (the corpus copy is the
    * keeper — [[incrementalExactDedup]]'s cross-corpus law) OR when it
    * repeats within the batch (batch-internal min-(doc_id, pos)
    * keeps). The corpus contributes only its persisted key set: its
    * text is never scanned, its keys never recomputed; the batch pays
    * one doubling pass over ITSELF plus a bucketed semi-join. Output
    * spans are batch-document spans, [[substringDedupApply]]-shaped. */
  def substringDupSpansIndexed(batch: DataFrame, idCol: String,
                               textCol: String, L: Int,
                               indexTable: String): DataFrame =
    substringDupSpansSegmented(batch, idCol, textCol, L, Seq(indexTable))

  /** [[substringDupSpansIndexed]] against a SEGMENTED corpus key set —
    * the manifest-staged family's serving read: the corpus L-gram set
    * is the UNION of the listed segment tables (each a
    * [[writeSubstringIndex]]-shaped `(gram_key)` table). Set semantics
    * make the union tolerant of cross-segment duplicate keys — the
    * semi-join asks only "does the key exist anywhere" — which is what
    * lets the manifest ingest stage a batch's keys WITHOUT an
    * anti-join against the whole index ([[graft.streaming.Streams
    * .substringIngestManifest]]'s O(batch) staging law; compaction
    * folds the duplicates out later). The per-segment scans keep their
    * own pushdown; the batch side is computed once. */
  def substringDupSpansSegmented(batch: DataFrame, idCol: String,
                                 textCol: String, L: Int,
                                 segments: Seq[String]): DataFrame = {
    require(L >= 2, s"L must be >= 2, got $L")
    require(segments.nonEmpty, "substringDupSpansSegmented: no segments")
    val spark = batch.sparkSession
    val grams = substringKeys(batch, idCol, textCol, L)
    // batch-internal leg via the fused one-pass window
    // ([[nonFirstDuplicated]] — was a groupBy + join-back that re-ran
    // the batch doubling chain per reference)
    val internal = nonFirstDuplicated(grams)
    val corpusKeys = segments.map(t =>
        spark.table(t).select(col("gram_key").as("_h")))
      .reduce(_ unionByName _)
    val cross = grams.join(corpusKeys, Seq("_h"), "left_semi")
      .select(col("doc_id"), col("pos"))
    markedToSpans(internal.unionByName(cross).distinct(), L)
  }

  /** CHAR-level benchmark DECONTAMINATION served from a FROZEN
    * [[writeSubstringIndex]] of the BENCHMARK — [[contaminatedSpans]]
    * (x95) on the substring tier, completing decontamination the way
    * x224 completed dedup: every maximal corpus character span covered
    * by L-grams appearing ANYWHERE in the benchmark, with NO
    * first-occurrence exemption (any benchmark hit is contamination —
    * x95's law; there is deliberately no batch-internal leg, which is
    * what separates this from [[substringDupSpansIndexed]]'s dedup
    * semantics). Tokenization-split markup and verbatim eval text
    * dedup here even when the token tier's gram grid misses them.
    *
    * Serving shape: eval suites are stable artifacts — build the
    * benchmark's gram-key index once per release; each corpus batch
    * then pays one doubling pass over ITSELF plus the bucketed
    * semi-join (benchmark text never rescanned). Output is
    * `(doc_id, span_start, span_len)`, [[applyCharSpans]]-ready for
    * the surgery form. */
  def substringContaminatedSpans(corpus: DataFrame, idCol: String,
                                 textCol: String, L: Int,
                                 benchIndexTable: String): DataFrame =
    substringContaminatedSpansKeys(corpus, idCol, textCol, L,
      corpus.sparkSession.table(benchIndexTable))

  /** [[substringContaminatedSpans]] against an in-flight benchmark
    * gram-key FRAME (`(gram_key)`, [[substringGramKeys]]' shape)
    * instead of a persisted index table — the composed-pipeline form
    * ([[CorpusPipeline.prepareV3]]'s char tier computes the benchmark
    * keys inline; the serving form freezes them as a table). */
  def substringContaminatedSpansKeys(corpus: DataFrame, idCol: String,
                                     textCol: String, L: Int,
                                     benchKeys: DataFrame): DataFrame = {
    require(L >= 2, s"L must be >= 2, got $L")
    val hits = substringKeys(corpus, idCol, textCol, L)
      .join(benchKeys.select(col("gram_key").as("_h")),
        Seq("_h"), "left_semi")
      .select(col("doc_id"), col("pos"))
    markedToSpans(hits, L)
  }

  // ---- manifest-staged substring index layout -----------------------
  // The publish-by-MANIFEST form of the versioned gram-key family
  // (x213's partial-merge shape applied to the substring tier): a
  // version's key set is the UNION of the SEGMENT tables its manifest
  // lists, so publishing a new batch stages only the batch's own keys
  // (one segment + one metadata-sized manifest table) instead of
  // rewriting the whole index — O(batch) staging with the same
  // one-ledger-row commit and zero residual
  // ([[graft.streaming.Streams.substringIngestManifest]]).

  /** Physical name of the segment staged when `version` published. */
  def substringSegmentTable(indexBase: String, version: Long): String =
    s"${indexBase}_seg$version"

  /** The CURRENT snapshot's segment list: the manifest table at the
    * resolved version (version 0 = the unversioned [[
    * writeSubstringIndex]] base as a single segment — the migrate-in
    * contract; empty before any corpus exists). One metadata-sized
    * read; serving reads never race a publish — a mid-flight commit
    * leaves this reader on its complete old manifest. */
  def substringSegments(spark: SparkSession, ledgerTable: String,
                        indexName: String,
                        indexBase: String): Seq[String] = {
    val cur = Snapshots.currentVersion(spark, ledgerTable, indexName)
    if (cur == 0L) {
      if (spark.catalog.tableExists(indexBase)) Seq(indexBase)
      else Seq.empty
    } else {
      val segs = Snapshots.manifestSegments(spark, indexBase, Seq(cur))
      require(segs.nonEmpty, s"$indexName v$cur has no manifest")
      segs.toSeq.sorted
    }
  }

  /** [[substringDupSpansSegmented]] through the manifest pointer —
    * the manifest family's serving read. */
  def substringDupSpansManifested(batch: DataFrame, idCol: String,
                                  textCol: String, L: Int,
                                  ledgerTable: String, indexName: String,
                                  indexBase: String): DataFrame =
    substringDupSpansSegmented(batch, idCol, textCol, L,
      substringSegments(batch.sparkSession, ledgerTable, indexName,
        indexBase))

  /** [[substringDedupApplyIndexed]] through the manifest pointer —
    * the one-call surgery serve over the segment union. */
  def substringDedupApplyManifested(batch: DataFrame, idCol: String,
                                    textCol: String, L: Int,
                                    ledgerTable: String,
                                    indexName: String,
                                    indexBase: String): DataFrame =
    applyCharSpans(batch, idCol, textCol,
      substringDupSpansManifested(batch, idCol, textCol, L, ledgerTable,
        indexName, indexBase))

  /** FOLD the manifest family's segments into one: stages a single
    * deduplicated, bucketed segment holding the current union, a
    * one-row manifest listing just it, and publishes — the maintenance
    * move that reclaims what O(batch) staging deferred (cross-segment
    * duplicate keys, per-batch segment files, N-way serving unions).
    * Idempotent under the `compact-v<next>` ledger id (the
    * [[Warehouse.compactIndexVersioned]] convention); a crashed
    * attempt's rerun rebuilds the staged tables bit-identically. No-op
    * (false) when the family has at most one segment. Old segments are
    * NOT dropped here — [[retireSubstringManifest]] reclaims them
    * past the grace window, keeping in-flight readers whole. */
  def substringManifestCompact(spark: SparkSession, ledgerTable: String,
                               indexName: String, indexBase: String,
                               numBuckets: Int = 16): Boolean = {
    val segs = substringSegments(spark, ledgerTable, indexName, indexBase)
    val cur = Snapshots.currentVersion(spark, ledgerTable, indexName)
    val next = cur + 1
    val bid = s"compact-v$next"
    if (segs.size <= 1 ||
        Snapshots.isApplied(spark, ledgerTable, indexName, bid)) false
    else {
      val folded = segs.map(t => spark.table(t).select(col("gram_key")))
        .reduce(_ unionByName _).distinct()
      val segT = substringSegmentTable(indexBase, next)
      Sinks.dropManaged(spark, segT)
      Sinks.writeBucketed(folded, segT, Seq("gram_key"), numBuckets)
      writeManifest(spark, indexBase, next, Seq(segT))
      Snapshots.publish(spark, ledgerTable, indexName, next, bid,
        "compact")
      true
    }
  }

  /** Overwrite the family's manifest table at `version` — staging, so
    * a crashed publish's rerun rebuilds it bit-identically. */
  private[graft] def writeManifest(spark: SparkSession, indexBase: String,
                                   version: Long,
                                   segments: Seq[String]): Unit = {
    import spark.implicits._
    val mf = Snapshots.manifestAt(indexBase, version)
    Sinks.dropManaged(spark, mf)
    segments.toDF("segment").coalesce(1).write.format("parquet")
      .saveAsTable(mf)
  }

  /** Reclaim the manifest family's retired metadata and data: drops
    * manifest tables of versions ≤ current − `keepVersions`, then
    * every segment table no SURVIVING manifest references (a folded
    * compact strands its inputs; a retired version strands segments
    * newer versions no longer list). The version-0 base is never
    * dropped here ([[Snapshots.decommissionBase]] owns that, once no
    * surviving manifest lists it). Ledger rows stay, as everywhere.
    * Returns the dropped table names. */
  def retireSubstringManifest(spark: SparkSession, ledgerTable: String,
                              indexName: String, indexBase: String,
                              keepVersions: Int = 2): Seq[String] = {
    require(keepVersions >= 1, s"keepVersions must be >= 1, got $keepVersions")
    val cur = Snapshots.currentVersion(spark, ledgerTable, indexName)
    val cutoff = cur - keepVersions
    if (cutoff < 1) Seq.empty
    else {
      val referenced =
        Snapshots.manifestSegments(spark, indexBase, (cutoff + 1) to cur)
      val deadMf = (1L to cutoff)
        .map(Snapshots.manifestAt(indexBase, _))
        .filter(spark.catalog.tableExists(_))
      val deadSeg = (1L to cur)
        .map(substringSegmentTable(indexBase, _))
        .filter(t => spark.catalog.tableExists(t) && !referenced(t))
      val dead = deadMf ++ deadSeg
      dead.foreach(Sinks.dropManaged(spark, _))
      dead
    }
  }

  /** [[substringDupSpans]] APPLIED — the family's surgery twin (x87's
    * shape, character-exact): each document rewritten with its
    * duplicated spans cut out, everything else byte-identical and in
    * order. Output `(doc_id, n_chars_removed, clean_text)` — documents
    * with no spans pass through untouched (0 removed); a document that
    * was entirely duplicated material emits an empty `clean_text`, the
    * caller's drop decision.
    *
    * Plan shape: the span list folds per document (spans are island-
    * merged, so disjoint and few), equi-joins the corpus ONCE on doc
    * id, and the cut is a single fused `aggregate` over the sorted
    * span array — walk the spans left to right, appending the kept
    * segment before each and the tail after the last. Corpus text
    * crosses the wire at most once; no explode, no per-char work. */
  def substringDedupApply(docs: DataFrame, idCol: String, textCol: String,
                          L: Int = 24): DataFrame =
    applyCharSpans(docs, idCol, textCol,
      substringDupSpans(docs, idCol, textCol, L))

  /** [[substringDedupApply]] for a NEW BATCH against a FROZEN
    * [[writeSubstringIndex]] corpus — the serving form of the surgery
    * twin (x225's cut under x227's span law), and the single-segment
    * case of [[graft.streaming.Streams.substringIngestManifest]]'s
    * per-micro-batch cut: spans from [[substringDupSpansIndexed]] (one
    * doubling pass over the batch + a bucketed semi-join; corpus text
    * never rescanned), cut by the shared fused-`aggregate` rewrite.
    * Output `(doc_id, n_chars_removed, clean_text)` over the batch
    * documents only; the corpus copy is always the keeper. */
  def substringDedupApplyIndexed(batch: DataFrame, idCol: String,
                                 textCol: String, L: Int,
                                 indexTable: String): DataFrame =
    applyCharSpans(batch, idCol, textCol,
      substringDupSpansIndexed(batch, idCol, textCol, L, indexTable))

  /** The character-surgery half of [[substringDedupApply]] with the
    * span decisions supplied — so the one-shot (x225), the indexed
    * serve ([[substringDupSpansIndexed]]'s spans) and the streaming
    * ingest ([[graft.streaming.Streams.substringIngestManifest]]) all
    * cut with the same fused-`aggregate` rewrite. `spans` must be
    * disjoint per document (island-merged — both producers guarantee
    * it). */
  def applyCharSpans(docs: DataFrame, idCol: String, textCol: String,
                     spans: DataFrame): DataFrame = {
    val sp = spans.groupBy(col("doc_id"))
      .agg(array_sort(collect_list(struct(col("span_start").as("s"),
          (col("span_start") + col("span_len")).as("e")))).as("_sp"),
        sum(col("span_len")).cast("long").as("_rm"))
    docs.select(col(idCol).cast("long").as("doc_id"),
        col(textCol).as("_t"))
      .join(sp, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("_rm"), lit(0L)).as("n_chars_removed"),
        when(col("_sp").isNull, col("_t")).otherwise(
          aggregate(col("_sp"),
            struct(lit(1L).as("cur"), lit("").as("acc")),
            (st, s) => struct(
              s.getField("e").as("cur"),
              concat(st.getField("acc"), col("_t").substr(
                st.getField("cur").cast("int"),
                (s.getField("s") - st.getField("cur")).cast("int")))
                .as("acc")),
            st => concat(st.getField("acc"), col("_t").substr(
              st.getField("cur").cast("int"),
              (length(col("_t")) - st.getField("cur") + 1).cast("int")))))
          .as("clean_text"))
  }

  /** Per-source SUBSTRING-duplication savings (x228) — the data-card
    * row for the exact-substring tier, completing the savings family
    * (x115 = exact docs, x108 = near-dup docs, this = duplicated
    * CHARACTER MASS): how many documents and characters each source
    * sheds under [[substringDupSpans]]'s keep rule. Read next to x115:
    * the gap is the mass only span surgery recovers — whole-document
    * dedup either keeps or drops; this prices keeping documents while
    * cutting their duplicated runs. Shape mirrors x115:
    * `(source, n_docs, n_dup_docs, total_chars, dup_chars, dup_frac)`
    * with the 1e-4 ratio rounding law.
    *
    * Scale shape: [[substringDupSpans]]'s cost (the doubling pass + a
    * key-class aggregate) plus one doc-keyed join of the span-mass
    * frame (duplicated-doc-sized) and a #sources-row rollup. */
  def substringDupSavings(corpus: DataFrame, idCol: String,
                          textCol: String, sourceCol: String,
                          L: Int = 24): DataFrame = {
    val perDoc = substringDupSpans(corpus, idCol, textCol, L)
      .groupBy(col("doc_id"))
      .agg(sum(col("span_len")).as("_dup_chars"))
    Par.spread(corpus)
      .select(col(idCol).cast("long").as("doc_id"),
        col(sourceCol).as("source"),
        length(col(textCol)).cast("long").as("_n_chars"))
      .join(perDoc, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("_dup_chars").isNotNull, 1L).otherwise(0L))
          .as("n_dup_docs"),
        sum(col("_n_chars")).as("total_chars"),
        sum(coalesce(col("_dup_chars"), lit(0L))).as("dup_chars"))
      .withColumn("dup_frac",
        when(col("total_chars") > 0,
          Num.fpRound(col("dup_chars").cast("double") /
            col("total_chars").cast("double"), 4))
          .otherwise(lit(0.0d)))
  }

  /** POSITIONAL winnowing (the MOSS scheme, Schleimer et al. 2003):
    * slide a `window`-wide frame over the document's positional
    * `shingleK`-gram digest sequence and select each frame's minimum —
    * guaranteeing any shared run of >= window + shingleK - 1 tokens
    * yields a shared fingerprint (the local-ness property [[fingerprints]]'
    * global bottom-k sketch does not have). Pairs sharing >= `minShared`
    * distinct selected digests are reported with the shared count.
    *
    * Plan shape / 100 TB design: positional shingles come from the
    * [[TextExpressions.chunkTokens]] kernel (size = shingleK, stride = 1
    * ⇒ every k-gram, in order) — narrow explode of 32-byte digests; the
    * min-selection is a doc-partitioned running window (hash-partitioned
    * by doc id — never a global sort); fingerprints per doc are
    * O(tokens / avg gap), and only (doc_id, digest) pairs ever shuffle.
    * The digest equi-join groups by fingerprint — a digest shared by
    * df docs contributes df·(df-1)/2 candidate rows, so a corpus-wide
    * boilerplate fingerprint can go quadratic: `maxFpDf` fails fast past
    * the bound (same guard contract as containmentPairs' maxProbeDf) —
    * strip boilerplate first ([[Cleaning.stripBoilerplate]]) or raise
    * the bound deliberately.
    *
    * Documents with fewer than window + shingleK - 1 tokens have no full
    * frame and produce no fingerprints (standard winnowing boundary
    * rule); both engines agree on this by the same arithmetic. */
  def winnowPairs(docs: DataFrame, idCol: String, textCol: String,
                  shingleK: Int = 3, window: Int = 4, minShared: Int = 2,
                  maxFpDf: Long = 10000L): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    // cached: read by the guard and by BOTH sides of the pair join —
    // (doc_id, digest) pairs only, the corpus-text frame never pins
    val fps = winnowFingerprints(docs, idCol, textCol, shingleK, window)
      .cache()
    graft.functions.Guards.requireSmallGroups(fps, "fingerprint", maxFpDf,
      "winnowPairs' fingerprint join",
      "Cleaning.stripBoilerplate upstream (or minhashLshPairs)")
    fps.as("a").join(fps.as("b"),
        col("a.fingerprint") === col("b.fingerprint") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc1"), col("b.doc_id").as("doc2"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= lit(minShared))
  }

  /** The per-document fingerprint stage of [[winnowPairs]]:
    * value-distinct `(doc_id, fingerprint)` window minima over the
    * positional shingle digest stream. Public both as the storable
    * "document signature" artifact and so the plan is auditable without
    * the pair-join's cache in the way (PlanAuditSpec pins the window is
    * hash-partitioned by document — the corpus never funnels through a
    * single task). */
  def winnowFingerprints(docs: DataFrame, idCol: String, textCol: String,
                         shingleK: Int = 3, window: Int = 4): DataFrame = {
    require(shingleK >= 1, s"shingleK must be >= 1, got $shingleK")
    require(window >= 2, s"window must be >= 2, got $window")
    val sh = Par.spread(docs)
      .select(col(idCol).as("doc_id"),
        TextExpressions.chunkTokens(col(textCol), shingleK, 1).as("_c"))
      .select(col("doc_id"), size(col("_c")).as("_m"),
        posexplode(col("_c")).as(Seq("_i", "_s")))
      .select(col("doc_id"), col("_m"), col("_i"), md5(col("_s")).as("_h"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("_i"))
      .rowsBetween(Window.currentRow, window - 1)
    sh.withColumn("_mh", min(col("_h")).over(w))
      .filter(col("_i") <= col("_m") - lit(window)) // full frames only
      .select(col("doc_id"), col("_mh").as("fingerprint")).distinct()
  }
}
