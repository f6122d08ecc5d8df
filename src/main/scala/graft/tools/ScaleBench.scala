package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{LocalSession, Tables}
import graft.operators.{Classifier, Cleaning, Components, CorpusPipeline, ImageDedup, Multimodal, Packing, Similarity, TextAnalysis, TextDedup}

/** Empirical scale probe for the dedup family (x8/x32/x36/x39/x40): runs
  * each pipeline at sf0.1 (5000 documents / 2000 embeddings) and at a
  * synthetic 10× of it, and reports the wall-time growth ratio. The
  * bucketed/banded-path claim says cost is near-linear in corpus size;
  * this measures it instead of asserting it.
  *
  * The 10× fixture is DERIVED deterministically (no RNG) from the driver
  * fixtures, built so the duplicate structure replicates exactly 10×
  * with no cross-copy artifacts:
  *  - documents: every token of copy k gets an `_k` suffix, so shingles
  *    never collide across copies — each copy reproduces the original
  *    corpus's near-dup graph, and pair/component counts scale by
  *    exactly the copy count;
  *  - embeddings: copy k applies a deterministic per-(k, dim) ±1 sign
  *    pattern — an orthogonal transform, so within-copy cosines are
  *    bit-preserved while cross-copy pairs decorrelate;
  *  - IVF centroid count scales WITH the corpus (16 → 160): holding k
  *    fixed while n grows 10× would grow same-bucket pairs ~100× —
  *    linear IVF cost requires k ∝ n (bounded bucket size), which is
  *    how a real deployment sizes its codebook.
  *
  * Usage: `sbt "runMain graft.tools.ScaleBench"`. Writes BENCH_scale.json
  * and prints one JSON line per probe plus a growth summary.
  */
object ScaleBench {

  /** Data-multiplication factor, env-overridable: the standing 10×
    * sweep is the per-round artifact; `SPARK_GRAFT_SCALE_COPIES=30`
    * (with its own `SPARK_GRAFT_SCALE_DIR`) re-runs chosen probes past
    * the regime where AQE skew handling and spill start to matter —
    * the round-19 extended sweep. */
  private val Copies =
    sys.env.getOrElse("SPARK_GRAFT_SCALE_COPIES", "10").toInt

  def generate(spark: SparkSession, srcDir: String, outDir: String): Unit = {
    import java.nio.file.{Files, Paths}
    val ks = broadcast(spark.range(Copies).select(col("id").as("k")))

    if (!Files.exists(Paths.get(s"$outDir/documents.parquet"))) {
      val docs = Tables(spark, srcDir, "documents")
      docs.crossJoin(ks)
        .select((col("doc_id") * Copies + col("k")).as("doc_id"),
          regexp_replace(col("text"), lit("(\\S+)"),
            concat(lit("$1_"), col("k"))).as("text"),
          col("lang"), col("source"))
        .withColumn("n_chars", length(col("text")))
        .write.mode("overwrite").parquet(s"$outDir/documents.parquet")

      val emb = Tables(spark, srcDir, "embeddings")
      emb.crossJoin(ks)
        .select((col("vec_id") * Copies + col("k")).as("vec_id"),
          transform(col("embedding"), (x, i) =>
            when(pmod(xxhash64(col("k") * lit(1000) + i), lit(2)) === 0, x)
              .otherwise(-x)).as("embedding"),
          col("label"))
        .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
    }

    // events: 10x the HISTORY — each copy shifted a full 30-day window
    // later, so the stream covers 10x the time at the source's own
    // density (how event data actually accumulates). Per-user depth
    // grows 10x (the as-of merge scan's axis); per-band density stays
    // constant (the range join's match volume grows linearly with the
    // data). The same-window densification variant (all copies in one
    // month) instead grows range-join PAIRS quadratically — that is a
    // traffic-spike stress, not a data-growth profile.
    if (!Files.exists(Paths.get(s"$outDir/events.parquet"))) {
      val ev = Tables(spark, srcDir, "events")
      ev.crossJoin(ks)
        .select((col("event_id") * Copies + col("k")).as("event_id"),
          timestamp_millis(graft.functions.Dates.toEpochMillis(col("ts")) +
            col("k") * lit(2592000000L)).as("ts"),
          col("user_id"), col("event_type"), col("value"), col("props"))
        .write.mode("overwrite").parquet(s"$outDir/events.parquet")
    }

    // star schema: FACT tables (orders, lineitem) and the part catalog
    // replicate 10× with consistently renumbered keys (copy k's
    // lineitems reference copy k's orders and parts, so per-order
    // basket structure replicates exactly); the remaining dims stay
    // 1× — how a warehouse actually grows (more orders per day over
    // the same calendar, same nations/customers/suppliers). Dates are
    // NOT shifted: per-day density ×10 with constant (day × nation)
    // output is the growth profile the rolling/rollup/yoy probes
    // claim sub-linearity on.
    if (!Files.exists(Paths.get(s"$outDir/orders.parquet"))) {
      Tables(spark, srcDir, "orders").crossJoin(ks)
        .select((col("o_orderkey") * Copies + col("k")).as("o_orderkey"),
          col("o_custkey"), col("o_orderstatus"), col("o_totalprice"),
          col("o_orderdate"), col("o_orderpriority"))
        .write.mode("overwrite").parquet(s"$outDir/orders.parquet")
      Tables(spark, srcDir, "lineitem").crossJoin(ks)
        .select((col("l_orderkey") * Copies + col("k")).as("l_orderkey"),
          (col("l_partkey") * Copies + col("k")).as("l_partkey"),
          col("l_suppkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"), col("l_discount"), col("l_tax"),
          col("l_returnflag"), col("l_linestatus"), col("l_shipdate"))
        .write.mode("overwrite").parquet(s"$outDir/lineitem.parquet")
      Tables(spark, srcDir, "part").crossJoin(ks)
        .select((col("p_partkey") * Copies + col("k")).as("p_partkey"),
          col("p_name"), col("p_brand"), col("p_type"), col("p_size"),
          col("p_retailprice"))
        .write.mode("overwrite").parquet(s"$outDir/part.parquet")
      Seq("customer", "supplier", "nation", "region").foreach { tn =>
        Tables(spark, srcDir, tn)
          .write.mode("overwrite").parquet(s"$outDir/$tn.parquet")
      }
    }
  }

  /** The probed pipelines, parameterized by the centroid count (16 at
    * 1×, 160 at 10× — k ∝ n) and the copy multiplier `mult` (scales the
    * x44 benchmark id bound, which rides the doc_id*Copies+k renumbering,
    * and the x45 quotas — inputs a real deployment sizes with its
    * corpus). Shapes mirror the registered queries. */
  private def probes(nCent: Int, mult: Int,
                     gateThr: Double = -2.2,
                     lmThr: Double = -3.4,
                     annTables: (String, String) = ("", ""),
                     annDedupTables: (String, String) = ("", ""),
                     bm25Tables: (String, String) = ("", ""),
                     novTable: String = "",
                     pqTables: (String, String) = ("", ""),
                     ivfPqTables: (String, String, String) = ("", "", ""),
                     edgeTables: (String, String, String, String) =
                       ("", "", "", ""),
                     digestTable: String = "",
                     mergedEdge: (String, Seq[(String, String, Seq[String])]) =
                       ("", Nil),
                     deletedIdx: (String, String) = ("", ""),
                     vedge: (String, String, String, String, String) =
                       ("", "", "", "", ""),
                     mcycDigest: String = "",
                     dsirTable: String = ""
                    ): Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    ("x8_ngram_jaccard", (s: SparkSession, dir: String) =>
      TextDedup.jaccardPairs(Tables(s, dir, "documents"), "doc_id", "text",
        k = 3, threshold = 0.5)),
    ("x32_dedup_clusters", (s: SparkSession, dir: String) => {
      val e = Tables(s, dir, "embeddings")
      val pairs = Similarity.ivfCosinePairs(e,
        e.filter(col("vec_id") < nCent), "vec_id", "embedding", 0.4)
      Components.connectedComponents(pairs, "id1", "id2")
    }),
    ("x36_neardup_apply", (s: SparkSession, dir: String) =>
      TextDedup.neardupSurvivors(Tables(s, dir, "documents"), "doc_id",
        "text", k = 3, threshold = 0.8)),
    ("x39_embedding_dedup", (s: SparkSession, dir: String) => {
      val e = Tables(s, dir, "embeddings")
      Similarity.dedupedVectors(e, e.filter(col("vec_id") < nCent),
        "vec_id", "embedding", 0.4)
    }),
    ("x40_ensemble_dedup", (s: SparkSession, dir: String) => {
      val d = Tables(s, dir, "documents"); val e = Tables(s, dir, "embeddings")
      val tp = TextDedup.minhashLshPairs(d, "doc_id", "text", 3, 0.8)
        .select(col("doc1").as("a"), col("doc2").as("b"))
      val vp = Similarity.ivfCosinePairs(e, e.filter(col("vec_id") < nCent),
          "vec_id", "embedding", 0.4)
        .select(col("id1").as("a"), col("id2").as("b"))
      Components.connectedComponents(tp.union(vp).distinct(), "a", "b")
    }),
    ("x43_containment", (s: SparkSession, dir: String) =>
      TextDedup.containmentPairs(Tables(s, dir, "documents"), "doc_id",
        "text", k = 3, threshold = 0.8)),
    ("x44_bloom_decontam", (s: SparkSession, dir: String) => {
      val d = Tables(s, dir, "documents")
      val bound = 30L * mult // orig ids < 30 under doc_id*Copies+k
      TextAnalysis.decontaminateBloom(d.filter(col("doc_id") >= bound),
        d.filter(col("doc_id") < bound), "doc_id", "text",
        k = 4, threshold = 2)
    }),
    ("x45_quota_sample", (s: SparkSession, dir: String) =>
      TextAnalysis.quotaSample(Tables(s, dir, "documents"), "doc_id",
        "lang", Map("en" -> 60 * mult, "zh" -> 25 * mult),
        defaultQuota = 10 * mult)),
    ("x46_concat_offsets", (s: SparkSession, dir: String) =>
      Packing.concatOffsets(Tables(s, dir, "documents"), "doc_id", "text")),
    // the `_k` token suffix keeps passages/fingerprints disjoint across
    // copies, so both probes' duplicate structure replicates exactly 10×
    ("x50_boilerplate", (s: SparkSession, dir: String) =>
      Cleaning.stripBoilerplate(Tables(s, dir, "documents"), "doc_id",
        "text", passageTokens = 8, maxDf = 1)),
    ("x52_winnow_pairs", (s: SparkSession, dir: String) =>
      TextDedup.winnowPairs(Tables(s, dir, "documents"), "doc_id", "text")),
    // source values are IDENTICAL across copies, so the stratum count —
    // and with it the pair matrix — is constant while each source's
    // vocabulary grows 10x (the `_k` suffix): exactly the shape the
    // per-term #sources bound claims to keep linear
    ("x53_source_similarity", (s: SparkSession, dir: String) =>
      TextAnalysis.sourceSimilarity(Tables(s, dir, "documents"), "text",
        "source")),
    // strip -> redact -> dedup -> split composition; the `_k` suffix
    // keeps passages and cleaned texts disjoint across copies, so the
    // collapse structure replicates exactly 10x
    ("x56_clean_pipeline", (s: SparkSession, dir: String) =>
      CorpusPipeline.curate(Tables(s, dir, "documents"), "doc_id", "text",
        passageTokens = 8, maxDf = 1)),
    // per-copy distinct texts give distinct images; each doc pairs with
    // its re-encoded copy, so pair count scales exactly with the corpus
    ("x59_image_neardup", (s: SparkSession, dir: String) =>
      ImageDedup.nearDupPairs(s,
        Multimodal.syntheticPpmPairs(s, Tables(s, dir, "documents"),
          "doc_id", "text", copyOffset = 10000000L))),
    // one bucket exchange + per-bucket sequential scans — near-linear
    ("x61_pack_chunks", (s: SparkSession, dir: String) =>
      Packing.packDeterministic(s,
        TextAnalysis.chunk(Tables(s, dir, "documents"), "doc_id", "text",
            size = 64, stride = 48)
          .withColumn("n_tokens", size(split(col("chunk"), " "))),
        budget = 200).toDF()),
    // stratum count constant (140) while each stratum's vocabulary
    // grows 10x — signature aggregation is the scaling stage, the
    // banded candidate join is not
    ("x62_source_neighbors", (s: SparkSession, dir: String) =>
      TextAnalysis.sourceNeighbors(
        Tables(s, dir, "documents").withColumn("stratum",
          concat(col("source"), lit("_"),
            pmod(col("doc_id"), lit(7)).cast("string"))),
        "text", "stratum", threshold = 0.95)),
    // components + anti-join on top of the x59 pair machinery
    ("x63_image_dedup_apply", (s: SparkSession, dir: String) =>
      ImageDedup.dedupedImages(s,
        Multimodal.syntheticPpmPairs(s, Tables(s, dir, "documents"),
          "doc_id", "text", copyOffset = 10000000L))),
    // the full image composition: gate -> dedup -> split
    ("x65_image_pipeline", (s: SparkSession, dir: String) =>
      CorpusPipeline.curateImages(s,
        Multimodal.syntheticPpmPairs(s, Tables(s, dir, "documents"),
          "doc_id", "text", copyOffset = 10000000L),
        minContrast = 75.0)),
    // one hash agg + TakeOrderedAndProject; the `_k` suffix multiplies
    // the distinct-pair alphabet 10x but the top-K cut stays K rows
    ("x68_bigram_stats", (s: SparkSession, dir: String) =>
      TextAnalysis.bigramCounts(Tables(s, dir, "documents"), "doc_id",
        "text", topK = 50)),
    // pure per-row projection — the zero-shuffle floor of the suite
    ("x69_classifier_gate", (s: SparkSession, dir: String) =>
      Classifier.gate(Tables(s, dir, "documents"), "doc_id", "text",
        threshold = 0.0)),
    // ANN query path: assignment kernel + probed-bucket join; k ∝ n
    // centroids keep the bucket size (and so per-query work) constant
    ("x70_knn_label", (s: SparkSession, dir: String) => {
      val e = Tables(s, dir, "embeddings")
      Similarity.knnLabel(
        e.filter(pmod(col("vec_id"), lit(5)) === 0),
        e.filter(pmod(col("vec_id"), lit(5)) =!= 0),
        e.filter(col("vec_id") < nCent),
        "vec_id", "embedding", "label", k = 5, nprobe = 2)
    }),
    // two-phase bucket prefix rank + one high-reduction agg
    ("x71_shard_manifest", (s: SparkSession, dir: String) =>
      Packing.shardManifest(Tables(s, dir, "documents"), "doc_id", "text",
        shardSize = 64)),
    // per-row vector math only
    ("x72_quantize", (s: SparkSession, dir: String) =>
      Similarity.quantizeReport(Tables(s, dir, "embeddings"), "vec_id",
        "embedding")),
    // digest anti-join: only (hash, id) pairs move on either side
    ("x74_incremental_dedup", (s: SparkSession, dir: String) => {
      val d = Tables(s, dir, "documents")
      val third = d.filter(pmod(col("doc_id"), lit(3)) === 0)
      TextDedup.incrementalExactDedup(
        third.select((col("doc_id") + 10000000L).as("doc_id"), col("text")),
        d.filter(pmod(col("doc_id"), lit(2)) === 0), "doc_id", "text")
    }),
    // cross-banded candidates only (batch x existing band matches). The
    // batch/existing split keys on ORIGINAL-document parity — under the
    // doc_id*Copies+k renumbering, raw-id parity would equal copy
    // parity (Copies is even), making the sides disjoint `_k`-suffixed
    // copies with ZERO cross near-dups: a 10x probe of an empty verify
    // join. Splitting on floor(doc_id/mult) replicates the 1x fixture's
    // cross-parity near-dup population once per copy, so candidates AND
    // verified pairs scale with the corpus.
    ("x75_incremental_neardup", (s: SparkSession, dir: String) => {
      val d = Tables(s, dir, "documents")
      val orig = floor(col("doc_id") / lit(mult))
      TextDedup.crossNeardupSurvivors(
        d.filter(pmod(orig, lit(2)) === 1)
          .select((col("doc_id") + 10000000L).as("doc_id"), col("text")),
        d.filter(pmod(orig, lit(2)) === 0),
        "doc_id", "text", k = 3, threshold = 0.8)
    }),
    // the export composition: gate + (hash, id) dedup + bucket prefix.
    // The gate threshold is the FIXTURE's measured score median (passed
    // in, computed outside the timed region): the `_k` suffix rehashes
    // every surrogate token weight, so a constant calibrated on the 1x
    // score distribution (-2.2 keeps ~47%) turns near-pass-through
    // (~97%) at 10x — the growth figure would compare different
    // selectivities. Median-derived, both runs gate ~50%.
    ("x73_export_shards", (s: SparkSession, dir: String) =>
      CorpusPipeline.exportShards(Tables(s, dir, "documents"), "doc_id",
        "text", threshold = gateThr, shardSize = 64)),
    // per-split grouped prefix layout - groups proceed in parallel
    ("x77_split_shards", (s: SparkSession, dir: String) =>
      Packing.groupedShardManifest(
        TextAnalysis.hashSplit(Tables(s, dir, "documents"), "doc_id"),
        "doc_id", "text", "split", shardSize = 32)),
    // zero-shuffle per-row array filter
    ("x78_collapse_runs", (s: SparkSession, dir: String) =>
      Cleaning.collapseRuns(Tables(s, dir, "documents"), "doc_id", "text")),
    // one corpus pass (word counts) + 6 bounded rounds over the vocab —
    // the `_k` suffix grows the vocabulary (the iterated table) 10x
    ("x82_bpe_merges", (s: SparkSession, dir: String) =>
      graft.operators.Bpe.merges(Tables(s, dir, "documents"), "text",
        rounds = 6)),
    // narrow gram explode + high-reduction digest agg + islands window;
    // duplicated-span population replicates once per disjoint copy
    ("x83_span_dedup", (s: SparkSession, dir: String) =>
      TextDedup.duplicateSpans(Tables(s, dir, "documents"), "doc_id",
        "text", spanTokens = 8)),
    // train on the 10x vocab, then encode the 10x corpus as a per-row
    // projection — both halves of the tokenizer-prep pair scale
    ("x84_bpe_encode", (s: SparkSession, dir: String) => {
      val d = Tables(s, dir, "documents")
      graft.operators.Bpe.encodeStats(d, "doc_id", "text",
        graft.operators.Bpe.mergeList(d, "text", rounds = 6))
    }),
    // narrow chunk explode + ONE high-reduction digest agg + per-doc
    // reassembly; the `_k` suffix keeps chunks disjoint across copies,
    // so the duplicate-chunk structure replicates exactly 10x
    ("x85_paragraph_dedup", (s: SparkSession, dir: String) =>
      TextDedup.dedupParagraphs(Tables(s, dir, "documents"), "doc_id",
        "text", chunk = 12)),
    // pair stream + two vocabulary-bounded count tables (both 10x under
    // the `_k` suffix) + the folded distinct-doc-pair join
    ("x86_bigram_lm", (s: SparkSession, dir: String) =>
      TextAnalysis.bigramLmScores(Tables(s, dir, "documents"), "doc_id",
        "text")),
    // decisions (x83 chain) + one doc-id join + per-row positional cut;
    // the disjoint copies replicate the span population exactly 10x
    ("x87_span_apply", (s: SparkSession, dir: String) => {
      val d = Tables(s, dir, "documents")
      TextDedup.applySpanRemovals(d, "doc_id", "text",
        TextDedup.duplicateSpans(d, "doc_id", "text", spanTokens = 8))
    }),
    // constant 10-query broadcast x 10x corpus scan over int8 codes —
    // the brute-force re-rank tier's linearity in corpus size
    ("x88_quantized_ann", (s: SparkSession, dir: String) => {
      val e = Tables(s, dir, "embeddings")
      Similarity.quantizedTopK(e.filter(col("vec_id") < 10), e,
        "vec_id", "embedding", k = 5)
    }),
    // x85's digest agg + reassembly feeding x86's vocab-bounded counts.
    // The gate threshold is the FIXTURE's measured avg_logprob median
    // (passed in, computed outside the timed region): add-one smoothing
    // divides by count(w)+V, and the `_k` suffix grows V 10×, so every
    // log-prob shifts down ~ln(10) at 10× — the constant −3.4 kept 134
    // docs at 1× but only 50 at 10× (different selectivities, the x73
    // trap). Median-derived, both runs gate ~50%.
    ("x89_lm_curate", (s: SparkSession, dir: String) =>
      CorpusPipeline.lmCurate(Tables(s, dir, "documents"), "doc_id",
        "text", chunk = 12, minLogprob = lmThr)),
    // codebook TRAINING cost is rounds × n × k with k a model
    // hyperparameter, so hold k = 8 fixed (the 10× fixture's 8 smallest
    // vec_ids are sign-pattern variants of original vector 0 — still 8
    // distinct seed directions) and let the probe isolate the
    // corpus-linear term: 3 kernel passes + 3 k×dims aggregates
    ("x90_kmeans_codebook", (s: SparkSession, dir: String) => {
      val e = Tables(s, dir, "embeddings")
      Similarity.kmeansCodebook(e, e.filter(col("vec_id") < 8),
        "vec_id", "embedding", rounds = 3)
    }),
    // FIXED 10-query probe set over the persisted index (built untimed
    // per fixture): k ∝ n keeps bucket sizes constant and bucket
    // pruning keeps the read at nprobe/k of the index, so per-query
    // cost — and the whole probe — should stay ~flat as the corpus
    // grows 10×: the IVF index promise, measured
    ("x91_ann_indexed", (s: SparkSession, dir: String) =>
      Similarity.ivfTopKIndexed(
        Tables(s, dir, "embeddings").filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 3, nprobe = 2,
        annTables._1, annTables._2)),
    // batch/existing split on ORIGINAL parity (the corrected-x75
    // lesson: renumbered-id parity == copy parity, which would make
    // the split disjoint copy families with no cross near-dups); the
    // same-sign-pattern pairs replicate ~10× while the probed-bucket
    // candidate population stays bucket-bounded under k ∝ n
    ("x92_embedding_dedup_indexed", (s: SparkSession, dir: String) => {
      val e = Tables(s, dir, "embeddings")
      val orig = floor(col("vec_id") / lit(mult)).cast("long")
      Similarity.embeddingSurvivorsIndexed(
        e.filter(pmod(orig, lit(2)) === 1),
        "vec_id", "embedding", threshold = 0.4, nprobe = 2,
        annDedupTables._1, annDedupTables._2)
        .select(col("vec_id"))
    }),
    // weight-table join path: the `_k` suffix grows the vocabulary 10x
    // with the corpus, so the broadcast side scales too
    ("x79_classifier_join", (s: SparkSession, dir: String) => {
      val d = Tables(s, dir, "documents")
      val vocab = d
        .select(explode(graft.functions.Text.tokens(col("text"))).as("term"))
        .distinct()
        .withColumn("weight", Classifier.hashedWeight(col("term")))
      Classifier.scoreWithTable(d, "doc_id", "text", vocab)
    }),
    // the `_k` suffix renames every token, so the 1x query terms match
    // nothing at 10x — probe with all per-copy variants instead (4×mult
    // terms): per-term df stays constant, postings scale exactly 10x,
    // and the top-k cut stays 50 rows. |q| growing with the corpus is
    // the probe artifact, not the operator's law (a real query is
    // corpus-independent); the corpus-linear stages are the two scans.
    ("x98_bm25_topk", (s: SparkSession, dir: String) => {
      val base = Seq("join", "hash", "window", "spark")
      val terms = if (mult == 1) base
        else (0 until mult).flatMap(k => base.map(t => s"${t}_$k"))
      graft.operators.Retrieval.bm25TopK(Tables(s, dir, "documents"),
        "doc_id", "text", terms, topK = 50)
    }),
    // source values are identical across copies → constant stratum
    // count with 10x docs per stratum; cap ∝ corpus keeps the output
    // fraction constant (the deployment sizing), and the salted top-k
    // is the skew-proof stage under test
    ("x99_source_cap", (s: SparkSession, dir: String) =>
      graft.operators.Retrieval.sourceQualityCap(
        Tables(s, dir, "documents"), "doc_id", "text", "source",
        maxPerSource = 10 * mult)),
    // benchmark = all copies of original ids < 20 (the x44 renumbering
    // bound): bench side scales with mult, per-copy shingle disjointness
    // replicates the leak-pair population exactly 10x
    ("x100_contam_pairs", (s: SparkSession, dir: String) => {
      val d = Tables(s, dir, "documents")
      val bound = 20L * mult
      graft.operators.Retrieval.contaminationPairs(
        d.filter(col("doc_id") >= bound), d.filter(col("doc_id") < bound),
        "doc_id", "text", k = 3, threshold = 3)
    }),
    // one assignment kernel pass + a k-row agg; k ∝ n keeps per-bucket
    // sizes (and the report's row count growth) linear
    ("x101_ivf_balance", (s: SparkSession, dir: String) => {
      val e = Tables(s, dir, "embeddings")
      Similarity.ivfBalanceReport(e, e.filter(col("vec_id") < nCent),
        "vec_id", "embedding")
    }),
    // train on the 10x vocab (untimed would be x82's probe; here the
    // whole composition is timed like x84) then one projection + join +
    // 5-row agg — the encode scan is the corpus-linear stage
    ("x102_bpe_compression", (s: SparkSession, dir: String) => {
      val d = Tables(s, dir, "documents")
      graft.operators.Bpe.compressionByGroup(d, "doc_id", "text", "lang",
        graft.operators.Bpe.mergeList(d, "text", rounds = 6))
    }),
    // static 256-bucket distributed rank: bucket count fixed, each
    // bucket's local sort grows 10x — the no-global-sort rank's
    // linearity is what's probed
    ("x103_curriculum", (s: SparkSession, dir: String) =>
      graft.operators.TextAnalysis.curriculumPhases(
        Tables(s, dir, "documents"), "doc_id", "text", nPhases = 4)),
    // the `_k` suffix keeps copies' shingle alphabets disjoint, so each
    // copy's df structure — and every novelty value — replicates
    // exactly; the df agg + hash join are the scaling stages
    ("x104_novelty", (s: SparkSession, dir: String) =>
      graft.operators.TextAnalysis.noveltyScores(
        Tables(s, dir, "documents"), "doc_id", "text", k = 3)),
    // pure per-row normalize kernel — the zero-shuffle floor (x69/x78
    // class)
    ("x105_nfc_clean", (s: SparkSession, dir: String) =>
      graft.operators.Cleaning.nfcClean(
        Tables(s, dir, "documents"), "doc_id", "text")),
    // the `_k` suffix grows the vocabulary 10x but the top-V cut stays
    // V rows; sources are identical across copies, so the
    // (#sources × V)-bounded exchange is constant while the term-count
    // scan scales — the broadcast-cut design under test
    ("x106_source_drift", (s: SparkSession, dir: String) =>
      graft.operators.TextAnalysis.sourceDrift(
        Tables(s, dir, "documents"), "doc_id", "text", "source",
        vocabSize = 200)),
    // x98's query set over the PERSISTED index (built untimed per
    // fixture): postings scale 10× but bucket pruning reads only the
    // query terms' buckets, and df-per-term stays constant under the
    // `_k` vocabulary renaming — the inverted-index promise (queries
    // pay |postings(q)|, never the corpus), measured
    ("x107_bm25_indexed", (s: SparkSession, dir: String) => {
      val base = Seq("join", "hash", "window", "spark")
      val terms = if (mult == 1) base
        else (0 until mult).flatMap(k => base.map(t => s"${t}_$k"))
      graft.operators.Retrieval.bm25TopKIndexed(s, bm25Tables._1,
        bm25Tables._2, terms, topK = 50)
    }),
    // x97's component machinery + one corpus projection; per-copy
    // shingle disjointness replicates the cluster structure exactly
    // 10×, sources are identical across copies → constant output rows
    ("x108_source_duplication", (s: SparkSession, dir: String) =>
      graft.operators.CorpusPipeline.sourceDuplication(
        Tables(s, dir, "documents"), "doc_id", "text", "source",
        k = 3, threshold = 0.5)),
    // the x8 graph again with pair-sized source stamping; per-copy
    // pair replication × constant source set → constant matrix rows
    ("x109_cross_source_dups", (s: SparkSession, dir: String) =>
      graft.operators.CorpusPipeline.crossSourceDuplication(
        Tables(s, dir, "documents"), "doc_id", "text", "source",
        k = 3, threshold = 0.5)),
    // x104's serving form over the persisted df index (built untimed):
    // one batch kernel scan + the bucketed index join — the df
    // aggregate drops out of the timed path
    ("x110_novelty_indexed", (s: SparkSession, dir: String) =>
      graft.operators.TextAnalysis.noveltyScoresIndexed(s,
        Tables(s, dir, "documents"), "doc_id", "text", k = 3,
        novTable)),
    // the `_k` suffix grows the vocabulary 10x; the top-V cut and the
    // V-row regression stay constant — x106's shape on the fit side
    ("x111_zipf_audit", (s: SparkSession, dir: String) =>
      graft.operators.TextAnalysis.zipfAudit(
        Tables(s, dir, "documents"), "text", vocabSize = 200)),
    // per-copy token counts are preserved by the suffix renaming, so
    // buckets — and the output rows — are identical at 10x; the
    // projection scan is the only scaling stage (x105's class)
    ("x112_length_histogram", (s: SparkSession, dir: String) =>
      graft.operators.TextAnalysis.lengthHistogram(
        Tables(s, dir, "documents"), "doc_id", "text", "source")),
    ("x113_mix_entropy", (s: SparkSession, dir: String) =>
      graft.operators.TextAnalysis.mixEntropy(
        Tables(s, dir, "documents"), "doc_id", "text", "source")),
    // x103's bucketed-rank machinery with a 5-row target join — each
    // static bucket's local sort grows 10x, the rollup stays ≤256 rows
    ("x114_score_quantiles", (s: SparkSession, dir: String) =>
      graft.operators.TextAnalysis.scoreQuantiles(
        Tables(s, dir, "documents"), "doc_id", "text",
        quantiles = Seq(0.1, 0.25, 0.5, 0.75, 0.9))),
    // digest window + source rollup; the `_k` suffix keeps duplicate
    // families disjoint across copies, so group structure replicates
    ("x115_exact_dup_savings", (s: SparkSession, dir: String) =>
      graft.operators.CorpusPipeline.exactDupSavings(
        Tables(s, dir, "documents"), "doc_id", "text", "source")),
    // the x8 pair machinery dominates (x108's class); the quality
    // argmax adds one near-dup-sized broadcast aggregate
    ("x116_quality_reps", (s: SparkSession, dir: String) =>
      graft.operators.CorpusPipeline.qualityReps(
        Tables(s, dir, "documents"), "doc_id", "text",
        k = 3, threshold = 0.5)),
    // one corpus scan -> #sources-row rollup; the window is
    // #sources-bounded, so only the scan scales
    ("x117_mixture_plan", (s: SparkSession, dir: String) =>
      graft.operators.TextAnalysis.mixturePlan(
        Tables(s, dir, "documents"), "doc_id", "text", "source",
        budgetTokens = 500000L)),
    // zero-shuffle regexp scan + #sources rollup (x60's class)
    ("x118_pii_rate", (s: SparkSession, dir: String) =>
      graft.operators.Cleaning.piiRate(
        Tables(s, dir, "documents"), "text", "source")),
    // two bucketed-rank passes (x114's class twice); the gate filter
    // itself is zero-shuffle
    ("x119_calibrated_gate", (s: SparkSession, dir: String) =>
      graft.operators.TextAnalysis.calibratedGate(
        Tables(s, dir, "documents"), "doc_id", "text", q = 0.25)),
    // pair/term counts leave their scans as (key, count) rows; the
    // minCount filter prunes before the vocabulary-bounded joins
    ("x150_pmi_collocations", (s: SparkSession, dir: String) =>
      graft.operators.TextAnalysis.pmiCollocations(
        Tables(s, dir, "documents"), "doc_id", "text", minCount = 5,
        topK = 50)),
    // vocabulary-bounded aggregate + K-row window; denominator 1-row
    ("x151_vocab_coverage", (s: SparkSession, dir: String) =>
      graft.operators.TextAnalysis.vocabCoverage(
        Tables(s, dir, "documents"), "doc_id", "text", topK = 100)),
    // x86's LM chain dominates (vocabulary-bounded count tables); the
    // grouped rank adds (lang, bucket) windows + two broadcast tables
    ("x146_ccnet_buckets", (s: SparkSession, dir: String) =>
      graft.operators.TextAnalysis.ccnetBuckets(
        Tables(s, dir, "documents"), "doc_id", "text", "lang",
        Seq("head", "middle", "tail"))),
    // two scoring scans (threshold + gate) + the grouped rank's
    // windows; threshold table is |langs| rows, broadcast
    ("x147_lang_calibrated_gate", (s: SparkSession, dir: String) =>
      graft.operators.TextAnalysis.groupedCalibratedGate(
        Tables(s, dir, "documents"), "doc_id", "text", "lang",
        q = 0.25)),
    // PQ codebook size is a model hyperparameter (x90's argument): hold
    // m=4/k=8 fixed and let the probe isolate the corpus-linear terms —
    // m·rounds codebook-stats passes + the one-scan encode
    ("x120_pq_codes", (s: SparkSession, dir: String) =>
      graft.operators.Similarity.pqEncode(Tables(s, dir, "embeddings"),
        "vec_id", "embedding", m = 4, k = 8, rounds = 2)),
    // FIXED 10-query ADC probe: per-vector cost is m lookups + adds
    // regardless of dim, so the scan scales linearly and the ranking
    // exchange carries (ids, long) only
    ("x121_pq_topk", (s: SparkSession, dir: String) => {
      val e = Tables(s, dir, "embeddings")
      graft.operators.Similarity.pqTopK(e.filter(col("vec_id") < 10), e,
        "vec_id", "embedding", topK = 5, m = 4, k = 8, rounds = 2)
    }),
    // x120's training cost + a one-scan m-row aggregate
    ("x122_pq_distortion", (s: SparkSession, dir: String) =>
      graft.operators.Similarity.pqDistortion(
        Tables(s, dir, "embeddings"), "vec_id", "embedding",
        m = 4, k = 8, rounds = 2)),
    // IVF bucket count scales with the corpus (nCent, the x10/x90
    // sizing rule) while PQ's m/k stay fixed — candidates per probe
    // stay constant, so only training + the (bucket, codes) scan grow
    ("x123_ivf_pq_topk", (s: SparkSession, dir: String) => {
      val e = Tables(s, dir, "embeddings")
      graft.operators.Similarity.ivfPqTopK(e.filter(col("vec_id") < 10),
        e, e.filter(col("vec_id") < nCent), "vec_id", "embedding",
        topK = 5, nprobe = 2, m = 4, k = 8, rounds = 2)
    }),
    // x121's query set over the PERSISTED index (built untimed per
    // fixture): zero training in the timed path; the codes scan is the
    // linear stage and each row costs m lookups
    ("x124_pq_indexed", (s: SparkSession, dir: String) => {
      val e = Tables(s, dir, "embeddings")
      graft.operators.Similarity.pqTopKIndexed(s,
        e.filter(col("vec_id") < 10), "vec_id", "embedding",
        pqTables._1, pqTables._2, topK = 5)
    }),
    // one scoring scan into a ≤21-row aggregate (x112's class on the
    // score axis)
    ("x125_score_histogram", (s: SparkSession, dir: String) =>
      graft.operators.TextAnalysis.scoreHistogram(
        Tables(s, dir, "documents"), "doc_id", "text", buckets = 20)),
    // x103's bucketed-rank pass + an id-equi source join; output stays
    // nPhases × #sources
    ("x126_phase_source_matrix", (s: SparkSession, dir: String) =>
      graft.operators.TextAnalysis.phaseSourceMatrix(
        Tables(s, dir, "documents"), "doc_id", "text", "source",
        nPhases = 4)),
    // x123's query set over the PERSISTED composed index (built
    // untimed): zero training in the timed path; candidates per probe
    // stay constant (bucket count ∝ corpus), so only the bucket-pruned
    // codes scan grows — the x124/x91 serving profile composed
    ("x127_ivf_pq_indexed", (s: SparkSession, dir: String) => {
      val e = Tables(s, dir, "embeddings")
      graft.operators.Similarity.ivfPqTopKIndexed(s,
        e.filter(col("vec_id") < 10), "vec_id", "embedding",
        ivfPqTables._1, ivfPqTables._2, ivfPqTables._3,
        topK = 5, nprobe = 2)
    }),
    // the audit joins are top-k-sized; every approximate leg serves
    // from its persisted index (the registered query's shape) — the
    // brute-force exact legs are the only corpus-vector scans
    ("x128_ann_recall", (s: SparkSession, dir: String) => {
      val sim = graft.operators.Similarity
      val e = Tables(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 10)
      sim.recallReport(Seq(
        ("ivf", sim.bruteForceTopK(q, e, "vec_id", "embedding", 3),
          sim.ivfTopKIndexed(q, "vec_id", "embedding", 3, 2,
            annTables._1, annTables._2), 3),
        ("pq", sim.bruteForceTopK(q, e, "vec_id", "embedding", 5),
          sim.pqTopKIndexed(s, q, "vec_id", "embedding",
            pqTables._1, pqTables._2, 5), 5),
        ("ivfpq", sim.bruteForceTopK(q, e, "vec_id", "embedding", 5),
          sim.ivfPqTopKIndexed(s, q, "vec_id", "embedding",
            ivfPqTables._1, ivfPqTables._2, ivfPqTables._3, 5, 2), 5)))
    }),
    // one key exchange + a linear merge scan per user — the same cost
    // class as q13 sessionize; the naive theta-join alternative grows
    // quadratically in per-user event depth
    ("x143_asof_join", (s: SparkSession, dir: String) => {
      val ev = Tables(s, dir, "events")
      graft.operators.Temporal.asofJoin(
        ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts")),
        ev.filter(col("event_type") === "click"),
        "user_id", "ts", "ts", "event_id", Seq("value"))
    }),
    // equality join on the time band: both sides shuffle once on
    // floor(ms/radius); match volume grows with density (pairs within
    // the radius), the plan shape never degrades to a cartesian
    // grouped bucketed rank over (day, value): 10x history = 10x
    // groups at constant per-day population
    ("x156_daily_value_quantiles", (s: SparkSession, dir: String) => {
      val ms = graft.functions.Dates.toEpochMillis(col("ts"))
      graft.operators.TextAnalysis.groupedQuantiles(
        Tables(s, dir, "events")
          .filter(col("event_type") === "purchase")
          .select(col("event_id"),
            ((ms - pmod(ms, lit(86400000L))) / lit(86400000L))
              .cast("long").as("day"),
            graft.functions.Num.fpRound(col("value"), 4).as("value")),
        "event_id", "day", "value", Seq(0.5, 0.9, 0.99))
    }),
    // scd2 build + the as-of merge scan against its version starts —
    // two key exchanges total over 10x per-user history
    ("x155_dim_enrich", (s: SparkSession, dir: String) => {
      val ev = Tables(s, dir, "events")
      graft.operators.Temporal.enrichAsOf(
        ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts")),
        graft.operators.Temporal.scd2(ev, "user_id", "ts", "event_id",
          "event_type"),
        "user_id", "ts", Seq("event_type"))
    }),
    // user-keyed purchase aggregate + three grouped-rank score axes
    // (score-range buckets, broadcast offsets — no global sort)
    ("x154_rfm_segments", (s: SparkSession, dir: String) =>
      graft.operators.Analytics.rfmSegments(
        Tables(s, dir, "events"), "user_id", "ts", "event_type",
        "value", purchaseType = "purchase")),
    // one user exchange; the per-user week set is calendar-bounded —
    // the 10x time-stretched axis grows it 10x here (300 days), the
    // triangle output with it
    ("x152_cohort_retention", (s: SparkSession, dir: String) =>
      graft.operators.Analytics.cohortRetention(
        Tables(s, dir, "events"), "user_id", "ts")),
    // three user-keyed conditional-min stages; per-user event depth
    // grows 10x, stage frames stay user-count-bounded
    ("x153_funnel", (s: SparkSession, dir: String) =>
      graft.operators.Analytics.funnel(
        Tables(s, dir, "events"), "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"))),
    // one key exchange + linear per-user window scans over 10x
    // per-user history; output versions grow with the data
    ("x148_scd2_dimension", (s: SparkSession, dir: String) =>
      graft.operators.Temporal.scd2(
        Tables(s, dir, "events"), "user_id", "ts", "event_id",
        "event_type")),
    // one-sided (user, band) equi-join at constant band density; the
    // touch-rank window partitions by purchase — the pair stream's
    // own grain
    ("x149_multitouch", (s: SparkSession, dir: String) => {
      val ev = Tables(s, dir, "events")
      graft.operators.Temporal.multiTouchAttribution(
        ev.filter(col("event_type") === "purchase"), "event_id", "ts",
        "value",
        ev.filter(col("event_type") === "click"), "event_id", "ts",
        "user_id", windowMs = 7200000L)
    }),
    ("x144_range_join", (s: SparkSession, dir: String) => {
      val ev = Tables(s, dir, "events")
      graft.operators.Temporal.proximityAgg(
        ev.filter(col("event_type") === "purchase"), "event_id", "ts",
        ev.filter(col("event_type") === "click"), "ts",
        "value", radiusMs = 3600000L)
    }),
    // one IVF query's corpus cost (candidate vectors ride along from
    // the index); the |q|·candK² pair cosines and the k greedy stages
    // run on cached query-set-sized frames
    ("x145_mmr_rerank", (s: SparkSession, dir: String) =>
      graft.operators.Similarity.mmrTopKIndexed(
        Tables(s, dir, "embeddings").filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, candK = 20, nprobe = 2,
        lambda = 0.7, annTables._1, annTables._2)),
    // x91's serving cost exactly (same pruned scan, same broadcast
    // probe join) plus one exchange of the pruned candidates for the
    // per-cell cap window
    ("x142_diversified_topk", (s: SparkSession, dir: String) =>
      graft.operators.Similarity.diversifiedTopKIndexed(
        Tables(s, dir, "embeddings").filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, nprobe = 2, perCluster = 3,
        annTables._1, annTables._2)),
    // x128's class on the ranking metrics: both audited legs serve
    // from the persisted codes table, the metric joins are
    // top-k-sized — the exact baseline is the only corpus-vector scan
    ("x141_ranking_quality", (s: SparkSession, dir: String) => {
      val sim = graft.operators.Similarity
      val e = Tables(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 10)
      val ex5 = sim.bruteForceTopK(q, e, "vec_id", "embedding", 5)
      sim.rankingReport(Seq(
        ("pq_adc", ex5, sim.pqTopKIndexed(s, q, "vec_id", "embedding",
          pqTables._1, pqTables._2, 5), 5),
        ("pq_rerank", ex5, sim.pqRerankTopKIndexed(s, q, e, "vec_id",
          "embedding", pqTables._1, pqTables._2, 5, 50), 5)))
    }),
    // hybrid serving at a CONSTANT query load as the corpus grows —
    // the serving profile: both legs are bucket-pruned index scans
    // (postings by term, ANN assignment by probed centroid), the
    // fusion join is top-k-sized; growth comes only from the pruned
    // buckets (term postings and centroid buckets each ~10x) while
    // everything after the legs stays constant
    ("x135_hybrid_rrf", (s: SparkSession, dir: String) => {
      val ret = graft.operators.Retrieval
      val lex = ret.bm25TopKPerQueryIndexed(s, bm25Tables._1,
        bm25Tables._2,
        Tables(s, dir, "documents").filter(col("doc_id") < 10),
        "doc_id", "text", topK = 10)
      val vec = graft.operators.Similarity.ivfTopKIndexed(
        Tables(s, dir, "embeddings").filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 10, nprobe = 2,
        annTables._1, annTables._2)
      ret.rrfFuse(lex, vec, topK = 10)
    }),
    // same two legs, anti-join tail: the mining stage adds nothing
    // corpus-sized on top of the legs
    ("x136_hard_negatives", (s: SparkSession, dir: String) => {
      val ret = graft.operators.Retrieval
      val lex = ret.bm25TopKPerQueryIndexed(s, bm25Tables._1,
        bm25Tables._2,
        Tables(s, dir, "documents").filter(col("doc_id") < 10),
        "doc_id", "text", topK = 10)
      val vec = graft.operators.Similarity.ivfTopKIndexed(
        Tables(s, dir, "embeddings").filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 10, nprobe = 2,
        annTables._1, annTables._2)
      ret.hardNegatives(vec, lex, topK = 5)
    }),
    // triplet emission = x136 + a query-count-sized broadcast join
    ("x137_contrastive_triplets", (s: SparkSession, dir: String) => {
      val ret = graft.operators.Retrieval
      val lex = ret.bm25TopKPerQueryIndexed(s, bm25Tables._1,
        bm25Tables._2,
        Tables(s, dir, "documents").filter(col("doc_id") < 10),
        "doc_id", "text", topK = 10)
      val vec = graft.operators.Similarity.ivfTopKIndexed(
        Tables(s, dir, "embeddings").filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 10, nprobe = 2,
        annTables._1, annTables._2)
      ret.contrastiveTriplets(vec, lex, negK = 5)
    }),
    // two bucket-pruned postings rounds + one id-IN feedback fetch at
    // constant query load: what grows is the pruned term buckets, not
    // the feedback text (fbK·|queries| docs regardless of corpus)
    ("x139_expansion_terms", (s: SparkSession, dir: String) =>
      graft.operators.Retrieval.expansionTerms(s, bm25Tables._1,
        bm25Tables._2,
        Tables(s, dir, "documents").filter(col("doc_id") < 10),
        "doc_id", "text", Tables(s, dir, "documents"),
        fbK = 5, expandM = 5)),
    ("x140_prf_retrieval", (s: SparkSession, dir: String) =>
      graft.operators.Retrieval.bm25TopKExpandedIndexed(s, bm25Tables._1,
        bm25Tables._2,
        Tables(s, dir, "documents").filter(col("doc_id") < 10),
        "doc_id", "text", Tables(s, dir, "documents"),
        fbK = 5, expandM = 5, topK = 10)),
    // the audit is corpus-free past the legs: a top-k-sized full-outer
    // join into a |queries|-row aggregate
    ("x138_fusion_overlap", (s: SparkSession, dir: String) => {
      val ret = graft.operators.Retrieval
      val lex = ret.bm25TopKPerQueryIndexed(s, bm25Tables._1,
        bm25Tables._2,
        Tables(s, dir, "documents").filter(col("doc_id") < 10),
        "doc_id", "text", topK = 10)
      val vec = graft.operators.Similarity.ivfTopKIndexed(
        Tables(s, dir, "embeddings").filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 10, nprobe = 2,
        annTables._1, annTables._2)
      ret.legOverlap(lex, vec)
    }),
    // SAMPLE-trained distortion with the sample held to a CONSTANT
    // absolute budget as data grows (trainPct 50 at 1x -> 5 at 10x, the
    // warehouse sizing rule: the codebook is k·dim numbers, its training
    // set is an absolute budget, not a fraction) — the m·rounds Lloyd
    // passes stay flat and only the one-scan report grows, vs x122
    // paying 10x on every training pass
    ("x129_pq_sample_distortion", (s: SparkSession, dir: String) =>
      graft.operators.Similarity.pqDistortion(
        Tables(s, dir, "embeddings"), "vec_id", "embedding",
        m = 4, k = 8, rounds = 2, trainPct = math.max(1, 50 / mult))),
    // x121's ADC scan + a queries×shortlist broadcast fetch join +
    // a shortlist-bounded re-rank window — exact-vector reads per
    // query stay at `shortlist` regardless of corpus size
    ("x130_pq_rerank_topk", (s: SparkSession, dir: String) => {
      val e = Tables(s, dir, "embeddings")
      graft.operators.Similarity.pqRerankTopK(
        e.filter(col("vec_id") < 10), e, "vec_id", "embedding",
        topK = 5, shortlist = 50)
    }),
    // x3's broadcast-scan shape over the 16-component prefix: the scan
    // grows linearly, each row costs a quarter of the full-width dot
    ("x132_truncated_topk", (s: SparkSession, dir: String) => {
      val e = Tables(s, dir, "embeddings")
      graft.operators.Similarity.truncatedTopK(
        e.filter(col("vec_id") < 10), e, "vec_id", "embedding",
        k = 5, dims = 16)
    }),
    // codes-table ADC short-list (zero training, x124's class) + a
    // queries×shortlist broadcast vector fetch — the serving form of
    // x130's two stages
    ("x134_pq_rerank_indexed", (s: SparkSession, dir: String) => {
      val e = Tables(s, dir, "embeddings")
      graft.operators.Similarity.pqRerankTopKIndexed(s,
        e.filter(col("vec_id") < 10), e, "vec_id", "embedding",
        pqTables._1, pqTables._2, topK = 5, shortlist = 50)
    }),
    // two digest scans + one id-keyed full-outer join of 40-byte rows;
    // text never moves past the scans
    ("x133_snapshot_diff", (s: SparkSession, dir: String) => {
      val d = Tables(s, dir, "documents")
      val v1 = d.filter(pmod(col("doc_id"), lit(3)) =!= 0)
      val v2 = d.filter(pmod(col("doc_id"), lit(2)) =!= 0)
        .withColumn("text", when(pmod(col("doc_id"), lit(5)) === 0,
          concat(col("text"), lit(" rev2"))).otherwise(col("text")))
      TextDedup.snapshotDiff(v1, v2, "doc_id", "text")
    }),
    // ONE Expand-fed aggregate over 10x orders into a constant
    // (nation × year) cube — pure scan growth
    ("x157_rollup_revenue", (s: SparkSession, dir: String) =>
      graft.operators.Olap.rollupRevenue(Tables(s, dir, "orders"),
        Tables(s, dir, "customer"), Tables(s, dir, "nation"))),
    // declared-domain pivot: single hash aggregate, output = years
    ("x158_segment_pivot", (s: SparkSession, dir: String) =>
      graft.operators.Olap.segmentPivot(Tables(s, dir, "orders"),
        Tables(s, dir, "customer"),
        Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
          "MACHINERY"))),
    // one scan + multi-distinct Expand; the distinct sets (partkeys)
    // grow 10x under the renumbering, the card stays 11 rows
    ("x159_profile_card", (s: SparkSession, dir: String) =>
      graft.operators.Olap.profileCard(Tables(s, dir, "lineitem"),
        numCols = Seq("l_orderkey", "l_partkey", "l_suppkey",
          "l_linenumber", "l_quantity", "l_extendedprice", "l_discount",
          "l_tax"),
        strCols = Seq("l_returnflag", "l_linestatus"),
        tsCols = Seq("l_shipdate"))),
    // per-size aggregate over a 10x part catalog; the frontier window
    // and join-back stay size-dictionary-bounded
    ("x160_pareto_front", (s: SparkSession, dir: String) =>
      graft.operators.Olap.paretoFront(Tables(s, dir, "part"))),
    // 10x lineitems per day at constant calendar: the daily aggregate
    // scans 10x, the RANGE window frame stays (nation × day)-bounded
    ("x161_rolling_revenue", (s: SparkSession, dir: String) =>
      graft.operators.Analytics.rollingRevenue(
        Tables(s, dir, "lineitem"), Tables(s, dir, "supplier"),
        Tables(s, dir, "nation"))),
    // yearly aggregate scans 10x orders into a constant
    // (nation × year) frame; the LAG window never grows
    ("x162_yoy_growth", (s: SparkSession, dir: String) =>
      graft.operators.Analytics.yoyGrowth(Tables(s, dir, "orders"),
        Tables(s, dir, "customer"), Tables(s, dir, "nation"))),
    // 10x events over 10x history (time-stretched axis): the daily
    // aggregate output grows 10x, the per-type stats stay 5 rows
    ("x163_anomaly_days", (s: SparkSession, dir: String) =>
      graft.operators.Analytics.anomalyDays(Tables(s, dir, "events"),
        "ts", "event_type", sigmas = 2)),
    // 10x baskets at a constant brand dictionary: distinct-pair
    // volume and per-brand counts scale linearly, fanout per order is
    // dictionary-bounded; minCount ∝ corpus keeps the rule set fixed
    ("x164_brand_affinity", (s: SparkSession, dir: String) =>
      graft.operators.Analytics.basketAffinity(
        Tables(s, dir, "lineitem"), Tables(s, dir, "part"),
        minCount = 5L * mult)),
    // per-customer revenue depth grows 10x; the ranked frame stays
    // customer-count-bounded (the grouped bucketed rank's axis)
    ("x165_gini", (s: SparkSession, dir: String) =>
      graft.operators.Analytics.giniConcentration(
        Tables(s, dir, "orders"), Tables(s, dir, "customer"),
        Tables(s, dir, "nation"))),
    // 10x rows AND 10x distinct hashes; the sketch stays k-bounded
    // per group after the salted partial top-k
    ("x166_kmv_distinct", (s: SparkSession, dir: String) =>
      graft.operators.Sketches.kmvDistinct(Tables(s, dir, "lineitem"),
        "l_returnflag", "l_partkey", k = 64)),
    // 10x lineitems into a constant (nation, day) frame, then a
    // dictionary-sized moment aggregate — windowless
    ("x167_revenue_trend", (s: SparkSession, dir: String) =>
      graft.operators.Analytics.revenueTrend(Tables(s, dir, "lineitem"),
        Tables(s, dir, "supplier"), Tables(s, dir, "nation"))),
    // one user exchange over 10x events; everything after is 2 rows
    ("x168_ab_test", (s: SparkSession, dir: String) =>
      graft.operators.Analytics.abConversion(Tables(s, dir, "events"),
        "user_id", "event_type", "purchase", minCount = 14)),
    // x153's user-keyed chain over 10x per-user depth + grouped
    // quantile cut over user-count-bounded delta frames
    ("x169_funnel_latency", (s: SparkSession, dir: String) =>
      graft.operators.Analytics.funnelLatency(Tables(s, dir, "events"),
        "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"))),
    // 10x orders into a dictionary-bounded cell table; margins and
    // the chi-square tail never see the corpus
    ("x170_chi_square", (s: SparkSession, dir: String) =>
      graft.operators.Olap.chiSquare(
        Tables(s, dir, "orders").join(Tables(s, dir, "customer"),
          col("o_custkey") === col("c_custkey")),
        "c_mktsegment", "o_orderpriority")),
    // 10x lineitems into a (nation × 7)-bounded frame — windowless
    ("x171_weekday_seasonality", (s: SparkSession, dir: String) =>
      graft.operators.Analytics.weekdaySeasonality(
        Tables(s, dir, "lineitem"), Tables(s, dir, "supplier"),
        Tables(s, dir, "nation"))),
    // x165's aggregate + grouped-rank machinery; decile frames stay
    // customer-count-bounded as per-customer depth grows 10x
    ("x172_lorenz_curve", (s: SparkSession, dir: String) =>
      graft.operators.Analytics.lorenzCurve(Tables(s, dir, "orders"),
        Tables(s, dir, "customer"), Tables(s, dir, "nation"))),
    // per-customer depth grows 10x but the ranked quartile frame stays
    // customer-count-bounded (the x165 argument); fences broadcast
    ("x173_iqr_outliers", (s: SparkSession, dir: String) => {
      val units = floor(col("o_totalprice") * 1e4 + lit(0.5)).cast("long")
      val perCust = Tables(s, dir, "orders")
        .select(col("o_custkey"), units.as("_u"))
        .groupBy(col("o_custkey"))
        .agg(sum(col("_u").cast("decimal(38,0)")).as("_du"))
        .join(Tables(s, dir, "customer").select(col("c_custkey"),
          col("c_nationkey")), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables(s, dir, "nation")
          .select(col("n_nationkey"), col("n_name").as("nation"))),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("o_custkey").as("custkey"), col("nation"),
          (col("_du").cast("double") / 1e4).as("revenue"))
      graft.operators.Analytics.iqrOutliers(perCust, "custkey",
        "nation", "revenue")
    }),
    // per-row score kernels over 10x documents into a language-
    // bounded moment frame — pure kernel-scan growth
    ("x174_quality_length_corr", (s: SparkSession, dir: String) => {
      val docs = Tables(s, dir, "documents")
      val qs = graft.operators.TextAnalysis.qualityScore(docs,
          "doc_id", "text")
        .select(col("doc_id"), col("n_chars"),
          floor(col("quality_score") * 1e4 + lit(0.5)).cast("long")
            .as("_su"))
      graft.operators.Analytics.groupedCorrelation(
        qs.join(docs.select(col("doc_id"), col("lang")), Seq("doc_id")),
        "lang", "n_chars", "_su")
    }),
    // two grouped-rank passes over the (type × day) frame — 10x days
    // on the time-stretched axis at constant per-day population
    ("x175_mad_anomaly_days", (s: SparkSession, dir: String) =>
      graft.operators.Analytics.madAnomalyDays(Tables(s, dir, "events"),
        "ts", "event_type", k = 3L)),
    // anti-joins move collapsed key counts, not fact rows — growth
    // tracks key cardinality (10x orders/lineitem keys)
    ("x176_ri_audit", (s: SparkSession, dir: String) =>
      graft.operators.Warehouse.riAudit(Seq(
        graft.operators.Warehouse.RiEdge("lineitem.orderkey",
          Tables(s, dir, "lineitem"), "l_orderkey",
          Tables(s, dir, "orders"), "o_orderkey"),
        graft.operators.Warehouse.RiEdge("lineitem.partkey",
          Tables(s, dir, "lineitem"), "l_partkey",
          Tables(s, dir, "part"), "p_partkey"),
        graft.operators.Warehouse.RiEdge("lineitem.suppkey",
          Tables(s, dir, "lineitem"), "l_suppkey",
          Tables(s, dir, "supplier"), "s_suppkey"),
        graft.operators.Warehouse.RiEdge("orders.custkey",
          Tables(s, dir, "orders"), "o_custkey",
          Tables(s, dir, "customer"), "c_custkey"),
        graft.operators.Warehouse.RiEdge("customer.nationkey",
          Tables(s, dir, "customer"), "c_nationkey",
          Tables(s, dir, "nation"), "n_nationkey"),
        graft.operators.Warehouse.RiEdge("supplier.nationkey",
          Tables(s, dir, "supplier"), "s_nationkey",
          Tables(s, dir, "nation"), "n_nationkey"),
        graft.operators.Warehouse.RiEdge("nation.regionkey",
          Tables(s, dir, "nation"), "n_regionkey",
          Tables(s, dir, "region"), "r_regionkey")))),
    // two key exchanges (argmax aggregate + anti-join); 10x keys in,
    // 10x merged snapshot out
    ("x177_cdc_apply", (s: SparkSession, dir: String) => {
      val o = Tables(s, dir, "orders")
      val k = col("o_orderkey")
      val base = o.filter(pmod(k, lit(10L)) =!= 9)
      def stamp(df: DataFrame, op: String, seq: Long) = df
        .withColumn("op", lit(op)).withColumn("seq", lit(seq))
      val changes = stamp(o.filter(pmod(k, lit(10L)) === 9), "I", 1L)
        .unionByName(stamp(o.filter(pmod(k, lit(10L)) === 0)
          .withColumn("o_totalprice", col("o_totalprice") + lit(1000.0)),
          "U", 1L))
        .unionByName(stamp(o.filter(pmod(k, lit(20L)) === 0)
          .withColumn("o_totalprice", col("o_totalprice") + lit(2000.0)),
          "U", 2L))
        .unionByName(stamp(o.filter(pmod(k, lit(10L)) === 1), "D", 1L))
      graft.operators.Warehouse.cdcApply(base, changes, "o_orderkey",
        "op", "seq")
    }),
    // 10x scan collapses map-side into a constant (priority × year)
    // cube before the one exchange
    ("x178_rollup_merge", (s: SparkSession, dir: String) => {
      val units = floor(col("o_totalprice") * 1e4 + lit(0.5)).cast("long")
      val o = Tables(s, dir, "orders")
        .filter(col("o_orderdate").isNotNull)
        .select(col("o_orderpriority").as("priority"),
          year(col("o_orderdate")).cast("long").as("order_year"),
          col("o_orderdate"), units.as("_u"), col("o_totalprice"))
      val cutoff = lit("1997-07-01").cast("timestamp")
      val shards = Seq(o.filter(col("o_orderdate") < cutoff),
        o.filter(col("o_orderdate") >= cutoff)).map(part =>
        graft.operators.Warehouse.rollupPartial(part,
          Seq("priority", "order_year"), "_u", "o_totalprice"))
      graft.operators.Warehouse.mergeRollup(shards,
        Seq("priority", "order_year"))
    }),
    // user-keyed window over 10x users; the path frame stays
    // |event types|^3-bounded
    ("x179_user_journeys", (s: SparkSession, dir: String) =>
      graft.operators.Analytics.topJourneys(Tables(s, dir, "events"),
        "user_id", "event_type", "ts", "event_id", k = 3, topN = 50)),
    // grouped bucketed rank over 10x documents; output 10x manifest
    ("x180_split_manifest", (s: SparkSession, dir: String) =>
      graft.operators.TextAnalysis.stratifiedSplit(
        Tables(s, dir, "documents"), "doc_id", "source")),
    // per-key counts collapse map-side; the salted top-k frame is
    // key-cardinality-bounded
    ("x181_key_skew", (s: SparkSession, dir: String) =>
      graft.operators.Warehouse.keySkewAudit(
        Tables(s, dir, "lineitem"), "l_partkey", topK = 20)),
    // sketch built from the per-key count frame (10x keys), the
    // depth×width sketch itself stays 3x1024 and broadcasts
    ("x182_cms_audit", (s: SparkSession, dir: String) =>
      graft.operators.Sketches.cmsHeavyHitters(
        Tables(s, dir, "lineitem"), "l_partkey", depth = 3,
        width = 1024, topK = 20)),
    // one user-keyed min over 10x users; the running-total window
    // rides the calendar-bounded day frame
    ("x183_user_growth", (s: SparkSession, dir: String) =>
      graft.operators.Analytics.cumulativeNewUsers(
        Tables(s, dir, "events"), "user_id", "ts")),
    // orderkey-keyed join over 10x facts; the quantile machinery is
    // the grouped bucketed rank (priority-bounded frames)
    ("x184_fulfillment_lag", (s: SparkSession, dir: String) => {
      val sd = graft.functions.Dates.toEpochMillis(col("l_shipdate"))
      val od = graft.functions.Dates.toEpochMillis(col("o_orderdate"))
      val lag = (((sd - pmod(sd, lit(86400000L))) / lit(86400000L)) -
        ((od - pmod(od, lit(86400000L))) / lit(86400000L))).cast("long")
      val scored = Tables(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_shipdate"))
        .join(Tables(s, dir, "orders").select(col("o_orderkey"),
          col("o_orderpriority").as("priority"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
        .select((col("l_orderkey") * 10 + col("l_linenumber"))
          .cast("long").as("line_id"), col("priority"),
          lag.as("lag_days"))
      graft.operators.TextAnalysis.groupedQuantiles(scored, "line_id",
        "priority", "lag_days", Seq(0.5, 0.9))
    }),
    // 10x part rows collapse to the SAME distinct-name dictionary —
    // pair work is dictionary-bounded, only the first aggregate scan
    // grows
    ("x185_fuzzy_match", (s: SparkSession, dir: String) =>
      graft.operators.Resolution.fuzzyNameMatches(
        Tables(s, dir, "part"), "p_partkey", "p_name", maxDist = 2)),
    // 10x facts, same calendar -> same (nation, day) frame; the spine
    // join and forward-fill window never see fact rows
    ("x186_gap_fill", (s: SparkSession, dir: String) => {
      val ms = graft.functions.Dates.toEpochMillis(col("l_shipdate"))
      val day = ((ms - pmod(ms, lit(86400000L))) / lit(86400000L))
        .cast("long")
      val daily = Tables(s, dir, "lineitem")
        .join(broadcast(Tables(s, dir, "supplier").select(col("s_suppkey"),
          col("s_nationkey"))), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables(s, dir, "nation").select(col("n_nationkey"),
          col("n_name"))), col("s_nationkey") === col("n_nationkey"))
        .select(col("n_name").as("nation"), day.as("day"),
          graft.functions.Num.fpRound(col("l_extendedprice") *
            (lit(1.0) - col("l_discount")), 4).as("_v"))
        .groupBy(col("nation"), col("day"))
        .agg(sum(col("_v").cast("decimal(38,6)")).cast("double")
          .as("revenue"))
      graft.operators.Analytics.gapFillDaily(daily, "nation", "day",
        "revenue")
    }),
    // 10x events through the per-user LAG window; the transition
    // matrix stays dictionary^2-bounded
    ("x187_markov_transitions", (s: SparkSession, dir: String) =>
      graft.operators.Analytics.markovTransitions(
        Tables(s, dir, "events"), "user_id", "ts", "event_type",
        "event_id")),
    // 10x facts build the SAME 25-node brand graph (consistent key
    // renumbering replicates baskets); the 3 ranking rounds run on
    // dictionary frames regardless of corpus size
    ("x188_pagerank", (s: SparkSession, dir: String) =>
      graft.operators.Graph.pageRank(graft.operators.Graph
        .coPurchaseEdges(Tables(s, dir, "lineitem"),
          Tables(s, dir, "part")), iterations = 3)),
    // 10x history -> 10x (type, day) rows; the windows ride the
    // calendar-bounded per-type frames
    ("x189_cusum_drift", (s: SparkSession, dir: String) =>
      graft.operators.Analytics.cusumDrift(
        Tables(s, dir, "events"), "ts", "event_type", h = 3)),
    // 10x facts, same 25-node affinity graph: the LPA rounds run on
    // dictionary frames; only the (order, brand) collapse scales
    ("x190_label_communities", (s: SparkSession, dir: String) =>
      graft.operators.Graph.labelPropagation(
        graft.operators.Graph.affinityEdges(Tables(s, dir, "lineitem"),
          Tables(s, dir, "part")), rounds = 3)),
    // 10x events through the user-keyed LAG; the quantile rank is
    // grouped-bucketed over 10x gaps
    ("x191_event_gaps", (s: SparkSession, dir: String) => {
      val gaps = graft.operators.Analytics.interEventGaps(
        Tables(s, dir, "events"), "user_id", "ts", "event_id",
        "event_type")
      graft.operators.TextAnalysis.groupedQuantiles(gaps, "event_id",
        "event_type", "gap_ms", Seq(0.5, 0.9, 0.99))
    }),
    // same dictionary graph at 10x facts: wedge/closure joins flat,
    // only the edge build scales
    ("x192_triangle_stats", (s: SparkSession, dir: String) =>
      graft.operators.Graph.triangleStats(
        graft.operators.Graph.affinityEdges(Tables(s, dir, "lineitem"),
          Tables(s, dir, "part")))),
    // 10x events through one key-partitioned arrival window + a
    // dictionary-bounded type aggregate
    ("x193_watermark_audit", (s: SparkSession, dir: String) => {
      val ms = graft.functions.Dates.toEpochMillis(col("ts"))
      val ev = Tables(s, dir, "events").select(col("user_id"),
        col("event_type"), col("event_id"), ms.as("_ms"),
        (ms + when(pmod(col("event_id"), lit(7L)) === 0,
          lit(86400000L)).otherwise(lit(0L))).as("_arr"))
      graft.operators.Warehouse.latenessAudit(ev, "user_id",
        "event_type", "_ms", "_arr", "event_id")
    }),
    // 10x facts through two broadcast-dim shard aggregates + one
    // cube-keyed merge; output stays (nation x year)-bounded
    ("x194_mv_join_delta", (s: SparkSession, dir: String) => {
      val joined = (df: DataFrame) => df
        .join(broadcast(Tables(s, dir, "supplier").select(
          col("s_suppkey"), col("s_nationkey"))),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables(s, dir, "nation").select(
          col("n_nationkey"), col("n_name"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("n_name").as("nation"),
          year(col("l_shipdate")).cast("long").as("ship_year"),
          floor(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
            * 1e4 + lit(0.5)).cast("long").as("_u"),
          graft.functions.Num.fpRound(col("l_extendedprice") *
            (lit(1.0) - col("l_discount")), 4).as("_v"))
      val li = Tables(s, dir, "lineitem")
      graft.operators.Warehouse.mergeRollup(Seq(
        graft.operators.Warehouse.rollupPartial(
          joined(li.filter(pmod(col("l_orderkey"), lit(10)) =!= 0)),
          Seq("nation", "ship_year"), "_u", "_v"),
        graft.operators.Warehouse.rollupPartial(
          joined(li.filter(pmod(col("l_orderkey"), lit(10)) === 0)),
          Seq("nation", "ship_year"), "_u", "_v")),
        Seq("nation", "ship_year"))
    }),
    // 10x rows through two md5 kernels + a 64-bucket aggregate each
    // side; the reconciliation join moves 64 rows at any scale
    ("x195_bucket_checksums", (s: SparkSession, dir: String) => {
      val li = Tables(s, dir, "lineitem").select(
        (col("l_orderkey") * 10 + col("l_linenumber")).cast("long")
          .as("line_id"),
        col("l_quantity").cast("long").as("qty"))
      val snap = li.filter(pmod(col("line_id"), lit(97)) =!= 0)
        .withColumn("qty", when(pmod(col("line_id"), lit(89)) === 0,
          col("qty") + 1).otherwise(col("qty")))
      val b = graft.operators.Warehouse.bucketChecksums(
        li, "line_id", Seq("qty"), 64)
      val sn = graft.operators.Warehouse.bucketChecksums(
        snap, "line_id", Seq("qty"), 64)
      b.select(col("bucket"), col("n_rows").as("n_base"),
          col("checksum").as("base_sum"))
        .join(sn.select(col("bucket"), col("n_rows").as("n_snap"),
          col("checksum").as("snap_sum")), Seq("bucket"), "full_outer")
    }),
    // 10x facts, same 25-brand dictionary: candidate space and the
    // L2 prune stay dictionary-bounded; only the basket collapse
    // scales
    ("x196_brand_triples", (s: SparkSession, dir: String) =>
      graft.operators.Analytics.frequentTriples(
        Tables(s, dir, "lineitem"), Tables(s, dir, "part"),
        minCount = 3, topK = 50)),
    // 10x orders through one cell aggregate; margins and the three
    // term sums stay dictionary-sized
    ("x197_mi_audit", (s: SparkSession, dir: String) =>
      graft.operators.Olap.mutualInformation(
        Tables(s, dir, "orders").join(Tables(s, dir, "customer"),
          col("o_custkey") === col("c_custkey")),
        "c_mktsegment", "o_orderpriority")),
    // 10x events through the q13 session windows; quantile rank over
    // the session-grain frame
    ("x198_session_durations", (s: SparkSession, dir: String) => {
      val sess = graft.operators.Analytics.sessions(
        Tables(s, dir, "events"), "user_id", "ts", "event_id",
        "event_type")
      graft.operators.TextAnalysis.groupedQuantiles(sess, "session_id",
        "entry_type", "duration_ms", Seq(0.5, 0.9))
    }),
    // same session windows into a dictionary-bounded aggregate
    ("x199_bounce_report", (s: SparkSession, dir: String) =>
      graft.operators.Analytics.sessions(Tables(s, dir, "events"),
          "user_id", "ts", "event_id", "event_type")
        .groupBy(col("entry_type"))
        .agg(count(lit(1)).as("n_sessions"),
          sum(when(col("n_events") === 1, 1L).otherwise(0L))
            .as("n_bounce"))),
    // 10x events collapse to a (user x active-days) frame; the
    // trailing-window explodes are constant fanout of that frame
    ("x200_active_users", (s: SparkSession, dir: String) =>
      graft.operators.Analytics.activeUsers(Tables(s, dir, "events"),
        "user_id", "ts")),
    // 10x documents through scan-side md5+ln kernels; the salted
    // top-k frame stays k-and-salt-bounded
    ("x201_weighted_sample", (s: SparkSession, dir: String) =>
      graft.operators.TextAnalysis.weightedSample(
        Tables(s, dir, "documents"), "doc_id", "text", k = 100)),
    // 10x facts into the dictionary rule table; grouped top-k salted
    ("x202_brand_recs", (s: SparkSession, dir: String) =>
      graft.operators.Analytics.brandRecommendations(
        Tables(s, dir, "lineitem"), Tables(s, dir, "part"),
        minCount = 5, k = 3)),
    // 10x orders into (priority x 32) cells; estimate/exact legs run
    // on bounded frames
    ("x203_histogram_quantiles", (s: SparkSession, dir: String) =>
      graft.operators.Sketches.histogramQuantiles(
        Tables(s, dir, "orders").select(col("o_orderkey"),
          col("o_orderpriority").as("priority"),
          floor(col("o_totalprice") * 1e4 + lit(0.5)).cast("long")
            .as("units")),
        "o_orderkey", "priority", "units", buckets = 32,
        quantiles = Seq(0.5, 0.9))),
    // the served graph twins: every probe below reads the PERSISTED
    // edge index (built untimed per fixture) — the dictionary-bounded
    // tables are corpus-size-INDEPENDENT (same 25-brand graph at 10x
    // facts), so serve times should be near-flat; only x207's basket
    // frame grows with the corpus (its ob table holds 10x orders)
    ("x204_pagerank_indexed", (s: SparkSession, dir: String) => {
      val (_, e, _, _) = graft.operators.Graph.readEdgeIndex(s,
        edgeTables._1, edgeTables._2, edgeTables._3, edgeTables._4)
      graft.operators.Graph.pageRank(e, iterations = 3)
    }),
    ("x205_communities_indexed", (s: SparkSession, dir: String) => {
      val (_, e, t, st) = graft.operators.Graph.readEdgeIndex(s,
        edgeTables._1, edgeTables._2, edgeTables._3, edgeTables._4)
      graft.operators.Graph.labelPropagation(
        graft.operators.Graph.affinityEdgesFrom(e, t, st), rounds = 3)
    }),
    ("x206_triangles_indexed", (s: SparkSession, dir: String) => {
      val (_, e, t, st) = graft.operators.Graph.readEdgeIndex(s,
        edgeTables._1, edgeTables._2, edgeTables._3, edgeTables._4)
      graft.operators.Graph.triangleStats(
        graft.operators.Graph.affinityEdgesFrom(e, t, st))
    }),
    ("x207_triples_indexed", (s: SparkSession, dir: String) => {
      val (ob, _, _, st) = graft.operators.Graph.readEdgeIndex(s,
        edgeTables._1, edgeTables._2, edgeTables._3, edgeTables._4)
      graft.operators.Analytics.frequentTriplesIndexed(ob, st,
        minCount = 3, topK = 50)
    }),
    ("x208_brand_recs_indexed", (s: SparkSession, dir: String) => {
      val (_, e, t, st) = graft.operators.Graph.readEdgeIndex(s,
        edgeTables._1, edgeTables._2, edgeTables._3, edgeTables._4)
      graft.operators.Analytics.brandRecommendationsIndexed(e, t, st,
        minCount = 5, k = 3)
    }),
    ("x209_affinity_indexed", (s: SparkSession, dir: String) => {
      val (_, e, t, st) = graft.operators.Graph.readEdgeIndex(s,
        edgeTables._1, edgeTables._2, edgeTables._3, edgeTables._4)
      graft.operators.Analytics.basketAffinityIndexed(e, t, st,
        minCount = 5)
    }),
    // two indexed pageRank runs + one node join — corpus-size-
    // independent like x204
    ("x212_pagerank_convergence", (s: SparkSession, dir: String) => {
      val (_, e, _, _) = graft.operators.Graph.readEdgeIndex(s,
        edgeTables._1, edgeTables._2, edgeTables._3, edgeTables._4)
      graft.operators.Graph.pageRankConvergence(e, iterations = 3)
    }),
    // 10x corpus keys through one distinct + full-outer join per leg;
    // the (ann2) index side grows with the even-id half
    ("x211_index_freshness", (s: SparkSession, dir: String) => {
      val docs = Tables(s, dir, "documents")
      val digests = (df: DataFrame) =>
        df.select(sha2(lower(trim(col("text"))), 256).as("k"))
      graft.operators.Warehouse.indexFreshnessAudit(Seq(
        ("digest_idx", digests(docs),
          s.table(digestTable).select(col("digest"))),
        ("digest_idx_vs_snapshot",
          digests(docs.filter(pmod(col("doc_id"), lit(3)) === 0)),
          s.table(digestTable).select(col("digest"))),
        ("ann_assign", Tables(s, dir, "embeddings").select(col("vec_id")),
          s.table(annDedupTables._1).select(col("neighbor_id")))))
    }),
    // persisted before-sidecar + dictionary-bounded aggregates over the
    // merged tables — corpus-size-independent like the served twins
    ("x213_index_partial_merge", (s: SparkSession, dir: String) =>
      s.table(mergedEdge._1).withColumn("phase", lit("before"))
        .unionByName(graft.operators.Warehouse
          .indexPartialAudit(s, mergedEdge._2)
          .withColumn("phase", lit("after")))),
    // snapshot keys from the 10x corpus vs the POST-DELETE index —
    // x211's audit shape over the takedown-applied tables
    ("x214_index_delete", (s: SparkSession, dir: String) => {
      val mlt = if (dir.contains("scale")) Copies else 1
      val orig = floor(col("doc_id") / lit(mlt)).cast("long")
      val vorig = floor(col("vec_id") / lit(mlt)).cast("long")
      graft.operators.Warehouse.indexFreshnessAudit(Seq(
        ("digest_idx_deleted",
          Tables(s, dir, "documents").filter(pmod(orig, lit(3)) === 0)
            .select(sha2(lower(trim(col("text"))), 256).as("k")),
          s.table(deletedIdx._1).select(col("digest"))),
        ("ann_assign_deleted",
          Tables(s, dir, "embeddings").filter(pmod(vorig, lit(3)) === 0)
            .select(col("vec_id")),
          s.table(deletedIdx._2).select(col("neighbor_id")))))
    }),
    // x211's exact legs through the bucketed-checksum fast path — the
    // head-to-head that prices the dirty-bucket cut at 10x
    ("x215_freshness_bucketed", (s: SparkSession, dir: String) => {
      val docs = Tables(s, dir, "documents")
      val digests = (df: DataFrame) =>
        df.select(sha2(lower(trim(col("text"))), 256).as("k"))
      graft.operators.Warehouse.indexFreshnessAuditBucketed(Seq(
        ("digest_idx", digests(docs),
          s.table(digestTable).select(col("digest"))),
        ("digest_idx_vs_snapshot",
          digests(docs.filter(pmod(col("doc_id"), lit(3)) === 0)),
          s.table(digestTable).select(col("digest"))),
        ("ann_assign", Tables(s, dir, "embeddings").select(col("vec_id")),
          s.table(annDedupTables._1).select(col("neighbor_id")))))
    }),
    // the versioned family's SERVING read at 10x: ledger resolve (a
    // 3-row metadata read) + the post-delete snapshot's merged edge
    // read — the publish-by-pointer protocol's steady-state cost.
    // The mutation side (staging a full next version) is the untimed
    // fixture build above; it is ∝ index size by design, never a
    // corpus re-derivation.
    ("x216_applied_batch_ledger", (s: SparkSession, dir: String) => {
      val (led, ob, ed, tot, st) = vedge
      graft.operators.Graph.readEdgeIndexVersioned(s, led, "vedge",
        ob, ed, tot, st)._2
    }),
    // the STEADY-STATE maintenance cycle at 10x: tombstone-feed check
    // + bucketed freshness audits + file listings, nothing repaired —
    // the cost an always-on cycle pays every round (repair work, when
    // present, is sized by the delta: x217's cycle-1 rows; x218's
    // feed consumption composes this detect pass with x216's
    // versioned delete + read)
    ("x217_maintenance_cycle", (s: SparkSession, dir: String) => {
      import s.implicits._
      val idx = Seq(
        graft.runner.MaintainedIndex("digest_idx",
          tables = Seq(("digests", mcycDigest, Seq.empty)),
          corpusKeys = ss => Tables(ss, dir, "documents")
            .filter(pmod(col("doc_id"), lit(3)) === 0)
            .select(sha2(lower(trim(col("text"))), 256).as("k")),
          indexKeys = ss => ss.table(mcycDigest).select(col("digest")),
          compactFilesFactor = Double.MaxValue),
        graft.runner.MaintainedIndex("ann_assign",
          tables = Seq(("assign", annDedupTables._1, Seq.empty)),
          corpusKeys = ss => Tables(ss, dir, "embeddings")
            .select(col("vec_id")),
          indexKeys = ss => ss.table(annDedupTables._1)
            .select(col("neighbor_id")),
          compactFilesFactor = Double.MaxValue))
      graft.runner.Maintenance.runCycle(s, idx)
        .map(a => (a.index, a.action, a.detail))
        .toDF("index_name", "action", "detail")
    }),
    // SemDeDup at 10x under the family's scale law: k ∝ n (nCent
    // seeds), so per-cluster pair blocks stay constant-sized and the
    // quadratic stage scales linearly with the corpus.
    ("x219_semdedup", (s: SparkSession, dir: String) => {
      val e = Tables(s, dir, "embeddings")
      Similarity.semDedup(e, e.filter(col("vec_id") < nCent), "vec_id",
        "embedding", rounds = 3, threshold = 0.35)
    }),
    // DSIR at 10x: two bucket-keyed gram aggregations + a broadcast
    // weight join + TakeOrdered — the B-row weight table is
    // scale-invariant.
    ("x220_dsir_select", (s: SparkSession, dir: String) =>
      TextAnalysis.dsirSelect(Tables(s, dir, "documents"), "doc_id",
        "text", col("lang") === "en", numBuckets = 256, topN = 100)),
    // the recall/cost sweep at 10x: the exact leg is the corpus-linear
    // term; each probed leg stays index-bucket-bounded (k ∝ n keeps
    // bucket sizes constant).
    ("x221_nprobe_sweep", (s: SparkSession, dir: String) => {
      val e = Tables(s, dir, "embeddings")
      Similarity.nprobeSweep(e.filter(col("vec_id") < 10), e, "vec_id",
        "embedding", k = 3, nprobes = Seq(1, 2, 3, 4),
        annTables._1, annTables._2)
    }),
    // DSIR serving at 10x: one gram pass over the batch slice + the
    // broadcast B-row weight join - the frozen index is scale-free.
    ("x222_dsir_indexed", (s: SparkSession, dir: String) =>
      TextAnalysis.dsirScoreIndexed(s,
        Tables(s, dir, "documents")
          .filter(pmod(col("doc_id"), lit(2)) === 1),
        "doc_id", "text", dsirTable)),
    // exact-substring dedup at 10x: the doubling is log L windows over
    // one (doc_id, pos, key) shuffle — corpus-linear; the keeper
    // aggregate groups by key class (df occurrences cost df rows,
    // never a pair join), and the 10x fixture's per-token suffixes
    // keep each copy's substring classes disjoint, so class sizes are
    // preserved while class count grows 10x.
    ("x224_substring_dedup", (s: SparkSession, dir: String) =>
      TextDedup.substringDupSpans(Tables(s, dir, "documents"), "doc_id",
        "text", L = 24)),
    // the surgery twin at 10x: spans fold per doc + one corpus join +
    // a fused aggregate cut — corpus-linear on top of x224.
    ("x225_substring_apply", (s: SparkSession, dir: String) =>
      TextDedup.substringDedupApply(Tables(s, dir, "documents"), "doc_id",
        "text", L = 24)),
    // the substring family's serving form at 10x: the frozen even-id
    // gram-key index absorbs the corpus side; the batch pays its own
    // doubling pass + a bucketed semi-join.
    ("x227_substring_indexed", (s: SparkSession, dir: String) => {
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val idxT = s"graft_idx.ssidx_probe_$tag"
      s.sql("CREATE DATABASE IF NOT EXISTS graft_idx")
      if (!s.catalog.tableExists(idxT)) {
        // a previously crashed write can leave an orphaned table dir
        // with no catalog entry — sweep it or the build fails
        // (the ExtensionQueries.substringIndexFor convention)
        graft.sinks.Sinks.dropManaged(s, idxT)
        TextDedup.writeSubstringIndex(
          Tables(s, dir, "documents")
            .filter(pmod(col("doc_id"), lit(2)) === 0),
          "doc_id", "text", L = 24, idxT)
      }
      TextDedup.substringDupSpansIndexed(
        Tables(s, dir, "documents")
          .filter(pmod(col("doc_id"), lit(2)) === 1),
        "doc_id", "text", L = 24, idxT)
    }),
    // the apply-vs-frozen-index serving form at 10x: x227's span
    // check + x225's fused surgery — the batch pays its doubling pass,
    // the semi-join, one self-join on doc id and the rewrite; the
    // corpus stays behind its key table.
    ("x230_substring_apply_indexed", (s: SparkSession, dir: String) => {
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val idxT = s"graft_idx.ssidx_probe_$tag"
      s.sql("CREATE DATABASE IF NOT EXISTS graft_idx")
      if (!s.catalog.tableExists(idxT)) {
        graft.sinks.Sinks.dropManaged(s, idxT)
        TextDedup.writeSubstringIndex(
          Tables(s, dir, "documents")
            .filter(pmod(col("doc_id"), lit(2)) === 0),
          "doc_id", "text", L = 24, idxT)
      }
      TextDedup.substringDedupApplyIndexed(
        Tables(s, dir, "documents")
          .filter(pmod(col("doc_id"), lit(2)) === 1),
        "doc_id", "text", L = 24, idxT)
    }),
    // char-level benchmark decontam at 10x: the batch's doubling pass
    // + the bucketed semi-join against the frozen "benchmark" index —
    // x227's cost model without the internal-dup aggregate. The split
    // is by SOURCE parity, not doc-id parity: the 10x fixture's
    // doc_id*Copies+k renumbering makes id parity = copy parity, and
    // per-copy token suffixes then share no gram across the split (a
    // 0-match probe); sources replicate verbatim within every copy,
    // so cross-source boilerplate survives the 10x law.
    ("x232_substring_decontam", (s: SparkSession, dir: String) => {
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val idxT = s"graft_idx.ssbid_probe_$tag"
      val srcNum = col("source").substr(lit(4), lit(10)).cast("int")
      s.sql("CREATE DATABASE IF NOT EXISTS graft_idx")
      if (!s.catalog.tableExists(idxT)) {
        graft.sinks.Sinks.dropManaged(s, idxT)
        TextDedup.writeSubstringIndex(
          Tables(s, dir, "documents").filter(pmod(srcNum, lit(2)) === 0),
          "doc_id", "text", L = 24, idxT)
      }
      TextDedup.substringContaminatedSpans(
        Tables(s, dir, "documents").filter(pmod(srcNum, lit(2)) === 1),
        "doc_id", "text", L = 24, idxT)
    }),
    // embedding decontam at 10x: the benchmark collects once
    // (constant-sized); the corpus pays a pure kernel scan — no joins,
    // no keyed shuffles, the cheapest possible linear shape.
    ("x231_semantic_decontam", (s: SparkSession, dir: String) => {
      val e = Tables(s, dir, "embeddings")
      Similarity.semanticDecontam(e.filter(col("vec_id") >= 20),
        e.filter(col("vec_id") < 20), "vec_id", "embedding",
        threshold = 0.35)
    }),
    // the substring maintenance cycle at 10x, STEADY STATE (x229's
    // live half): the corpus-side doubling pass + the bucketed
    // gram-key freshness audit, nothing repaired — corpus-linear
    // detect cost, the always-on cadence price of keeping x227's
    // serving artifact fresh. Built CONVERGED on the %3 snapshot at
    // the untimed warmup, so the timed pass is the pure detect cycle.
    ("x229_substring_maintained", (s: SparkSession, dir: String) => {
      import s.implicits._
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val keysT = s"graft_idx.ssmc_probe_$tag"
      s.sql("CREATE DATABASE IF NOT EXISTS graft_idx")
      if (!s.catalog.tableExists(keysT)) {
        graft.sinks.Sinks.dropManaged(s, keysT)
        TextDedup.writeSubstringIndex(
          Tables(s, dir, "documents")
            .filter(pmod(col("doc_id"), lit(3)) === 0),
          "doc_id", "text", L = 24, keysT)
      }
      val idx = Seq(graft.runner.MaintainedIndex("substring_idx",
        tables = Seq(("gram_keys", keysT, Seq.empty)),
        corpusKeys = ss => TextDedup.substringGramKeys(
          Tables(ss, dir, "documents")
            .filter(pmod(col("doc_id"), lit(3)) === 0),
          "doc_id", "text", L = 24),
        indexKeys = ss => ss.table(keysT).select(col("gram_key")),
        compactFilesFactor = Double.MaxValue))
      graft.runner.Maintenance.runCycle(s, idx)
        .map(a => (a.index, a.action, a.detail))
        .toDF("index_name", "action", "detail")
    }),
    // the substring savings card at 10x: x224's cost + a
    // duplicated-doc-sized join + a #sources rollup.
    ("x228_substring_savings", (s: SparkSession, dir: String) =>
      TextDedup.substringDupSavings(Tables(s, dir, "documents"),
        "doc_id", "text", "source", L = 24)),
    // the modern curation chain at 10x: x42's cost model + the
    // semantic tier (k-means seeds scale with nCent ∝ corpus) + DSIR's
    // bucket-bounded aggregations — every added stage emits id-sized
    // drop/keep sets, so growth stays the lexical stages'.
    ("x226_curation_v2", (s: SparkSession, dir: String) => {
      val d = Tables(s, dir, "documents")
      CorpusPipeline.prepareV2(
        corpus = d.filter(col("doc_id") >= 20),
        embeddings = Tables(s, dir, "embeddings"),
        benchmark = d.filter(col("doc_id") < 20),
        idCol = "doc_id", textCol = "text",
        vecIdCol = "vec_id", vecCol = "embedding",
        maxTopBigramFrac = 0.2, minChars = 100,
        shingleK = 3, neardupThreshold = 0.8,
        semSeeds = nCent, semRounds = 3, semThreshold = 0.35,
        dsirTarget = col("lang") === "en",
        dsirBuckets = 256, dsirTopN = 100,
        decontamThreshold = 3,
        groupCol = "lang", pctByGroup = Map("en" -> 50, "zh" -> 20),
        defaultPct = 10,
        chunkSize = 64, chunkStride = 48)
    }),
    // the manifest-served substring surgery at 10x: x230's cost model
    // with the corpus key set physically split into two segments
    // (source parity, the x232 convention — id parity = copy parity in
    // this fixture) — the semi-join unions the segment scans, staging
    // and serving laws otherwise identical to the single-table form.
    ("x234_substring_manifest_serve", (s: SparkSession, dir: String) => {
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val ledT = s"graft_idx.ssmfp_led_$tag"
      val base = s"graft_idx.ssmfp_keys_$tag"
      val srcNum = col("source").substr(lit(4), lit(10)).cast("int")
      s.sql("CREATE DATABASE IF NOT EXISTS graft_idx")
      if (!s.catalog.tableExists(ledT)) {
        (Seq(ledT, base, s"${base}_seg1", s"${base}_seg2",
          s"${base}_mf_v1")).foreach(graft.sinks.Sinks.dropManaged(s, _))
        val docs = Tables(s, dir, "documents")
        Seq((1L, 0), (2L, 2)).foreach { case (seg, rem) =>
          graft.sinks.Sinks.writeBucketed(
            TextDedup.substringGramKeys(
              docs.filter(pmod(srcNum, lit(4)) === rem),
              "doc_id", "text", L = 24),
            TextDedup.substringSegmentTable(base, seg),
            Seq("gram_key"), 16)
        }
        TextDedup.writeManifest(s, base, 1L,
          Seq(TextDedup.substringSegmentTable(base, 1L),
            TextDedup.substringSegmentTable(base, 2L)))
        graft.operators.Snapshots.publish(s, ledT, "ssmfp", 1L,
          "probe-build", "build")
      }
      TextDedup.substringDedupApplyManifested(
        Tables(s, dir, "documents").filter(pmod(srcNum, lit(2)) === 1),
        "doc_id", "text", L = 24, ledT, "ssmfp", base)
    }),
    // MANIFEST-staged ingest per-batch cost at 10x INDEX size: a
    // FIXED 500-doc batch ingested against a corpus-sized index built
    // once at warmup — the probe pins the round-19 claim that staging
    // is O(batch): only the span check's semi-join scan leg grows with
    // the index; the staged-segment write does not. Epochs derive
    // from the family's current version, so replays never alias across
    // passes or rounds.
    ("substring_manifest_ingest", (s: SparkSession, dir: String) => {
      import graft.operators.Snapshots
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val ledT = s"graft_idx.ssmi_led_$tag"
      val base = s"graft_idx.ssmi_keys_$tag"
      s.sql("CREATE DATABASE IF NOT EXISTS graft_idx")
      if (!s.catalog.tableExists(ledT)) {
        graft.sinks.Sinks.dropManaged(s, base)
        graft.streaming.Streams.substringIngestManifestBatch(
          Tables(s, dir, "documents"), 0L, "doc_id", "text", 24,
          ledT, "ssmi", base, numBuckets = 16,
          keepVersions = 2)((_, _) => ())
      }
      val epoch = Snapshots.currentVersion(s, ledT, "ssmi")
      val batch = Tables(s, dir, "documents").orderBy(col("doc_id"))
        .limit(500)
      graft.streaming.Streams.substringIngestManifestBatch(
        batch, epoch, "doc_id", "text", 24, ledT, "ssmi", base,
        numBuckets = 16, keepVersions = 2)((_, _) => ())
      s.table(TextDedup.substringSegmentTable(base, epoch + 1))
    }),
    // the round-19 curation chain at 10x: x226's cost model + the
    // substring surgery's corpus-linear doubling shuffle + the char
    // tier's selection-sized doubling pass + the embedding tier's
    // pure kernel scan — every added stage keeps the id-sized
    // drop/keep phase-boundary law.
    ("x235_curation_v3", (s: SparkSession, dir: String) => {
      val d = Tables(s, dir, "documents")
      CorpusPipeline.prepareV3(
        corpus = d.filter(col("doc_id") >= 20),
        embeddings = Tables(s, dir, "embeddings"),
        benchmark = d.filter(col("doc_id") < 20),
        idCol = "doc_id", textCol = "text",
        vecIdCol = "vec_id", vecCol = "embedding",
        maxTopBigramFrac = 0.2, minChars = 100,
        shingleK = 3, substringL = 24, neardupThreshold = 0.8,
        semSeeds = nCent, semRounds = 3, semThreshold = 0.35,
        dsirTarget = col("lang") === "en",
        dsirBuckets = 256, dsirTopN = 100,
        decontamThreshold = 3, embedThreshold = 0.35,
        groupCol = "lang", pctByGroup = Map("en" -> 50, "zh" -> 20),
        defaultPct = 10,
        chunkSize = 64, chunkStride = 48)
    }))

  def main(args: Array[String]): Unit = {
    val srcDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val scaleDir = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR",
      "/tmp/graft_scale10")
    val passes = sys.env.getOrElse("SPARK_GRAFT_PASSES", "2").toInt.max(1)
    val spark = LocalSession.build(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))

    System.err.println(s"[scale] generating ${Copies}x fixture at $scaleDir")
    generate(spark, srcDir, scaleDir)

    // per-run shuffle-write / spill deltas via a stage listener —
    // wall time alone cannot separate "the plan grew" from "the plan
    // started spilling"; the 30x section reads these columns.
    // Listener delivery is async: a short post-run drain bounds the
    // attribution slop (bench artifact, not accounting).
    val accShuffle = new java.util.concurrent.atomic.AtomicLong(0L)
    val accMemSpill = new java.util.concurrent.atomic.AtomicLong(0L)
    val accDiskSpill = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted)
            : Unit = {
          val m = sc.stageInfo.taskMetrics
          if (m != null) {
            accShuffle.addAndGet(m.shuffleWriteMetrics.bytesWritten)
            accMemSpill.addAndGet(m.memoryBytesSpilled)
            accDiskSpill.addAndGet(m.diskBytesSpilled)
            ()
          }
        }
      })
    /** (best s, rows, shuffle-write bytes, mem-spill bytes, disk-spill
      * bytes) — metrics from the min-time pass. */
    def run(dir: String, nCent: Int, name: String,
            fn: (SparkSession, String) => DataFrame)
        : (Double, Long, Long, Long, Long) = {
      var best = Double.MaxValue
      var rows = 0L
      var bm = (0L, 0L, 0L)
      (1 to passes).foreach { p =>
        Thread.sleep(200L) // drain straggling listener events
        val (s0, m0, d0) =
          (accShuffle.get(), accMemSpill.get(), accDiskSpill.get())
        val t0 = System.nanoTime()
        rows = fn(spark, dir).queryExecution.toRdd.count()
        val dt = (System.nanoTime() - t0) / 1e9
        Thread.sleep(200L)
        val (sw, ms, ds) = (accShuffle.get() - s0,
          accMemSpill.get() - m0, accDiskSpill.get() - d0)
        System.err.println(f"[scale] $name%-20s $dir%-24s pass $p $dt%8.2f s " +
          f"($rows rows, shw ${sw / 1048576}%d MB, spill ${(ms + ds) / 1048576}%d MB)")
        spark.catalog.clearCache()
        if (dt < best) { best = dt; bm = (sw, ms, ds) }
      }
      (best, rows, bm._1, bm._2, bm._3)
    }

    // per-fixture x73 gate threshold (score median; see the x73 probe
    // note) — computed here, outside every timed region
    def medianScore(dir: String): Double =
      Classifier.score(Tables(spark, dir, "documents"), "doc_id", "text")
        .agg(expr("percentile_approx(score, 0.5, 10000)")).head().getDouble(0)
    val thr1 = medianScore(srcDir)
    val thr10 = medianScore(scaleDir)
    System.err.println(f"[scale] x73 gate thresholds: 1x $thr1%.4f, 10x $thr10%.4f")

    // per-fixture x89 LM gate threshold (avg_logprob median over the
    // deduped text; see the x89 probe note) — also untimed
    def medianLogprob(dir: String): Double = {
      val deduped = TextDedup.dedupParagraphs(
        Tables(spark, dir, "documents"), "doc_id", "text", chunk = 12)
        .select(col("doc_id"), col("clean_text"))
      TextAnalysis.bigramLmScores(deduped, "doc_id", "clean_text")
        .agg(expr("percentile_approx(avg_logprob, 0.5, 10000)"))
        .head().getDouble(0)
    }
    val lm1 = medianLogprob(srcDir)
    val lm10 = medianLogprob(scaleDir)
    System.err.println(f"[scale] x89 LM thresholds: 1x $lm1%.4f, 10x $lm10%.4f")

    // untimed: build the x91 IVF index artifact per fixture (the
    // registered query's contract — built once per snapshot, timed
    // queries only read it)
    def buildAnnIndex(dir: String, nC: Int, tag: String): (String, String) = {
      val at = s"graft_idx.ann_assign_probe_$tag"
      val ct = s"graft_idx.ann_cent_probe_$tag"
      spark.sql("CREATE DATABASE IF NOT EXISTS graft_idx")
      Seq(at, ct).foreach { tb =>
        spark.sql(s"DROP TABLE IF EXISTS $tb")
        val Array(db, nm) = tb.split('.')
        val p = new org.apache.hadoop.fs.Path(
          s"${spark.conf.get("spark.sql.warehouse.dir")}/$db.db/$nm")
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(p)) fs.delete(p, true)
      }
      val e = Tables(spark, dir, "embeddings")
      Similarity.writeAnnIndex(e, e.filter(col("vec_id") < nC),
        "vec_id", "embedding", at, ct)
      (at, ct)
    }
    val ann1 = buildAnnIndex(srcDir, 16, "1x")
    val ann10 = buildAnnIndex(scaleDir, 16 * Copies, "10x")

    // untimed: the x92 dedup index — existing corpus = EVEN-original
    // vectors, codebook = the nC smallest of them (all copies of the
    // 16 smallest even originals at 10×, distinct directions under the
    // per-copy sign patterns)
    def buildAnnDedupIndex(dir: String, mult: Int,
                           tag: String): (String, String) = {
      val at = s"graft_idx.ann2_assign_probe_$tag"
      val ct = s"graft_idx.ann2_cent_probe_$tag"
      Seq(at, ct).foreach { tb =>
        spark.sql(s"DROP TABLE IF EXISTS $tb")
        val Array(db, nm) = tb.split('.')
        val p = new org.apache.hadoop.fs.Path(
          s"${spark.conf.get("spark.sql.warehouse.dir")}/$db.db/$nm")
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(p)) fs.delete(p, true)
      }
      val orig = floor(col("vec_id") / lit(mult)).cast("long")
      val even = Tables(spark, dir, "embeddings")
        .filter(pmod(orig, lit(2)) === 0)
      Similarity.writeAnnIndex(even,
        even.filter(col("vec_id") < lit(32 * mult)),
        "vec_id", "embedding", at, ct)
      (at, ct)
    }
    val ann2_1 = buildAnnDedupIndex(srcDir, 1, "1x")
    val ann2_10 = buildAnnDedupIndex(scaleDir, Copies, "10x")

    // untimed: the x107 BM25 index per fixture (postings bucketed by
    // term + 1-row stats — the registered query's build-once contract)
    def buildBm25Index(dir: String, tag: String): (String, String) = {
      val pt = s"graft_idx.bm25_post_probe_$tag"
      val st = s"graft_idx.bm25_stats_probe_$tag"
      spark.sql("CREATE DATABASE IF NOT EXISTS graft_idx")
      Seq(pt, st).foreach { tb =>
        spark.sql(s"DROP TABLE IF EXISTS $tb")
        val Array(db, nm) = tb.split('.')
        val p = new org.apache.hadoop.fs.Path(
          s"${spark.conf.get("spark.sql.warehouse.dir")}/$db.db/$nm")
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(p)) fs.delete(p, true)
      }
      graft.operators.Retrieval.writeBm25Index(
        Tables(spark, dir, "documents"), "doc_id", "text", pt, st)
      (pt, st)
    }
    val bm25_1 = buildBm25Index(srcDir, "1x")
    val bm25_10 = buildBm25Index(scaleDir, "10x")

    // untimed: the x110 novelty gram-df index per fixture
    def buildNovIndex(dir: String, tag: String): String = {
      val tb = s"graft_idx.nov_df_probe_$tag"
      spark.sql("CREATE DATABASE IF NOT EXISTS graft_idx")
      spark.sql(s"DROP TABLE IF EXISTS $tb")
      val Array(db, nm) = tb.split('.')
      val p = new org.apache.hadoop.fs.Path(
        s"${spark.conf.get("spark.sql.warehouse.dir")}/$db.db/$nm")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
      graft.operators.TextAnalysis.writeNoveltyIndex(
        Tables(spark, dir, "documents"), "doc_id", "text", k = 3, tb)
      tb
    }
    val nov1 = buildNovIndex(srcDir, "1x")
    val nov10 = buildNovIndex(scaleDir, "10x")

    // untimed: the x124 PQ index per fixture (codes + frozen books)
    def buildPqIndex(dir: String, tag: String): (String, String) = {
      val ct = s"graft_idx.pq_codes_probe_$tag"
      val bt = s"graft_idx.pq_books_probe_$tag"
      spark.sql("CREATE DATABASE IF NOT EXISTS graft_idx")
      Seq(ct, bt).foreach { tb =>
        spark.sql(s"DROP TABLE IF EXISTS $tb")
        val Array(db, nm) = tb.split('.')
        val p = new org.apache.hadoop.fs.Path(
          s"${spark.conf.get("spark.sql.warehouse.dir")}/$db.db/$nm")
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(p)) fs.delete(p, true)
      }
      graft.operators.Similarity.writePqIndex(
        Tables(spark, dir, "embeddings"), "vec_id", "embedding", ct, bt,
        m = 4, k = 8, rounds = 2)
      (ct, bt)
    }
    val pq1 = buildPqIndex(srcDir, "1x")
    val pq10 = buildPqIndex(scaleDir, "10x")

    // untimed: the x127 composed IVF-PQ index per fixture (bucketed
    // codes + PQ books + coarse centroids; centroid count ∝ corpus)
    def buildIvfPqIndex(dir: String, nC: Int,
                        tag: String): (String, String, String) = {
      val ct = s"graft_idx.ivfpq_codes_probe_$tag"
      val bt = s"graft_idx.ivfpq_books_probe_$tag"
      val cc = s"graft_idx.ivfpq_cent_probe_$tag"
      spark.sql("CREATE DATABASE IF NOT EXISTS graft_idx")
      Seq(ct, bt, cc).foreach { tb =>
        spark.sql(s"DROP TABLE IF EXISTS $tb")
        val Array(db, nm) = tb.split('.')
        val p = new org.apache.hadoop.fs.Path(
          s"${spark.conf.get("spark.sql.warehouse.dir")}/$db.db/$nm")
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(p)) fs.delete(p, true)
      }
      val e = Tables(spark, dir, "embeddings")
      graft.operators.Similarity.writeIvfPqIndex(e,
        e.filter(col("vec_id") < nC), "vec_id", "embedding", ct, bt, cc,
        m = 4, k = 8, rounds = 2)
      (ct, bt, cc)
    }
    val ivfpq1 = buildIvfPqIndex(srcDir, 16, "1x")
    val ivfpq10 = buildIvfPqIndex(scaleDir, 16 * Copies, "10x")

    // untimed: the x204-x209 co-purchase edge index per fixture
    def buildEdgeIndex(dir: String,
                       tag: String): (String, String, String, String) = {
      val ts = Seq("ob", "edges", "totals", "stats")
        .map(n => s"graft_idx.edge_${n}_probe_$tag")
      spark.sql("CREATE DATABASE IF NOT EXISTS graft_idx")
      ts.foreach(graft.sinks.Sinks.dropManaged(spark, _))
      graft.operators.Graph.writeEdgeIndex(Tables(spark, dir, "lineitem"),
        Tables(spark, dir, "part"), ts(0), ts(1), ts(2), ts(3),
        numBuckets = 8)
      (ts(0), ts(1), ts(2), ts(3))
    }
    val edge1 = buildEdgeIndex(srcDir, "1x")
    val edge10 = buildEdgeIndex(scaleDir, "10x")

    // untimed: the x211 digest index per fixture (even-id build — the
    // registered exhibit's cut)
    def buildDigestIndex(dir: String, mult: Int, tag: String): String = {
      val tb = s"graft_idx.digests_probe_$tag"
      spark.sql("CREATE DATABASE IF NOT EXISTS graft_idx")
      graft.sinks.Sinks.dropManaged(spark, tb)
      val orig = floor(col("doc_id") / lit(mult)).cast("long")
      graft.operators.TextDedup.writeDigestIndex(
        Tables(spark, dir, "documents").filter(pmod(orig, lit(2)) === 0),
        "text", tb)
      tb
    }
    val dig1 = buildDigestIndex(srcDir, 1, "1x")
    val dig10 = buildDigestIndex(scaleDir, Copies, "10x")

    // untimed: the x213 merged-edge exhibit per fixture (two-ingest
    // build, pre-merge audit persisted, deep merge applied)
    def buildMergedEdgeIndex(dir: String, tag: String)
        : (String, Seq[(String, String, Seq[String])]) = {
      val ts = Seq("ob", "edges", "totals", "stats")
        .map(n => s"graft_idx.medge_${n}_probe_$tag")
      val before = s"graft_idx.medge_before_probe_$tag"
      (ts :+ before).foreach(graft.sinks.Sinks.dropManaged(spark, _))
      val li = Tables(spark, dir, "lineitem")
      val p = Tables(spark, dir, "part")
      graft.operators.Graph.writeEdgeIndex(
        li.filter(pmod(col("l_orderkey"), lit(2)) === 0), p,
        ts(0), ts(1), ts(2), ts(3), numBuckets = 8)
      graft.operators.Graph.appendEdgeIndex(
        li.filter(pmod(col("l_orderkey"), lit(2)) === 1), p,
        ts(0), ts(1), ts(2), ts(3), numBuckets = 8)
      val targets = Seq(("ob", ts(0), Seq("order_key", "brand")),
        ("edges", ts(1), Seq("src", "dst")),
        ("totals", ts(2), Seq("brand")))
      graft.operators.Warehouse.indexPartialAudit(spark, targets)
        .coalesce(1).write.mode("overwrite").format("parquet")
        .saveAsTable(before)
      graft.operators.Graph.mergeEdgeIndex(spark, ts(0), ts(1), ts(2),
        ts(3))
      (before, targets)
    }
    val medge1 = buildMergedEdgeIndex(srcDir, "1x")
    val medge10 = buildMergedEdgeIndex(scaleDir, "10x")

    // untimed: the x214 takedown-applied indexes per fixture (even-id
    // builds, stale-vs-%3-snapshot keys deleted)
    def buildDeletedIndexes(dir: String, mult: Int,
                            tag: String): (String, String) = {
      val dt = s"graft_idx.ddel_digests_probe_$tag"
      val at = s"graft_idx.ddel_assign_probe_$tag"
      val ct = s"graft_idx.ddel_cent_probe_$tag"
      Seq(dt, at, ct).foreach(graft.sinks.Sinks.dropManaged(spark, _))
      val docs = Tables(spark, dir, "documents")
      val orig = floor(col("doc_id") / lit(mult)).cast("long")
      graft.operators.TextDedup.writeDigestIndex(
        docs.filter(pmod(orig, lit(2)) === 0), "text", dt)
      val snap = docs.filter(pmod(orig, lit(3)) === 0)
        .select(sha2(lower(trim(col("text"))), 256).as("digest"))
      graft.operators.Warehouse.deleteFromIndex(spark, dt, "digest",
        spark.table(dt).select(col("digest"))
          .join(snap, Seq("digest"), "left_anti"))
      val e = Tables(spark, dir, "embeddings")
      val vorig = floor(col("vec_id") / lit(mult)).cast("long")
      Similarity.writeAnnIndex(e.filter(pmod(vorig, lit(2)) === 0),
        e.filter(col("vec_id") < lit(16 * mult)), "vec_id", "embedding",
        at, ct)
      graft.operators.Warehouse.deleteFromIndex(spark, at, "neighbor_id",
        spark.table(at).select(col("neighbor_id"))
          .join(e.filter(pmod(vorig, lit(3)) === 0)
            .select(col("vec_id").as("neighbor_id")),
            Seq("neighbor_id"), "left_anti"))
      (dt, at)
    }
    val ddel1 = buildDeletedIndexes(srcDir, 1, "1x")
    val ddel10 = buildDeletedIndexes(scaleDir, Copies, "10x")

    // untimed: the x216 versioned edge family per fixture (bootstrap
    // build on evens, guarded append of odds, staged %3 takedown —
    // the registered exhibit's mutation history)
    def buildVersionedEdge(dir: String, tag: String)
        : (String, String, String, String, String) = {
      val led = s"graft_idx.vedge_ledger_probe_$tag"
      val bs = Seq("ob", "edges", "totals", "stats")
        .map(n => s"graft_idx.vedge_${n}_probe_$tag")
      (led +: bs.flatMap(b => b +: (1 to 3).map(v => s"${b}_v$v")))
        .foreach(graft.sinks.Sinks.dropManaged(spark, _))
      val li = Tables(spark, dir, "lineitem")
      val p = Tables(spark, dir, "part")
      graft.operators.Graph.writeEdgeIndexVersioned(
        li.filter(pmod(col("l_orderkey"), lit(2)) === 0), p, led,
        "vedge", bs(0), bs(1), bs(2), bs(3), numBuckets = 8)
      graft.operators.Graph.appendEdgeIndexVersioned(
        li.filter(pmod(col("l_orderkey"), lit(2)) === 1), p, led,
        "vedge", bs(0), bs(1), bs(2), bs(3))
      graft.operators.Graph.deleteFromEdgeIndexVersioned(
        li.filter(pmod(col("l_orderkey"), lit(3)) === 0), p, led,
        "vedge", bs(0), bs(1), bs(2), bs(3))
      (led, bs(0), bs(1), bs(2), bs(3))
    }
    val vedge1 = buildVersionedEdge(srcDir, "1x")
    val vedge10 = buildVersionedEdge(scaleDir, "10x")

    // untimed: the x217 digest table per fixture, built CONVERGED on
    // the %3 snapshot so the timed probe is the pure steady-state
    // detect pass
    def buildMcycDigest(dir: String, tag: String): String = {
      val tb = s"graft_idx.mcyc_digests_probe_$tag"
      graft.sinks.Sinks.dropManaged(spark, tb)
      graft.operators.TextDedup.writeDigestIndex(
        Tables(spark, dir, "documents")
          .filter(pmod(col("doc_id"), lit(3)) === 0), "text", tb)
      tb
    }
    val mcyc1 = buildMcycDigest(srcDir, "1x")
    val mcyc10 = buildMcycDigest(scaleDir, "10x")

    // untimed: the x222 frozen DSIR weight table per fixture (even-id
    // corpus slice, English target, 256 buckets)
    def buildDsirIndex(dir: String, tag: String): String = {
      val tb = s"graft_idx.dsir_w_probe_$tag"
      graft.sinks.Sinks.dropManaged(spark, tb)
      TextAnalysis.writeDsirIndex(
        Tables(spark, dir, "documents")
          .filter(pmod(col("doc_id"), lit(2)) === 0),
        "doc_id", "text", col("lang") === "en", numBuckets = 256, tb)
      tb
    }
    val dsir1 = buildDsirIndex(srcDir, "1x")
    val dsir10 = buildDsirIndex(scaleDir, "10x")

    // dev knob (mirrors Bench): SPARK_GRAFT_SCALE_ONLY=x88_...,x104_...
    // restricts the probed set for re-measuring individual probes; the
    // partial BENCH_scale.json it writes is merged into the full table
    // by the caller
    val only = sys.env.get("SPARK_GRAFT_SCALE_ONLY")
      .map(_.split(',').map(_.trim).toSet)
    def selected(ps: Seq[(String, (SparkSession, String) => DataFrame)]) =
      ps.filter { case (n, _) => only.forall(_.contains(n)) }

    // one untimed warmup of every probe at 1× (JIT + codegen)
    selected(probes(16, 1, thr1, lm1, ann1, ann2_1, bm25_1, nov1, pq1,
        ivfpq1, edge1, dig1, medge1, ddel1, vedge1, mcyc1, dsir1)).foreach { case (n, f) =>
      try f(spark, srcDir).queryExecution.toRdd.count()
      catch { case e: Throwable =>
        System.err.println(s"[scale] warmup $n failed: ${e.getMessage}") }
      spark.catalog.clearCache()
    }

    val results = selected(probes(16, 1, thr1, lm1, ann1, ann2_1, bm25_1,
        nov1, pq1, ivfpq1, edge1, dig1, medge1, ddel1, vedge1, mcyc1,
        dsir1))
      .zip(selected(probes(16 * Copies, Copies, thr10, lm10, ann10,
        ann2_10, bm25_10, nov10, pq10, ivfpq10, edge10, dig10, medge10,
        ddel10, vedge10, mcyc10, dsir10))).map {
      case ((name, f1), (_, f10)) =>
        val (t1, r1, sw1, _, _) = run(srcDir, 16, name, f1)
        val (t10, r10, sw10, ms10, ds10) = run(scaleDir, 16 * Copies,
          name, f10)
        (name, t1, t10, t10 / t1, r1, r10, sw1, sw10, ms10 + ds10)
    }
    val json = results.map {
      case (n, t1, t10, g, r1, r10, sw1, sw10, sp10) =>
        f""""$n":{"t1":$t1%.2f,"t10":$t10%.2f,"growth":$g%.2f,""" +
          f""""rows1":$r1,"rows10":$r10,"shw1_mb":${sw1 / 1048576}%d,""" +
          f""""shw10_mb":${sw10 / 1048576}%d,"spill10_mb":${sp10 / 1048576}%d}"""
    }.mkString("{\"metric\":\"scale_probe\",\"copies\":" + Copies + ",\"probes\":{", ",", "}}")
    println(json)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("BENCH_scale.json"), json + "\n")
    results.foreach { case (n, t1, t10, g, _, _, _, sw10, sp10) =>
      System.err.println(f"[scale] $n%-20s ${t1}%6.2f s -> ${t10}%6.2f s  " +
        f"growth ${g}%5.2f× (data ${Copies}×, shw ${sw10 / 1048576}%d MB, " +
        f"spill ${sp10 / 1048576}%d MB)")
    }
    spark.stop()
  }
}
