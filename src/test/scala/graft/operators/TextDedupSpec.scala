package graft.operators

import graft.SparkSpec

class TextDedupSpec extends SparkSpec {
  import spark.implicits._

  // three near-identical docs (1,2,4), one unrelated (3), one exact dup of 1 (5)
  private lazy val docs = Seq(
    (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    (2L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
    (3L, "one two three four five six seven eight nine ten"),
    (4L, "alpha beta gamma delta epsilon zeta eta theta iota kappa mu"),
    (5L, "ALPHA beta gamma delta epsilon zeta eta theta iota kappa")
  ).toDF("doc_id", "text")

  test("exactGroups collapses case/whitespace-normalized duplicates (X1)") {
    val out = TextDedup.exactGroups(docs, "doc_id", "text").collect()
    assert(out.length == 4) // 1 and 5 share a hash
    val dupGroup = out.find(_.getAs[Long]("n_dups") == 2L).get
    assert(dupGroup.getAs[Long]("keep_id") == 1L)
  }

  test("snapshotDiff (x133): added/removed/changed/unchanged per id; " +
      "NULL text counts as present and two NULL texts as unchanged") {
    import spark.implicits._
    val v1 = Seq(
      (1L, Option("kept as is")),
      (2L, Option("will be revised")),
      (3L, Option("will be dropped")),
      (5L, Option.empty[String]),       // NULL text, present both sides
      (6L, Option("becomes null"))
    ).toDF("doc_id", "text")
    val v2 = Seq(
      (1L, Option("  KEPT as is ")),    // case/outer-ws normalize-equal
      (2L, Option("was revised")),
      (4L, Option("brand new")),
      (5L, Option.empty[String]),       // still NULL => unchanged
      (6L, Option.empty[String])        // text -> NULL => changed
    ).toDF("doc_id", "text")
    val out = TextDedup.snapshotDiff(v1, v2, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[String]("status")).toMap
    assert(out == Map(1L -> "unchanged", 2L -> "changed", 3L -> "removed",
      4L -> "added", 5L -> "unchanged", 6L -> "changed"))
  }

  test("jaccardPairs finds near-dups via inverted index (x8)") {
    val pairs = TextDedup.jaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 5L))) // identical after normalization (j=1.0)
    assert(pairs.contains((1L, 2L))) // one-token difference
    assert(pairs.contains((1L, 4L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L)) // unrelated doc
  }

  test("minhashLshPairs recalls the high-jaccard pairs exactly (X2)") {
    val lsh = TextDedup.minhashLshPairs(docs, "doc_id", "text", 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val exact = TextDedup.jaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // LSH candidates are exact-verified, so surviving pairs must equal the
    // exhaustive result on this tiny corpus (miss prob ~1e-9 at j>=0.5)
    assert(lsh.toSet == exact.toSet)
    assert(lsh.exists(p => p._1 == 1L && p._2 == 5L && p._3 == 1.0))
  }

  test("winnowPairs: identical docs share every fingerprint (x52)") {
    val pairs = TextDedup.winnowPairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 5L))) // identical after normalization
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L)) // unrelated doc
  }

  test("winnowPairs: a shared run of >= window+k-1 tokens guarantees a shared fingerprint") {
    // docs 1 and 2 share a 9-token prefix run (>= 4 + 3 - 1 = 6)
    val pairs = TextDedup.winnowPairs(docs, "doc_id", "text", minShared = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("winnowFingerprints: too-short documents yield no full frame") {
    import spark.implicits._
    val short = Seq((9L, "only five tokens right here")).toDF("doc_id", "text")
    // 5 tokens -> 3 positional 3-grams -> no full window of 4
    assert(TextDedup.winnowFingerprints(short, "doc_id", "text").count() == 0L)
  }

  test("winnowPairs guard trips on a hot fingerprint (maxFpDf)") {
    val e = intercept[IllegalArgumentException] {
      TextDedup.winnowPairs(docs, "doc_id", "text", maxFpDf = 1L)
    }
    assert(e.getMessage.contains("winnowPairs"))
    assert(e.getMessage.contains("stripBoilerplate"))
  }

  test("simhashPairs finds hamming<=3 pairs; identical docs at distance 0 (x7)") {
    val out = TextDedup.simhashPairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Int]("hamming")))
    assert(out.exists(p => p._1 == 1L && p._2 == 5L && p._3 == 0))
    assert(!out.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("simhashMd5Pairs: identical docs at distance 0; unrelated never pair (x7)") {
    val out = TextDedup.simhashMd5Pairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Int]("hamming")))
    assert(out.exists(p => p._1 == 1L && p._2 == 5L && p._3 == 0))
    assert(!out.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("dedupedCorpus keeps one survivor per exact-dup group (x34)") {
    val out = TextDedup.dedupedCorpus(docs, "doc_id", "text").collect()
    assert(out.map(_.getAs[Long]("doc_id")).sorted.toSeq ==
      Seq(1L, 2L, 3L, 4L)) // 5 is an exact dup of 1
    assert(out.find(_.getAs[Long]("doc_id") == 1L).get
      .getAs[Long]("n_dups") == 2L)
  }

  test("neardupSurvivors keeps one rep per near-dup cluster (x36)") {
    // at j>=0.5 docs 1/2/4/5 form one cluster; 3 stands alone
    val out = TextDedup.neardupSurvivors(docs, "doc_id", "text",
        k = 3, threshold = 0.5)
      .collect().map(_.getAs[Long]("doc_id")).sorted.toSeq
    assert(out == Seq(1L, 3L)) // rep (min id) of the cluster + the loner
  }

  test("containmentPairs catches small-in-big pairs Jaccard misses (x43)") {
    // doc 20 (5 tokens -> 3 shingles) is verbatim inside doc 21 (16
    // tokens -> 14 shingles): containment(20->21) = 3/3 = 1.0 but
    // jaccard = 3/14 ≈ 0.21 — invisible to x8 at any threshold >= 0.25
    val corpus = Seq(
      (20L, "alpha beta gamma delta epsilon"),
      (21L, "intro words first then alpha beta gamma delta epsilon " +
        "and a long unrelated tail of filler tokens"),
      (22L, "one two three four five six seven")
    ).toDF("doc_id", "text")
    val out = TextDedup.containmentPairs(corpus, "doc_id", "text",
        k = 3, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        r.getAs[Double]("containment")).toMap
    assert(out((20L, 21L)) == 1.0) // directional: inner=20, outer=21
    assert(!out.contains((21L, 20L))) // 3/14 < 0.8 the other way
    assert(!out.keys.exists(p => p._1 == 22L || p._2 == 22L))
    val jac = TextDedup.jaccardPairs(corpus, "doc_id", "text", 3, 0.8)
      .collect()
    assert(jac.isEmpty) // the symmetric test cannot see this pair
  }

  // boilerplate corpus: six identical docs — every shingle has df=6 and
  // the rare-shingle prefix is ALL hot shingles, the df-sized-join-group
  // corner the containment guard exists for
  private lazy val boilerplate = (1L to 6L).map(i =>
    (i, "terms of service apply to all content provided herein"))
    .toDF("doc_id", "text")

  test("containmentPairs fails fast on a boilerplate corpus (df guard)") {
    val e = intercept[IllegalArgumentException] {
      TextDedup.containmentPairs(boilerplate, "doc_id", "text",
        k = 3, threshold = 0.8, maxProbeDf = 3)
    }
    assert(e.getMessage.contains("capProbeDf"))
    assert(e.getMessage.contains("minhashLshPairs")) // names the scale path
  }

  test("containmentPairs capProbeDf drops hot entries, keeps cold pairs") {
    // all-hot prefix -> every probe entry dropped -> no candidates: the
    // documented completeness trade, not an error
    val capped = TextDedup.containmentPairs(boilerplate, "doc_id", "text",
      k = 3, threshold = 0.8, maxProbeDf = 3, capProbeDf = true)
    assert(capped.collect().isEmpty)
    // mixed corpus: the small-in-big pair's shingles have df=2 (cold,
    // kept under the cap) while the boilerplate family is dropped
    val mixed = Seq(
      (20L, "alpha beta gamma delta epsilon"),
      (21L, "intro words first then alpha beta gamma delta epsilon " +
        "and a long unrelated tail of filler tokens")
    ).toDF("doc_id", "text").union(boilerplate.filter($"doc_id" <= 4)
      .select(($"doc_id" + 100L).as("doc_id"), $"text"))
    val out = TextDedup.containmentPairs(mixed, "doc_id", "text",
        k = 3, threshold = 0.8, maxProbeDf = 3, capProbeDf = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((20L, 21L))) // cold pair found, boilerplate culled
  }

  test("jaccardPairs/containmentPairs reject out-of-range thresholds") {
    for (t <- Seq(0.0, -0.5, 1.5)) {
      intercept[IllegalArgumentException] {
        TextDedup.jaccardPairs(docs, "doc_id", "text", 3, t)
      }
      intercept[IllegalArgumentException] {
        TextDedup.containmentPairs(docs, "doc_id", "text", 3, t)
      }
    }
  }

  test("fingerprints are equal for normalized-identical docs (x14)") {
    val fp = TextDedup.fingerprints(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fp(1L) == fp(5L))
    assert(fp(1L) != fp(3L))
    assert(fp(1L).split('|').length == 4) // 4 joined digests
  }

  test("incrementalExactDedup: in-batch collapse + cross anti-join (x74)") {
    import spark.implicits._
    val existing = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "epsilon zeta eta theta")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "ALPHA beta gamma delta"),   // normalized match of existing 1
      (11L, "iota kappa lambda mu"),     // fresh, duplicated in-batch
      (12L, "iota kappa lambda mu"),
      (13L, "nu xi omicron pi")          // fresh, unique
    ).toDF("doc_id", "text")
    val out = TextDedup.incrementalExactDedup(batch, existing,
      "doc_id", "text").collect().map(_.getAs[Long]("doc_id")).sorted.toSeq
    assert(out == Seq(11L, 13L)) // 10 cross-dropped; 12 lost to rep 11
    // schema preserved
    assert(TextDedup.incrementalExactDedup(batch, existing, "doc_id",
      "text").schema == batch.schema)
  }

  test("crossNeardupSurvivors: batch near-dups of the corpus drop; " +
      "batch-internal near-dups do NOT (x75)") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog today again"
    val existing = Seq(
      (1L, base),
      (2L, "completely different existing content here")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, base + " ok"),   // j vs 1 well above 0.8 -> dropped
      (11L, "fresh unrelated new document text entirely"),
      (12L, "fresh unrelated new document text entirely plus"), // near-dup of 11: must SURVIVE (cross-only)
      (13L, "tiny")          // < k tokens: no shingles, never a candidate
    ).toDF("doc_id", "text")
    val out = TextDedup.crossNeardupSurvivors(batch, existing,
        "doc_id", "text", k = 3, threshold = 0.8)
      .collect().map(_.getAs[Long]("doc_id")).sorted.toSeq
    assert(out == Seq(11L, 12L, 13L))
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

  test("indexed incremental dedup (x80/x81): persisted-index paths " +
      "return identical rows to the self-contained forms") {
    import spark.implicits._
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_idx_test")
    Seq("graft_idx_test.nd_sets", "graft_idx_test.nd_bands",
      "graft_idx_test.digests").foreach(dropIdxTable)

    // near-dup: same fixture as the crossNeardupSurvivors test
    val base = "the quick brown fox jumps over the lazy dog today again"
    val existing = Seq(
      (1L, base),
      (2L, "completely different existing content here")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, base + " ok"),
      (11L, "fresh unrelated new document text entirely"),
      (12L, "fresh unrelated new document text entirely plus"),
      (13L, "tiny")).toDF("doc_id", "text")
    TextDedup.writeNeardupIndex(existing, "doc_id", "text", k = 3,
      "graft_idx_test.nd_sets", "graft_idx_test.nd_bands", numBuckets = 2)
    val viaIndex = TextDedup.crossNeardupSurvivorsIndexed(batch, "doc_id",
        "text", k = 3, threshold = 0.8,
        "graft_idx_test.nd_sets", "graft_idx_test.nd_bands")
      .collect().map(_.getAs[Long]("doc_id")).sorted.toSeq
    assert(viaIndex == Seq(11L, 12L, 13L)) // == self-contained x75 rows

    // exact: same fixture as the incrementalExactDedup test
    val existingE = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "epsilon zeta eta theta")).toDF("doc_id", "text")
    val batchE = Seq(
      (10L, "ALPHA beta gamma delta"),
      (11L, "iota kappa lambda mu"),
      (12L, "iota kappa lambda mu"),
      (13L, "nu xi omicron pi")).toDF("doc_id", "text")
    TextDedup.writeDigestIndex(existingE, "text", "graft_idx_test.digests",
      numBuckets = 2)
    val viaDigests = TextDedup.incrementalExactDedupIndexed(batchE,
        "doc_id", "text", "graft_idx_test.digests")
      .collect().map(_.getAs[Long]("doc_id")).sorted.toSeq
    assert(viaDigests == Seq(11L, 13L))
  }

  test("deleteFromIndex on the near-dup sets/bands tables (x214): " +
      "post-delete tables are bit-identical to a from-scratch rebuild " +
      "without the deleted docs — deleted docs stop gating arrivals") {
    import spark.implicits._
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_idx_test")
    val (setsT, bandsT) =
      ("graft_idx_test.nd_sets_del", "graft_idx_test.nd_bands_del")
    val (setsR, bandsR) =
      ("graft_idx_test.nd_sets_dreb", "graft_idx_test.nd_bands_dreb")
    Seq(setsT, bandsT, setsR, bandsR).foreach(dropIdxTable)
    val base = "the quick brown fox jumps over the lazy dog today again"
    val keep = Seq((1L, "completely different existing content here"))
    val gone = Seq((2L, base))
    TextDedup.writeNeardupIndex((keep ++ gone).toDF("doc_id", "text"),
      "doc_id", "text", k = 3, setsT, bandsT, numBuckets = 2)
    val delIds = gone.map(_._1).toDF("doc_id")
    graft.operators.Warehouse.deleteFromIndex(spark, setsT, "doc_id", delIds)
    graft.operators.Warehouse.deleteFromIndex(spark, bandsT, "doc_id", delIds)
    TextDedup.writeNeardupIndex(keep.toDF("doc_id", "text"),
      "doc_id", "text", k = 3, setsR, bandsR, numBuckets = 2)
    Seq(setsT -> setsR, bandsT -> bandsR).foreach { case (a, b) =>
      assert(spark.table(a).collect().map(_.toSeq).toSet ===
        spark.table(b).collect().map(_.toSeq).toSet, a)
    }
    // the takedown is EFFECTIVE: a near-dup of the deleted doc now
    // survives the gate (it would have been dropped pre-delete)
    val batch = Seq((10L, base + " ok")).toDF("doc_id", "text")
    val survivors = TextDedup.crossNeardupSurvivorsIndexed(batch,
        "doc_id", "text", k = 3, threshold = 0.8, setsT, bandsT)
      .collect().map(_.getAs[Long]("doc_id")).toSeq
    assert(survivors === Seq(10L))
    Seq(setsT, bandsT, setsR, bandsR).foreach(dropIdxTable)
  }

  test("duplicateSpans: maximal repeated spans, first occurrence kept, " +
      "overlapping grams coalesce (x83)") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f g h i j k l"),  // first occurrence: kept whole
      (2L, "a b c d e f g h i j k l"),  // exact dup -> whole-doc span
      (3L, "x a b c d e f g h i y z"),  // shares a 9-token run at pos 1
      (4L, "short text only here")      // < 8 tokens: no grams
    ).toDF("doc_id", "text")
    val out = TextDedup.duplicateSpans(docs, "doc_id", "text",
        spanTokens = 8)
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Long]("span_start"), r.getAs[Long]("span_len"))).toSet
    assert(out == Set((2L, 0L, 12L), (3L, 1L, 9L)))

    // WITHIN-document repetition: the second copy of an 8-token run in
    // the same doc is a removal span too (self-dedup), anchored at the
    // repeat (first occurrence kept)
    val selfRep = Seq(
      (1L, "a b c d e f g h x y z a b c d e f g h")
    ).toDF("doc_id", "text")
    val spans = TextDedup.duplicateSpans(selfRep, "doc_id", "text",
        spanTokens = 8)
      .collect().map(r => (r.getAs[Long]("span_start"),
        r.getAs[Long]("span_len"))).toSet
    assert(spans == Set((11L, 8L)))
  }

  test("contaminatedSpans: corpus spans matching benchmark grams, NO " +
      "first-occurrence exemption; unmatched and short docs silent " +
      "(x95)") {
    import spark.implicits._
    val bench = Seq(
      (1L, "q1 q2 q3 q4 q5 q6 q7 q8 q9 q10")).toDF("doc_id", "text")
    val corpus = Seq(
      // the whole benchmark text embedded at pos 2: one 10-token span
      (10L, "x y q1 q2 q3 q4 q5 q6 q7 q8 q9 q10 z"),
      // an 8-token benchmark prefix at pos 0 — matched even though it
      // is the corpus's own "first occurrence" of that material
      (11L, "q1 q2 q3 q4 q5 q6 q7 q8 k l m n"),
      (12L, "entirely unrelated words fill this document body here ok"),
      (13L, "q1 q2 q3")  // < spanTokens: no grams, silent
    ).toDF("doc_id", "text")
    val out = TextDedup.contaminatedSpans(corpus, bench, "doc_id",
        "text", spanTokens = 8)
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Long]("span_start"), r.getAs[Long]("span_len"))).toSet
    assert(out == Set((10L, 2L, 10L), (11L, 0L, 8L)))
  }

  test("applySpanRemovals: spans cut out positionally, span-less docs " +
      "pass whole, fully-covered docs come out empty (x87)") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f g h i j k l"),  // first occurrence: kept whole
      (2L, "a b c d e f g h i j k l"),  // exact dup -> fully covered
      (3L, "x a b c d e f g h i y z"),  // 9-token span at pos 1 cut
      (4L, "short text only here")      // no grams -> untouched
    ).toDF("doc_id", "text")
    val out = TextDedup.applySpanRemovals(docs, "doc_id", "text",
        TextDedup.duplicateSpans(docs, "doc_id", "text", spanTokens = 8))
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Long]("n_tokens_removed"),
        r.getAs[String]("clean_text"))).toSet
    assert(out == Set(
      (1L, 0L, "a b c d e f g h i j k l"),
      (2L, 12L, ""),
      (3L, 9L, "x y z"),
      (4L, 0L, "short text only here")))
  }

  test("dedupParagraphs: repeated chunks drop everywhere but first, " +
      "docs reassemble from survivors, all-dup docs vanish (x85)") {
    import spark.implicits._
    val first24 = "a b c d e f g h i j k l m n o p q r s t u v w x"
    val docs = Seq(
      (1L, first24),                                   // both chunks first
      (2L, first24),                                   // exact dup -> gone
      (3L, "a b c d e f g h i j k l c1 c2 c3 c4 c5"),  // dup head + tail
      (4L, "zz yy xx"),                                // short unique doc
      (5L, ("p1 p2 p3 p4 p5 p6 p7 p8 p9 p10 p11 p12 " * 2).trim)
    ).toDF("doc_id", "text")
    val out = TextDedup.dedupParagraphs(docs, "doc_id", "text", chunk = 12)
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Long]("n_kept"), r.getAs[Long]("n_dropped"),
        r.getAs[String]("clean_text"))).toSet
    assert(out == Set(
      (1L, 2L, 0L, first24),
      (3L, 1L, 1L, "c1 c2 c3 c4 c5"),
      (4L, 1L, 0L, "zz yy xx"),
      // within-doc repeat: second copy drops, first survives
      (5L, 1L, 1L, "p1 p2 p3 p4 p5 p6 p7 p8 p9 p10 p11 p12")))
    // chunk grid must be >= 1 token wide
    intercept[IllegalArgumentException] {
      TextDedup.dedupParagraphs(docs, "doc_id", "text", chunk = 0)
    }
  }

  test("substringDupSpans (x224): char-level L-window duplicates via " +
      "suffix-rank doubling — first occurrence kept, islands merge, " +
      "short docs emit nothing; matches the naive gram grouping") {
    import spark.implicits._
    val block = "The license block is repeated verbatim everywhere." // 51
    val docs = Seq(
      (1L, s"unique preamble one. $block trailing alpha."),
      (2L, s"another document here, $block and its own tail."),
      (3L, "entirely unique content with no repeats in this doc."),
      (4L, "tiny doc"), // < L: no grams, no spans
      (5L, s"unique preamble one. $block trailing alpha.") // dup of 1
    ).toDF("doc_id", "text")
    val L = 24
    val spans = TextDedup.substringDupSpans(docs, "doc_id", "text", L)
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Long]("span_start"), r.getAs[Long]("span_len")))
    // doc 1 is the global keeper of everything it shares (min doc id):
    // no spans; doc 3/4 clean; doc 2 carries one merged island over
    // the shared block; doc 5 is one whole-document span
    assert(!spans.exists(_._1 == 1L), spans.mkString("; "))
    assert(!spans.exists(_._1 == 3L), spans.mkString("; "))
    assert(!spans.exists(_._1 == 4L), spans.mkString("; "))
    assert(spans.count(_._1 == 2L) === 1, spans.mkString("; "))
    val d5 = spans.filter(_._1 == 5L)
    val len5 = s"unique preamble one. $block trailing alpha.".length
    assert(d5.toSeq === Seq((5L, 1L, len5.toLong)), spans.mkString("; "))
    // the doubling keys form EXACTLY the naive substring classes:
    // recompute spans by materializing the 24-char grams directly
    docs.createOrReplaceTempView("ssd_docs")
    val naive = spark.sql(s"""
      WITH g AS (SELECT doc_id, pos, substring(text, pos, $L) AS gr
        FROM (SELECT doc_id, text,
            explode(sequence(1, length(text) - ${L - 1})) AS pos
          FROM ssd_docs WHERE length(text) >= $L)),
      agg AS (SELECT gr, count(*) AS n,
          min(doc_id * 1000000 + pos) AS fe FROM g GROUP BY gr),
      rem AS (SELECT doc_id, pos FROM g JOIN agg USING (gr)
        WHERE n >= 2 AND doc_id * 1000000 + pos <> fe),
      seg AS (SELECT doc_id, pos, CASE WHEN pos - lag(pos)
            OVER (PARTITION BY doc_id ORDER BY pos) <= $L
          THEN 0 ELSE 1 END AS nw FROM rem),
      isl AS (SELECT doc_id, pos, sum(nw)
          OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM seg)
      SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
        CAST(max(pos) - min(pos) + $L AS BIGINT) AS span_len
      FROM isl GROUP BY doc_id, grp""")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(spans.toSet === naive.toSet)
    intercept[IllegalArgumentException] {
      TextDedup.substringDupSpans(docs, "doc_id", "text", L = 1)
    }
  }

  test("substringDupSpans: book-scale keeper selection — a 1.2M-char " +
      "document past the old doc_id*1e6+pos encoding bound keeps its " +
      "first occurrence (struct argmin, no position-range bleed)") {
    import spark.implicits._
    // ~1.2M chars of non-repeating filler: fixed-width increasing
    // tokens, so every 24-char window is unique within and across docs
    val filler = (0 to 80000).map(i => f"filler-$i%07d").mkString(" ")
    assert(filler.length > 1200000)
    val block = "The license block is repeated verbatim everywhere." // 51
    // doc 1 carries the block at a position > 1e6: under the retired
    // encoding (1*1e6 + pos > 2*1e6) it would lose the keeper argmin
    // to doc 2's copy at (2*1e6 + 30) and get cut — the silent
    // mis-keep the struct argmin closes
    val docs = Seq(
      (1L, s"$filler $block"),
      (2L, s"a short second document. $block and its own tail.")
    ).toDF("doc_id", "text")
    val spans = TextDedup.substringDupSpans(docs, "doc_id", "text", 24)
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Long]("span_start"), r.getAs[Long]("span_len")))
    // (1, ~1.2e6) < (2, 26) lexicographically: doc 1 is the keeper
    assert(!spans.exists(_._1 == 1L), spans.mkString("; "))
    assert(spans.count(_._1 == 2L) === 1, spans.mkString("; "))
  }

  test("substringDupSpansIndexed (x227): batch grams against the " +
      "frozen corpus key set — corpus copies always keep, batch-" +
      "internal repeats keep their min, index append extends the set") {
    import spark.implicits._
    val block = "The license block is repeated verbatim everywhere."
    val corpus = Seq(
      (0L, s"corpus doc alpha with the shared part: $block end."),
      (2L, "corpus doc beta, entirely its own unrepeated content here.")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (11L, s"new batch doc carrying $block inside it, plus new text."),
      (13L, "a wholly novel batch document with nothing shared at all."),
      (15L, "a wholly novel batch document with nothing shared at all.")
    ).toDF("doc_id", "text") // 15 repeats 13 within the batch
    val idxT = "graft_idx_test.ss_keys"
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_idx_test")
    graft.sinks.Sinks.dropManaged(spark, idxT)
    TextDedup.writeSubstringIndex(corpus, "doc_id", "text", 24, idxT)
    val spans = TextDedup.substringDupSpansIndexed(batch, "doc_id",
        "text", 24, idxT)
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Long]("span_start"), r.getAs[Long]("span_len")))
    // doc 11's shared block is marked (corpus keeps); doc 13 is the
    // batch-internal keeper (clean); doc 15 is fully covered
    assert(spans.count(_._1 == 11L) === 1, spans.mkString("; "))
    assert(!spans.exists(_._1 == 13L), spans.mkString("; "))
    val d15 = spans.filter(_._1 == 15L)
    assert(d15.toSeq === Seq((15L, 1L,
      "a wholly novel batch document with nothing shared at all."
        .length.toLong)), spans.mkString("; "))
    // parity with the one-shot law: the same spans fall out of
    // substringDupSpans over corpus ∪ batch, restricted to batch docs
    // (corpus enc < batch enc, so the cross-corpus keeper agrees)
    val oneShot = TextDedup.substringDupSpans(
        corpus.unionByName(batch), "doc_id", "text", 24)
      .filter($"doc_id" >= 11L)
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Long]("span_start"), r.getAs[Long]("span_len")))
    assert(spans.toSet === oneShot.toSet)
    // extending the set: the batch's keys staged as a second segment
    // (the manifest ingest's append) — the batch now dedups against
    // ITSELF via the index too: every batch gram indexed -> all batch
    // docs fully covered
    val segT = "graft_idx_test.ss_keys_seg1"
    graft.sinks.Sinks.dropManaged(spark, segT)
    TextDedup.writeSubstringIndex(batch, "doc_id", "text", 24, segT)
    val re = TextDedup.substringDupSpansSegmented(batch, "doc_id", "text",
        24, Seq(idxT, segT))
      .collect().map(r => r.getAs[Long]("doc_id")).distinct
    assert(re.toSet === Set(11L, 13L, 15L))
    Seq(idxT, segT).foreach(graft.sinks.Sinks.dropManaged(spark, _))
  }

  test("substringContaminatedSpans (x232): benchmark-covered char " +
      "spans only — every occurrence marked (no first-occurrence " +
      "exemption), batch-internal repeats NOT in the benchmark are " +
      "ignored (the dedup/decontam split)") {
    import spark.implicits._
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_idx_test")
    val idxT = "graft_idx_test.ssdc_keys"
    spark.sql(s"DROP TABLE IF EXISTS $idxT")
    val block = "The license block is repeated verbatim everywhere." // 51
    TextDedup.writeSubstringIndex(
      Seq((100L, s"benchmark item text: $block end."))
        .toDF("doc_id", "text"),
      "doc_id", "text", 24, idxT, numBuckets = 2)
    val internalRep = "an internal repeated run of thirty characters!"
    val corpus = Seq(
      // leaked doc: the block appears TWICE — BOTH occurrences marked
      (1L, s"first copy: $block and second copy: $block ."),
      // internal repeat absent from the benchmark: decontam ignores it
      (2L, s"lead-in $internalRep middle $internalRep tail."),
      (3L, "a fully clean document with nothing shared at all.")
    ).toDF("doc_id", "text")
    val spans = TextDedup.substringContaminatedSpans(corpus, "doc_id",
        "text", 24, idxT)
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Long]("span_start"), r.getAs[Long]("span_len")))
    assert(spans.count(_._1 == 1L) === 2, spans.mkString("; "))
    assert(!spans.exists(_._1 == 2L), spans.mkString("; "))
    assert(!spans.exists(_._1 == 3L), spans.mkString("; "))
    // the dedup form, by contrast, marks doc 2's internal repeat
    assert(TextDedup.substringDupSpansIndexed(corpus, "doc_id", "text",
        24, idxT)
      .filter(org.apache.spark.sql.functions.col("doc_id") === 2L)
      .count() > 0)
    spark.sql(s"DROP TABLE IF EXISTS $idxT")
  }

  test("substringDedupApplyIndexed (x230): the batch is cut against " +
      "the frozen corpus index in one call — corpus-shared spans " +
      "excised, batch-novel text byte-identical") {
    import spark.implicits._
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_idx_test")
    val idxT = "graft_idx_test.ssai_keys"
    spark.sql(s"DROP TABLE IF EXISTS $idxT")
    val block = "The license block is repeated verbatim everywhere." // 51
    val corpus = Seq(
      (100L, s"corpus document alpha carries the block: $block !"))
      .toDF("doc_id", "text")
    TextDedup.writeSubstringIndex(corpus, "doc_id", "text", 24, idxT,
      numBuckets = 2)
    val novel = "a wholly novel batch document with nothing shared."
    val batch = Seq(
      (1L, s"batch doc one also carries $block plus its own tail."),
      (2L, novel)).toDF("doc_id", "text")
    val out = TextDedup.substringDedupApplyIndexed(batch, "doc_id",
        "text", 24, idxT)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_chars_removed"),
          r.getAs[String]("clean_text"))).toMap
    assert(out(1L)._1 > 0L && !out(1L)._2.contains(block), out(1L))
    assert(out(2L) === ((0L, novel)))
    // definitional parity: identical to applying the x227 spans
    val viaSpans = TextDedup.applyCharSpans(batch, "doc_id", "text",
        TextDedup.substringDupSpansIndexed(batch, "doc_id", "text", 24,
          idxT))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_chars_removed"),
          r.getAs[String]("clean_text"))).toMap
    assert(out === viaSpans)
    spark.sql(s"DROP TABLE IF EXISTS $idxT")
  }

  test("substringDedupApply (x225): spans cut character-exact, " +
      "span-less docs byte-identical, fully-duplicated docs end empty") {
    import spark.implicits._
    val block = "The license block is repeated verbatim everywhere."
    val d1 = s"unique preamble one. $block trailing alpha."
    val docs = Seq(
      (1L, d1),
      (2L, s"another document here, $block and its own tail."),
      (3L, "entirely unique content with no repeats in this doc."),
      (4L, "tiny doc"),
      (5L, d1) // exact duplicate of doc 1 -> fully covered
    ).toDF("doc_id", "text")
    val out = TextDedup.substringDedupApply(docs, "doc_id", "text", 24)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_chars_removed"), r.getAs[String]("clean_text")))
      .toMap
    // keeper + clean docs byte-identical, zero removed
    assert(out(1L) === (0L, d1))
    assert(out(3L)._1 === 0L && out(4L)._1 === 0L)
    // the exact duplicate loses its whole text
    assert(out(5L) === (d1.length.toLong, ""))
    // doc 2: removed chars = its one span's length; the kept text is
    // the original minus that contiguous block
    val spans = TextDedup.substringDupSpans(docs, "doc_id", "text", 24)
      .filter(org.apache.spark.sql.functions.col("doc_id") === 2L)
      .collect()
    val (s2, l2) = (spans.head.getAs[Long]("span_start"),
      spans.head.getAs[Long]("span_len"))
    val t2 = s"another document here, $block and its own tail."
    val expect2 = t2.substring(0, (s2 - 1).toInt) +
      t2.substring((s2 - 1 + l2).toInt)
    assert(out(2L) === (l2, expect2))
  }
}
