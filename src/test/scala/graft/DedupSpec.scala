package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.{functions => F} // full import clashes with Matchers.size

/** q20–q23 semantics on hand-built corpora where ground truth is known
  * by construction (identical docs, one-word edits, disjoint docs). */
class DedupSpec extends SparkSpec {

  private def docs(texts: (Long, String)*): DataFrame = {
    import spark.implicits._
    texts.toDF("doc_id", "text")
  }

  private val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"

  test("shingleSet: n tokens -> n-2 distinct 3-gram shingles") {
    val df = docs((1L, "a b c d e"))
      .select(F.size(Dedup.shingleSet(3)).as("n"))
    df.collect().head.getInt(0) shouldBe 3 // "a b c","b c d","c d e"
  }

  test("shingleSet: short docs (<n tokens) yield an EMPTY set, not an ANSI error") {
    // DuckDB list_distinct drops the NULL produced by the out-of-range
    // window — the Spark side must match (round-3 ADVICE: ANSI
    // element_at crashed here before Exprs.Shingles).
    val ns = docs((1L, "solo"), (2L, "two words"), (3L, ""))
      .select(F.size(Dedup.shingleSet(3)).as("n")).collect().map(_.getInt(0))
    ns shouldBe Array(0, 0, 0)
  }

  test("q21/q22 tolerate short docs in the corpus (no pairs, no crash)") {
    val d = docs((1L, base), (2L, base), (3L, "solo"), (4L, ""))
    Dedup.ngramJaccardPairs(d).collect().map(r => (r.getLong(0), r.getLong(1))) shouldBe
      Array((1L, 2L))
    Dedup.minhashLshPairs(d).collect().map(r => (r.getLong(0), r.getLong(1))) shouldBe
      Array((1L, 2L))
  }

  test("q114 holdout: a verbatim train copy in eval is flagged with its smallest trainer; clean and short eval docs pass") {
    import spark.implicits._
    // gate (md5(doc_id) 16-bit < 3276): 27/59/60 are EVAL, 1/2/3 TRAIN
    val d = Seq(
      (1L, base, "en", "src0"),                       // train
      (2L, base, "en", "src0"),                       // train twin (leak source)
      (3L, "totally different words entirely here now", "en", "src0"),
      (27L, base, "en", "src0"),                      // eval: verbatim of 1 and 2
      (59L, "unrelated eval text with its own novel phrasing", "en", "src0"),
      (60L, "tiny", "en", "src0"))                    // eval: < n tokens, cannot leak
      .toDF("doc_id", "text", "lang", "source")
    val out = Dedup.holdoutSplit(d).collect()
      .map(r => r.getLong(0) -> (r.getBoolean(3),
        if (r.isNullAt(4)) -1L else r.getLong(4))).toMap
    out.keySet shouldBe Set(27L, 59L, 60L)            // train rows never emitted
    out(27L) shouldBe (true, 1L)                      // leaked, SMALLEST trainer
    out(59L) shouldBe (false, -1L)
    out(60L) shouldBe (false, -1L)                    // shingle-less: kept, unflagged
  }

  test("q114 holdout: the split is a pure row function and eval/train partition the corpus") {
    val d = tables.documents
    val a = Dedup.holdoutSplit(d).collect().map(_.getLong(0)).sorted
    val b = Dedup.holdoutSplit(d).collect().map(_.getLong(0)).sorted
    a shouldBe b
    // a LARGER tau can only flag fewer (monotone verdict)
    val loose = Dedup.holdoutSplit(d, tau = 0.3).collect()
      .count(_.getBoolean(3))
    val tight = Dedup.holdoutSplit(d, tau = 0.9).collect()
      .count(_.getBoolean(3))
    tight should be <= loose
  }

  test("q115 excision removes exactly the covered span; clean docs hash their normalized text; full-overlap docs empty out") {
    import spark.implicits._
    val d = Seq(
      (7L, "secret eval question here"),                 // eval (7 % 7 = 0)
      (1L, "intro words then secret eval question here and more text tail"),
      (2L, "completely unrelated clean document"),
      (14L, "secret eval question here"))                // eval twin: fully covered
      .toDF("doc_id", "text")
    val out = Dedup.decontaminateExcise(d, d.filter(F.col("doc_id") % 7 === 0))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toMap
    // doc 1: trigram hits at p=4,5 cover tokens 4..7 → 4 excised of 11
    out(1L)._1 shouldBe 11L
    out(1L)._2 shouldBe 4L
    val clean1 = "intro words then and more text tail"
    out(1L)._3 shouldBe clean1.length.toLong
    out(1L)._4 shouldBe java.security.MessageDigest.getInstance("MD5")
      .digest(clean1.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // doc 2: untouched, hash of the space-normalized original
    out(2L)._2 shouldBe 0L
    out(2L)._3 shouldBe "completely unrelated clean document".length.toLong
    // doc 14: every token covered by doc 7's shingles → empties out,
    // NOT a silent pass-through
    out(14L)._2 shouldBe 4L
    out(14L)._3 shouldBe 0L
    out(14L)._4 shouldBe "d41d8cd98f00b204e9800998ecf8427e" // md5("")
    // doc 7 (eval member): self-matches excluded, but doc 14's
    // identical shingles condemn it symmetrically
    out(7L)._2 shouldBe 4L
  }

  test("q21 ngram-Jaccard: identical docs score 1.0; disjoint docs never pair") {
    val d = docs((1L, base), (2L, base), (3L, "one two three four five six"))
    val rows = Dedup.ngramJaccardPairs(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    rows shouldBe Array((1L, 2L, 1.0))
  }

  test("q21 one-word edit scores between 0 and 1") {
    val edited = base.replace("epsilon", "EDITED")
    val rows = Dedup.ngramJaccardPairs(docs((1L, base), (2L, edited)), tau = 0.1).collect()
    rows.length shouldBe 1
    val j = rows.head.getDouble(2)
    j should (be > 0.3 and be < 1.0)
  }

  test("q22 minhash-LSH finds identical docs with exact jaccard 1.0") {
    val d = docs((1L, base), (2L, base), (3L, "one two three four five six"))
    val rows = Dedup.minhashLshPairs(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    rows shouldBe Array((1L, 2L, 1.0))
  }

  test("q22 candidates are verified with TRUE jaccard (no false positives kept)") {
    // same shingle inventory in both docs but tau high enough that only
    // the exact pair survives verification
    val d = docs((1L, base), (2L, base), (3L, base + " extra tail words here now"))
    val rows = Dedup.minhashLshPairs(d, tau = 0.99).collect()
    rows.map(r => (r.getLong(0), r.getLong(1))) shouldBe Array((1L, 2L))
  }

  test("q23 simhash: identical docs at hamming 0; disjoint docs never pair") {
    val d = docs((1L, base), (2L, base), (3L, "one two three four five six"))
    val rows = Dedup.simhashPairs(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    rows shouldBe Array((1L, 2L, 0))
  }

  test("q35 decontamination flags normalized matches, case/whitespace-insensitively") {
    val train = docs(
      (1L, "The Quick   Brown Fox"),   // matches ref 100 after normalize
      (2L, "totally novel content"),
      (3L, "shared exact text"))       // matches ref 101 exactly
    val ref = docs(
      (100L, "the quick brown fox"),
      (101L, "shared exact text"))
    val flagged = TextOps.decontaminate(train, ref)
      .collect().map(_.getLong(0)).sorted
    flagged shouldBe Array(1L, 3L)
  }

  test("q21 df-cap drops ubiquitous-shingle pairs, only ever underestimates") {
    // the shared run appears in all 3 docs (df 3); pairwise Jaccard
    // rides entirely on it, so capping df at 2 kills every pair —
    // and an uncapped run still finds them (the exact declared form)
    val boiler = "subscribe to our newsletter for updates today friends"
    val d = docs(
      (1L, boiler), (2L, boiler), (3L, boiler))
    Dedup.ngramJaccardPairs(d).collect().length shouldBe 3
    Dedup.ngramJaccardPairs(d, maxDf = 2).collect() shouldBe empty
    // docs overlapping on a RARE run (df 2) are untouched by the cap
    val d2 = docs(
      (1L, boiler), (2L, boiler), (3L, boiler),
      (10L, "unique alpha beta gamma delta epsilon"),
      (11L, "unique alpha beta gamma delta epsilon"))
    val capped = Dedup.ngramJaccardPairs(d2, maxDf = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    capped shouldBe Array((10L, 11L))
  }

  test("q21 dfCapAudit quantifies exactly what a capped run drops") {
    val boiler = "subscribe to our newsletter for updates today friends"
    val d = docs(
      (1L, boiler), (2L, boiler), (3L, boiler),
      (10L, "unique alpha beta gamma delta epsilon"),
      (11L, "unique alpha beta gamma delta epsilon"))
    val r = Dedup.dfCapAudit(d, maxDf = 2).collect().head
    // boiler = 8 tokens → 6 trigram shingles, each df 3 (dropped);
    // the unique pair's 4 shingles sit at df 2 (kept)
    r.getAs[Long]("total_shingles") shouldBe 10L
    r.getAs[Long]("dropped_shingles") shouldBe 6L
    r.getAs[Long]("dropped_postings") shouldBe 18L
    r.getAs[Long]("max_df") shouldBe 3L
  }

  test("q60 containment flags a doc embedded in a superset that Jaccard misses") {
    // doc 1 = 6 tokens → 4 shingles, all inside doc 2's 14-token text:
    // C(1→2) = 4/4 = 1.0 but Jaccard = 4/12 = 0.33 — invisible to q21
    val small = "alpha beta gamma delta epsilon zeta"
    val d = docs(
      (1L, small),
      (2L, s"intro words lead in here $small and trailing context words"),
      (3L, "one two three four five six"))
    Dedup.ngramJaccardPairs(d).collect() shouldBe empty
    val rows = Dedup.ngramContainmentPairs(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    rows shouldBe Array((1L, 2L, 1.0))
  }

  test("q58 bloom decontamination output is exactly q35's (prefilter is invisible)") {
    val train = docs(
      (1L, "The Quick   Brown Fox"),
      (2L, "totally novel content"),
      (3L, "shared exact text"))
    val ref = docs(
      (100L, "the quick brown fox"),
      (101L, "shared exact text"))
    TextOps.decontaminateBloom(train, ref)
      .collect().map(_.getLong(0)).sorted shouldBe Array(1L, 3L)
    // and on the real corpus, row-for-row agreement with the exact path
    val d = tables.documents
    val refCorpus = d.filter(org.apache.spark.sql.functions.expr("doc_id % 7 = 0"))
    val exact = TextOps.decontaminate(d, refCorpus)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val bloomed = TextOps.decontaminateBloom(d, refCorpus)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    bloomed shouldBe exact
  }

  test("q47 ngram decontamination flags PARTIAL overlap exact fingerprints would miss") {
    import spark.implicits._
    val eval = "alpha beta gamma delta epsilon"
    val d = Seq(
      (7L, eval),                                         // the eval/benchmark doc
      (1L, s"intro words here $eval trailing text now"),  // embeds it verbatim
      (2L, "totally unrelated content with other words entirely")
    ).toDF("doc_id", "text")
    val rows = Dedup.decontaminateNgram(d, d.filter($"doc_id" === 7L)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // doc 1 shares exactly eval's 3 interior shingles; doc 2 none;
    // doc 7 is excluded as a self-match
    rows shouldBe Array((1L, 3L, 1L))
  }

  test("q55 keeper selection keeps the HIGHER-quality near-dup, not the lower id") {
    import spark.implicits._
    val base = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"
    val d = Seq(
      (5L, base),                 // all-unique tokens -> higher quality
      (2L, base + " w1 w2"),      // near-dup with repeats -> lower quality
      (9L, "totally different content here entirely now")
    ).toDF("doc_id", "text").withColumn("n_chars",
      org.apache.spark.sql.functions.length($"text"))
    val rows = Dedup.keeperSelection(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // one cluster {2, 5}, labeled by min id 2, keeper = 5 (quality wins)
    rows shouldBe Array((2L, 5L, 2L, 1L))
  }

  test("r20 band-index prefix width: corpus-sized at build, appends " +
    "and compaction follow the tree's width, probes unchanged") {
    import org.apache.spark.sql.functions.col
    // the width law itself
    Dedup.suggestBandPrefixWidth(10000L) shouldBe 1
    Dedup.suggestBandPrefixWidth(1L << 20) shouldBe 1
    Dedup.suggestBandPrefixWidth((1L << 20) + 1) shouldBe 2
    Dedup.suggestBandPrefixWidth(1L << 24) shouldBe 2
    Dedup.suggestBandPrefixWidth(1L << 27) shouldBe 3
    Dedup.suggestBandPrefixWidth(Long.MaxValue) shouldBe 4
    val docs = tables.documents
    val existing = docs.filter(col("doc_id") % 10 =!= 9)
    val incoming = docs.filter(col("doc_id") % 10 === 9)
    val dir = java.nio.file.Files.createTempDirectory("graft_pfx").toString + "/idx"
    Dedup.writeBandIndex(existing, dir)
    // probe-scale corpus → width 1 → at most 16 prefix directories
    Dedup.detectBandPrefixWidth(spark, dir) shouldBe Some(1)
    new java.io.File(dir).listFiles()
      .count(_.getName.startsWith("bk_prefix=")) should be <= 16
    // appends land in the SAME geometry, and the probe result is the
    // layout-independent truth (equals the inline recompute)
    Dedup.appendToBandIndex(incoming, dir)
    new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("bk_prefix="))
      .foreach(_.getName.length shouldBe "bk_prefix=".length + 1)
    // compaction preserves the tree's width
    Dedup.compactBandIndex(spark, dir)
    Dedup.detectBandPrefixWidth(spark, dir) shouldBe Some(1)
    val fromDisk = Dedup.incrementalProbeIndex(
      Dedup.readBandIndex(spark, dir), existing, incoming)
    // the index now CONTAINS the incoming batch (appended above), so
    // probing incoming against it yields at least the inline pairs
    val inline = Dedup.incrementalMinhashPairs(existing, incoming)
    inline.exceptAll(fromDisk).count() shouldBe 0L
  }

  test("q45 persisted band index round-trips: disk-probe equals inline-probe") {
    import org.apache.spark.sql.functions.col
    val docs = tables.documents
    val existing = docs.filter(col("doc_id") % 10 =!= 9)
    val incoming = docs.filter(col("doc_id") % 10 === 9)
    val dir = java.nio.file.Files.createTempDirectory("graft_bandidx").toString + "/idx"
    Dedup.writeBandIndex(existing, dir)
    val fromDisk = Dedup.incrementalProbeIndex(
      Dedup.readBandIndex(spark, dir), existing, incoming)
    val inline = Dedup.incrementalMinhashPairs(existing, incoming)
    fromDisk.exceptAll(inline).count() shouldBe 0L
    inline.exceptAll(fromDisk).count() shouldBe 0L
  }

  test("q45/s08 append admits a batch: later probes see it, mismatched params refused") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta"
    val corpus = Seq((1L, base), (2L, "one two three four five six seven"))
      .toDF("doc_id", "text")
    val admitted = Seq((50L, "fresh unseen admitted content words here today"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_append").toString + "/idx"
    Dedup.writeBandIndex(corpus, dir)
    Dedup.appendToBandIndex(admitted, dir)
    // a later intake duplicating the ADMITTED doc is now caught
    val intake = Seq((90L, "fresh unseen admitted content words here today"))
      .toDF("doc_id", "text")
    val hits = Dedup.incrementalProbeIndex(Dedup.readBandIndex(spark, dir),
      corpus.unionByName(admitted), intake).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    hits shouldBe Array((90L, 50L))
    // appending with a different hash family is refused before any write
    val ex = intercept[Exception] {
      Dedup.appendToBandIndex(admitted, dir, numHashes = 32, bands = 8)
    }
    ex.getMessage should include ("was built with")
  }

  test("band-index compaction: admit -> compact -> probe identical, fewer files, stamps kept") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val docs = tables.documents
    val corpus = docs.filter(col("doc_id") % 10 =!= 9)
    val intake = docs.filter(col("doc_id") % 10 === 9)
    val dir = java.nio.file.Files.createTempDirectory("graft_compact").toString + "/idx"
    Dedup.writeBandIndex(corpus, dir)
    // three admitted batches, the third a REPLAY of the second (the
    // at-least-once duplicate rows compaction is allowed to drop)
    val b1 = Seq((900L, "fresh unseen admitted content words here today"))
      .toDF("doc_id", "text")
    val b2 = Seq((901L, "another novel admitted document arriving later on"))
      .toDF("doc_id", "text")
    Dedup.appendToBandIndex(b1, dir)
    Dedup.appendToBandIndex(b2, dir)
    Dedup.appendToBandIndex(b2, dir) // replayed batch
    val existing = corpus.select("doc_id", "text").unionByName(b1).unionByName(b2)
    val preHits = Dedup.incrementalProbeIndex(
      Dedup.readBandIndex(spark, dir), existing, intake)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val (before, after) = Dedup.compactBandIndex(spark, dir)
    after should be < before
    // probe results are row-identical post-compaction
    val postHits = Dedup.incrementalProbeIndex(
      Dedup.readBandIndex(spark, dir), existing, intake)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    postHits shouldBe preHits
    // an admitted doc is still indexed, and the replay's duplicate
    // band rows are gone (distinct row count == physical row count)
    val idx = spark.read.parquet(dir)
    idx.filter(col("doc_id") === 901L).count() should be > 0L
    idx.count() shouldBe idx.select("doc_id", "bk").distinct().count()
    // parameter stamps survive: wrong-family probe still fails loudly
    val ex = intercept[IllegalArgumentException] {
      Dedup.readBandIndex(spark, dir, numHashes = 32, bands = 8)
    }
    ex.getMessage should include("numHashes=16")
    // the admit loop continues over the compacted index
    Dedup.appendToBandIndex(
      Seq((902L, "post compaction admitted row keeps the loop alive"))
        .toDF("doc_id", "text"), dir)
    val again = Dedup.incrementalProbeIndex(
      Dedup.readBandIndex(spark, dir), existing, intake)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    again shouldBe preHits
  }

  test("q80 line dedup: first carrier survives, later and internal repeats removed") {
    import spark.implicits._
    // width=2 segments: d1 = [a b][c d]; d2 = [c d][e f] (c d removed);
    // d3 = [a b][a b] (first is a repeat of d1's, second repeats too);
    // d4 = [x y][z] (trailing partial segment, all novel)
    val d = Seq(
      (1L, "a b c d"),
      (2L, "c d e f"),
      (3L, "a b a b"),
      (4L, "x y z")
    ).toDF("doc_id", "text")
    val out = Dedup.lineDedup(d, width = 2).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    out(1L) shouldBe ((2L, 0L, "a b c d"))      // first carrier of both
    out(2L) shouldBe ((2L, 1L, "e f"))          // "c d" belongs to d1
    out(3L) shouldBe ((2L, 2L, ""))             // all boilerplate -> empty
    out(4L) shouldBe ((2L, 0L, "x y z"))        // partial tail kept whole
  }

  test("q80 newline segmentation: shared header/footer lines removed, lines round-trip") {
    import spark.implicits._
    // the production contract: segments ARE the literal newline-split
    // lines. Three pages share a navigation header and a footer; each
    // has a unique body line. Page 3 repeats its own body line.
    val d = Seq(
      (1L, "NAV: home | about\nfirst page body\nfooter (c) corp"),
      (2L, "NAV: home | about\nsecond page body\nfooter (c) corp"),
      (3L, "NAV: home | about\nthird page body\nthird page body\nfooter (c) corp")
    ).toDF("doc_id", "text")
    val out = Dedup.lineDedup(d, separator = "\n").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // first carrier keeps header+footer; later pages lose both
    out(1L) shouldBe ((3L, 0L, "NAV: home | about\nfirst page body\nfooter (c) corp"))
    out(2L) shouldBe ((3L, 2L, "second page body"))
    // internal repeat of page 3's own body line also removed
    out(3L) shouldBe ((4L, 3L, "third page body"))
    // empty lines are STRUCTURE, not content: they bypass the dedup
    // rank, so EVERY doc keeps its paragraph breaks — not just the
    // first carrier of ""
    val e = Seq(
      (10L, "alpha\n\nbeta"),
      (11L, "gamma\n\ndelta"),
      (12L, "alpha\n\nepsilon")
    ).toDF("doc_id", "text")
    val eo = Dedup.lineDedup(e, separator = "\n").collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getString(3)))).toMap
    eo(10L) shouldBe ((0L, "alpha\n\nbeta"))
    eo(11L) shouldBe ((0L, "gamma\n\ndelta"))       // blank line SURVIVES
    eo(12L) shouldBe ((1L, "\nepsilon"))            // only "alpha" deduped
    // blank lines are exempt from the df cap too: df("") = 3 here,
    // but with every NON-empty line unique, maxDf=1 must pass
    val unique = Seq(
      (20L, "one\n\ntwo"), (21L, "three\n\nfour"), (22L, "five\n\nsix")
    ).toDF("doc_id", "text")
    Dedup.lineDedup(unique, separator = "\n", maxDf = 1L).collect()
      .map(_.getString(3)).sorted shouldBe
      Seq("five\n\nsix", "one\n\ntwo", "three\n\nfour")
  }

  test("q122 boilerplate strip: over-threshold segments removed from EVERY carrier, q80's complement") {
    import spark.implicits._
    // width=2, threshold=2: "a b" occurs 3x (docs 1,2,3) -> stripped
    // everywhere INCLUDING doc 1 (q80 would keep doc 1's); "c d"
    // occurs exactly 2x -> at threshold, kept in BOTH carriers (q80
    // would remove doc 2's)
    val d = Seq(
      (1L, "a b c d"),
      (2L, "a b c d"),
      (3L, "a b x y"),
      (4L, "u v")
    ).toDF("doc_id", "text")
    val out = Dedup.boilerplateStrip(d, width = 2, dfThreshold = 2L).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    out(1L) shouldBe ((2L, 1L, "c d"))       // first carrier stripped too
    out(2L) shouldBe ((2L, 1L, "c d"))       // df=2 segment survives twice
    out(3L) shouldBe ((2L, 1L, "x y"))
    out(4L) shouldBe ((1L, 0L, "u v"))
    // newline mode: the 3-page header/footer vanish from ALL pages;
    // blank lines are structure and survive everywhere
    val pages = Seq(
      (10L, "NAV: home\n\nfirst body\nfooter"),
      (11L, "NAV: home\n\nsecond body\nfooter"),
      (12L, "NAV: home\n\nthird body\nfooter")
    ).toDF("doc_id", "text")
    val po = Dedup.boilerplateStrip(pages, separator = "\n", dfThreshold = 2L)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getString(3)))).toMap
    po(10L) shouldBe ((2L, "\nfirst body"))
    po(11L) shouldBe ((2L, "\nsecond body"))
    po(12L) shouldBe ((2L, "\nthird body"))
    // the strip FIRES on the real gate corpus (repeated fixed-width
    // segments exist at sf0.001) and re-runs are identical
    val real = tables.documents
    val a = Dedup.boilerplateStrip(real).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    a.map(_._3).sum should be > 0L
    val b = Dedup.boilerplateStrip(real).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    a.sorted shouldBe b.sorted
  }

  test("q80 maxDf cap: corpus-scale boilerplate segment fails loudly, in-cap corpus unchanged") {
    import spark.implicits._
    val d = Seq(
      (1L, "same header here\nbody one"),
      (2L, "same header here\nbody two"),
      (3L, "same header here\nbody three")
    ).toDF("doc_id", "text")
    // df("same header here") = 3 > cap=2 -> loud in-plan abort naming the df
    val ex = intercept[Exception] {
      Dedup.lineDedup(d, separator = "\n", maxDf = 2L).collect()
    }
    ex.getMessage should include("maxDf=2")
    ex.getMessage should include("df=3")
    // a cap the corpus satisfies changes nothing vs the uncapped run
    val uncapped = Dedup.lineDedup(d, separator = "\n").collect().map(_.toSeq)
    val capped = Dedup.lineDedup(d, separator = "\n", maxDf = 3L).collect().map(_.toSeq)
    capped shouldBe uncapped
  }

  test("q85 substring dedup: maximal repeated spans removed from every occurrence") {
    import spark.implicits._
    // k=3. Four independent cases in one corpus (disjoint vocabularies
    // so no accidental cross-case windows):
    //  - d1/d2 share the 4-token run "c d e f" -> both lose exactly it
    //  - d3/d4 share only the 2-token run "q r" (< k) -> untouched
    //  - d5 repeats its own 3-token span "m n o" -> BOTH copies cut
    //  - d6's two foreign spans cover [0,2] and [3,5] (adjacent) ->
    //    they merge to ONE maximal span
    val d = Seq(
      (1L, "a b c d e f g h"),
      (2L, "z1 c d e f z2"),
      (3L, "p q r s"),
      (4L, "t u q r v"),
      (5L, "m n o x1 m n o"),
      (6L, "a1 a2 a3 b1 b2 b3 tail1"),
      (7L, "a1 a2 a3 x"),
      (8L, "b1 b2 b3 y"),
      (9L, "solo")
    ).toDF("doc_id", "text")
    val out = Dedup.substringDedup(d, k = 3).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    out(1L) shouldBe ((8L, 1L, 4L, "a b g h"))
    out(2L) shouldBe ((6L, 1L, 4L, "z1 z2"))
    out(3L) shouldBe ((4L, 0L, 0L, "p q r s"))     // k-1 run survives
    out(4L) shouldBe ((5L, 0L, 0L, "t u q r v"))
    out(5L) shouldBe ((7L, 2L, 6L, "x1"))           // self-repeat, 2 spans
    out(6L) shouldBe ((7L, 1L, 6L, "tail1"))        // adjacency-merged span
    out(7L) shouldBe ((4L, 1L, 3L, "x"))
    out(8L) shouldBe ((4L, 1L, 3L, "y"))
    out(9L) shouldBe ((1L, 0L, 0L, "solo"))         // shorter than k
    intercept[IllegalArgumentException] { Dedup.substringDedup(d, k = 1) }
  }

  test("q85 fully-duplicated doc empties; window guarantee at exactly k") {
    import spark.implicits._
    val d = Seq(
      (1L, "w1 w2 w3 w4"),
      (2L, "w1 w2 w3 w4"),  // verbatim copy: both docs empty entirely
      (3L, "u1 e1 e2 e3 u2"),
      (4L, "v1 e1 e2 e3 v2") // shared run of EXACTLY k -> removed
    ).toDF("doc_id", "text")
    val out = Dedup.substringDedup(d, k = 3).collect()
      .map(r => r.getLong(0) -> ((r.getLong(3), r.getString(4)))).toMap
    out(1L) shouldBe ((4L, ""))
    out(2L) shouldBe ((4L, ""))
    out(3L) shouldBe ((3L, "u1 u2"))
    out(4L) shouldBe ((3L, "v1 v2"))
  }

  test("q85 maxDf cap: boilerplate window aborts eagerly; clean corpus unchanged under cap; audit sizes it") {
    import spark.implicits._
    // 5 docs share the templated 3-token window "buy this now" (df 5);
    // everything else is per-doc vocabulary (df 1)
    val d = (0L until 5L).map(i =>
      (i, s"u${i}a u${i}b buy this now u${i}c")).toDF("doc_id", "text")
    // cap below the boilerplate df: fail-loud BEFORE the window pass,
    // with the offending df in the message
    val ex = intercept[IllegalArgumentException] {
      Dedup.substringDedup(d, k = 3, maxDf = 4L)
    }
    ex.getMessage should include("df=5")
    ex.getMessage should include("maxDf=4")
    // cap at-or-above the honest tail: output identical to uncapped
    Dedup.substringDedup(d, k = 3, maxDf = 5L).collect().toSeq shouldBe
      Dedup.substringDedup(d, k = 3).collect().toSeq
    // the audit names exactly the sizing facts: windows per doc =
    // 6 tokens - 2 = 4 -> 20 postings; the shared window collapses
    // 5 postings onto one digest, all other digests are df 1
    val a = Dedup.substringDfAudit(d, k = 3, maxDf = 4L).collect().head
    a.getLong(0) shouldBe 16L // 15 df-1 digests + 1 df-5 digest
    a.getLong(1) shouldBe 1L  // one window over the cap
    a.getLong(2) shouldBe 5L  // carrying 5 postings
    a.getLong(3) shouldBe 5L  // max_df
    // a cap above max_df reports a clean corpus
    val clean = Dedup.substringDfAudit(d, k = 3, maxDf = 5L).collect().head
    clean.getLong(1) shouldBe 0L
    clean.getLong(2) shouldBe 0L
  }

  test("admitted-store compaction: append-grown store collapses, rows byte-identical") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_store").toString + "/admitted"
    // three per-batch appends, one row each — three data files
    Seq((1L, "alpha")).toDF("doc_id", "text").write.mode("append").parquet(dir)
    Seq((3L, "gamma")).toDF("doc_id", "text").write.mode("append").parquet(dir)
    Seq((2L, "beta")).toDF("doc_id", "text").write.mode("append").parquet(dir)
    val preRows = spark.read.parquet(dir).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val (before, after) = Dedup.compactParquetStore(spark, dir)
    before shouldBe 3L
    after shouldBe 1L
    val postRows = spark.read.parquet(dir).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    postRows shouldBe preRows
    // the store keeps accepting appends afterwards
    Seq((4L, "delta")).toDF("doc_id", "text").write.mode("append").parquet(dir)
    spark.read.parquet(dir).count() shouldBe 4L
  }

  test("crashed mid-swap compaction fails the admitted-store read loudly") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_crash").toString
    val dir = base + "/admitted"
    Seq((1L, "alpha")).toDF("doc_id", "text").write.mode("append").parquet(dir)
    // simulate a crash between Artifact.swap's two renames: the live
    // path is gone, only the recovery copy remains
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(dir),
      new org.apache.hadoop.fs.Path(dir + "__precompact")))
    val ex = intercept[IllegalArgumentException] {
      graft.streaming.Streams.readAdmittedStore(spark, dir)
    }
    ex.getMessage should include("crashed mid-swap")
    ex.getMessage should include("__precompact")
    // a genuinely-missing store (no recovery copy) is still first-batch empty
    graft.streaming.Streams
      .readAdmittedStore(spark, base + "/never_written").count() shouldBe 0L
    // after the documented recovery (rename back), the read works again
    assert(fs.rename(new org.apache.hadoop.fs.Path(dir + "__precompact"),
      new org.apache.hadoop.fs.Path(dir)))
    graft.streaming.Streams.readAdmittedStore(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1))) shouldBe Array((1L, "alpha"))
  }

  test("q45 persisted index rejects a probe with mismatched signature parameters") {
    import org.apache.spark.sql.functions.col
    val docs = tables.documents
    val existing = docs.filter(col("doc_id") % 10 =!= 9)
    val incoming = docs.filter(col("doc_id") % 10 === 9)
    val dir = java.nio.file.Files.createTempDirectory("graft_bandidx_p").toString + "/idx"
    Dedup.writeBandIndex(existing, dir, numHashes = 16, bands = 4)
    // readBandIndex validates against its own expected parameters
    val ex1 = intercept[IllegalArgumentException] {
      Dedup.readBandIndex(spark, dir, numHashes = 32, bands = 8)
    }
    ex1.getMessage should include("numHashes=16")
    // a raw parquet read that skips readBandIndex is caught at probe time
    val ex2 = intercept[IllegalArgumentException] {
      Dedup.incrementalProbeIndex(spark.read.parquet(dir), existing, incoming,
        numHashes = 32, bands = 8)
    }
    ex2.getMessage should include("bands=4")
    // matching parameters pass both paths; the _p_* stamps survive the
    // read so a DOWNSTREAM probe with different parameters still fails
    // loudly (round-7 ADVICE: stripping them here re-opened the window)
    Dedup.readBandIndex(spark, dir).columns shouldBe
      Array("doc_id", "bk", "_p_n", "_p_num_hashes", "_p_bands")
    val ex3 = intercept[IllegalArgumentException] {
      Dedup.incrementalProbeIndex(Dedup.readBandIndex(spark, dir),
        existing, incoming, numHashes = 32, bands = 8)
    }
    ex3.getMessage should include("numHashes=16")
  }

  test("q45 an EMPTY persisted index probes cleanly (zero candidates, no crash)") {
    // every doc shorter than n tokens -> all band keys NULL and dropped
    // -> zero-row index; validation must skip, not throw (round-7 ADVICE)
    val short = docs((1L, "solo"), (2L, "two words"))
    val incoming = docs((9L, base))
    val dir = java.nio.file.Files.createTempDirectory("graft_bandidx_e").toString + "/idx"
    Dedup.writeBandIndex(short, dir)
    val idx = Dedup.readBandIndex(spark, dir)
    idx.count() shouldBe 0L
    Dedup.incrementalProbeIndex(idx, short, incoming).count() shouldBe 0L
    // the synthetic empty frame carries the _p_* stamps too, so even on
    // this path a downstream probe with different parameters fails
    // loudly instead of passing unchecked (round-8 ADVICE)
    idx.columns should contain allOf ("_p_n", "_p_num_hashes", "_p_bands")
    intercept[IllegalArgumentException] {
      Dedup.incrementalProbeIndex(idx, short, incoming,
        numHashes = 32, bands = 8)
    }
  }

  test("q45 an existing directory that was never a band index fails loudly") {
    // a typo'd path that happens to exist must NOT probe as an empty
    // index (silent zero candidates = duplicates passing undetected);
    // only a directory with writeBandIndex's _SUCCESS commit marker
    // takes the empty branch (round-8 ADVICE)
    val dir = java.nio.file.Files.createTempDirectory("graft_notidx").toString
    intercept[org.apache.spark.sql.AnalysisException] {
      Dedup.readBandIndex(spark, dir)
    }
  }

  test("q45 overlapping doc_ids between existing and incoming do not fan out") {
    // doc 1 appears in BOTH inputs (a re-delivered file) with the same
    // text; each side must verify against its own source — exactly one
    // hit row, not two (round-6 ADVICE)
    val existing = docs((1L, base), (2L, "one two three four five six seven"))
    val incoming = docs((1L, base), (9L, base))
    val hits = Dedup.incrementalMinhashPairs(existing, incoming).collect()
      .map(r => (r.getAs[Long]("new_doc"), r.getAs[Long]("dup_of"))).sorted
    // 9 dups corpus-doc 1; incoming doc 1 also probes as a dup of
    // existing doc 1 (self-pair across batches is a REAL re-delivery
    // signal) — but each appears exactly once
    hits shouldBe Array((1L, 1L), (9L, 1L))
  }

  test("q36 connected components: a chain A~B~C is ONE cluster labeled by its min") {
    import spark.implicits._
    // chain topology — exactly the case where pairwise dedup over-deletes
    val pairs = Seq((5L, 9L), (9L, 12L), (20L, 21L)).toDF("doc_a", "doc_b")
    val rows = Dedup.connectedComponents(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    rows shouldBe Array(
      (5L, 5L, 3L), (9L, 5L, 3L), (12L, 5L, 3L),
      (20L, 20L, 2L), (21L, 20L, 2L))
  }

  test("q66 a shared verbatim block of w+k-1 tokens guarantees a pair") {
    // k=3, w=4: the winnowing guarantee threshold is 6 tokens. Embed
    // the same 8-token block in two otherwise-unrelated documents.
    val block = "alpha bravo charlie delta echo foxtrot golf hotel"
    val d = docs(
      (1L, s"aa bb cc $block dd ee ff"),
      (2L, s"xx yy zz ww $block vv uu"),
      (3L, "completely different content with nothing shared at all here"))
    val pairs = Dedup.winnowPairs(d).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    pairs should contain((1L, 2L))
    pairs.exists(p => p._1 == 3L || p._2 == 3L) shouldBe false
  }

  test("q66 shared_fps equals the intersection of the q62 fingerprint sets") {
    val d = tables.documents
    val fps = TextOps.winnowFingerprints(d).collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .groupBy(_._1).map { case (id, a) => id -> a.map(_._2).toSet }
    val pairs = Dedup.winnowPairs(d).collect()
    pairs should not be empty
    pairs.foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      r.getLong(2) shouldBe (fps(a) & fps(b)).size.toLong
      r.getLong(3) shouldBe fps(a).size.toLong
      r.getLong(4) shouldBe fps(b).size.toLong
    }
  }

  test("q36 long-chain graph past the label-prop round cap converges via star rounds") {
    import spark.implicits._
    // a 60-node path needs ~59 label-propagation rounds; maxRounds=5
    // used to throw — the star-rounds escape hatch must finish it
    val pairs = (0L until 59L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val rows = Dedup.connectedComponents(pairs, maxRounds = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    rows.length shouldBe 60
    all(rows.map(_._2)) shouldBe 0L
    all(rows.map(_._3)) shouldBe 60L
  }

  test("q36 star rounds directly: chain + triangle + edge resolve to their minima") {
    import spark.implicits._
    val pairs = Seq(
      (3L, 7L), (7L, 11L), (11L, 2L), // chain with min in the middle
      (30L, 31L), (31L, 32L), (30L, 32L), // triangle
      (50L, 40L)) // single reversed edge
      .toDF("doc_a", "doc_b")
    val rows = Dedup.connectedComponentsStar(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    rows shouldBe Array(
      (2L, 2L, 4L), (3L, 2L, 4L), (7L, 2L, 4L), (11L, 2L, 4L),
      (30L, 30L, 3L), (31L, 30L, 3L), (32L, 30L, 3L),
      (40L, 40L, 2L), (50L, 40L, 2L))
  }

  test("q36 star rounds: a self-pair-only vertex labels itself as a singleton") {
    import spark.implicits._
    val pairs = Seq((5L, 5L), (7L, 8L)).toDF("doc_a", "doc_b")
    val rows = Dedup.connectedComponentsStar(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    rows shouldBe Array((5L, 5L, 1L), (7L, 7L, 2L), (8L, 7L, 2L))
  }

  test("q36 star rounds agree with label propagation on the LSH pair graph") {
    val pairs = Dedup.minhashLshPairs(tables.documents).select("doc_a", "doc_b")
    val prop = Dedup.connectedComponents(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val star = Dedup.connectedComponentsStar(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    star shouldBe prop
  }

  test("q36 end-to-end: two identical docs cluster together; unique doc is absent") {
    val d = docs((1L, base), (2L, base), (3L, "one two three four five six"))
    val rows = Dedup.dedupClusters(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    rows shouldBe Array((1L, 1L, 2L), (2L, 1L, 2L))
  }

  test("q45 incremental: incoming dup of the corpus is found; incoming-vs-incoming is not") {
    val d = docs(
      (1L, base),                                      // existing corpus
      (2L, "one two three four five six seven eight"), // existing, unrelated
      (9L, base),                                      // incoming: dup of 1
      (19L, "unrelated brand new content here today"), // incoming: novel vs corpus...
      (29L, "unrelated brand new content here today")) // ...but dup of 19 (both incoming)
    val existing = d.filter(F.col("doc_id") < 9)
    val incoming = d.filter(F.col("doc_id") >= 9)
    val hits = Dedup.incrementalMinhashPairs(existing, incoming).collect()
      .map(r => (r.getAs[Long]("new_doc"), r.getAs[Long]("dup_of"),
        r.getAs[Double]("jaccard")))
    hits.map(h => (h._1, h._2)) shouldBe Array((9L, 1L))
    hits.head._3 shouldBe 1.0
  }

  test("q45 agrees with the full pairwise pipeline restricted to cross-batch pairs") {
    val d = tables.documents
    val isNew = F.col("doc_id") % 10 === 9
    val incremental = Dedup.incrementalMinhashPairs(d.filter(!isNew), d.filter(isNew))
      .collect().map(r => (r.getAs[Long]("new_doc"), r.getAs[Long]("dup_of"))).toSet
    val full = Dedup.minhashLshPairs(d).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
      .filter { case (a, b) => (a % 10 == 9) != (b % 10 == 9) }
      .map { case (a, b) => if (a % 10 == 9) (a, b) else (b, a) }.toSet
    incremental shouldBe full
  }

  test("q23 fingerprint is 64 '0'/'1' chars") {
    val fp = docs((1L, base))
      .select(Dedup.simhashFingerprint().as("fp")).collect().head.getString(0)
    fp.length shouldBe 64
    fp.forall(c => c == '0' || c == '1') shouldBe true
  }
}
