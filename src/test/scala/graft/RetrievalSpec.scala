package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** q127 BM25 / q128 RRF laws: the integer score against an
  * independent reimplementation (Long.numberOfLeadingZeros bit length
  * vs the plan's bin()-string length), the df cap, the two-stage
  * shard-ranking identity, the RRF arithmetic law, and the plan
  * shape (broadcast posting join, no cartesian). */
class RetrievalSpec extends SparkSpec with JobsDuring {

  private def docs(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  // independent integer-log2: bit position via numberOfLeadingZeros
  // (the production expression derives it from bin()'s string length)
  private def il2(x: Long): Long = {
    val f = 1L << 16
    val msb = 63 - java.lang.Long.numberOfLeadingZeros(x)
    msb.toLong * f + ((x - (1L << msb)) * f) / (1L << msb)
  }

  // 5 docs; "stop" appears in all 5 (df·10⁶ = 5e6 > 0.9e6·5) → capped
  private val corpus = docs(
    0L  -> "apple banana stop",
    10L -> "apple apple banana stop",
    11L -> "apple zebra stop",
    12L -> "zebra zebra stop",
    13L -> "banana stop")

  test("q127 integer BM25 score matches an independent computation") {
    val r = Retrieval.bm25TopK(corpus, nQueries = 1, k = 5)
      .collect().map(x => x.getLong(1) -> ((x.getLong(2), x.getDouble(3), x.getInt(4)))).toMap
    // N=5, L=15 → avgdl_q = 24; df(apple)=3, df(banana)=3; stop capped
    val A = 15L * 8 / 5
    val idf = il2(2 * 5 + 2) - il2(2 * 3 + 1)
    def contrib(tf: Long, dl: Long): Long =
      (idf * (22 * tf * A)) / (10 * tf * A + 3 * A + 72 * dl)
    def score(fp: Long): Double =
      math.floor((fp.toDouble / 65536.0) * 10000 + 0.5) / 10000
    // doc 10: apple tf=2 + banana tf=1, dl=4; doc 11: apple, dl=3;
    // doc 13: banana, dl=2; doc 12 shares NO surviving query term
    r.keySet shouldBe Set(10L, 11L, 13L)
    r(10L) shouldBe ((2L, score(contrib(2, 4) + contrib(1, 4)), 1))
    r(13L) shouldBe ((1L, score(contrib(1, 2)), 2))
    r(11L) shouldBe ((1L, score(contrib(1, 3)), 3))
  }

  test("q127 df cap: a query whose every term is capped retrieves nothing") {
    // "stop" is the only query term → capped away → empty result
    val only = docs(5L -> "stop", 10L -> "stop one", 11L -> "stop two",
      12L -> "stop three", 13L -> "stop four", 14L -> "stop five",
      15L -> "stop six", 16L -> "stop seven", 17L -> "stop eight",
      18L -> "stop nine")
    Retrieval.bm25TopK(only, nQueries = 6, k = 5).count() shouldBe 0L
  }

  test("q127 two-stage shard ranking is identical at any shard count") {
    val t = tables.documents
    val base = Retrieval.bm25TopK(t, rankShards = 1).collect().sortBy(r => (r.getLong(0), r.getInt(4)))
    for (shards <- Seq(4, 32)) {
      val s = Retrieval.bm25TopK(t, rankShards = shards).collect()
        .sortBy(r => (r.getLong(0), r.getInt(4)))
      s should contain theSameElementsInOrderAs base
    }
  }

  test("q128 rrf is exactly the two-division law over the pool ranks") {
    val rows = Retrieval.rrfFusion(tables.documents).collect()
    rows should not be empty
    rows.foreach { r =>
      val rl = Option(r.get(2)).map(_.asInstanceOf[Int])
      val rs = Option(r.get(3)).map(_.asInstanceOf[Int])
      val expected = rl.map(v => 1.0 / (60.0 + v)).getOrElse(0.0) +
        rs.map(v => 1.0 / (60.0 + v)).getOrElse(0.0)
      r.getDouble(4) shouldBe math.floor(expected * 1000000 + 0.5) / 1000000
      (rl.isDefined || rs.isDefined) shouldBe true
    }
    // the fixture corpus has verbatim-ish text pairs: at least one doc
    // must be retrieved by BOTH legs (the fusion's raison d'être)
    rows.count(r => !r.isNullAt(2) && !r.isNullAt(3)) should be > 0
  }

  test("q128 pool ranks are the legs' own ranks") {
    val fused = Retrieval.rrfFusion(tables.documents)
      .select("query_id", "doc_id", "r_lex", "r_sem").collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((Option(r.get(2)).map(_.asInstanceOf[Int]),
          Option(r.get(3)).map(_.asInstanceOf[Int])))).toMap
    val lex = Retrieval.bm25TopK(tables.documents, k = Retrieval.DefaultPoolK)
      .select("query_id", "doc_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    val sem = Similarity.annBruteForce(
        TextOps.embedFrame(tables.documents).localCheckpoint(),
        nQueries = 10, k = Retrieval.DefaultPoolK)
      .select("query_id", "neighbor_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    fused.foreach { case (key, (rl, rs)) =>
      rl.foreach(v => lex(key) shouldBe v)
      rs.foreach(v => sem(key) shouldBe v)
      rl.isEmpty shouldBe !lex.contains(key)
      rs.isEmpty shouldBe !sem.contains(key)
    }
  }

  test("q129 persisted-index serve is row-identical to the ad-hoc q127") {
    val dir = java.nio.file.Files.createTempDirectory("bm25idx_spec").toString
    val docs = tables.documents
    Retrieval.writeBm25Index(docs, s"$dir/index")
    val idx = Retrieval.readBm25Index(spark, s"$dir/index")
    val served = Retrieval.bm25ServeIndex(idx,
        docs.filter(col("doc_id") < 10)
          .select(col("doc_id").as("query_id"), col("text")),
        excludeId = true)
      .collect().map(_.toSeq).sortBy(_.toString)
    val adhoc = Retrieval.bm25TopK(docs)
      .collect().map(_.toSeq).sortBy(_.toString)
    served should contain theSameElementsInOrderAs adhoc
  }

  test("q129 serve prunes posting shards by the query terms' hashes") {
    val dir = java.nio.file.Files.createTempDirectory("bm25idx_prune").toString
    Retrieval.writeBm25Index(corpus, s"$dir/index")
    val idx = Retrieval.readBm25Index(spark, s"$dir/index")
    // one-term query → the posting scan carries a partition filter on
    // the shard column (inputFiles can't see pruning — it lists the
    // base relation; the executed scan node's selectedPartitions is
    // the truth)
    val served = Retrieval.bm25ServeIndex(idx,
      docs(100L -> "apple").withColumnRenamed("doc_id", "query_id"))
    val written = new java.io.File(s"$dir/index/postings").listFiles()
      .count(_.getName.startsWith("_p_shard="))
    val scans = served.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.relation.location.rootPaths.exists(_.toString.contains("postings")) =>
        f.selectedPartitions.partitionCount
    }
    scans should not be empty
    written should be >= 2 // pruning is only observable across shards
    scans.max should be < written
    // arithmetic unchanged under pruning: apple carriers rank by tf/dl
    served.select("doc_id").collect().map(_.getLong(0)).toSet shouldBe
      Set(0L, 10L, 11L)
  }

  test("q131 append ≡ rebuild: lexicon, stats and served rows are identical") {
    val base = java.nio.file.Files.createTempDirectory("bm25idx_app").toString
    val docsAll = tables.documents
    // split: standing corpus vs intake batch (the declared q131 split)
    Retrieval.writeBm25Index(docsAll.filter(col("doc_id") % 10 =!= 9), s"$base/inc")
    Retrieval.appendBm25Index(spark, docsAll.filter(col("doc_id") % 10 === 9), s"$base/inc")
    Retrieval.writeBm25Index(docsAll, s"$base/full")
    val inc = Retrieval.readBm25Index(spark, s"$base/inc")
    val full = Retrieval.readBm25Index(spark, s"$base/full")
    // stats merge exactly (associative integer counts)
    (inc.nDocs, inc.lTokens, inc.maxDl, inc.avgdlQ) shouldBe
      ((full.nDocs, full.lTokens, full.maxDl, full.avgdlQ))
    // lexicon: merged df + recomputed idf equal the from-scratch build
    def lex(i: Retrieval.Bm25Index) = i.lexicon
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    lex(inc) shouldBe lex(full)
    // the serve: row-identical over the q127 query set
    serveRows(inc, docsAll) shouldBe serveRows(full, docsAll)
  }

  test("bm25 postings compaction: fewer files, serve identical, stamps survive") {
    val base = java.nio.file.Files.createTempDirectory("bm25idx_cmp").toString
    val docsAll = tables.documents
    Retrieval.writeBm25Index(docsAll.filter(col("doc_id") % 10 =!= 9), s"$base/idx")
    Retrieval.appendBm25Index(spark, docsAll.filter(col("doc_id") % 10 === 9), s"$base/idx")
    def serve() = serveRows(Retrieval.readBm25Index(spark, s"$base/idx"), docsAll)
    val before = serve()
    val (fb, fa) = Retrieval.compactBm25Index(spark, s"$base/idx")
    fa should be < fb // the append's per-shard file growth collapses
    serve() shouldBe before // rows pass through unchanged
    // a second compaction is a no-op-shaped rewrite (still valid)
    val (fb2, fa2) = Retrieval.compactBm25Index(spark, s"$base/idx")
    fa2 should be <= fb2
    serve() shouldBe before
  }

  test("q131 append refuses an empty intake batch") {
    val base = java.nio.file.Files.createTempDirectory("bm25idx_emp").toString
    Retrieval.writeBm25Index(corpus, s"$base/idx")
    val err = intercept[IllegalArgumentException] {
      Retrieval.appendBm25Index(spark, corpus.filter(col("doc_id") < 0), s"$base/idx")
    }
    err.getMessage should include("empty intake")
  }

  test("bm25 overflow fence FIRES on a pathological max_dl·avgdl_q corpus") {
    // one ~120k-token document: avgdl_q = 8·dl, so max_dl·avgdl_q =
    // 8·dl² ≈ 1.15e11 > MaxDlAvgdlBound ≈ 1.0e11 — the in-plan
    // raise_error must fire (a fence nobody has seen trip is one
    // refactor away from silently not tripping; r17 verdict #7)
    val giant = docs(0L -> Seq.fill(120000)("tok").mkString(" "))
    val dir = java.nio.file.Files.createTempDirectory("bm25_fence").toString
    val e = intercept[Exception] {
      Retrieval.writeBm25Index(giant, s"$dir/idx")
    }
    // the raise_error fires inside a task, so the message may ride the
    // cause chain of the job-failure wrapper
    val msgs = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse(""))
      .mkString("\n")
    msgs should include("score-exactness")
    // sanity: 8·dl² really is past the bound, so the test pins the
    // fence's THRESHOLD, not just its existence
    (8L * 120000L * 120000L) should be > Retrieval.MaxDlAvgdlBound
  }

  test("torn append fails loud at read: orphan postings beyond the stats epoch") {
    val base = java.nio.file.Files.createTempDirectory("bm25_torn1").toString
    Retrieval.writeBm25Index(corpus, s"$base/idx")
    val shards = Retrieval.readBm25Index(spark, s"$base/idx").shards
    // simulate a crash AFTER the postings append, BEFORE the
    // lexicon/stats swap: batch postings at epoch 1 land, stats stay 0
    import spark.implicits._
    Seq((99L, "orphan", 1L, 1L))
      .toDF("doc_id", "term", "tf", "dl")
      .withColumn("_p_shard", pmod(xxhash64(col("term")), lit(shards)))
      .withColumn("_b_epoch", lit(1L))
      .write.mode("append").partitionBy("_p_shard", "_b_epoch")
      .parquet(s"$base/idx/postings")
    val e = intercept[IllegalArgumentException] {
      Retrieval.readBm25Index(spark, s"$base/idx")
    }
    e.getMessage should include("TORN")
    e.getMessage should include("postings carry epoch 1")
  }

  test("torn append fails loud at read: lexicon ahead of the stats commit") {
    val base = java.nio.file.Files.createTempDirectory("bm25_torn2").toString
    Retrieval.writeBm25Index(corpus, s"$base/idx")
    // simulate a crash AFTER the lexicon swap, BEFORE the stats commit
    spark.read.parquet(s"$base/idx/lexicon")
      .withColumn("_l_epoch", lit(1L)).localCheckpoint()
      .write.mode("overwrite").parquet(s"$base/idx/lexicon")
    val e = intercept[IllegalArgumentException] {
      Retrieval.readBm25Index(spark, s"$base/idx")
    }
    e.getMessage should include("TORN")
    e.getMessage should include("lexicon epochs span [1, 1]")
  }

  test("torn lexicon detector aggregates BOTH bounds: a mixed-epoch lexicon cannot pass on a lucky sampled row") {
    // r18 ADVICE: the old detector read _l_epoch from head() — a torn
    // swap that left OLD rows alongside new ones passed whenever the
    // sampled row carried the committed epoch. Mix epochs so that
    // some rows DO carry the committed epoch 0; the min/max aggregate
    // must still refuse.
    val base = java.nio.file.Files.createTempDirectory("bm25_torn3").toString
    Retrieval.writeBm25Index(corpus, s"$base/idx")
    val lex = spark.read.parquet(s"$base/idx/lexicon").localCheckpoint()
    lex.unionByName(lex.limit(1).withColumn("_l_epoch", lit(1L)))
      .localCheckpoint()
      .write.mode("overwrite").parquet(s"$base/idx/lexicon")
    val e = intercept[IllegalArgumentException] {
      Retrieval.readBm25Index(spark, s"$base/idx")
    }
    e.getMessage should include("TORN")
    e.getMessage should include("lexicon epochs span [0, 1]")
  }

  test("s23 replay fence: an already-applied batchId is a no-op append") {
    val base = java.nio.file.Files.createTempDirectory("bm25_replay").toString
    val docsAll = tables.documents
    Retrieval.writeBm25Index(docsAll.filter(col("doc_id") % 10 =!= 9), s"$base/idx")
    val intake = docsAll.filter(col("doc_id") % 10 === 9)
    Retrieval.appendBm25Index(spark, intake, s"$base/idx",
      batchId = Some(0L)).isDefined shouldBe true
    val after = Retrieval.readBm25Index(spark, s"$base/idx")
    after.batchId shouldBe 0L
    // the at-least-once replay: same batch re-delivered after a
    // restart must NOT double its postings
    Retrieval.appendBm25Index(spark, intake, s"$base/idx",
      batchId = Some(0L)) shouldBe None
    val replayed = Retrieval.readBm25Index(spark, s"$base/idx")
    (replayed.nDocs, replayed.lTokens, replayed.epoch) shouldBe
      ((after.nDocs, after.lTokens, after.epoch))
    replayed.postings.count() shouldBe after.postings.count()
    // the NEXT batch still applies
    import spark.implicits._
    Retrieval.appendBm25Index(spark,
      Seq((990001L, "fresh tokens here")).toDF("doc_id", "text"),
      s"$base/idx", batchId = Some(1L)).isDefined shouldBe true
    val next = Retrieval.readBm25Index(spark, s"$base/idx")
    next.nDocs shouldBe after.nDocs + 1
    next.batchId shouldBe 1L
    next.epoch shouldBe after.epoch + 1
  }

  test("q135 drift alarm: iid intake stays quiet; a vocabulary-shifted intake fires; thresholds are strict") {
    val base = java.nio.file.Files.createTempDirectory("bm25_drift").toString
    val docs = tables.documents
    Retrieval.writeBm25Index(docs.filter(col("doc_id") % 10 =!= 9), s"$base/idx")
    val idx = Retrieval.readBm25Index(spark, s"$base/idx")
    val same = docs.filter(col("doc_id") % 10 === 9)
    def report(intake: org.apache.spark.sql.DataFrame,
               oovPpm: Long = Retrieval.DefaultOovAlarmPpm,
               tvdPpm: Long = Retrieval.DefaultTvdAlarmPpm) =
      Retrieval.bm25IndexDrift(idx, intake,
        oovAlarmPpm = oovPpm, tvdAlarmPpm = tvdPpm).collect().head
    // an iid (undrifted) slice of the same corpus: quiet
    val quiet = report(same)
    quiet.getAs[Boolean]("retrain_alarm") shouldBe false
    quiet.getAs[Long]("oov_token_ppm") should be <
      Retrieval.DefaultOovAlarmPpm
    // a FULLY vocabulary-shifted intake (every token suffixed): every
    // token is OOV — 10⁶ ppm exactly — and the alarm fires
    val shifted = same.select(col("doc_id"),
      expr("concat(replace(text, ' ', '_vx '), '_vx')").as("text"))
    val fire = report(shifted)
    fire.getAs[Boolean]("retrain_alarm") shouldBe true
    fire.getAs[Long]("oov_token_ppm") shouldBe 1000000L
    fire.getAs[Long]("new_post_ppm") shouldBe 1000000L
    // threshold pinning: the comparisons are STRICT integer > — at
    // thresholds equal to the measured values the alarm stays quiet,
    // one ppm below it fires
    val tvd = fire.getAs[Long]("topk_tvd_ppm")
    report(shifted, oovPpm = 1000000L, tvdPpm = tvd)
      .getAs[Boolean]("retrain_alarm") shouldBe false
    report(shifted, oovPpm = 1000000L, tvdPpm = tvd - 1)
      .getAs[Boolean]("retrain_alarm") shouldBe true
  }

  test("q134 artifact-served hybrid: pools are the two index serves' ranks, rrf law exact") {
    val base = java.nio.file.Files.createTempDirectory("hybrid_idx").toString
    val docs = tables.documents
    Retrieval.writeBm25Index(docs, s"$base/bm25")
    val emb = graft.operators.TextOps.embedFrame(docs).localCheckpoint()
    Similarity.writeAnnIndex(emb, s"$base/ann")
    val bm25 = Retrieval.readBm25Index(spark, s"$base/bm25")
    val ann = Similarity.readAnnIndex(spark, s"$base/ann")
    val queries = docs.filter(col("doc_id") < 10)
      .select(col("doc_id").as("query_id"), col("text"))
    val out = Retrieval.rrfFusionServed(bm25, ann, emb, queries).collect()
    out should not be empty
    // provenance: each leg's rank equals the standalone serve's rank
    val lex = Retrieval.bm25ServeIndex(bm25, queries,
        k = Retrieval.DefaultPoolK, excludeId = true).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(4)).toMap
    val sem = Similarity.annServeIndex(ann, emb,
        k = Retrieval.DefaultPoolK).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(3)).toMap
    def law(rl: Option[Int], rs: Option[Int]): Double = {
      val raw = rl.map(r => 1.0 / (Retrieval.RrfK + r.toDouble)).getOrElse(0.0) +
        rs.map(r => 1.0 / (Retrieval.RrfK + r.toDouble)).getOrElse(0.0)
      math.floor(raw * 1000000 + 0.5) / 1000000
    }
    out.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      val rl = if (r.isNullAt(2)) None else Some(r.getInt(2))
      val rs = if (r.isNullAt(3)) None else Some(r.getInt(3))
      rl shouldBe lex.get(key)
      rs shouldBe sem.get(key)
      r.getDouble(4) shouldBe law(rl, rs)
    }
  }

  test("q129 read fails loud on a parameter-stamp drift") {
    val dir = java.nio.file.Files.createTempDirectory("bm25idx_stamp").toString
    Retrieval.writeBm25Index(corpus, s"$dir/index")
    // simulate an index built under different score arithmetic
    // (localCheckpoint materializes the rows, making the same-path
    // overwrite safe)
    spark.read.parquet(s"$dir/index/stats")
      .withColumn("_p_fbits", lit(8)).localCheckpoint()
      .write.mode("overwrite").parquet(s"$dir/index/stats")
    val e = intercept[IllegalArgumentException] {
      Retrieval.readBm25Index(spark, s"$dir/index")
    }
    e.getMessage should include("fractional idf bits")
  }

  test("q127 plan: broadcast posting join, no cartesian, no SMJ") {
    val plan = planOf(Retrieval.bm25TopK(tables.documents))
    plan should include("BroadcastHashJoin")
    plan should not include "CartesianProduct"
    plan should not include "SortMergeJoin"
  }

  test("r20 revalidation cache: hit state identical to cold read; " +
    "external stats swap falls back to full validation") {
    val base = java.nio.file.Files.createTempDirectory("bm25_cache").toString
    Retrieval.writeBm25Index(corpus, s"$base/idx")
    // warm (build-installed) vs forced-cold read must agree on every
    // validated scalar — the cache is metadata memoization, not state
    val warm = Retrieval.readBm25Index(spark, s"$base/idx")
    // poke the commit leg the way an EXTERNAL writer would (touch a
    // file: new mtime): the fingerprint must miss and the full
    // validation must re-run — and still agree, since nothing changed
    val f = new java.io.File(s"$base/idx/stats").listFiles()
      .find(_.getName.startsWith("part-")).get
    java.nio.file.Files.setLastModifiedTime(f.toPath,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() + 5000))
    val cold = Retrieval.readBm25Index(spark, s"$base/idx")
    (cold.nDocs, cold.lTokens, cold.maxDl, cold.avgdlQ, cold.epoch,
      cold.batchId) shouldBe
      ((warm.nDocs, warm.lTokens, warm.maxDl, warm.avgdlQ, warm.epoch,
        warm.batchId))
    // append then read: the installed post-append state equals a
    // from-scratch validated read (cache bypassed via the env knob is
    // covered by the torn tests, which mutate behind the cache's back)
    Retrieval.appendBm25Index(spark,
      docs(990001L -> "fresh cache tokens"), s"$base/idx")
    val hit = Retrieval.readBm25Index(spark, s"$base/idx")
    hit.nDocs shouldBe warm.nDocs + 1
    hit.epoch shouldBe warm.epoch + 1
  }

  private def shardDirs(postings: String): Seq[Int] =
    new java.io.File(postings).listFiles().toSeq.map(_.getName)
      .filter(_.startsWith("_p_shard=")).map(_.stripPrefix("_p_shard=").toInt)

  private def serveRows(i: Retrieval.Bm25Index, docsAll: DataFrame) =
    Retrieval.bm25ServeIndex(i,
        docsAll.filter(col("doc_id") < 10)
          .select(col("doc_id").as("query_id"), col("text")),
        excludeId = true)
      .collect().map(_.toSeq).sortBy(_.toString).toSeq

  /** Rewrite a built index into the fixed 64-shard layout every index
    * had before shard counts were sized to the corpus: postings
    * re-partitioned at 64, stats stamped 64. */
  private def asLegacy64(path: String): Unit = {
    spark.read.parquet(s"$path/postings")
      .withColumn("_p_shard", pmod(xxhash64(col("term")), lit(64)))
      .localCheckpoint()
      .write.mode("overwrite").partitionBy("_p_shard", "_b_epoch")
      .parquet(s"$path/postings")
    spark.read.parquet(s"$path/stats")
      .withColumn("_p_shards", lit(64)).localCheckpoint()
      .write.mode("overwrite").parquet(s"$path/stats")
  }

  test("bm25 shard count: a power of two sized to the corpus, floor to cap") {
    Retrieval.suggestIndexShards(0L) shouldBe Retrieval.MinIndexShards
    Retrieval.suggestIndexShards(4L * Retrieval.ShardTokens) shouldBe 4
    Retrieval.suggestIndexShards(4L * Retrieval.ShardTokens + 1) shouldBe 8
    Retrieval.suggestIndexShards(64L * Retrieval.ShardTokens) shouldBe 64
    // capped at the former fixed count: no corpus writes more files per
    // append than every index did before shards were sized
    Retrieval.MaxIndexShards shouldBe 64
    Retrieval.suggestIndexShards(Long.MaxValue) shouldBe 64
    (0 to 40).map(b => Retrieval.suggestIndexShards(1L << b))
      .foreach(s => Integer.bitCount(s) shouldBe 1)
  }

  test("bm25 geometry: a small corpus builds at the floor, the stamp equals the shard directories, appends keep it") {
    val base = java.nio.file.Files.createTempDirectory("bm25_geom").toString
    val docsAll = tables.documents
    Retrieval.writeBm25Index(docsAll.filter(col("doc_id") % 10 =!= 9), s"$base/idx")
    val idx = Retrieval.readBm25Index(spark, s"$base/idx")
    idx.shards shouldBe Retrieval.MinIndexShards
    spark.read.parquet(s"$base/idx/stats").head().getAs[Int]("_p_shards") shouldBe idx.shards
    shardDirs(s"$base/idx/postings").sorted shouldBe (0 until idx.shards)
    Retrieval.appendBm25Index(spark, docsAll.filter(col("doc_id") % 10 === 9), s"$base/idx")
    val app = Retrieval.readBm25Index(spark, s"$base/idx")
    app.shards shouldBe idx.shards
    spark.read.parquet(s"$base/idx/stats").head().getAs[Int]("_p_shards") shouldBe idx.shards
    shardDirs(s"$base/idx/postings").sorted shouldBe (0 until idx.shards)
  }

  test("bm25 legacy 64-shard index reads, appends, serves and compacts row-identically to a rebuild") {
    val base = java.nio.file.Files.createTempDirectory("bm25_legacy").toString
    val docsAll = tables.documents
    Retrieval.writeBm25Index(docsAll.filter(col("doc_id") % 10 =!= 9), s"$base/old")
    asLegacy64(s"$base/old")
    val old = Retrieval.readBm25Index(spark, s"$base/old")
    old.shards shouldBe 64
    Retrieval.writeBm25Index(docsAll.filter(col("doc_id") % 10 =!= 9), s"$base/part")
    serveRows(old, docsAll) shouldBe
      serveRows(Retrieval.readBm25Index(spark, s"$base/part"), docsAll)
    // the append lands at the stamped 64, not at the corpus-derived count
    Retrieval.appendBm25Index(spark, docsAll.filter(col("doc_id") % 10 === 9), s"$base/old")
    val app = Retrieval.readBm25Index(spark, s"$base/old")
    app.shards shouldBe 64
    shardDirs(s"$base/old/postings").max should be < 64
    shardDirs(s"$base/old/postings").size should be > Retrieval.MinIndexShards
    Retrieval.writeBm25Index(docsAll, s"$base/full")
    val full = Retrieval.readBm25Index(spark, s"$base/full")
    (app.nDocs, app.lTokens, app.maxDl, app.avgdlQ) shouldBe
      ((full.nDocs, full.lTokens, full.maxDl, full.avgdlQ))
    val want = serveRows(full, docsAll)
    serveRows(app, docsAll) shouldBe want
    val (fb, fa) = Retrieval.compactBm25Index(spark, s"$base/old")
    fa should be <= fb
    val cmp = Retrieval.readBm25Index(spark, s"$base/old")
    cmp.shards shouldBe 64
    serveRows(cmp, docsAll) shouldBe want
  }

  test("bm25 read fails loud when the shard stamp disagrees with the directories") {
    val base = java.nio.file.Files.createTempDirectory("bm25_geomdrift").toString
    Retrieval.writeBm25Index(tables.documents, s"$base/idx")
    shardDirs(s"$base/idx/postings").max should be >= 2
    spark.read.parquet(s"$base/idx/stats")
      .withColumn("_p_shards", lit(2)).localCheckpoint()
      .write.mode("overwrite").parquet(s"$base/idx/stats")
    val e = intercept[IllegalArgumentException] {
      Retrieval.readBm25Index(spark, s"$base/idx")
    }
    e.getMessage should include("stamped at 2 posting shards")
  }

  test("bm25 rebuild that dies after its postings commit fails loud at read, not over the old stamp") {
    val base = java.nio.file.Files.createTempDirectory("bm25_rebuildcrash").toString
    val docsAll = tables.documents
    Retrieval.writeBm25Index(docsAll, s"$base/idx")
    asLegacy64(s"$base/idx") // stamp 64, epoch 0
    val conf = "spark.sql.sources.commitProtocolClass"
    val prior = spark.conf.getOption(conf)
    spark.conf.set(conf, classOf[CrashAfterCommit].getName)
    CrashAfterCommit.at = Some(s"$base/idx/postings")
    try intercept[Exception] { Retrieval.writeBm25Index(docsAll, s"$base/idx") }
    finally {
      CrashAfterCommit.at = None
      prior.fold(spark.conf.unset(conf))(spark.conf.set(conf, _))
    }
    // the rebuild's postings landed at the corpus-sized geometry, epoch
    // 0; a surviving 64 stamp at epoch 0 would pass every epoch check
    // and the serve would probe shards that were never written
    shardDirs(s"$base/idx/postings").max should be < Retrieval.MinIndexShards
    val e = intercept[IllegalArgumentException] {
      Retrieval.readBm25Index(spark, s"$base/idx")
    }
    e.getMessage should include("no stats commit point")
    // re-running the rebuild recovers
    Retrieval.writeBm25Index(docsAll, s"$base/idx")
    Retrieval.readBm25Index(spark, s"$base/idx").shards shouldBe Retrieval.MinIndexShards
  }

  test("bm25 cache-hit read of a small index runs zero Spark jobs") {
    val base = java.nio.file.Files.createTempDirectory("bm25_hitjobs").toString
    // a wide vocabulary, so the legacy layout below fills > 32 shard
    // directories (Spark lists more than that with a parallel job)
    Retrieval.writeBm25Index(
      docs((0 until 300).map(i => i.toLong -> s"w$i x${i % 7}"): _*), s"$base/idx")
    Retrieval.readBm25Index(spark, s"$base/idx") // first hit captures the schemas
    val (hit, jobs) = jobsDuring(Retrieval.readBm25Index(spark, s"$base/idx"))
    jobs shouldBe 0
    hit.shards shouldBe Retrieval.MinIndexShards
    // the same hit read over the 64 legacy shard directories pays a
    // parallel partition-listing job: the counter sees jobs that run
    asLegacy64(s"$base/idx")
    shardDirs(s"$base/idx/postings").size should be > 32
    Retrieval.readBm25Index(spark, s"$base/idx")
    jobsDuring(Retrieval.readBm25Index(spark, s"$base/idx"))._2 should be > 0
  }

  test("bm25 append: a failed postings leg leaves lexicon and stats untouched") {
    val base = java.nio.file.Files.createTempDirectory("bm25_postfail").toString
    val docsAll = tables.documents
    Retrieval.writeBm25Index(docsAll.filter(col("doc_id") % 10 =!= 9), s"$base/idx")
    val pre = Retrieval.readBm25Index(spark, s"$base/idx")
    def lex(i: Retrieval.Bm25Index) = i.lexicon.collect().map(_.toSeq).toSet
    val preLex = lex(pre)
    val preStats = spark.read.parquet(s"$base/idx/stats").collect().toSeq
    // a plain file where the postings writer stages its job blocks the
    // postings leg (readers skip the hidden name)
    val blocker = new java.io.File(s"$base/idx/postings/_temporary")
    java.nio.file.Files.write(blocker.toPath, Array[Byte](1))
    intercept[Exception] {
      Retrieval.appendBm25Index(spark, docsAll.filter(col("doc_id") % 10 === 9), s"$base/idx")
    }
    blocker.delete() shouldBe true
    val after = Retrieval.readBm25Index(spark, s"$base/idx")
    (after.epoch, after.nDocs, after.lTokens) shouldBe ((pre.epoch, pre.nDocs, pre.lTokens))
    lex(after) shouldBe preLex
    spark.read.parquet(s"$base/idx/stats").collect().toSeq shouldBe preStats
    // and the append re-runs cleanly
    Retrieval.appendBm25Index(spark, docsAll.filter(col("doc_id") % 10 === 9), s"$base/idx")
    Retrieval.readBm25Index(spark, s"$base/idx").epoch shouldBe pre.epoch + 1
  }
}
