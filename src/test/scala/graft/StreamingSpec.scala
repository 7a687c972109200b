package graft

import graft.streaming.Streams
import graft.streaming.Streams.{BatcherState, FileEvent}
import org.apache.spark.api.java.Optional
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, TestGroupState, Trigger}

/** s01–s03 behavior: the stateful batcher's flush semantics (unit-level
  * via TestGroupState — deterministic, including the timeout path the
  * micro-batch harness can't trigger reliably) plus end-to-end
  * micro-batch runs through MemoryStream, and streaming/batch parity
  * for the windowed aggregation. */
class StreamingSpec extends SparkSpec {

  private def files(prefix: String, n: Int, sz: Long = 10): Iterator[FileEvent] =
    (1 to n).map(i => FileEvent(prefix, i.toLong, sz)).iterator

  private def freshState(st: Option[BatcherState] = None): TestGroupState[BatcherState] =
    TestGroupState.create[BatcherState](
      Optional.fromNullable(st.orNull),
      GroupStateTimeout.ProcessingTimeTimeout,
      1000L, Optional.empty[Long](), hasTimedOut = false)

  test("batcher flushes every full manifest immediately, holds the partial") {
    val state = freshState()
    val out = Streams.step("p", files("p", 25), state, max = 10, timeoutMs = 1000).toSeq
    out.map(_.batch_id) shouldBe Seq(0, 1)
    out.map(_.n_files) shouldBe Seq(10L, 10L)
    out.head.first_file shouldBe 1L
    out.head.last_file shouldBe 10L
    out.head.total_chars shouldBe 100L
    state.get.pending.map(_._1) shouldBe (21L to 25L)
    state.get.nextBatchId shouldBe 2
  }

  test("later micro-batches append after already-claimed files") {
    val state = freshState()
    Streams.step("p", files("p", 7), state, 10, 1000).toSeq shouldBe empty
    // second batch: 8 more files — one manifest fills (7 held + 3 new)
    val more = (8 to 15).map(i => FileEvent("p", i.toLong, 10)).iterator
    val out = Streams.step("p", more, state, 10, 1000).toSeq
    out.map(_.batch_id) shouldBe Seq(0)
    out.head.first_file shouldBe 1L
    out.head.last_file shouldBe 10L
    state.get.pending.map(_._1) shouldBe (11L to 15L)
  }

  test("timeout flushes the orphaned partial batch and clears state") {
    val pending = BatcherState(Seq((1L, 5L), (2L, 7L)), nextBatchId = 3)
    val state = TestGroupState.create[BatcherState](
      Optional.of(pending), GroupStateTimeout.ProcessingTimeTimeout,
      1000L, Optional.empty[Long](), hasTimedOut = true)
    val out = Streams.step("p", Iterator.empty, state, 10, 1000).toSeq
    out.map(m => (m.batch_id, m.n_files, m.total_chars)) shouldBe Seq((3, 2L, 12L))
    state.isRemoved shouldBe true
  }

  test("timeout holds a partial below the MIN_FILES_FOR_PARTIAL_BATCH floor") {
    // reference parity (lambda_manifest_builder.py:1056): the orphan
    // flush only claims a partial with >= minFiles; a smaller one keeps
    // waiting for more arrivals instead of emitting an undersized
    // manifest
    val pending = BatcherState(Seq((1L, 5L), (2L, 7L)), nextBatchId = 3)
    val state = TestGroupState.create[BatcherState](
      Optional.of(pending), GroupStateTimeout.ProcessingTimeTimeout,
      1000L, Optional.empty[Long](), hasTimedOut = true)
    Streams.step("p", Iterator.empty, state, 10, 1000,
      minFilesForPartial = 3).toSeq shouldBe empty
    state.isRemoved shouldBe false
    state.get.pending.map(_._1) shouldBe Seq(1L, 2L)
    // once a third file arrives (a fresh data invocation — the engine
    // never mixes data with a timeout call), the next timeout flushes
    // all three
    val arrival = TestGroupState.create[BatcherState](
      Optional.of(state.get), GroupStateTimeout.ProcessingTimeTimeout,
      1500L, Optional.empty[Long](), hasTimedOut = false)
    Streams.step("p", Iterator(FileEvent("p", 3L, 2L)), arrival, 10, 1000,
      minFilesForPartial = 3).toSeq shouldBe empty
    val timedOut = TestGroupState.create[BatcherState](
      Optional.of(arrival.get), GroupStateTimeout.ProcessingTimeTimeout,
      2000L, Optional.empty[Long](), hasTimedOut = true)
    val out = Streams.step("p", Iterator.empty, timedOut, 10, 1000,
      minFilesForPartial = 3).toSeq
    out.map(m => (m.batch_id, m.n_files, m.total_chars)) shouldBe Seq((3, 3L, 14L))
    timedOut.isRemoved shouldBe true
  }

  test("batcher end-to-end through the micro-batch engine (MemoryStream)") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[FileEvent]
    in.addData((1 to 12).map(i => FileEvent("d1", i.toLong, 100)))
    in.addData((1 to 4).map(i => FileEvent("d2", i.toLong, 50)))
    val q = Streams.manifestBatcher(in.toDS(), maxPerManifest = 10, partialTimeoutMs = 0).toDF
      .writeStream.format("memory").queryName("batcher_e2e")
      .outputMode(OutputMode.Append).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val rows = spark.table("batcher_e2e")
      .select("lang", "batch_id", "n_files").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    // d1: one full manifest; d1's 2 leftovers + d2's 4 hold for timeout
    rows.toSet shouldBe Set(("d1", 0, 10L))
  }

  test("s04 stream dedup: first batch wins, min doc_id within a batch, re-delivery dropped") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Streams.DocFp]
    // batch 1: fp A carried by docs 5 and 3 (min wins), fp B by doc 7
    in.addData(Streams.DocFp("A", 5L), Streams.DocFp("A", 3L), Streams.DocFp("B", 7L))
    // batch 2: fp A re-delivered (dropped), fp C is new
    in.addData(Streams.DocFp("A", 9L), Streams.DocFp("C", 1L))
    val q = Streams.streamDedup(in.toDS()).toDF
      .writeStream.format("memory").queryName("s04_e2e")
      .outputMode(OutputMode.Append).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val rows = spark.table("s04_e2e").collect()
      .map(r => (r.getAs[String]("fingerprint"), r.getAs[Long]("doc_id"))).toSet
    rows shouldBe Set(("A", 3L), ("B", 7L), ("C", 1L))
  }

  test("scopedStateStoreConf contains the dedup RocksDB default to its scope") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val key = "spark.sql.streaming.stateStore.providerClass"
    val before = spark.conf.getOption(key)
    val inScope = Streams.scopedStateStoreConf(spark) {
      val in = MemoryStream[Streams.DocFp]
      in.addData(Streams.DocFp("A", 5L), Streams.DocFp("B", 7L))
      val q = Streams.streamDedup(in.toDS()).toDF
        .writeStream.format("memory").queryName("s04_scoped")
        .outputMode(OutputMode.Append).trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.conf.get(key, "")
    }
    // inside: the builder flipped the default to RocksDB for the query
    inScope should include("RocksDBStateStoreProvider")
    // outside: a window/join stream started NOW sees the original conf
    spark.conf.getOption(key) shouldBe before
    spark.table("s04_scoped").count() shouldBe 2L
  }

  test("s04 stream dedup runs identically on the RocksDB state store (100 TB backend)") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    Streams.useRocksDbStateStore(spark)
    try {
      spark.conf.get("spark.sql.streaming.stateStore.providerClass") should
        include ("RocksDBStateStoreProvider")
      val in = MemoryStream[Streams.DocFp]
      in.addData(Streams.DocFp("A", 5L), Streams.DocFp("A", 3L), Streams.DocFp("B", 7L))
      in.addData(Streams.DocFp("A", 9L), Streams.DocFp("C", 1L))
      val q = Streams.streamDedup(in.toDS()).toDF
        .writeStream.format("memory").queryName("s04_rocksdb")
        .outputMode(OutputMode.Append).trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val rows = spark.table("s04_rocksdb").collect()
        .map(r => (r.getAs[String]("fingerprint"), r.getAs[Long]("doc_id"))).toSet
      // byte-identical results to the default provider's test above —
      // the backend changes where state LIVES, never what it holds
      rows shouldBe Set(("A", 3L), ("B", 7L), ("C", 1L))
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("s04 dedup defaults to RocksDB and its state survives a checkpoint restart") {
    import spark.implicits._
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.get(key, "")
    if (prev.nonEmpty) spark.conf.unset(key)
    try {
      val tmp = java.nio.file.Files.createTempDirectory("s04restart_").toString
      val landing = s"$tmp/landing"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(landing))
      def land(rows: (String, Long)*): Unit =
        rows.map { case (f, id) => Streams.DocFp(f, id) }.toDS()
          .coalesce(1).write.mode("append").parquet(landing)
      def drain(): Unit = {
        val intake = spark.readStream
          .schema(implicitly[org.apache.spark.sql.Encoder[Streams.DocFp]].schema)
          .parquet(landing).as[Streams.DocFp]
        val q = Streams.streamDedup(intake).toDF.writeStream
          .format("parquet").option("path", s"$tmp/out")
          .option("checkpointLocation", s"$tmp/cp")
          .outputMode(OutputMode.Append)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination(); q.stop()
      }
      land(("A", 5L), ("A", 3L), ("B", 7L))
      drain()
      // the builder defaulted the session onto RocksDB (no explicit choice)
      spark.conf.get(key, "") should include ("RocksDBStateStoreProvider")
      // restart: a re-delivered fingerprint from BEFORE the restart is
      // still dropped — the seen-set state recovered from the RocksDB
      // checkpoint, not just within-run memory
      land(("A", 9L), ("C", 1L))
      drain()
      val rows = spark.read.parquet(s"$tmp/out").collect()
        .map(r => (r.getAs[String]("fingerprint"), r.getAs[Long]("doc_id"))).toSet
      rows shouldBe Set(("A", 3L), ("B", 7L), ("C", 1L))
      // the off-switch pins the engine default for a deliberate heap run
      spark.conf.unset(key)
      spark.conf.set("spark.graft.stateStore.rocksdbDefault", "false")
      Streams.defaultRocksDbForDedup(spark)
      spark.conf.get(key, "") should not include "RocksDB"
    } finally {
      spark.conf.unset("spark.graft.stateStore.rocksdbDefault")
      if (prev.nonEmpty) spark.conf.set(key, prev) else spark.conf.unset(key)
    }
  }

  test("s04 streaming/batch parity on the real documents table") {
    import spark.implicits._
    val schema = spark.read.parquet(s"${SparkSpec.sfDir}/documents.parquet").schema
    val stream = spark.readStream.schema(schema)
      .parquet(Streams.asStreamPath(s"${SparkSpec.sfDir}/documents.parquet"))
      .select(operators.TextOps.fingerprintCol.as("fingerprint"), col("doc_id"))
      .as[Streams.DocFp]
    val streamed = Streams.runToMemory(Streams.streamDedup(stream).toDF, "s04_parity")
    val batch = tables.documents
      .select(operators.TextOps.fingerprintCol.as("fingerprint"), col("doc_id"))
      .groupBy("fingerprint").agg(min("doc_id").as("doc_id"))
    streamed.exceptAll(batch).count() shouldBe 0L
    batch.exceptAll(streamed).count() shouldBe 0L
  }

  test("s12 token meter: totals accumulate across micro-batches and equal the batch aggregate") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[(String, String, String)]
    // batch 1
    in.addData(("s1", "en", "the spark table"), ("s2", "de", "zzzz"))
    // batch 2: s1/en grows, state row updated not replaced
    in.addData(("s1", "en", "the the"))
    val q = Streams.streamTokenMeter(in.toDF()
        .toDF("source", "lang", "text"))
      .writeStream.format("memory").queryName("s12_e2e")
      .outputMode(OutputMode.Complete()).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val rows = spark.table("s12_e2e").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    // "the spark table" -> 3 BPE tokens, "zzzz" -> 4 (z z z z),
    // "the the" -> 2; totals accumulate per (source, lang)
    rows shouldBe Set(("s1", "en", 2L, 5L), ("s2", "de", 1L, 4L))
  }

  test("s16 heavy-hitter sketch: state merges across micro-batches and the MG bounds hold") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[(Long, String)]
    val b1 = "hh hh hh hh hh aa bb"          // 7 tokens, hh ×5
    val b2 = "hh hh hh hh cc dd ee ff gg"    // 9 tokens, hh ×4
    in.addData((1L, b1))
    in.addData((2L, b2)) // second batch: distincts exceed counters → eviction + merge reduction
    val q = Streams.streamHeavyHitterSketch(
        in.toDF().toDF("doc_id", "text"), counters = 4)
      .writeStream.format("memory").queryName("s16_e2e")
      .outputMode(OutputMode.Complete()).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val row = spark.table("s16_e2e").collect().head
    val mg = row.getAs[Map[String, Long]]("mg")
    row.getAs[Long]("n") shouldBe 16L
    mg.size should be <= 4
    // hh (count 9) > N/(c+1) = 3.2 → MUST survive the cross-batch
    // merge with est ≤ 9 and underestimate ≤ N/(c+1)
    mg.contains("hh") shouldBe true
    mg("hh") should be <= 9L
    (9L - mg("hh")).toDouble should be <= 16.0 / 5
    // and the drained sketch certifies through q109's verdict expression
    val docs = Seq((1L, b1, "en"), (2L, b2, "en")).toDF("doc_id", "text", "lang")
    val cert = graft.operators.TextOps.heavyHittersCertify(
      spark.table("s16_e2e"), docs, k = 5, counters = 4).collect()
    cert.length shouldBe 5
    cert.foreach(_.getAs[Boolean]("certified") shouldBe true)
  }

  test("s17 drift monitor: histogram state accumulates across batches and the drained TVD equals batch q111") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[(Long, String, String)]
    in.addData((1L, "x x y", "A"), (2L, "x z", "B"))
    in.addData((3L, "x x x x y y", "A")) // later batch UPDATES A's state rows
    val docs = in.toDF().toDF("doc_id", "text", "source")
    val q = Streams.streamSourceHistogram(docs)
      .writeStream.format("memory").queryName("s17_e2e")
      .outputMode(OutputMode.Complete()).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val drained = spark.table("s17_e2e").localCheckpoint()
    // the drained state equals the batch counts on the union corpus...
    val batchDocs = Seq((1L, "x x y", "A"), (3L, "x x x x y y", "A"),
      (2L, "x z", "B")).toDF("doc_id", "text", "source")
    val batchCounts = graft.operators.Corpus.tokenBucketCounts(batchDocs)
    drained.collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
      .sorted shouldBe
      batchCounts.collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
        .sorted
    // ...so the TVD tail emits the batch q111 result row-for-row
    val streamTvd = graft.operators.Corpus.divergenceFromCounts(drained)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(4)))
    val batchTvd = graft.operators.Corpus.sourceDivergence(batchDocs)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(4)))
    streamTvd.sorted shouldBe batchTvd.sorted
    // hand value: A = {x:6, y:3} (2:1), B = {x:1, z:1} →
    // TVD = ½(|2/3−1/2| + |1/3−0| + |0−1/2|) = 1/2
    streamTvd.head._3 shouldBe 0.5
  }

  test("s13 perceptual image dedup: a re-encoded copy in a LATER batch still drops") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import graft.operators.Multimodal
    def img(f: Int => Int): java.awt.image.BufferedImage = {
      val im = new java.awt.image.BufferedImage(12, 10,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 10; x <- 0 until 12) im.setRGB(x, y, f(x))
      im
    }
    def enc(im: java.awt.image.BufferedImage, fmt: String): Array[Byte] = {
      val buf = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(im, fmt, buf)
      buf.toByteArray
    }
    val a = img(x => (x * 20) << 16 | (x * 20) << 8 | (x * 20))
    val c = img(x => ((220 - x * 18) << 16) | ((220 - x * 18) << 8) | (220 - x * 18))
    val in = MemoryStream[Multimodal.MediaRow]
    // batch 1: image A lands twice (ids 5 and 3 — min wins)
    in.addData(Multimodal.MediaRow(5L, enc(a, "png"), "image/png"),
      Multimodal.MediaRow(3L, enc(a, "png"), "image/png"))
    // batch 2: A re-encoded as BMP (different BYTES, same pixels —
    // an exact-hash dedup would miss it) + a genuinely new image
    in.addData(Multimodal.MediaRow(9L, enc(a, "bmp"), "image/bmp"),
      Multimodal.MediaRow(1L, enc(c, "png"), "image/png"))
    val q = Streams.streamImageDedup(in.toDS()).toDF
      .writeStream.format("memory").queryName("s13_e2e")
      .outputMode(OutputMode.Append).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val rows = spark.table("s13_e2e").collect()
      .map(r => r.getLong(1)).toSet
    rows shouldBe Set(3L, 1L) // first perceptual carriers only
  }

  test("s14 semantic image dedup: a brightness-scaled near-copy in a LATER batch drops; distinct images admit") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import graft.operators.Multimodal
    def img(f: (Int, Int) => Int): java.awt.image.BufferedImage = {
      val im = new java.awt.image.BufferedImage(16, 16,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 16; x <- 0 until 16) {
        val v = f(x, y) & 0xff
        im.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      im
    }
    def enc(im: java.awt.image.BufferedImage, fmt: String): Array[Byte] = {
      val buf = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(im, fmt, buf)
      buf.toByteArray
    }
    // A: a gradient; A' = A at ~55% brightness (DIFFERENT pixels, so
    // s13's dHash equality could only catch it by luck of gradient
    // signs — the semantic test is the near-parallel CENTERED vector;
    // raw vectors concentrate near cosine 1, the round-13 advice
    // finding the stream-side centering fixes); B: the reversed
    // gradient (centers to ~the negation of A — strongly dissimilar)
    val a  = img((x, y) => 40 + x * 12)
    val a2 = img((x, y) => (40 + x * 12) * 55 / 100)
    val b  = img((x, y) => 235 - x * 12)
    // centroid table: trained once from a batch frame (the s08
    // persisted-index convention) — here two hand-planted
    // CENTERED-SPACE centroids (the stream quantizes centered
    // vectors) that split "rising" from "falling" gradients
    val rising = (0 until 64).map(j => (j % 8) * 2.0 - 7.0).toArray
    val cents = Array(0L -> rising, 1L -> rising.map(-_))
    val in = MemoryStream[Multimodal.MediaRow]
    in.addData(Multimodal.MediaRow(5L, enc(a, "png"), "image/png"))
    in.addData(Multimodal.MediaRow(9L, enc(a2, "png"), "image/png"),
      Multimodal.MediaRow(1L, enc(b, "png"), "image/png"))
    val q = Streams.scopedStateStoreConf(spark) {
      Streams.streamImageSemanticDedup(in.toDS(), cents, tau = 0.9).toDF
        .writeStream.format("memory").queryName("s14_e2e")
        .outputMode(OutputMode.Append).trigger(Trigger.AvailableNow()).start()
    }
    q.awaitTermination()
    val verdicts = spark.table("s14_e2e").collect()
      .map(r => r.getLong(0) -> r.getInt(2)).toMap
    // A admitted in batch 1; its brightness-scaled near-copy condemned
    // in batch 2 (centered cosine ~1 against the CROSS-BATCH state);
    // B admitted (centered cosine ~-1)
    verdicts shouldBe Map(5L -> 1, 9L -> 0, 1L -> 1)
    // the condemned row names its keeper and the two admitted images
    // landed in DIFFERENT cells
    val byId = spark.table("s14_e2e").collect()
      .map(r => r.getLong(0) -> r).toMap
    byId(9L).getLong(3) shouldBe 5L
    byId(5L).getLong(1) should not be byId(1L).getLong(1)
    // batch parity: the same corpus through the centered frame -> q57
    // yields ROW-IDENTICAL verdicts (the composition the stream
    // realizes continuously — and what lets the q97 oracle grade s14)
    val docs = Seq((5L, a, "png"), (9L, a2, "png"), (1L, b, "png"))
      .map { case (id, im, f) => Multimodal.MediaRow(id, enc(im, f), "image/png") }
      .toDS()
    val frame = Multimodal.centeredEmbedFrame(docs)
    val batch = graft.operators.Similarity.semanticDedup(frame, tau = 0.9,
        nCells = 2, centroids = Some(cents))
      .collect().map(r => r.toSeq).sortBy(_.head.asInstanceOf[Long])
    val streamed = spark.table("s14_e2e").collect()
      .map(r => r.toSeq).sortBy(_.head.asInstanceOf[Long])
    streamed shouldBe batch
  }

  test("s06 TTL dedup: duplicate inside the horizon dropped, re-arrival after expiry passes") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 12:00:00")
    def at(offsetMin: Int) = new java.sql.Timestamp(t0.getTime + offsetMin * 60000L)
    val in = MemoryStream[(String, java.sql.Timestamp)]
    val q = Streams.streamDedupTtl(
        in.toDF.toDF("fingerprint", "ts"), "ts", Seq("fingerprint"), "10 minutes")
      .select("fingerprint")
      .writeStream.format("memory").queryName("s06_e2e")
      .outputMode(OutputMode.Append).start()
    try {
      // batch 1: key A twice (in-horizon re-delivery dropped), key B once
      in.addData(("A", at(0)), ("A", at(5)), ("B", at(1)))
      q.processAllAvailable()
      // batch 2 advances the watermark to 110min — far past A's state
      in.addData(("C", at(120)))
      q.processAllAvailable()
      // batch 3: A re-arrives AFTER its state was evicted -> re-admitted
      in.addData(("A", at(125)))
      q.processAllAvailable()
    } finally q.stop()
    val keys = spark.table("s06_e2e").collect().map(_.getString(0)).toSeq
    keys.sorted shouldBe Seq("A", "A", "B", "C") // A once per horizon window
  }

  test("s05 stream-stream join matches errors to prior same-user actions within the lookback") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 12:00:00")
    def at(offsetMin: Int) = new java.sql.Timestamp(t0.getTime + offsetMin * 60000L)
    val in = MemoryStream[(Long, Long, java.sql.Timestamp, String)]
    in.addData(
      (100L, 1L, at(0), "click"),    // within 30 min of the error -> match
      (101L, 1L, at(-40), "click"),  // 50 min before the error -> outside lookback
      (200L, 1L, at(10), "error"),
      (300L, 2L, at(5), "click"))    // other user -> no match
    val events = in.toDF.toDF("event_id", "user_id", "ts", "event_type")
    val q = Streams.errorCauseJoin(events)
      .writeStream.format("memory").queryName("s05_e2e")
      .outputMode(OutputMode.Append).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val rows = spark.table("s05_e2e").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    rows shouldBe Array((200L, 100L, 600000000L))
  }

  test("s05 streaming/batch parity on the real events table") {
    val streamed = Streams.runToMemory(
      Streams.errorCauseJoin(
        Streams.readEventStream(spark, s"${SparkSpec.sfDir}/events.parquet")),
      "s05_parity")
    val ev = tables.events
    val a = ev.filter(col("event_type") =!= "error")
      .select(col("user_id").as("a_user"), col("event_id").as("action_id"),
        col("ts").as("a_ts"))
    val p = ev.filter(col("event_type") === "error")
      .select(col("user_id").as("e_user"), col("event_id").as("error_id"),
        col("ts").as("e_ts"))
    val batch = p.join(a,
      col("e_user") === col("a_user") &&
        col("a_ts") <= col("e_ts") &&
        col("a_ts") >= col("e_ts") - expr("interval 30 minutes"))
      .select(col("error_id"), col("action_id"),
        (unix_micros(col("e_ts")) - unix_micros(col("a_ts"))).as("gap_us"))
    streamed.count() should be > 0L
    streamed.exceptAll(batch).count() shouldBe 0L
    batch.exceptAll(streamed).count() shouldBe 0L
  }

  test("s01 production path: stream -> normalize -> parquet sink round-trips") {
    val outDir = java.nio.file.Files.createTempDirectory("s01_sink").toString
    val ckDir = java.nio.file.Files.createTempDirectory("s01_ck").toString
    val stream = Streams.readEventStream(spark, s"${SparkSpec.sfDir}/events.parquet")
    val q = Streams.ingestToParquet(
      operators.Etl.ingestNormalize(stream), outDir, ckDir)
    // AvailableNow isn't part of the production signature; drain by
    // waiting for the file-source to exhaust the single input file
    q.processAllAvailable()
    q.stop()
    val written = spark.read.parquet(outDir)
    val expected = operators.Etl.ingestNormalize(tables.events)
    written.count() shouldBe expected.count()
    written.columns.sorted shouldBe expected.columns.sorted
    // exactly-once at the file-sink level: same rows, byte-for-byte
    written.exceptAll(expected).count() shouldBe 0L
  }

  test("s01 continuous NDJSON loop: landing dir -> normalize -> parquet") {
    val landing = java.nio.file.Files.createTempDirectory("s01_landing")
    java.nio.file.Files.write(landing.resolve("a.ndjson"),
      "{\"id\": 1, \"size\": 100}\n{\"id\": 2, \"size\": 200}".getBytes("UTF-8"))
    java.nio.file.Files.write(landing.resolve("b.ndjson"),
      "{\"id\": 3, \"size\": 300}".getBytes("UTF-8"))
    val outDir = java.nio.file.Files.createTempDirectory("s01_ndj_out").toString
    val ckDir = java.nio.file.Files.createTempDirectory("s01_ndj_ck").toString
    // schema from a batch sample, as the scaladoc prescribes
    val schema = spark.read.json(landing.toString).schema
    val stream = sources.Ingest.castAllToString(
      Streams.readNdjsonStream(spark, landing.toString, schema))
    val q = Streams.ingestToParquet(stream, outDir, ckDir)
    q.processAllAvailable()
    q.stop()
    val written = spark.read.parquet(outDir)
    written.count() shouldBe 3
    written.schema.fields.foreach(_.dataType.typeName shouldBe "string")
    written.select("_source_file").distinct().count() shouldBe 2
  }

  test("s01 checkpoint restart resumes exactly-once: old files never reprocess") {
    import org.apache.spark.sql.types._
    val landing = java.nio.file.Files.createTempDirectory("s01_landing").toString
    val out = java.nio.file.Files.createTempDirectory("s01_out").toString + "/data"
    val ckpt = java.nio.file.Files.createTempDirectory("s01_ckpt").toString
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType)))
    def land(name: String, rows: Seq[String]): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(landing, name),
        rows.mkString("\n").getBytes("UTF-8"))
    def drain(): Unit = {
      val q = Streams.ingestToParquet(
        Streams.readNdjsonStream(spark, landing, schema), out, ckpt,
        Some(Trigger.AvailableNow()))
      q.awaitTermination()
      q.stop()
    }
    land("a.ndjson", Seq("""{"id":1,"v":"x"}""", """{"id":2,"v":"y"}"""))
    drain()
    spark.read.parquet(out).count() shouldBe 2
    // second delivery lands AFTER the first query fully stopped — the
    // restart must pick up ONLY the new file from the checkpoint log
    land("b.ndjson", Seq("""{"id":3,"v":"z"}""", """{"id":4,"v":"w"}""", """{"id":5,"v":"u"}"""))
    drain()
    val ids = spark.read.parquet(out).collect().map(_.getAs[Long]("id")).sorted
    ids shouldBe Array(1L, 2L, 3L, 4L, 5L) // 3 new rows, zero reprocessed
  }

  test("s08 streaming incremental dedup: per-batch index probes equal the batch probe") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta"
    val other = "totally different words entirely here now yes indeed"
    val corpus = Seq((1L, base), (2L, "one two three four five six seven"))
      .toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("s08spec_").toString
    graft.operators.Dedup.writeBandIndex(corpus, s"$tmp/index")
    val index = graft.operators.Dedup.readBandIndex(spark, s"$tmp/index")
    val in = MemoryStream[(Long, String)]
    in.addData((10L, base))                    // batch 1: dup of corpus doc 1
    in.addData((11L, other), (12L, base))      // batch 2: one clean, one dup
    val q = Streams.streamIncrementalDedup(in.toDF().toDF("doc_id", "text"),
      index, corpus, s"$tmp/out", s"$tmp/cp",
      trigger = Some(Trigger.AvailableNow()))
    q.awaitTermination(); q.stop()
    val streamed = spark.read.parquet(s"$tmp/out").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val batch = graft.operators.Dedup.incrementalProbeIndex(index, corpus,
      Seq((10L, base), (11L, other), (12L, base)).toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    streamed shouldBe batch
    streamed.map(x => (x._1, x._2)) shouldBe Set((10L, 1L), (12L, 1L))
  }

  test("s18 streaming decontamination: per-batch bloom+verify verdicts equal batch q35 across batches") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val evalTxt = "the quick brown fox jumps over the lazy dog"
    val clean1 = "completely original training text one"
    val clean2 = "another clean document with its own words"
    val reference = Seq((100L, evalTxt)).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("s18spec_").toString
    val in = MemoryStream[(Long, String)]
    in.addData((1L, clean1), (2L, evalTxt))          // batch 1: one hit
    in.addData((3L, "The  QUICK brown fox jumps over the lazy dog "),
      (4L, clean2))                                  // batch 2: normalized hit
    val q = Streams.streamDecontaminate(in.toDF().toDF("doc_id", "text"),
      reference, s"$tmp/out", s"$tmp/cp",
      trigger = Some(Trigger.AvailableNow()))
    q.awaitTermination(); q.stop()
    val streamed = spark.read.parquet(s"$tmp/out").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    // batch truth: the same docs through q35's exact path
    val batch = graft.operators.TextOps.decontaminate(
      Seq((1L, clean1), (2L, evalTxt),
        (3L, "The  QUICK brown fox jumps over the lazy dog "), (4L, clean2))
        .toDF("doc_id", "text"), reference)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    streamed shouldBe batch
    // the fingerprint normalizes case/whitespace, so doc 3 is a hit
    streamed.map(_._1) shouldBe Set(2L, 3L)
    // restart on the same checkpoint with no new data: nothing replays
    val q2 = Streams.streamDecontaminate(in.toDF().toDF("doc_id", "text"),
      reference, s"$tmp/out", s"$tmp/cp",
      trigger = Some(Trigger.AvailableNow()))
    q2.awaitTermination(); q2.stop()
    spark.read.parquet(s"$tmp/out").count() shouldBe 2
  }

  test("s23 streaming BM25 ingest: per-batch appends compose to a full rebuild; health rows are per-prefix exact") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val base = Seq((0L, "apple banana"), (1L, "apple zebra")).toDF("doc_id", "text")
    val b1 = Seq((10L, "banana banana stop"))
    val b2 = Seq((20L, "zebra stop"), (21L, "apple"))
    val tmp = java.nio.file.Files.createTempDirectory("s23spec_").toString
    graft.operators.Retrieval.writeBm25Index(base, s"$tmp/idx")
    val in = MemoryStream[(Long, String)]
    val q = Streams.streamBm25Ingest(in.toDF().toDF("doc_id", "text"),
      s"$tmp/idx", s"$tmp/out", s"$tmp/cp")
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    val rows = spark.read.parquet(s"$tmp/out").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    // prefix 1 = base ∪ b1: 3 docs, 7 tokens, 4 distinct terms
    rows(0) shouldBe ((3L, 7L, 7L * 8 / 3, 4L))
    // prefix 2 = all: 5 docs, 10 tokens, 4 distinct terms
    rows(1) shouldBe ((5L, 10L, 10L * 8 / 5, 4L))
    // the closed-loop invariant: the final appended index serves
    // row-identically to a from-scratch build over the union
    val allDocs = base.unionByName((b1 ++ b2).toDF("doc_id", "text"))
    graft.operators.Retrieval.writeBm25Index(allDocs, s"$tmp/full")
    def serve(p: String) = graft.operators.Retrieval.bm25ServeIndex(
        graft.operators.Retrieval.readBm25Index(spark, p),
        allDocs.withColumnRenamed("doc_id", "query_id"), excludeId = true)
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    serve(s"$tmp/idx") shouldBe serve(s"$tmp/full")
  }

  test("s25 streaming hybrid serve: a two-batch split of the query set drains row-identically to batch q134") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val docs = tables.documents
    val tmp = java.nio.file.Files.createTempDirectory("s25spec_").toString
    graft.operators.Retrieval.writeBm25Index(docs, s"$tmp/bm25")
    val emb = graft.operators.TextOps.embedFrame(docs).localCheckpoint()
    graft.operators.Similarity.writeAnnIndex(emb, s"$tmp/ann")
    val qdocs = docs.filter(col("doc_id") < 10)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().sortBy(_._1)
    // deliver the query set SPLIT across two micro-batches — the
    // batching-independence claim the one-drain oracle can't see
    val in = MemoryStream[(Long, String)]
    val q = Streams.streamHybridServe(
      in.toDF().toDF("query_id", "text"),
      s"$tmp/bm25", s"$tmp/ann", emb, s"$tmp/out", s"$tmp/cp")
    try {
      in.addData(qdocs.take(4).toSeq: _*); q.processAllAvailable()
      in.addData(qdocs.drop(4).toSeq: _*); q.processAllAvailable()
    } finally q.stop()
    val drained = spark.read.parquet(s"$tmp/out")
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    val batch = graft.operators.Retrieval.rrfFusionServed(
        graft.operators.Retrieval.readBm25Index(spark, s"$tmp/bm25"),
        graft.operators.Similarity.readAnnIndex(spark, s"$tmp/ann"),
        emb,
        docs.filter(col("doc_id") < 10)
          .select(col("doc_id").as("query_id"), col("text")))
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    drained shouldBe batch
  }

  test("s24 streaming ANN ingest: appends compose to a full rebuild; health rows are prefix-exact; replay is fenced") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val e = tables.embeddings
    val base = e.filter(col("vec_id") % 10 =!= 8 && col("vec_id") % 10 =!= 9)
    val nBase = base.count()
    val b1 = e.filter(col("vec_id") % 10 === 8)
      .select(col("vec_id"), col("embedding").cast("array<float>"))
      .as[(Long, Array[Float])].collect()
    val b2 = e.filter(col("vec_id") % 10 === 9)
      .select(col("vec_id"), col("embedding").cast("array<float>"))
      .as[(Long, Array[Float])].collect()
    val tmp = java.nio.file.Files.createTempDirectory("s24spec_").toString
    graft.operators.Similarity.writeAnnIndex(e, s"$tmp/idx",
      encodeOnly = Some(base))
    val in = MemoryStream[(Long, Array[Float])]
    val q = Streams.streamAnnIngest(in.toDF().toDF("vec_id", "embedding"),
      s"$tmp/idx", s"$tmp/out", s"$tmp/cp")
    try {
      in.addData(b1.toSeq: _*); q.processAllAvailable()
      in.addData(b2.toSeq: _*); q.processAllAvailable()
    } finally q.stop()
    val rows = spark.read.parquet(s"$tmp/out").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    rows should have length 2
    // n_codes is the associative prefix merge — independent counts
    rows(0)._1 shouldBe nBase + b1.length
    rows(1)._1 shouldBe nBase + b1.length + b2.length
    rows.foreach { case (_, cells, qerr) =>
      cells should be >= 1L
      qerr should be >= 0L
    }
    // the replay path emits a row content-identical to the appended
    // emission (the at-least-once re-delivery contract): a replayed
    // batchId is a no-op append, and the read-only recomputation
    // equals the last emitted health row
    val idx = graft.operators.Similarity.readAnnIndex(spark, s"$tmp/idx")
    idx.batchId shouldBe 1L
    graft.operators.Similarity.appendAnnIndex(spark,
      b2.toSeq.toDF("vec_id", "embedding"), s"$tmp/idx",
      batchId = Some(1L)) shouldBe None
    val h = graft.operators.Similarity.annIngestHealthOf(idx,
      b2.toSeq.toDF("vec_id", "embedding"))
    (h.nCodes, h.cellsTouched, h.meanQerrFp) shouldBe rows(1)
    // the closed-loop invariant: the final appended index serves
    // row-identically to a from-scratch full build (append ≡ rebuild)
    graft.operators.Similarity.writeAnnIndex(e, s"$tmp/full")
    def serve(p: String) = graft.operators.Similarity.annServeIndex(
        graft.operators.Similarity.readAnnIndex(spark, p), e)
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    serve(s"$tmp/idx") shouldBe serve(s"$tmp/full")
  }

  test("s24 delivery permutation: land→drain→land→drain is immune to adversarial mtimes; a single pre-landed drain is mtime-ordered (the r18 red-row mechanism)") {
    import spark.implicits._
    val e = tables.embeddings
    val base = e.filter(col("vec_id") % 10 =!= 8 && col("vec_id") % 10 =!= 9)
    val nBase = base.count()
    // two intake batches of DIFFERENT sizes, so the first emitted
    // n_codes identifies WHICH batch was applied first
    val pool = e.filter(col("vec_id") % 10 === 8 || col("vec_id") % 10 === 9)
      .select("vec_id").as[Long].collect().sorted
    assume(pool.length >= 5)
    val ids1 = pool.take(2)
    val ids2 = pool.drop(2)
    val b1 = e.filter(col("vec_id").isin(ids1: _*))
    val b2 = e.filter(col("vec_id").isin(ids2: _*))
    (ids1.length.toLong) should not be (ids2.length.toLong)
    val schema = e.schema

    def land(tmp: String, df: org.apache.spark.sql.DataFrame,
             name: String, mtime: Long): Unit = {
      val stage = s"$tmp/stage_$name"
      df.coalesce(1).write.parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      val dest = java.nio.file.Paths.get(s"$tmp/landing/$name.parquet")
      java.nio.file.Files.createDirectories(dest.getParent)
      java.nio.file.Files.move(part.toPath, dest)
      require(dest.toFile.setLastModified(mtime), s"mtime pin failed on $dest")
    }
    def drain(tmp: String): Unit = {
      val intake = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$tmp/landing")
      val q = Streams.streamAnnIngest(intake, s"$tmp/idx",
        s"$tmp/out", s"$tmp/cp", trigger = Some(Trigger.AvailableNow()))
      q.awaitTermination(); q.stop()
    }
    // application order read back from the emissions: n_codes is the
    // strictly monotone associative merge, so ascending n_codes IS
    // application order and the first value names the first batch
    def applied(tmp: String): Seq[Long] =
      spark.read.parquet(s"$tmp/out").select("n_codes").as[Long]
        .collect().sorted.toSeq

    // (a) STRUCTURAL pinning (the declared s24 shape since r19):
    // b1 lands with the LATER mtime, b2 with the EARLIER — if order
    // hung off mtimes at all, b2 would apply first; structurally it
    // cannot, because b1's drain completes before b2 exists
    val tA = java.nio.file.Files.createTempDirectory("s24permA_").toString
    graft.operators.Similarity.writeAnnIndex(e, s"$tA/idx",
      encodeOnly = Some(base))
    land(tA, b1, "b1", 2000000L); drain(tA)
    land(tA, b2, "b2", 1000000L); drain(tA)
    applied(tA) shouldBe Seq(nBase + ids1.length, nBase + pool.length)

    // (b) the r18 mechanism, pinned: both files pre-landed, ONE drain
    // with maxFilesPerTrigger=1 — FileStreamSource batches in mtime
    // order, so the b2-earlier stamp REORDERS delivery (2 rows, same
    // schema, different content: exactly the red row's signature)
    val tB = java.nio.file.Files.createTempDirectory("s24permB_").toString
    graft.operators.Similarity.writeAnnIndex(e, s"$tB/idx",
      encodeOnly = Some(base))
    land(tB, b1, "b1", 2000000L)
    land(tB, b2, "b2", 1000000L)
    drain(tB)
    applied(tB) shouldBe Seq(nBase + ids2.length, nBase + pool.length)
  }

  test("s19 streaming domain quota: counters persist across batches, in-batch admission is doc_id-ordered") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[(Long, String)]
    val q = Streams.scopedStateStoreConf(spark) {
      Streams.streamDomainQuota(in.toDS(), 3).toDF
        .writeStream.format("memory").queryName("s19_e2e")
        .outputMode(OutputMode.Append).start()
    }
    try {
      // batch 1: domain A over-supplies (cap 3) out of id order; B under
      in.addData((5L, "A"), (1L, "A"), (9L, "A"), (3L, "A"), (2L, "B"))
      q.processAllAvailable()
      // batch 2: A is already full — even doc 4 (< doc 5) cannot displace
      // an earlier admission; B's slice sorts to 6,7,8 and its two
      // remaining slots go to 6 and 7
      in.addData((4L, "A"), (6L, "B"), (8L, "B"), (7L, "B"))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("s19_e2e").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    out shouldBe Set(
      (1L, "A", 1L), (3L, "A", 2L), (5L, "A", 3L), // doc 9 over cap, doc 4 late
      (2L, "B", 1L), (6L, "B", 2L), (7L, "B", 3L)) // doc 8 over cap
  }

  test("s20 streaming pack meter: offsets carry across batches, in-batch order is doc_id, equals batch q40") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[(String, Long, Long)]
    val q = Streams.scopedStateStoreConf(spark) {
      Streams.streamPackMeter(in.toDS(), budget = 10).toDF
        .writeStream.format("memory").queryName("s20_e2e")
        .outputMode(OutputMode.Append).start()
    }
    try {
      // batch 1 delivered OUT of id order: in-batch assignment must
      // sort by doc_id (en offsets 0/4/9 -> all chunk 0; de 0 -> 0)
      in.addData(("en", 2L, 5L), ("en", 1L, 4L), ("en", 3L, 3L), ("de", 1L, 7L))
      q.processAllAvailable()
      // batch 2: offsets CARRY — en resumes at 12 (doc 4 -> chunk 1),
      // de at 7 (doc 2 -> chunk 0, doc 3 at offset 12 -> chunk 1)
      in.addData(("en", 4L, 6L), ("de", 3L, 2L), ("de", 2L, 5L))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("s20_e2e").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    out shouldBe Set(
      ("en", 1L, 4L, 0), ("en", 2L, 5L, 0), ("en", 3L, 3L, 0), ("en", 4L, 6L, 1),
      ("de", 1L, 7L, 0), ("de", 2L, 5L, 0), ("de", 3L, 2L, 1))
    // batch truth: the same rows through q40's window (arrival order
    // was doc_id order per language, the declared query's delivery)
    val batch = graft.operators.Corpus.packSequences(
      Seq(("en", 1L, "a b c d"), ("en", 2L, "a b c d e"), ("en", 3L, "a b c"),
        ("en", 4L, "a b c d e f"), ("de", 1L, "a b c d e f g"),
        ("de", 2L, "a b c d e"), ("de", 3L, "a b"))
        .toDF("lang", "doc_id", "text"), budget = 10)
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    val regrouped = out.groupBy(t => (t._1, t._4)).map { case ((l, c), ds) =>
      (l, c, ds.size.toLong, ds.map(_._3).sum)
    }.toSet
    regrouped shouldBe batch.map(t => (t._1, t._2, t._3, t._4))
  }

  test("s09 admit loop: later batches dedup against earlier survivors, not dropped docs") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val baseA = "alpha beta gamma delta epsilon zeta eta theta"
    val novelX = "crimson harbor lantern quietly drifting beneath autumn skies"
    val novelY = "mechanical orchard of copper birds singing binary songs"
    val corpus = Seq((1L, baseA)).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("s09spec_").toString
    graft.operators.Dedup.writeBandIndex(corpus, s"$tmp/index")
    val in = MemoryStream[(Long, String)]
    val q = Streams.streamIncrementalDedupAdmit(in.toDF().toDF("doc_id", "text"),
      s"$tmp/index", corpus, s"$tmp/admitted", s"$tmp/out", s"$tmp/cp")
    in.addData((10L, novelX), (11L, baseA)) // 10 survives, 11 dups corpus doc 1
    q.processAllAvailable()
    // 20 dups batch-1 SURVIVOR 10 (the admit effect); 21 dups corpus 1
    // but must NOT also flag vs dropped 11; 22 is novel
    in.addData((20L, novelX), (21L, baseA), (22L, novelY))
    q.processAllAvailable()
    q.stop()
    val hits = spark.read.parquet(s"$tmp/out").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    hits shouldBe Set((11L, 1L), (20L, 10L), (21L, 1L))
    val admitted = spark.read.parquet(s"$tmp/admitted").collect()
      .map(_.getAs[Long]("doc_id")).toSet
    admitted shouldBe Set(10L, 22L)
  }

  test("s09 first batch: an absent admitted store reads empty, with no reader warning logged") {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    import scala.jdk.CollectionConverters._
    val absent = java.nio.file.Files.createTempDirectory("s09absent_").toString + "/admitted"
    val logged = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("s09-absent-store", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        logged.add(s"${e.getLoggerName}: ${e.getMessage.getFormattedMessage}")
    }
    capture.start()
    val root = LogManager.getRootLogger.asInstanceOf[Logger]
    root.addAppender(capture)
    val store = try Streams.readAdmittedStore(spark, absent) finally root.removeAppender(capture)
    store.count() shouldBe 0L
    store.schema.fieldNames shouldBe Array("doc_id", "text")
    logged.asScala.filter(_.contains(absent)) shouldBe empty
  }

  test("s09 admit -> compact both stores -> probe: the loop continues unchanged") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val baseA = "alpha beta gamma delta epsilon zeta eta theta"
    val novelX = "crimson harbor lantern quietly drifting beneath autumn skies"
    val novelY = "mechanical orchard of copper birds singing binary songs"
    val corpus = Seq((1L, baseA)).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("s09compact_").toString
    graft.operators.Dedup.writeBandIndex(corpus, s"$tmp/index")
    val in = MemoryStream[(Long, String)]
    val q = Streams.streamIncrementalDedupAdmit(in.toDF().toDF("doc_id", "text"),
      s"$tmp/index", corpus, s"$tmp/admitted", s"$tmp/out", s"$tmp/cp")
    in.addData((10L, novelX), (11L, baseA))
    q.processAllAvailable()
    in.addData((12L, novelY))
    q.processAllAvailable()
    q.stop() // quiesce — the compaction contract
    // OFFLINE maintenance between drains: both append-grown stores
    val (ib, ia) = graft.operators.Dedup.compactBandIndex(spark, s"$tmp/index")
    val (sb, sa) = graft.operators.Dedup.compactParquetStore(spark, s"$tmp/admitted")
    // at this toy scale every band key has a distinct prefix, so the
    // index file count can only hold steady; the admitted store (one
    // file per admitted batch) must strictly collapse
    ia should be <= ib
    sa should be < sb
    // resume intake from the SAME checkpoint over the compacted stores:
    // 20 dups pre-compaction survivor 10, 21 dups survivor 12, 22 novel
    val q2 = Streams.streamIncrementalDedupAdmit(in.toDF().toDF("doc_id", "text"),
      s"$tmp/index", corpus, s"$tmp/admitted", s"$tmp/out", s"$tmp/cp")
    in.addData((20L, novelX), (21L, novelY),
      (22L, "entirely fresh material appearing after the maintenance window"))
    q2.processAllAvailable()
    q2.stop()
    val hits = spark.read.parquet(s"$tmp/out").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    hits shouldBe Set((11L, 1L), (20L, 10L), (21L, 12L))
    val admitted = spark.read.parquet(s"$tmp/admitted").collect()
      .map(_.getAs[Long]("doc_id")).toSet
    admitted shouldBe Set(10L, 12L, 22L)
  }

  test("s15 semantic admit loop: later batches dedup against earlier survivors, not dropped vectors; the store grows by admitted novelty only") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val s0 = Array(1f, 0f, 0f, 0f)
    val s1 = Array(0f, 1f, 0f, 0f)
    val x  = Array(0f, 0f, 1f, 0f) // orthogonal to the store — novel
    val y  = Array(0f, 0f, 0f, 1f) // orthogonal to everything — novel
    val store = Seq((5L, s0), (6L, s1)).toDF("vec_id", "embedding")
    val cents = graft.operators.Similarity.seedCentroids(store, 16)
    val tmp = java.nio.file.Files.createTempDirectory("s15spec_").toString
    graft.operators.Similarity.writeSemanticStore(store, s"$tmp/store", cents)
    val in = MemoryStream[(Long, Array[Float])]
    val q = Streams.streamSemanticDedupAdmit(
      in.toDF().toDF("vec_id", "embedding"), s"$tmp/store", cents,
      s"$tmp/out", s"$tmp/cp", tau = 0.9)
    // batch 1: id 2 duplicates store vector 5 (dropped — and its id is
    // SMALLER than 5, so a later min-mate can tell admitted from
    // dropped); id 10 is novel and survives
    in.addData((2L, s0), (10L, x))
    q.processAllAvailable()
    // batch 2: 20 dups batch-1 SURVIVOR 10 (the admit effect); 21 dups
    // store 5 and must flag dup_of=5, NOT the dropped 2 (2 < 5 would
    // win the min if it had been admitted); 30 is novel
    in.addData((20L, x), (21L, s0), (30L, y))
    q.processAllAvailable()
    q.stop()
    val hits = spark.read.parquet(s"$tmp/out").collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    hits shouldBe Set((2L, 5L), (20L, 10L), (21L, 5L))
    val admitted = graft.operators.Similarity
      .readSemanticStore(spark, s"$tmp/store", cents)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    admitted shouldBe Set(5L, 6L, 10L, 30L)
  }

  test("s15 compaction in the loop: a mid-stream maintenance compact collapses replayed admits and the restarted loop probes the compacted store identically") {
    import spark.implicits._
    val s0 = Array(1f, 0f, 0f, 0f)
    val x  = Array(0f, 0f, 1f, 0f)
    val y  = Array(0f, 0f, 0f, 1f)
    val store = Seq((5L, s0), (6L, Array(0f, 1f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val cents = graft.operators.Similarity.seedCentroids(store, 16)
    val tmp = java.nio.file.Files.createTempDirectory("s15compact_").toString
    graft.operators.Similarity.writeSemanticStore(store, s"$tmp/store", cents)
    val landing = s"$tmp/landing"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(landing))
    def land(rows: (Long, Array[Float])*): Unit =
      rows.toSeq.toDF("vec_id", "embedding").coalesce(1)
        .write.mode("append").parquet(landing)
    def drain(): Unit = {
      val intake = spark.readStream
        .schema("vec_id LONG, embedding ARRAY<FLOAT>").parquet(landing)
      val q = Streams.streamSemanticDedupAdmit(intake, s"$tmp/store", cents,
        s"$tmp/out", s"$tmp/cp", tau = 0.9,
        trigger = Some(Trigger.AvailableNow()))
      q.awaitTermination(); q.stop()
    }
    // batch 1: 2 dups store vector 5; 10 is novel and is admitted
    land((2L, s0), (10L, x))
    drain()
    // at-least-once replay between triggers: the survivor row lands
    // AGAIN as an exact duplicate (same vector, same stamps)
    graft.operators.Similarity.appendToSemanticStore(
      Seq((10L, x)).toDF("vec_id", "embedding"), s"$tmp/store", cents)
    graft.operators.Similarity
      .readSemanticStore(spark, s"$tmp/store", cents)
      .count() shouldBe 4 // 5, 6, 10, 10-replayed
    // the maintenance window: offline compact while admits are
    // quiesced (the query between drains IS the quiesce)
    val (before, after) = graft.operators.Similarity
      .compactSemanticStore(spark, s"$tmp/store", cents)
    assert(after <= before)
    val compacted = graft.operators.Similarity
      .readSemanticStore(spark, s"$tmp/store", cents)
    compacted.count() shouldBe 3 // the replayed admit collapsed
    compacted.collect().map(_.getAs[Long]("vec_id")).sorted shouldBe
      Array(5L, 6L, 10L)
    // the restarted loop (same checkpoint — the processed landing file
    // is never re-probed) reads the compacted store transparently:
    // 20 is condemned by the COMPACTED copy of survivor 10, 30 admits
    land((20L, x), (30L, y))
    drain()
    val hits = spark.read.parquet(s"$tmp/out").collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    hits shouldBe Set((2L, 5L), (20L, 10L))
    graft.operators.Similarity
      .readSemanticStore(spark, s"$tmp/store", cents)
      .collect().map(_.getAs[Long]("vec_id")).toSet shouldBe
      Set(5L, 6L, 10L, 30L)
  }

  test("s09 re-delivered doc with drifted text is not admitted twice — first admission wins") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val corpus = Seq((1L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("s09drift_").toString
    graft.operators.Dedup.writeBandIndex(corpus, s"$tmp/index")
    val in = MemoryStream[(Long, String)]
    val q = Streams.streamIncrementalDedupAdmit(in.toDF().toDF("doc_id", "text"),
      s"$tmp/index", corpus, s"$tmp/admitted", s"$tmp/out", s"$tmp/cp")
    val v1 = "crimson harbor lantern quietly drifting beneath autumn skies"
    in.addData((10L, v1))
    q.processAllAvailable()
    // same doc_id, text drifted far below tau: the probe passes it as
    // novel, but the store must keep exactly ONE row for doc 10 (v1)
    in.addData((10L, "entirely rewritten content sharing nothing with before"))
    q.processAllAvailable()
    q.stop()
    val admitted = spark.read.parquet(s"$tmp/admitted").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    admitted shouldBe Array((10L, v1))
  }

  test("s08 checkpoint restart probes only newly-landed intake files") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta"
    val corpus = Seq((1L, base)).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("s08restart_").toString
    graft.operators.Dedup.writeBandIndex(corpus, s"$tmp/index")
    val index = graft.operators.Dedup.readBandIndex(spark, s"$tmp/index")
    val landing = s"$tmp/landing"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(landing))
    def land(rows: (Long, String)*): Unit =
      rows.toSeq.toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(landing)
    def drain(): Unit = {
      val intake = spark.readStream
        .schema(corpus.schema).parquet(landing)
      val q = Streams.streamIncrementalDedup(intake, index, corpus,
        s"$tmp/out", s"$tmp/cp", trigger = Some(Trigger.AvailableNow()))
      q.awaitTermination(); q.stop()
    }
    land((10L, base))
    drain()
    spark.read.parquet(s"$tmp/out").count() shouldBe 1
    // a duplicate doc landing AFTER the first drain is probed by the
    // restart; the already-processed file is NOT re-probed (its hit
    // would double up in the append sink if it were)
    land((11L, base))
    drain()
    val hits = spark.read.parquet(s"$tmp/out").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    hits shouldBe Array((10L, 1L), (11L, 1L))
  }

  test("s10 streaming quarantine routes per-row reasons, reports per batch, restarts clean") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("s10_").toString
    val landing = s"$tmp/landing"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(landing))
    def land(rows: (Long, Int)*): Unit =
      rows.toSeq.toDF("doc_id", "n_chars").coalesce(1)
        .write.mode("append").parquet(landing)
    def drain(): Unit = {
      val docs = spark.readStream
        .schema("doc_id LONG, n_chars INT").parquet(landing)
      val q = Streams.streamQuarantine(docs, s"$tmp/valid", s"$tmp/quar",
        s"$tmp/reports", s"$tmp/cp", trigger = Some(Trigger.AvailableNow()))
      q.awaitTermination(); q.stop()
    }
    land((1L, 100), (2L, 200), (3L, 500))
    drain()
    spark.read.parquet(s"$tmp/valid").collect().map(_.getLong(0)) shouldBe Array(2L)
    val quar1 = spark.read.parquet(s"$tmp/quar").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("_quarantine_reason"))).sorted
    quar1 shouldBe Array((1L, "below_min_size"), (3L, "above_max_size"))
    // restart: the processed landing file is never re-judged; only the
    // new batch's rows append, and a second report row lands
    land((4L, 300), (5L, 10))
    drain()
    spark.read.parquet(s"$tmp/valid").collect()
      .map(_.getLong(0)).sorted shouldBe Array(2L, 4L)
    spark.read.parquet(s"$tmp/quar").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("_quarantine_reason")))
      .sorted shouldBe Array(
        (1L, "below_min_size"), (3L, "above_max_size"), (5L, "below_min_size"))
    val reports = graft.sources.RunReport.readReports(spark, s"$tmp/reports")
      .collect()
    reports.length shouldBe 2
    reports.map(_.getAs[Long]("records_processed")).sum shouldBe 3L
    reports.map(_.getAs[String]("run_id")).distinct.length shouldBe 2
    // physical layout: the reference's date-prefix analog
    new java.io.File(s"$tmp/quar").listFiles().filter(_.isDirectory)
      .map(_.getName).count(_.startsWith("_quarantine_date=")) should be >= 1
  }

  test("s07 session windows merge across micro-batches; gap boundary is inclusive") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val in = MemoryStream[(Long, java.sql.Timestamp)]
    // batch 1: user 1 opens a session; user 2 one lone event
    in.addData(Seq(
      (1L, t("2026-01-01 10:00:00")), (1L, t("2026-01-01 10:10:00")),
      (2L, t("2026-01-01 09:00:00"))))
    // batch 2: user 1 extends the SAME session across the batch
    // boundary; an event exactly 30:00 after 10:30 still MERGES (the
    // inclusive bound the oracle's `> gap` predicate encodes), and one
    // second past it starts a new session
    in.addData(Seq(
      (1L, t("2026-01-01 10:30:00")), (1L, t("2026-01-01 11:00:00")),
      (1L, t("2026-01-01 11:30:01"))))
    val q = Streams.sessionWindows(in.toDF().toDF("user_id", "ts"))
      .writeStream.format("memory").queryName("s07_e2e")
      .outputMode(OutputMode.Complete).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val rows = spark.table("s07_e2e").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getTimestamp(2).toString, r.getTimestamp(3).toString)).toSet
    rows shouldBe Set(
      (1L, 4L, "2026-01-01 10:00:00.0", "2026-01-01 11:00:00.0"),
      (1L, 1L, "2026-01-01 11:30:01.0", "2026-01-01 11:30:01.0"),
      (2L, 1L, "2026-01-01 09:00:00.0", "2026-01-01 09:00:00.0"))
  }

  test("s02 streaming hourly window equals the batch aggregation") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val ts = (0 until 120).map(i =>
      (java.sql.Timestamp.valueOf(f"2026-01-01 ${i / 60}%02d:${i % 60}%02d:00"), i.toDouble))
    val in = MemoryStream[(java.sql.Timestamp, Double)]
    in.addData(ts)
    val stream = Streams.hourlyWindow(in.toDF().toDF("ts", "value"))
    val q = stream.writeStream.format("memory").queryName("s02_parity")
      .outputMode(OutputMode.Complete).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("s02_parity")
      .select("hour", "n_events", "volume").collect()
      .map(r => (r.getTimestamp(0).toString, r.getLong(1), r.getDouble(2))).toSet
    val batch = ts.toDF("ts", "value")
      .groupBy(date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("n_events"), Exact.sumD(col("value")).as("volume"))
      .collect().map(r => (r.getTimestamp(0).toString, r.getLong(1), r.getDouble(2))).toSet
    streamed shouldBe batch
    streamed.size shouldBe 2
  }

  test("s11 streaming snapshot diff: per-batch verdicts, exactly-once across restart") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("s11spec_").toString
    graft.operators.Etl.writeFingerprintStore(
      Seq((1L, "same text"), (2L, "old revision"), (3L, "never recrawled"))
        .toDF("doc_id", "text"), s"$tmp/store")
    val in = MemoryStream[(Long, String)]
    in.addData((1L, "Same   TEXT"))                     // batch 1: unchanged (normalized)
    in.addData((2L, "new revision"), (4L, "brand new")) // batch 2: changed + added
    val q = Streams.streamSnapshotDiff(in.toDF().toDF("doc_id", "text"),
      s"$tmp/store", s"$tmp/out", s"$tmp/cp",
      trigger = Some(Trigger.AvailableNow()))
    q.awaitTermination(); q.stop()
    val verdicts = spark.read.parquet(s"$tmp/out").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("verdict")).toMap
    verdicts shouldBe Map(1L -> "unchanged", 2L -> "changed", 4L -> "added")
    // doc 3 never streamed — per-batch output cannot claim "removed";
    // that is the declared query's post-drain store-anti-join fact
    spark.read.parquet(s"$tmp/out").count() shouldBe 3
    // restart on the same checkpoint with no new data: nothing replays
    val q2 = Streams.streamSnapshotDiff(in.toDF().toDF("doc_id", "text"),
      s"$tmp/store", s"$tmp/out", s"$tmp/cp",
      trigger = Some(Trigger.AvailableNow()))
    q2.awaitTermination(); q2.stop()
    spark.read.parquet(s"$tmp/out").count() shouldBe 3
  }

  test("driver contract: every declared streaming query runs and emits no DecimalType output") {
    // PlanSpec pins the batch half of the no-DECIMAL rule (r14's only
    // three oracle reds were DECIMAL(38,0) canonicalization, values
    // identical); constructing the s* registrations executes real
    // streams, so their half lives here — which also smoke-runs every
    // declared streaming registration end-to-end at sf0.001 exactly
    // as the driver's Verify will, something no bespoke test above
    // does (they build their own MemoryStream setups).
    import org.apache.spark.sql.types.{ArrayType, DataType, DecimalType, MapType, StructType}
    def hasDecimal(dt: DataType): Boolean = dt match {
      case _: DecimalType => true
      case s: StructType  => s.fields.exists(f => hasDecimal(f.dataType))
      case a: ArrayType   => hasDecimal(a.elementType)
      case m: MapType     => hasDecimal(m.keyType) || hasDecimal(m.valueType)
      case _              => false
    }
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(_._1.startsWith("s"))
      .flatMap { case (name, fn) =>
        val df = fn(spark, SparkSpec.sfDir)
        df.count() should be >= 0L // drained output must be readable
        df.schema.fields.collect {
          case f if hasDecimal(f.dataType) => s"$name.${f.name}"
        }
      }
    withClue(s"DecimalType in declared streaming output: ${offenders.mkString(", ")}: ") {
      offenders shouldBe empty
    }
  }
}
