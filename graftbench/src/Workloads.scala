package graftbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.functions.Exprs
import graft.operators.{Analytics, Dedup, Etl, Retrieval, Similarity, TextOps}
import graft.sources.{Ingest, RunReport}
import graft.streaming.Streams

/** Shared helpers: frames from generated documents, file listings made
  * with java.nio (not with the program's own listing). */
object Io {
  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))
  val EmbSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType), StructField("embedding", ArrayType(DoubleType, containsNull = false))))

  def docsFrame(spark: SparkSession, docs: Seq[Gen.Doc]): DataFrame =
    spark.createDataFrame(docs.map(d =>
      Row(d.id, d.text, d.lang, d.source, d.text.length.toLong)).asJava, DocSchema)

  def embFrame(spark: SparkSession, docs: Seq[Gen.Doc]): DataFrame =
    spark.createDataFrame(docs.map(d =>
      Row(d.id, Gen.tokenSigns(d.toks).toSeq)).asJava, EmbSchema)

  def writeParquet(df: DataFrame, p: Path, parts: Int = 4): String = {
    df.repartition(parts).write.mode("overwrite").parquet(p.toString)
    p.toString
  }

  /** Parquet data files under `root` (recursive) → size. */
  def dataFiles(root: Path): Map[String, Long] =
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(p => Files.isRegularFile(p) &&
          p.getFileName.toString.endsWith(".parquet") &&
          !p.getFileName.toString.startsWith(".") && !p.getFileName.toString.startsWith("_"))
        .map(p => p.toString -> Files.size(p)).toMap
      finally s.close()
    }

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.toList.foreach { p =>
      val t = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.COPY_ATTRIBUTES)
    } finally s.close()
  }

  def drain(q: StreamingQuery): Unit = { q.awaitTermination(); q.stop() }

  def check(ok: Boolean, msg: => String, fault: Option[String] = None): Seq[Problem] =
    if (ok) Nil else Seq(Problem(msg, fault))
}

import Io._

// =========================================================================
// ingest: NDJSON manifests → validated, quarantined, date-directory parquet
// with one run report per write; reports rolled up at each day's close.
// =========================================================================
final class IngestWorkload extends Workload {
  private var days: Vector[Gen.Day] = Vector.empty
  private val recSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("ts", StringType),
    StructField("source", StringType), StructField("lang", StringType),
    StructField("n_chars", LongType), StructField("title", StringType)))
  private val recCols = recSchema.fieldNames.toSeq

  def setup(c: Ctx): Unit = {
    days = if (c.tiny) Gen.landingDays(c.seed, c.dir, 1, 2, 2, 10, 2)
           else Gen.landingDays(c.seed, c.dir, 2, 4, 10, 60, 6)
  }

  def warmup(c: Ctx, h: Harness): Unit = runDay(c, h, days.head.copy(manifests = days.head.manifests.take(1)),
    c.dir.resolve("warm"))

  def round(c: Ctx, h: Harness, r: Int): Unit = runDay(c, h, days(r % days.size), c.dir.resolve(s"out/r$r"))

  private def landed(spark: SparkSession, root: Path): DataFrame =
    spark.read.parquet(root.toString)

  private def reportCheck(what: String, run: RunReport.Run, want: Long, before: Map[String, Long],
                          root: Path, h: Harness): Seq[Problem] = {
    val after = dataFiles(root)
    val added = after -- before.keySet
    h.observe("runreport.files_listed", after.size.toDouble)
    val filesOk = run.output_files == added.size && run.output_bytes == added.values.sum
    // the known fault: the report lists the whole output root, so in a
    // directory that already held files it claims every earlier run's too
    val listsWholeRoot = before.nonEmpty && run.output_files == after.size &&
      run.output_bytes == after.values.sum
    check(run.records_processed == want, s"$what report records_processed ${run.records_processed} != $want") ++
      check(run.status == "SUCCESS", s"$what report status ${run.status}") ++
      check(filesOk, s"$what report claims ${run.output_files} files / ${run.output_bytes} bytes; " +
        s"the run added ${added.size} / ${added.values.sum}", if (listsWholeRoot) Some("a") else None)
  }

  private def runDay(c: Ctx, h: Harness, day: Gen.Day, out: Path): Unit = {
    val spark = c.spark
    val validRoot = out.resolve(s"merged-parquet-${day.date}")
    val quarRoot = out.resolve(s"quarantine-${day.date}")
    val reports = out.resolve("reports").toString
    day.manifests.zipWithIndex.foreach { case (m, j) =>
      val vBefore = dataFiles(validRoot); val qBefore = dataFiles(quarRoot)
      h.op("manifest") {
        val paths = c.span("ingest.read_manifest")(Ingest.readManifest(spark, m.path.toUri.toString))
        val v = Etl.validate(Ingest.readNdjson(spark, paths, Some(recSchema)))
        val valid = Ingest.castAllToString(v.filter(col("status") === "valid").drop("status", "reason"))
        val run = c.span("runreport.reported_write")(RunReport.reportedWrite(valid, validRoot.toString,
          targetPartitions = 2, jobName = "ingest", reportDir = reports))
        val qrun = c.span("ingest.quarantine_write")(Ingest.quarantineWrite(
          v.filter(col("status") =!= "valid"), quarRoot.toString, reports))
        OpResult(m.valid.size, () => {
          val soFar = day.manifests.take(j + 1)
          val lv = landed(spark, validRoot)
          val typesOk = lv.schema.fields.forall(_.dataType == StringType)
          val gotV = lv.select(recCols.map(col): _*).collect().map(r => recCols.indices.map(r.getString)).toSeq
          val wantV = soFar.flatMap(_.valid).map(_.strings)
          val gotQ = landed(spark, quarRoot).select(recCols.map(n => col(n).cast("string")): _*).collect()
            .map(r => recCols.indices.map(r.getString)).toSeq
          val wantQ = soFar.flatMap(_.invalid).map(_.strings)
          check(typesOk, "landed columns are not all strings") ++
            check(gotV.sortBy(_.head.toLong) == wantV.sortBy(_.head.toLong),
              s"landed rows differ from the in-band records (${gotV.size} vs ${wantV.size})") ++
            check(gotQ.sortBy(_.head.toLong) == wantQ.sortBy(_.head.toLong),
              s"quarantined rows differ from the out-of-band records (${gotQ.size} vs ${wantQ.size})") ++
            reportCheck("ingest", run, m.valid.size, vBefore, validRoot, h) ++
            reportCheck("quarantine", qrun, m.invalid.size, qBefore, quarRoot, h)
        })
      }
    }
    h.op("rollup", unit = false) {
      val (ds, du, mr) = c.span("analytics.report_rollup") {
        val rep = RunReport.readReports(spark, reports)
        val ev = RunReport.asEventLog(rep)
        (Analytics.dailySummary(ev).collect(), Analytics.durationStats(ev).collect(),
          Analytics.measuredRates(rep).collect())
      }
      OpResult(0, () => {
        val n = 2L * day.manifests.size
        check(ds.map(_.getAs[Long]("n_events")).sum == n, s"daily summary counts ${ds.map(_.getAs[Long]("n_events")).sum} runs, want $n") ++
          check(ds.map(_.getAs[Long]("n_errors")).sum == 0, "daily summary counts failed runs") ++
          check(du.map(_.getAs[Long]("n_runs")).sum == n, "duration stats miscount runs") ++
          check(mr.length == 2, s"measured rates has ${mr.length} job rows, want 2")
      })
    }
  }
}

// =========================================================================
// curate: one read-only curation cycle over a corpus with planted copies.
// =========================================================================
final class CurateWorkload extends Workload {
  val Tau = 0.9
  private var docs: Vector[Gen.Doc] = Vector.empty
  private var corpusPath = ""
  private var embPath = ""

  def setup(c: Ctx): Unit = {
    docs = Gen.corpus(c.seed, 21,
      if (c.tiny) Gen.CorpusSpec(120, 0.1, 0.1, 2) else Gen.CorpusSpec(500, 0.05, 0.05, 2))
    corpusPath = writeParquet(docsFrame(c.spark, docs), c.dir.resolve("corpus"))
    embPath = writeParquet(embFrame(c.spark, docs), c.dir.resolve("emb"))
  }

  def warmup(c: Ctx, h: Harness): Unit = round(c, h, -1)

  def round(c: Ctx, h: Harness, r: Int): Unit = h.op("cycle") {
    val spark = c.spark
    val d = spark.read.parquet(corpusPath)
    val exact = c.span("textops.dedup_exact")(TextOps.dedupExact(d).collect())
    val mh = c.span("dedup.minhash_pairs")(Dedup.minhashLshPairs(d).collect())
    val sh = c.span("dedup.simhash_pairs")(Dedup.simhashPairs(d).collect())
    val cl = c.span("dedup.clusters")(Dedup.dedupClusters(d).collect())
    val emb = c.span("textops.embed")(TextOps.embedFrame(d).localCheckpoint())
    val sem = c.span("similarity.semantic_dedup")(Similarity.semanticDedup(emb, tau = Tau, maxCell = 1 << 16).collect())
    val qs = c.span("textops.quality_score")(TextOps.qualityScore(d).collect())
    val hf = c.span("textops.heuristic_filter")(TextOps.heuristicFilter(d).collect())
    emb.unpersist()
    OpResult(docs.size, () => Checks.curate(docs, Tau, exact, mh, sh, cl, sem, qs, hf))
  }

  override def tracedPasses(c: Ctx): Seq[Problem] = { Kernels.run(c, corpusPath, embPath, docs); Nil }
}

/** Output checks for a curation cycle, against the generator's planted
  * groups and the reference arithmetic in [[Gen]]. */
object Checks {
  def curate(docs: Seq[Gen.Doc], tau: Double, exact: Array[Row], mh: Array[Row], sh: Array[Row],
             cl: Array[Row], sem: Array[Row], qs: Array[Row], hf: Array[Row]): Seq[Problem] = {
    val byId = docs.map(d => d.id -> d).toMap
    val groups = Gen.exactGroups(docs)
    val exactPairs = groups.flatMap(g => g.combinations(2).map(p => (p(0), p(1)))).toSet
    val keeper = exact.map(r => r.getAs[Long]("keeper_doc_id") -> r.getAs[Long]("n_copies")).toMap
    val mhPairs = mh.map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) -> r.getAs[Double]("jaccard")).toMap
    val shPairs = sh.map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) -> r.getAs[Int]("hamming").toLong).toMap
    val cluster = cl.map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    val semById = sem.map(r => r.getAs[Long]("vec_id") -> r).toMap
    val shingles = scala.collection.mutable.Map.empty[Long, Set[String]]
    def shOf(id: Long) = shingles.getOrElseUpdate(id, Gen.shingles(byId(id).toks))
    val emb = scala.collection.mutable.Map.empty[Long, Array[Double]]
    def embOf(id: Long) = emb.getOrElseUpdate(id, Gen.tokenSigns(byId(id).toks))
    def first[A](xs: Iterable[A]) = xs.headOption.map(_.toString).getOrElse("")

    val p = Seq.newBuilder[Problem]
    p ++= check(exact.length == docs.map(_.text).distinct.size,
      s"dedupExact returned ${exact.length} groups, want ${docs.map(_.text).distinct.size}")
    val badGroups = groups.filterNot(g => keeper.get(g.head).contains(g.size.toLong))
    p ++= check(badGroups.isEmpty, s"dedupExact missed planted copies ${first(badGroups)}")
    val mhMissed = exactPairs.filterNot(mhPairs.contains)
    p ++= check(mhMissed.isEmpty, s"minhashLshPairs missed planted copy pairs ${first(mhMissed)}")
    val mhBad = mhPairs.filter { case ((a, b), j) =>
      val want = Gen.jaccard(shOf(a), shOf(b)); math.abs(want - j) > 1e-9 || want < 0.5 }
    p ++= check(mhBad.isEmpty, s"minhash pairs fail the recomputed Jaccard ≥ 0.5: ${first(mhBad)}")
    val shMissed = exactPairs.filterNot(shPairs.contains)
    p ++= check(shMissed.isEmpty, s"simhashPairs missed planted copy pairs ${first(shMissed)}")
    val shBad = shPairs.filter { case ((a, b), hd) =>
      val want = Gen.hamming(Gen.simhash(byId(a).toks), Gen.simhash(byId(b).toks)); want != hd || want > 6 }
    p ++= check(shBad.isEmpty, s"simhash pairs fail the recomputed Hamming ≤ 6: ${first(shBad)}")
    val clBad = groups.filterNot(g => g.forall(cluster.contains) && g.map(cluster).distinct.size == 1 &&
      cluster(g.head) <= g.head)
    p ++= check(clBad.isEmpty, s"dedupClusters split or missed planted copies ${first(clBad)}")
    p ++= check(semById.size == docs.size, s"semanticDedup returned ${semById.size} verdicts for ${docs.size} docs")
    val semBad = sem.filter(r => r.getAs[Int]("keep") == 0).filterNot { r =>
      val v = r.getAs[Long]("vec_id"); val b = r.getAs[Long]("dup_of")
      b < v && semById.get(b).exists(_.getAs[Long]("cluster_id") == r.getAs[Long]("cluster_id")) &&
        Gen.cosine(embOf(v), embOf(b)) >= tau - 1e-12
    }
    p ++= check(semBad.isEmpty, s"semanticDedup dropped without a lower-id cluster-mate within tau: ${first(semBad.map(_.getAs[Long]("vec_id")))}")
    val semMissed = groups.flatMap(_.tail).filterNot(id => semById.get(id).exists(_.getAs[Int]("keep") == 0))
    p ++= check(semMissed.isEmpty, s"semanticDedup kept a planted exact copy ${first(semMissed)}")
    val qBad = qs.filterNot { r =>
      val t = byId(r.getAs[Long]("doc_id")).toks
      math.abs(r.getAs[Double]("uniq_ratio") - t.distinct.length.toDouble / t.length) <= 1.0001e-4
    }
    p ++= check(qs.length == docs.size && qBad.isEmpty, s"qualityScore uniq_ratio differs from recomputed: ${first(qBad.map(_.getAs[Long]("doc_id")))}")
    val hBad = hf.filterNot { r =>
      val t = byId(r.getAs[Long]("doc_id")).toks
      r.getAs[Long]("n_words") == t.length &&
        (r.getAs[Int]("pass") == 1) == r.isNullAt(r.fieldIndex("first_fail"))
    }
    p ++= check(hf.length == docs.size && hBad.isEmpty, s"heuristicFilter word counts differ: ${first(hBad.map(_.getAs[Long]("doc_id")))}")
    p.result()
  }

  /** Serve checks: exact rescoring of ANN rows, rank order, and the
    * planted copy ahead of every non-copy on each path. */
  def serve(byId: Map[Long, Gen.Doc], copyOf: Map[Long, Long], paths: Seq[(String, Array[Row])]): Seq[Problem] = {
    val p = Seq.newBuilder[Problem]
    for ((name, rows) <- paths) {
      val id = if (rows.headOption.exists(_.schema.fieldNames.contains("neighbor_id"))) "neighbor_id" else "doc_id"
      val score = Seq("cos_sim", "score", "rrf").find(n => rows.headOption.exists(_.schema.fieldNames.contains(n)))
      if (id == "neighbor_id") {
        val bad = rows.filterNot { r =>
          val want = Gen.cosine(Gen.tokenSigns(byId(r.getAs[Long]("query_id")).toks),
            Gen.tokenSigns(byId(r.getAs[Long]("neighbor_id")).toks))
          math.abs(math.round(want * 1e4) / 1e4 - r.getAs[Double]("cos_sim")) <= 1.0001e-4
        }
        p ++= check(bad.isEmpty, s"$name cos_sim differs from the exact cosine for ${bad.length} rows")
      }
      val rk = rows.groupBy(_.getAs[Long]("query_id")).map { case (q, rs) =>
        q -> rs.sortBy(_.getAs[Int]("rank")).map(r => (r.getAs[Long](id), score.map(r.getAs[Double](_)).getOrElse(0.0)))
      }
      val unordered = rk.filter { case (_, xs) => xs.map(_._2).sliding(2).exists(w => w.size == 2 && w(0) < w(1)) }
      p ++= check(unordered.isEmpty, s"$name scores are not in rank order for query ${unordered.keys.headOption.getOrElse("")}")
      val self = rk.filter { case (q, xs) => xs.exists(_._1 == q) }
      p ++= check(self.isEmpty, s"$name returned the query's own document")
      val missed = copyOf.filterNot { case (q, cp) => rk.get(q).exists(_.headOption.exists(_._1 == cp)) }
      p ++= check(missed.isEmpty, s"$name ranks a non-copy ahead of the planted copy for query ${missed.keys.headOption.getOrElse("")}")
    }
    p.result()
  }
}

/** Kernel-only projection passes over the corpus (traced runs): each
  * native expression alone, run three times into a no-op sink. Rows are
  * repeated `Reps` times, so kernel time outweighs the job's fixed cost. */
object Kernels {
  val Reps = 40

  def run(c: Ctx, corpusPath: String, embPath: String, docs: Seq[Gen.Doc]): Unit = {
    val spark = c.spark
    def repeated(df: DataFrame) = df.withColumn("_rep", explode(sequence(lit(1), lit(Reps))))
    val d = repeated(spark.read.parquet(corpusPath))
    val e = repeated(spark.read.parquet(embPath))
    val toks = split(col("text"), " ")
    val r = Gen.rng(c.seed, 99)
    val dim = 64; val tables = 8; val bits = 8
    val planes = Array.fill(tables * bits)(Array.fill(dim)(if (r.nextBoolean()) 1.0 else -1.0))
    val cents = docs.filter(_.kind == "orig").take(16).map(x => Gen.tokenSigns(x.toks)).toArray
    val cellIds = cents.indices.map(_.toLong).toArray
    val cnorms = cents.map(v => math.sqrt(Gen.dot(v, v)))
    val m = 8; val ks = 16; val dsub = dim / m
    val book = Array.tabulate(m * ks) { i =>
      val v = Gen.tokenSigns(docs(i % docs.size).toks); val s = i / ks; v.slice(s * dsub, s * dsub + dsub) }
    val passes = Seq(
      "exprs.minhash_sig" -> d.select(Exprs.minhashSig(Exprs.shingles(toks, 3), 16)),
      "exprs.simhash64" -> d.select(Exprs.simhash64(toks)),
      "exprs.token_signs" -> d.select(Exprs.tokenSigns(toks, dim)),
      "exprs.lsh_buckets" -> e.select(Exprs.lshBuckets(col("embedding"), planes, tables, bits)),
      "exprs.cell_argmax" -> e.select(Exprs.cellArgmax(col("embedding"), cellIds, cents, cnorms)),
      "exprs.pq_encode" -> e.select(Exprs.pqEncodeVec(col("embedding"), cellIds, cents, cnorms,
        cents.map(v => Gen.dot(v, v)), book, book.map(v => Gen.dot(v, v)), Array.empty, m, ks, dsub,
        residual = false, withError = false)))
    for (_ <- 0 until 3; (name, df) <- passes)
      c.span(name)(df.write.format("noop").mode("overwrite").save())
  }
}

// =========================================================================
// intake: a landed batch drained through the semantic-admit, BM25 and ANN
// streams, then served lexically and semantically; a closing re-crawl batch.
// =========================================================================
final class IntakeWorkload extends Workload {
  val Tau = 0.9
  private var base: Vector[Gen.Doc] = Vector.empty
  private var batches: Vector[Vector[Gen.Doc]] = Vector.empty
  private var recrawl: Vector[Gen.Doc] = Vector.empty
  private var byId: Map[Long, Gen.Doc] = Map.empty
  /** per batch: base document id → its planted copy in that batch */
  private var copyOf: Vector[Map[Long, Long]] = Vector.empty
  private var files: Vector[Path] = Vector.empty
  private var cents: Array[(Long, Array[Double])] = Array.empty
  private var pristine: Path = _
  private var baseEmb = ""
  private var lastRound: Option[Path] = None
  private val schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("vec_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("embedding", ArrayType(DoubleType))))

  def setup(c: Ctx): Unit = {
    val spark = c.spark
    val (n0, nb, bs) = if (c.tiny) (150, 1, 30) else (400, 1, 120)
    base = Gen.corpus(c.seed, 41, Gen.CorpusSpec(n0, 0.02, 0.02, 2))
    // each batch: fresh documents plus exact copies of base documents that
    // have no other copy (condemned by the admit stream; the serve queries)
    val alone = base.filter(d => d.kind == "orig" && base.count(_.group == d.group) == 1)
    val r = Gen.rng(c.seed, 42)
    val picked = r.shuffle(alone).take(nb * (bs / 10)).grouped(bs / 10).toVector
    batches = (0 until nb).toVector.map { b =>
      val fresh = Gen.corpus(c.seed, 43 + b, Gen.CorpusSpec(bs - bs / 10, 0.0, 0.0, 0), idBase = n0 + b * bs)
      fresh ++ picked(b).zipWithIndex.map { case (d, i) => d.copy(id = n0 + b * bs + fresh.size + i, kind = "exact") }
    }
    copyOf = batches.indices.toVector.map(b =>
      picked(b).zip(batches(b).filter(_.kind == "exact")).take(8).map { case (o, cp) => o.id -> cp.id }.toMap)
    // the re-crawl: documents the first batch already admitted, under new ids
    val next = n0 + nb * bs
    recrawl = batches.head.filter(_.kind == "orig").take(bs / 3).zipWithIndex
      .map { case (d, i) => d.copy(id = next + i, kind = "exact") }
    byId = (base ++ batches.flatten ++ recrawl).map(d => d.id -> d).toMap
    files = (batches :+ recrawl).zipWithIndex.map { case (b, i) =>
      Gen.writeNdjson(c.dir.resolve(f"batches/b$i%02d.ndjson"), b) }
    cents = base.filter(_.kind == "orig").take(16).zipWithIndex
      .map { case (d, i) => (i.toLong, Gen.tokenSigns(d.toks)) }.toArray
    pristine = c.dir.resolve("pristine")
    baseEmb = writeParquet(embFrame(spark, base), c.dir.resolve("base-emb"))
    val emb = spark.read.parquet(baseEmb)
    val docsDf = spark.read.parquet(writeParquet(docsFrame(spark, base), c.dir.resolve("base-docs")))
    c.span("retrieval.write_bm25_index")(Retrieval.writeBm25Index(docsDf, pristine.resolve("bm25").toString))
    c.span("similarity.write_ann_index")(Similarity.writeAnnIndex(emb, pristine.resolve("ann").toString))
    Similarity.writeSemanticStore(emb, pristine.resolve("store").toString, cents)
  }

  private def fresh(c: Ctx, name: String): Path = {
    val d = c.dir.resolve(name)
    Io.copyTree(pristine, d)
    d
  }

  def warmup(c: Ctx, h: Harness): Unit = firstBatch(c, h, "warm")

  /** One batch op on a fresh copy of the set-up artifacts; returns the copy. */
  def firstBatch(c: Ctx, h: Harness, name: String): Path = {
    val d = fresh(c, name)
    batchOp(c, h, d, 0)
    d
  }

  private def stream(c: Ctx, d: Path, cols: String*): DataFrame =
    c.spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
      .json(d.resolve("landing").toString).select(cols.map(col): _*)

  /** Land batch `i` and drain it: the admit stream first (the dedup gate),
    * then the two index-append streams. */
  private def drains(c: Ctx, d: Path, i: Int): Unit = {
    Files.createDirectories(d.resolve("landing"))
    Files.copy(files(i), d.resolve(f"landing/b$i%02d.ndjson"))
    val an = Some(Trigger.AvailableNow())
    c.span("streams.semantic_admit_drain")(drain(Streams.streamSemanticDedupAdmit(
      stream(c, d, "vec_id", "embedding"), d.resolve("store").toString, cents,
      d.resolve("out/admit").toString, d.resolve("cp/admit").toString, tau = Tau, trigger = an)))
    c.span("streams.bm25_drain")(drain(Streams.streamBm25Ingest(stream(c, d, "doc_id", "text"),
      d.resolve("bm25").toString, d.resolve("out/bm25").toString, d.resolve("cp/bm25").toString, an)))
    c.span("streams.ann_drain")(drain(Streams.streamAnnIngest(stream(c, d, "vec_id", "embedding"),
      d.resolve("ann").toString, d.resolve("out/ann").toString, d.resolve("cp/ann").toString, an)))
  }

  private def queries(c: Ctx, i: Int): (DataFrame, DataFrame) = {
    val qdocs = copyOf(i).keys.toSeq.sorted.map(byId)
    (c.spark.createDataFrame(qdocs.map(x => Row(x.id, x.text)).asJava,
      StructType(Seq(StructField("query_id", LongType), StructField("text", StringType)))),
      embFrame(c.spark, qdocs))
  }

  /** Embeddings of every document the round's indexes hold. */
  private def store(c: Ctx, d: Path): DataFrame =
    c.spark.read.parquet(baseEmb).unionByName(
      c.spark.read.schema(schema).json(d.resolve("landing").toString).select("vec_id", "embedding"))

  /** Serve the batch's queries right after its append, lexical then
    * semantic, each after a fresh index read (a validated-metadata cache
    * miss: the append changed the index). */
  def serve(c: Ctx, d: Path, i: Int): (Array[Row], Array[Row]) = c.span("retrieval.freshness_serve") {
    val spark = c.spark
    val (qText, qEmb) = queries(c, i)
    val bm = c.span("retrieval.read_bm25_index")(Retrieval.readBm25Index(spark, d.resolve("bm25").toString))
    val lex = c.span("retrieval.bm25_serve")(Retrieval.bm25ServeIndex(bm, qText, k = 5, excludeId = true).collect())
    val ann = c.span("similarity.read_ann_index")(Similarity.readAnnIndex(spark, d.resolve("ann").toString))
    val sem = c.span("similarity.ann_serve")(Similarity.annServeIndex(ann, store(c, d), k = 5,
      queries = Some(qEmb), knownCorpusDim = Some(64)).collect())
    (lex, sem)
  }

  def serveCheck(i: Int, paths: (String, Array[Row])*): Seq[Problem] =
    Checks.serve(byId, copyOf(i), paths) ++
      check(paths.forall(_._2.map(_.getAs[Long]("query_id")).distinct.length == copyOf(i).size),
        "a serve path answered fewer queries than it was sent")

  /** Traced runs only, on the last round's indexes: index reads that hit
    * the validated-metadata cache, the hybrid serve, then compaction. */
  override def tracedPasses(c: Ctx): Seq[Problem] = lastRound.toSeq.flatMap { d =>
    val spark = c.spark
    val (qText, _) = queries(c, 0)
    val bp = d.resolve("bm25").toString; val ap = d.resolve("ann").toString
    Retrieval.readBm25Index(spark, bp); Similarity.readAnnIndex(spark, ap)
    val served = (0 until 3).flatMap { _ =>
      val bm = c.span("artifactcache.hit_read")(Retrieval.readBm25Index(spark, bp))
      val ann = c.span("artifactcache.hit_read")(Similarity.readAnnIndex(spark, ap))
      val hyb = c.span("retrieval.hybrid_serve")(Retrieval.rrfFusionServed(bm, ann, store(c, d), qText, k = 5,
        knownCorpusDim = Some(64)).collect())
      serveCheck(0, "hybrid" -> hyb)
    }.distinct
    val b = c.span("retrieval.compact_bm25")(Retrieval.compactBm25Index(spark, bp))
    val a = c.span("similarity.compact_ann")(Similarity.compactAnnIndex(spark, ap))
    served ++ check(b._2 <= b._1 && a._2 <= a._1, s"compaction grew the file count: bm25 $b ann $a") ++
      check(Retrieval.readBm25Index(spark, bp).nDocs == base.size + batches.map(_.size).sum,
        "compaction changed the BM25 document count")
  }

  private def batchOp(c: Ctx, h: Harness, d: Path, i: Int): Unit = h.op("batch") {
    val spark = c.spark
    drains(c, d, i)
    val (lex, sem) = serve(c, d, i)
    OpResult(batches(i).size, () => {
      val want = (1 to i + 1).map(j => base.size.toLong + batches.take(j).map(_.size).sum)
      val bh = spark.read.parquet(d.resolve("out/bm25").toString).collect().map(_.getAs[Long]("n_docs")).sorted.toSeq
      val ah = spark.read.parquet(d.resolve("out/ann").toString).collect().map(_.getAs[Long]("n_codes")).sorted.toSeq
      val hits = spark.read.parquet(d.resolve("out/admit").toString).collect()
      val hitBad = hits.filterNot(r => Gen.cosine(Gen.tokenSigns(byId(r.getAs[Long]("vec_id")).toks),
        Gen.tokenSigns(byId(r.getAs[Long]("dup_of")).toks)) >= Tau - 1e-12)
      val planted = batches.take(i + 1).flatten.filter(_.kind == "exact").map(_.id).toSet
      check(bh == want, s"BM25 health n_docs $bh, want $want") ++
        check(ah == want, s"ANN health n_codes $ah, want $want") ++
        check(hitBad.isEmpty, s"admit condemned ${hitBad.length} docs without a mate within tau") ++
        check(planted.subsetOf(hits.map(_.getAs[Long]("vec_id")).toSet), "admit missed a planted copy of a stored document") ++
        serveCheck(i, "bm25" -> lex, "ann" -> sem)
    })
  }

  def round(c: Ctx, h: Harness, r: Int): Unit = {
    val d = fresh(c, s"round$r")
    batches.indices.foreach(i => batchOp(c, h, d, i))
    h.op("recrawl") {
      drains(c, d, batches.size)
      OpResult(recrawl.size, () => Nil)
    }
    lastRound = Some(d)
  }

  /** The re-crawl's admit drain dies on an empty survivor set. */
  override def faultOf(kind: String, e: Throwable): Option[String] = {
    val msgs = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(t => s"$t").mkString(" ")
    if (kind == "recrawl" && msgs.contains("ROW_VALUE_IS_NULL")) Some("b") else None
  }

  /** After the timed phase: the append-grown BM25 index equals a
    * from-scratch build over the same documents. */
  override def finish(c: Ctx, h: Harness): Seq[Problem] = lastRound.toSeq.flatMap { d =>
    val spark = c.spark
    val all = base ++ batches.flatten // the re-crawl never passes the admit drain
    val rebuilt = c.dir.resolve("rebuilt").toString
    Retrieval.writeBm25Index(docsFrame(spark, all), rebuilt)
    val a = Retrieval.readBm25Index(spark, d.resolve("bm25").toString)
    val b = Retrieval.readBm25Index(spark, rebuilt)
    def lex(i: Retrieval.Bm25Index) = i.lexicon.select("term", "df", "idf_q").collect().map(_.toSeq).toSet
    check((a.nDocs, a.lTokens, a.maxDl, a.avgdlQ) == (b.nDocs, b.lTokens, b.maxDl, b.avgdlQ),
      s"appended BM25 stats ${(a.nDocs, a.lTokens, a.maxDl, a.avgdlQ)} != rebuilt ${(b.nDocs, b.lTokens, b.maxDl, b.avgdlQ)}") ++
      check(lex(a) == lex(b), "appended BM25 lexicon differs from a from-scratch build")
  }
}
