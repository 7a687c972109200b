package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** A commit protocol that lets a write commit, then deletes ONE data
  * file of its output — a rewrite that lost rows between its commit and
  * its validation. Armed for one output path via [[DropAfterCommit.at]]. */
class DropAfterCommit(jobId: String, path: String, dpo: Boolean)
    extends org.apache.spark.sql.execution.datasources.SQLHadoopMapReduceCommitProtocol(
      jobId, path, dpo) {
  override def commitJob(job: org.apache.hadoop.mapreduce.JobContext,
      taskCommits: Seq[org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage]): Unit = {
    super.commitJob(job, taskCommits)
    if (DropAfterCommit.at.exists(path.endsWith)) {
      val root = new org.apache.hadoop.fs.Path(path)
      val fs = root.getFileSystem(job.getConfiguration)
      val files = fs.listFiles(root, true)
      var victim: Option[org.apache.hadoop.fs.Path] = None
      while (victim.isEmpty && files.hasNext) {
        val f = files.next().getPath
        if (f.getName.endsWith(".parquet")) victim = Some(f)
      }
      victim.foreach(fs.delete(_, false))
    }
  }
}
object DropAfterCommit { @volatile var at: Option[String] = None }

/** The compaction contract, table-driven over the five append-grown
  * stores (BM25 postings, ANN codes, the band index, s09's admitted-text
  * store, the semantic store): the session's
  * `spark.sql.files.maxRecordsPerFile` bounds every compacted file; a
  * rewrite that does not hold exactly the source rows is refused with
  * the live tree serving as before; the band index and the semantic
  * store drop a replayed batch's exact-duplicate rows; and a swap that
  * died between its two renames is refused on the next read with the
  * rename that recovers it. */
class CompactionSpec extends SparkSpec {

  /** One store: `setup` builds it append-grown at a path, `root` is the
    * directory its compaction rewrites, `serve` what it serves,
    * `dedups` whether compaction drops exact-duplicate rows. */
  private final case class Store(name: String, setup: String => Unit,
                                 root: String => String,
                                 compact: String => (Long, Long),
                                 serve: String => Seq[String],
                                 dedups: Boolean)

  private def tmp(name: String) =
    java.nio.file.Files.createTempDirectory(name).toString

  private def withConf[T](key: String, value: String)(body: => T): T = {
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Row count of every parquet file under `dir`, from its footer. */
  private def fileRows(dir: String): Seq[Long] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val it = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    val files = try it.toArray.map(_.toString).filter(_.endsWith(".parquet")).toSeq
      finally it.close()
    files.map { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f), conf))
      try r.getRecordCount finally r.close()
    }
  }

  private lazy val docs = tables.documents.select("doc_id", "text").localCheckpoint()
  private lazy val intakeDocs = docs.filter(col("doc_id") % 10 === 9)
  private lazy val corpusDocs = docs.filter(col("doc_id") % 10 =!= 9)
  private lazy val emb: DataFrame = tables.embeddings
    .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    .localCheckpoint()
  private lazy val cents = Similarity.seedCentroids(emb, 16)

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private val bm25 = Store("bm25",
    p => {
      Retrieval.writeBm25Index(corpusDocs, p)
      Retrieval.appendBm25Index(spark, intakeDocs, p)
    },
    p => s"$p/postings",
    p => Retrieval.compactBm25Index(spark, p),
    p => {
      val idx = Retrieval.readBm25Index(spark, p)
      s"n_docs=${idx.nDocs}" +: sorted(Retrieval.bm25ServeIndex(idx,
        docs.filter(col("doc_id") < 5).select(col("doc_id").as("query_id"), col("text")),
        excludeId = true))
    },
    dedups = false)

  private val ann = Store("ann",
    p => {
      Similarity.writeAnnIndex(emb, p, encodeOnly = Some(emb.filter(col("vec_id") % 10 =!= 9)))
      Similarity.appendAnnIndex(spark, emb.filter(col("vec_id") % 10 === 9), p)
    },
    p => s"$p/codes",
    p => Similarity.compactAnnIndex(spark, p),
    p => {
      val idx = Similarity.readAnnIndex(spark, p)
      s"n_codes=${idx.nCodes}" +: sorted(Similarity.annServeIndex(idx, emb))
    },
    dedups = false)

  private lazy val admittedBatches = {
    import spark.implicits._
    Seq(Seq((900L, "fresh unseen admitted content words here today")),
      Seq((901L, "another novel admitted document arriving later on"))
    ).map(_.toDF("doc_id", "text"))
  }

  private val band = Store("band index",
    p => {
      Dedup.writeBandIndex(corpusDocs, p)
      val Seq(b1, b2) = admittedBatches
      Dedup.appendToBandIndex(b1, p)
      Dedup.appendToBandIndex(b2, p)
      Dedup.appendToBandIndex(b2, p) // an at-least-once replay
    },
    p => p,
    p => Dedup.compactBandIndex(spark, p),
    p => {
      val idx = Dedup.readBandIndex(spark, p)
      val existing = admittedBatches.foldLeft(corpusDocs)(_ unionByName _)
      s"distinct=${idx.distinct().count()}" +:
        sorted(Dedup.incrementalProbeIndex(idx, existing, intakeDocs))
    },
    dedups = true)

  private val admitted = Store("admitted store",
    p => Seq(0, 3, 6).foreach(r =>
      intakeDocs.filter(col("doc_id") % 9 === r).write.mode("append").parquet(p)),
    p => p,
    p => Dedup.compactParquetStore(spark, p),
    p => sorted(graft.streaming.Streams.readAdmittedStore(spark, p)),
    dedups = false)

  private val semantic = Store("semantic store",
    p => {
      Similarity.writeSemanticStore(emb.filter(col("vec_id") % 10 =!= 9), p, cents)
      val batch = emb.filter(col("vec_id") % 10 === 9)
      Similarity.appendToSemanticStore(batch, p, cents)
      Similarity.appendToSemanticStore(batch, p, cents) // an at-least-once replay
    },
    p => p,
    p => Similarity.compactSemanticStore(spark, p, cents),
    p => {
      val store = Similarity.readSemanticStore(spark, p, cents)
      s"distinct=${store.distinct().count()}" +: sorted(Similarity.semanticProbeStore(
        emb.filter(col("vec_id") % 7 === 3), store, cents))
    },
    dedups = true)

  Seq(bm25, ann, band, admitted, semantic).foreach { s =>
    test(s"${s.name}: spark.sql.files.maxRecordsPerFile bounds every compacted file, serves identical") {
      val p = s"${tmp("compact_k")}/store"
      s.setup(p)
      val want = s.serve(p)
      val raw = spark.read.parquet(s.root(p))
      val (rows, distinct) = (raw.count(), raw.distinct().count())
      if (s.dedups) rows should be > distinct else rows shouldBe distinct
      // a bound every partition of the rewrite must split under
      val k = math.max(1L, distinct / 40)
      withConf("spark.sql.files.maxRecordsPerFile", k.toString)(s.compact(p))
      val got = fileRows(s.root(p))
      info(s"${s.name}: $distinct rows, K=$k, ${got.size} files, largest ${got.max}")
      got.max should be <= k
      got.sum shouldBe distinct // a replay's exact duplicates dropped, nothing else
      s.serve(p) shouldBe want
    }

    test(s"${s.name}: a rewrite that lost a file after its commit is refused, live tree intact") {
      val p = s"${tmp("compact_drop")}/store"
      s.setup(p)
      val want = s.serve(p)
      val before = fileRows(s.root(p))
      val conf = "spark.sql.sources.commitProtocolClass"
      DropAfterCommit.at = Some(s"${s.root(p)}__compacting")
      val e = try withConf(conf, classOf[DropAfterCommit].getName) {
        intercept[IllegalArgumentException](s.compact(p))
      } finally DropAfterCommit.at = None
      e.getMessage should include("aborting")
      // the refused rewrite is deleted, not left as a second copy
      new java.io.File(s"${s.root(p)}__compacting").exists() shouldBe false
      fileRows(s.root(p)) shouldBe before
      s.serve(p) shouldBe want
    }

    test(s"${s.name}: a swap that died between its renames is refused naming __precompact; renaming back restores reads") {
      val p = s"${tmp("compact_midswap")}/store"
      s.setup(p)
      val want = s.serve(p)
      val root = new org.apache.hadoop.fs.Path(s.root(p))
      val aside = new org.apache.hadoop.fs.Path(s"${s.root(p)}__precompact")
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.rename(root, aside) shouldBe true
      val e = intercept[IllegalArgumentException](s.serve(p))
      e.getMessage should include(s"${s.root(p)}__precompact")
      fs.rename(aside, root) shouldBe true
      s.serve(p) shouldBe want
    }
  }
}
