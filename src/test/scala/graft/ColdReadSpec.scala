package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Cold reads of the BM25 index, the ANN index and the semantic store
  * (cache entry dropped first): the Spark-job budget of learning their
  * metadata, and the guards that must still fire once no job scans the
  * data legs. */
class ColdReadSpec extends SparkSpec with JobsDuring {

  private def tmp(name: String) =
    java.nio.file.Files.createTempDirectory(name).toString

  private lazy val emb: DataFrame = tables.embeddings.localCheckpoint()

  private def refusal(read: => Any): String =
    intercept[IllegalArgumentException](read).getMessage

  /** Copy one data file of `leg` from its epoch-`from` directory into a
    * sibling `_b_epoch=to` directory: the bytes of an uncommitted
    * mutation's data leg, written by no Spark job. */
  private def orphanFile(leg: String, from: Long, to: Long): Unit = {
    val part = new java.io.File(leg).listFiles().filter(_.getName.contains("=")).minBy(_.getName)
    val src = new java.io.File(part, s"_b_epoch=$from").listFiles()
      .filter(_.getName.endsWith(".parquet")).minBy(_.getName)
    val dst = new java.io.File(part, s"_b_epoch=$to")
    dst.mkdirs()
    java.nio.file.Files.copy(src.toPath, new java.io.File(dst, src.getName).toPath)
  }

  private def bm25(path: String): Unit = {
    Retrieval.writeBm25Index(tables.documents, path)
    Retrieval.readBm25Index(spark, path)
    Artifact.invalidate(s"bm25:$path")
  }

  private def ann(path: String): Unit = {
    Similarity.writeAnnIndex(emb, path)
    Similarity.readAnnIndex(spark, path)
    Artifact.invalidate(s"ann:$path")
  }

  private lazy val cents = Similarity.seedCentroids(emb, 16)

  private def sem(path: String): Unit = {
    Similarity.writeSemanticStore(emb, path, cents)
    Artifact.invalidate(s"sem:$path")
  }

  test("cold bm25 read runs at most 4 Spark jobs") {
    val p = s"${tmp("cold_bm25")}/idx"
    bm25(p)
    val (idx, jobs) = jobsDuring(Retrieval.readBm25Index(spark, p))
    info(s"cold bm25 read: $jobs jobs")
    jobs should be <= 4
    idx.epoch shouldBe 0L
    idx.postings.columns should contain allOf ("doc_id", "term", "tf", "dl", "_p_shard", "_b_epoch")
  }

  test("cold ann read runs at most 4 Spark jobs") {
    val p = s"${tmp("cold_ann")}/idx"
    ann(p)
    val (idx, jobs) = jobsDuring(Similarity.readAnnIndex(spark, p))
    info(s"cold ann read: $jobs jobs")
    jobs should be <= 4
    idx.nCodes shouldBe emb.count()
    idx.codes.columns should contain allOf ("vec_id", "cell", "codes", "vn2", "_p_cell", "_b_epoch")
  }

  test("cold semantic-store read runs at most 2 Spark jobs") {
    val p = s"${tmp("cold_sem")}/store"
    sem(p)
    val (store, jobs) = jobsDuring(Similarity.readSemanticStore(spark, p, cents))
    info(s"cold semantic-store read: $jobs jobs")
    jobs should be <= 2
    store.count() shouldBe emb.count()
  }

  test("warm-cache appends of both indexes: job counts, then the appended state reads") {
    val b = s"${tmp("warm_bm25")}/idx"
    Retrieval.writeBm25Index(tables.documents.filter(col("doc_id") % 10 =!= 9), b)
    Retrieval.readBm25Index(spark, b)
    val (_, bj) = jobsDuring(Retrieval.appendBm25Index(spark,
      tables.documents.filter(col("doc_id") % 10 === 9), b))
    val a = s"${tmp("warm_ann")}/idx"
    Similarity.writeAnnIndex(emb, a, encodeOnly = Some(emb.filter(col("vec_id") % 10 =!= 9)))
    Similarity.readAnnIndex(spark, a)
    val (_, aj) = jobsDuring(Similarity.appendAnnIndex(spark, emb.filter(col("vec_id") % 10 === 9), a))
    info(s"warm-cache appends: bm25 $bj jobs, ann $aj jobs")
    // the ANN append pins its encode with ONE job (lazy checkpoint + count)
    aj should be <= 8
    Retrieval.readBm25Index(spark, b).epoch shouldBe 1L
    Similarity.readAnnIndex(spark, a).nCodes shouldBe emb.count()
  }

  test("cold bm25 read: a postings leg without tf lacks expected columns") {
    val p = s"${tmp("cold_notf")}/idx"
    bm25(p)
    spark.read.parquet(s"$p/postings").drop("tf").localCheckpoint()
      .write.mode("overwrite").partitionBy("_p_shard", "_b_epoch").parquet(s"$p/postings")
    Artifact.invalidate(s"bm25:$p")
    refusal(Retrieval.readBm25Index(spark, p)) should include("postings lack expected columns")
  }

  test("cold semantic-store read: a second or a null _p_cent stamp is mixed") {
    Seq(lit("another-table"), lit(null).cast("string")).foreach { stamp =>
      val p = s"${tmp("cold_semmix")}/store"
      sem(p)
      spark.read.parquet(p).limit(1).withColumn("_p_cent", stamp).localCheckpoint()
        .write.mode("append").partitionBy("cell").parquet(p)
      Artifact.invalidate(s"sem:$p")
      refusal(Similarity.readSemanticStore(spark, p, cents)) should include(
        "mixed parameter stamps")
    }
  }

  test("cold read: a two-row stats is refused on both indexes") {
    val b = s"${tmp("cold_stats2")}/bm25"
    val a = s"${tmp("cold_stats2")}/ann"
    bm25(b)
    ann(a)
    Seq(b, a).foreach { p =>
      val st = spark.read.parquet(s"$p/stats").localCheckpoint()
      st.unionByName(st).localCheckpoint().write.mode("overwrite").parquet(s"$p/stats")
    }
    refusal(Retrieval.readBm25Index(spark, b)) should include("stats must be ONE row, got 2")
    refusal(Similarity.readAnnIndex(spark, a)) should include("stats must be ONE row, got 2")
  }

  test("cold read: a data file under _b_epoch=E+1 is TORN on both indexes") {
    val b = s"${tmp("cold_orphan")}/bm25"
    val a = s"${tmp("cold_orphan")}/ann"
    bm25(b)
    ann(a)
    orphanFile(s"$b/postings", 0L, 1L)
    orphanFile(s"$a/codes", 0L, 1L)
    Artifact.invalidate(s"bm25:$b")
    Artifact.invalidate(s"ann:$a")
    val eb = refusal(Retrieval.readBm25Index(spark, b))
    eb should include("TORN")
    eb should include("postings carry epoch 1 but stats committed epoch 0")
    val ea = refusal(Similarity.readAnnIndex(spark, a))
    ea should include("TORN")
    ea should include("codes carry epoch 1 but stats committed epoch 0")
  }
}
