package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Crash injection over every committed write of every mutation of the
  * two epoch-committed indexes (BM25, ANN). For each (mutation, leg) a
  * [[CrashAfterCommit]] kills the mutation right after that leg's job
  * commits. The next read must either serve exactly what the index
  * served before the mutation (or, past the final commit point, what a
  * clean run serves) or refuse loudly with the recovery text; following
  * that text — rebuild the pre-state, re-run the interrupted mutation —
  * must serve exactly what a clean run serves. */
class ArtifactCrashSpec extends SparkSpec {

  private val Recovery = "Recover by rebuilding the index"

  /** One mutation under test: `setup` builds its pre-state at a path,
    * `mutate` is the mutation, `legs` every directory it commits a job
    * into, `serve` reads the index and returns what it serves. */
  private final case class Case(name: String, legs: Seq[String],
                                setup: String => Unit, mutate: String => Unit,
                                serve: String => Seq[String])

  /** Runs `body` with a crash armed after the job committing `dir`;
    * true iff that injected crash is what ended it. */
  private def crashAfter(dir: String)(body: => Unit): Boolean = {
    val conf = "spark.sql.sources.commitProtocolClass"
    val prior = spark.conf.getOption(conf)
    spark.conf.set(conf, classOf[CrashAfterCommit].getName)
    CrashAfterCommit.at = Some(dir)
    try { body; false }
    catch {
      case t: Throwable =>
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
          .exists(e => String.valueOf(e.getMessage).contains("injected crash"))
    } finally {
      CrashAfterCommit.at = None
      prior.fold(spark.conf.unset(conf))(spark.conf.set(conf, _))
    }
  }

  /** Registers one test per committed write of `c`; the pre-state and
    * the clean run are computed once per case. */
  private def injections(c: Case): Unit = {
    lazy val base = java.nio.file.Files.createTempDirectory(s"crash_${c.name}").toString
    lazy val (pre, clean) = {
      c.setup(s"$base/pre")
      c.setup(s"$base/clean"); c.mutate(s"$base/clean")
      (c.serve(s"$base/pre"), c.serve(s"$base/clean"))
    }
    c.legs.zipWithIndex.foreach { case (leg, i) =>
      test(s"${c.name}: a crash after committing $leg reads loud or unchanged, and the recovery text recovers") {
        clean should not be pre // the mutation changes what the index serves
        val idx = s"$base/crash$i"
        c.setup(idx)
        crashAfter(s"$idx/$leg")(c.mutate(idx)) shouldBe true
        scala.util.Try(c.serve(idx)) match {
          case scala.util.Success(rows) =>
            // a committed final stats write IS the clean state
            rows should (equal(pre) or equal(clean))
          case scala.util.Failure(e) =>
            e shouldBe an[IllegalArgumentException]
            e.getMessage should include(Recovery)
        }
        c.setup(idx); c.mutate(idx)
        c.serve(idx) shouldBe clean
      }
    }
  }

  /** Parquet files under a leg — what a compaction changes. */
  private def files(dir: String): String = {
    val it = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try s"files=${it.filter(_.toString.endsWith(".parquet")).count()}" finally it.close()
  }

  private lazy val docs = tables.documents.localCheckpoint()
  private lazy val queries = docs.filter(col("doc_id") < 5)
    .select(col("doc_id").as("query_id"), col("text"))
  private def bm25Rows(p: String): Seq[String] = {
    val idx = Retrieval.readBm25Index(spark, p)
    s"n_docs=${idx.nDocs} l_tokens=${idx.lTokens}" +:
      Retrieval.bm25ServeIndex(idx, queries, excludeId = true)
        .collect().map(_.toString).sorted.toSeq
  }
  private def bm25Base(p: String): Unit =
    Retrieval.writeBm25Index(docs.filter(col("doc_id") % 10 =!= 9), p)
  private def bm25Append(p: String): Unit =
    Retrieval.appendBm25Index(spark, docs.filter(col("doc_id") % 10 === 9), p)

  Seq(
    Case("bm25_rebuild", Seq("postings", "lexicon", "stats"), bm25Base,
      p => Retrieval.writeBm25Index(docs, p), bm25Rows),
    Case("bm25_append",
      Seq("postings", "lexicon__compacting", "stats__compacting"),
      bm25Base, bm25Append, bm25Rows),
    // compaction keeps every served row, so the clean state differs
    // from the pre-state only by the compacted file layout
    Case("bm25_compact", Seq("postings__compacting"),
      p => { bm25Base(p); bm25Append(p) },
      p => Retrieval.compactBm25Index(spark, p),
      p => files(s"$p/postings") +: bm25Rows(p))
  ).foreach(injections)

  private lazy val emb: DataFrame = spark.read
    .parquet(s"${SparkSpec.sfDir}/embeddings.parquet")
    .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    .localCheckpoint()
  private def annRows(p: String): Seq[String] = {
    val idx = Similarity.readAnnIndex(spark, p)
    s"n_codes=${idx.nCodes}" +:
      Similarity.annServeIndex(idx, emb).collect().map(_.toString).sorted.toSeq
  }
  private def annBase(p: String): Unit =
    Similarity.writeAnnIndex(emb, p, encodeOnly = Some(emb.filter(col("vec_id") % 10 =!= 9)))
  private def annSubset(p: String): Unit =
    Similarity.writeAnnIndex(emb, p, encodeOnly = Some(emb.filter(col("vec_id") % 5 =!= 4)))
  private def annAppend(p: String): Unit =
    Similarity.appendAnnIndex(spark, emb.filter(col("vec_id") % 10 === 9), p)

  Seq(
    // same training corpus, a smaller encoded subset: a rebuild that
    // kept the old stats would pass every stamp over the new codes
    Case("ann_rebuild", Seq("codes", "centroids", "codebook", "stats"), annBase,
      annSubset, annRows),
    Case("ann_append", Seq("codes", "stats__compacting"), annBase, annAppend, annRows),
    Case("ann_rotate", Seq("codes__compacting", "centroids__compacting",
        "codebook__compacting", "stats__compacting"), annBase,
      // the low vec_ids seed the quantizers, so the rotation corpus keeps them
    p => Similarity.rotateAnnIndex(spark, p,
      emb.filter(col("vec_id") < 64 || col("vec_id") % 3 =!= 0)),
      annRows),
    Case("ann_compact", Seq("codes__compacting"),
      p => { annBase(p); annAppend(p) },
      p => Similarity.compactAnnIndex(spark, p),
      p => files(s"$p/codes") +: annRows(p))
  ).foreach(injections)

  test("ann rebuild that dies after its codes commit fails loud as a missing commit point") {
    val base = java.nio.file.Files.createTempDirectory("ann_rebuildcrash").toString
    annBase(s"$base/idx")
    crashAfter(s"$base/idx/codes")(annSubset(s"$base/idx")) shouldBe true
    val e = intercept[IllegalArgumentException] {
      Similarity.readAnnIndex(spark, s"$base/idx")
    }
    e.getMessage should include("no stats commit point")
    e.getMessage should include(Recovery)
  }

  test("a leg swap that died between its renames names its __precompact copy, and renaming it back recovers") {
    val idx = java.nio.file.Files.createTempDirectory("bm25_midswap").toString + "/idx"
    bm25Base(idx); bm25Append(idx)
    val want = bm25Rows(idx)
    // the live postings moved aside, the rewrite not yet activated
    val fs = new org.apache.hadoop.fs.Path(idx).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def p(leg: String) = new org.apache.hadoop.fs.Path(s"$idx/$leg")
    fs.rename(p("postings"), p("postings__precompact")) shouldBe true
    val e = intercept[IllegalArgumentException](Retrieval.readBm25Index(spark, idx))
    e.getMessage should include(Recovery)
    e.getMessage should include("postings__precompact back to postings")
    fs.rename(p("postings__precompact"), p("postings")) shouldBe true
    bm25Rows(idx) shouldBe want
  }
}
