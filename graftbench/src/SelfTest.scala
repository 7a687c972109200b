package graftbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity, TextOps}

/** Tiny-size self-test of the benchmark's own checks: each check must pass
  * on the program's real output and reject a deliberately corrupted copy
  * of it. Exits non-zero on any miss. Run with `--workload selftest`. */
object SelfTest {
  private var failures = 0

  private def expect(name: String, clean: Seq[Problem], corrupt: Seq[Problem], marker: String): Unit = {
    val cleanBad = clean.filter(_.fault.isEmpty)
    val caught = corrupt.exists(p => p.fault.isEmpty && p.msg.contains(marker))
    val ok = cleanBad.isEmpty && caught
    if (!ok) failures += 1
    println(s"${if (ok) "PASS" else "FAIL"} $name" +
      (if (cleanBad.nonEmpty) s" (clean output rejected: ${cleanBad.map(_.msg).mkString("; ")})" else "") +
      (if (!caught) s" (corruption not caught; got: ${corrupt.map(_.msg).mkString("; ")})" else ""))
  }

  /** Run one workload round in tiny mode and hand back the checks of its
    * ops, in order, with their kinds. */
  private def roundChecks(spark: SparkSession, w: Workload, dir: Path, seed: Long): (Ctx, Seq[(String, () => Seq[Problem])]) = {
    val c = Ctx(spark, Files.createDirectories(dir), seed, tiny = true, new Tracer(false))
    w.setup(c)
    val h = new Harness(c, w)
    h.recording = true
    h.keepChecks = true
    w.round(c, h, 0)
    (c, h.checks.toSeq)
  }

  def run(dir: Path, cores: Int): Unit = {
    val spark = Main.session(cores, dir)
    val seed = 7L

    // ingest: a landed row whose title was altered
    val (ic, ichecks) = roundChecks(spark, new IngestWorkload, dir.resolve("ingest"), seed)
    val (_, lastManifest) = ichecks.filter(_._1 == "manifest").last
    val clean = lastManifest()
    val root = Files.list(ic.dir.resolve("out/r0")).iterator().asScala
      .find(_.getFileName.toString.startsWith("merged-parquet-")).get
    val rows = spark.read.parquet(root.toString).collect()
    val schema = spark.read.parquet(root.toString).schema
    val bad = rows.updated(0, Row.fromSeq(rows(0).toSeq.updated(schema.fieldIndex("title"), "corrupted title")))
    spark.createDataFrame(bad.toSeq.asJava, schema).coalesce(1).write.mode("overwrite").parquet(root.toString)
    expect("ingest rejects a corrupted landed row", clean, lastManifest(), "landed rows differ")

    // curate: a planted copy pair missing from the minhash pairs
    val docs = Gen.corpus(seed, 21, Gen.CorpusSpec(120, 0.1, 0.1, 2))
    val d = Io.docsFrame(spark, docs).localCheckpoint()
    val exact = TextOps.dedupExact(d).collect()
    val mh = Dedup.minhashLshPairs(d).collect()
    val sh = Dedup.simhashPairs(d).collect()
    val cl = Dedup.dedupClusters(d).collect()
    val sem = Similarity.semanticDedup(TextOps.embedFrame(d), tau = 0.9).collect()
    val qs = TextOps.qualityScore(d).collect()
    val hf = TextOps.heuristicFilter(d).collect()
    val planted = Gen.exactGroups(docs).head
    val mhMissing = mh.filterNot(r => r.getAs[Long]("doc_a") == planted(0) && r.getAs[Long]("doc_b") == planted(1))
    expect("curate rejects a missed planted copy",
      Checks.curate(docs, 0.9, exact, mh, sh, cl, sem, qs, hf),
      Checks.curate(docs, 0.9, exact, mhMissing, sh, cl, sem, qs, hf), "minhashLshPairs missed")

    // intake: ranks 1 and 2 of one ANN answer swapped, and a health row
    // whose n_docs is off by one
    val iw = new IntakeWorkload
    val tc = Ctx(spark, Files.createDirectories(dir.resolve("intake")), seed, tiny = true, new Tracer(false))
    iw.setup(tc)
    val th = new Harness(tc, iw)
    th.recording = true
    th.keepChecks = true
    val td = iw.firstBatch(tc, th, "round0")
    val (lex, ann) = iw.serve(tc, td, 0)
    val q = ann.head.getAs[Long]("query_id")
    val swapped = ann.map { r =>
      val rank = r.getAs[Int]("rank")
      if (r.getAs[Long]("query_id") != q || rank > 2) r
      else new GenericRowWithSchema(r.toSeq.updated(r.fieldIndex("rank"), 3 - rank).toArray, r.schema)
    }
    expect("serve rejects a swapped rank", iw.serveCheck(0, "bm25" -> lex, "ann" -> ann),
      iw.serveCheck(0, "bm25" -> lex, "ann" -> swapped), "ann ")

    val firstBatch = th.checks.head._2
    val cleanI = firstBatch()
    val out = td.resolve("out/bm25").toString
    val hrows = spark.read.parquet(out)
    val shifted = hrows.withColumn("n_docs", col("n_docs") + 1).collect()
    spark.createDataFrame(shifted.toSeq.asJava, hrows.schema).coalesce(1).write.mode("overwrite").parquet(out)
    expect("intake rejects an off-by-one n_docs", cleanI, firstBatch(), "BM25 health n_docs")

    spark.stop()
    println(if (failures == 0) "selftest: all checks live" else s"selftest: $failures check(s) not live")
    if (failures > 0) sys.exit(1)
  }
}
