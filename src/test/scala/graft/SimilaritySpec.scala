package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** q24–q26 semantics on constructed vectors with known cosines, plus
  * LSH recall against the exact brute-force reference. */
class SimilaritySpec extends SparkSpec {

  /** 64-dim float vectors from (id, sparse spec). */
  private def vecs(rows: (Long, Map[Int, Float])*): DataFrame = {
    import spark.implicits._
    rows.map { case (id, m) =>
      (id, Array.tabulate(64)(i => m.getOrElse(i, 0.0f)))
    }.toDF("vec_id", "embedding")
  }

  test("q24 exact pairs: identical vectors cos 1.0, orthogonal vectors excluded") {
    val d = vecs(
      (1L, Map(0 -> 1.0f, 1 -> 1.0f)),
      (2L, Map(0 -> 2.0f, 1 -> 2.0f)),  // same direction as 1
      (3L, Map(5 -> 3.0f)))             // orthogonal to both
    val rows = Similarity.embeddingNearDups(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    rows shouldBe Array((1L, 2L, 1.0))
  }

  test("q24 guard: above maxRows the quadratic fails loudly, exactOk overrides") {
    val d = vecs(
      (1L, Map(0 -> 1.0f)), (2L, Map(0 -> 2.0f)), (3L, Map(1 -> 1.0f)),
      (4L, Map(2 -> 1.0f)), (5L, Map(3 -> 1.0f)))
    val err = intercept[Exception] {
      Similarity.embeddingNearDups(d, maxRows = 3).collect()
    }
    err.getMessage should include ("q34")
    err.getMessage should include ("exactOk")
    // escape hatches run the same quadratic: identical results
    val expected = Similarity.embeddingNearDups(d).collect().toSeq
    Similarity.embeddingNearDups(d, maxRows = 3, exactOk = true)
      .collect().toSeq shouldBe expected
    Similarity.embeddingNearDups(d, maxRows = 0).collect().toSeq shouldBe expected
  }

  test("q25 brute-force ranks neighbors by cosine") {
    val d = vecs(
      (0L, Map(0 -> 1.0f)),                 // query
      (10L, Map(0 -> 1.0f, 1 -> 0.1f)),     // nearest
      (11L, Map(0 -> 1.0f, 1 -> 1.0f)),     // cos ~0.707
      (12L, Map(1 -> 1.0f)))                // orthogonal
    val rows = Similarity.annBruteForce(d, nQueries = 1, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    rows shouldBe Array((0L, 10L, 1), (0L, 11L, 2), (0L, 12L, 3))
  }

  test("q26 LSH recall@5 vs brute force on the real test corpus") {
    val e = tables.embeddings
    def keyset(df: DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = keyset(Similarity.annBruteForce(e, nQueries = 10, k = 5))
    val approx = keyset(Similarity.annLsh(e, nQueries = 10, k = 5))
    val recall = (exact & approx).size.toDouble / exact.size
    // defaults are tuned for >= ~0.9 on the driver-generated corpus;
    // anything below signals a broken bucketing, not noise
    recall should be >= 0.8
  }

  test("q46 IVF returns exact cosines for vectors inside probed cells") {
    val e = tables.embeddings
    // every IVF hit must carry the SAME rounded cosine brute force
    // computes for that pair (the approximation is cell pruning only)
    val exact = Similarity.annBruteForce(e, nQueries = 10, k = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val ivf = Similarity.annIvf(e).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    ivf should not be empty
    ivf.foreach { case (q, nb, cos) =>
      q should not be nb
      exact((q, nb)) shouldBe cos
    }
  }

  test("q46 IVF recall@5 vs brute force on the real test corpus") {
    val e = tables.embeddings
    def keyset(df: DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = keyset(Similarity.annBruteForce(e, nQueries = 10, k = 5))
    val approx = keyset(Similarity.annIvf(e, nQueries = 10, k = 5))
    val recall = (exact & approx).size.toDouble / exact.size
    // nProbe=4 of nCells=16 scans ~25% of the corpus; on the
    // weak-neighbor test vectors that should still find most true
    // top-5 (cells cluster by direction, like the true neighbors)
    recall should be >= 0.5
  }

  test("trained-centroid override: q46 recall@5 matches-or-beats the seed quantizer at sf0.01") {
    // the two halves meet: q65's training loop feeds the IVF family's
    // coarse quantizer. Declared queries stay on the deterministic
    // seed (the oracle mode); this pins the production mode's quality
    // on the bench corpus — better cell boundaries => better recall at
    // identical probe cost (same nCells, same nProbe). Measured over
    // ALL vectors as queries: the default 10-query set is the one
    // sample that favors seeds (those queries ARE the seed centroids,
    // each sitting at the exact center of its own seed cell — measured
    // 0.92 seed vs 0.90 trained there, but 0.48 vs 0.57 corpus-wide).
    val e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val nq = e.count().toInt
    def keyset(df: DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = keyset(Similarity.annBruteForce(e, nQueries = nq, k = 5))
    val trained = Similarity.trainedCentroids(e, nCells = 16, rounds = 3)
    val seedHits = keyset(Similarity.annIvf(e, nQueries = nq, k = 5))
    val trainedHits = keyset(
      Similarity.annIvf(e, nQueries = nq, k = 5, centroids = Some(trained)))
    val seedRecall = (exact & seedHits).size.toDouble / exact.size
    val trainedRecall = (exact & trainedHits).size.toDouble / exact.size
    withClue(s"seed=$seedRecall trained=$trainedRecall: ") {
      trainedRecall should be > seedRecall
      trainedRecall should be >= 0.55
    }
    // the IVF contract is unchanged under the override: every hit
    // still carries the exact brute-force cosine for that pair
    // (cell pruning is the only approximation)
    val allExact = Similarity.annBruteForce(e, nQueries = 10, k = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    Similarity.annIvf(e, nQueries = 10, k = 5, centroids = Some(trained))
      .collect().foreach { r =>
        allExact((r.getLong(0), r.getLong(1))) shouldBe r.getDouble(2)
      }
  }

  test("trained-centroid override: q69/q70 and q57 run end-to-end, verdicts stay total") {
    val e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val n = e.count()
    val trained = Similarity.trainedCentroids(e, nCells = 16, rounds = 2)
    // PQ both modes accept the trained coarse quantizer and still
    // return a full top-k per query
    for (res <- Seq(false, true)) {
      val pq = Similarity.annIvfPq(e, nQueries = 5, k = 5, residual = res,
        centroids = Some(trained)).collect()
      pq.length shouldBe 25
      pq.map(_.getLong(0)).distinct.length shouldBe 5
    }
    // SemDeDup on trained cells: cells still partition the corpus —
    // every vector gets exactly one verdict
    val sd = Similarity.semanticDedup(e, centroids = Some(trained))
    sd.count() shouldBe n
    sd.select("vec_id").distinct().count() shouldBe n
    // malformed overrides die loudly, not quietly misquantize
    val dup = Array((1L, Array(1.0, 0.0)), (1L, Array(0.0, 1.0)))
    intercept[IllegalArgumentException] {
      Similarity.annIvf(e, centroids = Some(dup))
    }.getMessage should include("distinct")
    val ragged = Array((1L, Array(1.0, 0.0)), (2L, Array(0.0)))
    intercept[IllegalArgumentException] {
      Similarity.annIvf(e, centroids = Some(ragged))
    }.getMessage should include("dimension")
    // uniform-but-WRONG dimension dies too (DotProduct truncates to
    // the shorter operand, so this would otherwise quietly misquantize
    // every vector against half a centroid)
    val wrongDim = Array((1L, Array(1.0, 0.0)), (2L, Array(0.0, 1.0)))
    intercept[IllegalArgumentException] {
      Similarity.annIvf(e, centroids = Some(wrongDim))
    }.getMessage should include("does not match the corpus")
    // past the ~32-centroid janino window the corpus assignment takes
    // assignCellsFull's broadcast branch (the annIvfPq routing): the
    // IVF contract must hold there too — full top-k per query, every
    // hit carrying the exact brute-force cosine
    val wide = Similarity.annIvf(e, nCells = 40, nQueries = 5, k = 5).collect()
    wide.length shouldBe 25
    val exactCos = Similarity.annBruteForce(e, nQueries = 5, k = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    wide.foreach { r =>
      exactCos((r.getLong(0), r.getLong(1))) shouldBe r.getDouble(2)
    }
  }

  test("trainedCentroids keep-on-empty: a cell that loses all members keeps its centroid and can re-capture at assignment") {
    // duplicate SEEDS are the replica-corpus death mechanism: vec 1
    // is an exact copy of vec 0, so round-1 assignment tie-breaks
    // BOTH (and the orthogonal vec 2, tied at score 0) into cell 0 —
    // cell 1 is memberless immediately. Drop semantics shrank k and
    // concentrated survivors (the 10x skew decomposition); the
    // codebook convention keeps the previous centroid instead.
    val d = vecs(
      (0L, Map(0 -> 1.0f)),
      (1L, Map(0 -> 1.0f)),   // exact duplicate of seed 0
      (2L, Map(1 -> 1.0f)))
    val cents = Similarity.trainedCentroids(d, nCells = 2, rounds = 2)
    cents.map(_._1).toSeq shouldBe Seq(0L, 1L) // capacity retained
    // the memberless cell carried its seed direction forward verbatim
    cents.find(_._1 == 1L).get._2(0) shouldBe 1.0
    cents.find(_._1 == 1L).get._2.drop(1).forall(_ == 0.0) shouldBe true
    // and the kept direction re-captures members at assignment: cell
    // 0's mean drifted toward the orthogonal member, so the pure-e0
    // duplicates now score higher on the KEPT cell — the restored
    // capacity is real, not bookkeeping
    import org.apache.spark.sql.functions.col
    val asg = Similarity.assignCells(
      d.select(col("vec_id"), col("embedding").cast("array<double>").as("v")),
      cents).collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cell")).toMap
    asg(0L) shouldBe 1L
    asg(1L) shouldBe 1L
  }

  test("q48 one k-means step clusters vectors by direction") {
    val d = vecs(
      (0L, Map(0 -> 1.0f)),               // seed cell 0: e0
      (1L, Map(1 -> 1.0f)),               // seed cell 1: e1
      (2L, Map(0 -> 5.0f, 1 -> 0.5f)),    // near e0
      (3L, Map(0 -> 2.0f)),               // exactly e0 direction
      (4L, Map(0 -> 0.2f, 1 -> 3.0f)),    // near e1
      (5L, Map(1 -> 7.0f)))               // exactly e1 direction
    val rows = Similarity.kmeansRefine(d, nCells = 2).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getInt(3))).toMap
    rows(2L)._1 shouldBe 0L
    rows(3L)._1 shouldBe 0L
    rows(4L)._1 shouldBe 1L
    rows(5L)._1 shouldBe 1L
    // one-step refinement of an already-direction-consistent layout
    // moves nothing
    rows.values.map(_._2).sum shouldBe 0
  }

  test("q48 covers every vector exactly once on the real corpus") {
    val e = tables.embeddings
    val out = Similarity.kmeansRefine(e).collect()
    out.length shouldBe e.count().toInt
    out.map(_.getLong(0)).distinct.length shouldBe out.length
    out.foreach { r =>
      r.getLong(1) should (be >= 0L and be < 16L)
      r.getDouble(2) should (be >= -1.0001 and be <= 1.0001)
    }
  }

  test("q69 IVF-PQ hits carry exact brute-force cosines (rerank is exact)") {
    val e = tables.embeddings
    val exact = Similarity.annBruteForce(e, nQueries = 10, k = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val pq = Similarity.annIvfPq(e).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    pq should not be empty
    pq.foreach { case (q, nb, cos) =>
      q should not be nb
      exact((q, nb)) shouldBe cos
    }
  }

  test("q92 text embeddings: deterministic, bag-linear, and SemDeDup over raw text flags verbatim dups") {
    import spark.implicits._
    import graft.operators.TextOps
    val d = Seq(
      (0L, "alpha beta gamma"),
      (1L, "alpha beta gamma"),          // verbatim copy
      (2L, "alpha alpha beta beta gamma gamma"), // doubled bag
      (3L, "totally different words entirely here")
    ).toDF("doc_id", "text")
    val em = TextOps.embedFrame(d).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    em(0L) should have size 64
    em(1L) shouldBe em(0L)                       // determinism
    em(2L) shouldBe em(0L).map(_ * 2)            // bag linearity
    em(0L) should not be em(3L)
    // composition: the semantic family runs on TEXT-derived vectors —
    // the verbatim copy embeds identically (cosine 1) and SemDeDup
    // condemns it with its earlier mate
    val sd = Similarity.semanticDedup(TextOps.embedFrame(d), tau = 0.9, nCells = 1)
      .collect()
      .map(r => r.getLong(0) -> ((r.getInt(2), Option(r.get(3)).map(_.asInstanceOf[Long])))).toMap
    sd(0L)._1 shouldBe 1                         // first carrier kept
    sd(1L)._1 shouldBe 0                         // copy dropped...
    sd(1L)._2 shouldBe Some(0L)                  // ...condemned by doc 0
    sd(3L)._1 shouldBe 1
  }

  test("q87 SQ8 recall@5 vs brute force; emitted cosines exact") {
    val e = tables.embeddings
    def keyset(df: DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exactTop = keyset(Similarity.annBruteForce(e, nQueries = 10, k = 5))
    val sq = Similarity.annSq8(e)
    val approx = keyset(sq)
    val recall = (exactTop & approx).size.toDouble / exactTop.size
    // 8 bits PER DIMENSION quantization error is tiny (span/256), so
    // the approximate ranking almost never demotes a true top-5 out
    // of the rerank-32 shortlist; below 0.9 means the code/ADC
    // arithmetic broke, not corpus noise
    recall should be >= 0.9
    // the approximation is SHORTLIST selection only: every emitted
    // cosine must be the true rounded cosine of that pair
    val allExact = Similarity.annBruteForce(e, nQueries = 10, k = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    sq.collect().foreach { r =>
      r.getLong(0) should not be r.getLong(1)
      allExact((r.getLong(0), r.getLong(1))) shouldBe r.getDouble(2)
    }
    // rerank must cover k
    intercept[IllegalArgumentException] { Similarity.annSq8(e, k = 5, rerank = 4) }
  }

  test("q87 IVF-SQ composition (nCells>0): cell-pruned candidates, cosines stay exact") {
    val e = tables.embeddings
    def keyset(df: DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val allExact = Similarity.annBruteForce(e, nQueries = 10, k = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val ivfsq = Similarity.annSq8(e, nCells = 16, nProbe = 4)
    val rows = ivfsq.collect()
    rows should not be empty
    // emitted cosines stay exact under the composed index too
    rows.foreach { r => allExact((r.getLong(0), r.getLong(1))) shouldBe r.getDouble(2) }
    // recall floor = q46's cell pruning (8-bit codes add ~no loss)
    val exactTop = keyset(Similarity.annBruteForce(e, nQueries = 10, k = 5))
    val recall = (exactTop & keyset(ivfsq)).size.toDouble / exactTop.size
    recall should be >= 0.5
  }

  test("q69 IVF-PQ recall@5 vs brute force on the real test corpus") {
    val e = tables.embeddings
    def keyset(df: DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = keyset(Similarity.annBruteForce(e, nQueries = 10, k = 5))
    val approx = keyset(Similarity.annIvfPq(e))
    val recall = (exact & approx).size.toDouble / exact.size
    // measured 0.90 at sf0.001 / 0.76 at sf0.01 with the default
    // 16-code seed codebook + rerank=32; below 0.7 here means the
    // encoding or ADC chain broke, not corpus noise
    recall should be >= 0.7
  }

  test("q69 above the literal window (nCells=40) takes the broadcast assignment, stays exact") {
    val e = tables.embeddings
    val exact = Similarity.annBruteForce(e, nQueries = 10, k = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val pq = Similarity.annIvfPq(e, nCells = 40, nProbe = 10).collect()
    pq should not be empty
    pq.foreach { r => exact((r.getLong(0), r.getLong(1))) shouldBe r.getDouble(2) }
  }

  test("q70 residual PQ reranks exactly and matches-or-beats raw-PQ recall") {
    val e = tables.embeddings
    val exact = Similarity.annBruteForce(e, nQueries = 10, k = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    def keyset(df: DataFrame) = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val res = Similarity.annIvfPq(e, residual = true).collect()
    res.foreach { r => exact((r.getLong(0), r.getLong(1))) shouldBe r.getDouble(2) }
    val top5 = keyset(Similarity.annBruteForce(e, nQueries = 10, k = 5))
    val rawRecall = (keyset(Similarity.annIvfPq(e)) & top5).size
    val resRecall = (res.map(r => (r.getLong(0), r.getLong(1))).toSet & top5).size
    // residuals are smaller than raw vectors, so the same ks codes
    // carve finer cells: measured 0.94-vs-0.90 (sf0.001) and
    // 0.88-vs-0.76 (sf0.01)
    resRecall should be >= rawRecall
  }

  test("q94 trained codebooks: recall@5 matches-or-beats the seed codebook corpus-wide") {
    // the fine-quantizer mirror of the trained-centroid test above:
    // per-subspace Lloyd rounds shrink quantization error, so the ADC
    // shortlist ranks closer to the exact ranking at IDENTICAL
    // storage (same m, ks) and identical probe cost. Measured over
    // ALL vectors as queries (the 10-query set is the sample that
    // favors seeds — raw-mode codes 0..15 ARE the first 16 vectors).
    val e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val nq = e.count().toInt
    def keyset(df: DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = keyset(Similarity.annBruteForce(e, nQueries = nq, k = 5))
    val seedHits = keyset(Similarity.annIvfPq(e, nQueries = nq))
    val cb = Similarity.trainedCodebooks(e, rounds = 2)
    val trainedHits = keyset(
      Similarity.annIvfPq(e, nQueries = nq, codebook = Some(cb)))
    val seedRecall = (exact & seedHits).size.toDouble / exact.size
    val trainedRecall = (exact & trainedHits).size.toDouble / exact.size
    info(f"recall@5 corpus-wide: seed=$seedRecall%.3f trained=$trainedRecall%.3f")
    withClue(s"seed=$seedRecall trained=$trainedRecall: ") {
      trainedRecall should be >= seedRecall
    }
    // the PQ contract is unchanged under the override: every hit
    // still carries the exact brute-force cosine (rerank is exact)
    val allExact = Similarity.annBruteForce(e, nQueries = 10, k = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    Similarity.annIvfPq(e, codebook = Some(cb)).collect().foreach { r =>
      allExact((r.getLong(0), r.getLong(1))) shouldBe r.getDouble(2)
    }
  }

  test("q100 text ANN: IVF search over hashing-trick embeddings, exact cosines, honest recall") {
    import graft.operators.TextOps
    val e = TextOps.embedFrame(tables.documents).localCheckpoint()
    def keyset(df: DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exactTop = keyset(Similarity.annBruteForce(e, nQueries = 10, k = 5))
    val hits = Similarity.annIvf(e, nQueries = 10, k = 5).collect()
    hits.length shouldBe 50 // full top-5 per query
    val recall = (exactTop & keyset(Similarity.annIvf(e, nQueries = 10, k = 5)))
      .size.toDouble / exactTop.size
    info(f"text-ANN recall@5: $recall%.3f")
    recall should be >= 0.5 // probe-pruned floor on the bag-vector corpus
    // every emitted cosine is the exact brute-force value (cell
    // pruning is the only approximation — the q46 contract over text)
    val allExact = Similarity.annBruteForce(e, nQueries = 10, k = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    hits.foreach { r => allExact((r.getLong(0), r.getLong(1))) shouldBe r.getDouble(2) }
  }

  test("q102 fully-trained index: trained centroids AND trained codebooks compose; recall@5 beats the seed-centroid trained book corpus-wide") {
    val e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
      .localCheckpoint()
    val cents = Similarity.trainedCentroids(e, nCells = 16, rounds = 2)
    // codebooks trained AGAINST the trained coarse quantizer (the
    // production build order), then both feed one search
    val cb = Similarity.trainedCodebooks(e, rounds = 2, residual = true,
      centroids = Some(cents))
    val out = Similarity.annIvfPq(e, residual = true,
      centroids = Some(cents), codebook = Some(cb)).collect()
    out.length shouldBe 50
    // the exact-rerank contract holds under the fully trained index
    val exact = Similarity.annBruteForce(e, nQueries = 10, k = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    out.foreach { r => exact((r.getLong(0), r.getLong(1))) shouldBe r.getDouble(2) }
    // the round-13 verdict's recall lever, measured corpus-wide at
    // IDENTICAL storage (m=8, ks=16): trained CENTROIDS dominate —
    // residual codes quantize v − c, so better cell boundaries shrink
    // what the codes must carry. RecallProbe r14: seed-residual
    // 0.358 → q98 0.386 → q102 0.501 (codebook rounds 2→4 adds only
    // ~0.01 — the coarse quantizer was the binding constraint).
    val nq = e.count().toInt
    def keyset(df: DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exactTop = keyset(Similarity.annBruteForce(e, nQueries = nq, k = 5))
    val q98Hits = keyset(Similarity.annIvfPq(e, nQueries = nq,
      residual = true,
      codebook = Some(Similarity.trainedCodebooks(e, rounds = 2,
        residual = true))))
    val q102Hits = keyset(Similarity.annIvfPq(e, nQueries = nq,
      residual = true, centroids = Some(cents), codebook = Some(cb)))
    val q98Recall = (exactTop & q98Hits).size.toDouble / exactTop.size
    val fullRecall = (exactTop & q102Hits).size.toDouble / exactTop.size
    info(f"residual recall@5 corpus-wide: q98=$q98Recall%.3f q102=$fullRecall%.3f")
    withClue(s"q98=$q98Recall q102=$fullRecall: ") {
      fullRecall should be > q98Recall
    }
  }

  test("q105 served index: wider serve beats q102 corpus-wide; full-depth rerank IS exact-over-probed") {
    val e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
      .localCheckpoint()
    val nq = e.count().toInt
    val cents = Similarity.trainedCentroids(e, nCells = 16, rounds = 2)
    val cb = Similarity.trainedCodebooks(e, rounds = 2, residual = true,
      centroids = Some(cents))
    def keyset(df: DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exactTop = keyset(Similarity.annBruteForce(e, nQueries = nq, k = 5))
    def recall(s: Set[(Long, Long)]): Double =
      (exactTop & s).size.toDouble / exactTop.size
    // the serving law the r14 sweep measured: recall is bought with
    // probe width, and the rerank cut must track the candidate pool
    // (RecallProbe: nProbe=8 reads 0.62 at rerank=32 but 0.74 at 64 —
    // half the widened pool's gain is forfeited at the old cut)
    val q102R = recall(keyset(Similarity.annIvfPq(e, nQueries = nq,
      residual = true, centroids = Some(cents), codebook = Some(cb))))
    val q105R = recall(keyset(Similarity.annIvfPq(e, nQueries = nq,
      residual = true, nProbe = 8, rerank = 64,
      centroids = Some(cents), codebook = Some(cb))))
    info(f"recall@5 corpus-wide: q102=$q102R%.3f q105=$q105R%.3f")
    withClue(s"q102=$q102R q105=$q105R: ") { q105R should be > q102R }
    // the decomposition that justifies the law: with the rerank cut
    // at full candidate depth, PQ's top-k is EXACTLY exact search
    // over the probed cells (same probe argmax, same exact cosine
    // rank, same tie-break) — the codes order the shortlist but the
    // floats pick the winners, so every residual miss is a PROBE
    // miss. Structural (rerank >= any possible candidate pool), not
    // corpus luck: keysets are compared, not just the recall scalar.
    val pqFull = keyset(Similarity.annIvfPq(e, nQueries = nq,
      residual = true, rerank = nq,
      centroids = Some(cents), codebook = Some(cb)))
    val ivfExact = keyset(Similarity.annIvf(e, nQueries = nq, k = 5,
      centroids = Some(cents)))
    pqFull shouldBe ivfExact
  }

  test("q130 persisted-index serve is row-identical to the in-plan q105") {
    val dir = java.nio.file.Files.createTempDirectory("annidx_spec").toString
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .localCheckpoint()
    Similarity.writeAnnIndex(e, s"$dir/index")
    val served = Similarity
      .annServeIndex(Similarity.readAnnIndex(spark, s"$dir/index"), e)
      .collect().map(_.toSeq).sortBy(_.toString)
    val cents = Similarity.trainedCentroids(e, nCells = 16, rounds = 2)
    val inplan = Similarity.annIvfPq(e, residual = true, nProbe = 8,
        rerank = 64, centroids = Some(cents),
        codebook = Some(Similarity.trainedCodebooks(e, rounds = 2,
          residual = true, centroids = Some(cents))))
      .collect().map(_.toSeq).sortBy(_.toString)
    served should contain theSameElementsInOrderAs inplan
  }

  test("q130 serve prunes unprobed cells at the codes scan") {
    val dir = java.nio.file.Files.createTempDirectory("annidx_prune").toString
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .localCheckpoint()
    Similarity.writeAnnIndex(e, s"$dir/index")
    val idx = Similarity.readAnnIndex(spark, s"$dir/index")
    // one query at nProbe=2 touches ≤ 2 of the 16 cell partitions —
    // the executed scan node's selectedPartitions is the truth
    // (inputFiles lists the base relation; the q129 spec convention)
    val served = Similarity.annServeIndex(idx, e, nQueries = 1, nProbe = 2)
    val written = new java.io.File(s"$dir/index/codes").listFiles()
      .count(_.getName.startsWith("_p_cell="))
    val scans = served.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.relation.location.rootPaths.exists(_.toString.contains("codes")) =>
        f.selectedPartitions.partitionCount
    }
    scans should not be empty
    scans.max should be <= 2
    scans.max should be < written
  }

  test("q137 filtered serve: predicate holds on every neighbor, TRUE predicate is identity, filter sits on the pruned code scan below the rerank") {
    val dir = java.nio.file.Files.createTempDirectory("annidx_filt").toString
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .localCheckpoint()
    Similarity.writeAnnIndex(e, s"$dir/index")
    val idx = Similarity.readAnnIndex(spark, s"$dir/index")
    // every returned neighbor satisfies the predicate by construction
    val sel = Similarity.annServeIndexFiltered(idx, e, col("vec_id") % 10 === 0)
    val rows = sel.collect()
    rows should not be empty
    all(rows.map(_.getLong(1) % 10)) shouldBe 0L
    // a TRUE predicate serves row-identically to the unfiltered path —
    // the filtered serve is the SAME machinery, not a fork
    val t = Similarity.annServeIndexFiltered(idx, e,
        org.apache.spark.sql.functions.lit(true))
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    val u = Similarity.annServeIndex(idx, e)
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    t shouldBe u
    // plan pin: the predicate composes WITH the probed-cell partition
    // pruning (scan still pruned, never all cells), and the vec_id
    // filter sits at/below the code scan — before ADC and the rerank
    // window — never as a post-rerank residue
    val one = Similarity.annServeIndexFiltered(idx, e,
      col("vec_id") % 10 === 0, nQueries = 1, nProbe = 2)
    val written = new java.io.File(s"$dir/index/codes").listFiles()
      .count(_.getName.startsWith("_p_cell="))
    val scans = one.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.relation.location.rootPaths.exists(_.toString.contains("codes")) =>
        f
    }
    scans should not be empty
    scans.map(_.selectedPartitions.partitionCount).max should be <= 2
    scans.map(_.selectedPartitions.partitionCount).max should be < written
    // the modulo predicate rides the scan node's data filters — the
    // candidate rows are dropped AT the read, below everything else
    scans.exists(_.dataFilters.exists(_.toString.contains("% 10"))) shouldBe true
  }

  test("q132 append ≡ rebuild: codes and served rows identical under frozen quantizers") {
    val dir = java.nio.file.Files.createTempDirectory("annidx_app").toString
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .localCheckpoint()
    // incremental: train on the full snapshot, write only base codes,
    // append the intake batch under the frozen quantizers
    Similarity.writeAnnIndex(e, s"$dir/inc",
      encodeOnly = Some(e.filter(col("vec_id") % 10 =!= 9)))
    Similarity.appendAnnIndex(spark, e.filter(col("vec_id") % 10 === 9), s"$dir/inc")
    Similarity.writeAnnIndex(e, s"$dir/full")
    def codes(p: String) = spark.read.parquet(s"$p/codes")
      .select("vec_id", "cell", "codes", "vn2")
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    codes(s"$dir/inc") shouldBe codes(s"$dir/full")
    def serve(p: String) = Similarity
      .annServeIndex(Similarity.readAnnIndex(spark, p), e)
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    serve(s"$dir/inc") shouldBe serve(s"$dir/full")
  }

  test("ann codes compaction: fewer files, serve identical, digest survives") {
    val dir = java.nio.file.Files.createTempDirectory("annidx_cmp").toString
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .localCheckpoint()
    Similarity.writeAnnIndex(e, s"$dir/idx",
      encodeOnly = Some(e.filter(col("vec_id") % 10 =!= 9)))
    Similarity.appendAnnIndex(spark, e.filter(col("vec_id") % 10 === 9), s"$dir/idx")
    def serve() = Similarity
      .annServeIndex(Similarity.readAnnIndex(spark, s"$dir/idx"), e)
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    val before = serve()
    val (fb, fa) = Similarity.compactAnnIndex(spark, s"$dir/idx")
    fa should be < fb // the append's per-cell file growth collapses
    serve() shouldBe before // rows pass through unchanged
  }

  test("q132 append refuses an empty intake batch") {
    val dir = java.nio.file.Files.createTempDirectory("annidx_emp").toString
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .localCheckpoint()
    Similarity.writeAnnIndex(e, s"$dir/index")
    val pre = Similarity.readAnnIndex(spark, s"$dir/index")
    val err = intercept[IllegalArgumentException] {
      Similarity.appendAnnIndex(spark, e.filter(col("vec_id") < 0), s"$dir/index")
    }
    err.getMessage should include("empty intake")
    // refused before any write: the index still reads at its pre-append state
    val after = Similarity.readAnnIndex(spark, s"$dir/index")
    (after.epoch, after.nCodes) shouldBe ((pre.epoch, pre.nCodes))
  }

  test("q133 drift report: undrifted intake stays quiet, scaled intake fires, assignment is scale-invariant") {
    val dir = java.nio.file.Files.createTempDirectory("annidx_drift").toString
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .localCheckpoint()
    Similarity.writeAnnIndex(e, s"$dir/index")
    val idx = Similarity.readAnnIndex(spark, s"$dir/index")
    val base = e.filter(col("vec_id") % 10 =!= 9)
    val same = e.filter(col("vec_id") % 10 === 9)
    def report(intake: org.apache.spark.sql.DataFrame) =
      Similarity.annIndexDrift(idx, base, intake).collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getBoolean(4))))
        .toMap
    // an iid (undrifted) intake slice quantizes like the base — quiet
    val quiet = report(same)
    quiet("intake")._4 shouldBe false
    quiet("base")._4 shouldBe false
    // the scaled intake (the declared q133 drift) fires on BOTH rows
    // (the alarm is one index-level verdict, stamped on each row) and
    // its mean error is far above base — the magnitude drift is
    // invisible to routing (scale-invariant argmax) but not to errors
    val scaled = report(same.select(col("vec_id"),
      org.apache.spark.sql.functions.expr(
        "transform(CAST(embedding AS ARRAY<DOUBLE>), x -> x * 3.0D)").as("embedding")))
    scaled("intake")._4 shouldBe true
    scaled("base")._4 shouldBe true
    scaled("intake")._2 should be > 2.0 * scaled("base")._2
    // base-side stats are intake-independent (the split is computed
    // under the same frozen quantizers both times)
    scaled("base")._2 shouldBe quiet("base")._2
    scaled("base")._3 shouldBe quiet("base")._3
  }

  test("q136 rotate: alarm fires, rotate clears it, rotated index serves identically to a from-scratch rebuild, torn rotate fails loud") {
    val dir = java.nio.file.Files.createTempDirectory("annidx_rot").toString
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      .localCheckpoint()
    Similarity.writeAnnIndex(e, s"$dir/index")
    // the WHOLE corpus re-crawled translated — a small slice cannot
    // clear the alarm even after a perfect retrain (RotateProbe: a
    // 10% population quantizes coarser than base under any shared
    // cell budget; the full re-crawl reads 98-100% vs threshold 120)
    val intake = e
      .select((col("vec_id") + org.apache.spark.sql.functions.lit(900000L)).as("vec_id"),
        org.apache.spark.sql.functions.expr(
          "transform(embedding, x -> x + 0.25D)").as("embedding"))
      .localCheckpoint()
    Similarity.appendAnnIndex(spark, intake, s"$dir/index")
    def report() =
      Similarity.annIndexDrift(Similarity.readAnnIndex(spark, s"$dir/index"),
          e, intake)
        .collect().map(r => r.getString(0) -> r.getBoolean(4)).toMap
    // the translated population quantizes badly under the frozen
    // quantizers — the alarm the rotate consumes
    report() shouldBe Map("base" -> true, "intake" -> true)
    val union = e.unionByName(intake)
    // keep a copy of the pre-rotate stats to simulate the torn window
    val preStats = spark.read.parquet(s"$dir/index/stats").localCheckpoint()
    Similarity.rotateAnnIndex(spark, s"$dir/index", union)
    // the alarm CLEARS: the translated population is congruent to the
    // base, so union-trained cells quantize both splits alike
    report() shouldBe Map("base" -> false, "intake" -> false)
    // rotate ≡ from-scratch rebuild (deterministic training): the
    // rotated artifact serves row-identically to writeAnnIndex(union)
    Similarity.writeAnnIndex(union, s"$dir/scratch")
    def serve(p: String) = Similarity
      .annServeIndex(Similarity.readAnnIndex(spark, p), union)
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    serve(s"$dir/index") shouldBe serve(s"$dir/scratch")
    // torn-rotate window: a crash BEFORE the final stats commit leaves
    // pre-rotate stats against rotated codes/centroids — read refuses
    // (stale cent stamp), never serves the half-rotated artifact
    preStats.write.mode("overwrite").parquet(s"$dir/index/stats")
    val err = intercept[IllegalArgumentException] {
      Similarity.readAnnIndex(spark, s"$dir/index")
    }
    err.getMessage should (include("does not match the digest") or include("TORN"))
  }

  test("torn ANN append fails loud at read: codes beyond the stats epoch") {
    val dir = java.nio.file.Files.createTempDirectory("annidx_torn").toString
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .localCheckpoint()
    Similarity.writeAnnIndex(e, s"$dir/index")
    // simulate a crash AFTER the codes append, BEFORE the stats
    // commit: one batch's codes at epoch 1 land, stats stay 0
    spark.read.parquet(s"$dir/index/codes").limit(1)
      .withColumn("_b_epoch", org.apache.spark.sql.functions.lit(1L))
      .localCheckpoint()
      .write.mode("append").partitionBy("_p_cell", "_b_epoch")
      .parquet(s"$dir/index/codes")
    val err = intercept[IllegalArgumentException] {
      Similarity.readAnnIndex(spark, s"$dir/index")
    }
    err.getMessage should include("TORN")
  }

  test("q130 read fails loud when the centroid table drifts from the codes' digest") {
    val dir = java.nio.file.Files.createTempDirectory("annidx_stamp").toString
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .localCheckpoint()
    Similarity.writeAnnIndex(e, s"$dir/index")
    // swap in a retrained-but-different centroid table (more rounds):
    // the codes were encoded under the original digest, so the read
    // must refuse rather than silently mis-route probes
    Similarity.writeCentroids(
      Similarity.trainedCentroids(e, nCells = 16, rounds = 3),
      spark, s"$dir/index/centroids")
    val err = intercept[IllegalArgumentException] {
      Similarity.readAnnIndex(spark, s"$dir/index")
    }
    err.getMessage should include("digest")
  }

  test("q125 frontier: report shape exact, rerank tracks the pool, widest config tops the sweep") {
    val e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val rows = Similarity.annServingFrontier(e).collect()
      .map(r => (r.getInt(0), r.getInt(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    rows.keySet shouldBe Similarity.DefaultFrontier.toSet
    // denominator = the exact top-5 keyset over 10 query points
    rows.values.foreach { case (nExact, nHit, r5) =>
      nExact shouldBe 50L
      nHit should be <= nExact
      r5 shouldBe nHit.toDouble / nExact.toDouble
    }
    // the serving laws the report exists to expose (r14 decomposition):
    // deeper rerank at fixed probe width never loses (same candidate
    // pool, deeper exact re-rank), and the widest config is the sweep's
    // max — the q105-over-q102 relation as frontier rows
    rows((4, 64))._3 should be >= rows((4, 32))._3
    rows((8, 64))._3 should be >= rows((8, 32))._3
    rows((8, 64))._3 shouldBe rows.values.map(_._3).max
  }

  test("q98 residual-trained codebooks: recall@5 matches-or-beats the residual seed book corpus-wide") {
    val e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val nq = e.count().toInt
    def keyset(df: DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = keyset(Similarity.annBruteForce(e, nQueries = nq, k = 5))
    val seedHits = keyset(Similarity.annIvfPq(e, nQueries = nq, residual = true))
    val cb = Similarity.trainedCodebooks(e, rounds = 2, residual = true)
    val trainedHits = keyset(Similarity.annIvfPq(e, nQueries = nq,
      residual = true, codebook = Some(cb)))
    val seedRecall = (exact & seedHits).size.toDouble / exact.size
    val trainedRecall = (exact & trainedHits).size.toDouble / exact.size
    info(f"residual recall@5 corpus-wide: seed=$seedRecall%.3f trained=$trainedRecall%.3f")
    withClue(s"seed=$seedRecall trained=$trainedRecall: ") {
      trainedRecall should be >= seedRecall
    }
  }

  test("q94 residual-trained codebooks compose with residual PQ; malformed books fail loudly") {
    val e = tables.embeddings
    val exact = Similarity.annBruteForce(e, nQueries = 10, k = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val cbRes = Similarity.trainedCodebooks(e, rounds = 1, residual = true)
    val res = Similarity.annIvfPq(e, residual = true,
      codebook = Some(cbRes)).collect()
    res.length shouldBe 50 // full top-5 per query
    res.foreach { r => exact((r.getLong(0), r.getLong(1))) shouldBe r.getDouble(2) }
    // shape guards: wrong count, wrong sub-dim, missing codes
    val good = Similarity.trainedCodebooks(e, rounds = 0)
    an[Exception] should be thrownBy
      Similarity.annIvfPq(e, codebook = Some(good.drop(1)))
    an[Exception] should be thrownBy
      Similarity.annIvfPq(e,
        codebook = Some(good.map { case (s, c, v) => (s, c, v.drop(1)) }))
    an[Exception] should be thrownBy
      Similarity.annIvfPq(e,
        codebook = Some(good.map { case (s, c, v) => (s, 0, v) }))
    // rounds = 0 IS the seed book: override must reproduce q69 exactly
    Similarity.annIvfPq(e, codebook = Some(good)).collect().toSeq shouldBe
      Similarity.annIvfPq(e).collect().toSeq
  }

  test("q101 semantic store: probe condemns against admitted cell-mates; wrong centroids fail at read; probed cells prune") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    val e = tables.embeddings
    val store = e.filter(col("vec_id") % 10 =!= 9)
    val cents = Similarity.trainedCentroids(store, nCells = 16, rounds = 1)
    val dir = java.nio.file.Files.createTempDirectory("graft_semstore").toString
    Similarity.writeSemanticStore(store, s"$dir/store", cents)
    val loaded = Similarity.readSemanticStore(spark, s"$dir/store", cents)
    loaded.count().toInt shouldBe store.count().toInt
    // a verbatim copy of a store vector is condemned against it with
    // cosine exactly 1; a copy of an INTAKE-side vector is not (q45's
    // intake-vs-intake out-of-scope rule)
    val copies = store.filter(col("vec_id") % 50 === 0)
      .withColumn("vec_id", col("vec_id") + lit(900000L))
    val hits = Similarity.semanticProbeStore(
        e.filter(col("vec_id") % 10 === 9).unionByName(copies), loaded, cents)
      .collect()
    val byId = hits.map(r => r.getLong(0) -> ((r.getLong(2), r.getDouble(3)))).toMap
    copies.collect().map(_.getAs[Number]("vec_id").longValue()).foreach { id =>
      byId(id) shouldBe ((id - 900000L, 1.0))
    }
    // probing with a DIFFERENT centroid table dies at read, loudly
    val other = Similarity.trainedCentroids(store, nCells = 16, rounds = 2)
    val ex = intercept[IllegalArgumentException] {
      Similarity.readSemanticStore(spark, s"$dir/store", other)
    }
    ex.getMessage should include("DIFFERENT centroid")
    // the probe's store scan is cell-partition-prunable: the loaded
    // frame filters by cell at the parquet partition level
    val pruned = loaded.filter(col("cell") === cents.head._1)
    planOf(pruned) should include("PartitionFilters")
  }

  test("q101 store lifecycle: append admits new vectors into the probe horizon; compaction shrinks files probe-identically; corrupt payloads die at read") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    val e = tables.embeddings
    val store = e.filter(col("vec_id") % 10 =!= 9)
    val batch = e.filter(col("vec_id") % 10 === 9)
    val cents = Similarity.seedCentroids(store, 16)
    val dir = java.nio.file.Files.createTempDirectory("graft_semlife").toString
    Similarity.writeSemanticStore(store, s"$dir/store", cents)
    // before the append, a verbatim copy of a BATCH vector passes the
    // probe (batch members are not in the store yet; tau=0.99 so only
    // verbatim-copy condemnations can fire — organic sub-tau mates
    // would make the assertion corpus-dependent)...
    val copies = batch.filter(col("vec_id") % 20 === 9)
      .withColumn("vec_id", col("vec_id") + lit(900000L))
    def probeCopies(): Map[Long, Long] =
      Similarity.semanticProbeStore(copies,
          Similarity.readSemanticStore(spark, s"$dir/store", cents), cents,
          tau = 0.99)
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    probeCopies() shouldBe empty
    // ...after admitting the batch, the same copies are condemned
    // against their admitted sources — the s15 admission contract
    Similarity.appendToSemanticStore(batch, s"$dir/store", cents)
    val after = probeCopies()
    copies.collect().map(_.getAs[Number]("vec_id").longValue()).foreach { id =>
      after(id) shouldBe (id - 900000L)
    }
    // appending under a DIFFERENT quantizer dies on the write side
    val other = Similarity.trainedCentroids(store, nCells = 16, rounds = 1)
    an[IllegalArgumentException] should be thrownBy
      Similarity.appendToSemanticStore(batch, s"$dir/store", other)
    // compaction: the append-grown tree shrinks, the stamps survive,
    // and the probe verdicts are row-identical before/after
    val preRows = Similarity.semanticProbeStore(copies,
        Similarity.readSemanticStore(spark, s"$dir/store", cents), cents)
      .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
    val (filesBefore, filesAfter) =
      Similarity.compactSemanticStore(spark, s"$dir/store", cents)
    filesAfter should be < filesBefore
    val postRows = Similarity.semanticProbeStore(copies,
        Similarity.readSemanticStore(spark, s"$dir/store", cents), cents)
      .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
    postRows shouldBe preRows
    // a truncated vector payload dies at read (the _p_dim stamp is
    // checked against the store's actual vector sizes — DotProduct
    // would otherwise silently truncate every probe against it)
    spark.read.parquet(s"$dir/store")
      .withColumn("v", org.apache.spark.sql.functions.slice(col("v"), 1, 3))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$dir/bad")
    val ex = intercept[IllegalArgumentException] {
      Similarity.readSemanticStore(spark, s"$dir/bad", cents)
    }
    ex.getMessage should include("corrupt: vector sizes")
  }

  test("q93 anisotropy law (measured): hashed-bag seed cells skew several-fold past the synthetic corpus and GROW with scale; the 32x cap holds with headroom; trained centroids rebalance") {
    import graft.operators.TextOps
    import org.apache.spark.sql.functions.{col, count => fCount, lit, max => fMax}
    // the r13 verdict #8 law, as numbers instead of prose (SkewProbe
    // r14, seed quantizer at the declared suggestCells geometry,
    // skew = max cell / (n/nCells)):
    //   synthetic embeddings: 1.06x (sf0.01) -> 1.18x (sf0.1)
    //   hashed-bag text:      1.70x (sf0.01) -> 3.99x (sf0.1)
    // Bag skew is several-fold worse AND grows with corpus scale
    // (more seed cells = worse anisotropy exposure), which is exactly
    // why q93 lifts maxCell to 32x target: at the 10x/30x probe
    // scales the default 8x allowance is in reach of the trend. Pin
    // both measured facts so a future embedding/geometry change that
    // worsens the distribution fails HERE, not as a probe abort.
    def maxCellOf(frame: org.apache.spark.sql.DataFrame,
                  cents: Array[(Long, Array[Double])]): Long =
      Similarity.assignCells(frame.select(col("vec_id"),
          col("embedding").cast("array<double>").as("v")), cents)
        .groupBy("cell").agg(fCount(lit(1)).as("n"))
        .agg(fMax("n")).first().getLong(0)
    def seedSkew(frame: org.apache.spark.sql.DataFrame): (Long, Double, Int) = {
      val n = frame.count(); val nc = Similarity.suggestCells(n)
      val mx = maxCellOf(frame, Similarity.seedCentroids(frame, nc))
      (mx, mx.toDouble / (n.toDouble / nc), nc)
    }
    val syn = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
      .localCheckpoint()
    val bag = TextOps.embedFrame(
      spark.read.parquet("/root/testdata/sf0.1/documents.parquet"))
      .localCheckpoint()
    val (synMax, synSkew, _) = seedSkew(syn)
    val (bagMax, bagSkew, bagNc) = seedSkew(bag)
    info(f"seed skew: synthetic=$synSkew%.2f (max $synMax) hashed-bag=$bagSkew%.2f (max $bagMax)")
    synSkew should be < 1.5 // the synthetic corpus is near-uniform
    bagSkew should be > 2.0 * synSkew // bags are the anisotropic case
    // the declared 32x cap bounds the pair pass with >= 8x headroom
    // over today's worst measured cell — room for the scale trend
    bagMax * 8 should be <= 4096L
    // production's answer is BALANCE, not a bigger cap: Lloyd rounds
    // pull the worst bag cell down on the same corpus and geometry
    val trainedMax = maxCellOf(bag,
      Similarity.trainedCentroids(bag, nCells = bagNc, rounds = 2))
    info(s"trained max bag cell = $trainedMax vs seed $bagMax")
    trainedMax should be < bagMax
  }

  test("centroid/codebook persistence: write -> read round-trips; corrupt artifacts fail at read") {
    val e = tables.embeddings
    val dir = java.nio.file.Files.createTempDirectory("graft_idx").toString
    // centroid artifact: bit-exact round trip, and the loaded table
    // drives the IVF family identically to the in-memory one
    val cents = Similarity.trainedCentroids(e, nCells = 16, rounds = 2)
    Similarity.writeCentroids(cents, spark, s"$dir/cents.parquet")
    val back = Similarity.readCentroids(spark, s"$dir/cents.parquet")
    back.map(_._1).toSeq shouldBe cents.map(_._1).toSeq
    back.zip(cents).foreach { case ((_, a), (_, b)) => a.toSeq shouldBe b.toSeq }
    Similarity.annIvf(e, nQueries = 5, k = 5, centroids = Some(back))
      .collect().toSeq shouldBe
      Similarity.annIvf(e, nQueries = 5, k = 5, centroids = Some(cents))
        .collect().toSeq
    // codebook artifact: same contract through annIvfPq
    val book = Similarity.trainedCodebooks(e, rounds = 1)
    Similarity.writeCodebook(book, spark, s"$dir/book.parquet")
    val bookBack = Similarity.readCodebook(spark, s"$dir/book.parquet")
    bookBack.map(t => (t._1, t._2)).toSeq shouldBe book.map(t => (t._1, t._2)).toSeq
    bookBack.zip(book).foreach { case ((_, _, a), (_, _, b)) => a.toSeq shouldBe b.toSeq }
    Similarity.annIvfPq(e, nQueries = 5, codebook = Some(bookBack))
      .collect().toSeq shouldBe
      Similarity.annIvfPq(e, nQueries = 5, codebook = Some(book)).collect().toSeq
    // corrupt artifacts die at READ with the path in the message:
    // truncated centroid vectors (dim no longer matches the stamp)
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, slice => fslice}
    spark.read.parquet(s"$dir/cents.parquet")
      .withColumn("cv", fslice(col("cv"), 1, 63))
      .write.mode("overwrite").parquet(s"$dir/cents_bad.parquet")
    val ex1 = intercept[Exception] {
      Similarity.readCentroids(spark, s"$dir/cents_bad.parquet")
    }
    ex1.getMessage should include("cents_bad")
    // codebook with a dropped code (coverage gap)
    spark.read.parquet(s"$dir/book.parquet")
      .filter(!(col("s") === 0 && col("code") === 3))
      .write.mode("overwrite").parquet(s"$dir/book_bad.parquet")
    val ex2 = intercept[Exception] {
      Similarity.readCodebook(spark, s"$dir/book_bad.parquet")
    }
    ex2.getMessage should include("book_bad")
    // codebook read with the wrong expected geometry
    val ex3 = intercept[Exception] {
      Similarity.readCodebook(spark, s"$dir/book.parquet", m = 16, ks = 8)
    }
    ex3.getMessage should include("geometry")
  }

  test("q69 non-default PQ geometry (m=16 subspaces, ks=8 codes) still reranks exactly") {
    val e = tables.embeddings
    val exact = Similarity.annBruteForce(e, nQueries = 10, k = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val pq = Similarity.annIvfPq(e, m = 16, ks = 8, rerank = 64).collect()
    pq should not be empty
    pq.foreach { r => exact((r.getLong(0), r.getLong(1))) shouldBe r.getDouble(2) }
    // finer subspaces + deeper rerank should hold recall at or above
    // the default geometry's floor
    def keyset(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    val top5 = keyset(Similarity.annBruteForce(e, nQueries = 10, k = 5).collect())
    (keyset(pq) & top5).size.toDouble / top5.size should be >= 0.7
  }

  test("q65 one iterate round matches kmeansRefine's assignment and cosine") {
    val e = tables.embeddings
    val once = Similarity.kmeansIterate(e, rounds = 1).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val step = Similarity.kmeansRefine(e).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    once shouldBe step
  }

  test("q65 converges: once centroids reach a fixed point, extra rounds are no-ops") {
    val e = tables.embeddings
    // tol=0 stops only on EXACT centroid stability, so if 12 rounds hit
    // the fixed point, 20 rounds must return identical rows
    val a = Similarity.kmeansIterate(e, rounds = 12).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val b = Similarity.kmeansIterate(e, rounds = 20).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    a shouldBe b
  }

  test("q65 separates a well-separated corpus in few rounds") {
    val d = vecs(
      (0L, Map(0 -> 1.0f)),              // seed 0
      (1L, Map(1 -> 1.0f)),              // seed 1
      (2L, Map(0 -> 4.0f, 1 -> 0.2f)),
      (3L, Map(0 -> 3.0f, 1 -> 0.1f)),
      (4L, Map(0 -> 0.1f, 1 -> 5.0f)),
      (5L, Map(1 -> 2.0f)),
      (6L, Map(0 -> 0.3f, 1 -> 6.0f)))
    val rows = Similarity.kmeansIterate(d, nCells = 2, rounds = 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    Seq(0L, 2L, 3L).map(rows) shouldBe Seq(0L, 0L, 0L)
    Seq(1L, 4L, 5L, 6L).map(rows) shouldBe Seq(1L, 1L, 1L, 1L)
  }

  test("q46 plan: candidate join is cell-keyed, no cross product") {
    val plan = planOf(Similarity.annIvf(tables.embeddings))
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
  }

  test("q34 bucketed near-dup is a subset of q24 with identical cosines") {
    val e = tables.embeddings
    def byPair(df: DataFrame): Map[(Long, Long), Double] =
      df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val exact = byPair(Similarity.embeddingNearDups(e))
    val bucketed = byPair(Similarity.embeddingNearDupsBucketed(e))
    // approximation affects WHICH pairs are found, never their values
    bucketed.keySet subsetOf exact.keySet shouldBe true
    bucketed.foreach { case (k, cos) => exact(k) shouldBe cos }
    // recall on the real corpus: the default geometry keeps most pairs
    bucketed.size.toDouble / exact.size should be >= 0.8
  }

  test("q26 identical vectors always share every bucket (recall 1 on dups)") {
    val d = vecs(
      (0L, Map(0 -> 1.0f, 3 -> 2.0f)),
      (20L, Map(0 -> 1.0f, 3 -> 2.0f)),
      (21L, Map(7 -> 1.0f)))
    val rows = Similarity.annLsh(d, nQueries = 1, k = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    rows shouldBe Array((0L, 20L, 1.0))
  }

  test("q26/q34 stale LSH geometry fails loudly at the bucket cap, not quadratically") {
    // identical vectors all land in the same bucket of every table —
    // with maxBucket below the corpus size the job must DIE with the
    // resize message instead of silently expanding bucket² candidates
    // (the 301 s cliff SURVEY §5 measured)
    val same = Map(0 -> 1.0f, 3 -> 2.0f)
    val d = vecs((0 until 8).map(i => (i.toLong, same)): _*)
    val ex = intercept[Exception] {
      Similarity.annLsh(d, maxBucket = 4).collect()
    }
    ex.getMessage should include ("suggestBits")
    val ex2 = intercept[Exception] {
      Similarity.embeddingNearDupsBucketed(d, maxBucket = 4).collect()
    }
    ex2.getMessage should include ("suggestBits")
    // at the default cap the same corpus passes
    Similarity.annLsh(d, nQueries = 1, k = 3).collect().length shouldBe 3
  }

  test("q57 semantic dedup: drops paraphrase-mates within tau, keeps the earliest") {
    val d = vecs(
      (0L, Map(0 -> 1.0f)),                // seed/centroid A
      (1L, Map(5 -> 1.0f)),                // seed/centroid B
      (10L, Map(0 -> 1.0f, 1 -> 0.1f)),    // near 0 → dropped, dup_of 0
      (11L, Map(0 -> 1.0f, 1 -> 0.2f)),    // near 0 AND 10 → dup_of 0 (smallest)
      (12L, Map(5 -> 2.0f)),               // identical direction to 1 → dropped
      (13L, Map(5 -> 0.1f, 6 -> 1.0f)))    // cluster B but cos < tau → kept
    val rows = Similarity.semanticDedup(d, tau = 0.8, nCells = 2).collect()
      .map(r => (r.getLong(0), r.getInt(2), if (r.isNullAt(3)) -1L else r.getLong(3)))
      .sortBy(_._1)
    rows shouldBe Array(
      (0L, 1, -1L), (1L, 1, -1L), (10L, 0, 0L), (11L, 0, 0L),
      (12L, 0, 1L), (13L, 1, -1L))
  }

  test("q57 assignment: literal-argmax and broadcast-join shapes agree vector-for-vector") {
    import org.apache.spark.sql.functions.col
    val e = tables.embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val cents = e.filter(col("vec_id") < 16).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).sortBy(_._1)
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cell")).toMap
    val literal = asMap(Similarity.assignCells(e, cents))
    val joined = asMap(Similarity.assignCells(e, cents, literalMax = 0))
    joined shouldBe literal
  }

  test("r20 cell-argmax kernel equals an independent broadcast-argmax " +
    "replay on a >32-cell geometry, and the plan is a zero-shuffle map") {
    import org.apache.spark.sql.functions.{broadcast, col, sqrt, struct, max}
    import spark.implicits._
    val e = tables.embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    // 40 cells: past the old literal ceiling (32), inside the kernel
    // range — the branch the graded 10x geometries take
    val cents = e.filter(col("vec_id") < 40).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).sortBy(_._1)
    val kernel = Similarity.assignCells(e, cents).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cell")).toMap
    // the pre-r20 broadcast-join + max(struct) shape, replayed
    // INDEPENDENTLY here (same score expression, same tie-break)
    val centDf = cents.toSeq.toDF("cell", "cv")
      .select(col("cell"), col("cv"),
        sqrt(graft.functions.Exprs.dot(col("cv"), col("cv"))).as("cnrm"))
    val replay = e.crossJoin(broadcast(centDf))
      .select(col("vec_id"),
        struct((graft.functions.Exprs.dot(col("v"), col("cv")) / col("cnrm"))
          .as("score"), (-col("cell")).as("nc"), col("cell")).as("cand"))
      .groupBy("vec_id").agg(max(col("cand")).as("b"))
      .select(col("vec_id"), col("b.cell").as("cell")).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cell")).toMap
    kernel shouldBe replay
    // plan pin: the assignment is one native expression riding the
    // scan — no Exchange, no Join in its subtree
    val plan = Similarity.assignCells(e, cents)
      .queryExecution.executedPlan.toString
    plan should include("graft_cell_argmax")
    plan should not include "Exchange"
    plan should not include "Join"
  }

  test("q57 two-level assignment equals the flat argmax at both degenerate extremes") {
    import org.apache.spark.sql.functions.col
    val e = tables.embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val cents = e.filter(col("vec_id") < 16).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).sortBy(_._1)
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cell")).toMap
    val flat = asMap(Similarity.assignCells(e, cents, literalMax = 0))
    // coarseGroups=1: one block holding every centroid — phase 2 IS the
    // flat argmax; coarseGroups=c: all-singleton blocks — phase 1 IS
    // the flat argmax (gidx order == cell order, same tie-break).
    // Between the extremes the coarse pick is approximate by design.
    val oneBlock = asMap(Similarity.assignCells(e, cents, literalMax = 0,
      twoLevelMin = 1, coarseGroups = 1))
    val singletons = asMap(Similarity.assignCells(e, cents, literalMax = 0,
      twoLevelMin = 1, coarseGroups = cents.length))
    oneBlock shouldBe flat
    singletons shouldBe flat
    // the auto √c grouping is deterministic and total: every vector
    // assigned, every cell a real centroid id
    val auto = asMap(Similarity.assignCells(e, cents, literalMax = 0, twoLevelMin = 1))
    auto.keySet shouldBe flat.keySet
    val ids = cents.map(_._1).toSet
    auto.values.foreach(cell => ids should contain(cell))
    asMap(Similarity.assignCells(e, cents, literalMax = 0, twoLevelMin = 1)) shouldBe auto
  }

  test("q69 payload assignment: literal and broadcast shapes agree, floats carried intact") {
    import org.apache.spark.sql.functions.{col, sqrt}
    val e = tables.embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(graft.functions.Exprs.dot(col("v"), col("v"))))
    val cents = e.filter(col("vec_id") < 16).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).sortBy(_._1)
    def asMap(df: DataFrame) = df.collect()
      .map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[Long]("cell"), r.getAs[Double]("nrm")))).toMap
    val literal = asMap(Similarity.assignCellsFull(e, cents))
    val joined = asMap(Similarity.assignCellsFull(e, cents, literalMax = 0))
    joined shouldBe literal
  }

  test("q64 per-cell sampling caps dominant clusters, keeps rare ones whole") {
    val d = vecs(
      (0L, Map(0 -> 1.0f)),                 // seed A
      (1L, Map(5 -> 1.0f)),                 // seed B
      (10L, Map(0 -> 2.0f)), (11L, Map(0 -> 3.0f)),
      (12L, Map(0 -> 1.0f, 1 -> 0.1f)),     // cell A is dominant (4 members)
      (20L, Map(5 -> 2.0f)))                // cell B is rare (2 members)
    val rows = Similarity.samplePerCell(d, nCells = 2, perCell = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sortBy(_._1)
    // cell A keeps its 2 lowest ids; cell B survives whole
    rows shouldBe Array((0L, 0L, 1), (1L, 1L, 1), (10L, 0L, 2), (20L, 1L, 2))
  }

  test("q63 semantic decontamination flags paraphrase-level leaks with the closest match") {
    val corpus = vecs(
      (100L, Map(0 -> 1.0f, 1 -> 0.1f)),   // near eval 1 → flagged
      (101L, Map(5 -> 2.0f)),              // identical direction to eval 2
      (102L, Map(9 -> 1.0f)))              // orthogonal to both → clean
    val eval = vecs((1L, Map(0 -> 1.0f)), (2L, Map(5 -> 1.0f)))
    val rows = Similarity.semanticDecontaminate(corpus, eval, tau = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1)
    rows.map(x => (x._1, x._2)) shouldBe Array((100L, 1L), (101L, 2L))
    rows(1)._3 shouldBe 1.0
  }

  test("q79 bucketed decontamination is row-identical to broadcast q63 at any geometry") {
    val e = tables.embeddings
    val corpus = e.filter(org.apache.spark.sql.functions.expr("vec_id % 7 <> 0"))
    val eval = e.filter(org.apache.spark.sql.functions.expr("vec_id % 7 = 0"))
    def rows(df: DataFrame): Set[(Long, Long, Double)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // exactness must hold at EVERY tau and cell count, including
    // geometries where pruning actually fires (nCells 8/16 on 71 eval
    // vectors) and the auto default (1 cell — degenerate, no pruning)
    for (tau <- Seq(0.2, 0.4, 0.6); nc <- Seq(1, 8, 16)) {
      val exact = rows(Similarity.semanticDecontaminate(corpus, eval, tau))
      rows(Similarity.semanticDecontaminateBucketed(corpus, eval, tau, nCells = nc)) shouldBe exact
    }
    rows(Similarity.semanticDecontaminateBucketed(corpus, eval)) shouldBe
      rows(Similarity.semanticDecontaminate(corpus, eval))
  }

  test("q79 empty eval set yields an empty frame, like q63 — not an abort") {
    val e = tables.embeddings
    val none = e.filter(org.apache.spark.sql.functions.expr("vec_id < 0"))
    val out = Similarity.semanticDecontaminateBucketed(e, none)
    out.columns shouldBe Array("vec_id", "matched_eval", "cos_sim")
    out.count() shouldBe 0L
    Similarity.semanticDecontaminate(e, none).count() shouldBe 0L
  }

  test("q79 pruning drops far cells but never a true match") {
    // two tight eval clusters on orthogonal axes: a corpus vector near
    // cluster A must never probe-miss its match, and the orthogonal
    // cluster B is outside the angular bound entirely
    val eval = vecs(
      (0L, Map(0 -> 1.0f)), (7L, Map(0 -> 1.0f, 1 -> 0.05f)),   // cluster A
      (14L, Map(5 -> 1.0f)), (21L, Map(5 -> 1.0f, 6 -> 0.05f))) // cluster B
    val corpus = vecs(
      (100L, Map(0 -> 2.0f, 1 -> 0.1f)),   // near A → flagged, closest 0 or 7
      (101L, Map(9 -> 1.0f)))              // orthogonal to both → clean
    val out = Similarity.semanticDecontaminateBucketed(corpus, eval,
      tau = 0.8, nCells = 2).collect().map(r => (r.getLong(0), r.getLong(1)))
    val exact = Similarity.semanticDecontaminate(corpus, eval, tau = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    out shouldBe exact
    out.map(_._1).toSet shouldBe Set(100L)
  }

  test("q57 semantic dedup on the real corpus: verdicts are total and auditable") {
    val e = tables.embeddings
    val out = Similarity.semanticDedup(e).collect()
    out.length shouldBe e.count()                 // one verdict per vector
    val dropped = out.filter(_.getInt(2) == 0)
    dropped.foreach { r =>
      r.getLong(3) should be < r.getLong(0)       // dup_of is an earlier mate
      r.getDouble(4) should be >= 0.4             // condemning cosine recorded
    }
    out.filter(_.getInt(2) == 1).foreach(r => r.isNullAt(3) shouldBe true)
  }

  // r19: pqEncode became one native per-row kernel (PqEncodeVec — the
  // zero-shuffle encode). These pins are the kernel's regression guard:
  // an INDEPENDENT replay of the encode arithmetic (plain Scala, the
  // exact left-assoc chains and tie-breaks the scaladoc contracts) must
  // match the kernel bit-for-bit on the real corpus, in both residual
  // and raw modes, with and without the qerr rider.
  private def replayEncode(v: Array[Double],
                           cents: Array[(Long, Array[Double])],
                           book: Seq[(Int, Int, Array[Double], Double)],
                           m: Int, ks: Int, dsub: Int, residual: Boolean)
      : (Long, Array[Int], Double, Double) = {
    def dotA(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < math.min(a.length, b.length)) { s += a(i) * b(i); i += 1 }
      s
    }
    val sorted = cents.sortBy(_._1)
    val sb = book.sortBy(b => (b._1, b._2)).toArray
    // first-max cell by dot(v,c)/|c|
    var best = Double.NegativeInfinity; var bi = 0
    sorted.indices.foreach { i =>
      val sc = dotA(v, sorted(i)._2) / math.sqrt(dotA(sorted(i)._2, sorted(i)._2))
      if (sc > best) { best = sc; bi = i }
    }
    val cvec = sorted(bi)._2
    val eb =
      if (residual) (dotA(v, v) - 2.0 * dotA(v, cvec)) + dotA(cvec, cvec)
      else dotA(v, v)
    val ccf = sb.map { case (s, _, cb, _) =>
      dotA(cvec.slice(s * dsub, (s + 1) * dsub), cb) }
    var q = eb
    val codes = Array.tabulate(m) { s =>
      var bestE = 0.0; var bc = 0
      (0 until ks).foreach { code =>
        val j = s * ks + code
        var er = sb(j)._4 - 2.0 * dotA(v.slice(s * dsub, (s + 1) * dsub), sb(j)._3)
        if (residual) er = er + 2.0 * ccf(j)
        if (code == 0 || java.lang.Double.compare(er, bestE) < 0) {
          bestE = er; bc = code
        }
      }
      q = q + bestE
      bc
    }
    var sumC2 = 0.0; var sumCcf = 0.0
    (0 until m).foreach { s =>
      sumC2 = sumC2 + sb(s * ks + codes(s))._4
      sumCcf = sumCcf + ccf(s * ks + codes(s))
    }
    val vn2 =
      if (!residual) sumC2
      else (dotA(cvec, cvec) + 2.0 * sumCcf) + sumC2
    (sorted(bi)._1, codes, vn2, q)
  }

  test("r19 pq-encode kernel: bit-identical to an independent replay, both modes") {
    import org.apache.spark.sql.functions.{col, size}
    val e = tables.embeddings
    val raw = e.select(col("vec_id"),
        col("embedding").cast("array<double>").as("v")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    for (residual <- Seq(true, false)) {
      val cents = Similarity.seedCentroids(e, 16)
      val book = Similarity.trainedCodebooks(e, rounds = 1,
          residual = residual, centroids = Some(cents))
        .map { case (s, c, cv) => (s, c, cv, cv.foldLeft(0.0)((a, x) => a + x * x)) }
        .toSeq
      val prepared = e.select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      val got = Similarity.pqEncode(prepared, cents, book, 8, 16, 8,
          residual = residual, withError = true).collect()
      got.length shouldBe raw.size
      got.foreach { r =>
        val (cell, codes, vn2, qerr) =
          replayEncode(raw(r.getLong(0)), cents, book, 8, 16, 8, residual)
        r.getLong(1) shouldBe cell
        r.getSeq[Int](2).toArray shouldBe codes
        // bit-identity, not tolerance: the oracle replays these doubles
        java.lang.Double.doubleToRawLongBits(r.getDouble(3)) shouldBe
          java.lang.Double.doubleToRawLongBits(vn2)
        java.lang.Double.doubleToRawLongBits(r.getDouble(4)) shouldBe
          java.lang.Double.doubleToRawLongBits(qerr)
      }
    }
  }

  test("r19 pq-encode kernel: the encode subtree is a zero-shuffle map on the scan") {
    import org.apache.spark.sql.functions.col
    val e = tables.embeddings
    val cents = Similarity.seedCentroids(e, 16)
    val book = Similarity.trainedCodebooks(e, rounds = 1, residual = true,
        centroids = Some(cents))
      .map { case (s, c, cv) => (s, c, cv, cv.foldLeft(0.0)((a, x) => a + x * x)) }
      .toSeq
    val prepared = e.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    val plan = Similarity.pqEncode(prepared, cents, book, 8, 16, 8,
      residual = true).queryExecution.executedPlan.toString
    plan should include ("graft_pq_encode")
    plan should not include "Exchange"     // the whole point of the kernel
    plan should not include "Join"         // codebook rides as constants
  }

  test("cell-argmax and pq-encode kernels refuse a zero or NaN centroid norm, naming the cell") {
    import graft.functions.Exprs
    // a zero-norm cell scores NaN, and the strict `>` argmax would
    // silently never select it
    val cents = Array(Array(1.0, 0.0), Array(0.0, 0.0))
    Seq(0.0, Double.NaN).foreach { bad =>
      val cnorms = Array(1.0, bad)
      val e1 = intercept[IllegalArgumentException](
        Exprs.cellArgmax(col("v"), Array(3L, 7L), cents, cnorms))
      e1.getMessage should include("cell 7")
      val e2 = intercept[IllegalArgumentException](
        Exprs.pqEncodeVec(col("v"), Array(3L, 7L), cents, cnorms,
          c2c = Array(1.0, 0.0), bookCv = Array(Array(1.0, 0.0)), bookC2 = Array(1.0),
          ccf = Array.empty, m = 1, ks = 1, dsub = 2, residual = false,
          withError = false))
      e2.getMessage should include("cell 7")
    }
  }
}
