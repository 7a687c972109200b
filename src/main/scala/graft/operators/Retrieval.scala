package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Lexical and hybrid retrieval over the document corpus — the search
  * family's THIRD leg. The surface already has embedding search
  * (q25/q46/q100's cosine/IVF chain) and shingle containment
  * (q60/q66); what a curation pipeline still lacks is the classic
  * inverted-index ranking a contamination analyst or eval-set builder
  * reaches for first: "which corpus documents match this query TEXT"
  * (BM25, Robertson & Spärck Jones's probabilistic relevance
  * framework — public literature) and its fusion with the semantic
  * ranks (reciprocal rank fusion, Cormack et al. 2009 — the standard
  * hybrid-retrieval combiner).
  *
  * House determinism discipline throughout: NO floating log or float
  * summation anywhere near the ranking key. The BM25 score is an
  * exact INTEGER in [[Bm25FBits]]-bit fixed point — idf via the q120
  * integer-log2 kernel, the tf saturation as one integer division per
  * (query, term, doc) with every coefficient derived from spliced
  * integer constants — summed per doc (order-independent), so the
  * rank order is integer-exact in both engines and the displayed
  * score is one exact power-of-two scaling at the very end.
  */
object Retrieval {

  /** Fixed-point fractional bits of the idf (and therefore the score):
    * the q120 [[Corpus.PplFBits]] convention, wider here because idf
    * differences between mid-frequency terms are finer than bigram
    * surprise steps. Spliced into the oracle SQL. */
  private[graft] val Bm25FBits: Int = 16

  /** avgdl is carried as the quantized integer `avgdl_q =
    * (Σdl · AvgdlQ) div N` (3 fractional bits) so the per-candidate
    * denominator stays in BIGINT with ~2^50 headroom at any corpus
    * size — carrying Σdl and N separately instead would overflow
    * int64 near 10^18 token-weighted products (the q120 2^43 lesson:
    * quantize the corpus-scale factor, keep the per-row arithmetic
    * exact). The quantization IS the declared semantic — both engines
    * replay it. */
  private[graft] val AvgdlQ: Long = 8L

  /** k1 = K1Tenths/10 = 1.2 and b = BQuarters/4 = 0.75 — the standard
    * BM25 defaults, held as integers so the score arithmetic has no
    * float constants. The derived coefficients below are what the
    * kernel actually multiplies by. */
  private[graft] val K1Tenths: Long = 12L
  private[graft] val BQuarters: Long = 3L

  /** tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)) with avgdl = avgdl_q/8,
    * multiplied through by 10·avgdl_q (positive, rank-invariant):
    * num = CNum·tf·avgdl_q, den = 10·tf·avgdl_q + CDen1·avgdl_q +
    * CDen2·dl — all BIGINT. */
  private[graft] val CNum: Long = 10L + K1Tenths                         // 22
  private[graft] val CDen1: Long = K1Tenths * (4L - BQuarters) / 4L      // 3
  private[graft] val CDen2: Long = K1Tenths * BQuarters * AvgdlQ / 4L    // 72

  /** Document-frequency cap in parts-per-million: query terms with
    * df·10⁶ > cap·N are dropped before the posting join (standard
    * stopword pruning, and the SKEW fence — an uncapped ubiquitous
    * term would drag ~N rows through one term key at 100 TB). On a
    * Zipfian real-corpus vocabulary 0.9 prunes only true stopwords;
    * the synthetic gate corpus (one ~35-word vocabulary, df ≈ 0.8
    * uniformly) passes wholesale — which is the HARDER arithmetic
    * test: every query scores near-full posting lists. Spliced into
    * the oracle. */
  private[graft] val DefaultMaxDfPpm: Long = 900000L

  /** q135 drift-alarm defaults (spliced into the oracle — the house
    * splice rule): head size for the df-share drift, and the two
    * integer ppm alarm thresholds (20% OOV token mass / 20% head
    * total-variation — past either, the built lexicon no longer
    * describes the corpus being served; rebuild). */
  private[graft] val DefaultDriftTopK: Int = 20
  private[graft] val DefaultOovAlarmPpm: Long = 200000L
  private[graft] val DefaultTvdAlarmPpm: Long = 200000L

  /** RRF's smoothing constant (Cormack et al.'s k = 60) and the
    * per-list pool depth feeding the fusion. Spliced into the oracle. */
  private[graft] val RrfK: Int = 60
  private[graft] val DefaultPoolK: Int = 20

  /** Posting shard geometry of the persisted index (q129): postings
    * are partitioned by `pmod(xxhash64(term), shards)` so a serve
    * touches only the shards its query terms hash into (partition
    * pruning) while the directory count stays bounded at any
    * vocabulary size. The count is sized to the corpus at build
    * ([[suggestIndexShards]]), stamped into the artifact, and every
    * later append, serve and compaction uses the stamp. */
  private[graft] val MinIndexShards: Int = 4
  private[graft] val MaxIndexShards: Int = 64
  private[graft] val ShardTokens: Long = 1L << 20

  /** Scale-derived posting shard count — the [[Dedup.suggestBandPrefixWidth]]
    * convention applied to the lexical artifact: every build and every
    * append writes one file per touched shard directory, and a
    * cache-hit read lists them all (past 32 directories that listing
    * is a Spark job of its own), so each shard must be worth a file.
    * A power of two holding about [[ShardTokens]] corpus tokens:
    * [[MinIndexShards]] (the floor keeps shard pruning observable on
    * tiny corpora) up to ~4M tokens, doubling with the corpus to
    * [[MaxIndexShards]] at ~64M tokens — the former fixed count, so
    * no corpus writes more files per append than it did then. The
    * count is fixed at build: appends and compaction keep the stamp,
    * so only a rebuild re-sizes an index that has grown. */
  private[graft] def suggestIndexShards(lTokens: Long): Int = {
    var s = MinIndexShards
    while (s < MaxIndexShards && lTokens > s * ShardTokens) s <<= 1
    s
  }

  private def shardOf(term: org.apache.spark.sql.Column, shards: Int) =
    pmod(xxhash64(term), lit(shards))

  private def toks = split(col("text"), " ")

  /** The q120 integer-log2 SQL fragment over a long expression —
    * shared by the ad-hoc idf (q127) and the build-time idf (q129) so
    * the two cannot drift. */
  private def il2(x: String): String = {
    val f = 1L << Bm25FBits
    val m = s"(length(bin($x)) - 1)"
    s"(CAST($m AS BIGINT) * $f + (($x - shiftleft(1L, $m)) * $f) div shiftleft(1L, $m))"
  }

  private def idfExpr: String =
    s"${il2("(2L * n_docs + 2L)")} - ${il2("(2L * df + 1L)")}"

  /** The per-(query, term, doc) integer contribution — `avgdl` is a
    * column name (q127) or a literal (q129's serve, where avgdl_q is
    * a collected scalar). */
  private def contribExpr(avgdl: String): String =
    s"(idf_q * ($CNum * tf * $avgdl)) div " +
      s"(10L * tf * $avgdl + $CDen1 * $avgdl + $CDen2 * dl)"

  /** One corpus scan → (doc_id, term, tf, dl): tf grouped, dl riding a
    * doc-partitioned window sum (the q120 c_prefix idiom — no second
    * scan, no join). Shared by the ad-hoc path and the index build. */
  private def postingsFrame(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), explode(toks).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .withColumn("dl", sum("tf").over(Window.partitionBy("doc_id")))

  /** Largest `maxdl · avgdl_q` product the contribution numerator
    * tolerates: idf_q < 64·2^F (the log2 kernel's range) and the
    * numerator is idf_q · CNum · tf · avgdl_q with tf ≤ dl ≤ maxdl,
    * so the worst case is (64·2^F)·CNum·maxdl·avgdl_q ≈ 2^62 at
    * maxdl = avgdl = 10^5 — inside int64, but a corpus beyond THIS
    * bound would wrap silently in Spark (non-ANSI) while the DuckDB
    * oracle errors loudly. The guard below fails loud instead. */
  private[graft] val MaxDlAvgdlBound: Long =
    Long.MaxValue / ((64L << Bm25FBits) * CNum)

  /** (n_docs, l_tokens, max_dl, avgdl_q) one-row frame from the
    * postings. Shape note (r16 advice): postings collapse to one row
    * per doc FIRST (map-side partial max — dl repeats on every term
    * row), then one global agg; the single-agg `countDistinct + sum`
    * form was an Expand double-pass over the full postings frame.
    * l_tokens = Σ per-doc dl = Σ tf (same number, and l_tokens rides
    * the artifact so an index APPEND can merge stats associatively).
    * avgdl_q is fenced against [[MaxDlAvgdlBound]] in-plan — the
    * raise_error rides the one-row frame, zero extra scans. */
  private def statsFrame(postings: DataFrame): DataFrame =
    postings.groupBy("doc_id").agg(max(col("dl")).as("dl"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("dl")).as("l_tokens"),
        max(col("dl")).as("max_dl"))
      .select(col("n_docs"), col("l_tokens"), col("max_dl"),
        when(col("max_dl") *
            expr(s"(l_tokens * $AvgdlQ) div n_docs") > MaxDlAvgdlBound,
          raise_error(concat(
            lit("bm25: max_dl*avgdl_q exceeds the int64 score-exactness " +
              "bound ("), col("max_dl").cast("string"), lit(" * "),
            expr(s"(l_tokens * $AvgdlQ) div n_docs").cast("string"),
            lit(s" > $MaxDlAvgdlBound) — the fixed-point contribution " +
              "would wrap; truncate pathological documents or narrow " +
              "Bm25FBits"))))
          .otherwise(expr(s"(l_tokens * $AvgdlQ) div n_docs"))
          .as("avgdl_q"))

  /** q127: BM25 TOP-K LEXICAL SEARCH — the inverted-index ranking leg.
    * The `nQueries` lowest doc_ids play the query set (q25/q100's
    * convention); every other document sharing at least one surviving
    * query term is scored
    *
    *   score_fp = Σ_t idf_q(t) · CNum·tf·A div (10·tf·A + CDen1·A + CDen2·dl)
    *
    * with A = avgdl_q, idf_q(t) = ilog2F(2N+2) − ilog2F(2df+1) — the
    * Robertson idf (N−df+0.5)/(df+0.5)+1 = (2N+2)/(2df+1) cleared of
    * its halves, each side through the integer log2 (so idf_q ≥ 0
    * always; the +1 floor is built in). Query terms are DISTINCT
    * (Lucene's unique-clause treatment); per-term contributions are
    * exact integers, so the per-doc SUM is order-independent and the
    * rank key is bit-stable without any float discipline downstream.
    *
    * Scale: ONE corpus scan builds tf(doc, term) with dl attached by a
    * doc-partitioned window sum (no second scan, no join); the
    * vocabulary-scale df agg is term-partitioned (high cardinality, no
    * skew); the query side collapses to a KB frame (nQueries docs ×
    * distinct capped terms × idf) that BROADCASTS into the posting
    * join, so the corpus shuffles once by term and only posting-list
    * rows of query terms survive the join. The df cap bounds the
    * hottest posting list at maxDfPpm·N/10⁶. The final top-k runs the
    * q44 two-stage shard ranking — candidates never funnel through
    * nQueries reducers. Integer headroom: idf_q < 64·2^F, contrib
    * factors bounded by per-DOC lengths (tf, dl ≤ maxdl) and the
    * quantized avgdl_q — the numerator reaches ~2^62 at
    * tf = dl = avgdl = 10⁵ (corpus-size independent by construction),
    * and [[statsFrame]] fails LOUD past [[MaxDlAvgdlBound]] instead of
    * letting non-ANSI Spark wrap where the DuckDB oracle would error. */
  def bm25TopK(documents: DataFrame, nQueries: Int = 10, k: Int = 5,
               maxDfPpm: Long = DefaultMaxDfPpm,
               rankShards: Int = 32): DataFrame = {
    val scored = bm25Scored(documents, nQueries, maxDfPpm)
    rankPool(scored, k, rankShards)
      .select(col("query_id"), col("doc_id"), col("n_terms"),
        graft.Exact.dround(col("score_fp").cast("double") /
          lit((1L << Bm25FBits).toDouble)).as("score"),
        col("rank"))
  }

  /** The scoring half (query_id, doc_id, n_terms, score_fp) — shared
    * by q127's ranking and q128's fusion pool. */
  private[graft] def bm25Scored(documents: DataFrame, nQueries: Int,
                                maxDfPpm: Long): DataFrame = {
    // tf with dl riding the same doc-partitioned exchange (the q120
    // c_prefix idiom); checkpointed — consumed by the stats agg, the
    // df agg, the query-term extraction AND the posting join (diamond)
    val tfd = postingsFrame(documents).localCheckpoint()
    val stats = statsFrame(tfd)
    val dfm = tfd.groupBy("term").agg(count(lit(1)).as("df"))
    // idf only ever materializes for QUERY terms: the distinct query
    // vocabulary (KB) broadcasts into the vocabulary-scale df frame,
    // so no full-vocabulary idf is computed, let alone shuffled
    val qterms = tfd.filter(col("doc_id") < nQueries)
      .select(col("doc_id").as("query_id"), col("term")).distinct()
    val qidf = dfm.join(broadcast(qterms.select("term").distinct()), Seq("term"))
      .crossJoin(broadcast(stats))
      .filter(col("df") * lit(1000000L) <= lit(maxDfPpm) * col("n_docs"))
      .withColumn("idf_q", expr(idfExpr))
      .select(col("term"), col("idf_q"), col("avgdl_q"))
      .join(broadcast(qterms), Seq("term"))
    val cand = tfd.join(broadcast(qidf), Seq("term"))
      .filter(col("doc_id") =!= col("query_id"))
      .withColumn("contrib", expr(contribExpr("avgdl_q")))
    cand.groupBy("query_id", "doc_id")
      .agg(count(lit(1)).as("n_terms"), sum("contrib").as("score_fp"))
  }

  /** q129: the PERSISTED inverted index — BM25's production artifact
    * lifecycle (the q101/s08 store convention applied to lexical
    * search): build once (postings + lexicon + stats written as
    * parquet), serve many query batches against the artifact without
    * ever re-scanning the corpus. Built, read, appended and compacted
    * through the [[Artifact]] commit protocol.
    *
    * Layout under `path`:
    *  - `postings/` — the data leg, (doc_id, term, tf, dl), partitioned
    *    by `_p_shard = pmod(xxhash64(term), shards)`: a serve touches
    *    ONLY the shards its query terms hash into (partition pruning,
    *    spec-pinned), the distributed analogue of reading just the
    *    query terms' posting lists. `shards` is sized to the corpus
    *    from the pinned stats row ([[suggestIndexShards]] — no extra
    *    job).
    *  - `lexicon/` — (term, df, idf_q, _l_epoch): the vocabulary-scale
    *    idf is paid ONCE at build; serves broadcast only their query
    *    slice.
    *  - `stats/` — one row (n_docs, avgdl_q) + parameter stamps
    *    (_p_fbits, _p_shards): an index built under different score
    *    arithmetic fails LOUD at read (the readSemanticStore guard
    *    discipline — a stale-stamp index would silently mis-rank), and
    *    the shard stamp is the geometry every later append, serve and
    *    compaction uses, so indexes built at any count (the fixed 64
    *    of earlier builds included) stay servable.
    *
    * The df cap stays a SERVE-time policy (the artifact is complete;
    * `maxDfPpm` filters the broadcast lexicon slice), so one index
    * serves any pruning policy. */
  def writeBm25Index(documents: DataFrame, path: String): Unit = {
    val tfd = postingsFrame(documents).localCheckpoint()
    // ONE stats aggregation, pinned (r19): the 1-row frame feeds the
    // shard sizing, the lexicon's idf crossJoin and the stats leg —
    // un-pinned it re-aggregated the postings per consumer. The
    // 1-row collect reads the pinned row, not a re-aggregation.
    val st = statsFrame(tfd).localCheckpoint()
    val sr = st.collect().head
    val shards = suggestIndexShards(sr.getAs[Long]("l_tokens"))
    // the build retracts the old stats first: a rebuild that dies after
    // its postings overwrite reads as a missing commit point, not as
    // the old shard stamp over postings of the new geometry
    Artifact.build(documents.sparkSession, Bm25, path)(new Artifact.Mutation[Unit] {
      def data = tfd.withColumn("_p_shard", shardOf(col("term"), shards))
      def precommit(): Unit =
        tfd.groupBy("term").agg(count(lit(1)).as("df"))
          .crossJoin(broadcast(st))
          .withColumn("idf_q", expr(idfExpr))
          .select("term", "df", "idf_q")
          .withColumn("_l_epoch", lit(0L))
          .write.mode("overwrite").parquet(s"$path/lexicon")
      def stats = st.withColumn("_p_fbits", lit(Bm25FBits))
        .withColumn("_p_shards", lit(shards))
      def meta = Bm25Meta(sr.getAs[Long]("n_docs"), sr.getAs[Long]("l_tokens"),
        sr.getAs[Long]("max_dl"), sr.getAs[Long]("avgdl_q"), shards)
    })
  }

  /** Validated index handle: loud on missing pieces, mixed or drifted
    * stamps. `nDocs`/`lTokens`/`maxDl`/`avgdlQ` are collected scalars
    * (one-row stats — the q101 centroid-table pattern); `lTokens` and
    * `maxDl` ride so an APPEND can merge stats associatively (q131).
    * `epoch` is the index's committed mutation epoch and `batchId` the
    * last STREAMING batch applied (s23's replay fence; -1 = none).
    * `shards` is the stamped posting shard count the postings were
    * written with. */
  final case class Bm25Index(postings: DataFrame, lexicon: DataFrame,
                             nDocs: Long, lTokens: Long, maxDl: Long,
                             avgdlQ: Long, epoch: Long, batchId: Long,
                             shards: Int)

  /** The validated scalar state a [[readBm25Index]] collects — the
    * [[Artifact]] cache payload (frames are re-created per read; their
    * RESOLVED schemas ride along so a hit's reads skip the footer
    * read — absent right after a build or append,
    * captured and re-installed on the first hit). */
  private final case class Bm25Meta(nDocs: Long, lTokens: Long, maxDl: Long,
      avgdlQ: Long, shards: Int,
      postingsSchema: Option[org.apache.spark.sql.types.StructType] = None,
      lexiconSchema: Option[org.apache.spark.sql.types.StructType] = None)

  private val Bm25 = Artifact.Family("bm25", dataLeg = "postings",
    partCol = "_p_shard", dataCols = Seq("doc_id", "term", "tf", "dl"),
    legs = Seq("lexicon"), rebuild = "writeBm25Index")

  /** Read + validate through the [[Artifact]] protocol (cache hit, or a
    * cold read that refuses torn states) plus the family's stamps: the
    * score arithmetic (`_p_fbits`), the shard geometry against the
    * written `_p_shard=` directories, and the lexicon's epoch — an
    * append swaps the lexicon before the stats commit, so a lexicon
    * ahead of stats is a torn append. */
  def readBm25Index(spark: org.apache.spark.sql.SparkSession,
                    path: String): Bm25Index = {
    Artifact.cached[Bm25Meta](spark, Bm25, path).map { c =>
      val m = c.meta
      val postings = Artifact.parquet(spark, s"$path/postings", m.postingsSchema)
      val lexicon = Artifact.parquet(spark, s"$path/lexicon", m.lexiconSchema)
      if (m.postingsSchema.isEmpty) // upgrade: next hit skips the footer read
        Artifact.install(spark, Bm25, path, c.copy(meta = m.copy(
          postingsSchema = Some(postings.schema), lexiconSchema = Some(lexicon.schema))))
      Bm25Index(postings, lexicon,
        m.nDocs, m.lTokens, m.maxDl, m.avgdlQ, c.epoch, c.batchId, m.shards)
    }.getOrElse {
      val c = Artifact.committed(spark, Bm25, path)
      val st = c.meta
      require(st.getAs[Int]("_p_fbits") == Bm25FBits,
        s"bm25 index at $path was built with ${st.getAs[Int]("_p_fbits")} " +
          s"fractional idf bits, this library scores with $Bm25FBits — " +
          "stored idf_q would silently mis-rank; rebuild the index")
      val shards = st.getAs[Int]("_p_shards")
      // the shard bounds come from the _p_shard= directory names the
      // protocol's data-leg walk returns (no job): a directory outside
      // [0, stamp) means the postings were written at another geometry
      // than the stamp says, and a serve pruning at the stamp would drop
      // posting lists. The check is one-sided (a small corpus need not
      // fill every shard); a stamp ABOVE the written geometry could only
      // come from a rebuild that died before its commit, and a rebuild
      // retracts the old stats first, so that state reads as a missing
      // commit point
      val (postings, parts) = Artifact.dataLeg(spark, Bm25, path, c.epoch)
      val (lo, hi) = (parts.map(_.toLong).min, parts.map(_.toLong).max)
      require(shards > 0 && lo >= 0 && hi < shards,
        s"bm25 index at $path is stamped at $shards posting shards but its " +
          s"_p_shard= directories span [$lo, $hi] — " +
          "shard pruning would drop posting lists and fail open; rebuild the index")
      val lexicon = Artifact.parquet(spark, s"$path/lexicon")
      require(Set("term", "df", "idf_q", "_l_epoch")
        .subsetOf(lexicon.columns.toSet),
        s"bm25 index at $path: lexicon lacks expected columns, got " +
          lexicon.columns.mkString(", "))
      // aggregate BOTH bounds, not a sampled head() row: a mixed-epoch
      // lexicon directory (torn swap leaving old+new files) would pass
      // a single-row probe whenever the sampled row happens to carry
      // the committed epoch (r18 ADVICE) — a metadata-weight scan over
      // a constant column
      val lexE = lexicon.agg(min(col("_l_epoch").cast("long")),
        max(col("_l_epoch").cast("long"))).head()
      require(lexE.getLong(0) == c.epoch && lexE.getLong(1) == c.epoch,
        s"bm25 index at $path is TORN: lexicon epochs span " +
          s"[${lexE.getLong(0)}, ${lexE.getLong(1)}] vs stats epoch " +
          s"${c.epoch} — an append crashed between the lexicon swap and " +
          s"the stats commit. ${Artifact.recovery(spark, Bm25, path)}")
      val m = Bm25Meta(st.getAs[Long]("n_docs"), st.getAs[Long]("l_tokens"),
        st.getAs[Long]("max_dl"), st.getAs[Long]("avgdl_q"), shards,
        Some(postings.schema), Some(lexicon.schema))
      Artifact.install(spark, Bm25, path, c.copy(meta = m))
      Bm25Index(postings, lexicon,
        m.nDocs, m.lTokens, m.maxDl, m.avgdlQ, c.epoch, c.batchId, shards)
    }
  }

  /** q131: INCREMENTAL index append — the corpus-intake convention
    * (q45's band index / q101's vector store / s08's admit loop)
    * reaching the lexical leg (r16 verdict #4): production ingests a
    * continuously-arriving corpus, and rebuilding the whole inverted
    * index per intake batch re-pays the full-corpus shuffle for a
    * fraction-of-a-percent delta. Append instead:
    *
    *  - `postings/` — the batch's (doc_id, term, tf, dl) rows APPENDED
    *    shard-partitioned (dl is a per-DOC statistic, so batch-local
    *    computation is already final — nothing existing is touched).
    *  - `lexicon/` — df counts are ASSOCIATIVE (df = Σ per-batch df),
    *    so old ∪ batch merges with one vocabulary-scale agg; idf_q is
    *    then recomputed over the merged frame under the NEW n_docs —
    *    a map-side pass over the lexicon, never a corpus re-scan.
    *    (idf depends on n_docs, so every term's idf_q moves on every
    *    append — which is exactly why idf lives in the lexicon and
    *    not in the postings.)
    *  - `stats/` — n_docs/l_tokens sum, max_dl maxes, avgdl_q is
    *    re-derived from the merged exact integers; same overflow
    *    fence as the build ([[MaxDlAvgdlBound]]), driver-side here.
    *
    * The merged lexicon/stats equal a from-scratch build EXACTLY
    * (integer counts, no order dependence), so append ≡ rebuild is a
    * hash-checked identity, not an approximation — the declared q131
    * serves an appended index and shares q127's oracle verbatim.
    *
    * Intake contract (q45/s08's): batch doc_ids are NEW — re-ingesting
    * an indexed document would double its postings (dedup the intake
    * first; that is what the dedup family is for).
    *
    * Crash safety and replay idempotency are the [[Artifact.mutate]]
    * protocol's: the batch's postings land at epoch E+1 while the
    * merged lexicon materializes, and are awaited before the lexicon
    * swap (the first destructive step); the stats swap commits LAST. A
    * crash before the commit leaves a state [[readBm25Index]] refuses
    * with the recovery text. `batchId` is the streaming intake's
    * at-least-once fence: a batch id not past the index's last-applied
    * one is a NO-OP (None). Batch-mode callers (q131) omit it.
    *
    * Returns the post-append INDEX HEALTH on an applied append (r20 —
    * [[graft.operators.Similarity.appendAnnIndex]]'s convention on the
    * lexical leg): the append already computed every number s23's
    * per-batch meter emits (merged n_docs/l_tokens/avgdl_q are its own
    * arithmetic, n_terms is the merged lexicon's validated count), so
    * the streaming ingest loop need not re-read and re-validate the
    * artifact it just committed. */
  final case class Bm25IngestHealth(nDocs: Long, lTokens: Long,
                                    avgdlQ: Long, nTerms: Long)

  def appendBm25Index(spark: org.apache.spark.sql.SparkSession,
                      batch: DataFrame, path: String,
                      batchId: Option[Long] = None): Option[Bm25IngestHealth] = {
    val idx = readBm25Index(spark, path) // stamp-validates before touching anything
    Artifact.mutate(spark, Bm25, path, idx.epoch, idx.batchId, batchId) { newEpoch =>
      val tfd = postingsFrame(batch).localCheckpoint()
      val bs = statsFrame(tfd).collect()
      require(bs.length == 1 && bs.head.getAs[Long]("n_docs") > 0,
        s"appendBm25Index: empty intake batch — nothing to append")
      val b = bs.head
      val nDocs = idx.nDocs + b.getAs[Long]("n_docs")
      val lTokens = idx.lTokens + b.getAs[Long]("l_tokens")
      val maxDl = math.max(idx.maxDl, b.getAs[Long]("max_dl"))
      val avgdlQ = (lTokens * AvgdlQ) / nDocs
      require(maxDl * avgdlQ <= MaxDlAvgdlBound,
        s"appendBm25Index: merged max_dl*avgdl_q ($maxDl * $avgdlQ) exceeds " +
          s"the int64 score-exactness bound $MaxDlAvgdlBound — the " +
          "fixed-point contribution would wrap; truncate pathological " +
          "documents or narrow Bm25FBits")
      // merged lexicon materialized BEFORE the same-path rewrite (the
      // q129 stamp-spec precedent: localCheckpoint detaches the frame
      // from the files the swap is about to replace). LAZY checkpoint +
      // count = ONE materialization job (r20) — the count both pins the
      // frame (before the swap replaces its input files) and is the
      // rewrite validation's expected term count.
      val mergedLex = idx.lexicon.select(col("term"), col("df"))
        .unionByName(tfd.groupBy("term").agg(count(lit(1)).as("df")))
        .groupBy("term").agg(sum(col("df")).as("df"))
        .withColumn("n_docs", lit(nDocs))
        .withColumn("idf_q", expr(idfExpr))
        .select("term", "df", "idf_q")
        .withColumn("_l_epoch", lit(newEpoch))
        .localCheckpoint(false)
      new Artifact.Mutation[Bm25IngestHealth] {
        // the postings land at the index's STAMPED geometry, whatever
        // the corpus has grown to since the build
        def data = tfd.withColumn("_p_shard", shardOf(col("term"), idx.shards))
        lazy val terms = mergedLex.count()
        def precommit() = Bm25IngestHealth(nDocs, lTokens, avgdlQ, terms)
        override def swaps = Seq(Artifact.LegSwap("lexicon",
          mergedLex.write.mode("overwrite").parquet(_), { tmp =>
            val got = Artifact.parquet(spark, tmp, Some(mergedLex.schema))
              .agg(count(lit(1)), max(col("_l_epoch"))).head()
            got.getLong(0) == terms && got.getLong(1) == newEpoch
          }))
        def stats = {
          import spark.implicits._
          Seq((nDocs, lTokens, maxDl, avgdlQ))
            .toDF("n_docs", "l_tokens", "max_dl", "avgdl_q")
            .withColumn("_p_fbits", lit(Bm25FBits))
            .withColumn("_p_shards", lit(idx.shards))
        }
        def meta = Bm25Meta(nDocs, lTokens, maxDl, avgdlQ, idx.shards,
          Some(idx.postings.schema), Some(idx.lexicon.schema))
      }
    }
  }

  /** Postings compaction through [[Artifact.compact]]: every
    * [[appendBm25Index]] adds one file per touched shard; the rewrite is
    * term-clustered per shard so a serve's posting-list read is
    * row-group-contiguous. Lexicon/stats are rewritten whole by every
    * append, so postings are the only leg that needs this. */
  def compactBm25Index(spark: org.apache.spark.sql.SparkSession,
                       path: String): (Long, Long) = {
    // stamp-validate before touching anything; the epoch cross-check
    // also guarantees no orphan postings ride into the rewrite
    val idx = readBm25Index(spark, path)
    Artifact.compact(spark, Bm25, path, idx.epoch, Seq("term", "doc_id"))
  }

  /** Serve a query batch `(query_id, text)` against a persisted index:
    * query terms → their lexicon slice (df-capped, broadcast) → ONLY
    * the posting shards those terms hash into (partition pruning) →
    * the exact q127 arithmetic and two-stage top-k. `excludeId` drops
    * candidates whose doc_id equals the query_id (for corpus-member
    * queries — the declared q129 serves the q127 query set and is
    * row-identical to it, the q126 identity convention). */
  def bm25ServeIndex(index: Bm25Index, queries: DataFrame, k: Int = 5,
                     maxDfPpm: Long = DefaultMaxDfPpm,
                     excludeId: Boolean = false,
                     rankShards: Int = 32): DataFrame = {
    // ONE job materializes the query-term frame AND its shard probe
    // (r19: this was a localCheckpoint job followed by a collect job).
    // The frame is nQueries·|query terms| — KB at any corpus size by
    // the serving contract, the same cardinality the shard collect
    // already pulled to the driver; it re-enters the plan as a local
    // relation, so the serve's joins read no query-side scan at all.
    val spark = queries.sparkSession
    import spark.implicits._
    val qtRows = queries
      .select(col("query_id"), explode(toks).as("term")).distinct()
      .withColumn("sh", shardOf(col("term"), index.shards))
      .collect()
    val shards = qtRows.map(_.getLong(2)).distinct.toSeq
    val qterms = qtRows.map(r => (r.getLong(0), r.getString(1))).toSeq
      .toDF("query_id", "term")
    // ONE broadcast join attaches query_ids and prunes the lexicon in
    // the same pass (r19: the former shape joined a distinct-term
    // probe first and then re-joined qterms to fan back out — two
    // broadcasts and an extra join stage for identical rows; qterms
    // is nQueries·|terms| — KB at any corpus size, so the fan-out
    // the two-step shape avoided never mattered)
    val qidf = index.lexicon
      .join(broadcast(qterms), Seq("term"))
      .filter(col("df") * lit(1000000L) <= lit(maxDfPpm) * lit(index.nDocs))
      .select(col("term"), col("query_id"), col("idf_q"))
    val pruned = index.postings
      .filter(col("_p_shard").cast("long").isin(shards: _*))
    val joined = pruned.join(broadcast(qidf), Seq("term"))
    val cand = (if (excludeId) joined.filter(col("doc_id") =!= col("query_id"))
                else joined)
      .withColumn("contrib", expr(contribExpr(index.avgdlQ.toString + "L")))
    val scored = cand.groupBy("query_id", "doc_id")
      .agg(count(lit(1)).as("n_terms"), sum("contrib").as("score_fp"))
    rankPool(scored, k, rankShards)
      .select(col("query_id"), col("doc_id"), col("n_terms"),
        graft.Exact.dround(col("score_fp").cast("double") /
          lit((1L << Bm25FBits).toDouble)).as("score"),
        col("rank"))
  }

  /** q44's two-stage shard ranking over the integer score key: stage 1
    * ranks within (query_id, doc-hash shard) keeping each shard's top
    * k (a query-level top-k row ranks ≤ k inside its own shard), stage
    * 2 ranks the ≤ k·shards survivors — candidates never funnel
    * through one reducer per query. */
  private def rankPool(scored: DataFrame, k: Int, rankShards: Int): DataFrame = {
    val ord = Seq(col("score_fp").desc, col("doc_id"))
    val s1 = scored
      .withColumn("_shard", pmod(xxhash64(col("doc_id")), lit(rankShards)))
      .withColumn("_r1", row_number().over(
        Window.partitionBy("query_id", "_shard").orderBy(ord: _*)))
      .filter(col("_r1") <= k)
      .drop("_shard", "_r1")
    s1.withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(ord: _*)))
      .filter(col("rank") <= k)
  }

  /** q128: HYBRID RETRIEVAL — reciprocal rank fusion of the lexical
    * (q127 BM25) and semantic (q92 embeddings → q25 exact cosine)
    * top-`poolK` pools over the SAME query set:
    *
    *   rrf = 1/(RrfK + r_lex) + 1/(RrfK + r_sem)
    *
    * (a missing list contributes 0 — COALESCE, the standard RRF
    * treatment of non-retrieved documents). The ranks are integers
    * from two independently bit-stable orderings (integer BM25 score;
    * ROUND(cos,4) over the exact-integer text embeddings), so the rrf
    * double is the SAME two IEEE divisions and one add in both
    * engines — deterministic without any summation-order care because
    * there are exactly two lists, combined in a fixed order.
    *
    * Scale: the two pools are nQueries·poolK rows each — the fusion
    * join is KB-sized regardless of corpus size; everything
    * corpus-scale happened inside the two (independently scale-shaped)
    * retrieval legs. The embed frame is localCheckpointed (the q100
    * diamond rule — annBruteForce consumes it as both query and
    * candidate side). */
  def rrfFusion(documents: DataFrame, nQueries: Int = 10, k: Int = 5,
                poolK: Int = DefaultPoolK,
                maxDfPpm: Long = DefaultMaxDfPpm): DataFrame = {
    val lex = rankPool(bm25Scored(documents, nQueries, maxDfPpm), poolK, 32)
      .select(col("query_id"), col("doc_id"), col("rank").as("r_lex"))
    val sem = Similarity.annBruteForce(
        TextOps.embedFrame(documents).localCheckpoint(),
        nQueries = nQueries, k = poolK)
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("rank").as("r_sem"))
    rrfFuse(lex, sem, k)
  }

  /** q135: LEXICAL DRIFT ALARM — q133's sibling on the inverted-index
    * leg (r17 verdict #5): appends keep the index CORRECT under new
    * n_docs (idf recomputes per append), but nothing watched whether
    * the intake's TERM DISTRIBUTION has drifted from the built
    * lexicon — the "when to rebuild" signal (a drifted vocabulary
    * degrades ranking quality: growing OOV mass scores as nothing,
    * and the built df statistics stop describing the corpus being
    * served). One report row, every number integer-exact (the q133
    * fixed-point discipline — no float anywhere near the verdict):
    *
    *  - `new_terms` — intake terms absent from the lexicon;
    *  - `new_post_ppm` — share of intake POSTINGS on new terms
    *    (posting mass the index has no idf for), ppm;
    *  - `oov_token_ppm` — share of intake TOKENS on new terms, ppm;
    *  - `topk_tvd_ppm` — Σ |df-share(index) − posting-share(intake)|
    *    over the lexicon's `topK` highest-df terms, ppm: the
    *    head-of-distribution drift (a shifted topical mix moves the
    *    head shares even when OOV stays low);
    *  - `retrain_alarm` — `oov_token_ppm > oovAlarmPpm OR
    *    topk_tvd_ppm > tvdAlarmPpm`, integer comparisons.
    *
    * Scale shape: the intake tokenizes ONCE ([[postingsFrame]],
    * localCheckpointed — three consumers, zero re-tokenization); the
    * lexicon legs are vocabulary-scale artifact reads; the top-K cut
    * is orderBy+limit (TakeOrdered — distributed, never a
    * single-partition window sort); the per-term share fan-in joins
    * a K-row broadcast. Nothing corpus-scale runs twice (the q133
    * diamond lesson, applied at build time). Share divisors are the
    * intake's own totals, so int64 headroom is df·10⁶ ≤ n_docs·10⁶ —
    * exact past any real corpus. */
  def bm25IndexDrift(index: Bm25Index, intake: DataFrame,
                     topK: Int = DefaultDriftTopK,
                     oovAlarmPpm: Long = DefaultOovAlarmPpm,
                     tvdAlarmPpm: Long = DefaultTvdAlarmPpm): DataFrame = {
    require(topK > 0, s"topK must be positive, got $topK")
    require(oovAlarmPpm > 0 && tvdAlarmPpm > 0,
      "alarm thresholds must be positive ppm values")
    val iterm = postingsFrame(intake)
      .groupBy("term")
      .agg(sum(col("tf")).as("itok"), count(lit(1)).as("ipost"))
      .localCheckpoint() // two consumers: the OOV totals + the top-K shares
    val lex = index.lexicon.select(col("term"), col("df"))
    val tot = iterm.join(lex, Seq("term"), "left")
      .agg(sum(col("itok")).as("t_tok"),
        sum(when(col("df").isNull, col("itok")).otherwise(0L)).as("oov_tok"),
        sum(col("ipost")).as("t_post"),
        sum(when(col("df").isNull, col("ipost")).otherwise(0L)).as("new_post"),
        sum(when(col("df").isNull, lit(1L)).otherwise(0L)).as("new_terms"))
      .localCheckpoint() // 1 row; two consumers (report + share divisor)
    val lexTot = lex.agg(sum(col("df")).as("l_totdf"))
    val top = lex.orderBy(col("df").desc, col("term")).limit(topK)
    val drift = top
      .join(iterm.select(col("term"), col("ipost")), Seq("term"), "left")
      .crossJoin(broadcast(lexTot))
      .crossJoin(broadcast(tot.select(col("t_post").as("tp"))))
      .agg(sum(abs(
        expr("df * 1000000L div l_totdf") -
          expr("coalesce(ipost, 0L) * 1000000L div tp"))).as("topk_tvd_ppm"))
    tot.crossJoin(broadcast(drift))
      .select(col("new_terms"),
        expr("new_post * 1000000L div t_post").as("new_post_ppm"),
        expr("oov_tok * 1000000L div t_tok").as("oov_token_ppm"),
        col("topk_tvd_ppm"),
        (expr("oov_tok * 1000000L div t_tok") > lit(oovAlarmPpm) ||
          col("topk_tvd_ppm") > lit(tvdAlarmPpm)).as("retrain_alarm"))
  }

  /** The RRF arithmetic shared by the ad-hoc (q128) and artifact-
    * served (q134) forms: two pool frames in, the fixed two-division
    * law, one KB-scale fusion window out. */
  private def rrfFuse(lex: DataFrame, sem: DataFrame, k: Int): DataFrame = {
    val fused = lex.join(sem, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(RrfK.toDouble) + col("r_lex").cast("double")), lit(0.0)) +
        coalesce(lit(1.0) / (lit(RrfK.toDouble) + col("r_sem").cast("double")), lit(0.0)))
    val ord = Seq(col("rrf").desc, col("doc_id"))
    fused
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(ord: _*)))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("doc_id"), col("r_lex"), col("r_sem"),
        graft.Exact.dround(col("rrf"), 6).as("rrf"), col("rank"))
  }

  /** q134: HYBRID RETRIEVAL SERVED FROM THE PERSISTED ARTIFACTS — the
    * production serving point of the hybrid leg (r17 verdict #4):
    * q128's RRF law over a lexical pool served from the q129 BM25
    * index and a semantic pool served from a q130-style trained ANN
    * index built over the SAME text-embedding corpus. Production
    * never re-derives its pools ad hoc per query — both legs read
    * standing artifacts (shard-pruned posting reads, cell-pruned
    * code reads), and the fusion itself stays the KB-scale
    * [[rrfFuse]] window regardless of corpus size.
    *
    * The lexical pool is row-identical to q128's (the q129 ≡ q127
    * serve identity, at pool depth). The semantic pool is the ANN
    * index's honest serving answer (nProbe/rerank-bounded IVF-PQ with
    * exact re-rank) rather than q128's exact brute-force pool — the
    * production trade q125's frontier quantifies — so q134 carries
    * its OWN oracle: the full trained-index + search chain over the
    * text-embedding CTEs, fused by the same RRF SQL as q128's. */
  /** `semQueries` = an EXTERNAL (vec_id, embedding) query frame for
    * the semantic leg (the s25 streaming-batch shape — each batch
    * embeds its own query texts through the same pure per-row
    * embedding, so batch-embedded vectors equal the corpus-member
    * ones and the drained union stays q134-row-identical); default =
    * the store rows whose vec_id appears in `queries.query_id` — the
    * corpus-member convention DERIVED from the lexical leg's frame,
    * so the two legs cannot silently serve different query sets.
    * `knownCorpusDim` is the once-per-store validation pass-through
    * (s22's rule). */
  def rrfFusionServed(bm25: Bm25Index, ann: Similarity.AnnIndex,
                      store: DataFrame, queries: DataFrame,
                      k: Int = 5, poolK: Int = DefaultPoolK,
                      maxDfPpm: Long = DefaultMaxDfPpm,
                      nProbe: Int = 8, rerank: Int = 64,
                      semQueries: Option[DataFrame] = None,
                      knownCorpusDim: Option[Int] = None): DataFrame = {
    // the two legs' CONSTRUCTION each runs driver-side collect jobs
    // before the fused plan exists (the lexical qterm/shard collect;
    // the semantic query-frame pin + probe-cell collect) — they are
    // independent, so build the legs concurrently (guide §2.6; r20):
    // the fused plan itself is unchanged, only the pre-jobs overlap
    val lexF = concurrent.Future {
      bm25ServeIndex(bm25, queries, k = poolK,
          maxDfPpm = maxDfPpm, excludeId = true)
        .select(col("query_id"), col("doc_id"), col("rank").as("r_lex"))
    }(concurrent.ExecutionContext.global)
    // the semantic leg's query frame is DERIVED from the lexical
    // leg's when the caller doesn't supply one: the store rows whose
    // vec_id appears in `queries.query_id` (corpus-member convention,
    // a broadcast semi-join — `queries` is a KB-scale query batch).
    // Falling through to annServeIndex's own default (the nQueries
    // lowest corpus vec_ids) would silently decouple the two legs for
    // any caller whose query set isn't exactly that convention —
    // one-legged fusion rows with no error (r18 ADVICE).
    // localCheckpoint: the serve consumes its query frame in THREE
    // plan subtrees (probe list, ADC tables, exact-rerank query
    // vectors — pqSearch's shape), so an un-pinned semi-join here
    // re-executes store-scan + join once per subtree (r19 plan audit:
    // q134 read scan=6/ex=21 against r18's 3/18 — the q75/q93 diamond
    // rule). The frame is nQueries rows — KB at any corpus size.
    val semQ = semQueries.getOrElse(
      store.join(broadcast(queries.select(col("query_id").as("vec_id"))),
        Seq("vec_id"), "left_semi").localCheckpoint())
    val sem = Similarity.annServeIndex(ann, store, k = poolK,
        nProbe = nProbe, rerank = rerank, queries = Some(semQ),
        knownCorpusDim = knownCorpusDim)
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("rank").as("r_sem"))
    val lex = concurrent.Await.result(lexF, concurrent.duration.Duration.Inf)
    rrfFuse(lex, sem, k)
  }
}
