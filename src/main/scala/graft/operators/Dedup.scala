package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Exprs

/** Near-duplicate detection for LLM training-data pipelines
  * (SURVEY.md §2, q21–q23). Three independent mechanisms over the
  * `documents` table, all bucketed — no all-pairs self-join anywhere:
  *
  *  - q21: n-gram (shingle) Jaccard via an inverted index — the exact
  *    method; the join key is the shingle, so cost is Σ df(shingle)².
  *  - q22: MinHash signatures + LSH banding — candidates are generated
  *    by band-bucket equality, then exact-verified. The 100 TB workhorse.
  *  - q23: SimHash 64-bit fingerprints + band buckets + Hamming filter.
  *
  * Determinism: the only hash anywhere is md5 over UTF-8 bytes (identical
  * in Spark and DuckDB), min-hashes are lexicographic minima of hex
  * strings, and Jaccard/Hamming are integer-derived, so every output
  * value is bit-identical across engines (SURVEY.md §6).
  *
  * The per-document kernels (shingling, k-minhash, simhash) are native
  * Catalyst expressions ([[graft.functions.Exprs]]) — tight loops over
  * one scan instead of interpreted higher-order-function trees; see
  * Exprs' scaladoc for the round-3 bench numbers that motivated them.
  * Short documents (< n tokens) yield an empty shingle set (DuckDB
  * `list_distinct` semantics) rather than tripping ANSI element_at.
  *
  * Pipeline-order contract at scale: run EXACT dedup (q20) BEFORE any
  * near-dup operator. A band bucket of b byte-identical documents is b²
  * candidate pairs of genuine work no cap may skip (they ARE
  * duplicates) — but after q20 collapses identical content, bucket
  * sizes are bounded by NEAR-dup cluster sizes, which the band
  * geometry keeps small. The skew knobs here (shingle `maxDf`,
  * q21/q60) handle the other blowup — ubiquitous boilerplate shingles —
  * which exact dedup cannot remove.
  */
object Dedup {

  /** Distinct word n-gram (shingle) set of `text` — see
    * [[graft.functions.Exprs.Shingles]] for the exact semantics. */
  private[graft] def shingleSet(n: Int = 3): Column =
    Exprs.shingles(split(col("text"), " "), n)

  /** Shared: identical-formula Jaccard so Spark and DuckDB divide the
    * same integers — bit-identical doubles. */
  private def jaccard(inter: Column, nA: Column, nB: Column): Column =
    inter.cast("double") / ((nA + nB).cast("double") - inter.cast("double"))

  /** q21: exact shingle-Jaccard near-dup pairs via inverted index.
    *
    * Plan shape: explode shingles (carrying each doc's set size, so no
    * extra per-doc join later) → self-equi-join on the shingle → count
    * per pair. Shuffles are keyed by shingle then by doc pair — never
    * an unbucketed cross join. At 100 TB the one skew hazard is a
    * ubiquitous shingle (df ~ corpus size); production runs cap
    * document frequency (drop shingles with df > ~10⁴ — they carry no
    * near-dup signal), which bounds the join fan-out to df²·#shingles.
    * The cap is a no-op at test SF so the declared query keeps the
    * pure-exact semantics the oracle checks.
    */
  def ngramJaccardPairs(documents: DataFrame, n: Int = 3,
                        tau: Double = 0.5, maxDf: Int = 0): DataFrame =
    shinglePairCounts(documents, n, maxDf)
      .select(col("doc_a"), col("doc_b"),
        jaccard(col("inter"), col("n_a"), col("n_b")).as("jaccard"))
      .filter(col("jaccard") >= tau)

  /** Shared inverted-index pair pass (q21/q60): unordered co-shingling
    * pairs with their intersection size and both set sizes.
    *
    * Index key = xxhash64 of the shingle, not its text: an 8-byte
    * shuffle key with the same equality (collisions ~n²/2⁶⁵ — noise
    * far below the df-cap approximation above at any realistic n).
    * Pair generation is shingle-local expansion (see simhashPairs):
    * one Shingles pass, one index shuffle, Σ df² expanded rows.
    *
    * `maxDf > 0` is the production skew knob the q21 scaladoc
    * prescribes, made real: shingles whose document frequency exceeds
    * it are dropped from the index BEFORE pair expansion. A ubiquitous
    * shingle (boilerplate phrase, df ~ corpus) contributes df² pair
    * rows and no near-dup signal — its posting list is exactly the
    * quadratic blowup the bucketed operators cap. Unlike the LSH caps
    * this one must not error (a high-df shingle is normal corpus
    * skew, not a geometry bug), so it APPROXIMATES: pairs lose those
    * shingles' intersection contributions (set sizes n_a/n_b stay
    * full, so scores only UNDERestimate — a capped run never invents
    * a duplicate). 0 = off, the oracle-exact declared form.
    *
    * The underestimate is NON-linear (round-9 ADVICE): Jaccard's
    * denominator n_a+n_b−inter uses the underestimated inter, so a
    * dropped shared shingle shrinks the numerator AND grows the
    * denominator — pairs near tau are biased out harder than the raw
    * intersection loss suggests, and winnowPairs' "no shared block
    * missed" guarantee is void under any maxDf>0. Capped runs should
    * quantify the blind spot with [[dfCapAudit]] before trusting
    * recall. */
  private def shinglePairCounts(documents: DataFrame, n: Int,
                                maxDf: Int = 0): DataFrame =
    setPairCounts(documents, shingleSet(n), maxDf)

  /** Audit row for a df-capped run (q21/q60/q66 with maxDf>0): how many
    * distinct shingles (and how much posting-list mass) the cap drops.
    * One extra pass over the same inverted index — run it once per
    * (corpus, n, maxDf) choice, not per query. `dropped_postings` is
    * the quantity to watch: Σ df over dropped shingles bounds the
    * total intersection undercount across ALL pairs. */
  def dfCapAudit(documents: DataFrame, n: Int = 3, maxDf: Int = 10000): DataFrame = {
    require(maxDf > 0, "dfCapAudit audits a positive maxDf cap")
    documents.select(explode(shingleSet(n)).as("s"))
      .select(xxhash64(col("s")).as("shingle"))
      .groupBy("shingle").agg(count(lit(1)).as("df"))
      .agg(
        count(lit(1)).as("total_shingles"),
        sum(when(col("df") > maxDf, 1).otherwise(0)).as("dropped_shingles"),
        coalesce(sum(when(col("df") > maxDf, col("df"))), lit(0L)).as("dropped_postings"),
        max(col("df")).as("max_df"))
  }

  /** [[dfCapAudit]]'s shape for [[substringDedup]]'s k-token windows
    * (round-12 verdict #8): how many distinct window digests a
    * `maxDf` cap would trip on, and how much posting mass they carry.
    * Unlike the shingle cap (which silently undercounts), q85's cap
    * ABORTS — so this audit is the sizing tool: run it once per
    * (corpus, k) choice to pick a cap above the honest df tail, and
    * to name the boilerplate to strip when the cap fires. `max_df` is
    * the number to watch: the largest single window partition the
    * count-window exchange would have to sort on one task. */
  def substringDfAudit(documents: DataFrame, k: Int = 8,
                       maxDf: Long = 10000L): DataFrame = {
    require(maxDf > 0, "substringDfAudit audits a positive maxDf cap")
    require(k >= 2, "window width k must be >= 2")
    val tk = filter(split(col("text"), " "), x => x =!= "")
    documents.select(col("doc_id"), tk.as("tk"))
      .withColumn("nwin", size(col("tk")) - lit(k - 1))
      .filter(col("nwin") > 0)
      .select(explode(expr(
        s"transform(sequence(0, nwin - 1), " +
          s"i -> xxhash64(array_join(slice(tk, i + 1, $k), ' ')))")).as("wkey"))
      .groupBy("wkey").agg(count(lit(1)).as("df"))
      .agg(
        count(lit(1)).as("total_windows"),
        sum(when(col("df") > maxDf, 1).otherwise(0)).as("capped_windows"),
        coalesce(sum(when(col("df") > maxDf, col("df"))), lit(0L)).as("capped_postings"),
        max(col("df")).as("max_df"))
  }

  /** The inverted-index pair pass over ANY per-document distinct-set
    * column (shingles for q21/q60, winnow fingerprints for q66): same
    * index key, same shingle-local expansion, same df-cap semantics. */
  private def setPairCounts(documents: DataFrame, setCol: Column,
                            maxDf: Int): DataFrame =
    postingLists(documents, setCol, maxDf)
      .select(explode(col("ds")).as("a"), col("ds"))
      .select(col("a"), explode(col("ds")).as("b"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"),
        min(col("a.n_sh")).as("n_a"), min(col("b.n_sh")).as("n_b"))

  /** The ONE inverted-index posting-list build (q21/q60/q66/q114):
    * one set-column scan → xxhash64 keys → per-shingle posting list
    * with the df>1 filter and the maxDf skew cap. `tag` optionally
    * rides each posting as `is_eval` (q114's side bit) so variants
    * that restrict WHICH pairs expand share the index construction —
    * a cap-semantics fix lands in every consumer at once (round-14
    * review: q114 had re-implemented this nearly line-for-line). */
  private def postingLists(documents: DataFrame, setCol: Column,
                           maxDf: Int,
                           tag: Option[Column] = None): DataFrame = {
    val head = Seq(col("doc_id")) ++ tag.map(_.as("is_eval")).toSeq
    val idx = documents
      .select(head :+ setCol.as("sh"): _*)
      .select(Seq(col("doc_id")) ++ tag.map(_ => col("is_eval")).toSeq ++
        Seq(size(col("sh")).as("n_sh"), explode(col("sh")).as("s")): _*)
      .withColumn("shingle", xxhash64(col("s"))).drop("s")
    val entry =
      if (tag.isDefined) struct(col("doc_id"), col("is_eval"), col("n_sh"))
      else struct(col("doc_id"), col("n_sh"))
    val grouped = idx.groupBy("shingle")
      .agg(collect_list(entry).as("ds"))
      .filter(size(col("ds")) > 1)
    if (maxDf > 0) grouped.filter(size(col("ds")) <= maxDf) else grouped
  }

  private[graft] val DefaultEvalFrac: Double = 0.05
  private[graft] val DefaultHoldoutTau: Double = 0.5

  /** q114: LEAK-PROOF EVAL HOLDOUT — the deterministic train/eval
    * split with the cross-split near-dup audit built in. Splitting by
    * hash alone leaks: a near-copy of a training document landing in
    * the holdout inflates every eval metric (the published concern —
    * GPT-3's appendix-C train/test overlap study and every
    * decontamination recipe since; q35/q47 guard against EXTERNAL
    * benchmarks, this guards the corpus's own held-out split). Every
    * gated eval document gets an auditable verdict: `leaked` iff some
    * TRAIN document sits within `tau` n-gram Jaccard, with the
    * smallest such trainer as `leak_dup_of` (q57's
    * smallest-condemning-mate convention). The clean holdout is
    * `filter(!leaked)`; emitting the verdict table keeps the audit
    * trail.
    *
    * q114 defaults are the named constants below — spliced into the
    * oracle SQL (the q112 DefaultEpochs rule) so a default change
    * cannot desync the replay.
    *
    * Split gate = q38's 16-bit md5 of doc_id (pure row function:
    * re-runs reproduce the split, adding data never flips a doc's
    * side). Pair pass = q21's inverted index with SIDE TAGS carried
    * through the posting lists, so only eval×train pairs expand —
    * Σ df_eval·df_train per shingle, never the full df² (an eval
    * fraction f cuts pair work ~f·(1−f)/0.5 vs the all-pairs pass);
    * same maxDf skew cap, same underestimate-only law. Short docs
    * (< n tokens) have no shingles, cannot leak verbatim n-grams, and
    * keep `leaked = false`. */
  def holdoutSplit(documents: DataFrame, evalFrac: Double = DefaultEvalFrac,
                   n: Int = 3, tau: Double = DefaultHoldoutTau,
                   maxDf: Int = 0): DataFrame = {
    require(evalFrac > 0 && evalFrac < 1,
      s"evalFrac must be in (0, 1), got $evalFrac")
    val thr = math.floor(evalFrac * 65536).toInt
    val isEval = Corpus.bucket16 < thr
    val leaks = postingLists(documents, shingleSet(n), maxDf,
        tag = Some(isEval))
      .select(explode(col("ds")).as("e"), col("ds"))
      .filter(col("e.is_eval"))
      .select(col("e"), explode(col("ds")).as("t"))
      .filter(!col("t.is_eval"))
      .groupBy(col("e.doc_id").as("doc_id"), col("t.doc_id").as("t"))
      .agg(count(lit(1)).as("inter"),
        min(col("e.n_sh")).as("n_e"), min(col("t.n_sh")).as("n_t"))
      .filter(jaccard(col("inter"), col("n_e"), col("n_t")) >= tau)
      .groupBy("doc_id").agg(min(col("t")).as("leak_dup_of"))
    documents.filter(isEval)
      .select("doc_id", "source", "lang")
      .join(leaks, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"), col("lang"),
        col("leak_dup_of").isNotNull.as("leaked"), col("leak_dup_of"))
  }

  /** q60: directed n-gram CONTAINMENT pairs — C(src→dst) =
    * |sh(src) ∩ sh(dst)| / |sh(src)|, the asymmetric complement of
    * q21's Jaccard. Jaccard misses near-supersets: an eval question
    * quoted inside a long article, a doc republished with a long
    * preamble — |A∩B|/|A∪B| is small when |B| ≫ |A| even though A is
    * wholly contained. Containment ≥ tau flags exactly those (Broder's
    * two resemblance measures; the q47 decontamination operator is the
    * cross-corpus special case of this same quantity).
    *
    * Same inverted-index pass as q21 (one Shingles scan, shingle-local
    * expansion, Σ df² — never n²); each unordered pair then fans into
    * its two directed containments map-side. Both divisions are the
    * same integers in both engines — bit-identical doubles. */
  def ngramContainmentPairs(documents: DataFrame, n: Int = 3,
                            tau: Double = 0.8, maxDf: Int = 0): DataFrame =
    shinglePairCounts(documents, n, maxDf)
      .select(explode(array(
        struct(col("doc_a").as("src_doc"), col("doc_b").as("dst_doc"),
          (col("inter").cast("double") / col("n_a").cast("double"))
            .as("containment")),
        struct(col("doc_b").as("src_doc"), col("doc_a").as("dst_doc"),
          (col("inter").cast("double") / col("n_b").cast("double"))
            .as("containment")))).as("c"))
      .select(col("c.src_doc"), col("c.dst_doc"), col("c.containment"))
      .filter(col("containment") >= tau)

  /** q66: cross-document VERBATIM-BLOCK pairs via shared winnowing
    * fingerprints — the pairwise consumer of q62 (the MOSS shape:
    * winnow every document, rank pairs by how many fingerprints they
    * share). The winnowing guarantee transfers directly: any shared
    * verbatim run of ≥ w+k−1 tokens forces ≥ 1 shared fingerprint, so
    * with the default `minShared = 1` no such pair can be missed —
    * while q21's Jaccard needs globally-similar documents and q30's
    * whole-doc hash needs identity, this flags a single quoted block
    * inside otherwise-unrelated documents. Raise `minShared` to trade
    * that guarantee for noise suppression (a lone shared fingerprint
    * can be one common k-gram that won both windows).
    *
    * Cost shape is q21's, at winnowing density: the inverted index is
    * built over ~2/(w+1) of each document's k-grams ([[setPairCounts]]
    * — 8-byte xxhash64 keys, fingerprint-local pair expansion, Σ df²
    * never n²), and `maxDf` is the same underestimate-only skew cap
    * for boilerplate blocks shared by half the corpus. n_a/n_b are the
    * documents' fingerprint-set sizes, so callers can derive winnow-
    * Jaccard or coverage without re-scanning. */
  def winnowPairs(documents: DataFrame, k: Int = 3, w: Int = 4,
                  minShared: Int = 1, maxDf: Int = 0): DataFrame =
    setPairCounts(documents,
      Exprs.winnow(split(col("text"), " "), k, w), maxDf)
      .filter(col("inter") >= minShared)
      .select(col("doc_a"), col("doc_b"), col("inter").as("shared_fps"),
        col("n_a").cast("long").as("n_a"), col("n_b").cast("long").as("n_b"))

  /** q22: MinHash + LSH banding — the scale path for near-dup dedup.
    *
    * k salted min-hashes per document (minᵢ md5("i|" ++ shingle) — a
    * lexicographic min over hex strings, so no integer conversion and
    * bit-exact oracle parity), grouped into `bands` bands of k/bands
    * rows; documents sharing any band bucket become candidates and are
    * exact-verified with true Jaccard ≥ tau.
    *
    * Scale: the candidate join is keyed on the band digest — cost is
    * Σ bucket², never n². With k=16, b=4 (r=4), P(candidate | j) =
    * 1-(1-j⁴)⁴: ≈0.88 at j=0.8, ≈1 at j≥0.95, ≈0.04 at j=0.5 — tune
    * (k, bands) per corpus similarity profile. Signature computation is
    * one narrow pass; candidate verification joins raw token arrays by
    * doc_id (not the shingle arrays — those would n-fold every word
    * through the shuffle) and re-shingles ONLY the surviving candidate
    * rows, so the second Shingles pass is proportional to candidate
    * volume, not corpus size.
    */
  /** The LSH band index of a corpus: one `(doc_id, bk)` row per band,
    * `bk` = md5 digest of the band's minhash rows. This is the
    * structure a production pipeline PERSISTS (partitioned by bk) so
    * later batches probe it without re-signaturing the corpus — see
    * [[incrementalMinhashPairs]]. NULL band keys (short docs: empty
    * shingle set → NULL min-hashes) are dropped here once, for every
    * consumer: a join never matches NULLs, but groupBy would collect
    * them into one giant bucket. */
  private[operators] def minhashBandIndex(documents: DataFrame, n: Int,
                                          numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val r = numHashes / bands
    val docs = documents.select(col("doc_id"), shingleSet(n).as("sh"))
    val withMh = docs.select(col("doc_id"),
      Exprs.minhashSig(col("sh"), numHashes).as("mhs"))
    val bandKeys = array((0 until bands).map { b =>
      // KM min-hashes are longs; the band digest concatenates their
      // decimal renders (identical to DuckDB's CAST(UBIGINT AS VARCHAR)
      // for these < 2³¹ values)
      md5(concat(lit(b.toString) +:
        (0 until r).flatMap(j =>
          Seq(lit("|"), element_at(col("mhs"), b * r + j + 1).cast("string"))): _*)
        .cast("binary"))
    }: _*)
    withMh.select(col("doc_id"), explode(bandKeys).as("bk"))
      .filter(col("bk").isNotNull)
  }

  /** Persist a corpus band index for later incremental probes — the
    * production companion of [[incrementalMinhashPairs]]: dedup the
    * corpus once, write its index, and every later intake batch probes
    * the FILES instead of re-signaturing the corpus. Partitioned by a
    * bucket-prefix so a probe's scan prunes to the band-key ranges it
    * actually touches (`bk` is an md5 hex digest, so any prefix width
    * gives balanced partitions; the width is corpus-sized —
    * [[suggestBandPrefixWidth]]).
    *
    * The signature parameters (n, numHashes, bands) travel WITH the
    * index as constant columns: a probe signatured with different
    * parameters produces band keys from a different hash family, and
    * the bk equi-join would silently return ~zero candidates —
    * duplicates passing undetected (fails open). [[readBandIndex]] and
    * [[incrementalProbeIndex]] validate them and fail loudly instead. */
  def writeBandIndex(documents: DataFrame, path: String, n: Int = 3,
                     numHashes: Int = 16, bands: Int = 4): Unit = {
    // one metadata-weight count sizes the prefix width to the corpus
    // (the AutoGeometry convention — index-build cost, paid once)
    val width = suggestBandPrefixWidth(documents.count())
    bandIndexRows(documents, n, numHashes, bands, width)
      .write.mode("overwrite").partitionBy("bk_prefix").parquet(path)
  }

  /** Admit a new batch into an EXISTING band index — the write half of
    * the continuous intake loop ([[incrementalProbeIndex]] / s08 is
    * the read half): probe the intake against the index, keep the
    * non-duplicates, then append THEIR band rows so later batches
    * dedup against them too. Append-mode parquet under the same
    * bk_prefix partitioning — each batch adds files only to the
    * ~256 prefix directories its band keys touch, no rewrite of the
    * existing index, no read-modify-write race.
    *
    * The existing index's signature parameters are validated FIRST
    * (one metadata/pruned-row read): appending rows hashed with a
    * different family would poison the index with keys that match
    * nothing — the same silent fail-open [[readBandIndex]] guards
    * probes against, here blocked on the write side. */
  def appendToBandIndex(documents: DataFrame, path: String, n: Int = 3,
                        numHashes: Int = 16, bands: Int = 4): Unit = {
    val spark = documents.sparkSession
    validateIndexParams(readBandIndex(spark, path, n, numHashes, bands),
      n, numHashes, bands, s"band index at $path")
    appendToBandIndexValidated(documents, path, n, numHashes, bands)
  }

  /** [[appendToBandIndex]] minus the parameter re-validation — for
    * callers that ALREADY read the index with these parameters in the
    * same unit of work (s09's per-batch loop reads + validates via
    * [[readBandIndex]] three statements earlier; re-validating here
    * would re-list the whole 256-partition index tree on every
    * micro-batch). Never call without a same-params read in hand. */
  private[graft] def appendToBandIndexValidated(documents: DataFrame,
                                                path: String, n: Int,
                                                numHashes: Int,
                                                bands: Int): Unit = {
    // the layout is the INDEX's, not the batch's: appends must land in
    // the same prefix geometry the build chose (detected from the tree
    // — driver-side listing, no job); an empty tree — a zero-row build
    // — gets the batch-sized width, the first real write fixing the
    // geometry for all later appends
    val spark = documents.sparkSession
    val width = detectBandPrefixWidth(spark, path)
      .getOrElse(suggestBandPrefixWidth(documents.count()))
    bandIndexRows(documents, n, numHashes, bands, width)
      .write.mode("append").partitionBy("bk_prefix").parquet(path)
  }

  /** Compact an append-grown band index in place — the maintenance
    * half of the s09 admit loop: [[appendToBandIndex]] adds one small
    * parquet file per admitted batch per touched prefix. The rewrite
    * ([[Artifact.compactRows]]: content-checked, crash-safe, offline) is
    * one sorted file per `bk_prefix` directory (clustered by `bk`, so
    * parquet min-max row-group pruning serves point probes) holding the
    * DISTINCT (doc_id, bk) rows — a replayed at-least-once batch's exact
    * duplicates dropped (semantics-free: the probe `distinct`s
    * candidates anyway, see [[incrementalProbeIndex]]). */
  def compactBandIndex(spark: org.apache.spark.sql.SparkSession,
                       path: String, n: Int = 3, numHashes: Int = 16,
                       bands: Int = 4): (Long, Long) = {
    val index = readBandIndex(spark, path, n, numHashes, bands)
    // preserve the live tree's prefix geometry (legacy trees predate
    // width detection at constant 2)
    val pfxWidth = detectBandPrefixWidth(spark, path).getOrElse(2)
    Artifact.compactRows(spark, path, "band index",
      index.select(col("doc_id"), col("bk")).distinct()
        .withColumn("bk_prefix", substring(col("bk"), 1, pfxWidth))
        .select(col("*") +: stampCols(n, numHashes, bands): _*),
      Seq("bk_prefix"), Seq("bk", "doc_id"))
  }

  /** Compact s09's OTHER append-grown store, the admitted-text directory
    * (one small file per admitted batch, and every micro-batch reads the
    * whole store), through [[Artifact.compactRows]]: rows unchanged (no
    * dedup — the admit loop's first-admission-wins anti-join keeps
    * doc_id unique, and the content check fails loudly if that ever
    * broke), one partition clustered by doc_id so the verify join's
    * row-group pruning works. */
  def compactParquetStore(spark: org.apache.spark.sql.SparkSession,
                          path: String): (Long, Long) = {
    val store = Artifact.parquet(spark, path)
    Artifact.compactRows(spark, path, "store", store, Nil,
      Seq("doc_id").filter(store.columns.contains))
  }

  /** q80: corpus-wide LINE-level dedup — the boilerplate-removal pass
    * (CCNet / RefinedWeb style, arXiv:1911.00359 / 2306.01116: drop
    * repeated lines/paragraphs ACROSS documents, keep the first
    * occurrence) that whole-document dedup (q20/q22) cannot express:
    * two distinct pages sharing a navigation header are not document
    * duplicates, but the header itself must go. Segmentation is a
    * parameter of the CONTRACT: production corpora split on newlines
    * (pass `separator = "\n"` — segments are the literal lines,
    * reassembly re-joins with the same separator); this corpus is
    * separator-free, so the declared query re-segments
    * deterministically into fixed `width`-token windows — the dedup,
    * keep-first and reassembly machinery is identical either way.
    *
    * Keep rule (deterministic, order-free): an occurrence survives iff
    * it is the corpus-wide FIRST carrier of its exact segment text,
    * ordered by (doc_id, seg_idx) — every later occurrence, including
    * repeats inside the same document, is removed. Output is total per
    * doc: segment count, removed count, and the cleaned text
    * (surviving segments rejoined in order; empty string when
    * everything was boilerplate).
    *
    * Plan (all linear): ONE scan → posexplode of the non-overlapping
    * slices → first-carrier via `row_number` over the segment DIGEST
    * (`xxhash64(seg)`, ordered by doc_id, seg_idx) → doc-keyed re-agg
    * with `sort_array` for order-stable reassembly (collect_list alone
    * is arrival-ordered). The window is deliberate: per-key input is
    * the segment's df (tiny for real text), and the min(struct)-
    * aggregate + join-back alternative audits at scan=2 — it re-scans
    * and re-segments the whole corpus for the join side, a full extra
    * 100 TB pass traded against a same-volume window sort (the
    * ExplainAudit diamond rule). Keying the rank exchange by the
    * 8-byte digest instead of raw segment text (text carried
    * alongside for reassembly) is the q21/q76 digest-key convention:
    * the shuffle hashes and compares fixed-width longs, not
    * arbitrary-length strings, at the standard 64-bit-collision
    * cost every digest-keyed operator here already accepts.
    *
    * Digest-keyed shuffles distribute on content hash — high
    * cardinality, no skew hazard short of a corpus-scale boilerplate
    * segment, where ONE window partition would hold a corpus-scale
    * row count on a single task. `maxDf > 0` guards that with an
    * EAGER pre-flight: a map-side-combined per-digest count (partial
    * aggs suffer no skew) fails the run loudly BEFORE the window's
    * exchange is paid — the q24 guard-scan convention, one extra
    * segmentation pass bought only when the cap is enabled. Fail-loud,
    * not drop-silent: removing a boilerplate segment from the rank
    * would CHANGE which occurrence survives, so the cap aborts rather
    * than underestimates — the operator-level analogue of the stale-
    * geometry bucket caps. Empty segments (blank lines) are exempt
    * from rank and cap alike: they are document structure, always
    * kept, each in its own window partition. */
  /** Shared q80/q122 segmentation: the corpus re-cut into the
    * line-operators' units — literal separator-delimited lines in
    * production (split on the QUOTED separator; a trailing separator
    * yields a final empty segment, kept as structure), deterministic
    * fixed-`width`-token windows on the separator-free gate corpus. */
  private def segmentize(documents: DataFrame, width: Int,
                         separator: String): DataFrame =
    if (separator.nonEmpty)
      documents.select(col("doc_id"),
        posexplode(split(col("text"),
          java.util.regex.Pattern.quote(separator), -1)))
        .withColumnRenamed("pos", "seg_idx")
        .withColumnRenamed("col", "seg")
    else
      documents
        .select(col("doc_id"), split(col("text"), " ").as("tk"))
        .withColumn("nseg",
          greatest(lit(1), ceil(size(col("tk")) / lit(width.toDouble)).cast("int")))
        .select(col("doc_id"),
          posexplode(expr(s"transform(sequence(0, nseg - 1), " +
            s"i -> array_join(slice(tk, i * $width + 1, $width), ' '))")))
        .withColumnRenamed("pos", "seg_idx")
        .withColumnRenamed("col", "seg")

  /** Shared q80/q122 rebuild: per-doc totals + the cleaned text
    * (surviving segments rejoined in order — sort_array, because
    * collect_list alone is arrival-ordered). Expects (doc_id,
    * seg_idx, seg, keep). */
  private def rebuildDocs(kept: DataFrame, joiner: String): DataFrame =
    kept
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_segments"),
        sum(when(col("keep"), 0L).otherwise(1L)).as("n_removed"),
        array_join(
          expr("transform(sort_array(collect_list(" +
            "CASE WHEN keep THEN struct(seg_idx, seg) END)), x -> x.seg)"),
          joiner).as("cleaned_text"))
      .orderBy("doc_id")

  /** q80/q122's fixed-window segment width on the separator-free gate
    * corpus — spliced into both oracle SQLs (the q112 DefaultEpochs
    * rule: one constant, two engines, no silent desync — round-15
    * advice; production corpora pass `separator = "\n"` and never
    * touch it). */
  private[graft] val DefaultSegmentWidth: Int = 12

  def lineDedup(documents: DataFrame, width: Int = DefaultSegmentWidth,
                maxDf: Long = 0L,
                separator: String = ""): DataFrame = {
    require(width >= 1, "segment width must be >= 1")
    val joiner = if (separator.isEmpty) " " else separator
    val segs = segmentize(documents, width, separator)
    // Empty segments (blank lines / trailing separators in separator
    // mode) are STRUCTURE, not content: ranking them corpus-wide
    // would hand every document except one its paragraph breaks'
    // removal — and df("") is corpus-scale, the exact skew the cap
    // exists to prevent. They bypass the dedup rank (always kept):
    // the window key routes each empty segment into its own
    // (doc_id, seg_idx) partition — the leading is-empty key means
    // an empty and a text segment can never share a partition, so
    // no hash-collision cross-talk. Fixed-width mode has no empty
    // segments (an empty doc's single "" segment aside) and keeps
    // the plain digest key.
    val isEmptySeg = col("seg") === ""
    val w =
      if (separator.nonEmpty)
        org.apache.spark.sql.expressions.Window
          .partitionBy(isEmptySeg,
            when(isEmptySeg, col("doc_id")).otherwise(xxhash64(col("seg"))),
            when(isEmptySeg, col("seg_idx").cast("long")).otherwise(lit(0L)))
          .orderBy("doc_id", "seg_idx")
      else
        org.apache.spark.sql.expressions.Window
          .partitionBy(xxhash64(col("seg"))).orderBy("doc_id", "seg_idx")
    // maxDf is an EAGER pre-flight (one map-side-combined count over a
    // second segmentation pass, the q24 guard-scan convention): a
    // partial agg suffers no skew, so the run dies BEFORE paying the
    // degenerate single-task window sort an in-plan check would only
    // diagnose afterwards. Fail-loud, not drop-silent: removing a
    // boilerplate segment from the rank would CHANGE which occurrence
    // survives, so the cap aborts rather than underestimates.
    if (maxDf > 0L) {
      val inRank =
        if (separator.nonEmpty) segs.filter(!isEmptySeg) else segs
      val offender = inRank
        .groupBy(xxhash64(col("seg")).as("k"))
        .agg(count(lit(1)).as("df"))
        .filter(col("df") > maxDf)
        .orderBy(col("df").desc)
        .limit(1).collect()
      require(offender.isEmpty,
        s"lineDedup: a segment's df=${offender.headOption.map(_.getLong(1)).getOrElse(0L)} " +
          s"exceeds maxDf=$maxDf — a corpus-scale boilerplate segment " +
          "would skew the rank exchange onto one task; strip it " +
          "upstream or raise the cap")
    }
    val ranked = segs.withColumn("keep", row_number().over(w) === 1)
    rebuildDocs(ranked, joiner)
  }

  /** q122's default df threshold — spliced into the oracle SQL (the
    * q112 DefaultEpochs rule). */
  private[graft] val DefaultStripDf: Long = 2L

  /** q122: BOILERPLATE STRIP — remove EVERY occurrence of a segment
    * whose corpus-wide document-frequency exceeds `dfThreshold`, the
    * other published line-level correction: q80 (CCNet's keep-first
    * line dedup) keeps ONE carrier of each repeated line, but a
    * navigation header / cookie banner / footer is noise in ALL its
    * occurrences including the first — C4 and RefinedWeb's line-wise
    * corrections drop frequent lines outright (Raffel et al. 2020,
    * Penedo et al. 2023, public). The two operators are complements
    * and share one segmentation + rebuild ([[segmentize]]/
    * [[rebuildDocs]] — q80's contract verbatim: literal lines via
    * `separator`, fixed-width windows on the separator-free gate
    * corpus; empty segments are document structure, always kept).
    *
    * Keep rule: `df(segment) <= dfThreshold` — RANK-FREE, unlike
    * q80's first-carrier ordering, which changes the scale story: the
    * df rides a COUNT window over the segment-digest partition (the
    * same single exchange as q80's rank window), and a corpus-scale
    * boilerplate segment skewing that partition costs TIME on one
    * task but can never change an answer (no survivor to mispick), so
    * there is no q80-style fail-loud cap here; on corpora where that
    * skew is real, swap the window for a partial-agg df frame +
    * AQE-skew shuffle join (scan=2 that parallelizes — the q72
    * trade), semantics unchanged. One scan, one exchange, linear. */
  def boilerplateStrip(documents: DataFrame, width: Int = DefaultSegmentWidth,
                       dfThreshold: Long = DefaultStripDf,
                       separator: String = ""): DataFrame = {
    require(width >= 1, "segment width must be >= 1")
    require(dfThreshold >= 1, s"dfThreshold must be >= 1, got $dfThreshold")
    val joiner = if (separator.isEmpty) " " else separator
    val segs = segmentize(documents, width, separator)
    val isEmptySeg = col("seg") === ""
    // empty segments bypass the count exactly as they bypass q80's
    // rank (structure, always kept; df("") is corpus-scale — the one
    // skew this operator should not even pay for)
    val w =
      if (separator.nonEmpty)
        org.apache.spark.sql.expressions.Window
          .partitionBy(isEmptySeg,
            when(isEmptySeg, col("doc_id")).otherwise(xxhash64(col("seg"))),
            when(isEmptySeg, col("seg_idx").cast("long")).otherwise(lit(0L)))
      else
        org.apache.spark.sql.expressions.Window
          .partitionBy(xxhash64(col("seg")))
    val kept = segs
      .withColumn("df", count(lit(1)).over(w))
      .withColumn("keep", isEmptySeg || col("df") <= dfThreshold)
    rebuildDocs(kept, joiner)
  }

  /** q123's correction stage: q122's remove-everywhere strip and
    * q80's keep-first dedup FUSED over ONE segmentation — a real
    * pipeline runs both line corrections, and running them as two
    * operators would re-segment the corpus twice AND make the second
    * pass see shifted window boundaries; over one segmentation the
    * fused keep rule is exactly "q122 then q80": a segment survives
    * iff it is structure (empty — q122's rule, always kept), or its
    * corpus df ≤ `dfThreshold` (q122: boilerplate goes from EVERY
    * carrier) AND this occurrence is the corpus-wide first carrier
    * (q80: remaining repeats keep one) — partitions with df > t drop
    * whole, partitions with df ≤ t keep their rank-1 row, so fusion ≡
    * sequential composition on the shared segmentation by
    * construction. ONE exchange: the df count and the first-carrier
    * rank are two window functions over the SAME digest partition
    * key (one shuffle + one sort, q80's plan). Same output shape as
    * q80/q122 ([[rebuildDocs]]). */
  def lineCorrect(documents: DataFrame, width: Int = DefaultSegmentWidth,
                  dfThreshold: Long = DefaultStripDf,
                  separator: String = ""): DataFrame = {
    require(width >= 1, "segment width must be >= 1")
    require(dfThreshold >= 1, s"dfThreshold must be >= 1, got $dfThreshold")
    val joiner = if (separator.isEmpty) " " else separator
    val segs = segmentize(documents, width, separator)
    val isEmptySeg = col("seg") === ""
    // empty segments bypass rank and count alike in BOTH modes (q122's
    // empty rule — structure, always kept; q80's fixed-width mode has
    // no organic empties, so adopting it changes nothing there)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(isEmptySeg,
        when(isEmptySeg, col("doc_id")).otherwise(xxhash64(col("seg"))),
        when(isEmptySeg, col("seg_idx").cast("long")).otherwise(lit(0L)))
    val kept = segs
      .withColumn("df", count(lit(1)).over(w))
      .withColumn("rn",
        row_number().over(w.orderBy(col("doc_id"), col("seg_idx"))))
      .withColumn("keep",
        isEmptySeg || (col("df") <= dfThreshold && col("rn") === 1))
    rebuildDocs(kept, joiner)
  }

  /** q85: corpus-wide EXACT-SUBSTRING dedup — remove every maximal
    * repeated token span of length >= k (Lee et al. 2021,
    * arXiv:2107.06499 "Deduplicating Training Data Makes Language
    * Models Better", the ExactSubstr pass): verbatim text that occurs
    * more than once ANYWHERE in the corpus (across docs or repeated
    * inside one) is cut from every occurrence, position-exactly — the
    * sliding complement of q80's aligned segments (q80 removes whole
    * repeated LINES keeping a first carrier; q85 removes repeated
    * SPANS at any offset, which catches quoted paragraphs, templated
    * sentences and self-repetition that never line up on segment
    * boundaries).
    *
    * Construction: the paper's suffix array is a single-machine
    * structure; the distributed equivalent is duplicated-k-window
    * coverage, and it is EXACT, not an approximation — a token lies
    * inside some repeated span of length >= k iff it is covered by a
    * duplicated k-token window (span [a,b] ⊇ window [i,i+k-1] around
    * any p ∈ [a,b]: both interval bounds follow from b−a+1 >= k), so
    * the union of duplicated windows IS the union of maximal repeated
    * spans. Window identity = the window's exact token text (hashed;
    * the q71 convention — Spark keys by xxhash64, the oracle by the
    * text itself, identical modulo ~n²/2⁶⁴ collisions).
    *
    * Plan, all linear: scan 1 emits (doc_id, pos, wkey) — 20-byte
    * rows, the TEXT never enters the window path — df per wkey via
    * ONE count-window over the digest (the q44/q74 df convention: a
    * groupBy+join-back alternative audited at scan=3/ex=5 because the
    * aggregate and probe exchanges carry different payloads and
    * cannot be reused — a whole extra segmentation pass; a
    * corpus-scale boilerplate window does skew the count-window
    * partition, but the partition rows are 20 bytes and counting is
    * the whole job — the same accepted df-window cost q74 documents).
    * Covered positions then merge into maximal spans doc-locally (the
    * q17 lag/cumsum session shape on the RARE dup-position rows), and
    * the spans (tiny) join back to a second (doc_id, text)-projection
    * scan for the rebuild. Scan=2 is the deliberate trade — q80
    * rejected agg+join-back because its join side RE-SEGMENTED the
    * corpus; here the second scan is a raw two-column projection and
    * buying it keeps all heavy exchanges at 20 bytes/row (the
    * one-scan alternative shuffles every TOKEN row through the df
    * pass and a doc-keyed rebuild — corpus text moved twice).
    *
    * Output per doc: token count, span/removed-token counts, and the
    * cleaned text (uncovered tokens rejoined; "" when everything was
    * repeated). k defaults to 8 tokens on this short-doc corpus; the
    * paper's production setting is ~50.
    *
    * `maxDf > 0` is [[lineDedup]]'s skew guard brought to parity
    * (round-12 verdict #8): the count-window partitions on the window
    * digest, so ONE corpus-scale boilerplate window (a templated
    * sentence in most documents) would land a corpus-scale partition
    * on a single task. The cap is the same EAGER pre-flight — a
    * map-side-combined per-digest count (partial aggs suffer no skew)
    * that fails the run loudly BEFORE the window's exchange is paid.
    * Fail-loud, not drop-silent: dropping a capped window would
    * UNDERCOUNT coverage and silently leave the worst boilerplate IN
    * the corpus — the opposite of the operator's contract. Size the
    * cap (and find what to strip upstream) with
    * [[substringDfAudit]] — q71's audit pattern for this window
    * family. */
  def substringDedup(documents: DataFrame, k: Int = 8,
                     maxDf: Long = 0L): DataFrame = {
    require(k >= 2, "window width k must be >= 2")
    val tk = filter(split(col("text"), " "), x => x =!= "")
    val docs = documents.select(col("doc_id"), tk.as("tk"))
    val wins = docs
      .withColumn("nwin", size(col("tk")) - lit(k - 1))
      .filter(col("nwin") > 0)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, nwin - 1), " +
          s"i -> xxhash64(array_join(slice(tk, i + 1, $k), ' ')))")))
      .withColumnRenamed("col", "wkey")
    if (maxDf > 0L) {
      val offender = wins
        .groupBy(col("wkey")).agg(count(lit(1)).as("df"))
        .filter(col("df") > maxDf)
        .orderBy(col("df").desc)
        .limit(1).collect()
      require(offender.isEmpty,
        s"substringDedup: a window's df=${offender.headOption.map(_.getLong(1)).getOrElse(0L)} " +
          s"exceeds maxDf=$maxDf — a corpus-scale boilerplate span " +
          "would skew the count-window exchange onto one task; strip " +
          "it upstream (see substringDfAudit) or raise the cap")
    }
    val W0 = org.apache.spark.sql.expressions.Window
    val dupPos = wins
      .withColumn("df", count(lit(1)).over(
        W0.partitionBy("wkey")
          .rowsBetween(W0.unboundedPreceding, W0.unboundedFollowing)))
      .filter(col("df") >= 2).select("doc_id", "pos")
    // maximal-span merge: windows [pos, pos+k-1] sorted by pos fuse
    // while each start is <= previous covered end + 1 (overlap OR
    // adjacency — both leave no uncovered gap)
    val W = org.apache.spark.sql.expressions.Window
    val wPrev = W.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(W.unboundedPreceding, -1)
    val wRun = W.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(W.unboundedPreceding, 0)
    val spans = dupPos
      .withColumn("ns",
        when(col("pos") > coalesce(max(col("pos") + lit(k - 1)).over(wPrev),
          lit(-2)) + 1, 1L).otherwise(0L))
      .withColumn("sid", sum("ns").over(wRun))
      .groupBy("doc_id", "sid")
      .agg(min("pos").as("s"), (max("pos") + lit(k - 1)).as("e"))
    val perDoc = spans.groupBy("doc_id").agg(
      count(lit(1)).as("n_spans"),
      sum(col("e") - col("s") + 1).as("n_removed"),
      sort_array(collect_list(struct(col("s"), col("e")))).as("spans"))
    docs.join(perDoc, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        size(col("tk")).cast("long").as("n_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        when(col("spans").isNull, array_join(col("tk"), " "))
          .otherwise(expr(
            "array_join(filter(transform(sequence(0, size(tk) - 1), " +
              "i -> IF(exists(spans, sp -> i >= sp.s AND i <= sp.e), " +
              "CAST(NULL AS STRING), element_at(tk, i + 1))), " +
              "x -> x IS NOT NULL), ' ')"))
          .as("cleaned_text"))
      .orderBy("doc_id")
  }

  /** Typed zero-row frame — the shared "missing store reads as empty"
    * idiom ([[readBandIndex]]'s empty index, s09's first-batch
    * admitted store). */
  private[graft] def emptyTyped(spark: org.apache.spark.sql.SparkSession,
                                schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  /** Shared index-row shape for [[writeBandIndex]]/[[appendToBandIndex]]:
    * (doc_id, bk, stamps) under a `width`-hex-char bucket-prefix
    * partition ([[suggestBandPrefixWidth]]). */
  private def bandIndexRows(documents: DataFrame, n: Int,
                            numHashes: Int, bands: Int,
                            width: Int): DataFrame =
    minhashBandIndex(documents, n, numHashes, bands)
      .withColumn("bk_prefix", substring(col("bk"), 1, width))
      .select(col("*") +: stampCols(n, numHashes, bands): _*)

  /** Scale-derived bucket-prefix WIDTH (hex chars) for the band-index
    * tree — the suggestBits/AutoGeometry convention applied to the
    * artifact LAYOUT (r20, guide §6): every write (build, and one per
    * admitted intake batch) creates one file per touched prefix
    * directory, so 16^width directories must each be worth a file.
    * The old constant width 2 (256 dirs) made every probe-scale append
    * a 256-file create+commit — measured at ~4 s of s09's ~12 s floor
    * per append, with 16 B of band rows per file. Width grows one hex
    * char per 16x past 2^20 docs: 16 dirs to ~1M docs, 256 to ~16M,
    * 4096 to ~268M, 65536 beyond — at 10^12 docs (the 100 TB shape)
    * that is ~60M band rows (~3 GB) per directory, bounded per file by
    * the session's `spark.sql.files.maxRecordsPerFile`. Probes never
    * read bk_prefix (the bk equi-join carries the candidates), so width
    * is pure layout: the value each index USES is detected from its own
    * tree ([[detectBandPrefixWidth]]) — appends and compaction always
    * agree with the build, whatever scale either ran at. */
  private[graft] def suggestBandPrefixWidth(nDocs: Long): Int = {
    var w = 1
    var cap = 1L << 20
    while (w < 4 && nDocs > cap) { w += 1; cap = cap << 4 }
    w
  }

  /** The prefix width an EXISTING index tree was written with, read
    * from its partition directory names — one driver-side root listing,
    * no Spark job, no footer read. None for an empty/absent tree. */
  private[graft] def detectBandPrefixWidth(
      spark: org.apache.spark.sql.SparkSession, path: String): Option[Int] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try fs.listStatus(p).map(_.getPath.getName)
      .find(_.startsWith("bk_prefix="))
      .map(_.length - "bk_prefix=".length)
    catch { case _: java.io.FileNotFoundException => None }
  }

  /** The `_p_*` parameter stamps, carried BOTH as constant column
    * values (probe-time check on any non-empty frame, even a raw
    * `spark.read.parquet` of an old index) and as column METADATA
    * (survives the parquet footer round-trip and — unlike row values —
    * is checkable on a ZERO-ROW index, where there are no rows to
    * read the constants from). */
  private def stampCols(n: Int, numHashes: Int, bands: Int): Seq[Column] =
    Seq(("_p_n", n), ("_p_num_hashes", numHashes), ("_p_bands", bands)).map {
      case (name, v) =>
        lit(v).as(name, new org.apache.spark.sql.types.MetadataBuilder()
          .putLong("graft_param", v.toLong).build())
    }

  /** Read a persisted band index back into probe shape, verifying the
    * caller's signature parameters match the ones the index was built
    * with (see [[writeBandIndex]] — a mismatch fails open, not loud).
    * The check reads one row (parquet prunes to the three constant
    * columns) — index-metadata cost, not a corpus scan. Indexes written
    * before parameter stamping (no `_p_*` columns) pass unchecked, as
    * does an EMPTY index (every doc shorter than n tokens → all band
    * keys NULL and dropped) — probing an empty index correctly yields
    * zero candidates, so there is nothing to validate.
    *
    * The `_p_*` stamp columns are KEPT in the output so a downstream
    * [[incrementalProbeIndex]] called with different parameters still
    * fails loudly (round-7 ADVICE — stripping them here would re-open
    * the fail-open window this validation exists to close); the probe
    * strips them itself. */
  def readBandIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                    n: Int = 3, numHashes: Int = 16, bands: Int = 4): DataFrame = {
    val raw =
      try Artifact.parquet(spark, path)
      catch {
        // a zero-row index: partitionBy writes NO data files for an
        // empty DataFrame, so there is no footer to infer from — but an
        // empty index is semantically valid (probing it yields zero
        // candidates). A wrong path still fails (PATH_NOT_FOUND; a
        // half-swapped one with its rename text), and a directory
        // [[writeBandIndex]] never touched (no _SUCCESS marker — e.g. a
        // typo'd path that happens to exist) rethrows
        // rather than silently probing as empty. Matched on the stable
        // error class, not the rendered message text.
        case e: org.apache.spark.sql.AnalysisException
            if e.getCondition == "UNABLE_TO_INFER_SCHEMA" &&
              hasSuccessMarker(spark, path) =>
          import org.apache.spark.sql.types._
          emptyTyped(spark,
            StructType(Seq(StructField("doc_id", LongType),
              StructField("bk", StringType))))
            .select(col("*") +: stampCols(n, numHashes, bands): _*)
      }
    validateIndexParams(raw, n, numHashes, bands, s"band index at $path")
    raw.select((Seq("doc_id", "bk") ++
      raw.columns.filter(_.startsWith("_p_"))).map(col): _*)
  }

  /** True iff `path` holds a committed Spark write (the `_SUCCESS`
    * marker [[writeBandIndex]]'s parquet commit leaves). Distinguishes
    * a legitimately-empty index from a wrong-but-existing directory,
    * which must fail loudly rather than probe as empty. */
  private def hasSuccessMarker(spark: org.apache.spark.sql.SparkSession,
                               path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path, "_SUCCESS")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Shared `_p_*` stamp validation (see [[writeBandIndex]]): reads the
    * parameters from column metadata when present (free, and works on
    * zero-row frames), falling back to the constant column values (one
    * pruned-to-three-columns row read) for indexes written before
    * metadata stamping. No-op only for fully-unstamped legacy indexes
    * or a metadata-less zero-row frame; loud failure on any mismatch. */
  private def validateIndexParams(index: DataFrame, n: Int, numHashes: Int,
                                  bands: Int, what: String): Unit =
    if (index.columns.contains("_p_n")) {
      def metaVal(c: String): Option[Long] = {
        val m = index.schema(c).metadata
        if (m.contains("graft_param")) Some(m.getLong("graft_param")) else None
      }
      val stamped: Option[(Long, Long, Long)] =
        (for (pn <- metaVal("_p_n"); ph <- metaVal("_p_num_hashes");
              pb <- metaVal("_p_bands")) yield (pn, ph, pb)).orElse {
          index.select("_p_n", "_p_num_hashes", "_p_bands").head(1).headOption.map {
            case org.apache.spark.sql.Row(pn: Int, ph: Int, pb: Int) =>
              (pn.toLong, ph.toLong, pb.toLong)
          }
        }
      stamped.foreach { case (pn, ph, pb) =>
        require(pn == n && ph == numHashes && pb == bands,
          s"$what was built with (n=$pn, numHashes=$ph, bands=$pb) but " +
            s"probe requested (n=$n, numHashes=$numHashes, bands=$bands); " +
            "mismatched band keys silently match nothing")
      }
    }

  /** Probe an incoming batch against a PERSISTED corpus index — the
    * disk-backed form of [[incrementalMinhashPairs]]'s candidate stage;
    * exact-Jaccard verification still needs the corpus text, supplied
    * by `existing`. Same output contract as incrementalMinhashPairs.
    * If `index` still carries [[writeBandIndex]]'s `_p_*` parameter
    * columns (a raw `spark.read.parquet` that skipped readBandIndex),
    * they are validated here the same way. */
  def incrementalProbeIndex(index: DataFrame, existing: DataFrame,
                            incoming: DataFrame, n: Int = 3,
                            numHashes: Int = 16, bands: Int = 4,
                            tau: Double = 0.5): DataFrame = {
    validateIndexParams(index, n, numHashes, bands, "band index")
    val checked =
      if (index.columns.contains("_p_n")) index.select(col("doc_id"), col("bk"))
      else index
    val probes = minhashBandIndex(incoming, n, numHashes, bands)
      .withColumnRenamed("doc_id", "new_doc")
    val cands = probes.join(checked.withColumnRenamed("doc_id", "dup_of"), Seq("bk"))
      .select(col("new_doc"), col("dup_of"))
      .distinct()
    verifyJaccard2(
      cands.select(col("new_doc").as("doc_a"), col("dup_of").as("doc_b")),
      incoming, existing, n, tau)
      .select(col("doc_a").as("new_doc"), col("doc_b").as("dup_of"), col("jaccard"))
  }

  /** Exact shingle-Jaccard verification of candidate `(doc_a, doc_b)`
    * pairs: join raw token arrays by doc_id (not shingle arrays — those
    * would n-fold every word through the shuffle), re-shingle only the
    * candidate rows, keep pairs with Jaccard ≥ tau. */
  private def verifyJaccard(cands: DataFrame, documents: DataFrame,
                            n: Int, tau: Double): DataFrame =
    verifyJaccard2(cands, documents, documents, n, tau)

  /** Two-source form of [[verifyJaccard]]: doc_a resolves from `docsA`,
    * doc_b from `docsB`. The incremental probes use this so a doc_id
    * present in BOTH existing and incoming cannot fan the token join
    * out into duplicate (possibly wrong-text) verification rows — each
    * side verifies against its own source by construction (round-6
    * ADVICE). */
  private def verifyJaccard2(cands: DataFrame, docsA: DataFrame,
                             docsB: DataFrame, n: Int, tau: Double): DataFrame = {
    def toks(df: DataFrame) =
      df.select(col("doc_id"), split(col("text"), " ").as("toks"))
    val withSets = cands
      .join(toks(docsA).select(col("doc_id").as("doc_a"), col("toks").as("toks_a")), Seq("doc_a"))
      .join(toks(docsB).select(col("doc_id").as("doc_b"), col("toks").as("toks_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        Exprs.shingles(col("toks_a"), n).as("sh_a"),
        Exprs.shingles(col("toks_b"), n).as("sh_b"))
    val inter = size(array_intersect(col("sh_a"), col("sh_b")))
    withSets
      .select(col("doc_a"), col("doc_b"),
        jaccard(inter, size(col("sh_a")), size(col("sh_b"))).as("jaccard"))
      .filter(col("jaccard") >= tau)
  }

  def minhashLshPairs(documents: DataFrame, n: Int = 3, numHashes: Int = 16,
                      bands: Int = 4, tau: Double = 0.5): DataFrame = {
    val buckets = minhashBandIndex(documents, n, numHashes, bands)
    // bucket-local pair expansion (see simhashPairs): one signature
    // pass, same Σ bucket² candidates as a bucket self-join.
    val cands = buckets.groupBy("bk")
      .agg(collect_list(col("doc_id")).as("ds"))
      .filter(size(col("ds")) > 1)
      .select(explode(col("ds")).as("doc_a"), col("ds"))
      .select(col("doc_a"), explode(col("ds")).as("doc_b"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .distinct()
    verifyJaccard(cands, documents, n, tau)
  }

  /** q45: INCREMENTAL near-dup detection — the production shape of
    * minhash dedup. A corpus is deduped once; every later intake batch
    * must answer "which incoming docs duplicate something we already
    * hold?" WITHOUT re-pairing the whole corpus against itself.
    *
    * The existing corpus contributes only its band index
    * ([[minhashBandIndex]] — persisted in production, rebuilt inline
    * here); the incoming batch is signatured and equi-joined against it
    * on the band key. Cost: signature pass over the BATCH + one join
    * keyed by bk whose fan-out is batch-bucket × corpus-bucket — never
    * corpus², never batch×corpus. Candidates are exact-verified with
    * true Jaccard, like q22. Incoming-vs-incoming duplicates are out of
    * scope by design (run plain [[minhashLshPairs]] over the batch for
    * those — it's batch-sized, cheap).
    *
    * Output: one row per (new_doc, dup_of) hit with its Jaccard —
    * the delete/keep decision feed. */
  def incrementalMinhashPairs(existing: DataFrame, incoming: DataFrame,
                              n: Int = 3, numHashes: Int = 16,
                              bands: Int = 4, tau: Double = 0.5): DataFrame = {
    val idx = minhashBandIndex(existing, n, numHashes, bands)
      .withColumnRenamed("doc_id", "dup_of")
    val probes = minhashBandIndex(incoming, n, numHashes, bands)
      .withColumnRenamed("doc_id", "new_doc")
    val cands = probes.join(idx, Seq("bk"))
      .select(col("new_doc"), col("dup_of"))
      .distinct()
    // each side verifies against its own source (doc_a ← incoming,
    // doc_b ← existing), so overlapping doc_ids between the inputs
    // cannot fan out into duplicate/wrong-text verification rows
    verifyJaccard2(
      cands.select(col("new_doc").as("doc_a"), col("dup_of").as("doc_b")),
      incoming, existing, n, tau)
      .select(col("doc_a").as("new_doc"), col("doc_b").as("dup_of"), col("jaccard"))
  }

  /** 64-bit SimHash fingerprint of `text` as a '0'/'1' string — one
    * native-expression pass over the token list
    * ([[graft.functions.Exprs.SimHash64]]): O(tokens · 64) integer ops
    * per document, single scan, no shuffle. */
  private[operators] def simhashFingerprint(): Column =
    Exprs.simhash64(split(col("text"), " "))

  /** q23: SimHash near-dup pairs — fingerprint, band into 4×16-bit
    * buckets, Hamming-filter candidates.
    *
    * Banding trades recall for candidate volume: a pair differing in
    * ≤ bands-1 bits of one band region always collides; pairs whose
    * differing bits spread across every band are missed (classic
    * SimHash-banding behavior — more/narrower bands raise recall and
    * collision volume together; 4×16 keeps candidates ≈1.5% of pairs on
    * the test corpus). Hamming distance is an integer, so oracle parity
    * is exact. Scale: bucket-keyed join, cost Σ bucket² like q22.
    */
  def simhashPairs(documents: DataFrame, maxHamming: Int = 6,
                   bands: Int = 4): DataFrame =
    hammingBandPairs(
      documents.select(col("doc_id"), simhashFingerprint().as("fp")),
      maxHamming, bands)

  /** The banded-Hamming pair pass over any `(doc_id, fp)` 64-bit
    * bitstring frame — q23's bucket-local expansion factored out so
    * other Hamming-space fingerprints (m07's perceptual image dHash)
    * reuse the identical candidate/verify machinery. */
  private[operators] def hammingBandPairs(fps: DataFrame, maxHamming: Int = 6,
                                          bands: Int = 4): DataFrame = {
    val width = 64
    val bandWidth = width / bands
    val bandKeys = array((0 until bands).map(b =>
      concat(lit(s"$b|"), substring(col("fp"), b * bandWidth + 1, bandWidth))): _*)
    // Bucket-local pair expansion instead of a bucket self-join: a
    // self-join would evaluate the whole fingerprint pipeline once per
    // join side (and twice more to fetch fp_a/fp_b). Grouping each
    // bucket's (doc_id, fp) members and double-exploding generates the
    // same Σ bucket² candidate pairs from ONE fingerprint pass, with
    // the fingerprints already in hand. Assumes banding keeps buckets
    // bounded (the same assumption the join's Σ bucket² cost makes).
    val buckets = fps.select(col("doc_id"), col("fp"), explode(bandKeys).as("bk"))
    // NULL buckets dropped for join parity (see minhashLshPairs)
    val grouped = buckets.filter(col("bk").isNotNull).groupBy("bk")
      .agg(collect_list(struct(col("doc_id"), col("fp"))).as("ms"))
      .filter(size(col("ms")) > 1)
    grouped
      .select(explode(col("ms")).as("a"), col("ms"))
      .select(col("a"), explode(col("ms")).as("b"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        Exprs.hammingDist(col("a.fp"), col("b.fp")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** q36: near-dup cluster resolution — the step that turns pairwise
    * near-dup hits into an actionable dedup decision (one keeper per
    * duplicate GROUP, not per pair: pairs alone over-delete when dups
    * chain A~B~C without A~C).
    *
    * Pipeline: MinHash-LSH pairs ([[minhashLshPairs]]) → connected
    * components → every involved doc labeled with its component's
    * minimum doc_id (`cluster_id` — the canonical keeper) + the
    * component size.
    *
    * Components are computed by iterative min-label propagation: each
    * round every node adopts the minimum label among itself and its
    * neighbors (one hash-join + partial-agg shuffle per round — no
    * windows, no driver-side graph). Rounds needed = max graph distance
    * from a component's minimum node: near-dup clusters are
    * quasi-cliques (diameter ≲ 3 — LSH hits most pairs directly), so
    * this converges in 2–4 rounds; if the round cap is hit (an
    * adversarial chain topology), the loop hands off to
    * [[connectedComponentsStar]] — alternating large-star/small-star
    * rounds with an O(log² n) bound regardless of diameter (Kiveris
    * et al., "Connected Components in MapReduce", SoCC'14). Each
    * round ends in
    * `localCheckpoint` to truncate the lineage the loop would otherwise
    * stack (a round's plan would re-run every prior round), and
    * convergence is an O(|V|) anti-join count on 8-byte keys.
    */
  def dedupClusters(documents: DataFrame, n: Int = 3, numHashes: Int = 16,
                    bands: Int = 4, tau: Double = 0.5,
                    maxRounds: Int = 12): DataFrame = {
    val pairs = minhashLshPairs(documents, n, numHashes, bands, tau)
      .select("doc_a", "doc_b")
    connectedComponents(pairs, maxRounds)
  }

  /** Min-label-propagation connected components over an undirected edge
    * list `(doc_a, doc_b)` → `(doc_id, cluster_id, cluster_size)` for
    * every vertex. See [[dedupClusters]] for the scale analysis.
    *
    * `maxRounds` is a DETECTION cap, not a correctness bound: past it
    * the loop hands off to [[connectedComponentsStar]] and still
    * returns the exact components. The default 12 covers every
    * realistic quasi-clique diameter while capping what an
    * adversarial chain wastes on propagation before the O(log² n)
    * algorithm takes over — raising it only helps graphs whose
    * diameter genuinely sits between 12 and the new value. */
  def connectedComponents(pairs: DataFrame, maxRounds: Int = 12): DataFrame = {
    val edges = pairs.select(col("doc_a").as("s"), col("doc_b").as("d"))
      .union(pairs.select(col("doc_b").as("s"), col("doc_a").as("d")))
      .localCheckpoint()
    var labels = edges.select(col("s").as("doc_id"), col("s").as("label"))
      .distinct()
      .localCheckpoint()
    var changed = 1L
    var round = 0
    while (changed > 0 && round < maxRounds) {
      val propagated = edges
        .join(labels.select(col("doc_id").as("s"), col("label")), Seq("s"))
        .select(col("d").as("doc_id"), col("label"))
      val next = labels.union(propagated)
        .groupBy("doc_id").agg(min(col("label")).as("label"))
        .localCheckpoint()
      changed = next
        .join(labels.select(col("doc_id"), col("label").as("prev")), Seq("doc_id"))
        .filter(col("label") =!= col("prev"))
        .count()
      labels = next
      round += 1
    }
    // Exiting via the round cap with labels still moving means the
    // graph is far outside the quasi-clique regime (rounds needed =
    // max distance from a component's min node — a long CHAIN needs
    // O(diameter) label-prop rounds). Returning the non-fixed-point
    // labels would be wrong (round-5 ADVICE threw here); instead
    // switch to the O(log² n)-round alternating-star algorithm, which
    // handles adversarial topologies the cheap propagation loop
    // cannot. The quasi-clique fast path stays the default because a
    // star round costs ~2 shuffles + an equality check vs label-prop's
    // 1 — cheaper when 2–4 rounds suffice, as they do for LSH pair
    // graphs. The handoff reuses the CHECKPOINTED symmetric edge
    // frame, so the caller's pairs plan (often the whole LSH
    // pipeline) is not re-evaluated by the star pass.
    if (changed > 0)
      connectedComponentsStar(
        edges.select(col("s").as("doc_a"), col("d").as("doc_b")))
    else labelFrame(labels)
  }

  /** Shared output shaping for both component algorithms:
    * `(doc_id, label)` → `(doc_id, cluster_id, cluster_size)`. */
  private def labelFrame(labels: DataFrame): DataFrame = {
    val sizes = labels.groupBy("label").agg(count(lit(1)).as("cluster_size"))
    labels
      .join(sizes, Seq("label"))
      .select(col("doc_id"), col("label").as("cluster_id"), col("cluster_size"))
  }

  /** Connected components by ALTERNATING STAR rounds (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14 — the
    * published algorithm; public reference): each round applies
    * large-star (every neighbor v > u re-links to the minimum of u's
    * neighborhood) then small-star (every neighbor v < u, and u
    * itself, re-link to the minimum of u's smaller neighbors),
    * converging when the edge set reaches its fixed point — a union
    * of stars, each centered on its component's minimum vertex.
    *
    * Same output contract as [[connectedComponents]]. Round bound is
    * O(log² n) REGARDLESS of topology — a million-node chain
    * converges in ~20 rounds where min-label propagation needs a
    * million — at the price of ~2 shuffles + one fixed-point check
    * per round (each round is a groupBy-min + an equi-join, both on
    * 8-byte vertex keys, partial-agg friendly, no windows). Edges are
    * kept in canonical (high, low) orientation so both star steps are
    * one aggregation over the same key column; `localCheckpoint`
    * truncates the per-round lineage exactly as the propagation loop
    * does. */
  def connectedComponentsStar(pairs: DataFrame, maxRounds: Int = 100): DataFrame = {
    // ONE evaluation of the caller's pairs plan (it is often the whole
    // LSH pipeline): canonical orientation is checkpointed first, and
    // both the edge loop and the final vertex set derive from it —
    // self-loop-only vertices survive into `verts` even though the
    // loop drops their edges
    val base = pairs
      .select(greatest(col("doc_a"), col("doc_b")).as("h"),
        least(col("doc_a"), col("doc_b")).as("l"))
      .localCheckpoint()
    var edges = base
      .filter(col("h") =!= col("l"))
      .distinct()
      .localCheckpoint()
    var changed = 1L
    var round = 0
    while (changed > 0 && round < maxRounds) {
      // large-star: from the smaller endpoint u of every edge, each
      // strictly-larger neighbor v re-links to m = min(N(u) ∪ {u}).
      // (From the larger endpoint nothing is emitted — that edge is
      // re-emitted via its other endpoint's neighborhood, so
      // connectivity is preserved; see the paper's Lemma 1.)
      val nbrs = edges.select(col("h").as("u"), col("l").as("v"))
        .union(edges.select(col("l").as("u"), col("h").as("v")))
      val lmins = nbrs.groupBy("u").agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("mv"), col("u")).as("m"))
      val large = nbrs.filter(col("v") > col("u"))
        .join(lmins, Seq("u"))
        .select(col("v").as("h"), col("m").as("l"))
        .distinct()
      // small-star: for every center h, its (all strictly smaller)
      // neighbors and h itself re-link to their minimum.
      val smins = large.groupBy("h").agg(min(col("l")).as("m"))
      val next = large.join(smins, Seq("h"))
        .filter(col("l") =!= col("m"))
        .select(col("l").as("h"), col("m").as("l"))
        .union(smins.select(col("h"), col("m").as("l")))
        .distinct()
        .localCheckpoint()
      changed = next.join(edges, Seq("h", "l"), "left_anti").count() +
        edges.join(next, Seq("h", "l"), "left_anti").count()
      edges = next
      round += 1
    }
    if (changed > 0)
      throw new IllegalStateException(
        s"connectedComponentsStar did not converge after $maxRounds rounds " +
          s"($changed edges still moving) — the bound is O(log² n), so this " +
          "indicates far more rounds were requested than the input needs")
    // At the fixed point every component is a star centered on its
    // minimum vertex: non-center vertices carry exactly one (h → l)
    // edge to the center; centers (and isolated vertices, which an
    // edge list cannot contain but a degenerate pairs frame might
    // after the self-loop filter) label themselves.
    val verts = base
      .select(explode(array(col("h"), col("l"))).as("doc_id"))
      .distinct()
    val centers = edges.groupBy("h").agg(min(col("l")).as("label"))
      .withColumnRenamed("h", "doc_id")
    labelFrame(verts.join(centers, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("label"), col("doc_id")).as("label")))
  }

  /** q55: keeper selection — the decision step after clustering: keep
    * ONE document per near-dup cluster, chosen by QUALITY (q28's
    * score), not by id — production drops the boilerplate-laden copy
    * and keeps the clean one; min-id keepers (q20's tie-break) are for
    * exact dups where the copies are identical anyway.
    *
    * One partial-agg shuffle over the cluster labels (q31's
    * max(struct) argmax — no window): keeper = max by (quality,
    * -doc_id), so quality ties break toward the smaller id exactly
    * like the oracle's (quality DESC, doc_id) ROW_NUMBER. Output one
    * row per multi-doc cluster with the keep/drop accounting. */
  def keeperSelection(documents: DataFrame, n: Int = 3, numHashes: Int = 16,
                      bands: Int = 4, tau: Double = 0.5): DataFrame = {
    val clusters = dedupClusters(documents, n, numHashes, bands, tau)
    val quality = TextOps.qualityScore(documents).select(col("doc_id"), col("quality"))
    clusters.join(quality, Seq("doc_id"))
      .groupBy(col("cluster_id"))
      .agg(
        max(struct(col("quality"), (-col("doc_id")).as("nd"),
          col("doc_id").as("keeper"))).as("b"),
        count(lit(1)).as("cluster_size"))
      .select(col("cluster_id"), col("b.keeper").as("keeper_doc_id"),
        col("cluster_size"), (col("cluster_size") - 1).as("n_removed"))
  }

  /** q47: n-gram-overlap decontamination — the PARTIAL-overlap
    * complement to q35's exact-fingerprint decontamination (reference:
    * the n-gram contamination checks every LLM training run performs
    * against its eval benchmarks; a doc that embeds one eval question
    * verbatim inside otherwise-novel text has a fresh fingerprint but
    * shares that question's shingles).
    *
    * Shape mirrors q35 at the index level: the eval/benchmark side is
    * tiny next to a training corpus, so its distinct
    * (shingle, eval_doc) index is BROADCAST and the training side
    * streams through one codegen'd scan + hash join — the corpus is
    * never shuffled by shingle; the only shuffle is the final
    * per-flagged-doc aggregation, whose input is match rows only
    * (contaminated docs are rare by construction). Join keys are
    * xxhash64 digests of the shingles, not the strings (q21's 8-byte-
    * key trick). Self-matches are excluded because the synthetic eval
    * set is drawn from the candidate pool, as in q35.
    *
    * Output: one row per contaminated candidate doc —
    * (doc_id, n_shared_shingles, n_eval_docs); thresholding is the
    * caller's policy (production typically drops at ≥1 shared 13-gram;
    * the 3-gram default here tracks the corpus' tiny documents). */
  /** q115: contamination EXCISION — the surgical complement to q47:
    * instead of DROPPING a document that shares n-grams with the eval
    * benchmark, remove exactly the contaminated SPANS and keep the
    * rest (the "decontaminate by excision" option in published
    * pipelines — dropping whole documents over one embedded eval
    * question wastes the other 99% of a long doc). A candidate token
    * is excised iff some hit n-gram window covers it (hit = the
    * positional n-gram starting at `i` matches any eval shingle from
    * a DIFFERENT doc; token j is covered iff i ≤ j ≤ i+n−1) — no
    * interval merging needed, coverage is per-token.
    *
    * Emits every candidate doc with the audit counts and the CLEANED
    * text compressed to md5+length (q37's verification-payload
    * convention — the rebuilt string itself would dominate the output
    * at 16 bytes/doc vs KBs). Clean docs emit their SPACE-NORMALIZED
    * text's hash (the rebuild is a split→join round-trip, so the
    * normalized form is the honest identity on both engines).
    *
    * Scale shape: positional n-grams are [[graft.functions.Exprs.Ngrams]]
    * (order + multiplicity preserved → posexplode gives positions —
    * VALID only because the tokens come from this function's own
    * `split(text)`, which never yields NULL tokens; Ngrams SKIPS
    * null-containing windows, so a pre-tokenized variant would need a
    * position-carrying kernel or every position after a skip excises
    * the wrong span)
    * joined against the BROADCAST eval shingle index (q47's shape) —
    * match rows only survive, so the hit/coverage frames are
    * contaminated-docs-sized. The token-explode + rebuild aggregation
    * runs ONLY for contaminated docs (semi-join on the tiny hit set);
    * clean docs pass through as a per-row `array_join` with zero
    * explode. All-excised docs emit n_excised = n_tokens with the
    * empty-string hash, not a silent pass-through. */
  def decontaminateExcise(candidates: DataFrame, reference: DataFrame,
                          n: Int = 3): DataFrame = {
    val tk = split(col("text"), " ")
    val refIdx = reference
      .select(col("doc_id").as("eval_doc"), explode(shingleSet(n)).as("g"))
      .select(col("eval_doc"), xxhash64(col("g")).as("s"))
      .distinct()
    // hits is contaminated-docs-sized (match rows only survive the
    // broadcast join) but feeds THREE consumers (contaminated set,
    // coverage, and through them the rebuild) — localCheckpoint pins
    // it so the positional explode + hit join runs ONCE, not per
    // branch (the q111 diamond rule; unpinned this read ex=15 scan=8
    // and went 4.3x in the second decade).
    val hits = candidates
      .select(col("doc_id"), posexplode(Exprs.ngrams(tk, n)))
      .select(col("doc_id"), (col("pos") + 1).as("p"), xxhash64(col("col")).as("s"))
      .join(broadcast(refIdx), Seq("s"))
      .filter(col("doc_id") =!= col("eval_doc"))
      .select("doc_id", "p").distinct()
      .localCheckpoint()
    val contaminated = hits.select("doc_id").distinct()
    val covered = hits
      .select(col("doc_id"), explode(sequence(col("p"), col("p") + (n - 1))).as("j"))
      .distinct()
    // contaminated/covered are per-DOC and per-TOKEN frames of the hit
    // set — on a dup-dense corpus that is corpus-scale (the same
    // reasoning as the final join below), so BOTH joins stay key-
    // shuffled; broadcasting `covered` would materialize every covered
    // token position on every executor (round-14 review)
    val keptAgg = candidates
      .join(contaminated, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), posexplode(tk))
      .select(col("doc_id"), (col("pos") + 1).as("j"), col("col").as("tok"))
      .join(covered, Seq("doc_id", "j"), "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("j"), col("tok")))),
          x => x.getField("tok")), " ").as("clean"))
    val rebuilt = contaminated.join(keptAgg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean"), lit("")).as("clean"),
        lit(true).as("was_hit"))
    candidates
      .select(col("doc_id"), size(tk).cast("long").as("n_tokens"),
        array_join(tk, " ").as("norm"))
      // rebuilt carries full cleaned texts — contaminated-docs-sized,
      // which on a dup-dense corpus is CORPUS-sized, so this is a
      // doc_id-keyed shuffle join by design, never a broadcast
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        when(col("was_hit"), col("n_tokens") - col("n_kept"))
          .otherwise(0L).as("n_excised"),
        length(when(col("was_hit"), col("clean")).otherwise(col("norm")))
          .cast("long").as("clean_len"),
        md5(when(col("was_hit"), col("clean")).otherwise(col("norm"))
          .cast("binary")).as("clean_hash"))
  }

  def decontaminateNgram(candidates: DataFrame, reference: DataFrame,
                         n: Int = 3): DataFrame = {
    def idx(df: DataFrame, idCol: String) =
      df.select(col("doc_id").as(idCol), explode(shingleSet(n)).as("s"))
        .select(col(idCol), xxhash64(col("s")).as("shingle"))
    // shingle sets are distinct per doc (Shingles semantics), so the
    // candidate index is already (doc, shingle)-unique; the reference
    // index dedups band-style re-reads explicitly
    val ref = idx(reference, "eval_doc").distinct()
    idx(candidates, "doc_id")
      .join(broadcast(ref), Seq("shingle"))
      .filter(col("doc_id") =!= col("eval_doc"))
      .groupBy("doc_id")
      .agg(countDistinct(col("shingle")).as("n_shared_shingles"),
        countDistinct(col("eval_doc")).as("n_eval_docs"))
  }
}
