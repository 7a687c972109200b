package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The ARTIFACT COMMIT PROTOCOL of graft's epoch-committed indexes (the
  * BM25 index in [[Retrieval]], the ANN index in [[Similarity]]) and the
  * JVM-session cache of their validated metadata. The families keep
  * only what their legs hold, their stamps and checks, their merges and
  * their health numbers; every step below lives here once.
  *
  * Layout: a DATA LEG (`postings/`, `codes/`) partitioned by the
  * family's partition column and the mutation epoch `_b_epoch`; the
  * family's other legs (`lexicon/`; `centroids/` + `codebook/`); and a
  * one-row `stats/` carrying `_p_epoch` (the committed epoch) and
  * `_p_batch_id` (the last streaming batch applied, -1 = none). Stats
  * is written LAST: it is the commit point every reader adjudicates
  * the other legs against.
  *
  *  - build ([[build]]): invalidate the cache entry, RETRACT `stats/`
  *    (a rebuild that dies midway reads as a missing commit point, never
  *    as the old stamps over new legs), write the legs at epoch 0 — the
  *    data leg concurrently with the family's own legs — then stats,
  *    then install the cache entry.
  *  - read: a cache hit ([[cached]]) checks the commit-leg fingerprint
  *    and the data leg's epoch directories against the committed epoch;
  *    a cold read ([[committed]] + [[dataLeg]]) requires every leg and a
  *    one-row stats, takes every leg's schema from one parquet footer
  *    ([[parquet]]) and the data leg's epochs from its directory names
  *    ([[partitions]]), scans no data leg, and refuses a torn state
  *    loudly.
  *  - mutate at E+1 ([[mutate]]): the replay fence, invalidate, the
  *    data leg (appended at E+1, or swapped whole) concurrently with the
  *    family's pre-commit work and AWAITED before the first destructive
  *    swap, the family's leg swaps, the stats swap validated as one row
  *    at E+1, install.
  *  - compact ([[compact]]): epochs collapsed to the committed one,
  *    then [[compactRows]] — the one content-checked rewrite every
  *    append-grown store compacts through (these two legs, the band
  *    index, s09's admitted-text store, the semantic store).
  *  - recover ([[recovery]]): the one text every torn-state refusal
  *    carries.
  *
  * Cache consistency contract: entries hold validated METADATA only
  * (scalars + KB-scale centroid/codebook arrays + resolved schemas) —
  * every data-bearing frame is re-created from parquet per read. An
  * entry is keyed on the artifact path and guarded by a driver-side
  * FINGERPRINT of the commit legs (every committed mutation swaps them
  * with fresh part-file names), so a mutation by another process falls
  * back to full validation; in-JVM writers invalidate before their
  * first write and install only past their commit point. A torn
  * mutation by another process CONCURRENT with a cached reader is
  * outside the offline-maintenance contract (quiesce first). */
private[graft] object Artifact {

  /** One epoch-committed artifact family: `dataLeg` is partitioned by
    * (`partCol`, `_b_epoch`) and holds at least `dataCols`; `legs` are
    * the family's other swapped legs (fingerprinted with `stats/`);
    * `rebuild` names the build a recovery re-runs. */
  final case class Family(name: String, dataLeg: String, partCol: String,
                          dataCols: Seq[String], legs: Seq[String],
                          rebuild: String) {
    def key(path: String): String = s"$name:$path"
    private[Artifact] def fpDirs(path: String): Seq[String] =
      ("stats" +: legs).map(l => s"$path/$l")
  }

  /** A committed artifact state: its epoch, the last streaming batch
    * applied, and the family's validated metadata (the stats row on a
    * cold read). */
  final case class Committed[M](epoch: Long, batchId: Long, meta: M)

  /** The family's half of one commit, evaluated in protocol order:
    * `data` (in its own thread, epoch-stamped here) concurrently with
    * [[precommit]], then [[swaps]], [[stats]] (the row WITHOUT the
    * epoch stamps) and [[meta]]. `replace` = the data leg is swapped
    * whole instead of appended, validated to hold that many rows. */
  abstract class Mutation[P] {
    def data: DataFrame
    def replace: Option[Long] = None
    def precommit(): P
    def swaps: Seq[LegSwap] = Nil
    def stats: DataFrame
    def meta: AnyRef
  }

  /** A non-data leg rewritten through [[swap]] during a mutation. */
  final case class LegSwap(leg: String, write: String => Unit,
                           valid: String => Boolean)

  private val Epoch = "_b_epoch"

  // ---- the validated-metadata cache ----

  private val entries =
    new java.util.concurrent.ConcurrentHashMap[String, (String, AnyRef)]()

  /** One FS listing per dir — (name, length, mtime) of its children —
    * no Spark job, no footer read. */
  private def fingerprint(spark: SparkSession, dirs: Seq[String]): String = {
    val conf = spark.sparkContext.hadoopConfiguration
    dirs.map { d =>
      val p = new Path(d)
      try {
        p.getFileSystem(conf).listStatus(p)
          .map(s => s"${s.getPath.getName}:${s.getLen}:${s.getModificationTime}")
          .sorted.mkString(d + "[", "|", "]")
      } catch { case _: java.io.FileNotFoundException => s"$d[ABSENT]" }
    }.mkString("\n")
  }

  /** The cached metadata for `key` iff its fingerprint still matches. */
  def lookup[T <: AnyRef](spark: SparkSession, key: String,
                          fpDirs: Seq[String]): Option[T] =
    Option(entries.get(key)).collect {
      case (fp, v) if fp == fingerprint(spark, fpDirs) => v.asInstanceOf[T]
    }

  /** Install metadata for the artifact's CURRENT committed state
    * (fingerprint taken now — callers must be past their commit point). */
  def install(spark: SparkSession, key: String, fpDirs: Seq[String],
              value: AnyRef): Unit =
    entries.put(key, (fingerprint(spark, fpDirs), value))

  def install(spark: SparkSession, f: Family, path: String,
              c: Committed[_ <: AnyRef]): Unit =
    install(spark, f.key(path), f.fpDirs(path), c)

  /** Drop the entry — every writer's FIRST action before mutating. */
  def invalidate(key: String): Unit = entries.remove(key)

  private def fsOf(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The data leg's `partCol=P/_b_epoch=E` directories as (P, E) pairs,
    * from their NAMES — a driver-side `listStatus` walk, no Spark job,
    * no footer read (`listStatus`, not `listFiles`: a located status
    * loads each entry's permissions, which the local FS answers with a
    * process per entry). Keeps the torn-append detector live on every
    * read: the data leg is not fingerprinted, but an orphan write
    * always lands under a fresh `_b_epoch=E+1`. */
  private def partitions(spark: SparkSession, f: Family, path: String): Seq[(String, Long)] = {
    val fs = fsOf(spark, path)
    def named(p: Path, key: String) = fs.listStatus(p).toSeq.map(_.getPath)
      .filter(_.getName.startsWith(s"$key=")).map(q => q -> q.getName.substring(key.length + 1))
    try {
      named(new Path(s"$path/${f.dataLeg}"), f.partCol).flatMap { case (dir, v) =>
        named(dir, Epoch).map { case (_, e) => (v, e.toLong) }
      }
    } catch { case _: java.io.FileNotFoundException => Nil }
  }

  /** Read a parquet directory with the schema of ONE data file's
    * footer, read on the driver — Spark's own inference reads one file
    * too, but in a job. The schema is Spark's row-metadata JSON (the
    * Parquet type converter for files written without it); partition
    * columns are still inferred from the directory names, with the
    * types inference gives them. A directory with no data file reads
    * as `spark.read.parquet` does — unless it is absent while its
    * `<dir>__precompact` sibling exists: a [[swap]] died between its
    * two renames, and the read refuses with the rename that recovers
    * it. `schema`, when the caller already holds it, skips the footer
    * read. */
  def parquet(spark: SparkSession, dir: String, schema: Option[StructType] = None): DataFrame =
    schema.orElse(footerSchema(spark, dir)) match {
      case Some(s) => spark.read.schema(s).parquet(dir)
      case None =>
        val fs = fsOf(spark, dir)
        val aside = s"${dir}__precompact"
        require(fs.exists(new Path(dir)) || !fs.exists(new Path(aside)),
          s"$dir is absent but $aside exists: a compaction crashed mid-swap. " +
            s"Recover by renaming $aside back to $dir.")
        spark.read.parquet(dir)
    }

  private def footerSchema(spark: SparkSession, dir: String): Option[StructType] = {
    import org.apache.spark.sql.execution.datasources.parquet._
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = fsOf(spark, dir)
    // Spark's reader skips these names (its hidden-file rule)
    def visible(n: String) = !n.startsWith(".") && (!n.startsWith("_") || n.contains("="))
    def first(p: Path): Option[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(p).sortBy(_.getPath.getName).iterator.filter(st => visible(st.getPath.getName))
        .flatMap(st => if (st.isDirectory) first(st.getPath) else Some(st)).nextOption()
    val file = try first(new Path(dir)) catch { case _: java.io.FileNotFoundException => None }
    file.map { st =>
      val footer = ParquetFooterReader.readFooter(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf),
        org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS)
      ParquetFileFormat.readSchemaFromFooter(
        new org.apache.parquet.hadoop.Footer(st.getPath, footer),
        new ParquetToSparkSchemaConverter(org.apache.spark.sql.internal.SQLConf.get))
    }
  }

  // ---- read ----

  /** Cache hit: fingerprint match AND the data leg's epoch directories
    * agreeing with the committed epoch; anything else falls through to
    * the cold read, which fails loud on a torn state. */
  def cached[M <: AnyRef](spark: SparkSession, f: Family,
                          path: String): Option[Committed[M]] =
    lookup[Committed[M]](spark, f.key(path), f.fpDirs(path))
      .filter(c => partitions(spark, f, path).map(_._2).maxOption.contains(c.epoch))

  /** Cold read, first half: every leg present and the commit point ONE
    * row — its epoch, batch fence and the row for the family's stamps. */
  def committed(spark: SparkSession, f: Family, path: String): Committed[Row] = {
    val fs = fsOf(spark, path)
    require(fs.exists(new Path(s"$path/stats")),
      s"${f.name} index at $path has no stats commit point — a build died " +
        s"before committing (or the path holds no index). ${recovery(spark, f, path)}")
    val missing = (f.dataLeg +: f.legs).filterNot(l => fs.exists(new Path(s"$path/$l")))
    require(missing.isEmpty,
      s"${f.name} index at $path is TORN: leg(s) ${missing.mkString(", ")} " +
        s"missing. ${recovery(spark, f, path)}")
    val rows = parquet(spark, s"$path/stats").collect()
    require(rows.length == 1,
      s"${f.name} index at $path: stats must be ONE row, got ${rows.length}. " +
        recovery(spark, f, path))
    Committed(rows.head.getAs[Long]("_p_epoch"), rows.head.getAs[Long]("_p_batch_id"),
      rows.head)
  }

  /** Cold read, second half: the data leg (footer schema) and its
    * [[partitions]] — the max epoch refused unless it equals `epoch`
    * (orphan files of an uncommitted mutation); the partition values
    * are returned for the family's own checks. No Spark job. */
  def dataLeg(spark: SparkSession, f: Family, path: String,
              epoch: Long): (DataFrame, Seq[String]) = {
    val data = parquet(spark, s"$path/${f.dataLeg}")
    require((f.dataCols :+ f.partCol :+ Epoch).toSet.subsetOf(data.columns.toSet),
      s"${f.name} index at $path: ${f.dataLeg} lack expected columns, got " +
        data.columns.mkString(", "))
    val parts = partitions(spark, f, path)
    val maxEpoch = parts.map(_._2).max
    require(maxEpoch == epoch,
      s"${f.name} index at $path is TORN: ${f.dataLeg} carry epoch " +
        s"$maxEpoch but stats committed epoch $epoch — a mutation " +
        s"crashed before its stats commit. ${recovery(spark, f, path)}")
    (data, parts.map(_._1).distinct)
  }

  /** The ONE recovery text of every torn-state refusal. Rebuilding
    * recovers every state (a build retracts the commit point and
    * overwrites every leg); a `__precompact` copy exists only when a
    * swap died between its two renames, and renaming it back undoes
    * only that one swap. */
  def recovery(spark: SparkSession, f: Family, path: String): String = {
    val fs = fsOf(spark, path)
    val copies = (f.dataLeg +: "stats" +: f.legs).filter(l =>
      !fs.exists(new Path(s"$path/$l")) && fs.exists(new Path(s"$path/${l}__precompact")))
    s"Recover by rebuilding the index: re-run ${f.rebuild} over the corpus " +
      "it held, then re-run the interrupted append, rotate or compaction" +
      (if (copies.isEmpty) "."
       else "; a swap died between its two renames: renaming " +
         copies.map(l => s"$path/${l}__precompact back to $l").mkString(" and ") +
         " undoes only that swap, and a read that still refuses needs the rebuild.")
  }

  // ---- write ----

  private def epoched(data: DataFrame, epoch: Long) = data.withColumn(Epoch, lit(epoch))

  private def dataWriter(f: Family, data: DataFrame, epoch: Long) =
    epoched(data, epoch).write.partitionBy(f.partCol, Epoch)

  private def stamped(stats: DataFrame, epoch: Long, batchId: Long): DataFrame =
    stats.withColumn("_p_epoch", lit(epoch)).withColumn("_p_batch_id", lit(batchId))
      .coalesce(1)

  /** The data leg runs in its own thread while `work` runs on the
    * caller's: independent writes into different directories, all
    * ahead of the commit point (guide §2.6). Both are awaited before
    * this returns — no later step can overtake an in-flight leg. */
  private def overlapped[P](leg: => Unit)(work: => P): P = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val legF = Future(leg)(ExecutionContext.global)
    val p = try work finally Await.ready(legF, Duration.Inf)
    Await.result(legF, Duration.Inf)
    p
  }

  /** Build at epoch 0 over a retracted commit point. */
  def build(spark: SparkSession, f: Family, path: String)(m: Mutation[_]): Unit = {
    invalidate(f.key(path))
    val statsDir = new Path(s"$path/stats")
    fsOf(spark, path).delete(statsDir, true)
    overlapped(dataWriter(f, m.data, 0L).mode("overwrite").parquet(s"$path/${f.dataLeg}"))(
      m.precommit())
    stamped(m.stats, 0L, -1L).write.mode("overwrite").parquet(s"$path/stats")
    install(spark, f, path, Committed(0L, -1L, m.meta))
  }

  /** Mutate the state committed at `epoch` to epoch E+1. A `batchId`
    * not past the artifact's fence `lastBatch` is an at-least-once
    * replay: a no-op (None). A failure before the data leg commits
    * leaves the pre-state servable; after it, every read refuses the
    * torn state with [[recovery]] until the stats swap commits. */
  def mutate[P](spark: SparkSession, f: Family, path: String, epoch: Long,
                lastBatch: Long, batchId: Option[Long])(
                prepare: Long => Mutation[P]): Option[P] = {
    if (batchId.exists(_ <= lastBatch)) return None
    invalidate(f.key(path))
    val e = epoch + 1L
    val m = prepare(e)
    val dataDir = s"$path/${f.dataLeg}"
    val p = overlapped(m.replace match {
      case None => dataWriter(f, m.data, e).mode("append").parquet(dataDir)
      case Some(n) =>
        swap(spark, dataDir, s"${f.name} ${f.dataLeg}")(
          dataWriter(f, m.data, e).mode("overwrite").parquet(_)) { tmp =>
          val got = parquet(spark, tmp, Some(epoched(m.data, e).schema))
            .agg(count(lit(1)), max(col(Epoch).cast("long"))).head()
          require(got.getLong(0) == n && got.getLong(1) == e,
            s"${f.name} index at $path: the ${f.dataLeg} rewrite holds " +
              s"${got.getLong(0)} rows at epoch ${got.getLong(1)}, expected $n " +
              s"at $e — aborting with the live index intact")
        }
    })(m.precommit())
    def torn(leg: String) =
      s"${f.name} index at $path: the $leg rewrite at epoch $e failed " +
        s"validation — the index is left TORN (${f.dataLeg} at epoch $e, stats " +
        s"at $epoch). ${recovery(spark, f, path)}"
    m.swaps.foreach(s =>
      swap(spark, s"$path/${s.leg}", s"${f.name} ${s.leg}")(s.write)(tmp =>
        require(s.valid(tmp), torn(s.leg))))
    val b = batchId.getOrElse(lastBatch)
    val st = stamped(m.stats, e, b)
    swap(spark, s"$path/stats", s"${f.name} stats")(
      st.write.mode("overwrite").parquet(_)) { tmp =>
      val got = parquet(spark, tmp, Some(st.schema)).collect()
      require(got.length == 1 && got.head.getAs[Long]("_p_epoch") == e, torn("stats"))
    }
    install(spark, f, path, Committed(e, b, m.meta))
    Some(p)
  }

  /** Compact the data leg through [[compactRows]], epochs collapsed to
    * the committed one (a validated compaction IS one consistent
    * corpus; keeping the epochs would keep O(appends) directories). The
    * data leg is not fingerprinted, so the entry is dropped here; the
    * next read revalidates. */
  def compact(spark: SparkSession, f: Family, path: String, epoch: Long,
              sortCols: Seq[String]): (Long, Long) = {
    invalidate(f.key(path))
    val dir = s"$path/${f.dataLeg}"
    compactRows(spark, dir, s"${f.name} ${f.dataLeg}",
      epoched(parquet(spark, dir), epoch), Seq(f.partCol, Epoch), sortCols)
  }

  /** THE compaction of every append-grown store: rewrite `dir` to hold
    * exactly `rows`, repartitioned by the leading partition column (ONE
    * partition for an unpartitioned store — no new shuffle key) and
    * sorted by `sortCols` within each, then [[swap]] it in iff the
    * rewrite's [[sig]] equals the rows' (compared by column name: a
    * read-back puts partition columns last); any difference aborts
    * loudly with the live tree untouched. File size is the session's
    * `spark.sql.files.maxRecordsPerFile`. Offline maintenance: quiesce
    * writers and readers first. Returns (files_before, files_after). */
  def compactRows(spark: SparkSession, dir: String, what: String, rows: DataFrame,
                  partCols: Seq[String], sortCols: Seq[String]): (Long, Long) = {
    val want = sig(rows)
    val parted = partCols.headOption.fold(rows.repartition(1))(p => rows.repartition(col(p)))
    val sorted = if (sortCols.isEmpty) parted else parted.sortWithinPartitions(sortCols.map(col): _*)
    swap(spark, dir, what)(sorted.write.mode("overwrite").partitionBy(partCols: _*).parquet(_)) { tmp =>
      val got = sig(parquet(spark, tmp, Some(rows.schema)).select(rows.columns.map(col): _*))
      require(got == want,
        s"compaction of $dir would change content ((rows, checksum) " +
          s"$want -> $got) — aborting with the live $what untouched")
    }
  }

  /** The crash-safe swap of one directory, shared by every rewrite of a
    * live tree (artifact legs, [[compactRows]]):
    * count files (a `listStatus` walk, see [[partitions]]), write to
    * `<path>__compacting`, run the caller's validation against it, then
    * rename the live tree to `<path>__precompact`, the rewrite to
    * `path`, and delete the old tree. A refused rewrite (the validation
    * threw) is deleted before the error rethrows. A crash before the
    * renames leaves the live tree untouched;
    * between them, `<path>__precompact` is the only copy (rename it
    * back; [[parquet]] and [[recovery]] say so). Returns (files_before,
    * files_after). */
  def swap(spark: SparkSession, path: String, what: String)
          (writeTo: String => Unit)
          (validateTmp: String => Unit): (Long, Long) = {
    val fs = fsOf(spark, path)
    def dataFiles(p: Path): Long = fs.listStatus(p).iterator.map(st =>
      if (st.isDirectory) dataFiles(st.getPath)
      else if (st.getPath.getName.endsWith(".parquet")) 1L else 0L).sum
    val before = dataFiles(new Path(path))
    val tmp = s"${path}__compacting"
    val old = s"${path}__precompact"
    fs.delete(new Path(tmp), true); fs.delete(new Path(old), true)
    writeTo(tmp)
    // a refused rewrite is a full copy of the store: drop it now
    try validateTmp(tmp) catch { case e: Throwable => fs.delete(new Path(tmp), true); throw e }
    require(fs.rename(new Path(path), new Path(old)),
      s"could not move live $what aside ($path -> $old)")
    require(fs.rename(new Path(tmp), new Path(path)),
      s"could not activate compacted $what ($tmp -> $path); " +
        s"RECOVER by renaming $old back to $path")
    fs.delete(new Path(old), true)
    (before, dataFiles(new Path(path)))
  }

  /** Order-free content signature: (row count, SUM of per-row xxhash64
    * widened to decimal(38) — no overflow under ANSI). Sum, not
    * bit_xor: identical rows cancel in PAIRS under xor. xxhash64 skips
    * null arguments, so a value<->null swap hashes alike. */
  def sig(df: DataFrame): (Long, java.math.BigDecimal) = {
    val r = df.agg(count(lit(1)),
      expr(s"sum(cast(xxhash64(${df.columns.map(c => s"`$c`").mkString(", ")}) " +
        "as decimal(38,0)))")).head()
    (r.getLong(0), if (r.isNullAt(1)) java.math.BigDecimal.ZERO else r.getDecimal(1))
  }
}
