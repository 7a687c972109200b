package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** NDJSON→Parquet ingestion — the reference's Glue job
  * (glue_batch_job.py:147-209) re-expressed as a library.
  *
  * Differences from the reference, by design:
  *  - The manifest round-trip is optional: the file list is just the
  *    read path(s), and Spark's file source parallelizes the listing.
  *    [[readManifest]] replays a reference manifest on the driver.
  *  - No `df.cache(); df.count()` double-scan to size the output —
  *    callers pass a target partition count (computed from input bytes,
  *    see Analytics.outputSizing) and we `repartition` once.
  *  - Schema can be supplied to skip inference (inference = a full extra
  *    pass over 100 TB; at scale always pass a schema or sample).
  */
object Ingest {

  /** Read NDJSON files and stamp lineage columns
    * (`_source_file`, `_processing_timestamp`) like the reference. */
  def readNdjson(spark: SparkSession, paths: Seq[String],
                 schema: Option[StructType] = None): DataFrame = {
    val reader = spark.read.option("multiLine", "false")
    val df = schema.fold(reader)(reader.schema).json(paths: _*)
    stampLineage(df)
  }

  /** Parse a reference-shape manifest file into its path list — the
    * drop-in replay of the reference's manifest round-trip
    * (glue_batch_job.py:92-119 reads the JSON and flattens
    * `fileLocations[].URIPrefixes[]`; lambda_manifest_builder.py:
    * 1087-1090 writes exactly that shape). Feed the result to
    * [[readNdjson]] (or any reader).
    *
    * A manifest is KB-sized job METADATA (one path per landed file),
    * so it is opened through the Hadoop FileSystem and parsed on the
    * driver with Jackson — no Spark job. It accepts what the multiLine
    * JSON reader accepts for this shape: one manifest object, or a
    * top-level array of them, with `fileLocations[].URIPrefixes[]`
    * strings. An unparseable or wrong-shape manifest fails loudly: a
    * manifest that reads as zero files would silently skip the whole
    * batch. */
  def readManifest(spark: SparkSession, manifestPath: String): Seq[String] = {
    import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
    import scala.jdk.CollectionConverters._
    val p = new org.apache.hadoop.fs.Path(manifestPath)
    val in = p.getFileSystem(spark.sparkContext.hadoopConfiguration).open(p)
    // an empty file parses as a missing node, malformed JSON as nothing
    val root = try Option(new ObjectMapper().readTree(in)) catch {
      case _: com.fasterxml.jackson.core.JsonProcessingException => None
    } finally in.close()
    def elems(n: JsonNode): Iterator[JsonNode] =
      if (n != null && n.isArray) n.elements.asScala else Iterator.empty
    // a non-string URI reads as its JSON text, as the StringType reader does
    val paths = root.iterator.flatMap(r => if (r.isArray) elems(r) else Iterator(r))
      .flatMap(m => elems(m.get("fileLocations")))
      .flatMap(loc => elems(loc.get("URIPrefixes")))
      .map(u => if (u.isNull) null else if (u.isTextual) u.asText else u.toString)
      .toSeq
    require(paths.nonEmpty && paths.forall(_ != null),
      s"manifest at $manifestPath holds no file URIs — not a " +
        "fileLocations/URIPrefixes manifest, or an empty batch that " +
        "should never have produced a manifest")
    paths
  }

  /** [[readManifest]] + [[readNdjson]]: replay one reference manifest
    * end-to-end (glue_batch_job.py process_manifest minus the S3
    * client plumbing). */
  def readNdjsonManifest(spark: SparkSession, manifestPath: String,
                         schema: Option[StructType] = None): DataFrame =
    readNdjson(spark, readManifest(spark, manifestPath), schema)

  /** The write half of the manifest round-trip — batch a file list
    * into reference-shape manifest JSONs (`fileLocations/URIPrefixes`,
    * ≤ `maxPerManifest` files each, `batch-NNNN.json` names:
    * lambda_manifest_builder.py:1073-1103 minus the S3/DynamoDB claim
    * plumbing, whose atomicity q03/s03 already re-express as pure
    * batching). Driver-side by design: a manifest is KB-scale job
    * metadata (one URI per landed file), the same exception
    * [[readManifest]] documents — batching millions of DATA ROWS is
    * q03's distributed job, not this.
    *
    * Returns the manifest paths in batch order; [[readManifest]] of
    * each, concatenated, round-trips the input list exactly (pinned
    * in IngestSpec). */
  def writeManifests(paths: Seq[String], manifestDir: String,
                     maxPerManifest: Int = 10): Seq[String] = {
    require(paths.nonEmpty, "writeManifests needs a non-empty file list")
    require(maxPerManifest > 0, "maxPerManifest must be positive")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(manifestDir))
    def esc(s: String): String =
      s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        // control chars (incl. \n \t \r) must be escaped or the
        // manifest is invalid JSON that readManifest then rejects
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      }
    paths.grouped(maxPerManifest).zipWithIndex.map { case (batch, i) =>
      val uris = batch.map(p => "\"" + esc(p) + "\"").mkString(", ")
      val json = s"""{"fileLocations": [{"URIPrefixes": [$uris]}]}"""
      val out = java.nio.file.Paths.get(manifestDir, f"batch-$i%04d.json")
      java.nio.file.Files.writeString(out, json)
      out.toString
    }.toSeq
  }

  def stampLineage(df: DataFrame): DataFrame = df
    .withColumn("_source_file", input_file_name())
    .withColumn("_processing_timestamp", current_timestamp())

  /** Cast every column to string — the reference's schema-drift armor
    * (glue_batch_job.py:161-168). Narrow op, stays in codegen. */
  def castAllToString(df: DataFrame): DataFrame =
    df.select(df.columns.map(c => col(c).cast(StringType).as(c)): _*)

  /** Read CSV against a target schema, routing rows that violate it to
    * a `_corrupt_record` column instead of failing the job — the
    * CSV-landing-zone form of the reference's per-file validation
    * (lambda_manifest_builder.py:542-566): at 100 TB a malformed row
    * must route to quarantine, never abort a multi-hour read.
    *
    * Deliberately NOT the parser's own corrupt-record mechanism: that
    * column is populated only for the columns a query projects, so a
    * malformed value in an unprojected column silently passes — and in
    * Spark 4 a corrupt-only projection is a hard error. Instead every
    * column reads as a string (string parsing cannot fail, so every
    * line lands as a row) and schema violations are EXPLICIT cast
    * checks: a non-null raw value whose cast to the declared type
    * nulls. The validity expression references every declared column,
    * so Catalyst can never prune its way into missing a violation —
    * quarantine semantics hold under any downstream projection.
    * Token-count-short rows surface declared-column nulls; require
    * non-null keys via a validation rule (q02's policy layer), which
    * is the caller's contract, not the reader's.
    *
    * Extra-field rows (an unquoted delimiter shifting every later
    * column) are caught by a sentinel column appended to the raw
    * schema: CSV's PERMISSIVE mode silently DROPS surplus tokens
    * (token-count mismatch "is not a corrupted record to CSV"), so the
    * first surplus token is captured into the sentinel instead, and a
    * non-null sentinel is a violation.
    *
    * The quarantined row's `_corrupt_record` is reconstructed from the
    * parsed fields (unquoted join) — replayable, though not
    * byte-identical to a quoted source line. Split the result with
    * [[quarantineSplit]]. */
  def readCsv(spark: SparkSession, paths: Seq[String], schema: StructType,
              header: Boolean = true): DataFrame = {
    val extra = "_extra_tokens"
    // the reader appends bookkeeping columns to the caller's schema; a
    // declared column with one of these names would be silently
    // shadowed/misread (round-6 ADVICE — same contract as saltedJoin's
    // _salt_l/_salt_r require)
    val reserved = Seq(extra, "_corrupt_record", "_source_file", "_processing_timestamp")
    val clash = schema.fieldNames.toSet.intersect(reserved.toSet)
    require(clash.isEmpty,
      s"readCsv schema declares reserved column name(s): ${clash.toSeq.sorted.mkString(", ")}")
    val rawSchema = StructType(schema.fields.map(f =>
      StructField(f.name, StringType, nullable = true)) :+
      StructField(extra, StringType, nullable = true))
    val raw = stampLineage(
      spark.read.schema(rawSchema).option("header", header.toString).csv(paths: _*))
    // try_cast, not cast: ANSI mode (Spark 4 default) makes a plain
    // cast THROW on malformed input — the exact job-abort this reader
    // exists to prevent
    def typedCol(f: StructField) = expr(s"try_cast(`${f.name}` AS ${f.dataType.sql})")
    val violation = (schema.fields.map(f =>
        col(f.name).isNotNull && typedCol(f).isNull)
      :+ col(extra).isNotNull).reduce(_ || _)
    val typed = schema.fields.map(f => typedCol(f).as(f.name))
    raw.select(typed
      :+ when(violation,
           // concat_ws skips nulls, so the sentinel only appears on
           // rows that actually overflowed
           concat_ws(",", schema.fieldNames.map(n => coalesce(col(n), lit(""))) :+
             col(extra): _*))
         .as("_corrupt_record")
      :+ col("_source_file") :+ col("_processing_timestamp"): _*)
  }

  /** Route a [[readCsv]] result into (valid, quarantined): quarantined
    * rows keep the reconstructed line for replay/debugging, valid rows
    * drop the bookkeeping column. One narrow filter each — both sides
    * stay in codegen. */
  def quarantineSplit(df: DataFrame): (DataFrame, DataFrame) = (
    df.filter(col("_corrupt_record").isNull).drop("_corrupt_record"),
    df.filter(col("_corrupt_record").isNotNull))

  /** Physically land the quarantined side — the row-level analog of the
    * reference's quarantine relocation (lambda_manifest_builder.py:
    * 570-592 copies the object to the quarantine bucket tagged with
    * `quarantine_reason` + original location). Rows are stamped with
    * the reason and written date-partitioned (the reference's
    * date-prefix layout) through [[RunReport.reportedWrite]], so every
    * quarantine run is a queryable q56 report row — counts come from
    * the write's own Observation, no second scan.
    *
    * The date column derives from `_processing_timestamp` when the
    * frame came through a stamped reader (lineage-accurate replay
    * buckets), else from the session clock.
    *
    * A pre-existing `_quarantine_reason` column WINS over the `reason`
    * parameter — callers with per-row reasons (streaming validation,
    * [[graft.streaming.Streams.streamQuarantine]]) stamp it upstream
    * and this sink preserves it; `reason` is the whole-run tag for the
    * reference's one-reason-per-file shape. */
  def quarantineWrite(invalid: DataFrame, path: String, reportDir: String,
                      reason: String = "schema_violation",
                      jobName: String = "quarantine",
                      targetPartitions: Int = 1,
                      environment: String = "local",
                      runId: Option[String] = None): RunReport.Run = {
    require(!invalid.columns.contains("_quarantine_date"),
      "quarantineWrite input already declares: _quarantine_date")
    val dateSrc =
      if (invalid.columns.contains("_processing_timestamp")) col("_processing_timestamp")
      else current_timestamp()
    val reasoned =
      if (invalid.columns.contains("_quarantine_reason")) invalid
      else invalid.withColumn("_quarantine_reason", lit(reason))
    val stamped = reasoned.withColumn("_quarantine_date", to_date(dateSrc))
    RunReport.reportedWrite(stamped, path, targetPartitions, jobName,
      reportDir, partitionCol = Some("_quarantine_date"),
      environment = environment, runId = runId)
  }

  /** Write a table bucketed (and optionally sorted) by a join key —
    * the co-located-join preparation SURVEY §5 prescribes: two tables
    * bucketed by the same key into the same bucket count join with NO
    * shuffle on either side (the exchange is pre-paid once at write
    * time, then amortized over every downstream join/agg on that key).
    * Bucketing needs the catalog (file→bucket assignment lives in
    * table metadata), hence `saveAsTable` rather than a path write. */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
                    nBuckets: Int, sortCols: Seq[String] = Nil,
                    mode: SaveMode = SaveMode.Overwrite): Unit = {
    val w = df.write.mode(mode).format("parquet").bucketBy(nBuckets, bucketCol)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .saveAsTable(table)
  }

  /** Write date-partitioned snappy parquet. `targetPartitions` controls
    * output file count (size-targeted by the caller); `partitionBy` a
    * date column gives the reference's merged-parquet-YYYY-MM-DD layout
    * natively. */
  def writeParquet(df: DataFrame, path: String,
                   targetPartitions: Int,
                   partitionCol: Option[String] = None,
                   mode: SaveMode = SaveMode.Append,
                   compression: String = "snappy"): Unit = {
    val sized = df.repartition(math.max(targetPartitions, 1))
    val w = sized.write.mode(mode).option("compression", compression)
    partitionCol.fold(w)(c => w.partitionBy(c)).parquet(path)
  }
}
