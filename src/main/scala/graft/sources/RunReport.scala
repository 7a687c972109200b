package graft.sources

import java.sql.Timestamp

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, GraftShim, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions._

/** Per-run processing reports — the reference pipeline's self-describing
  * JSON run logs (lambda_manifest_builder.py `report_metadata` /
  * `processing_summary`; glue_batch_job.py report section) re-expressed
  * as a Spark-native sink wrapper. The reference writes one JSON file
  * per invocation to `logs/lambda/` / `logs/glue/` and then queries
  * them with Athena (Athena.sql:44-176); graft writes one parquet row
  * per job run to a report directory and queries it with the SAME
  * analytics operators (q05–q08) every other event log feeds — see
  * [[asEventLog]].
  *
  * Scale notes:
  *  - `records_processed` comes from an [[Observation]] attached to the
  *    write itself — NO second scan of the input (a `df.count()` here
  *    would re-read 100 TB to report on it; the reference's Python can
  *    count rows in-process, a distributed engine must piggyback on the
  *    job that already flowed the rows).
  *  - `input_files` / `output_files` / `output_bytes` are filesystem
  *    metadata operations — O(files), never O(rows). The output pair
  *    counts the files THIS write committed (a listing before and
  *    after), so appends into one root never claim earlier runs.
  *  - A report row is a few hundred bytes; the report table for a year
  *    of hourly runs is <10k rows. Querying it is driver-trivial, so
  *    the analytics path reuses the ordinary event-log operators
  *    unchanged.
  *  - Bookkeeping runs on the driver with no Spark job: the report row
  *    is written by Spark's parquet writer on the driver ([[emit]]),
  *    [[readReports]] takes its schema from one footer, and
  *    [[emitJsonLog]] renders with the `to_json` generator. A reported
  *    write pays only for the job that writes its data.
  */
object RunReport {

  val ReportVersion = "1.0"

  /** One job run. Mirrors the union of the reference's lambda report
    * (`processing_summary`, `execution_metrics`, `report_metadata`) and
    * glue report (`job_info`, `parquet_files_created`) flattened to one
    * row — flat columns, not structs, so parquet stats/pushdown work on
    * every field and DuckDB reads it without extraction glue.
    * `error_message` is null on success (the glue report's shape). */
  final case class Run(
      job_name: String,
      run_id: String,
      started_at: Timestamp,
      finished_at: Timestamp,
      duration_seconds: Double,
      input_files: Long,
      records_processed: Long,
      output_files: Long,
      output_bytes: Long,
      status: String,
      error_message: Option[String],
      report_version: String,
      environment: String)

  // serializes a Run on the driver; one serializer per call (they are not thread-safe)
  private lazy val RunEncoder = ExpressionEncoder[Run]()

  /** [[Ingest.writeParquet]] plus a one-row run report appended to
    * `reportDir`. On write failure the FAILED report (with the error
    * message) is still emitted, then the failure rethrows — the
    * reference's behavior (report in the `except` branch, then raise),
    * and the property that makes the report table trustworthy: a run
    * that died is a row you can query, not a silent hole.
    *
    * Report emission is at-least-once: a retry of a failed-after-write
    * run appends a second report row (run_id distinguishes attempts).
    * Same contract as the reference's one-JSON-per-invocation logs. */
  def reportedWrite(df: DataFrame, path: String, targetPartitions: Int,
                    jobName: String, reportDir: String,
                    partitionCol: Option[String] = None,
                    mode: SaveMode = SaveMode.Append,
                    environment: String = "local",
                    runId: Option[String] = None): Run = {
    val spark = df.sparkSession
    // listed ahead of the clock, so duration_seconds times the write
    val before = dataFiles(spark, path)
    val started = System.currentTimeMillis()
    val id = runId.getOrElse(jobName + "-" + java.util.UUID.randomUUID().toString)
    val inputFiles = df.inputFiles.length.toLong
    val obs = Observation()
    val observed = df.observe(obs, count(lit(1)).as("rows"))
    val attempt =
      try {
        Ingest.writeParquet(observed, path, targetPartitions, partitionCol, mode)
        Right(obs.get("rows").asInstanceOf[Long])
      } catch {
        case e: Exception => Left(e)
      }
    val finished = System.currentTimeMillis()
    // every Spark write names its files afresh, so the new paths are
    // exactly the files this write committed
    val added = dataFiles(spark, path) -- before.keySet
    val run = Run(
      job_name = jobName, run_id = id,
      started_at = new Timestamp(started), finished_at = new Timestamp(finished),
      duration_seconds = (finished - started) / 1000.0,
      input_files = inputFiles,
      records_processed = attempt.getOrElse(0L),
      output_files = added.size.toLong, output_bytes = added.values.sum,
      status = if (attempt.isRight) "SUCCESS" else "FAILED",
      error_message = attempt.left.toOption.map(e =>
        e.toString.linesIterator.next().take(500)),
      report_version = ReportVersion, environment = environment)
    emit(spark, run, reportDir)
    attempt.left.foreach(e => throw e)
    run
  }

  /** Append one report row to the report table. One tiny file per run —
    * the same layout as the reference's one-JSON-per-invocation logs;
    * compact with an ordinary parquet rewrite when the table ages.
    *
    * Written on the driver through Spark's own parquet writer (the
    * factory a write task gets, so the session's compression,
    * timestamp and rebase settings apply as in any Spark write) — a
    * few hundred bytes do not need a job. Published atomically: the
    * file is written under a `.`-prefixed name every reader skips and
    * renamed to a unique `part-` name once closed. */
  private def emit(spark: SparkSession, run: Run, reportDir: String): Unit = {
    import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
    import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
    val job = Job.getInstance(GraftShim.newHadoopConf(spark))
    val factory = new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat()
      .prepareWrite(spark, job, Map.empty, RunEncoder.schema)
    val ctx = new TaskAttemptContextImpl(job.getConfiguration, new TaskAttemptID())
    val name = s"part-${java.util.UUID.randomUUID()}-c000${factory.getFileExtension(ctx)}"
    val tmp = new Path(reportDir, s".$name.inprogress")
    val fs = tmp.getFileSystem(job.getConfiguration)
    try {
      val w = factory.newInstance(tmp.toString, RunEncoder.schema, ctx)
      try w.write(RunEncoder.createSerializer()(run)) finally w.close()
      require(fs.rename(tmp, new Path(reportDir, name)), s"could not publish run report $tmp")
    } catch { case e: Throwable => fs.delete(tmp, false); throw e }
  }

  /** Length of every data file under `path`, keyed by path
    * (recursive; commit markers and hidden files excluded) —
    * filesystem metadata only. Listed before and after the write, the
    * difference is exactly the files the write committed: an append
    * into a root that already holds earlier runs' files reports only
    * its own (one writer per output root, the reference's contract). */
  private def dataFiles(spark: SparkSession, path: String): Map[String, Long] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // `listStatus`, not `listFiles`: a located status loads each file's
    // permissions, which the local FS answers with a process per file
    def walk(d: org.apache.hadoop.fs.Path): Iterator[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(d).iterator.flatMap(st => if (st.isDirectory) walk(st.getPath) else Iterator(st))
    if (!fs.exists(p)) Map.empty
    else walk(p).filter { f =>
      val name = f.getPath.getName
      !name.startsWith("_") && !name.startsWith(".")
    }.map(f => f.getPath.toString -> f.getLen).toMap
  }

  /** The report table, with its schema from one footer read on the
    * driver ([[graft.operators.Artifact.parquet]]) — no inference job. */
  def readReports(spark: SparkSession, reportDir: String): DataFrame =
    graft.operators.Artifact.parquet(spark, reportDir)

  /** The reference's LITERAL log layout, write side: one
    * self-describing JSON document per run under `logsDir/<job_name>/`
    * (lambda_manifest_builder writes `logs/lambda/…json`,
    * glue_batch_job `logs/glue/…json`; Athena.sql:42-110 queries them
    * as external JSON tables). Parquet ([[emit]]) stays graft's
    * primary report store — columnar stats, pushdown, no per-file
    * schema drift — but consumers still speaking the `logs/`
    * convention get the byte-level round trip here. The document is
    * rendered on the driver by the engine's own JSON generator (the one
    * `to_json` runs, with the same options — the exact serialization
    * [[readJsonLogs]]' reader parses back), timestamps in UTC
    * ISO-8601, and the single small file is written driver-side (a
    * report row is a few hundred bytes — running a distributed job to
    * emit it would be the tail wagging the dog). */
  def emitJsonLog(spark: SparkSession, run: Run, logsDir: String): Unit = {
    import org.apache.spark.sql.catalyst.json.{JacksonGenerator, JSONOptions}
    // timeZone pinned to UTC explicitly: to_json otherwise renders in
    // the SESSION zone, and the documented contract ("timestamps in
    // UTC ISO-8601") must hold for external consumers regardless of
    // how the writing session is configured
    // SSSSSS (micros): Spark timestamps carry microsecond precision, so
    // the fraction width must too — an SSS format silently truncated a
    // micros-precision Run, making readJsonLogs diverge from
    // readReports (round-15 advice; today's Runs are ms-precision, but
    // the round trip must not depend on that)
    val opts = new JSONOptions(Map(
      "timestampFormat" -> "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX", "timeZone" -> "UTC"), "UTC")
    val text = new java.io.CharArrayWriter
    val gen = new JacksonGenerator(RunEncoder.schema, text, opts)
    gen.write(RunEncoder.createSerializer()(run))
    gen.flush()
    val doc = text.toString
    val dir = new org.apache.hadoop.fs.Path(logsDir, run.job_name)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(dir)
    val f = new org.apache.hadoop.fs.Path(dir, s"${run.run_id}.json")
    val out = fs.create(f, true)
    try out.write((doc + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** The reference's log layout, read side: `spark.read.json` over the
    * one-JSON-per-run tree with the Run schema given EXPLICITLY — the
    * Athena external-table round trip (the DDL names its columns; so
    * do we), and the 100 TB discipline: schema inference over a
    * landing tree is a full extra pass ([[Ingest.readNdjson]]'s rule).
    * Returns [[readReports]]' exact shape, so [[asEventLog]] and
    * [[registerMetricsTable]] compose unchanged on top of raw logs. */
  def readJsonLogs(spark: SparkSession, logsDir: String): DataFrame = {
    spark.read.schema(RunEncoder.schema)
      .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")
      .option("timeZone", "UTC") // the write side's pinned zone
      .option("recursiveFileLookup", "true")
      .json(logsDir)
      .select(RunEncoder.schema.fieldNames.map(col).toSeq: _*)
  }

  /** The reference's metrics-table DDL
    * (metrics-app/create_metrics_table.py:10 — a (date_hour,
    * timestamp)-keyed store the collector lambda writes and dashboards
    * query) brought to the Spark catalog: the run-report table
    * registers EXTERNAL over its parquet, and the reference's access
    * path — partition key `date_hour` (yyyy-MM-dd-HH), sort key
    * epoch-millis `timestamp` — is realized as a catalog VIEW over it,
    * so the dashboard queries run as plain SQL
    * (`SELECT ... FROM graft.run_metrics WHERE date_hour = ...`).
    * A view, not a rewrite: the report files stay the source of truth
    * (100 TB note: partition the report table by a date column and the
    * date_hour predicate prunes files; the view is projection-only).
    * Idempotent; db validated because it is interpolated into DDL. */
  def registerMetricsTable(spark: SparkSession, reportDir: String,
                           db: String = "graft"): Unit = {
    require(db.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"database name must be a bare identifier, got '$db'")
    require(!reportDir.contains("'"),
      s"location path must not contain a quote, got '$reportDir'")
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    spark.sql(s"CREATE TABLE IF NOT EXISTS $db.run_reports " +
      s"USING PARQUET LOCATION '$reportDir'")
    spark.sql(
      s"""CREATE OR REPLACE VIEW $db.run_metrics AS
         |SELECT date_format(finished_at, 'yyyy-MM-dd-HH') AS date_hour,
         |       unix_millis(finished_at) AS `timestamp`,
         |       job_name, run_id, status, duration_seconds,
         |       records_processed, output_files, output_bytes
         |FROM $db.run_reports""".stripMargin)
  }

  /** Adapt the report table to the event-log schema q05–q08 consume, so
    * the engine's OWN runs flow through the same daily-summary /
    * failure-filter / duration-stats / correlation analytics as any
    * other event source (the reference points Athena's report queries
    * at its logs; graft points its operators at its reports):
    *  - q05 dailySummary   → runs/day, distinct jobs, total duration,
    *    failures (event_type = "error" for FAILED runs)
    *  - q06 failedEvents   → the failed-executions listing
    *  - q07 durationStats  → avg/max/min run duration per day
    *  - q08 correlationJoin→ props carries k = output_files
    * Hashed ids are stand-ins for the log's synthetic keys; the report
    * columns themselves stay queryable directly from [[readReports]]. */
  def asEventLog(reports: DataFrame): DataFrame =
    reports.select(
      xxhash64(col("run_id")).as("event_id"),
      col("finished_at").as("ts"),
      xxhash64(col("job_name")).as("user_id"),
      when(col("status") === "SUCCESS", lit("run_success"))
        .otherwise(lit("error")).as("event_type"),
      col("duration_seconds").as("value"),
      to_json(map(lit("k"), col("output_files").cast("string"))).as("props"))
}
