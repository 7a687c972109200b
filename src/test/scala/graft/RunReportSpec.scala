package graft

import java.nio.file.Files

import graft.operators.Analytics
import graft.sources.{Ingest, RunReport}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import scala.jdk.CollectionConverters._

/** Run-report emission (q56) — the reference's self-describing JSON run
  * logs (lambda/glue report sections, queried by Athena.sql:104-176) as
  * a Spark sink wrapper: metric correctness, the failure path, the
  * event-log adapter feeding q05–q08, and the streaming per-batch form. */
class RunReportSpec extends SparkSpec with graft.operators.JobsDuring {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("q56 reportedWrite reports the write it performed, without a second scan") {
    val dir = tmp("graft_rr")
    val docs = tables.documents
    val n = docs.count()
    val run = RunReport.reportedWrite(
      docs, s"$dir/out", 4, "docs_ingest", s"$dir/reports")
    run.status shouldBe "SUCCESS"
    run.records_processed shouldBe n
    run.output_files shouldBe 4L
    run.input_files should be > 0L
    run.output_bytes should be > 0L
    run.duration_seconds should be >= 0.0
    run.error_message shouldBe None
    // the write really happened, with the reported shape
    spark.read.parquet(s"$dir/out").count() shouldBe n
    // the report row round-trips through its own table
    val back = RunReport.readReports(spark, s"$dir/reports").collect()
    back.length shouldBe 1
    back.head.getAs[String]("job_name") shouldBe "docs_ingest"
    back.head.getAs[Long]("records_processed") shouldBe n
  }

  test("q56 appends into one root: each report counts only its own run's files") {
    val dir = tmp("graft_rr_append")
    def files(): Map[String, Long] = {
      val it = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$dir/out"))
      try it.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .filterNot(p => Seq("_", ".").exists(p.getFileName.toString.startsWith))
        .map(p => p.toString -> java.nio.file.Files.size(p)).toMap
      finally it.close()
    }
    val r1 = RunReport.reportedWrite(
      tables.documents, s"$dir/out", 3, "docs_ingest", s"$dir/reports")
    val first = files()
    r1.output_files shouldBe 3L
    r1.output_bytes shouldBe first.values.sum
    val r2 = RunReport.reportedWrite(
      tables.documents, s"$dir/out", 2, "docs_ingest", s"$dir/reports")
    val added = files() -- first.keySet
    added.size shouldBe 2
    r2.output_files shouldBe 2L
    r2.output_bytes shouldBe added.values.sum
    // the report table carries the per-run counts, not running totals
    RunReport.readReports(spark, s"$dir/reports").collect()
      .map(_.getAs[Long]("output_files")).sorted shouldBe Array(2L, 3L)
  }

  test("q56 the logs/ JSON round trip: one JSON per run, read back identical to the parquet table") {
    val dir = tmp("graft_rrjson")
    val r1 = RunReport.reportedWrite(
      tables.documents, s"$dir/out1", 2, "lambda", s"$dir/reports")
    val r2 = RunReport.reportedWrite(
      tables.events, s"$dir/out2", 2, "glue", s"$dir/reports")
    RunReport.emitJsonLog(spark, r1, s"$dir/logs")
    RunReport.emitJsonLog(spark, r2, s"$dir/logs")
    // the reference's literal layout: logs/<job>/<run_id>.json, one
    // self-describing document per invocation (Athena.sql:42-110)
    def visible(d: String) = new java.io.File(d).listFiles()
      .map(_.getName).filterNot(_.startsWith(".")) // checksum sidecars
    visible(s"$dir/logs/lambda") shouldBe Array(s"${r1.run_id}.json")
    visible(s"$dir/logs/glue") shouldBe Array(s"${r2.run_id}.json")
    // read side = the Athena external JSON table: explicit schema,
    // recursive tree, EXACT row equality with the parquet report store
    val fromJson = RunReport.readJsonLogs(spark, s"$dir/logs")
      .collect().map(_.toSeq).toSet
    val fromParquet = RunReport.readReports(spark, s"$dir/reports")
      .collect().map(_.toSeq).toSet
    fromJson shouldBe fromParquet
    // and the downstream adapters compose unchanged on raw logs
    Analytics.failedEvents(
      RunReport.asEventLog(RunReport.readJsonLogs(spark, s"$dir/logs")))
      .count() shouldBe 0L
  }

  test("q56 reportedWrite runs exactly the jobs of its data write") {
    val dir = tmp("graft_rr_jobs")
    // the same data write, bare, into a fresh root
    val (_, dataJobs) = jobsDuring(Ingest.writeParquet(tables.documents, s"$dir/bare", 2))
    jobsDuring(RunReport.reportedWrite(
      tables.documents, s"$dir/out", 2, "jobs_probe", s"$dir/reports"))._2 shouldBe dataJobs
  }

  test("q56 readReports runs no job before an action; emitJsonLog runs none") {
    val dir = tmp("graft_rr_readjobs")
    val run = RunReport.reportedWrite(
      tables.documents, s"$dir/out", 2, "jobs_probe", s"$dir/reports")
    val (reports, readJobs) = jobsDuring(RunReport.readReports(spark, s"$dir/reports"))
    val (_, logJobs) = jobsDuring(RunReport.emitJsonLog(spark, run, s"$dir/logs"))
    (readJobs, logJobs) shouldBe (0, 0)
    reports.count() shouldBe 1L
  }

  test("q56 a driver-emitted report reads back like a Spark-written one: SUCCESS and FAILED, null error_message") {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val dir = tmp("graft_rr_parity")
    RunReport.reportedWrite(tables.documents, s"$dir/o1", 2, "ok_job", s"$dir/emitted")
    intercept[Exception] {
      RunReport.reportedWrite(tables.documents.withColumn("x", expr("raise_error('dead')")),
        s"$dir/o2", 2, "bad_job", s"$dir/emitted")
    }
    val enc = org.apache.spark.sql.Encoders.product[RunReport.Run]
    val runs = spark.read.parquet(s"$dir/emitted").as(enc).collect().sortBy(_.job_name)
    runs.map(r => (r.job_name, r.status, r.error_message.isDefined)) shouldBe
      Array(("bad_job", "FAILED", true), ("ok_job", "SUCCESS", false))
    // the same runs through a distributed parquet write
    spark.createDataset(runs.toSeq)(enc).toDF().coalesce(1)
      .write.parquet(s"$dir/written")
    val emitted = RunReport.readReports(spark, s"$dir/emitted")
    val written = RunReport.readReports(spark, s"$dir/written")
    emitted.schema shouldBe written.schema
    spark.read.parquet(s"$dir/emitted").schema shouldBe spark.read.parquet(s"$dir/written").schema
    emitted.collect().map(_.toSeq).toSet shouldBe written.collect().map(_.toSeq).toSet
    // file level: one parquet schema, one Spark row schema, one codec
    def footers(d: String) = new java.io.File(d).listFiles().filter(_.getName.startsWith("part-"))
      .map { f =>
        val in = HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(f.toString),
          spark.sparkContext.hadoopConfiguration)
        val r = ParquetFileReader.open(in)
        try {
          val m = r.getFooter
          (m.getFileMetaData.getSchema.toString,
            m.getFileMetaData.getKeyValueMetaData.get("org.apache.spark.sql.parquet.row.metadata"),
            m.getBlocks.get(0).getColumns.get(0).getCodec.toString)
        } finally r.close()
      }.toSet
    footers(s"$dir/emitted") shouldBe footers(s"$dir/written")
  }

  test("q56 an in-progress report file is invisible to readReports") {
    val dir = tmp("graft_rr_inprogress")
    RunReport.reportedWrite(tables.documents, s"$dir/out", 2, "job", s"$dir/reports")
    val part = new java.io.File(s"$dir/reports").listFiles()
      .find(_.getName.startsWith("part-")).get.toPath
    // a whole report and a torn one, both under hidden in-progress names
    Files.copy(part, part.resolveSibling(s".${part.getFileName}.inprogress"))
    Files.write(part.resolveSibling(".part-torn-c000.snappy.parquet.inprogress"),
      "PAR1 torn".getBytes("UTF-8"))
    val back = RunReport.readReports(spark, s"$dir/reports")
    back.count() shouldBe 1L
    back.collect().head.getAs[String]("job_name") shouldBe "job"
  }

  test("q103 measured rates calibrate the cost projection from REAL run history") {
    val dir = tmp("graft_cal")
    val docs = tables.documents
    // two real reportedWrites = the measured history (genuinely
    // measured wall-clocks — the path the declared q103 query stands
    // in for with a deterministic events-derived history)
    RunReport.reportedWrite(docs, s"$dir/out1", 4, "docs_ingest", s"$dir/reports")
    RunReport.reportedWrite(tables.events, s"$dir/out2", 4, "events_ingest",
      s"$dir/reports")
    val reports = RunReport.readReports(spark, s"$dir/reports")
    val rates = Analytics.measuredRates(reports).collect()
    rates.length shouldBe 2 // one profile per job
    rates.foreach { r =>
      r.getString(0) should startWith("measured:")
      // measured rates are positive and finite — what-it-DID numbers
      r.getDouble(1) should be > 0.0
      r.getDouble(2) should be > 0.0
      r.getDouble(1).isInfinity shouldBe false
    }
    // a FAILED run never contributes throughput (its wall-clock
    // measures the failure): same totals with a failed row mixed in
    val withFailed = reports.unionByName(reports.limit(1)
      .withColumn("status", lit("FAILED"))
      .withColumn("duration_seconds", lit(9999.0)))
    Analytics.measuredRates(withFailed).collect().map(_.toSeq).sortBy(_.head.toString) shouldBe
      rates.map(_.toSeq).sortBy(_.head.toString)
    // the calibrated projection composes: every sizing row is costed
    // under every measured profile, times scale with the measured rate
    val proj = Analytics.costProjectionMeasured(
      Analytics.corpusSizing(docs), reports).collect()
    proj.length shouldBe rates.length * Analytics.corpusSizing(docs).count()
    proj.foreach { r =>
      r.getAs[Double]("single_worker_sec") should be > 0.0
      r.getAs[Double]("cost_usd") should be > 0.0
    }
  }

  test("q56 a failing write emits a FAILED report, then rethrows") {
    val dir = tmp("graft_rr_fail")
    val poisoned = tables.documents
      .withColumn("boom", expr("raise_error('deliberate failure')"))
    intercept[Exception] {
      RunReport.reportedWrite(
        poisoned, s"$dir/out", 2, "poisoned_job", s"$dir/reports")
    }
    val rows = RunReport.readReports(spark, s"$dir/reports").collect()
    rows.length shouldBe 1
    rows.head.getAs[String]("status") shouldBe "FAILED"
    rows.head.getAs[String]("error_message") should include ("deliberate failure")
    rows.head.getAs[Long]("records_processed") shouldBe 0L
  }

  test("q56 reports feed the q05-q08 analytics unchanged via asEventLog") {
    val dir = tmp("graft_rr_feed")
    val reports = s"$dir/reports"
    RunReport.reportedWrite(tables.documents, s"$dir/o1", 2, "job_a", reports)
    RunReport.reportedWrite(tables.events, s"$dir/o2", 3, "job_b", reports)
    intercept[Exception] {
      RunReport.reportedWrite(
        tables.documents.withColumn("x", expr("raise_error('dead')")),
        s"$dir/o3", 2, "job_c", reports)
    }
    val log = RunReport.asEventLog(RunReport.readReports(spark, reports))
    // q05: one day, three runs, three distinct jobs, one failure
    val daily = Analytics.dailySummary(log).collect()
    daily.length shouldBe 1
    daily.head.getAs[Long]("n_events") shouldBe 3L
    daily.head.getAs[Long]("n_users") shouldBe 3L
    daily.head.getAs[Long]("n_errors") shouldBe 1L
    // q06: the failed-executions listing is exactly the failed run
    Analytics.failedEvents(log).count() shouldBe 1L
    // q07: duration stats cover all three runs
    Analytics.durationStats(log).collect().head.getAs[Long]("n_runs") shouldBe 3L
    // q08: the props payload parses and correlates (k = output_files;
    // the failed run committed no files, so its k is 0)
    val corr = Analytics.correlationJoin(log).collect()
    corr.length shouldBe 1
    corr.head.getAs[Int]("k") shouldBe 0
  }

  test("q56 streaming ingest reports one run per micro-batch") {
    val dir = tmp("graft_rr_stream")
    val src = graft.streaming.Streams.asStreamPath(s"${SparkSpec.sfDir}/documents.parquet")
    val schema = spark.read.parquet(s"${SparkSpec.sfDir}/documents.parquet").schema
    val stream = spark.readStream.schema(schema).parquet(src)
    val q = graft.streaming.Streams.reportedIngest(
      stream, s"$dir/out", s"$dir/ckpt", s"$dir/reports", "stream_ingest",
      targetPartitions = 2, trigger = Some(Trigger.AvailableNow()))
    q.awaitTermination(120000) shouldBe true
    val reports = RunReport.readReports(spark, s"$dir/reports").collect()
    reports.length should be >= 1
    reports.foreach(_.getAs[String]("status") shouldBe "SUCCESS")
    reports.foreach(_.getAs[String]("run_id") should startWith ("stream_ingest#"))
    // totals across batches equal the source row count — no loss, no dup
    reports.map(_.getAs[Long]("records_processed")).sum shouldBe
      spark.read.parquet(s"${SparkSpec.sfDir}/documents.parquet").count()
    spark.read.parquet(s"$dir/out").count() shouldBe
      spark.read.parquet(s"${SparkSpec.sfDir}/documents.parquet").count()
  }

  test("metrics-table DDL: run reports register in the catalog with the (date_hour, timestamp) access path") {
    val dir = tmp("graft_mt")
    RunReport.reportedWrite(
      tables.documents, s"$dir/out", 2, "metrics_job", s"$dir/reports")
    RunReport.registerMetricsTable(spark, s"$dir/reports")
    // the raw report table is queryable as plain SQL
    spark.sql("SELECT COUNT(*) FROM graft.run_reports")
      .collect().head.getLong(0) shouldBe 1L
    // the metrics view realizes the reference's access path: a
    // yyyy-MM-dd-HH partition key + epoch-millis sort key
    val m = spark.sql(
      """SELECT date_hour, `timestamp`, job_name, status, records_processed
        |FROM graft.run_metrics ORDER BY `timestamp`""".stripMargin).collect()
    m.length shouldBe 1
    m.head.getString(0) should fullyMatch regex "\\d{4}-\\d{2}-\\d{2}-\\d{2}"
    m.head.getLong(1) should be > 0L
    m.head.getString(2) shouldBe "metrics_job"
    m.head.getString(3) shouldBe "SUCCESS"
    // a dashboard-shaped point query over the key path runs as SQL
    val dh = m.head.getString(0)
    spark.sql(
      s"SELECT COUNT(*) FROM graft.run_metrics WHERE date_hour = '$dh'")
      .collect().head.getLong(0) shouldBe 1L
    // idempotent + injection guard
    noException should be thrownBy
      RunReport.registerMetricsTable(spark, s"$dir/reports")
    intercept[IllegalArgumentException] {
      RunReport.registerMetricsTable(spark, s"$dir/reports", db = "x; DROP")
    }
  }
}
