package graft

import java.nio.file.{Files, Paths}

import graft.sources.Ingest
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.types.StringType

/** NDJSON→Parquet round trip — the reference's core Glue job shape
  * (read file list, stamp lineage, cast-to-string armor, size-targeted
  * parquet write). */
class IngestSpec extends SparkSpec with graft.operators.JobsDuring {

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def writeNdjson(dir: String, name: String, lines: Seq[String]): String = {
    val p = Paths.get(dir, name)
    Files.write(p, lines.mkString("\n").getBytes("UTF-8"))
    p.toString
  }

  test("readNdjson stamps lineage columns and keeps all records") {
    val dir = tmpDir("graft_ndjson")
    val f1 = writeNdjson(dir, "a.ndjson", Seq(
      """{"id": 1, "size": 100}""", """{"id": 2, "size": 200}"""))
    val f2 = writeNdjson(dir, "b.ndjson", Seq("""{"id": 3, "size": 300}"""))
    val df = Ingest.readNdjson(spark, Seq(f1, f2))
    df.count() shouldBe 3
    df.columns should contain allOf ("_source_file", "_processing_timestamp")
    val sources = df.select("_source_file").distinct().collect().map(_.getString(0))
    sources.length shouldBe 2
    sources.foreach(s => s should (include ("a.ndjson") or include ("b.ndjson")))
  }

  test("castAllToString makes every column a string (schema-drift armor)") {
    val dir = tmpDir("graft_cast")
    val f = writeNdjson(dir, "c.ndjson", Seq("""{"id": 7, "w": 1.5, "tag": "x"}"""))
    val df = Ingest.castAllToString(Ingest.readNdjson(spark, Seq(f)))
    df.schema.fields.foreach(_.dataType shouldBe StringType)
    val row = df.select("id", "w", "tag").collect().head
    (row.getString(0), row.getString(1), row.getString(2)) shouldBe (("7", "1.5", "x"))
  }

  test("drifting schemas across files merge permissively (missing cols -> null)") {
    val dir = tmpDir("graft_drift")
    val f1 = writeNdjson(dir, "d1.ndjson", Seq("""{"id": 1, "old_col": "a"}"""))
    val f2 = writeNdjson(dir, "d2.ndjson", Seq("""{"id": 2, "new_col": "b"}"""))
    val df = Ingest.readNdjson(spark, Seq(f1, f2))
    df.columns should contain allOf ("id", "old_col", "new_col")
    df.where("old_col IS NULL").count() shouldBe 1
    df.where("new_col IS NULL").count() shouldBe 1
  }

  test("readCsv routes malformed rows to quarantine instead of failing the read") {
    import org.apache.spark.sql.types._
    val dir = tmpDir("graft_csv")
    val f = writeNdjson(dir, "batch.csv", Seq(
      "id,qty,name",
      "1,10,alpha",
      "2,notanumber,beta",   // qty fails the int cast -> quarantined
      "3,30,gamma",
      "4,40,del,ta"))        // unquoted comma shifts fields -> quarantined
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("qty", IntegerType),
      StructField("name", StringType)))
    val (valid, bad) = Ingest.quarantineSplit(
      Ingest.readCsv(spark, Seq(f), schema))
    valid.select("id").collect().map(_.getLong(0)).sorted shouldBe Array(1L, 3L)
    valid.columns should not contain "_corrupt_record"
    val badRows = bad.collect().sortBy(_.getAs[Long]("id"))
    badRows.length shouldBe 2
    badRows(0).getAs[String]("_corrupt_record") shouldBe "2,notanumber,beta"
    badRows(1).getAs[String]("_corrupt_record") shouldBe "4,40,del,ta"
  }

  test("readCsv rejects schemas that declare its reserved bookkeeping columns") {
    import org.apache.spark.sql.types._
    val ex = intercept[IllegalArgumentException] {
      Ingest.readCsv(spark, Seq("/nonexistent"), StructType(Seq(
        StructField("id", LongType), StructField("_extra_tokens", StringType))))
    }
    ex.getMessage should include("_extra_tokens")
    intercept[IllegalArgumentException] {
      Ingest.readCsv(spark, Seq("/nonexistent"), StructType(Seq(
        StructField("_corrupt_record", StringType))))
    }
  }

  test("bucketed tables join with no shuffle on either side") {
    val a = "graft_bkt_orders"
    val b = "graft_bkt_lineitem"
    try {
      Ingest.writeBucketed(tables.orders, a, "o_orderkey", 4, Seq("o_orderkey"))
      Ingest.writeBucketed(tables.lineitem, b, "l_orderkey", 4, Seq("l_orderkey"))
      // disable broadcast so the join would need a shuffle WITHOUT bucketing
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table(a).join(spark.table(b),
        org.apache.spark.sql.functions.col("o_orderkey") ===
          org.apache.spark.sql.functions.col("l_orderkey"))
      val plan = planOf(joined)
      plan should include("SortMergeJoin")
      plan should not include "Exchange hashpartitioning"
      joined.count() shouldBe tables.lineitem.count()
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql(s"DROP TABLE IF EXISTS $a")
      spark.sql(s"DROP TABLE IF EXISTS $b")
    }
  }

  test("readManifest round-trips a reference-shape manifest into readNdjson") {
    val dir = tmpDir("graft_manifest")
    val f1 = writeNdjson(dir, "a.ndjson", Seq("""{"id": 1}""", """{"id": 2}"""))
    val f2 = writeNdjson(dir, "b.ndjson", Seq("""{"id": 3}"""))
    // the exact JSON the reference's manifest builder emits
    // (lambda_manifest_builder.py:1087-1090)
    val mf = writeNdjson(dir, "batch-0001.json", Seq(
      s"""{"fileLocations": [{"URIPrefixes": ["$f1", "$f2"]}]}"""))
    Ingest.readManifest(spark, mf) shouldBe Seq(f1, f2)
    val df = Ingest.readNdjsonManifest(spark, mf)
    df.select("id").collect().map(_.getLong(0)).sorted shouldBe Array(1L, 2L, 3L)
    df.columns should contain ("_source_file")
    // a JSON file that is NOT a manifest fails loudly, never reads as
    // an empty batch
    val notMf = writeNdjson(dir, "not_a_manifest.json", Seq("""{"foo": 1}"""))
    intercept[IllegalArgumentException] { Ingest.readManifest(spark, notMf) }
  }

  test("readManifest parses on the driver: no Spark job") {
    val dir = tmpDir("graft_mf_jobs")
    val mf = writeNdjson(dir, "batch-0000.json", Seq(
      """{"fileLocations": [{"URIPrefixes": ["s3://b/x.ndjson"]}, """ +
        """{"URIPrefixes": ["s3://b/y.ndjson", "s3://b/z.ndjson"]}]}"""))
    jobsDuring(Ingest.readManifest(spark, mf)) shouldBe
      (Seq("s3://b/x.ndjson", "s3://b/y.ndjson", "s3://b/z.ndjson"), 0)
  }

  test("readManifest reads a top-level array of manifest objects") {
    val dir = tmpDir("graft_mf_array")
    val mf = writeNdjson(dir, "batch-0000.json", Seq(
      """[{"fileLocations": [{"URIPrefixes": ["a.ndjson", "b.ndjson"]}]},""",
      """ {"fileLocations": [{"URIPrefixes": ["c.ndjson"]}]}]"""))
    Ingest.readManifest(spark, mf) shouldBe Seq("a.ndjson", "b.ndjson", "c.ndjson")
  }

  test("readManifest refuses a null URI") {
    val dir = tmpDir("graft_mf_null")
    val mf = writeNdjson(dir, "batch-0000.json", Seq(
      """{"fileLocations": [{"URIPrefixes": ["a.ndjson", null]}]}"""))
    intercept[IllegalArgumentException](Ingest.readManifest(spark, mf))
      .getMessage should include("holds no file URIs")
  }

  test("readManifest refuses malformed JSON") {
    val dir = tmpDir("graft_mf_malformed")
    val mf = writeNdjson(dir, "batch-0000.json", Seq(
      """{"fileLocations": [{"URIPrefixes": ["a.ndjson", """))
    intercept[IllegalArgumentException](Ingest.readManifest(spark, mf))
      .getMessage should include("holds no file URIs")
  }

  test("readManifest refuses an empty file") {
    val dir = tmpDir("graft_mf_empty")
    val mf = writeNdjson(dir, "batch-0000.json", Nil)
    intercept[IllegalArgumentException](Ingest.readManifest(spark, mf))
      .getMessage should include("holds no file URIs")
  }

  test("writeManifests batches and round-trips through readManifest exactly") {
    val dir = tmpDir("graft_mfw")
    val fs = (1 to 5).map(i =>
      writeNdjson(dir, s"f$i.ndjson", Seq(s"""{"id": $i}""")))
    val mfs = Ingest.writeManifests(fs, s"$dir/manifests", maxPerManifest = 2)
    mfs.length shouldBe 3 // 2 + 2 + 1
    mfs.map(m => new java.io.File(m).getName) shouldBe
      Seq("batch-0000.json", "batch-0001.json", "batch-0002.json")
    // the round-trip law: concat(readManifest(m)) == the input list
    mfs.flatMap(m => Ingest.readManifest(spark, m)) shouldBe fs
    // and the full replay reads every row once
    val all = mfs.map(m => Ingest.readNdjsonManifest(spark, m))
      .reduce(_ unionByName _)
    all.select("id").collect().map(_.getLong(0)).sorted shouldBe
      Array(1L, 2L, 3L, 4L, 5L)
  }

  test("quarantineWrite lands the invalid side date-partitioned with a run report") {
    import org.apache.spark.sql.types._
    val dir = tmpDir("graft_quar")
    val f = writeNdjson(dir, "batch.csv", Seq(
      "id,qty", "1,10", "2,notanumber", "3,alsobad"))
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("qty", IntegerType)))
    val (_, bad) = Ingest.quarantineSplit(Ingest.readCsv(spark, Seq(f), schema))
    val run = Ingest.quarantineWrite(bad, s"$dir/quarantined", s"$dir/reports",
      reason = "int_cast_failure", jobName = "csv_quarantine")
    run.status shouldBe "SUCCESS"
    run.records_processed shouldBe 2L
    val landed = spark.read.parquet(s"$dir/quarantined")
    landed.count() shouldBe 2
    landed.columns should contain allOf ("_quarantine_reason", "_quarantine_date", "_corrupt_record")
    landed.select("_quarantine_reason").distinct().collect()
      .map(_.getString(0)) shouldBe Array("int_cast_failure")
    // date-partitioned layout on disk, reference's date-prefix analog
    new java.io.File(s"$dir/quarantined").listFiles()
      .filter(_.isDirectory).map(_.getName)
      .count(_.startsWith("_quarantine_date=")) shouldBe 1
    // and the q56 report row is queryable through the same report reader
    val rep = graft.sources.RunReport.readReports(spark, s"$dir/reports")
    rep.count() shouldBe 1
    val r = rep.collect().head
    r.getAs[String]("job_name") shouldBe "csv_quarantine"
    r.getAs[Long]("records_processed") shouldBe 2L
  }

  test("writeParquet honors the size-targeted partition count") {
    val out = tmpDir("graft_out") + "/sized"
    val df = spark.range(1000).toDF("id")
    Ingest.writeParquet(df, out, targetPartitions = 3, mode = SaveMode.Overwrite)
    val parts = new java.io.File(out).listFiles().count(_.getName.endsWith(".parquet"))
    parts shouldBe 3
    spark.read.parquet(out).count() shouldBe 1000
  }

  test("writeParquet partitionBy produces the date-partitioned layout") {
    val out = tmpDir("graft_out") + "/bydate"
    val df = spark.sql(
      "SELECT id, CASE WHEN id < 5 THEN '2026-01-01' ELSE '2026-01-02' END AS day FROM range(10)")
    Ingest.writeParquet(df, out, targetPartitions = 1,
      partitionCol = Some("day"), mode = SaveMode.Overwrite)
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory).map(_.getName).sorted
    dirs shouldBe Array("day=2026-01-01", "day=2026-01-02")
    spark.read.parquet(out).count() shouldBe 10
  }
}
