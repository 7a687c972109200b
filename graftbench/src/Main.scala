package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** A check failure. `fault` names the known program fault it is an
  * instance of; a problem without one makes the run incorrect. */
final case class Problem(msg: String, fault: Option[String] = None)

/** What a timed op body returns: items completed and the (untimed)
  * output checks. */
final case class OpResult(items: Long, check: () => Seq[Problem])

final case class Ctx(spark: SparkSession, dir: Path, seed: Long, tiny: Boolean, tracer: Tracer) {
  def span[T](name: String)(body: => T): T = tracer.span(name)(body)
}

trait Workload {
  /** Generate inputs and build artifacts under `dir`. Run several times
    * into fresh directories; the last set-up is the one measured on. */
  def setup(c: Ctx): Unit
  def warmup(c: Ctx, h: Harness): Unit
  /** One whole round of ops; rounds repeat until the run length is used. */
  def round(c: Ctx, h: Harness, r: Int): Unit
  /** Checks that need the whole timed phase (untimed). */
  def finish(c: Ctx, h: Harness): Seq[Problem] = Nil
  /** Extra passes of a traced run after the timed phase (kernel-only
    * projections, cache-hit reads); returns their check failures. */
  def tracedPasses(c: Ctx): Seq[Problem] = Nil
  /** Which known fault an exception from an op is, if any. */
  def faultOf(kind: String, e: Throwable): Option[String] = None
}

final class Harness(c: Ctx, w: Workload) {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private def gcMs: Long = gcs.map(_.getCollectionTime).filter(_ >= 0).sum

  var recording = false
  /** Keep every op's check for a later re-run (the self-test). */
  var keepChecks = false
  val checks = ArrayBuffer.empty[(String, () => Seq[Problem])]
  var attempted = 0L
  var failed = 0L
  var items = 0L
  var wallNs = 0L
  var cpuNs = 0L
  val unitMs = ArrayBuffer.empty[Double]
  val unitGcMs = ArrayBuffer.empty[Double]
  val unitWindows = ArrayBuffer.empty[Attribution.Window]
  val unexpected = ArrayBuffer.empty[String]
  val faults = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
  val observed = scala.collection.mutable.Map.empty[String, ArrayBuffer[Double]]
  private var nextOp = 0

  def observe(name: String, v: Double): Unit =
    if (recording) observed.getOrElseUpdate(name, ArrayBuffer.empty) += v

  /** Run one op. Completed ops count in timings and items even when a
    * check fails; an op that throws counts in neither. Both are failed. */
  def op(kind: String, unit: Boolean = true)(body: => OpResult): Unit = {
    val id = nextOp; nextOp += 1
    c.tracer.op = if (recording) id else Tracer.WarmupOp
    val t0 = System.nanoTime(); val cpu0 = os.getProcessCpuTime; val gc0 = gcMs
    val start = c.tracer.nowMs
    val res = try Right(body) catch { case e: Exception => Left(e) }
    val dt = System.nanoTime() - t0; val dcpu = os.getProcessCpuTime - cpu0; val dgc = gcMs - gc0
    val end = c.tracer.nowMs
    c.tracer.op = -1
    val problems = res match {
      case Left(e) =>
        val f = w.faultOf(kind, e)
        Seq(Problem(s"$kind op threw: ${Option(e.getMessage).getOrElse(e.toString).linesIterator.nextOption().getOrElse("")}", f))
      case Right(r) =>
        if (keepChecks) checks += kind -> r.check
        if (recording) {
          items += r.items; wallNs += dt; cpuNs += dcpu
          if (unit) { unitMs += dt / 1e6; unitGcMs += dgc.toDouble; unitWindows += Attribution.Window(start, end) }
        }
        try r.check() catch { case e: Exception => Seq(Problem(s"$kind check threw: $e")) }
    }
    if (!recording) {
      val bad = problems.filter(_.fault.isEmpty)
      if (bad.nonEmpty) throw new IllegalStateException(
        s"untimed $kind op failed: ${bad.map(_.msg).mkString("; ")}")
    } else {
      attempted += 1
      if (problems.nonEmpty) failed += 1
      problems.foreach { p =>
        p.fault match {
          case Some(f) => faults(f) += 1
          case None => unexpected += p.msg
        }
      }
    }
  }
}

object Main {
  val Workloads: Map[String, () => Workload] = Map(
    "ingest" -> (() => new IngestWorkload),
    "curate" -> (() => new CurateWorkload),
    "intake" -> (() => new IntakeWorkload))

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        dir: Path, traceOut: Option[Path], cores: Int)

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      m.getOrElse("trace", "0") == "1", Paths.get(need("dir")),
      m.get("trace-out").map(Paths.get(_)), m.getOrElse("cores", "4").toInt)
  }

  def session(cores: Int, dir: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.files.openCostInBytes", "262144")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", dir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", dir.resolve("warehouse").toString)
      .config("spark.sql.streaming.stopTimeout", "60s")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** (busy, steal) jiffies of the whole VM, read from /proc/stat. */
  private def cpuStat(): (Long, Long) =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
      (f.sum, if (f.length > 7) f(7) else 0L)
    } catch { case _: Exception => (0L, 0L) }

  private def loadAvg(): String =
    try Files.readString(Paths.get("/proc/loadavg")).trim.split(" ").take(3).mkString(" ")
    catch { case _: Exception => "n/a" }

  private def vmHwmMb(): Double =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    catch { case _: Exception => 0.0 }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def metricsJson(ms: Seq[(String, Double, String)]): String =
    ms.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }.mkString("{", ", ", "}")

  def main(argv: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val a = parse(argv)
    if (a.workload == "selftest") { SelfTest.run(a.dir, a.cores); return }
    val w = Workloads.getOrElse(a.workload, sys.error(s"unknown workload ${a.workload}"))()
    val spark = session(a.cores, a.dir)
    val tracer = new Tracer(a.trace)
    val eng = new EngineListener
    val str = new StreamListener
    if (a.trace) {
      spark.sparkContext.addSparkListener(eng)
      spark.streams.addListener(str)
    }
    val sessionS = (System.nanoTime() - t0) / 1e9
    // set-up runs several times into fresh directories; its median is
    // reported, so one slow repetition does not swing the figure
    val reps = 3
    val setupS = (0 until reps).map { i =>
      val d = Files.createDirectories(a.dir.resolve(s"setup$i"))
      val s0 = System.nanoTime()
      w.setup(Ctx(spark, d, a.seed, tiny = false, tracer))
      (System.nanoTime() - s0) / 1e9
    }
    val ctx = Ctx(spark, a.dir.resolve(s"setup${reps - 1}"), a.seed, tiny = false, tracer)
    val h = new Harness(ctx, w)
    val w0 = System.nanoTime()
    w.warmup(ctx, h)
    val warmS = (System.nanoTime() - w0) / 1e9
    val setupTotal = sessionS + median(setupS) + warmS

    // ---- timed phase ----
    h.recording = true
    val (busy0, steal0) = cpuStat()
    val deadline = System.nanoTime() + a.seconds * 1000000000L
    var r = 0
    while (r == 0 || System.nanoTime() < deadline) { w.round(ctx, h, r); r += 1 }
    val (busy1, steal1) = cpuStat()
    val timedS = (System.nanoTime() - deadline) / 1e9 + a.seconds
    h.recording = false
    val late = try w.finish(ctx, h) catch { case e: Exception => Seq(Problem(s"final check threw: $e")) }
    late.foreach(p => if (p.fault.isEmpty) h.unexpected += p.msg)

    val wallS = h.wallNs / 1e9
    val endToEnd = Seq(
      ("setup_s", setupTotal, "s"),
      ("cpu_ms_per_item", if (h.items > 0) h.cpuNs / 1e6 / h.items else 0.0, "ms"),
      ("rss_peak_mb", vmHwmMb(), "MB"))
    // wall-clock throughput and latency: printed, not gated — on a shared
    // VM the hypervisor's steal moves them further between runs minutes
    // apart than any bound the benchmark may set
    val wall = Seq(
      ("items_per_s", if (wallS > 0) h.items / wallS else 0.0, "1/s"),
      ("op_p50_ms", median(h.unitMs.toSeq), "ms"))

    val rt = Runtime.getRuntime
    val gcNames = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getName).mkString("+")
    val stealShare = if (busy1 > busy0) (steal1 - steal0).toDouble / (busy1 - busy0) else 0.0
    println(s"# env nproc=${rt.availableProcessors} k=${a.cores} heap_max_mb=${rt.maxMemory / 1048576} " +
      s"gc=$gcNames steal_share=${"%.4f".format(stealShare)} loadavg=${loadAvg()} rounds=$r " +
      s"setup_reps_s=${setupS.map(x => "%.3f".format(x)).mkString(",")} session_s=${"%.3f".format(sessionS)} " +
      s"warmup_s=${"%.3f".format(warmS)} timed_s=${"%.3f".format(timedS)} jvm_uptime_s=${"%.3f".format(
        ManagementFactory.getRuntimeMXBean.getUptime / 1000.0)}")
    println(s"# wall ${metricsJson(wall)}")
    if (h.faults.nonEmpty) println(s"# known faults: ${h.faults.toSeq.sorted.map { case (k, v) => s"($k) x$v" }.mkString(" ")}")

    if (a.trace) println(s"# end-to-end (traced) ${metricsJson(endToEnd)}")
    val metrics =
      if (!a.trace) endToEnd
      else {
        w.tracedPasses(ctx).foreach(p => h.unexpected += p.msg)
        Thread.sleep(1500) // let the asynchronous listener buses drain
        Layers.metrics(h, tracer, eng, str)
      }
    a.traceOut.filter(_ => a.trace).foreach { p =>
      Files.createDirectories(p.getParent)
      Files.writeString(p, tracer.toJson)
    }
    h.unexpected.take(20).foreach(m => println(s"# CHECK FAILED: $m"))
    val correct = h.unexpected.isEmpty
    println(s"""{"correct": $correct, "attempted": ${h.attempted}, "failed": ${h.failed}, "metrics": ${metricsJson(metrics)}}""")
    spark.stop()
  }
}

/** The per-layer metrics of a traced run. Every name is reported on every
  * workload; a layer the workload does not touch reads 0. */
object Layers {
  /** Layers timed by spans: metric `<span>_ms` is the median duration of
    * the spans of that name. */
  val Spans: Seq[String] = Seq(
    "ingest.read_manifest", "ingest.quarantine_write", "runreport.reported_write",
    "analytics.report_rollup", "textops.dedup_exact", "textops.quality_score",
    "textops.heuristic_filter", "textops.embed", "dedup.minhash_pairs", "dedup.simhash_pairs",
    "dedup.clusters", "similarity.semantic_dedup", "exprs.minhash_sig", "exprs.lsh_buckets",
    "exprs.simhash64", "exprs.token_signs", "exprs.cell_argmax", "exprs.pq_encode",
    "retrieval.write_bm25_index", "similarity.write_ann_index", "retrieval.read_bm25_index",
    "similarity.read_ann_index", "retrieval.bm25_serve", "similarity.ann_serve",
    "retrieval.hybrid_serve", "retrieval.freshness_serve", "retrieval.compact_bm25",
    "similarity.compact_ann", "streams.bm25_drain", "streams.ann_drain",
    "streams.semantic_admit_drain")

  val Drains: Set[String] = Set("streams.bm25_drain", "streams.ann_drain", "streams.semantic_admit_drain")

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; val n = s.size; if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2 }
  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def metrics(h: Harness, t: Tracer, eng: EngineListener, str: StreamListener): Seq[(String, Double, String)] = {
    val spans = t.spans.toSeq.filter(_.op != Tracer.WarmupOp)
    def durs(n: String) = spans.filter(_.name == n).map(_.ms)
    val perOp = Attribution.perOp(h.unitWindows.toSeq, eng, str)
    val drains = spans.filter(s => Drains(s.name) && s.op >= 0)
    val addBatch = drains.map(s => Attribution.addBatchMs(s, str))
    val readJobs = {
      val jobs = eng.jobStarts.asScala.toSeq.map(_.longValue.toDouble)
      val reads = spans.filter(_.name == "artifactcache.hit_read")
      mean(reads.map(s => jobs.count(j => j >= s.startMs && j <= s.endMs).toDouble))
    }
    def c(n: String) = (n, perOp.getOrElse(n, 0.0), "count")
    def m(n: String) = (n, perOp.getOrElse(n, 0.0), "ms")
    Seq(c("engine.jobs_per_op"), c("engine.tasks_per_op"), m("engine.idle_tasks_ms_per_op"),
      m("engine.task_cpu_ms_per_op"),
      ("engine.shuffle_write_bytes_per_op", perOp.getOrElse("engine.shuffle_write_bytes_per_op", 0.0), "bytes"),
      c("engine.files_written_per_op"),
      ("engine.gc_ms_per_op", mean(h.unitGcMs.toSeq), "ms")) ++
      Spans.map(n => (n + "_ms", median(durs(n)), "ms")) ++
      Seq(("runreport.files_listed", mean(h.observed.get("runreport.files_listed").map(_.toSeq).getOrElse(Nil)), "count"),
        ("artifactcache.read_jobs", readJobs, "count"),
        ("streams.add_batch_ms", mean(addBatch), "ms"),
        ("streams.engine_overhead_ms", mean(drains.map(_.ms).zip(addBatch).map { case (d, b) => d - b }), "ms"),
        c("streams.queries_started_per_batch"))
  }
}
