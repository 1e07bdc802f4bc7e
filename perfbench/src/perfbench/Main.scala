package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer

/** What one repetition of a workload did. `check` verifies its outputs
  * against values computed apart from the program and throws on any
  * mismatch; it runs outside the timed region.
  */
final case class Outcome(items: Long, attempted: Int, bytesWritten: Long,
    check: () => Unit)

final case class Ctx(spark: SparkSession, rec: Recorder, spans: Spans,
    work: File, seed: Long, cores: Int)

trait Workload {
  /** Generate the inputs and bind the tables (part of set-up). */
  def setup(): Unit
  /** One repetition: the timed calls into the program, writing under `dir`. */
  def run(dir: File): Outcome
  /** Traced repetitions only: extra calls that time single layers. */
  def probe(): Unit
  /** Per-layer figures of the traced repetition just run. */
  def layers(): Map[String, Double]
}

object Main {

  /** Every per-layer metric, with its unit; each run prints all of them. */
  val PerLayer: Seq[(String, String)] = Seq(
    "frontier.round.wall_ms" -> "ms", "frontier.round.jobs" -> "count",
    "frontier.round.stages" -> "count", "frontier.round.driver_gap_ms" -> "ms",
    "frontier.round.skew" -> "ratio",
    "frontier.schedule.task_cpu_ms" -> "ms", "frontier.schedule.shuffle_bytes" -> "B",
    "frontier.schedule.deferred_rows" -> "count",
    "seen.probe.wall_ms" -> "ms", "seen.probe.task_cpu_ms" -> "ms",
    "seen.probe.shuffle_bytes" -> "B", "seen.kept_ratio" -> "ratio",
    "seen.kept" -> "count", "seen.candidates" -> "count", "seen.parts" -> "count",
    "extract.task_cpu_us_per_page" -> "us/page", "extract.html_bytes" -> "B",
    "outlinks.links_per_page" -> "links/page", "outlinks.task_cpu_us_per_link" -> "us/link",
    "url.task_cpu_us_per_link" -> "us/link",
    "store.commit.wall_ms" -> "ms", "store.commit.bytes" -> "B",
    "store.commit.files" -> "count", "store.resume.wall_ms" -> "ms",
    "search.index.wall_ms" -> "ms", "search.index.task_cpu_ms" -> "ms",
    "search.index.bytes" -> "B",
    "search.append.wall_ms" -> "ms", "search.append.task_cpu_ms" -> "ms",
    "search.append.bytes" -> "B",
    "search.probe.terms.wall_ms" -> "ms", "search.probe.terms.task_cpu_ms" -> "ms",
    "search.probe.terms.scan_bytes" -> "B",
    "search.probe.phrase.wall_ms" -> "ms", "search.probe.phrase.task_cpu_ms" -> "ms",
    "search.probe.phrase.scan_bytes" -> "B",
    "search.probe.stats.wall_ms" -> "ms", "search.probe.stats.task_cpu_ms" -> "ms",
    "search.probe.stats.scan_bytes" -> "B",
    "dedup.wall_ms" -> "ms", "dedup.task_cpu_ms" -> "ms",
    "dedup.shuffle_bytes" -> "B", "dedup.pairs" -> "count",
    "jvm.gc_ms" -> "ms", "jvm.jit_ms" -> "ms", "host.steal_s" -> "s",
    "storage.peak_cached_mb" -> "MB",
    "trace.overhead_pct" -> "%")

  /** Untimed repetitions before the timed region. With the JIT held to
    * its first tier (see run.py) the second repetition's CPU per item is
    * already within about 10% of later ones, so one cold repetition is
    * discarded.
    */
  private val WarmupReps = 1

  private final case class Sample(traced: Boolean, wallS: Double, items: Long,
      execCpuNs: Long, jvmCpuNs: Long, shuffleBytes: Long, bytesWritten: Long,
      peakCached: Long, gcMs: Long, jitMs: Long, stealS: Double) {
    def execPerItem: Double = execCpuNs / 1e3 / items
    def jvmPerItem: Double = jvmCpuNs / 1e3 / items
  }

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def gcMs: Long = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
  }
  private def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** Machine-wide steal seconds from /proc/stat (0 where unavailable). */
  private def stealS: Double =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+")
        if (f.length > 8) f(8).toDouble / 100.0 else 0.0
      } finally src.close()
    } catch { case _: Exception => 0.0 }

  def dirBytes(f: File): Long =
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)

  def dirFiles(f: File): Long =
    if (!f.exists()) 0L
    else if (f.isFile) 1L
    else Option(f.listFiles()).map(_.map(dirFiles).sum).getOrElse(0L)

  def deleteDir(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteDir))
    f.delete()
  }

  private def parse(args: Array[String]): Map[String, String] =
    args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap

  /** A failed check or operation ends the process at once with a non-zero
    * status and no result line, whatever threads Spark still runs. */
  def main(args: Array[String]): Unit =
    try run(args)
    catch {
      case e: Throwable =>
        e.printStackTrace()
        System.exit(1)
    }

  private def run(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val opt = parse(args)
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = new File(opt("work"))
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val rec = new Recorder
    spark.sparkContext.addSparkListener(rec)
    val spans = new Spans
    val ctx = Ctx(spark, rec, spans, work, seed, cores)
    def workloadNamed(name: String): Workload = name match {
      case "crawl_drain" => new CrawlDrain(ctx)
      case "corpus_ops" => new CorpusOps(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    if (workload == "class-list") {
      // loads the classes a run uses, for the build's class-data archive
      Seq("crawl_drain", "corpus_ops").foreach(n => workloadNamed(n).setup())
      spark.stop()
      return
    }
    val wl = workloadNamed(workload)
    val sc = spark.sparkContext
    var repNo = 0
    var lastDir: File = null

    def release(): Unit = {
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      if (lastDir != null) deleteDir(lastDir)
    }

    def rep(traced: Boolean): (Sample, Outcome) = {
      release()
      repNo += 1
      val dir = new File(work, s"rep$repNo")
      lastDir = dir
      PerfbenchBus.drain(sc)
      spans.rep = repNo
      spans.enabled = traced
      rec.tracing = traced
      rec.resetPeak()
      val t0 = rec.totals
      val cpu0 = osBean.getProcessCpuTime
      val gc0 = gcMs; val jit0 = jitMs; val st0 = stealS
      val w0 = System.nanoTime()
      val out = wl.run(dir)
      val wall = (System.nanoTime() - w0) / 1e9
      PerfbenchBus.drain(sc)
      val t1 = rec.totals
      val s = Sample(traced, wall, out.items, t1.cpuNs - t0.cpuNs,
        osBean.getProcessCpuTime - cpu0, t1.shuffleWrite - t0.shuffleWrite,
        out.bytesWritten, rec.peakCachedBytes, gcMs - gc0, jitMs - jit0, stealS - st0)
      System.err.println(f"[perfbench] rep $repNo%d traced=$traced wall=${s.wallS}%.3fs " +
        f"exec=${s.execPerItem}%.1fus/item jvm=${s.jvmPerItem}%.1fus/item " +
        f"steal=${s.stealS}%.2fs gc=${s.gcMs}ms jit=${s.jitMs}ms")
      (s, out)
    }

    // set-up, then the discarded cold repetition
    System.err.println(f"[perfbench] session up at ${(System.currentTimeMillis() - jvmStartMs) / 1000.0}%.2fs")
    wl.setup()
    System.err.println(f"[perfbench] inputs ready at ${(System.currentTimeMillis() - jvmStartMs) / 1000.0}%.2fs")
    val warm = ArrayBuffer.empty[Sample]
    while (warm.size < WarmupReps) warm += rep(traced = false)._1
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    // timed region: whole repetitions until `seconds` have passed. A traced
    // run alternates untraced and traced repetitions, starting and ending
    // untraced, so the overhead comparison cancels a steady warm-up drift
    val samples = ArrayBuffer.empty[Sample]
    val layerRows = ArrayBuffer.empty[Map[String, Double]]
    var attempted = 0L
    var last: Outcome = null
    val traceJobs = ArrayBuffer.empty[Recorder#JobRec]
    val t0 = System.nanoTime()
    def enough = (System.nanoTime() - t0) / 1e9 >= seconds &&
      (!trace || (samples.size >= 3 && samples.size % 2 == 1))
    while (!enough) {
      val traced = trace && samples.size % 2 == 1
      val (s, out) = rep(traced)
      samples += s
      attempted += out.attempted
      last = out
      if (traced) {
        wl.probe()
        PerfbenchBus.drain(sc)
        layerRows += wl.layers()
        rec.tracing = false
        traceJobs ++= rec.jobs
        rec.clearRecords()
      }
      spans.enabled = false
    }
    last.check()
    release()

    def med(f: Sample => Double, xs: Seq[Sample] = samples.toSeq): Double = Stats.median(xs.map(f))
    val diag = Seq(
      "reps" -> samples.size.toDouble, "warmup_reps" -> warm.size.toDouble,
      "items_per_rep" -> samples.head.items.toDouble,
      "steal_s" -> samples.map(_.stealS).sum, "gc_ms" -> samples.map(_.gcMs.toDouble).sum,
      "jit_ms" -> samples.map(_.jitMs.toDouble).sum,
      "rep_wall_s_median" -> med(_.wallS),
      // wall throughput moves with host steal, so it is a reference figure
      // here rather than a gated metric
      "items_per_s" -> med(s => s.items / s.wallS))
    println(diag.map { case (k, v) => s""""$k": $v""" }.mkString("""{"diagnostics": {""", ", ", "}}"))

    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        ("setup_s", setupS, "s"),
        ("exec_cpu_us_per_item", med(_.execPerItem), "us/item"),
        ("jvm_cpu_us_per_item", med(_.jvmPerItem), "us/item"),
        ("shuffle_bytes_per_item", med(s => s.shuffleBytes.toDouble / s.items), "B/item"),
        ("bytes_written_per_item", med(s => s.bytesWritten.toDouble / s.items), "B/item"))
      else {
        val traced = samples.filter(_.traced).toSeq
        val plain = samples.filter(!_.traced).toSeq
        val fixed = Map(
          "jvm.gc_ms" -> med(_.gcMs.toDouble), "jvm.jit_ms" -> med(_.jitMs.toDouble),
          "host.steal_s" -> med(_.stealS),
          "storage.peak_cached_mb" -> med(_.peakCached / 1048576.0),
          "trace.overhead_pct" ->
            (med(_.jvmPerItem, traced) / med(_.jvmPerItem, plain) - 1.0) * 100.0)
        PerLayer.map { case (name, unit) =>
          val v = fixed.getOrElse(name,
            Stats.median(layerRows.toSeq.map(_.getOrElse(name, 0.0))))
          (name, v, unit)
        }
      }
    val ms = metrics.map { case (k, v, u) => s""""$k": {"value": $v, "unit": "$u"}""" }
    opt.get("trace-out").foreach { p =>
      if (trace) java.nio.file.Files.write(new File(p).toPath,
        spans.json(traceJobs.toSeq).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    spark.stop()
    // an operation that throws ends the run without a result, so every
    // operation counted here succeeded
    println(s"""{"correct": true, "attempted": $attempted, "failed": 0, "metrics": {${ms.mkString(", ")}}}""")
  }
}
