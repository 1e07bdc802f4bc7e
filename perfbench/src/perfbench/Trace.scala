package perfbench

import org.apache.spark.scheduler._
import scala.collection.mutable.ArrayBuffer

/** Spark listener with running totals (always on) and per-job / per-task
  * records (only while `tracing`). Cache and checkpoint memory is tracked
  * from block updates; `peak` is reset by the caller per repetition.
  */
final class Recorder extends SparkListener {
  @volatile var tracing = false

  final case class JobRec(id: Int, start: Long, var end: Long, stages: Seq[Int],
      callSite: String)
  final case class TaskRec(stage: Int, durationMs: Long, cpuNs: Long,
      shuffleWrite: Long, inputBytes: Long)

  private var cpuNs = 0L
  private var shuffleWrite = 0L
  private val blockMem = scala.collection.mutable.HashMap.empty[String, Long]
  private var cachedNow = 0L
  private var cachedPeak = 0L
  val jobs = ArrayBuffer.empty[JobRec]
  val taskRecs = ArrayBuffer.empty[TaskRec]

  final case class Totals(cpuNs: Long, shuffleWrite: Long)

  def totals: Totals = synchronized(Totals(cpuNs, shuffleWrite))
  def resetPeak(): Unit = synchronized { cachedPeak = cachedNow }
  def peakCachedBytes: Long = synchronized(cachedPeak)
  def clearRecords(): Unit = synchronized { jobs.clear(); taskRecs.clear() }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val cpu = m.executorCpuTime + m.executorDeserializeCpuTime
      val sw = m.shuffleWriteMetrics.bytesWritten
      val in = m.inputMetrics.bytesRead
      cpuNs += cpu; shuffleWrite += sw
      if (tracing) taskRecs += TaskRec(e.stageId, e.taskInfo.duration, cpu, sw, in)
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (tracing) {
      // the innermost program frame of the job's call stack, e.g.
      // "graft.store.FrontierStore.$anonfun$commit$2(FrontierStore.scala:77)"
      val last = e.stageInfos.maxBy(_.stageId)
      val site = last.details.split("\n").find(_.startsWith("graft.")).getOrElse(last.name)
      jobs += JobRec(e.jobId, e.time, -1L, e.stageIds, site)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    if (tracing) jobs.find(_.id == e.jobId).foreach(_.end = e.time)
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = info.blockId.name
      val mem = if (info.storageLevel.isValid) info.memSize else 0L
      cachedNow += mem - blockMem.getOrElse(key, 0L)
      if (mem == 0L) blockMem.remove(key) else blockMem(key) = mem
      if (cachedNow > cachedPeak) cachedPeak = cachedNow
    }
  }
}

/** In-memory spans around calls into the program's layers: name, start,
  * end, parent. Written out once, when the benchmark ends.
  */
final class Spans {
  final case class Span(id: Int, name: String, parent: Int, rep: Int,
      startMs: Long, endMs: Long, startNs: Long, endNs: Long) {
    def wallMs: Double = (endNs - startNs) / 1e6
  }
  @volatile var enabled = false
  var rep = 0
  private var stack = List.empty[Int]
  val done = ArrayBuffer.empty[Span]
  private var nextId = 0

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val ms0 = System.currentTimeMillis(); val ns0 = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        done += Span(id, name, parent, rep, ms0, System.currentTimeMillis(), ns0, System.nanoTime())
      }
    }

  def all(name: String): Seq[Span] = done.filter(s => s.name == name && s.rep == rep).toSeq

  def json(jobs: Seq[Recorder#JobRec]): String = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val sp = done.map { s =>
      s"""{"id":${s.id},"name":${q(s.name)},"parent":${s.parent},"rep":${s.rep},"start_ms":${s.startMs},"end_ms":${s.endMs},"wall_ms":${s.wallMs}}"""
    }
    val js = jobs.map { j =>
      s"""{"job":${j.id},"start_ms":${j.start},"end_ms":${j.end},"stages":${j.stages.size},"call_site":${q(j.callSite)}}"""
    }
    sp.mkString("{\"spans\": [\n", ",\n", "\n],\n") + js.mkString("\"jobs\": [\n", ",\n", "\n]}\n")
  }
}

/** Job and task figures of the Spark work that started inside spans. A
  * job belongs to the span whose window holds its start; calls into the
  * layers are made one at a time, so windows do not overlap.
  */
final class Window(rec: Recorder, spans: Seq[Spans#Span], siteFilter: String => Boolean = _ => true) {
  private def inside(t: Long) = spans.exists(s => t >= s.startMs && t <= s.endMs)
  val jobs: Seq[Recorder#JobRec] = rec.synchronized {
    rec.jobs.filter(j => inside(j.start) && siteFilter(j.callSite)).toSeq
  }
  private val stageIds = jobs.flatMap(_.stages).toSet
  val tasks: Seq[Recorder#TaskRec] = rec.synchronized {
    rec.taskRecs.filter(t => stageIds.contains(t.stage)).toSeq
  }
  def wallMs: Double = spans.map(_.wallMs).sum
  def cpuMs: Double = tasks.map(_.cpuNs).sum / 1e6
  def shuffleBytes: Double = tasks.map(_.shuffleWrite).sum.toDouble
  def inputBytes: Double = tasks.map(_.inputBytes).sum.toDouble
  def stages: Int = tasks.map(_.stage).distinct.size

  /** Time inside the spans during which at least one of the jobs ran. */
  def busyMs: Double = spans.map { s =>
    val iv = jobs.map(j => (math.max(j.start, s.startMs), math.min(if (j.end < 0) s.endMs else j.end, s.endMs)))
      .filter(i => i._2 > i._1).sortBy(_._1)
    var busy = 0L
    var curS = -1L
    var curE = -1L
    iv.foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) busy += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) busy += curE - curS
    busy.toDouble
  }.sum

  /** Largest max/median task time over the stages with at least 2 tasks. */
  def skew: Double = {
    val per = tasks.groupBy(_.stage).values.filter(_.size >= 2).map { ts =>
      val d = ts.map(_.durationMs.toDouble).sorted
      val med = Stats.median(d)
      if (med <= 0) 1.0 else d.last / med
    }
    if (per.isEmpty) 1.0 else per.max
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
