package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates, SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

/** One timed call into a layer: wall clock from the benchmark's side, and
  * this machine's busy and stolen CPU time meanwhile.
  */
final class Span(val name: String, val startMs: Long, val startNs: Long, gc0: Long, cpu0: Cpu.Times) {
  var endMs: Long = Long.MaxValue
  var endNs: Long = startNs
  var gcMs: Long = gc0
  var cpu: Cpu.Times = cpu0
  def wallSeconds: Double = (endNs - startNs) / 1e9
  def stealS: Double = cpu.steal
  /** The span's length on an uncontended machine, to first order: wall
    * seconds scaled by wall / (wall + stolen CPU seconds), as if every
    * second the hypervisor stole from any CPU had stalled the span for a
    * second. Spark's stages wait for their slowest task, so a stolen CPU
    * stalls the whole job: on a 4-CPU VM, calls that lost 0.5–0.9 CPU
    * seconds per wall second ran 1.5–2× longer, and scaling by the share
    * of busy time not stolen removed only about half of that. Plain wall
    * time where the kernel reports no steal.
    */
  def seconds: Double =
    if (cpu.steal <= 0) wallSeconds
    else wallSeconds * wallSeconds / (wallSeconds + cpu.steal)
}

/** Machine-wide CPU seconds from /proc/stat: busy (user, nice, system, irq,
  * softirq) and stolen by the hypervisor. Zero where unavailable.
  */
object Cpu {
  final case class Times(busy: Double, steal: Double) {
    def -(o: Times): Times = Times(busy - o.busy, steal - o.steal)
  }
  private val tick = 100.0 // USER_HZ, the unit of /proc/stat
  def now(): Times =
    try {
      val f = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("/proc/stat")))
      val c = f.linesIterator.next().trim.split("\\s+").drop(1).map(_.toDouble / tick)
      Times(c(0) + c(1) + c(2) + c(5) + c(6), if (c.length > 7) c(7) else 0.0)
    } catch { case _: Exception => Times(0, 0) }
}

/** Spans around calls into each layer, kept in memory until the run ends.
  * Every run times its spans (the end-to-end metrics are built from them);
  * only a traced run also reads the JVM's GC counters at each boundary and
  * attaches a [[Tracer]] that attributes Spark work to the spans.
  */
final class Recorder(val traced: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]

  def span[T](name: String)(body: => T): T = {
    val s = new Span(name, System.currentTimeMillis(), System.nanoTime(),
      if (traced) Recorder.gcMs() else 0L, Cpu.now())
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      s.cpu = Cpu.now() - s.cpu
      if (traced) s.gcMs = Recorder.gcMs() - s.gcMs
      spans += s
    }
  }

  /** One line per span, in the order they ended. */
  def dump(out: java.io.PrintStream): Unit = spans.foreach(s =>
    out.println(f"[perfbench] span ${s.name} ${s.wallSeconds}%.3f s wall, " +
      f"${s.stealS}%.2f s stolen, ${s.seconds}%.3f s counted"))

  /** The span that ended last. */
  def last: Span = spans.last

  def seconds(name: String): Seq[Double] =
    spans.iterator.filter(_.name == name).map(_.seconds).toSeq
}

object Recorder {
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
}

/** Spark work attributed to spans, measured from outside the engine: a
  * listener the benchmark registers itself. A job belongs to every span
  * whose wall interval contains its submission time (so a span includes
  * its children), which also catches jobs the engine submits from its own
  * threads (the streaming micro-batch thread, the HTTP server thread).
  */
final class Tracer extends SparkListener {
  final class Job(val startMs: Long, val execId: Long) {
    var endMs: Long = -1L
    var stages, tasks = 0
    var taskMs, rowsRead, rowsWritten, bytesWritten = 0L
  }
  val jobs = mutable.ArrayBuffer.empty[Job]
  private val byId = mutable.HashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Job]
  /** SQL execution id -> output path of its write, if it writes files. */
  val execOutput = mutable.HashMap.empty[Long, String]
  private val fileAccums = mutable.HashSet.empty[Long]
  /** SQL execution id -> files its scans opened. */
  val execFiles = mutable.HashMap.empty[Long, Long]
  /** The output path in a formatted plan's file-write node. */
  private val OutputPath = "Arguments: (file:[^,\\s]+)".r

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val exec = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    val j = new Job(e.time, exec)
    jobs += j
    byId(e.jobId) = j
    e.stageIds.foreach(stageJob(_) = j)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    byId.remove(e.jobId).foreach(_.endMs = e.time)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    stageJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.taskMs += m.executorRunTime
        j.rowsRead += m.inputMetrics.recordsRead
        j.rowsWritten += m.outputMetrics.recordsWritten
        j.bytesWritten += m.outputMetrics.bytesWritten
      }
    }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      OutputPath.findFirstMatchIn(s.physicalPlanDescription)
        .foreach(m => execOutput(s.executionId) = m.group(1))
      watchFiles(s.sparkPlanInfo)
    case u: SparkListenerSQLAdaptiveExecutionUpdate => watchFiles(u.sparkPlanInfo)
    case d: SparkListenerDriverAccumUpdates =>
      d.accumUpdates.foreach { case (id, v) =>
        if (fileAccums(id))
          execFiles(d.executionId) = execFiles.getOrElse(d.executionId, 0L) + v
      }
    case _ =>
  }
  private def watchFiles(p: SparkPlanInfo): Unit = {
    p.metrics.foreach(m =>
      if (m.name == "number of files read") fileAccums += m.accumulatorId)
    p.children.foreach(watchFiles)
  }
}

/** The Spark work of one or more spans, summed. */
final case class Work(
    calls: Int, wallS: Double, jobs: Int, stages: Int, tasks: Int,
    taskS: Double, gapS: Double, gcS: Double,
    rowsRead: Long, rowsWritten: Long, bytesWritten: Long, files: Long) {
  private def per(x: Double) = if (calls == 0) 0.0 else x / calls
  def jobsPer: Double = per(jobs.toDouble)
  def wallPer: Double = per(wallS)
}

object Work {
  /** The jobs submitted inside `span`'s wall interval, half-open. */
  def jobsIn(t: Tracer, s: Span): Seq[Tracer#Job] =
    t.jobs.iterator.filter(j => j.startMs >= s.startMs && j.startMs < s.endMs).toSeq

  /** Wall time inside `s` when no Spark job was running. */
  def gapS(s: Span, jobs: Seq[Tracer#Job]): Double = {
    val iv = jobs.map(j => (math.max(j.startMs, s.startMs),
      math.min(if (j.endMs < 0) s.endMs else j.endMs, s.endMs))).sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    iv.foreach { case (a, b) =>
      if (a > curE) { covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    covered += curE - curS
    math.max(0.0, s.seconds - covered / 1000.0)
  }

  def of(t: Tracer, spans: Seq[Span]): Work = {
    var w = Work(spans.size, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
    spans.foreach { s =>
      val js = jobsIn(t, s)
      val execs = js.map(_.execId).filter(_ >= 0).distinct
      w = w.copy(
        wallS = w.wallS + s.seconds,
        jobs = w.jobs + js.size,
        stages = w.stages + js.map(_.stages).sum,
        tasks = w.tasks + js.map(_.tasks).sum,
        taskS = w.taskS + js.map(_.taskMs).sum / 1000.0,
        gapS = w.gapS + gapS(s, js),
        gcS = w.gcS + s.gcMs / 1000.0,
        rowsRead = w.rowsRead + js.map(_.rowsRead).sum,
        rowsWritten = w.rowsWritten + js.map(_.rowsWritten).sum,
        bytesWritten = w.bytesWritten + js.map(_.bytesWritten).sum,
        files = w.files + execs.map(t.execFiles.getOrElse(_, 0L)).sum)
    }
    w
  }
}
