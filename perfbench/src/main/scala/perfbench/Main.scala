package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What a workload hands back: operation counts and its metrics. */
final case class Outcome(
    attempted: Long,
    failed: Long,
    setupS: Double,
    endToEnd: Seq[(String, Double, String)],
    layers: Seq[(String, Double, String)],
    context: Seq[(String, String)])

/** Everything a workload needs: the session, the recorder, and its args. */
final case class Ctx(
    spark: SparkSession,
    rec: Recorder,
    tracer: Option[Tracer],
    seed: Long,
    seconds: Double,
    work: String,
    fixture: String) {
  def elapsedSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}

/** The benchmark's JVM side: runs one workload and prints its result as
  * the last stdout line, prefixed `PERFBENCH_RESULT `.
  *
  * {{{
  * perfbench.Main --workload tsdb_daemon|layouts --seed N --seconds S
  *                --trace 0|1 --work DIR --fixture DIR
  * }}}
  */
object Main {
  val workloads: Map[String, Ctx => Outcome] = Map(
    "tsdb_daemon" -> TsdbDaemon.run,
    "layouts" -> Layouts.run)

  /** Exit explicitly either way: a failed workload may leave non-daemon
    * threads (the HTTP server, a stream) that would keep the JVM alive.
    */
  def main(args: Array[String]): Unit = {
    val ok =
      try { run(args); true }
      catch { case e: Throwable => e.printStackTrace(); false }
    System.exit(if (ok) 0 else 1)
  }

  private def run(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = workloads(opt("workload"))
    val traced = opt.getOrElse("trace", "0") == "1"
    val cpus = Runtime.getRuntime.availableProcessors()
    val work = opt("work")
    Files.createDirectories(Paths.get(work))
    val loadBefore = loadavg()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.buffer.pageSize", "4m")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = if (traced) {
      val t = new Tracer
      spark.sparkContext.addSparkListener(t)
      Some(t)
    } else None
    Oracle.selfTest()
    val ctx = Ctx(spark, new Recorder(traced), tracer, opt("seed").toLong,
      opt("seconds").toDouble, work, opt("fixture"))
    val out =
      try workload(ctx)
      finally tracer.foreach(_ => org.apache.spark.PerfbenchBus.drain(spark.sparkContext))
    val metrics =
      if (traced) out.layers
      else Seq(("setup_s", out.setupS, "s")) ++ out.endToEnd ++
        Seq(("heap_live_mb", heapLiveMb(), "MB"))
    val conf = Seq("spark.master", "spark.sql.shuffle.partitions",
      "spark.buffer.pageSize", "spark.sql.adaptive.enabled")
      .map(k => k -> spark.conf.getOption(k).getOrElse("default"))
    val context = Seq("nproc" -> cpus.toString, "rss_peak_mb" -> f"${rssPeakMb()}%.0f",
      "steal_share" -> f"${stealShare(ctx)}%.3f",
      "loadavg_before" -> loadBefore, "loadavg_after" -> loadavg()) ++
      conf ++ out.context
    spark.stop()
    ctx.rec.dump(System.err)
    val json = Json.obj(Seq(
      "correct" -> (out.failed == 0).toString,
      "attempted" -> out.attempted.toString,
      "failed" -> out.failed.toString,
      "metrics" -> Json.obj(metrics.map { case (k, v, u) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      }),
      "context" -> Json.obj(context.map { case (k, v) => k -> Json.str(v) })))
    println("PERFBENCH_RESULT " + json)
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def loadavg(): String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).split(" ").take(3).mkString(" ")
    catch { case _: Exception => "unknown" }

  /** Heap in use right after a full collection: what the run keeps live
    * (the engine's caches, memoized layouts, Spark's block and listener
    * state). Read from each heap pool's usage as the collection left it,
    * so that what other threads allocate after it does not count. The
    * first collection hands Spark's ContextCleaner the broadcasts and
    * shuffles that are no longer referenced; the second, after the
    * cleaner has dropped their blocks, frees those too.
    * Steadier than the peak resident set, which follows G1's heap sizing.
    */
  private def heapLiveMb(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == MemoryType.HEAP && p.getCollectionUsage != null)
      .map(_.getCollectionUsage.getUsed).sum / 1048576.0
  }

  /** The share of the timed phase's runnable CPU time the hypervisor stole. */
  private def stealShare(ctx: Ctx): Double =
    ctx.rec.spans.find(_.name == "timed")
      .map(s => s.stealS / (s.cpu.busy + s.stealS)).getOrElse(0.0)

  /** Peak resident set of this JVM (Spark runs in-process in local mode). */
  private def rssPeakMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(Runtime.getRuntime.totalMemory() / 1048576.0)

  /** Bytes of every file under a directory tree, and its parquet files. */
  def du(dir: String): (Long, Long) = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).toArray.foldLeft((0L, 0L)) {
        case ((b, n), f) =>
          val path = f.asInstanceOf[java.nio.file.Path]
          (b + Files.size(path), n + (if (path.toString.endsWith(".parquet")) 1 else 0))
      } finally s.close()
    }
  }
}
