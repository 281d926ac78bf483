package perfbench

import java.io.{BufferedWriter, FileWriter}
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import scala.collection.mutable

import org.apache.spark.sql.SQLContext
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col

import graft.Tsdb
import graft.api.HttpApi
import graft.core.Periods
import graft.ingest.LineParser
import graft.streaming.Ingest

/** `tsdb_daemon`: the always-on daemon at steady state.
  *
  * `Paths` metric paths each send one point every 10 simulated seconds.
  * Set-up loads one retention window of history (tail + one day) through
  * the bulk path (wire lines spooled to a text file, `spark.read.text`,
  * `LineParser.parseCounted`, `Tsdb.insert`, `Tsdb.sync`). Then each
  * simulated minute runs six flushes through `Ingest.start` (fed by a
  * `MemoryStream`, drained with `processAllAvailable`; self-metrics on,
  * dedupe off, as the CLI daemon runs), one `Tsdb.sync`, one
  * `Tsdb.compact`, and a seeded dashboard mix of `/graph` and `/`
  * requests over `HttpApi` on localhost: one client, closed loop,
  * interleaved with the writes in a fixed order. The clock is simulated,
  * so the micro-batch trigger interval is 0.
  */
object TsdbDaemon {
  /** A day boundary (2023-11-15T00:00:00Z) the generated series start from. */
  val Epoch: Long = 19676L * 86400L
  val Paths = 8
  val Tail = 60L
  val MinMinutes = 1
  val SelfPrefix = "graft.daemon"
  /** Simulated start of the timed phase: noon, so the retained history
    * spans two day partitions and retention rewrites a boundary day.
    */
  val Start: Long = Epoch + 43200L
  val History: Long = Tail + Periods.maxSeconds(Periods.all).toLong

  /** The periods `/graph` requests cycle through, dashboards' usual mix. */
  private val periodCycle = Seq("tensecond", "oneminute", "onesecond", "fiveminute",
    "tensecond", "oneminute", "onehour", "fiveminute", "oneminute")

  /** One path's point schedule: a fixed millisecond phase within each
    * 10 s slot and a seeded integer value 0–99 per slot.
    */
  final class Source(val path: String, seed: Long, slots: Int) {
    private val rnd = new java.util.Random(seed)
    val phaseMs: Long = rnd.nextInt(10000).toLong
    val values: Array[Int] = Array.fill(slots)(rnd.nextInt(100))
    def tsMs(slot: Int): Long = (Start - History) * 1000 + slot * 10000L + phaseMs
  }

  /** Wire text of one point: `path value timestamp`, with the timestamp
    * written as whole seconds and milliseconds so it parses exactly.
    */
  def line(path: String, value: Int, tsMs: Long): String =
    f"$path $value ${tsMs / 1000}.${tsMs % 1000}%03d"

  /** The timestamp a [[line]] carries, parsed from the same text. */
  def tsOf(tsMs: Long): Double = f"${tsMs / 1000}.${tsMs % 1000}%03d".toDouble

  def run(ctx: Ctx): Outcome = {
    import ctx.{rec, spark}
    val maxMinutes = 240
    val historySlots = (History / 10).toInt
    val slots = historySlots + (1 + maxMinutes) * 6
    val rnd = new java.util.Random(ctx.seed)
    val sources = (0 until Paths).map(i =>
      new Source(f"host$i%02d.cpu.load", rnd.nextLong(), slots))
    val zipfCdf = {
      val w = (1 to Paths).map(r => 1.0 / r)
      w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum)
    }
    def zipf(): Source = {
      val u = rnd.nextDouble()
      sources(zipfCdf.indexWhere(_ >= u).max(0))
    }
    var ingested = historySlots // slots [0, ingested) are in the store

    // ---- set-up: history through the bulk path, into a fresh store ----
    val spool = s"${ctx.work}/history.txt"
    val out = new BufferedWriter(new FileWriter(spool), 1 << 20)
    try (0 until historySlots).foreach(s => sources.foreach { src =>
      out.write(line(src.path, src.values(s), src.tsMs(s))); out.write('\n')
    }) finally out.close()
    var clock = Start.toDouble
    var attempted, failed = 0L
    val root = s"${ctx.work}/store"
    val tsdb = new Tsdb(spark, root, tail = Tail, now = () => clock)
    var insertFiles = 0.0
    val pb = rec.span("setup") {
      val pb = rec.span("setup.parse")(
        LineParser.parseCounted(spark.read.text(spool), "value"))
      rec.span("setup.insert")(tsdb.insert(pb.rows))
      if (ctx.tracer.isDefined) insertFiles = Main.du(s"$root/incoming")._2.toDouble
      rec.span("setup.sync")(tsdb.sync())
      pb
    }
    val setupS = rec.last.seconds
    // the history is well-formed, so a line the parser rejects is an error
    attempted += 1
    if (pb.bad > 0) failed += 1
    val badRatio = pb.bad.toDouble / pb.total

    // ---- the daemon and the dashboard client ----
    implicit val sqlCtx: SQLContext = spark.sqlContext
    import spark.implicits._
    val stream = MemoryStream[String]
    var flushErrors = 0L
    val query = Ingest.start(tsdb, stream.toDF(), intervalSeconds = 0,
      onBatchError = _ => flushErrors += 1, selfMetricPrefix = Some(SelfPrefix))
    val api = new HttpApi(tsdb).start()
    val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    val base = s"http://127.0.0.1:${api.boundPort}"
    var lastSync = clock
    val graphMs = mutable.ArrayBuffer.empty[Double]
    val minuteS = mutable.ArrayBuffer.empty[Double]
    var compactions = 0
    var graphSeries, graphPoints = 0L
    val compactFiles = mutable.ArrayBuffer.empty[(Long, Long)]
    def storeFiles(): Long = Main.du(root)._2

    def get(q: String): Option[Any] = {
      val resp = http.send(HttpRequest.newBuilder(URI.create(base + q)).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      if (resp.statusCode == 200) Some(Json.parse(resp.body)) else None
    }

    def series(src: Source): Oracle.Series = Oracle.Series(
      Array.tabulate(ingested)(s => tsOf(src.tsMs(s))),
      Array.tabulate(ingested)(s => src.values(s).toDouble))

    def finalEnd(seconds: Long, now: Double): Double =
      math.floor((now - Tail) / seconds) * seconds

    // request shapes rotate in a fixed order, so that every seed asks for
    // the same amount of work; the seed picks paths and stats
    var requests, asked = 0
    /** The metrics index (`/`): it must list every generated path. */
    def index(): Boolean =
      rec.span("api.index")(get("/")).exists { case m: Map[_, _] =>
        val names = m.asInstanceOf[Map[String, Any]]("metrics").asInstanceOf[Vector[String]].toSet
        sources.forall(s => names(s.path))
      case _ => false }

    /** One seeded `/graph` request for `k` metrics; returns whether every
      * series equals the finalized buckets the oracle expects.
      */
    def dashboard(k: Int, timed: Boolean): Boolean = {
      val metrics = Seq.fill(k) {
        val period = periodCycle(asked % periodCycle.size)
        asked += 1
        (zipf(), period, Oracle.stats(rnd.nextInt(Oracle.stats.size)))
      }
      val (window, interval) =
        if (requests % 7 != 6) {
          val end = math.floor(clock / 60.0) * 60.0
          ("", (end - 3600.0, end))
        } else {
          val (a, b) = (clock - 6 * 3600.0, clock)
          (s"&start=${a.toLong}&end=${b.toLong}", (a.toLong.toDouble, b.toLong.toDouble))
        }
      val q = metrics.zipWithIndex.map { case ((s, p, st), i) =>
        s"metrics.$i.name=${s.path}&metrics.$i.period=$p&metrics.$i.stat=$st"
      }.mkString("/graph?", "&", window)
      val resp = rec.span("api.graph")(get(q))
      if (timed) graphMs += rec.last.seconds * 1000
      resp.exists { case m: Map[_, _] =>
        val got = m.asInstanceOf[Map[String, Any]]("series").asInstanceOf[Vector[Map[String, Any]]]
        if (timed) {
          graphSeries += got.size
          graphPoints += got.map(_("values").asInstanceOf[Vector[Any]].size).sum
        }
        got.size == metrics.size && got.zip(metrics).forall { case (g, (src, p, st)) =>
          val secs = Periods.all.find(_.name == p).get.seconds
          val fe = finalEnd(secs, lastSync)
          val exp = Oracle.aggregate(series(src), secs, fe)
            .filter { case (b, _) => b >= interval._1 && b <= interval._2 }.toSeq
          val ts = g("timestamps_ms").asInstanceOf[Vector[Double]]
          val vs = g("values").asInstanceOf[Vector[Any]]
          if (exp.isEmpty) ts == Vector(0.0) && vs == Vector(0.0)
          else ts.size == exp.size && exp.indices.forall { i =>
            Oracle.close(ts(i), exp(i)._1 * 1000) && (vs(i) match {
              case d: Double => Oracle.close(d, exp(i)._2.stat(st))
              case _ => false
            })
          }
        }
      case _ => false }
    }

    /** One simulated minute: six flushes, each followed by a `/graph`
      * request, then a sync, a compaction and an index request. The
      * `/graph` requests ask for 1, 2, 3, 4, 1, … metrics in turn.
      */
    def minute(timed: Boolean, flushes: Int = 6, sync: Boolean = true): Double = {
      var writeS = 0.0
      (0 until flushes).foreach { f =>
        val lines = sources.map(s =>
          line(s.path, s.values(ingested), s.tsMs(ingested)))
        ingested += 1
        clock += 10
        stream.addData(lines: _*)
        rec.span("streaming.flush")(query.processAllAvailable())
        writeS += rec.last.seconds
        attempted += 2
        if (!dashboard(1 + requests % 4, timed)) failed += 1
        requests += 1
      }
      if (sync) {
        rec.span("tsdb.sync")(tsdb.sync())
        writeS += rec.last.seconds
        lastSync = clock
        attempted += 1
      }
      val traceFiles = timed && ctx.tracer.isDefined
      val before = if (traceFiles) storeFiles() else 0L
      rec.span("tsdb.compact")(tsdb.compact())
      writeS += rec.last.seconds
      if (traceFiles) compactFiles += ((before, storeFiles()))
      compactions += 1
      attempted += 2
      if (!index()) failed += 1
      writeS
    }

    try {
      // warm-up: the stream's first micro-batches, requests and
      // compaction (set-up already ran a sync)
      minute(timed = false, flushes = 2, sync = false)
      graphMs.clear()
      val t0 = System.nanoTime()
      rec.span("timed") {
        while (minuteS.size < maxMinutes &&
            (minuteS.size < MinMinutes || ctx.elapsedSince(t0) < ctx.seconds))
          minuteS += minute(timed = true)
      }
    } finally {
      api.close()
      query.stop()
    }
    failed += flushErrors

    // ---- end check: every finalized bucket of the generated paths ----
    val paths = sources.map(_.path)
    rec.span("check")(Periods.all.foreach { p =>
      val exp = sources.map(s => s.path -> Oracle.aggregate(series(s), p.seconds,
        finalEnd(p.seconds, lastSync))).toMap
      val rows = tsdb.table(p).filter(col("path").isin(paths: _*)).collect()
      val bad = Oracle.mismatches(exp, rows.iterator)
      attempted += 1
      if (bad > 0) {
        failed += 1
        System.err.println(s"[perfbench] ${p.name}: $bad buckets differ from the oracle")
      }
    })
    val (bytes, files) = Main.du(root)
    val points = ingested.toLong * Paths
    val syncS = rec.seconds("tsdb.sync").takeRight(minuteS.size)
    val flushMs = rec.seconds("streaming.flush").takeRight(minuteS.size * 6).map(_ * 1000)
    val e2e = Seq(
      ("write_s", minuteS.sum / minuteS.size, "s"),
      ("read_ms_p50", Main.median(graphMs.toSeq), "ms"),
      ("stored_bytes_per_point", bytes.toDouble / points, "B"))
    Outcome(attempted, failed, setupS, e2e,
      ctx.tracer.fold(Seq.empty[(String, Double, String)])(t =>
        Layers.tsdb(ctx, t, e2e, bytes, files, insertFiles, compactFiles.toSeq, badRatio,
          graphSeries, graphPoints, minuteS.size)),
      Seq("history_load_points_per_s" -> f"${historySlots.toLong * Paths / setupS}%.0f",
        "reference_points_per_s" -> "13500-15600 (BASELINE.md: 1 M points, 6 periods, 64-74 s)",
        "minutes" -> minuteS.size.toString, "graph_samples" -> graphMs.size.toString,
        "flush_ms_p50" -> f"${Main.median(flushMs)}%.1f",
        "sync_s_p50" -> f"${Main.median(syncS)}%.3f",
        "duty_cycle" -> f"${minuteS.sum / (60.0 * minuteS.size)}%.4f",
        "points_ingested" -> points.toString, "compactions" -> compactions.toString))
  }
}
