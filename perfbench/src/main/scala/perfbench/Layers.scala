package perfbench

import graft.core.Periods

/** The per-layer metrics of a traced run. Every traced run reports the
  * whole catalogue; a layer its workload does not exercise reads 0.
  */
object Layers {
  type M = (String, Double, String)

  private val syncTargets = Periods.all.map(_.name) :+ "retention"
  private val lifecycleKinds = Layouts.lifecycle.map(_._2).distinct
  private val servingKinds = Layouts.serving.map(_._2).distinct

  /** The catalogue, in report order, with units. */
  val catalogue: Seq[(String, String)] =
    Seq("ingest.parse.s" -> "s", "ingest.parse.jobs" -> "count",
      "ingest.parse.bad_ratio" -> "ratio",
      "streaming.flush.s" -> "s", "streaming.flush.jobs" -> "count",
      "streaming.flush.driver_gap_s" -> "s",
      "tsdb.insert.s" -> "s", "tsdb.insert.jobs" -> "count", "tsdb.insert.files" -> "count",
      "tsdb.sync.s" -> "s", "tsdb.sync.jobs" -> "count", "tsdb.sync.stages" -> "count",
      "tsdb.sync.tasks" -> "count", "tsdb.sync.task_s" -> "s",
      "tsdb.sync.driver_gap_s" -> "s") ++
      syncTargets.flatMap(t => Seq(s"tsdb.sync.$t.job_s" -> "s", s"tsdb.sync.$t.jobs" -> "count")) ++
      Seq("tsdb.sync.rows_scanned" -> "count", "tsdb.sync.rows_finalized" -> "count",
        "tsdb.sync.scan_per_final" -> "ratio",
        "tsdb.compact.s" -> "s", "tsdb.compact.jobs" -> "count",
        "tsdb.compact.bytes_rewritten" -> "B", "tsdb.compact.files_before" -> "count",
        "tsdb.compact.files_after" -> "count",
        "tsdb.store.files" -> "count", "tsdb.store.bytes" -> "B",
        "tsdb.read.s" -> "s", "tsdb.read.jobs" -> "count", "tsdb.read.files_read" -> "count",
        "tsdb.read.rows_scanned_per_returned" -> "ratio", "tsdb.index.s" -> "s",
        "api.graph.spark_s" -> "s", "api.graph.jobs" -> "count", "api.graph.overhead_s" -> "s") ++
      Layouts.lifecycle.flatMap { case (r, _) => Seq(s"layouts.$r.s" -> "s", s"layouts.$r.jobs" -> "count") } ++
      lifecycleKinds.flatMap(k => Seq(s"layouts.$k.task_s" -> "s", s"layouts.$k.driver_gap_s" -> "s")) ++
      Layouts.serving.map { case (r, _) => s"serve.$r.s" -> "s" } ++
      servingKinds.map(k => s"serve.$k.jobs" -> "count") ++
      Seq("jvm.gc_s" -> "s", "spark.jobs" -> "count", "spark.driver_gap_s" -> "s",
        "traced.write_s" -> "s", "traced.read_ms_p50" -> "ms")

  /** Fill the catalogue from `got`; names not in `got` read 0. */
  def complete(got: Seq[M]): Seq[M] = {
    val m = got.map(x => x._1 -> x._2).toMap
    require(m.keySet.subsetOf(catalogue.map(_._1).toSet),
      s"not in the catalogue: ${m.keySet -- catalogue.map(_._1)}")
    catalogue.map { case (n, u) => (n, m.getOrElse(n, 0.0), u) }
  }

  /** The spans named `name`; those of a layer the workload also calls
    * during set-up or warm-up are taken from the timed phase only.
    */
  private def spans(ctx: Ctx, name: String): Seq[Span] = {
    val all = ctx.rec.spans.iterator.filter(_.name == name).toSeq
    if (name.startsWith("setup") || name == "timed") all
    else ctx.rec.spans.find(_.name == "timed").fold(all)(t =>
      all.filter(s => s.startNs >= t.startNs && s.endNs <= t.endNs))
  }

  private def work(ctx: Ctx, t: Tracer, name: String): Work = Work.of(t, spans(ctx, name))

  /** Which sync target a job wrote: a period table, retention, or none. */
  private def target(t: Tracer, j: Tracer#Job): Option[String] =
    t.execOutput.get(j.execId).flatMap { out =>
      if (out.contains("/incoming/_retained_day=")) Some("retention")
      else Periods.all.map(_.name).find(p => out.matches(s".*/$p/?"))
    }

  def tsdb(ctx: Ctx, t: Tracer, e2e: Seq[M], storeBytes: Long, storeFiles: Long,
      insertFiles: Double, compactFiles: Seq[(Long, Long)], parsedBad: Double,
      graphSeries: Long, graphPoints: Long, minutes: Int): Seq[M] = {
    val parse = work(ctx, t, "setup.parse")
    val insert = work(ctx, t, "setup.insert")
    val flush = work(ctx, t, "streaming.flush")
    val syncSpans = spans(ctx, "tsdb.sync")
    val sync = Work.of(t, syncSpans)
    val syncJobs = syncSpans.flatMap(Work.jobsIn(t, _))
    val perSync = math.max(1, syncSpans.size).toDouble
    val byTarget = syncTargets.flatMap { tg =>
      val js = syncJobs.filter(j => target(t, j).contains(tg))
      Seq((s"tsdb.sync.$tg.job_s", js.map(j => (j.endMs - j.startMs) / 1000.0).sum / perSync, "s"),
        (s"tsdb.sync.$tg.jobs", js.size / perSync, "count"))
    }
    val finalized = syncJobs.filter(j => target(t, j).exists(_ != "retention")).map(_.rowsWritten).sum
    val compact = work(ctx, t, "tsdb.compact")
    val graph = work(ctx, t, "api.graph")
    val graphSpark = graph.wallS - graph.gapS
    val perGraph = math.max(1, graph.calls).toDouble
    val perSeries = math.max(1L, graphSeries).toDouble
    val timed = work(ctx, t, "timed")
    def mean(xs: Seq[Long]) = if (xs.isEmpty) 0.0 else xs.sum.toDouble / xs.size
    complete(Seq(
      ("ingest.parse.s", parse.wallPer, "s"), ("ingest.parse.jobs", parse.jobsPer, "count"),
      ("ingest.parse.bad_ratio", parsedBad, "ratio"),
      ("streaming.flush.s", flush.wallPer, "s"), ("streaming.flush.jobs", flush.jobsPer, "count"),
      ("streaming.flush.driver_gap_s", flush.gapS / math.max(1, flush.calls), "s"),
      ("tsdb.insert.s", insert.wallPer, "s"), ("tsdb.insert.jobs", insert.jobsPer, "count"),
      ("tsdb.insert.files", insertFiles, "count"),
      ("tsdb.sync.s", Main.median(syncSpans.map(_.seconds)), "s"),
      ("tsdb.sync.jobs", sync.jobs / perSync, "count"),
      ("tsdb.sync.stages", sync.stages / perSync, "count"),
      ("tsdb.sync.tasks", sync.tasks / perSync, "count"),
      ("tsdb.sync.task_s", sync.taskS / perSync, "s"),
      ("tsdb.sync.driver_gap_s", sync.gapS / perSync, "s")) ++ byTarget ++ Seq(
      ("tsdb.sync.rows_scanned", sync.rowsRead / perSync, "count"),
      ("tsdb.sync.rows_finalized", finalized / perSync, "count"),
      ("tsdb.sync.scan_per_final", sync.rowsRead.toDouble / math.max(1L, finalized), "ratio"),
      ("tsdb.compact.s", compact.wallPer, "s"), ("tsdb.compact.jobs", compact.jobsPer, "count"),
      ("tsdb.compact.bytes_rewritten", compact.bytesWritten.toDouble / math.max(1, compact.calls), "B"),
      ("tsdb.compact.files_before", mean(compactFiles.map(_._1)), "count"),
      ("tsdb.compact.files_after", mean(compactFiles.map(_._2)), "count"),
      ("tsdb.store.files", storeFiles.toDouble, "count"),
      ("tsdb.store.bytes", storeBytes.toDouble, "B"),
      ("tsdb.read.s", graphSpark / perSeries, "s"),
      ("tsdb.read.jobs", graph.jobs / perSeries, "count"),
      ("tsdb.read.files_read", graph.files / perSeries, "count"),
      ("tsdb.read.rows_scanned_per_returned", graph.rowsRead.toDouble / math.max(1L, graphPoints), "ratio"),
      ("tsdb.index.s", work(ctx, t, "api.index").wallPer, "s"),
      ("api.graph.spark_s", graphSpark / perGraph, "s"),
      ("api.graph.jobs", graph.jobsPer, "count"),
      ("api.graph.overhead_s", graph.gapS / perGraph, "s"),
      ("jvm.gc_s", timed.gcS / minutes, "s"), ("spark.jobs", timed.jobs.toDouble / minutes, "count"),
      ("spark.driver_gap_s", timed.gapS / minutes, "s")) ++ traced(e2e))
  }

  private def traced(e2e: Seq[M]): Seq[M] =
    e2e.filter(m => m._1 == "write_s" || m._1 == "read_ms_p50")
      .map { case (n, v, u) => (s"traced.$n", v, u) }

  def layouts(ctx: Ctx, t: Tracer, e2e: Seq[M], passes: Int): Seq[M] = {
    val p = math.max(1, passes).toDouble
    def rows(rs: Seq[(String, String)], kind: String) = rs.filter(_._2 == kind).map(_._1)
    val life = Layouts.lifecycle.flatMap { case (r, _) =>
      val w = work(ctx, t, r)
      val sp = spans(ctx, r)
      Seq((s"layouts.$r.s", Main.median(sp.map(_.seconds)), "s"), (s"layouts.$r.jobs", w.jobsPer, "count"))
    }
    val kinds = lifecycleKinds.flatMap { k =>
      val w = Work.of(t, rows(Layouts.lifecycle, k).flatMap(spans(ctx, _)))
      Seq((s"layouts.$k.task_s", w.taskS / p, "s"), (s"layouts.$k.driver_gap_s", w.gapS / p, "s"))
    }
    val serve = Layouts.serving.map { case (r, _) =>
      (s"serve.$r.s", Main.median(spans(ctx, r).map(_.seconds)), "s")
    }
    val serveJobs = servingKinds.map { k =>
      (s"serve.$k.jobs", Work.of(t, rows(Layouts.serving, k).flatMap(spans(ctx, _))).jobsPer, "count")
    }
    val timed = work(ctx, t, "timed")
    complete(life ++ kinds ++ serve ++ serveJobs ++ Seq(
      ("jvm.gc_s", timed.gcS, "s"), ("spark.jobs", timed.jobs.toDouble, "count"),
      ("spark.driver_gap_s", timed.gapS, "s")) ++ traced(e2e))
  }
}
