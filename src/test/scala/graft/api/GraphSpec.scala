package graft.api

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.{TestSpark, Tsdb}
import graft.api.Graph.{MetricSpec, Series}
import graft.core.{Periods, Stats}

/** Graph data prep vs the reference's make_graph on its own "notebook
  * dataset" (the commented fixture in app/__init__.py:46-61).
  */
class GraphSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val notebookPoints = Seq(
    ("one", 5.0, 2.0), ("two", 6.0, 4.0), ("one", 8.0, 1.0),
    ("two", 12.0, 4.0), ("one", 16.0, 5.0), ("one", 22.0, 2.0),
    ("one", 31.0, 1.0), ("one", 33.0, 2.0), ("two", 40.0, 6.0),
    ("one", 48.0, 4.0))

  private lazy val tsdb = {
    val root = Files.createTempDirectory("graft-graph").toString
    val t = new Tsdb(spark, root, materialized = true, tail = 60,
      now = () => 1000.0)
    t.insert(notebookPoints)
    t.sync()
    t
  }

  test("graphData: ms timestamps, per-metric series, short labels") {
    val got = Graph.graphData(tsdb,
      Seq(MetricSpec("one", "tensecond", "avg"),
        MetricSpec("two", "tensecond", "avg")),
      (0.0, 60.0))
    assert(got == Seq(
      Series("one", Seq(0.0, 10000.0, 20000.0, 30000.0, 40000.0),
        Seq(Some(1.5), Some(5.0), Some(2.0), Some(1.5), Some(4.0))),
      Series("two", Seq(0.0, 10000.0, 40000.0),
        Seq(Some(4.0), Some(4.0), Some(6.0)))))
  }

  test("empty series becomes the [[0],[0]] placeholder") {
    val got = Graph.graphData(tsdb,
      Seq(MetricSpec("one", "tensecond", "avg"),
        MetricSpec("nosuch", "tensecond", "avg")),
      (0.0, 60.0))
    assert(got(1) == Series("nosuch", Seq(0.0), Seq(Some(0.0))))
  }

  test("parseRequest: query string -> metrics, window, flags (the /graph route)") {
    val q = Map(
      "metrics.0.name" -> "one", "metrics.0.period" -> "tensecond",
      "metrics.0.stat" -> "avg",
      "metrics.1.name" -> "  ", "metrics.1.period" -> "tensecond",
      "metrics.1.stat" -> "max",
      "start" -> "100", "title" -> "t", "points" -> "1")
    val r = Graph.parseRequest(q, now = 7325.0)
    assert(r.metrics == Seq(MetricSpec("one", "tensecond", "avg"))) // blank dropped
    assert(r.interval == (100.0, 7320.0)) // explicit start, default end = minute-truncated now
    assert(r.title.contains("t") && r.label.isEmpty && r.points)

    val defaults = Graph.parseRequest(Map.empty, now = 7325.0)
    assert(defaults.interval == (3720.0, 7320.0)) // last hour
    assert(defaults.metrics.isEmpty && !defaults.points)
  }

  test("shortNames keeps varying positions, position 0 when all equal") {
    // app/__init__.py:72-82
    assert(Graph.shortNames(Seq(
      Seq("one", "tensecond", "avg"),
      Seq("two", "tensecond", "avg"))) == Seq("one", "two"))
    assert(Graph.shortNames(Seq(
      Seq("one", "tensecond", "avg"),
      Seq("one", "onehour", "max"))) ==
      Seq("tensecond avg", "onehour max"))
    assert(Graph.shortNames(Seq(
      Seq("one", "tensecond", "avg"),
      Seq("one", "tensecond", "avg"))) == Seq("one", "one"))
  }

  test("nonBlank drops blank metric names (the /graph route filter)") {
    assert(Graph.nonBlank(Seq(
      MetricSpec("one", "p", "s"), MetricSpec("  ", "p", "s"),
      MetricSpec("", "p", "s"))) == Seq(MetricSpec("one", "p", "s")))
  }

  // ---- the batch read: one query per request ≡ one getMetric per metric

  // two hours either side of a UTC midnight, every path but "nul" with a
  // value per point; "nul" carries NULL values on alternate ten minutes,
  // so its short-period buckets hold NULL stats
  private val midnight = 19700L * 86400
  private lazy val batchPoints: Seq[(String, Double, Option[Double])] =
    for {
      t <- (midnight - 7200) until (midnight + 7200) by 20L
      (path, off) <- Seq("a" -> 0, "b" -> 7, "nul" -> 13)
    } yield (path, (t + off).toDouble,
      if (path == "nul" && (t / 600) % 2 == 0) None
      else Some(((t / 20 + off) % 97).toDouble))

  private def batchStore(materialized: Boolean): Tsdb = {
    val s = spark
    import s.implicits._
    val t = new Tsdb(spark,
      Files.createTempDirectory("graft-graph-batch").toString,
      materialized = materialized, tail = 60,
      now = () => (midnight + 2 * 86400).toDouble)
    t.insert(batchPoints.toDF("path", "timestamp", "value"))
    t.sync()
    t
  }
  private lazy val materializedStore = batchStore(materialized = true)
  private lazy val viewStore = batchStore(materialized = false)

  /** graphData's series built the per-metric way: one ordered
    * getMetric query and one collect per metric.
    */
  private def perMetricSeries(
      tsdb: Tsdb,
      metrics: Seq[MetricSpec],
      interval: (Double, Double)): Seq[Series] =
    metrics.zip(Graph.shortNames(metrics.map(m => Seq(m.name, m.period, m.stat))))
      .map { case (m, label) =>
        val rows = tsdb.getMetric(m.name, m.period, m.stat, interval).collect()
        if (rows.isEmpty) Series(label, Seq(0.0), Seq(Some(0.0)))
        else Series(label, rows.map(_.getDouble(0) * 1000).toSeq,
          rows.map(r => if (r.isNullAt(1)) None else Some(r.getDouble(1))).toSeq)
      }

  test("graphData's one batch read ≡ one getMetric per metric on random " +
    "requests (property)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    final case class Request(materialized: Boolean, metrics: Seq[MetricSpec],
        interval: (Double, Double))
    val metricGen = for {
      name <- Gen.oneOf("a", "b", "nul", "absent")
      period <- Gen.oneOf(Periods.all.map(_.name))
      stat <- Gen.oneOf(Stats.all)
    } yield MetricSpec(name, period, stat)
    val requestGen = for {
      materialized <- Gen.oneOf(true, false)
      k <- Gen.choose(1, 6)
      drawn <- Gen.listOfN(k, metricGen)
      // a metric repeated within one request
      repeat <- Gen.frequency((2, false), (1, true))
      lo <- Gen.choose(-3 * 3600.0, 3600.0)
      length <- Gen.oneOf(0.0, 60.0, 599.5, 3600.0, 4 * 3600.0, 2 * 86400.0)
    } yield Request(materialized,
      if (repeat) drawn :+ drawn.head else drawn,
      (midnight + lo, midnight + lo + length))

    val requests = (0L until 50L).map(seed =>
      seed -> requestGen(Gen.Parameters.default, Seed(seed)).get)
    val seen = collection.mutable.Set.empty[String]
    for ((seed, r) <- requests) {
      val tsdb = if (r.materialized) materializedStore else viewStore
      val expected = perMetricSeries(tsdb, r.metrics, r.interval)
      assert(Graph.graphData(tsdb, r.metrics, r.interval) == expected,
        s"seed $seed: $r")
      seen += s"materialized=${r.materialized}"
      if (r.metrics.size > r.metrics.distinct.size) seen += "repeated"
      if (r.metrics.map(_.period).distinct.size > 1) seen += "mixed periods"
      if (r.interval._1 < midnight && r.interval._2 > midnight)
        seen += "across midnight"
      if (expected.exists(_.values.contains(None))) seen += "NULL stat"
      if (expected.exists(_.timestampsMs == Seq(0.0))) seen += "placeholder"
    }
    // the seeds cover every shape the batch read must keep
    assert(seen == Set("materialized=true", "materialized=false", "repeated",
      "mixed periods", "across midnight", "NULL stat", "placeholder"))
    assert(requests.exists(_._2.metrics.size == 6))
  }

  test("a 4-metric, 3-period request on a materialized store is one " +
    "Spark job") {
    val metrics = Seq(
      MetricSpec("a", "tensecond", "avg"), MetricSpec("b", "oneminute", "p90"),
      MetricSpec("nul", "onehour", "max"), MetricSpec("absent", "tensecond", "n"))
    val interval = ((midnight - 3600).toDouble, (midnight + 3600).toDouble)
    val tsdb = materializedStore
    val (got, jobs) = org.apache.spark.JobCounter(spark.sparkContext)(
      Graph.graphData(tsdb, metrics, interval))
    assert(jobs == 1, s"$jobs jobs")
    assert(got == perMetricSeries(tsdb, metrics, interval))
    assert(got(3).timestampsMs == Seq(0.0) && got(3).values == Seq(Some(0.0)))
    // the per-metric read keeps its day-partition prune
    assert("PartitionFilters: \\[[^\\]]*day".r.findFirstIn(
      tsdb.getMetric("a", "tensecond", "avg", interval)
        .queryExecution.executedPlan.toString).isDefined)
  }

  test("a 4-leg request over 2 periods resolves each period table once: " +
    "2 distinct scan locations") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val specs = Seq(("a", "tensecond", "avg"), ("b", "oneminute", "p90"),
      ("nul", "tensecond", "max"), ("b", "oneminute", "n"))
    val interval = ((midnight - 3600).toDouble, (midnight + 3600).toDouble)
    val plan = materializedStore.metricsUnion(specs, interval).get
      .queryExecution.executedPlan
    val scans = new AdaptiveSparkPlanHelper {}
      .collect(plan) { case s: FileSourceScanExec => s }
    assert(scans.size == 4, plan)
    // one file index per distinct table, shared by the legs that read it
    assert(scans.map(s => System.identityHashCode(s.relation.location))
      .distinct.size == 2, plan)
    assert(scans.map(_.relation.location.rootPaths.map(_.getName).mkString)
      .distinct.sorted == Seq("oneminute", "tensecond"))
  }

  test("an unknown stat or period in any position fails the request " +
    "before any Spark job") {
    val good = Seq(
      MetricSpec("a", "tensecond", "avg"), MetricSpec("b", "oneminute", "p90"),
      MetricSpec("nul", "onehour", "max"))
    val interval = ((midnight - 3600).toDouble, midnight.toDouble)
    for {
      tsdb <- Seq(materializedStore, viewStore)
      i <- good.indices
      bad <- Seq(good(i).copy(stat = "p95; drop table"),
        good(i).copy(period = "nosuchperiod"))
    } {
      val (err, jobs) = org.apache.spark.JobCounter(spark.sparkContext)(
        intercept[IllegalArgumentException] {
          Graph.graphData(tsdb, good.updated(i, bad), interval)
        })
      assert(err.getMessage.contains("unknown"), err.getMessage)
      assert(jobs == 0, s"position $i, $bad: $jobs jobs")
    }
  }
}
