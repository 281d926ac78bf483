package graft

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Intervals, Period, Periods}
import graft.operators.Agg

/** Golden end-to-end + incremental-sync scenarios, ported from the
  * reference's tests/test_smalltsdb.py.
  */
class TsdbSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** The golden integration dataset: wire messages
    * `"one 1 1"`, `"one 5 2\ntwo 2 5"`, `"one 1 12\n"` as already-parsed
    * (path, ts, value) points (tests/test_smalltsdb.py:57).
    */
  private val goldenPoints = Seq(
    ("one", 1.0, 1.0), ("one", 2.0, 5.0), ("two", 5.0, 2.0), ("one", 12.0, 1.0))

  /** tests/test_smalltsdb.py:78-82 — the engine's primary golden output. */
  private val goldenTensecond = Seq(
    Row("one", 0.0, 2.0, 1.0, 5.0, 3.0, 6.0, 3.0, 4.6, 4.96),
    Row("one", 10.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0),
    Row("two", 0.0, 1.0, 2.0, 2.0, 2.0, 2.0, 2.0, 2.0, 2.0))

  test("golden: view-mode tensecond aggregation (exact interpolated percentiles)") {
    val incoming = goldenPoints.toDF("path", "timestamp", "value")
    val got = Agg.aggregate(incoming, Periods.TenSecond)
      .orderBy("path", "timestamp").collect().toSeq
    assert(got == goldenTensecond)
  }

  test("golden: materialized backend end-to-end (insert -> sync -> read)") {
    val root = Files.createTempDirectory("graft-golden").toString
    val tsdb = new Tsdb(spark, root, materialized = true, tail = 60,
      now = () => 1000.0)
    tsdb.insert(goldenPoints)
    tsdb.sync()
    val got = tsdb.table("tensecond")
      .orderBy("path", "timestamp").collect().toSeq
    assert(got == goldenTensecond)
  }

  test("sync scenario: virtual clock, finalization flips at bucket_end + tail") {
    // tests/test_smalltsdb.py:121-155, tail = 60
    val root = Files.createTempDirectory("graft-sync").toString
    var nowV = 0.0
    val tsdb = new Tsdb(spark, root, materialized = true, tail = 60,
      now = () => nowV)

    def tensecond: Seq[(String, Double, Double)] =
      tsdb.table("tensecond").select("path", "timestamp", "n")
        .orderBy("path", "timestamp")
        .collect().toSeq.map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))

    tsdb.insert(Seq(("one", 1.0, 1.0), ("two", 5.0, 2.0)))

    nowV = 69; tsdb.sync()
    assert(tensecond == Seq())

    nowV = 70; tsdb.sync()
    assert(tensecond == Seq(("one", 0.0, 1.0), ("two", 0.0, 1.0)))

    tsdb.insert(Seq(("one", 2.0, 5.0), ("one", 12.0, 1.0)))

    nowV = 79; tsdb.sync()
    assert(tensecond == Seq(("one", 0.0, 1.0), ("two", 0.0, 1.0)))

    nowV = 80; tsdb.sync()
    assert(tensecond == Seq(("one", 0.0, 1.0), ("one", 10.0, 1.0), ("two", 0.0, 1.0)))

    nowV = 90; tsdb.sync()
    assert(tensecond == Seq(("one", 0.0, 1.0), ("one", 10.0, 1.0), ("two", 0.0, 1.0)))
  }

  test("sync is idempotent: re-running at the same now appends nothing") {
    val root = Files.createTempDirectory("graft-idem").toString
    val tsdb = new Tsdb(spark, root, materialized = true, tail = 60,
      now = () => 1000.0)
    tsdb.insert(goldenPoints)
    tsdb.sync()
    tsdb.sync()
    tsdb.sync()
    assert(tsdb.table("tensecond").count() == 3)
  }

  test("retention: raw rows older than now - tail - maxPeriod are dropped") {
    val root = Files.createTempDirectory("graft-ret").toString
    val tsdb = new Tsdb(spark, root, materialized = true, tail = 60,
      now = () => 100_000.0, periods = Seq(Periods.TenSecond))
    // cutoff = 100000 - 60 - 10 = 99930
    tsdb.insert(Seq(("old", 1.0, 1.0), ("old", 99929.0, 1.0),
      ("new", 99930.0, 1.0), ("new", 99990.0, 1.0)))
    tsdb.sync()
    val left = tsdb.incoming.select("path", "timestamp")
      .orderBy("timestamp").collect().toSeq.map(r => (r.getString(0), r.getDouble(1)))
    assert(left == Seq(("new", 99930.0), ("new", 99990.0)))
  }

  test("retention with date partitions: whole-day drop + boundary rewrite") {
    val root = Files.createTempDirectory("graft-retp").toString
    // now = 3 days + 100s; tail=60, single tensecond period =>
    // cutoff = 259300 - 70 = 259230 (inside day 2: [172800, 259200)?? no:
    // 259230 is in day 3? 259200 = day 3 start) => cutoff day = 3
    val nowV = 3 * 86400.0 + 100
    val tsdb = new Tsdb(spark, root, materialized = true, tail = 60,
      now = () => nowV, periods = Seq(Periods.TenSecond))
    val cutoff = nowV - 60 - 10
    tsdb.insert(Seq(
      ("a", 100.0, 1.0),                 // day 0  -> dropped whole
      ("a", 2 * 86400.0 + 5, 1.0),       // day 2  -> dropped whole
      ("a", cutoff - 1, 1.0),            // boundary day, below cutoff -> dropped
      ("a", cutoff, 1.0),                // boundary day, kept
      ("a", nowV, 1.0)))                 // kept
    tsdb.sync()
    val left = tsdb.incoming.select("timestamp").collect()
      .map(_.getDouble(0)).sorted.toSeq
    assert(left == Seq(cutoff, nowV))
    // day directories physically dropped
    val days = new java.io.File(s"$root/incoming").listFiles()
      .filter(_.getName.startsWith("day=")).map(_.getName).sorted.toSeq
    assert(days == Seq("day=3"))
  }

  test("getMetric: whitelist + inclusive interval + single stat") {
    val incoming = goldenPoints.toDF("path", "timestamp", "value")
    val root = Files.createTempDirectory("graft-gm").toString
    val tsdb = new Tsdb(spark, root, materialized = false)
    tsdb.insert(incoming)
    val rows = tsdb.getMetric("one", "tensecond", "p90", (0.0, 10.0))
      .collect().toSeq.map(r => (r.getDouble(0), r.getDouble(1)))
    // inclusive upper bound: bucket 10 IS included (tsdb.py:135)
    assert(rows == Seq((0.0, 4.6), (10.0, 1.0)))
    intercept[IllegalArgumentException] {
      tsdb.getMetric("one", "tensecond", "p95; drop table", (0.0, 1.0))
    }
    intercept[IllegalArgumentException] {
      tsdb.getMetric("one", "nosuchperiod", "p50", (0.0, 1.0))
    }
    // a restricted-periods instance rejects names OUTSIDE its own set even
    // when they are default period names (reference asserts membership in
    // the instance's PERIODS, tsdb.py:120)
    val restricted = new Tsdb(spark,
      Files.createTempDirectory("graft-gm2").toString,
      materialized = false, periods = Seq(Periods.TenSecond))
    intercept[IllegalArgumentException] { restricted.table("oneday") }
    intercept[IllegalArgumentException] {
      restricted.getMetric("one", "oneday", "p50", (0.0, 1.0))
    }
  }

  test("retention crash recovery: a stranded _retained_day swap heals " +
    "at sync entry — live-present discards the partial copy, " +
    "live-absent finishes the rename") {
    val root = Files.createTempDirectory("graft-retr").toString
    val nowV = 3 * 86400.0 + 100
    val tsdb = new Tsdb(spark, root, materialized = true, tail = 60,
      now = () => nowV, periods = Seq(Periods.TenSecond))
    val cutoff = nowV - 60 - 10
    tsdb.insert(Seq(("a", cutoff, 1.0), ("a", nowV, 1.0)))
    val f = new java.io.File(s"$root/incoming")
    // crash window (a): retained copy written, live dir NOT yet
    // deleted — the live dir stays the source of truth, the possibly-
    // partial retained copy must be discarded
    val stale = new java.io.File(f, "_retained_day=3")
    stale.mkdirs()
    tsdb.sync()
    assert(!stale.exists(), "live-present retained copy must discard")
    val after = tsdb.incoming.select("timestamp").collect()
      .map(_.getDouble(0)).sorted.toSeq
    assert(after == Seq(cutoff, nowV))
    // crash window (b): live dir deleted, rename never ran — the
    // retained dir IS the committed day, recovery renames it in
    val live = new java.io.File(f, "day=3")
    val retained = new java.io.File(f, "_retained_day=3")
    assert(live.renameTo(retained))
    tsdb.sync()
    assert(new java.io.File(f, "day=3").exists() && !retained.exists())
    assert(tsdb.incoming.select("timestamp").collect()
      .map(_.getDouble(0)).sorted.toSeq == Seq(cutoff, nowV))
  }

  test("createViews stay LIVE across sync/retention (the reference's " +
    "SQLite views): a stale file listing would throw " +
    "FileNotFoundException after day dirs are rewritten") {
    val root = Files.createTempDirectory("graft-lview").toString
    val nowV = 3 * 86400.0 + 100
    val tsdb = new Tsdb(spark, root, materialized = true, tail = 60,
      now = () => nowV, periods = Seq(Periods.TenSecond))
    tsdb.insert(Seq(("a", 100.0, 1.0), ("a", nowV - 50, 2.0)))
    tsdb.createViews()
    assert(spark.sql("select count(*) from incoming").head().getLong(0) == 2)
    // sync: finalizes buckets AND retention drops day 0 + rewrites the
    // boundary day — the old snapshot view would now list dead files
    tsdb.sync()
    assert(spark.sql("select count(*) from incoming").head().getLong(0) == 1)
    assert(spark.sql("select count(*) from tensecond").head().getLong(0) >= 1)
  }

  test("idle sync after retention dropped every partition does not crash") {
    val root = Files.createTempDirectory("graft-idle").toString
    var nowV = 1000.0
    val tsdb = new Tsdb(spark, root, materialized = true, tail = 60,
      now = () => nowV, periods = Seq(Periods.TenSecond))
    tsdb.insert(Seq(("a", 900.0, 1.0), ("a", 905.0, 2.0)))
    tsdb.sync()
    assert(tsdb.table("tensecond").count() == 1)
    // idle source: clock advances far past retention; the first sync drops
    // every day= partition, the following ones read the emptied directory
    // (explicit schema — inference would throw AnalysisException here)
    nowV = 10 * 86400.0
    tsdb.sync()
    tsdb.sync()
    assert(tsdb.incoming.count() == 0)
    assert(tsdb.table("tensecond").count() == 1) // finals survive retention
  }

  test("materialized period tables are day-partitioned; getMetric prunes by day") {
    val root = Files.createTempDirectory("graft-daypart").toString
    val nowV = 2 * 86400.0 + 1000
    val tsdb = new Tsdb(spark, root, materialized = true, tail = 60,
      now = () => nowV, periods = Seq(Periods.TenSecond))
    tsdb.insert(Seq(
      ("a", 100.0, 1.0),          // day 0
      ("a", 86400.0 + 50, 2.0)))  // day 1
    tsdb.sync()
    val days = new java.io.File(s"$root/tensecond").listFiles()
      .filter(_.getName.startsWith("day=")).map(_.getName).sorted.toSeq
    assert(days == Seq("day=0", "day=1"))
    val q = tsdb.getMetric("a", "tensecond", "max", (0.0, 86399.0))
    // the day range derived from the interval reaches the scan as a
    // partition filter (directory-level pruning, no data files listed
    // outside it)
    assert("PartitionFilters: \\[[^\\]]*day".r
      .findFirstIn(q.queryExecution.executedPlan.toString).isDefined)
    assert(q.collect().toSeq.map(r => (r.getDouble(0), r.getDouble(1))) ==
      Seq((100.0, 1.0)))
  }

  test("incomingRange: bounded rows, day-partition pruned") {
    val root = Files.createTempDirectory("graft-range").toString
    val tsdb = new Tsdb(spark, root, materialized = true, tail = 60,
      now = () => 10 * 86400.0)
    tsdb.insert(Seq(
      ("a", 100.0, 1.0),                // day 0
      ("a", 86400.0 + 50, 2.0),         // day 1
      ("a", 86400.0 + 60, 3.0),         // day 1
      ("a", 2 * 86400.0 + 5, 4.0)))     // day 2
    val q = tsdb.incomingRange(86400.0 + 50, 86400.0 + 55)
    // the timestamp bounds become day predicates: only day=1 is read
    // a non-empty PartitionFilters list naming the day column (the bare
    // header prints even when nothing prunes)
    assert("PartitionFilters: \\[[^\\]]*day".r
      .findFirstIn(q.queryExecution.executedPlan.toString).isDefined)
    assert(q.collect().toSeq.map(r => (r.getString(0), r.getDouble(1))) ==
      Seq(("a", 86400.0 + 50)))
    // inclusive bounds on both ends; empty store yields an empty frame
    assert(tsdb.incomingRange(100.0, 2 * 86400.0 + 5).count() == 4)
    val empty = new Tsdb(spark,
      Files.createTempDirectory("graft-range-empty").toString)
    assert(empty.incomingRange(0.0, 1.0).count() == 0)
  }

  test("createViews: SQL over period views matches the golden rows (A6)") {
    val root = Files.createTempDirectory("graft-views").toString
    val tsdb = new Tsdb(spark, root, materialized = false)
    tsdb.insert(goldenPoints)
    tsdb.createViews()
    val got = spark.sql(
      "select * from tensecond order by path, timestamp").collect().toSeq
    assert(got == goldenTensecond)
    assert(spark.sql("select count(*) from incoming").collect()(0).getLong(0) == 4)
  }

  test("listMetrics: union-distinct over every period") {
    val root = Files.createTempDirectory("graft-lm").toString
    val tsdb = new Tsdb(spark, root, materialized = false)
    tsdb.insert(goldenPoints)
    assert(tsdb.listMetrics().collect().map(_.getString(0)).toSeq == Seq("one", "two"))
  }

  test("compact bounds per-day file counts without changing any row") {
    val root = Files.createTempDirectory("graft-compact").toString
    var nowV = 100.0
    val tsdb = new Tsdb(spark, root, materialized = true, tail = 60,
      now = () => nowV)
    // four insert+sync rounds, all landing in day 0: each sync appends
    // its own file(s) to the same day partition
    for (i <- 0 until 4) {
      tsdb.insert(Seq(("one", i * 10.0 + 1, i.toDouble)))
      nowV = 100.0 + i * 10
      tsdb.sync()
    }
    def dayFiles(table: String): Int = new java.io.File(s"$root/$table/day=0")
      .listFiles((_, n) => n.endsWith(".parquet")).length
    val before = tsdb.table("tensecond").orderBy("path", "timestamp")
      .collect().toSeq
    assert(before.size == 4 && dayFiles("tensecond") >= 4)

    tsdb.compact(maxFilesPerDay = 2)
    assert(dayFiles("tensecond") == 1)
    assert(dayFiles("incoming") == 1)
    assert(tsdb.table("tensecond").orderBy("path", "timestamp")
      .collect().toSeq == before)
    // idempotent: an already-compact day is left alone
    tsdb.compact(maxFilesPerDay = 2)
    assert(dayFiles("tensecond") == 1)
  }

  test("compact crash recovery: every staged crash state converges without loss or duplicates") {
    import org.apache.spark.sql.functions.col
    def freshTsdb(): (String, Tsdb) = {
      val root = Files.createTempDirectory("graft-compact-crash").toString
      var nowV = 100.0
      val t = new Tsdb(spark, root, materialized = true, tail = 60,
        now = () => nowV)
      for (i <- 0 until 3) {
        t.insert(Seq(("one", i * 10.0 + 1, i.toDouble)))
        nowV = 100.0 + i * 10
        t.sync()
      }
      (root, t)
    }
    def rows(t: Tsdb) = t.table("tensecond")
      .orderBy("path", "timestamp").collect().toSeq
    def stageTmp(root: String, withManifest: Boolean): Unit = {
      // a completed rewrite of day=0 staged in _compact_day=0, as a
      // crashed compaction would leave it
      val day = s"$root/tensecond/day=0"
      val tmp = s"$root/tensecond/_compact_day=0"
      spark.read.schema(TsdbSchema.aggregate).parquet(day)
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      if (withManifest) {
        val inputs = new java.io.File(day)
          .listFiles((_, n) => n.endsWith(".parquet"))
          .map(f => s"file:$day/${f.getName}")
        Files.writeString(java.nio.file.Paths.get(tmp, "_MANIFEST"),
          inputs.mkString("\n"))
      }
    }

    // state A: crash before the manifest — rewrite discarded, data intact
    val (rootA, tA) = freshTsdb()
    val expectA = rows(tA)
    stageTmp(rootA, withManifest = false)
    tA.compact(maxFilesPerDay = 1000) // no day oversized: only recovery runs
    assert(rows(tA) == expectA)
    assert(!new java.io.File(s"$rootA/tensecond/_compact_day=0").exists)

    // state B: crash after the manifest, before any delete — inputs are
    // complete, the redundant rewrite is discarded
    val (rootB, tB) = freshTsdb()
    val expectB = rows(tB)
    stageTmp(rootB, withManifest = true)
    tB.compact(maxFilesPerDay = 1000)
    assert(rows(tB) == expectB)
    assert(!new java.io.File(s"$rootB/tensecond/_compact_day=0").exists)

    // state C: crash mid-delete — recovery finishes the deletes and
    // promotes the rewrite; same rows, no duplicates, day compacted
    val (rootC, tC) = freshTsdb()
    val expectC = rows(tC)
    stageTmp(rootC, withManifest = true)
    val firstInput = new java.io.File(s"$rootC/tensecond/day=0")
      .listFiles((_, n) => n.endsWith(".parquet")).head
    assert(firstInput.delete())
    tC.compact(maxFilesPerDay = 1000)
    assert(rows(tC) == expectC)
    assert(!new java.io.File(s"$rootC/tensecond/_compact_day=0").exists)
    assert(new java.io.File(s"$rootC/tensecond/day=0")
      .listFiles((_, n) => n.endsWith(".parquet")).length == 1)
  }

  test("incomingRoot splits storage: raw under one root, aggregates under the other (S8)") {
    // TwoDatabasesTSDB (tsdb.py:423-454): incoming and aggregate tables
    // live at independent paths, same API surface
    val root = Files.createTempDirectory("graft-split-agg").toString
    val incRoot = Files.createTempDirectory("graft-split-inc").toString
    val tsdb = new Tsdb(spark, root, materialized = true, tail = 60,
      now = () => 1000.0, incomingRoot = Some(incRoot))
    tsdb.insert(goldenPoints)
    assert(new java.io.File(s"$incRoot/incoming").exists)
    assert(!new java.io.File(s"$root/incoming").exists)
    tsdb.sync()
    assert(new java.io.File(s"$root/tensecond").exists)
    assert(!new java.io.File(s"$incRoot/tensecond").exists)
    val got = tsdb.table("tensecond").orderBy("path", "timestamp").collect().toSeq
    assert(got == goldenTensecond)
    // reads still find the split incoming table after sync's retention
    assert(tsdb.incoming.count() == 4) // cutoff < 0 at now=1000: all kept
  }

  // ------------------------------------------- single-pass sync ≡ per period

  /** The per-period sync the single pass replaced, kept as the reference
    * it is checked against, over in-memory rows. Per period: each path's
    * high-water mark is its `max(timestamp)` in the table (an unbounded
    * read); its final range is `[mark + period, final_end)`, or
    * `[0, final_end)` without a mark; the range's points aggregate per
    * (path, bucket) into the eight stats. Returns each table with its new
    * final buckets appended.
    */
  private def referenceSync(
      incoming: Seq[Row],
      tables: Map[Period, Seq[Row]],
      tail: Long,
      nowTs: Double): Map[Period, Seq[Row]] =
    tables.map { case (period, rows) =>
      val s = period.seconds
      val finalEnd = Intervals.intervals(s, tail, nowTs, None).finalInterval.end
      val mark = rows.groupMapReduce(_.getString(0))(_.getDouble(1))(math.max)
      val fresh = incoming
        .filter(r => r.getDouble(1) >= mark.get(r.getString(0)).fold(0.0)(_ + s) &&
          r.getDouble(1) < finalEnd)
        .groupBy(r => (r.getString(0),
          (math.floor(r.getDouble(1).toLong.toDouble / s).toLong * s).toDouble))
        .map { case ((path, bucket), pts) =>
          val v = pts.map(_.getDouble(2)).sorted.toIndexedSeq
          Row(path, bucket, v.size.toDouble, v.head, v.last, v.sum / v.size, v.sum,
            percentile(v, 0.5), percentile(v, 0.9), percentile(v, 0.99))
        }
      period -> (rows ++ fresh)
    }

  /** Spark's exact `percentile` of sorted values: linear interpolation
    * between the two nearest ranks, in the same arithmetic, so the
    * doubles are bit-identical.
    */
  private def percentile(sorted: IndexedSeq[Double], p: Double): Double = {
    val pos = (sorted.size - 1).toLong * p
    val (lo, hi) = (math.floor(pos).toLong, math.ceil(pos).toLong)
    val (a, b) = (sorted(lo.toInt), sorted(hi.toInt))
    if (lo == hi || a == b) a else (hi - pos) * a + (pos - lo) * b
  }

  private def sortedRows(rows: Seq[Row]): Seq[Row] =
    rows.sortBy(r => (r.getString(0), r.getDouble(1)))

  test("single-pass sync ≡ per-period sync on random streams (property)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    final case class Step(advance: Double, points: Seq[(String, Double, Double)])
    final case class Scenario(periods: Seq[Period], tail: Long, start: Double,
        steps: Seq[Step])
    val paths = Seq("a", "b", "c", "d")
    val stepGen: Gen[Double => Step] = for {
      advance <- Gen.frequency(
        (4, Gen.choose(1.0, 120.0)), (2, Gen.choose(120.0, 7200.0)),
        (1, Gen.choose(86400.0, 3 * 86400.0)))
      // paths first appear mid-stream and go idle: each step sends from
      // a random subset
      active <- Gen.someOf(paths)
      points <- Gen.listOf(for {
        path <- Gen.oneOf(active.toSeq :+ "a")
        // mostly fresh points; late ones land before and after their
        // path's high-water mark
        lag <- Gen.frequency((5, Gen.choose(0.0, 30.0)),
          (2, Gen.choose(30.0, 600.0)), (1, Gen.choose(600.0, 2 * 86400.0)))
        ms <- Gen.choose(0, 999)
        value <- Gen.choose(0, 20) // integral: exact sums in any order
      } yield (path, lag, ms, value.toDouble)).map(_.take(12))
      dups <- Gen.choose(0, 2)
    } yield (clock: Double) => {
      val ps = points.map { case (path, lag, ms, v) =>
        (path, math.max(0.0, math.floor(clock + advance - lag) + ms / 1000.0), v)
      }
      Step(advance, ps ++ ps.take(dups)) // exact duplicate points
    }
    val scenarioGen = for {
      periods <- Gen.oneOf(Periods.all, Seq(Period("x", 7), Period("w", 604800)))
      tail <- Gen.oneOf(0L, 5L, 60L)
      start <- Gen.choose(0.0, 9 * 86400.0)
      steps <- Gen.listOfN(3, stepGen)
    } yield {
      var clock = math.floor(start)
      Scenario(periods, tail, clock, steps.map { f =>
        val st = f(clock); clock += st.advance; st
      })
    }

    val scenarios = (0L until 20L).map(seed =>
      seed -> scenarioGen(Gen.Parameters.default, Seed(seed)).get)
    // the seeds cover both period sets
    assert(scenarios.map(_._2.periods).distinct.size == 2)
    for ((seed, sc) <- scenarios) {
      val label = s"seed $seed: $sc"
      var nowV = sc.start
      val tsdb = new Tsdb(spark, Files.createTempDirectory("graft-prop").toString,
        tail = sc.tail, now = () => nowV, periods = sc.periods)
      var expected = sc.periods.map(_ -> Seq.empty[Row]).toMap
      for (st <- sc.steps) {
        nowV += st.advance
        if (st.points.nonEmpty) tsdb.insert(st.points)
        expected = referenceSync(tsdb.incoming.collect().toSeq, expected, sc.tail, nowV)
        tsdb.sync()
      }
      for (p <- sc.periods)
        assert(sortedRows(tsdb.table(p).collect().toSeq) == sortedRows(expected(p)),
          s"${p.name}, $label")
    }
  }

  test("steady-state sync: at most 17 jobs, at most one appended file per " +
    "(period table, day), each file's rows sorted by (path, timestamp)") {
    val root = Files.createTempDirectory("graft-steady").toString
    // noon: the retained history spans two day partitions
    val start = 19676L * 86400 + 43200
    var nowV = start.toDouble
    val tsdb = new Tsdb(spark, root, tail = 60, now = () => nowV)
    val rnd = new scala.util.Random(1)
    val paths = (0 until 4).map(i => s"host$i.load")
    def points(from: Long, until: Long) =
      for (t <- from until until by 10L; p <- paths)
        yield (p, t + rnd.nextInt(1000) / 1000.0, rnd.nextInt(100).toDouble)
    tsdb.insert(points(start - 86400 - 60, start))
    tsdb.sync()
    // ten simulated minutes of new points, then the sync under test
    tsdb.insert(points(start, start + 600))
    nowV = start + 600.0
    def parquetFiles(): Set[java.io.File] = Periods.all.flatMap { p =>
      Option(new java.io.File(s"$root/${p.name}").listFiles()).toSeq.flatten
        .filter(_.getName.startsWith("day="))
        .flatMap(_.listFiles((_, n) => n.endsWith(".parquet")))
    }.toSet
    val before = parquetFiles()
    val (_, jobs) = org.apache.spark.JobCounter(spark.sparkContext)(tsdb.sync())
    assert(jobs <= 17, s"$jobs jobs")
    val added = parquetFiles() -- before
    val byTableDay = added.groupBy(f =>
      (f.getParentFile.getParentFile.getName, f.getParentFile.getName))
    // ten minutes finalize a bucket in every period shorter than a day
    assert(byTableDay.keySet.map(_._1) ==
      Periods.all.filter(_.seconds < 86400).map(_.name).toSet)
    assert(byTableDay.values.forall(_.size == 1), byTableDay)
    added.foreach { f =>
      val keys = spark.read.parquet(f.getPath).select("path", "timestamp")
        .collect().toSeq.map(r => (r.getString(0), r.getDouble(1)))
      assert(keys.size > 1 && keys == keys.sorted, f)
    }
  }

  test("sync reads only the period-table days a high-water mark can still " +
    "filter: an idle path's old partitions are never read, and the tables " +
    "equal an unbounded read's") {
    val root = Files.createTempDirectory("graft-hwm-bound").toString
    var nowV = 0.0
    val tsdb = new Tsdb(spark, root, tail = 60, now = () => nowV)
    // six days of hourly points; "idle" stops sending after day 1
    for (day <- 0 until 6) {
      tsdb.insert(for (h <- 0 until 24; p <- Seq("busy", "idle") if p == "busy" || day < 2)
        yield (p, day * 86400.0 + h * 3600 + 5, (day + h % 7).toDouble))
      nowV = (day + 1) * 86400.0 + 120
      tsdb.sync()
    }
    // the idle path returns, and a late point for "busy" lands before
    // its own high-water mark
    tsdb.insert(Seq(("busy", 6 * 86400.0 + 10, 1.0), ("idle", 6 * 86400.0 + 20, 2.0),
      ("busy", 5 * 86400.0 + 30, 7.0)))
    nowV = 7 * 86400.0 + 120
    // retention kept incoming's days 5 and 6, so every mark that can still
    // filter lies in day 5 - 1 or later (bound = floor((5·86400 - p) / 86400))
    val bound = 4
    def days(p: Period): Seq[java.io.File] =
      new java.io.File(s"$root/${p.name}").listFiles().toSeq
        .filter(_.getName.startsWith("day="))
    assert(Periods.all.forall(p => days(p).size >= 5))
    val tables = Periods.all.map(p => p -> tsdb.table(p).collect().toSeq).toMap
    val expected = referenceSync(tsdb.incoming.collect().toSeq, tables, 60, nowV)
    // corrupt every partition below the bound: a sync that read one fails
    for (p <- Periods.all; d <- days(p)
        if d.getName.stripPrefix("day=").toInt < bound;
        f <- d.listFiles((_, n) => n.endsWith(".parquet")))
      Files.write(f.toPath, "not parquet".getBytes)
    intercept[Exception](tsdb.table(Periods.OneHour).collect())
    tsdb.sync()
    for (p <- Periods.all) {
      val got = spark.read.schema(TsdbSchema.withDay(TsdbSchema.aggregate))
        .parquet(s"$root/${p.name}").filter(col("day") >= bound)
        .select(graft.core.Stats.aggColumns.map(col): _*).collect().toSeq
      val (want, old) = expected(p).partition(_.getDouble(1) >= bound * 86400.0)
      assert(sortedRows(got) == sortedRows(want), p.name)
      assert(sortedRows(old) ==
        sortedRows(tables(p).filter(_.getDouble(1) < bound * 86400.0)), p.name)
      assert(want.size > tables(p).count(_.getDouble(1) >= bound * 86400.0), p.name)
    }
  }
}
