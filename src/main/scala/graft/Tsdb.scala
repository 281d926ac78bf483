package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{Intervals, Period, Periods, Stats}
import graft.core.DriverThreads.concurrently
import graft.operators.Agg

/** Schemas of the two table shapes (reference: tsdb.py:155-180). */
object TsdbSchema {
  val incoming: StructType = StructType(Seq(
    StructField("path", StringType, nullable = false),
    StructField("timestamp", DoubleType, nullable = false),
    StructField("value", DoubleType, nullable = false)))

  val aggregate: StructType = StructType(
    StructField("path", StringType, nullable = false) +:
      Stats.aggColumns.tail.map(c => StructField(c, DoubleType, nullable = true)))

  /** `schema` + the `day` partition column. Partitioned directories are
    * always read with this EXPLICIT schema: inference throws
    * AnalysisException on a directory whose partitions have all been
    * dropped by retention (an idle source would crash-loop the sync
    * daemon), while an explicit schema yields the empty frame.
    */
  def withDay(schema: StructType): StructType =
    schema.add(StructField("day", LongType, nullable = true))
}

/** Spark-native reimplementation of smalltsdb's TSDB API (tsdb.py:70-457).
  *
  * One class covers the reference's three backends (SURVEY.md §1.4) via two
  * knobs:
  *  - `materialized = false` ⇒ ViewTSDB: every read of a period table
  *    recomputes the aggregation over `incoming` (partial buckets visible).
  *  - `materialized = true` ⇒ TablesTSDB: period tables are real parquet
  *    tables, incrementally maintained by [[sync]] (only *final* buckets
  *    ever appear — append-once semantics, late data for finalized buckets
  *    is dropped, exactly like a Structured Streaming append-mode window
  *    with a `tail`-second watermark).
  *  - TwoDatabasesTSDB's separate-file layout (tsdb.py:423-454) is the
  *    `incomingRoot` option: incoming and aggregate tables at independent
  *    storage paths (free in Spark — there are no file locks to isolate).
  *
  * Scale design: `incoming` is an append-only parquet directory; each
  * period table is parquet partitioned by aggregation work — sync appends
  * only never-before-final buckets (deterministic half-open ranges make the
  * append idempotent across successful runs, replacing SQLite's
  * `insert or replace` PK upsert, SURVEY.md §2.8 W5). On a real cluster the
  * same layout holds: one sync aggregation for every period shuffles on
  * (period, path, bucket), its result once more on (period, day) for the
  * appends, and the high-water-mark join broadcasts (distinct paths ≪
  * data).
  *
  * @param now injectable clock, epoch seconds (reference `_now`,
  *            tsdb.py:92 — the whole deterministic test strategy depends on
  *            keeping this injectable).
  */
final class Tsdb(
    val spark: SparkSession,
    root: String,
    val materialized: Boolean = true,
    val tail: Long = 60,
    var now: () => Double = () => System.currentTimeMillis() / 1000.0,
    val periods: Seq[Period] = Periods.all,
    incomingRoot: Option[String] = None) {

  private val incomingPath: String = incomingRoot.getOrElse(root) + "/incoming"
  private def periodPath(p: Period): String = s"$root/${p.name}"

  private def fs(path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def readOrEmpty(path: String, schema: StructType): DataFrame =
    if (fs(path).exists(new Path(path)))
      spark.read.schema(schema).parquet(path)
    else
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

  // ---------------------------------------------------------------- write

  /** Append datapoints to `incoming` (reference insert(), tsdb.py:111-114 —
    * no dedup, no validation beyond non-null).
    */
  def insert(points: Seq[(String, Double, Double)]): Unit = {
    import spark.implicits._
    insert(points.toDF("path", "timestamp", "value"))
  }

  def insert(df: DataFrame): Unit = {
    val rows = df.select(
      col("path").cast(StringType),
      col("timestamp").cast(DoubleType),
      col("value").cast(DoubleType))
    // day partitions make retention a partition drop and let time
    // predicates prune whole directories at scale
    rows.withColumn("day", Tsdb.dayOf(col("timestamp")))
      .write.partitionBy("day").mode("append").parquet(incomingPath)
  }

  // ----------------------------------------------------------------- read

  /** Incoming rows with `timestamp ∈ [lo, hi]`, pruned at the
    * day-partition level BEFORE the row filter — the bounded read for
    * incremental probes (e.g. the ingest dedup anti-join): a predicate
    * on the data column `timestamp` alone cannot prune `day`
    * directories, so an unbounded `incoming.filter(ts >= x)` would list
    * and scan the whole history every time.
    */
  def incomingRange(lo: Double, hi: Double): DataFrame =
    inRange(incomingWithDay, lo, hi)

  /** [[incomingRange]] over an already-resolved `incomingWithDay`. */
  private def inRange(withDay: DataFrame, lo: Double, hi: Double): DataFrame =
    withDay
      .filter(col("day").between(
        math.floor(lo / 86400.0).toLong, math.floor(hi / 86400.0).toLong))
      .filter(col("timestamp").between(lo, hi))
      .select("path", "timestamp", "value")

  // the day column is projected away so the logical schema stays
  // (path, timestamp, value), while remaining available to the
  // optimizer for partition pruning underneath
  def incoming: DataFrame = incomingWithDay.select("path", "timestamp", "value")

  /** The day-partitioned `incoming` WITH its day column (empty frame
    * when never written). Always an explicit-schema read (never
    * inference — see [[TsdbSchema.withDay]]).
    */
  private def incomingWithDay: DataFrame =
    readOrEmpty(incomingPath, TsdbSchema.withDay(TsdbSchema.incoming))

  /** A materialized period table WITH its day partition column (empty
    * frame when never synced). Always an explicit-schema read.
    */
  private def materializedTable(period: Period): DataFrame =
    readOrEmpty(periodPath(period), TsdbSchema.withDay(TsdbSchema.aggregate))

  /** The aggregate series for one period: a maintained table
    * (TablesTSDB) or a recomputed view (ViewTSDB, tsdb.py:201-231).
    */
  def table(period: Period): DataFrame =
    if (materialized)
      materializedTable(period).select(Stats.aggColumns.map(col): _*)
    else Agg.aggregate(incoming, period)

  /** Resolve a period name against THIS instance's period set — a name
    * outside it is an error even if it is a default period name (the
    * reference asserts membership the same way, tsdb.py:120).
    */
  private def resolvePeriod(periodName: String): Period =
    periods.find(_.name == periodName).getOrElse(
      throw new IllegalArgumentException(s"unknown period: $periodName"))

  def table(periodName: String): DataFrame = table(resolvePeriod(periodName))

  /** Reference get_metric (tsdb.py:116-140): one series of one stat over a
    * closed interval. `between` is inclusive on both ends, matching the
    * reference's read-path BETWEEN (tsdb.py:135).
    * The period/stat whitelists guard the same way the reference's asserts
    * do (tsdb.py:119-121, SURVEY.md §2.9 Q7).
    */
  def getMetric(
      path: String,
      periodName: String,
      stat: String,
      interval: (Double, Double)): DataFrame = {
    val period = checkedPeriod(periodName, stat)
    metricLeg(resolve(legTable(period)), path, period, stat, interval)
      .orderBy("timestamp")
  }

  /** Many [[getMetric]] series as ONE query with one collect — the
    * /graph route's read (reference make_graph calls get_metric once per
    * metric, app/__init__.py:116). Every `(path, period, stat)` is
    * checked before any Spark work, so a bad entry in any position fails
    * the whole request up front. Each leg is tagged with its position,
    * the legs are unioned and collected once, and the rows are grouped by
    * position and ordered by timestamp on the driver: the window is
    * bounded and pre-aggregated, so a driver sort replaces a global
    * `orderBy` (a range-partition sample job and a sort shuffle) per
    * series. Element `i` holds the `(timestamp, stat)` rows that
    * `getMetric(specs(i)...).collect()` returns, ordered by timestamp.
    */
  def getMetrics(
      specs: Seq[(String, String, String)],
      interval: (Double, Double)): Seq[Seq[Row]] = {
    val byLeg = metricsUnion(specs, interval)
      .fold(Map.empty[Int, Array[Row]])(_.collect().groupBy(_.getInt(2)))
    specs.indices.map(i => byLeg.getOrElse(i, Array.empty[Row]).toSeq
      .sortBy(_.getDouble(0))
      .map(r => Row(r.get(0), r.get(1))))
  }

  /** [[getMetrics]]'s one query: every leg tagged with its position
    * (`timestamp`, stat, `leg`), unioned; None for no specs. Each
    * distinct [[legTable]] is resolved (and listed) ONCE and shared by
    * the legs that read it.
    */
  private[graft] def metricsUnion(
      specs: Seq[(String, String, String)],
      interval: (Double, Double)): Option[DataFrame] = {
    val checked = specs.map { case (path, periodName, stat) =>
      (path, checkedPeriod(periodName, stat), stat)
    }
    val tables = checked.map(c => legTable(c._2)).distinct
      .map(t => t -> resolve(t)).toMap
    checked.zipWithIndex.map { case ((path, period, stat), i) =>
      metricLeg(tables(legTable(period)), path, period, stat, interval)
        .withColumn("leg", lit(i))
    }.reduceOption(_ union _)
  }

  private def checkedPeriod(periodName: String, stat: String): Period = {
    require(Stats.isValid(stat), s"unknown stat: $stat")
    resolvePeriod(periodName)
  }

  /** The table a leg over `period` reads: its period table
    * (materialized, `Some(period)`) or `incoming` (view, None). */
  private def legTable(period: Period): Option[Period] =
    if (materialized) Some(period) else None

  /** A [[legTable]] resolved, WITH its day column. */
  private def resolve(table: Option[Period]): DataFrame =
    table.fold(incomingWithDay)(materializedTable)

  /** One series, unordered, over its resolved [[legTable]]: the
    * day-partition prune (materialized) or the raw-time range below the
    * aggregation (view), then the path and inclusive interval filter
    * and the one-stat projection.
    */
  private def metricLeg(
      table: DataFrame,
      path: String,
      period: Period,
      stat: String,
      interval: (Double, Double)): DataFrame = {
    val src =
      if (materialized)
        // derive the day range from the time interval so the predicate
        // prunes whole partition directories before any file is listed
        table
          .filter(col("day").between(
            math.floor(interval._1 / 86400.0).toLong,
            math.floor(interval._2 / 86400.0).toLong))
          .select(Stats.aggColumns.map(col): _*)
      else {
        // view mode: push the equivalent RAW-time range below the
        // aggregation so parquet row-group pruning applies. Bucket b is
        // selected iff b ∈ [start, end] iff its raw points fall in
        // [ceilAlign(start), floorAlign(end) + period) — exact, since
        // buckets are aligned.
        val p = period.seconds
        val rawLo = math.ceil(interval._1 / p) * p
        val rawHi = math.floor(interval._2 / p) * p + p
        // incomingRange's day prune, not bare incoming: a predicate on
        // the DATA column timestamp alone cannot prune day= partitions
        // (the class comment above), so the bare form would list and
        // scan the whole retained history per request. Its inclusive hi
        // bound may admit one extra bucket at rawHi; the half-open
        // filter below removes it before aggregation
        Agg.aggregate(
          inRange(table, rawLo, rawHi).filter(col("path") === path &&
            col("timestamp") >= rawLo && col("timestamp") < rawHi),
          period)
      }
    src
      .filter(col("path") === path &&
        col("timestamp").between(interval._1, interval._2))
      .select(col("timestamp"), col(stat))
  }

  /** Register one temp view per period (+ `incoming`) so plain
    * `spark.sql("select * from tensecond")` works — the reference's
    * view-shaped API surface (A6: tsdb.py:216-226, ViewTSDB's views /
    * TablesTSDB's tables behind the same names).
    */
  def createViews(): Unit = {
    incoming.createOrReplaceTempView("incoming")
    periods.foreach(p => table(p).createOrReplaceTempView(p.name))
    viewsRegistered = true
  }

  // the views are LIVE like the reference's SQLite views, not
  // point-in-time snapshots: a temp view pins its relation's file
  // listing at registration, so after sync/retention/compaction delete
  // or replace files a stale view throws FileNotFoundException (or
  // silently serves pre-sync data). The two mutators re-register at
  // exit whenever the user has created views.
  @volatile private var viewsRegistered = false
  private def refreshViews(): Unit = if (viewsRegistered) createViews()

  /** Reference list_metrics (tsdb.py:142-152): union-distinct of paths over
    * every period table. Kept in the reference's union shape (SURVEY.md
    * §2.9 Q6) — Catalyst's column pruning strips the unused stat aggregates
    * from each leg, so in view mode this degenerates to cheap distinct
    * scans.
    */
  def listMetrics(): DataFrame =
    periods.map(p => table(p).select("path"))
      .reduce(_ union _)
      .distinct()
      // a handful of paths: one sorted partition, not a global sort's
      // sample job and second shuffle
      .coalesce(1)
      .sortWithinPartitions("path")

  // ----------------------------------------------------------------- sync

  /** Incrementally finalize buckets for every period, then apply raw-data
    * retention (reference TablesTSDB.sync, tsdb.py:305-337). No-op in view
    * mode (tsdb.py:230-231).
    *
    * Every period is finalized in ONE pass — the set-oriented form of the
    * reference's per-period, per-path loop (tsdb.py:339-410, SURVEY.md
    * §3.2):
    *
    *  1. high-water marks: every period table's `max(timestamp)` per path,
    *     read as one relation keyed by (period, path) and broadcast (one
    *     row per period and metric path ≪ data; the J1 join,
    *     tsdb.py:354-364).
    *  2. one scan of `incoming` (no cache, no separate distinct-path
    *     pass): each row expands once per period and is kept only inside
    *     its path's half-open final range `[last_final + period,
    *     final_end)`, with a single global `final_end = (now - tail) //
    *     period * period` per period (the [[Intervals]] algebra; a path
    *     with no mark starts at 0, tsdb.py:260-261; half-open per SURVEY.md
    *     §2.9 Q2 — deliberately NOT reproducing the reference's
    *     inclusive-BETWEEN boundary bug at tsdb.py:405-406). Late data
    *     before a path's own mark is therefore dropped: append-once.
    *  3. one aggregation grouped by (period, path, bucket) produces every
    *     new final bucket of every period, with the exact `percentile`
    *     ([[Agg.aggregateBy]]).
    *  4. the result is repartitioned on (period, bucket day), sorted within
    *     partitions by (day, path, timestamp) and materialized once
    *     (`localCheckpoint`); each period table's slice is then appended,
    *     the appends overlapping on driver threads (each targets its own
    *     table). So each sync appends AT MOST ONE file per (period table,
    *     touched day), its rows sorted by (path, timestamp) — small store
    *     files and row groups whose (path, timestamp) ranges prune
    *     `getMetric`'s reads.
    *  5. [[retention]] stages its rewrite beside the appends and commits
    *     its deletes after them.
    *
    * Ranges never overlap previously-final buckets, so append ≡ the
    * reference's `insert or replace` upsert, without a transactional MERGE.
    */
  def sync(): Unit = {
    if (!materialized) return
    // a crashed compaction must be resolved BEFORE any table is read or
    // retention deletes anything: sync over a half-compacted period
    // table would re-finalize "missing" buckets that recovery later
    // restores (duplicates), and retention deleting a crashed
    // compaction's manifest inputs would make recovery misclassify its
    // state. sync and compact are the only mutators and share the
    // single-writer lock, so recovery-at-entry restores consistency
    // before either proceeds.
    recoverCompactions()
    recoverRetention()
    val nowTs = now()
    val days = incomingDays()
    val finals = finalBuckets(nowTs, days.map(_._1).minOption).localCheckpoint(true)
    val (stageRetention, commitRetention) = retention(nowTs, days)
    concurrently(stageRetention +: periods.map(p => () => appendFinals(p, finals)): _*)
    commitRetention()
    refreshViews()
  }

  /** The `day=` partitions of `incoming` with their day numbers (empty
    * when never written). Listed once per sync:
    * both the high-water-mark bound and retention use this listing.
    */
  private def incomingDays(): Seq[(Long, Path)] = {
    val f = fs(incomingPath)
    if (!f.exists(new Path(incomingPath))) Seq.empty
    else f.listStatus(new Path(incomingPath)).toSeq
      .filter(_.getPath.getName.startsWith("day="))
      .map(st => (st.getPath.getName.stripPrefix("day=").toLong, st.getPath))
  }

  /** Every new final bucket of every period (steps 1-4 of [[sync]]),
    * with `period` (the name) and `day` columns beside the table columns.
    *
    * `minDay` is the oldest `incoming` day partition; the scan reads only
    * days from it on, so every incoming row is at or after
    * `minDay·86400`. A path's mark L only changes its range filter when
    * L + p is later than that, so for period p only table partitions
    * with `day ≥ floor((minDay·86400 − p) / 86400)` are read: a mark in
    * an older partition filters nothing, exactly like no mark. This
    * keeps the mark read bounded while the period tables (never
    * retained) grow with the store's age.
    */
  private def finalBuckets(nowTs: Double, minDay: Option[Long]): DataFrame = {
    def sinceDay(df: DataFrame, seconds: Long): DataFrame = minDay.fold(df)(d =>
      df.filter(col("day") >= Math.floorDiv(d * 86400 - seconds, 86400L)))
    val marks = periods.map(p =>
        sinceDay(materializedTable(p), p.seconds)
          .select(lit(p.name).as("period"), col("path"), col("timestamp")))
      .reduce(_ union _)
      .groupBy("period", "path").agg(max("timestamp").as("last_final"))
    val expand = explode(array(periods.map(p => struct(
      lit(p.name).as("period"),
      lit(p.seconds).as("seconds"),
      lit(Intervals.intervals(p.seconds, tail, nowTs, None).finalInterval.end)
        .as("final_end"))): _*))
    val rows = minDay.fold(incomingWithDay)(d => incomingWithDay.filter(col("day") >= d))
      .select(col("path"), col("timestamp"), col("value"), expand.as("p"))
      .select("path", "timestamp", "value", "p.*")
      .join(broadcast(marks), Seq("period", "path"), "left")
      .filter(col("timestamp") >=
        coalesce(col("last_final") + col("seconds"), lit(0.0)) &&
        col("timestamp") < col("final_end"))
    Agg.aggregateBy(rows, col("period"), col("path"),
        Agg.bucket(col("timestamp"), col("seconds")).as("timestamp"))
      .withColumn("day", Tsdb.dayOf(col("timestamp")))
      .repartition(col("period"), col("day"))
      .sortWithinPartitions("day", "path", "timestamp")
  }

  /** Append one period's slice of [[finalBuckets]] to its table. */
  private def appendFinals(period: Period, finals: DataFrame): Unit = {
    // bucket-day partitions: getMetric's time interval prunes whole
    // directories, and ageing out finalized history becomes a partition
    // drop (same layout as incoming); [[compact]] bounds the file count
    // a day accumulates over many syncs
    finals.filter(col("period") === period.name)
      .select((Stats.aggColumns :+ "day").map(col): _*)
      .write.partitionBy("day").mode("append").parquet(periodPath(period))
  }

  /** Resolve any crashed compaction on every table this instance owns
    * (see [[compactTable]]'s protocol). Runs at the entry of the two
    * mutators, [[sync]] and [[compact]].
    */
  private def recoverCompactions(): Unit = {
    def scan(tableRoot: String): Unit = {
      val f = fs(tableRoot)
      if (!f.exists(new Path(tableRoot))) return
      f.listStatus(new Path(tableRoot))
        .filter(_.getPath.getName.startsWith("_compact_day="))
        .foreach(t => recoverCompact(f, tableRoot, t.getPath))
    }
    scan(incomingPath)
    if (materialized) periods.foreach(p => scan(periodPath(p)))
  }

  /** Compact day partitions whose file count exceeded `maxFilesPerDay`:
    * each sync appends one file per touched day, so an always-on daemon
    * grows a day's partition to ~8640 files at a 10 s cadence — this is
    * the periodic maintenance job that bounds it (the companion to
    * [[sync]]'s append-only write path). Each oversized day is rewritten
    * to ~`targetBytes` files which replace exactly the input files read
    * (see [[compactTable]] — concurrent appends to the same day are
    * never touched); run it under the same single-writer lock as sync.
    * Day partitions are independent, so the work is O(oversized days)
    * driver-side listings plus one bounded Spark job per oversized day.
    */
  def compact(
      maxFilesPerDay: Int = 16,
      targetBytes: Long = 128L * 1024 * 1024): Unit = {
    recoverCompactions()
    compactTable(incomingPath, TsdbSchema.incoming, maxFilesPerDay, targetBytes)
    if (materialized)
      periods.foreach(p =>
        compactTable(periodPath(p), TsdbSchema.aggregate, maxFilesPerDay, targetBytes))
    refreshViews()
  }

  /** Compact one table's oversized day partitions. Concurrent-append
    * safe: the rewrite reads an EXPLICIT file list and replaces exactly
    * those files — a daemon appending a new file to the same day during
    * the compaction is never touched (the day DIRECTORY is never
    * deleted or renamed). Every delete/rename result is checked (Hadoop
    * FileSystems report most failures through the return value).
    *
    * Crash safety via a manifest protocol — per oversized day:
    *   1. write the compacted files + a `_MANIFEST` of the input paths
    *      into `_compact_day=N` (invisible to readers);
    *   2. delete the manifest's input files;
    *   3. move the compacted files into the live day dir;
    *   4. delete the tmp dir.
    * The manifest lands atomically (write + rename), so it either
    * exists complete or not at all. [[recoverCompactions]] runs at the
    * ENTRY of both mutators — sync() and compact(), which share the
    * single-writer lock — and classifies a leftover tmp by its
    * manifest: all inputs still present ⇒ crashed before (2), discard
    * the tmp; otherwise ⇒ crashed during/after (2), finish the deletes
    * and complete the move. Data therefore comes from EITHER the
    * inputs or the rewrite, never both (no crash state yields
    * duplicates), and no state loses rows. Recovery-at-sync-entry also
    * means retention and re-finalization never observe a
    * half-compacted table. Readers between (2) and (3) see the day
    * partially missing — the window is a handful of renames wide and
    * sits inside the locked maintenance operation.
    */
  private def compactTable(
      tableRoot: String,
      schema: StructType,
      maxFilesPerDay: Int,
      targetBytes: Long): Unit = {
    val f = fs(tableRoot)
    if (!f.exists(new Path(tableRoot))) return
    f.listStatus(new Path(tableRoot))
      .filter(_.getPath.getName.startsWith("day=")).foreach { st =>
        val parts = f.listStatus(st.getPath)
          .filter(_.getPath.getName.endsWith(".parquet"))
        if (parts.length > maxFilesPerDay) {
          val day = st.getPath.getName.stripPrefix("day=")
          val nOut = math.max(1L,
            (parts.map(_.getLen).sum + targetBytes - 1) / targetBytes).toInt
          val tmp = new Path(s"$tableRoot/_compact_day=$day")
          spark.read.schema(schema)
            .parquet(parts.map(_.getPath.toString).toIndexedSeq: _*)
            .coalesce(nOut)
            .write.mode("overwrite").parquet(tmp.toString)
          // the manifest is the protocol's commit point, so it must
          // appear ATOMICALLY (write + rename): a truncated manifest
          // would misclassify the crash state and duplicate rows
          val manifestTmp = new Path(tmp, "._MANIFEST.tmp")
          val out = f.create(manifestTmp, true)
          try out.write(parts.map(_.getPath.toString).mkString("\n")
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
          finally out.close()
          require(f.rename(manifestTmp, new Path(tmp, "_MANIFEST")),
            s"compact: manifest rename failed for $tmp")
          parts.foreach { p =>
            require(f.delete(p.getPath, false),
              s"compact: delete of input ${p.getPath} failed")
          }
          moveCompactedIn(f, tmp, st.getPath)
        }
      }
  }

  /** Move a tmp dir's compacted parquet files into the live day dir
    * (Spark part-file names embed a job UUID — no collisions), then
    * drop the tmp dir.
    */
  private def moveCompactedIn(
      f: org.apache.hadoop.fs.FileSystem, tmp: Path, dayDir: Path): Unit = {
    f.mkdirs(dayDir) // idempotent; the move target must exist
    f.listStatus(tmp)
      .filter(_.getPath.getName.endsWith(".parquet")).foreach { nf =>
        val dst = new Path(dayDir, nf.getPath.getName)
        require(f.rename(nf.getPath, dst),
          s"compact: rename ${nf.getPath} -> $dst failed")
      }
    require(f.delete(tmp, true), s"compact: cleanup of $tmp failed")
  }

  /** Finish or discard a crashed compaction (see [[compactTable]]). */
  private def recoverCompact(
      f: org.apache.hadoop.fs.FileSystem, tableRoot: String, tmp: Path): Unit = {
    val manifest = new Path(tmp, "_MANIFEST")
    if (!f.exists(manifest)) {
      // crashed before the manifest was durable: inputs are intact,
      // the rewrite may be partial — discard it
      require(f.delete(tmp, true), s"compact: cleanup of $tmp failed")
      return
    }
    val len = f.getFileStatus(manifest).getLen.toInt
    val buf = new Array[Byte](len)
    val in = f.open(manifest)
    try in.readFully(0, buf) finally in.close()
    val inputs = new String(buf, java.nio.charset.StandardCharsets.UTF_8)
      .split("\n").toSeq.filter(_.nonEmpty).map(new Path(_))
    val present = inputs.filter(f.exists(_))
    if (present.size == inputs.size) {
      // crashed after writing the rewrite but before any delete: the
      // inputs are complete, so the rewrite is redundant — discard it
      require(f.delete(tmp, true), s"compact: cleanup of $tmp failed")
    } else {
      // deletes started: the rewrite is the source of truth — finish
      // the deletes and complete the move
      present.foreach(p =>
        require(f.delete(p, false), s"compact: delete of input $p failed"))
      val day = tmp.getName.stripPrefix("_compact_day=")
      moveCompactedIn(f, tmp, new Path(s"$tableRoot/day=$day"))
    }
  }

  /** Raw-data retention (reference _delete_incoming, tsdb.py:412-420): drop
    * incoming rows older than `now - tail - max(period)` — kept exactly
    * long enough for the longest period to finalize: a drop of the
    * expired day partitions in `days` (the sync's own listing) plus a
    * filtered rewrite of the boundary day.
    *
    * Returns two steps. `stage` writes the kept rows into a hidden dir
    * and deletes nothing; `commit` drops the expired data and swaps the
    * kept rows in. [[sync]] overlaps `stage` with its appends and runs
    * `commit` only after every append succeeded, so no row is deleted
    * before the final buckets it belongs to are stored.
    */
  private def retention(
      nowTs: Double, days: Seq[(Long, Path)]): (() => Unit, () => Unit) = {
    val cutoff = nowTs - tail - Periods.maxSeconds(periods)
    val f = fs(incomingPath)
    if (!f.exists(new Path(incomingPath))) return (() => (), () => ())
    // whole days strictly before the cutoff day: drop the directories;
    // only the single boundary-day partition needs a filtering rewrite.
    // The rewrite is a CHECKED swap with recovery ([[recoverRetention]]
    // at sync entry): kept rows land in a hidden _retained_day dir
    // (invisible to readers), the live dir deletes, the retained dir
    // renames in — a crash before the delete leaves the live dir the
    // source of truth (retained copy discarded at recovery), a crash
    // after it leaves the retained dir to be renamed in. An unchecked
    // delete-then-rename could strand the kept boundary rows in the
    // hidden dir forever, finalizing buckets with missing data.
    val cutoffDay = math.floor(cutoff / 86400.0).toLong
    def tmp(day: Long) = new Path(s"$incomingPath/_retained_day=$day")
    val boundary = days.filter(_._1 == cutoffDay)
    val stage = () => boundary.foreach { case (day, dir) =>
      spark.read.schema(TsdbSchema.incoming).parquet(dir.toString)
        .filter(col("timestamp") >= cutoff)
        .write.mode("overwrite").parquet(tmp(day).toString)
    }
    val commit = () => days.foreach { case (day, dir) =>
      if (day < cutoffDay)
        require(f.delete(dir, true),
          s"retention: delete of expired $dir failed")
      else if (day == cutoffDay) {
        require(f.delete(dir, true),
          s"retention: delete of boundary day $dir failed")
        require(f.rename(tmp(day), dir),
          s"retention: rename ${tmp(day)} -> $dir failed")
      }
    }
    (stage, commit)
  }

  /** Resolve a crashed [[retention]] swap: a retained rewrite
    * whose LIVE counterpart still exists never committed (the live dir
    * is the source of truth — the possibly-partial retained copy is
    * discarded and the next sync's retention recomputes it); one whose
    * live counterpart is GONE committed at the delete — finish the
    * rename. Runs at sync entry beside [[recoverCompactions]], under
    * the same single-writer lock.
    */
  private def recoverRetention(): Unit = {
    val f = fs(incomingPath)
    if (!f.exists(new Path(incomingPath))) return
    f.listStatus(new Path(incomingPath))
      .filter(_.getPath.getName.startsWith("_retained_day="))
      .foreach { t =>
        val day = t.getPath.getName.stripPrefix("_retained_day=")
        val live = new Path(s"$incomingPath/day=$day")
        if (f.exists(live))
          require(f.delete(t.getPath, true),
            s"retention recovery: discard of ${t.getPath} failed")
        else
          require(f.rename(t.getPath, live),
            s"retention recovery: rename ${t.getPath} -> $live failed")
      }
  }
}

object Tsdb {
  /** Partition day (UTC day number) of an epoch-seconds timestamp. */
  def dayOf(ts: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    floor(ts / 86400).cast(LongType)
}
