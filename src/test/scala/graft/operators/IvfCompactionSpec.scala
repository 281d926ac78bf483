package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** IVF layout compaction ([[Similarity.compactIvf]]) and the `_epochs`
  * ledger roll-up ([[EpochLedger.compactLedger]]): every
  * [[Similarity.appendIvfEpoch]] lands one file-set per partition dir
  * per epoch plus one ledger entry file — at hourly cadence the file
  * counts grow unbounded and scan planning / recovery listings degrade.
  * Compaction must bound both WITHOUT changing a single query answer,
  * through the same crash-safe reader-atomic generation publish the
  * rotation uses.
  */
class IvfCompactionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def vec(id: Long): Array[Float] =
    Array.tabulate(8) { j =>
      val h = scala.util.hashing.byteswap64(id * 8 + j)
      (Math.floorMod(h, 1001L) - 500L).toFloat / 500f
    }

  private def emb(ids: Range): DataFrame =
    ids.map(i => (i.toLong, vec(i.toLong))).toDF("vec_id", "embedding")

  private def rows(p: String): Set[(Long, String)] =
    spark.read.parquet(Similarity.ivfDataRoot(spark, p))
      .select("vec_id", "centroid_id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet

  private def probe(p: String): Set[(Long, Long, Int)] =
    Similarity.ivfKnnPartitioned(spark, p, Seq(0L, 3L, 7L), k = 3,
      nprobe = 2)
      .select("query_id", "neighbor_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

  /** A layout grown by `epochs` ledgered appends — each partition dir
    * accumulates one file-set per epoch.
    */
  private def grown(root: String, epochs: Int): String = {
    val path = s"$root/ivf"
    Similarity.writeIvfPartitioned(emb(0 until 16), path, centroidK = 2)
    (1 to epochs).foreach { e =>
      assert(Similarity.appendIvfEpoch(
        emb((100 * e) until (100 * e + 8)), path, s"e$e"))
    }
    path
  }

  test("compactIvf bounds the per-partition file count after N appends " +
    "and leaves probe results row-identical; the superseded generation " +
    "is retired, a replay is a no-op") {
    val root = java.nio.file.Files.createTempDirectory("graft-cmp").toString
    val path = grown(root, epochs = 4)
    val before = rows(path)
    val probeBefore = probe(path)
    // appends really fragmented the layout (epoch file-sets accumulate)
    assert(Similarity.ivfPartitionStats(spark, path).exists(_._2 > 1))

    assert(Similarity.compactIvf(spark, path, "c1"))
    assert(rows(path) == before)
    assert(probe(path) == probeBefore)
    // ONE file per partition dir now
    assert(Similarity.ivfPartitionStats(spark, path).forall(_._2 == 1))
    // published as a generation; the fragmented root retired, not lost
    assert(Similarity.ivfDataRoot(spark, path) == s"$path/_gen-1")
    assert(EpochLedger.listRetired(spark, path)
      .map(_._1) == Seq("c1.pre-rotate"))
    // replay: ledger hit, nothing rewritten
    assert(!Similarity.compactIvf(spark, path, "c1"))
    // partition pruning survives the generational layout: the probe
    // predicate still reaches the (gen-dir) scan as a PartitionFilter
    val plan = Similarity.ivfKnnPartitioned(spark, path, Seq(0L, 3L),
        k = 3, nprobe = 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("centroid_id"))
    // appends continue against the compacted generation
    assert(Similarity.appendIvfEpoch(emb(900 until 908), path, "e9"))
    assert(rows(path).size == before.size + 8)
  }

  test("compacting an already-generational layout retires the prior " +
    "generation in one rename and keeps answers identical") {
    val root = java.nio.file.Files.createTempDirectory("graft-cmp2").toString
    val path = grown(root, epochs = 2)
    assert(Similarity.compactIvf(spark, path, "c1"))
    assert(Similarity.appendIvfEpoch(emb(500 until 510), path, "e5"))
    val before = rows(path)
    val probeBefore = probe(path)
    assert(Similarity.compactIvf(spark, path, "c2"))
    assert(Similarity.ivfDataRoot(spark, path) == s"$path/_gen-2")
    assert(rows(path) == before)
    assert(probe(path) == probeBefore)
    assert(EpochLedger.listRetired(spark, path).map(_._1).sorted ==
      Seq("c1.pre-rotate", "c2.pre-rotate"))
    val f = Dedup.fsFor(spark, path)
    assert(!f.exists(new org.apache.hadoop.fs.Path(s"$path/_gen-1")))
  }

  test("maxRecordsPerFile re-splits oversized partitions instead of " +
    "forcing one file") {
    val root = java.nio.file.Files.createTempDirectory("graft-cmp3").toString
    val path = grown(root, epochs = 2)
    val before = rows(path)
    assert(Similarity.compactIvf(spark, path, "c1", maxRecordsPerFile = 3L))
    assert(rows(path) == before)
    val stats = Similarity.ivfPartitionStats(spark, path)
    // ceil(rows/3) files per partition — never one giant file
    stats.foreach { case (cid, files, _) =>
      val n = rows(path).count(_._2 == cid)
      assert(files == (n + 2) / 3, s"$cid: $files files for $n rows")
    }
  }

  test("crash injection at every compaction point: recovery plus a " +
    "same-id retry converge, rows and answers never change") {
    for (fp <- Seq("staged", "committed", "gen-move", "gen-moved",
      "published", "retire-dir", "retired")) {
      val root = java.nio.file.Files.createTempDirectory("graft-cmpcr").toString
      val path = grown(root, epochs = 2)
      val before = rows(path)
      val probeBefore = probe(path)
      val ex = intercept[RuntimeException] {
        Similarity.compactIvfStaged(spark, path, "c1", 0L,
          failpoint = p =>
            if (p == fp) throw new RuntimeException(s"injected at $p"))
      }
      assert(ex.getMessage.contains("injected"), fp)
      // whatever the crash point, the READER's view is already correct
      assert(rows(path) == before, fp)
      assert(probe(path) == probeBefore, fp)

      val appliedNow = Similarity.compactIvf(spark, path, "c1")
      assert(appliedNow == (fp == "staged"), fp)
      assert(EpochLedger.applied(spark, path, "c1"), fp)
      assert(rows(path) == before, fp)
      assert(probe(path) == probeBefore, fp)
      assert(Similarity.ivfPartitionStats(spark, path).forall(_._2 == 1), fp)
      val f = Dedup.fsFor(spark, path)
      assert(!f.exists(new org.apache.hadoop.fs.Path(s"$path/_retrain/c1")),
        fp)
      assert(EpochLedger.listQuarantined(spark, path).isEmpty, fp)
    }
  }

  test("an id cannot cross protocols: compacting under an applied epoch " +
    "id fails loudly; appending under a compaction id fails loudly") {
    val root = java.nio.file.Files.createTempDirectory("graft-cmpkind").toString
    val path = grown(root, epochs = 1)
    val ex1 = intercept[IllegalArgumentException] {
      Similarity.compactIvf(spark, path, "e1")
    }
    assert(ex1.getMessage.contains("protocol"))
    assert(Similarity.compactIvf(spark, path, "c1"))
    val ex2 = intercept[IllegalArgumentException] {
      Similarity.appendIvfEpoch(emb(700 until 704), path, "c1")
    }
    assert(ex2.getMessage.contains("protocol"))
  }

  test("compactLedger rolls the entry tail into one applied-set file: " +
    "applied()/kind checks and replay refusal survive, including " +
    "across a later compaction and further appends") {
    val root = java.nio.file.Files.createTempDirectory("graft-cmpledg").toString
    val path = grown(root, epochs = 3)
    assert(Similarity.compactIvf(spark, path, "c1"))
    val f = Dedup.fsFor(spark, path)
    def ledgerFiles: Seq[String] =
      f.listStatus(new org.apache.hadoop.fs.Path(s"$path/_epochs"))
        .map(_.getPath.getName).toIndexedSeq.sorted
    assert(ledgerFiles == Seq("c1", "e1", "e2", "e3"))

    assert(EpochLedger.compactLedger(spark, path) == 4)
    assert(ledgerFiles == Seq("_compacted.1"))
    // every id still answers applied, with its kind preserved
    (1 to 3).foreach(e =>
      assert(EpochLedger.applied(spark, path, s"e$e"), s"e$e"))
    assert(EpochLedger.applied(spark, path, "c1"))
    assert(!EpochLedger.applied(spark, path, "e4"))
    // replays refuse off the roll-up alone
    assert(!Similarity.appendIvfEpoch(emb(100 until 108), path, "e1"))
    assert(!Similarity.compactIvf(spark, path, "c1"))
    // cross-protocol ids still fail loudly off the roll-up's kind tags
    val ex = intercept[IllegalArgumentException] {
      Similarity.compactIvf(spark, path, "e2")
    }
    assert(ex.getMessage.contains("protocol"))

    // the tail regrows with new epochs; a second roll-up merges both
    assert(Similarity.appendIvfEpoch(emb(800 until 808), path, "e8"))
    assert(ledgerFiles == Seq("_compacted.1", "e8"))
    assert(EpochLedger.compactLedger(spark, path) == 1)
    assert(ledgerFiles == Seq("_compacted.2"))
    (Seq("e1", "e2", "e3", "c1", "e8")).foreach(id =>
      assert(EpochLedger.applied(spark, path, id), id))
    // nothing to roll: no-op
    assert(EpochLedger.compactLedger(spark, path) == 0)
    assert(ledgerFiles == Seq("_compacted.2"))
  }

  test("compactLedger crash injection: a crash after the roll-up lands " +
    "or mid-prune leaves every id readable, and a re-run converges to " +
    "one roll-up file") {
    for (fp <- Seq("rolled", "prune-file")) {
      val root = java.nio.file.Files.createTempDirectory("graft-cmplcr").toString
      val path = grown(root, epochs = 3)
      val f = Dedup.fsFor(spark, path)
      def ledgerFiles: Seq[String] =
        f.listStatus(new org.apache.hadoop.fs.Path(s"$path/_epochs"))
          .map(_.getPath.getName).toIndexedSeq.sorted
      val ex = intercept[RuntimeException] {
        EpochLedger.compactLedgerStaged(spark, path,
          p => if (p == fp) throw new RuntimeException(s"injected at $p"))
      }
      assert(ex.getMessage.contains("injected"), fp)
      // superset state: the roll-up is durable and every id answers
      // applied from at least one place
      assert(ledgerFiles.contains("_compacted.1"), fp)
      (1 to 3).foreach(e =>
        assert(EpochLedger.applied(spark, path, s"e$e"), s"$fp e$e"))
      assert(!Similarity.appendIvfEpoch(emb(100 until 108), path, "e1"), fp)
      // re-run converges: one roll-up, no stray entries or temps
      EpochLedger.compactLedger(spark, path)
      val after = ledgerFiles
      assert(after.count(_.startsWith("_compacted.")) == 1, s"$fp: $after")
      assert(after.forall(_.startsWith("_compacted.")), s"$fp: $after")
      (1 to 3).foreach(e =>
        assert(EpochLedger.applied(spark, path, s"e$e"), s"$fp e$e"))
      // the layout itself still appends normally
      assert(Similarity.appendIvfEpoch(emb(800 until 804), path, "e8"), fp)
      assert(EpochLedger.applied(spark, path, "e8"), fp)
    }
  }

  test("compactLedger with NO entry tail still prunes a crashed run's " +
    "residue: superseded roll-ups and hidden tmps converge to one file") {
    val root = java.nio.file.Files.createTempDirectory("graft-cmplnp").toString
    val path = grown(root, epochs = 2)
    assert(EpochLedger.compactLedger(spark, path) == 2) // -> _compacted.1
    val f = Dedup.fsFor(spark, path)
    val ledger = new org.apache.hadoop.fs.Path(s"$path/_epochs")
    // the state a crash between roll-up N and the final prune leaves
    // once every entry file was already dropped: a superseded roll-up
    // and a writeLedgerEntry tmp, no visible entries — the early
    // no-entries return used to skip the prune forever
    val newer = new org.apache.hadoop.fs.Path(ledger, "_compacted.2")
    require(f.rename(new org.apache.hadoop.fs.Path(ledger, "_compacted.1"),
      newer))
    for (residue <- Seq("_compacted.1", ".e9.tmp")) {
      val out = f.create(new org.apache.hadoop.fs.Path(ledger, residue), true)
      try out.write("e1\tepoch".getBytes("UTF-8")) finally out.close()
    }
    assert(EpochLedger.compactLedger(spark, path) == 0)
    val after = f.listStatus(ledger).map(_.getPath.getName).toSeq.sorted
    assert(after == Seq("_compacted.2"), after.toString)
    (1 to 2).foreach(e =>
      assert(EpochLedger.applied(spark, path, s"e$e"), s"e$e"))
  }

  test("partition-compaction manifest is comma-safe: a string partition " +
    "value containing ',' survives the staged swap — the tab-joined " +
    "dirs2 manifest key (Spark leaves ',' raw in partition dir names)") {
    val root = java.nio.file.Files.createTempDirectory("graft-comma").toString
    val path = s"$root/lay"
    Seq((1L, "a,b"), (2L, "a,b"), (3L, "c")).toDF("id", "col")
      .write.partitionBy("col").parquet(path)
    Seq((4L, "a,b")).toDF("id", "col")
      .write.mode("append").partitionBy("col").parquet(path)
    val want = spark.read.parquet(path).select("id", "col").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(want.size == 4)
    val n = EpochLedger.compactPartitionsStaged(spark, path, path, "col",
      "pc1", maxFilesPerPartition = 1, maxRecordsPerFile = 0L, _ => ())
    assert(n == 1) // only col=a,b was fragmented
    val got = spark.read.parquet(path).select("id", "col").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == want)
    // the comma dir really coalesced — under the legacy comma-joined
    // manifest the swap silently skipped it (parsed as 'col=a' + 'b')
    // while still ledgering the id, leaving it fragmented forever
    val f = Dedup.fsFor(spark, path)
    assert(EpochLedger.partitionFileStats(f, path, "col=")
      .forall(_._2 == 1))
    assert(EpochLedger.applied(spark, path, "pc1"))
  }

  test("ivfHealth: one call surfaces every runbook observable, " +
    "listing-only by default, across the flat->compacted transition") {
    val root = java.nio.file.Files.createTempDirectory("graft-health").toString
    val path = grown(root, epochs = 3)
    val h0 = Similarity.ivfHealth(spark, path)
    assert(h0.dataRoot == path && h0.generation.isEmpty)
    assert(h0.partitions > 0 && h0.files > h0.partitions && h0.bytes > 0)
    assert(h0.maxFilesPerPartition > 1) // the compaction trigger
    assert(h0.skewRatio >= 1.0)
    assert(h0.recall.isEmpty && h0.quarantined == 0 && h0.retired == 0)

    assert(Similarity.compactIvf(spark, path, "c1"))
    val h1 = Similarity.ivfHealth(spark, path, recallSampleN = 8, k = 3,
      nprobe = 2)
    assert(h1.dataRoot == s"$path/_gen-1" && h1.generation.contains("_gen-1"))
    assert(h1.maxFilesPerPartition == 1)
    assert(h1.retired == 1) // the pre-compaction root awaits purge
    val r = h1.recall.get
    assert(r.queries == 8 && r.k == 3 && r.nprobe == 2)
    assert(r.recallAtK >= 0.0 && r.recallAtK <= 1.0)
  }

  // ------------------------------------- partition-scoped compaction

  /** File names (with sizes) per partition dir — the "untouched dirs
    * really untouched" witness: a rewrite changes names, an identity
    * swap doesn't.
    */
  private def fileNames(p: String): Map[String, Set[String]] = {
    val f = Dedup.fsFor(spark, p)
    val root = new org.apache.hadoop.fs.Path(
      Similarity.ivfDataRoot(spark, p))
    f.listStatus(root)
      .filter(st => st.isDirectory &&
        st.getPath.getName.startsWith("centroid_id="))
      .map { st =>
        st.getPath.getName ->
          f.listStatus(st.getPath).map(_.getPath.getName)
            .filter(_.endsWith(".parquet")).toSet
      }.toMap
  }

  /** A layout where ONE partition is fragmented and the rest are not:
    * compact everything to one file, then append epochs whose vectors
    * all duplicate one stored vector — every epoch lands in that
    * vector's partition alone.
    */
  private def lopsided(root: String): (String, String) = {
    val path = s"$root/ivf"
    Similarity.writeIvfPartitioned(emb(0 until 16), path, centroidK = 2)
    assert(Similarity.compactIvf(spark, path, "c0"))
    val hot = spark.read.parquet(Similarity.ivfDataRoot(spark, path))
      .select("vec_id", "centroid_id").collect()
      .map(r => (r.getLong(0), r.getString(1))).head
    (1 to 3).foreach { e =>
      val dup = (1 to 4).map(i => (1000L * e + i, vec(hot._1)))
        .toDF("vec_id", "embedding")
      assert(Similarity.appendIvfEpoch(dup, path, s"pe$e"))
    }
    (path, s"centroid_id=${hot._2}")
  }

  test("compactIvfPartitions rewrites ONLY over-threshold dirs, in the " +
    "same generation: untouched dirs keep their exact files, rows and " +
    "probes are identical, compacted files carry the id footprint, " +
    "replay and nothing-to-do are no-ops") {
    val root = java.nio.file.Files.createTempDirectory("graft-pcmp").toString
    val (path, hotDir) = lopsided(root)
    val before = rows(path)
    val probeBefore = probe(path)
    val namesBefore = fileNames(path)
    assert(namesBefore(hotDir).size > 3) // really fragmented
    val genBefore = Similarity.ivfDataRoot(spark, path)

    assert(Similarity.compactIvfPartitions(spark, path, "pc1",
      maxFilesPerPartition = 3) == 1)
    // answers identical, NO generation bump
    assert(rows(path) == before)
    assert(probe(path) == probeBefore)
    assert(Similarity.ivfDataRoot(spark, path) == genBefore)
    val namesAfter = fileNames(path)
    // untouched dirs kept their EXACT files
    (namesBefore - hotDir).foreach { case (d, ns) =>
      assert(namesAfter(d) == ns, d)
    }
    // the hot dir is one file, footprint-named
    assert(namesAfter(hotDir).size == 1)
    assert(namesAfter(hotDir).forall(_.startsWith("pc1=")))
    // replaced files retired, never deleted
    assert(EpochLedger.listRetired(spark, path).map(_._1)
      .contains("pc1.compact"))
    // replay: ledger hit, nothing moves
    assert(Similarity.compactIvfPartitions(spark, path, "pc1",
      maxFilesPerPartition = 3) == 0)
    assert(fileNames(path) == namesAfter)
    // nothing over threshold now: fresh id is a no-op and stays
    // UNLEDGERED (reusable)
    assert(Similarity.compactIvfPartitions(spark, path, "pc2",
      maxFilesPerPartition = 3) == 0)
    assert(!EpochLedger.applied(spark, path, "pc2"))
    // appends continue normally
    assert(Similarity.appendIvfEpoch(emb(700 until 708), path, "e7"))
    assert(rows(path).size == before.size + 8)
  }

  test("compactIvfPartitions filesPerPartition salt: a hot dir " +
    "rewrites across up to N tasks/files, rows and probes identical") {
    val root = java.nio.file.Files.createTempDirectory("graft-pcsalt").toString
    val (path, hotDir) = lopsided(root)
    val before = rows(path)
    val probeBefore = probe(path)
    assert(fileNames(path)(hotDir).size > 3)
    // AQE's coalescing would merge the tiny salt groups at fixture
    // scale (the knob's target regime is GB-sized groups) — disable it
    // so the spreading is observable, as in the settled-build specs
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.get(coalesceKey)
    val n =
      try {
        spark.conf.set(coalesceKey, "false")
        Similarity.compactIvfPartitions(spark, path, "pcs1",
          maxFilesPerPartition = 3, filesPerPartition = 2)
      } finally spark.conf.set(coalesceKey, prev)
    assert(n == 1)
    val after = fileNames(path)(hotDir)
    assert(after.size <= 2 && after.forall(_.startsWith("pcs1=")), after)
    // the salt spread the hot dir across tasks
    assert(after.size == 2, after)
    assert(rows(path) == before)
    assert(probe(path) == probeBefore)
  }

  test("a dir that is exactly one compaction's output is never " +
    "re-targeted: maxRecordsPerFile keeping it over threshold cannot " +
    "loop the maintenance, and a new epoch re-arms it") {
    val root = java.nio.file.Files.createTempDirectory("graft-noloop").toString
    val (path, hotDir) = lopsided(root)
    // re-splits keep the hot dir over the threshold after compaction
    assert(Similarity.compactIvfPartitions(spark, path, "nl1",
      maxFilesPerPartition = 1, maxRecordsPerFile = 2L) == 1)
    val filesAfter = fileNames(path)(hotDir)
    assert(filesAfter.size > 1 && filesAfter.forall(_.startsWith("nl1=")),
      filesAfter)
    // still over threshold but already maximally compacted: a fresh id
    // must NOT rewrite it again (no endless rewrite-and-retire loop);
    // nothing staged, nothing ledgered
    assert(Similarity.compactIvfPartitions(spark, path, "nl2",
      maxFilesPerPartition = 1, maxRecordsPerFile = 2L) == 0)
    assert(!EpochLedger.applied(spark, path, "nl2"))
    assert(fileNames(path)(hotDir) == filesAfter)
    // a NEW epoch's file in the dir re-arms the compaction
    val hotVec = rows(path).collect {
      case (id, cid) if s"centroid_id=$cid" == hotDir => id
    }.head
    val dup = (1 to 3).map(i => (9000L + i, vec(hotVec)))
      .toDF("vec_id", "embedding")
    assert(Similarity.appendIvfEpoch(dup, path, "nle"))
    assert(Similarity.compactIvfPartitions(spark, path, "nl3",
      maxFilesPerPartition = 1, maxRecordsPerFile = 2L) == 1)
    assert(fileNames(path)(hotDir).forall(_.startsWith("nl3=")))
  }

  test("a uniformly-compacted dir IS re-targeted when the current " +
    "settings provably shrink it: a prior run's larger salt heals " +
    "under an unbounded-records compaction; a record-capped call " +
    "leaves it dormant (no loop either way)") {
    val root = java.nio.file.Files.createTempDirectory("graft-shrink").toString
    val (path, hotDir) = lopsided(root)
    val before = rows(path)
    val probeBefore = probe(path)
    // one-shot compaction with a write-parallelism salt leaves the hot
    // dir uniform at several files (AQE coalescing off so the salt
    // spreading is observable at fixture scale, as in the salt case)
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.get(coalesceKey)
    val n0 =
      try {
        spark.conf.set(coalesceKey, "false")
        Similarity.compactIvfPartitions(spark, path, "sh1",
          maxFilesPerPartition = 1, filesPerPartition = 4)
      } finally spark.conf.set(coalesceKey, prev)
    assert(n0 == 1)
    val uniform = fileNames(path)(hotDir)
    assert(uniform.size >= 2 && uniform.size <= 4 &&
      uniform.forall(_.startsWith("sh1=")), uniform)
    // same-or-larger salt cannot shrink it: skipped, nothing ledgered
    assert(Similarity.compactIvfPartitions(spark, path, "sh2",
      maxFilesPerPartition = 1, filesPerPartition = uniform.size) == 0)
    assert(!EpochLedger.applied(spark, path, "sh2"))
    assert(fileNames(path)(hotDir) == uniform)
    // a record-capped call cannot PROVE a reduction from the listing
    // (the count is row-bound): dormant by documented contract
    assert(Similarity.compactIvfPartitions(spark, path, "sh3",
      maxFilesPerPartition = 1, maxRecordsPerFile = 1000L) == 0)
    assert(fileNames(path)(hotDir) == uniform)
    // an unbounded-records call with the default salt of 1 provably
    // shrinks N -> 1: the dormant dir heals in one tick, rows and
    // probes identical
    assert(Similarity.compactIvfPartitions(spark, path, "sh4",
      maxFilesPerPartition = 1) == 1)
    val healed = fileNames(path)(hotDir)
    assert(healed.size == 1 && healed.forall(_.startsWith("sh4=")), healed)
    assert(rows(path) == before)
    assert(probe(path) == probeBefore)
  }

  test("partition compaction HEALS a mixed-schema dir: legacy rows " +
    "re-gain real q8 instead of baking persisted nulls the quantized " +
    "probe would silently drop") {
    val root = java.nio.file.Files.createTempDirectory("graft-pheal").toString
    val (path, hotDir) = lopsided(root)
    val before = rows(path)
    val dataRoot = Similarity.ivfDataRoot(spark, path)
    // strip the SQ8 columns from ONE of the hot dir's files — the
    // restored-legacy-file incident shape
    val f = Dedup.fsFor(spark, path)
    val pd = new org.apache.hadoop.fs.Path(s"$dataRoot/$hotDir")
    val victim = f.listStatus(pd)
      .filter(_.getPath.getName.endsWith(".parquet")).head.getPath
    val legacy = spark.read.option("basePath", dataRoot)
      .parquet(victim.toString).select("vec_id", "vec", "nrm")
    val tmp = s"$root/legacy"
    legacy.coalesce(1).write.parquet(tmp)
    f.delete(victim, false)
    val lf = f.listStatus(new org.apache.hadoop.fs.Path(tmp))
      .filter(_.getPath.getName.endsWith(".parquet")).head.getPath
    assert(f.rename(lf, new org.apache.hadoop.fs.Path(pd, lf.getName)))
    // the rewrite must re-derive, not propagate nulls
    assert(Similarity.compactIvfPartitions(spark, path, "ph1",
      maxFilesPerPartition = 1) >= 1)
    val healed = spark.read.parquet(dataRoot)
    assert(healed.schema.fieldNames.contains("q8"))
    assert(healed.filter(col("q8").isNull.or(col("qscale").isNull))
      .count() == 0L)
    assert(rows(path) == before)
    // the quantized probe serves every row again: exhaustive rerank
    // equals the exact probe over the healed layout
    val n = healed.count().toInt
    def collect(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
        .toSeq
    assert(collect(Similarity.ivfKnnQuantized(spark, path, Seq(0L, 3L),
        k = 3, nprobe = 2, rerank = n)) ==
      collect(Similarity.ivfKnnPartitioned(spark, path, Seq(0L, 3L),
        k = 3, nprobe = 2)))
  }

  test("compactIvfPartitions on a flat (never-rotated) layout stays " +
    "flat and keeps ledger evidence via footprints") {
    val root = java.nio.file.Files.createTempDirectory("graft-pcmpf").toString
    val path = grown(root, epochs = 3)
    val before = rows(path)
    val n = Similarity.compactIvfPartitions(spark, path, "pc1",
      maxFilesPerPartition = 1)
    assert(n >= 1)
    assert(rows(path) == before)
    assert(Similarity.ivfDataRoot(spark, path) == path) // still flat
    assert(Similarity.ivfPartitionStats(spark, path)
      .forall(_._2 == 1)) // every over-threshold dir now one file
    // the compacted files' footprints keep the layout evidenced: a
    // recovery sweep still sees ledgered history in the live dirs
    assert(EpochLedger.applied(spark, path, "pc1"))
    Similarity.recoverIvfEpochs(spark, path)
    assert(rows(path) == before)
    assert(EpochLedger.listQuarantined(spark, path).isEmpty)
  }

  test("compactIvfPartitions crash injection at every swap point: the " +
    "reader never sees doubled or mixed rows, and a same-id retry " +
    "converges with untouched dirs untouched") {
    for (fp <- Seq("staged", "committed", "swap-retire", "swap-in",
      "swapped")) {
      val root = java.nio.file.Files.createTempDirectory("graft-pcmpcr")
        .toString
      val (path, hotDir) = lopsided(root)
      val before = rows(path)
      val probeBefore = probe(path)
      val untouched = fileNames(path) - hotDir
      val ex = intercept[RuntimeException] {
        Similarity.compactIvfPartitionsStaged(spark, path, "pc1", 3, 0L,
          p => if (p == fp) throw new RuntimeException(s"injected at $p"))
      }
      assert(ex.getMessage.contains("injected"), fp)
      // at the crash instant: never doubled, never mixed — the view is
      // the full row set or (inside the two-rename window) the full
      // set minus exactly the swapping dir
      val atCrash = rows(path)
      assert(atCrash.subsetOf(before), fp)
      assert(atCrash == before ||
        atCrash == before.filterNot(_._2 == hotDir.stripPrefix("centroid_id=")),
        fp)

      val appliedNow = Similarity.compactIvfPartitions(spark, path, "pc1",
        maxFilesPerPartition = 3)
      assert(appliedNow == (if (fp == "staged") 1 else 0), fp)
      assert(EpochLedger.applied(spark, path, "pc1"), fp)
      assert(rows(path) == before, fp)
      assert(probe(path) == probeBefore, fp)
      val after = fileNames(path)
      untouched.foreach { case (d, ns) => assert(after(d) == ns, s"$fp $d") }
      assert(after(hotDir).size == 1, fp)
      val f = Dedup.fsFor(spark, path)
      assert(!f.exists(new org.apache.hadoop.fs.Path(s"$path/_retrain/pc1")),
        fp)
      assert(EpochLedger.listQuarantined(spark, path).isEmpty, fp)
    }
  }

  test("compactIvfPartitions works inside a published generation " +
    "without bumping it, and ids cannot cross protocols") {
    val root = java.nio.file.Files.createTempDirectory("graft-pcmpg").toString
    val (path, hotDir) = lopsided(root) // already generational (_gen-1)
    // bump to a fresh generation, then re-fragment one partition in it
    assert(Similarity.compactIvf(spark, path, "g1"))
    assert(Similarity.ivfDataRoot(spark, path) == s"$path/_gen-2")
    val hotCid = hotDir.stripPrefix("centroid_id=")
    val hotVec = spark.read.parquet(s"$path/_gen-2")
      .filter(col("centroid_id") === hotCid)
      .select("vec_id").collect().map(_.getLong(0)).head
    (1 to 3).foreach { e =>
      val dup = (1 to 4).map(i => (5000L * e + i, vec(hotVec)))
        .toDF("vec_id", "embedding")
      assert(Similarity.appendIvfEpoch(dup, path, s"ge$e"))
    }
    val before = rows(path)
    assert(Similarity.compactIvfPartitions(spark, path, "pc1",
      maxFilesPerPartition = 3) == 1)
    assert(rows(path) == before)
    assert(Similarity.ivfDataRoot(spark, path) == s"$path/_gen-2")
    // cross-protocol refusals, both directions
    val ex1 = intercept[IllegalArgumentException] {
      Similarity.compactIvfPartitions(spark, path, "ge1")
    }
    assert(ex1.getMessage.contains("protocol"))
    val ex2 = intercept[IllegalArgumentException] {
      Similarity.appendIvfEpoch(emb(600 until 604), path, "pc1")
    }
    assert(ex2.getMessage.contains("protocol"))
    val ex3 = intercept[IllegalArgumentException] {
      Similarity.compactIvf(spark, path, "pc1")
    }
    assert(ex3.getMessage.contains("protocol"))
  }

  // -------------------------------------------------- maintain policy

  test("ivfMaintain: healthy layout is a listing-only no-op; a " +
    "fragmented one compacts selectively in place; a long ledger tail " +
    "rolls up; a same-id re-run is a no-op") {
    val root = java.nio.file.Files.createTempDirectory("graft-maint").toString
    val path = grown(root, epochs = 4)
    // generous thresholds: nothing to do
    val m0 = Similarity.ivfMaintain(spark, path, "m0",
      Similarity.IvfMaintainPolicy(maxFilesPerPartition = 100,
        ledgerTailMax = 100))
    assert(m0.actions.isEmpty)
    assert(m0.health.maxFilesPerPartition > 2) // it SAW the fragmentation
    // fragmentation past threshold: compacts (never rotates), answers
    // identical, layout stays flat
    val before = rows(path)
    val probeBefore = probe(path)
    val m1 = Similarity.ivfMaintain(spark, path, "m1",
      Similarity.IvfMaintainPolicy(maxFilesPerPartition = 2,
        ledgerTailMax = 100))
    assert(m1.actions.size == 1 &&
      m1.actions.head.startsWith("compact-partitions("), m1.actions)
    assert(EpochLedger.applied(spark, path, "m1-compact"))
    assert(rows(path) == before)
    assert(probe(path) == probeBefore)
    assert(Similarity.ivfPartitionStats(spark, path).forall(_._2 <= 2))
    assert(Similarity.ivfDataRoot(spark, path) == path)
    // re-run, same id and thresholds: below threshold now, no actions
    val m1b = Similarity.ivfMaintain(spark, path, "m1",
      Similarity.IvfMaintainPolicy(maxFilesPerPartition = 2,
        ledgerTailMax = 100))
    assert(m1b.actions.isEmpty)
    // ledger tail (e1..e4 + m1-compact = 5) past threshold: rolls up
    val m2 = Similarity.ivfMaintain(spark, path, "m2",
      Similarity.IvfMaintainPolicy(maxFilesPerPartition = 100,
        ledgerTailMax = 4))
    assert(m2.actions.size == 1 &&
      m2.actions.head.startsWith("compact-ledger("), m2.actions)
    (1 to 4).foreach(e =>
      assert(EpochLedger.applied(spark, path, s"e$e"), s"e$e"))
    assert(EpochLedger.applied(spark, path, "m1-compact"))
    // the purge arm: unset = retired bytes never touched (m1 left
    // m1-compact.compact retired); an explicit window purges only
    // over-age dirs, reported as an action
    assert(EpochLedger.listRetired(spark, path).nonEmpty)
    val m3 = Similarity.ivfMaintain(spark, path, "m3",
      Similarity.IvfMaintainPolicy(maxFilesPerPartition = 100,
        ledgerTailMax = 100,
        purgeRetiredOlderThanMs = Some(3600L * 1000))) // all still fresh
    assert(m3.actions.isEmpty)
    assert(EpochLedger.listRetired(spark, path).nonEmpty)
    val f2 = Dedup.fsFor(spark, path)
    EpochLedger.listRetired(spark, path).foreach { case (nm, _, _) =>
      f2.setTimes(new org.apache.hadoop.fs.Path(s"$path/_retired/$nm"),
        System.currentTimeMillis - 2 * 3600 * 1000L, -1)
    }
    val m4 = Similarity.ivfMaintain(spark, path, "m4",
      Similarity.IvfMaintainPolicy(maxFilesPerPartition = 100,
        ledgerTailMax = 100, purgeRetiredOlderThanMs = Some(3600L * 1000)))
    assert(m4.actions.size == 1 &&
      m4.actions.head.startsWith("purge-retired("), m4.actions)
    assert(EpochLedger.listRetired(spark, path).isEmpty)
  }

  test("ivfMaintain heals a torn compaction at entry even when every " +
    "threshold then reads healthy") {
    val root = java.nio.file.Files.createTempDirectory("graft-mheal").toString
    val (path, _) = lopsided(root)
    val before = rows(path)
    intercept[RuntimeException] {
      Similarity.compactIvfPartitionsStaged(spark, path, "pc1", 3, 0L,
        p => if (p == "swap-in") throw new RuntimeException("injected"))
    }
    assert(rows(path) != before) // really torn (mid-swap dir missing)
    val m = Similarity.ivfMaintain(spark, path, "mh",
      Similarity.IvfMaintainPolicy(maxFilesPerPartition = 1000,
        skewThreshold = 1e9))
    assert(m.actions.isEmpty) // healthy thresholds: no ACTION...
    assert(rows(path) == before) // ...but the torn compaction completed
    assert(EpochLedger.applied(spark, path, "pc1"))
    val f = Dedup.fsFor(spark, path)
    assert(!f.exists(new org.apache.hadoop.fs.Path(s"$path/_retrain/pc1")))
  }

  test("ivfMaintain: a skew breach rotates (re-trains) instead of " +
    "compacting, preserving every row") {
    val root = java.nio.file.Files.createTempDirectory("graft-maintsk").toString
    val path = s"$root/ivf"
    Similarity.writeIvfPartitioned(emb(0 until 16), path, centroidK = 4)
    val hot = spark.read.parquet(path)
      .select("vec_id").collect().map(_.getLong(0)).min
    // enough DISTINCT near-duplicate rows that the hot dir's byte
    // share alone breaches the threshold — the append's
    // one-file-per-dir exchange means per-file overhead no longer pads
    // the fragmented dir's bytes, and identical vectors would
    // dictionary-compress away; scaling the magnitude keeps the
    // direction (and so the cosine assignment) while defeating both
    (1 to 3).foreach { e =>
      val dup = (1 to 48).map(i =>
          (2000L * e + i, vec(hot).map(_ * (1f + i * 1e-4f))))
        .toDF("vec_id", "embedding")
      assert(Similarity.appendIvfEpoch(dup, path, s"se$e"))
    }
    val wantIds = spark.read.parquet(path)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(Similarity.ivfSkewRatio(spark, path) > 2.0)
    val m = Similarity.ivfMaintain(spark, path, "m1",
      Similarity.IvfMaintainPolicy(skewThreshold = 2.0,
        maxFilesPerPartition = 1000, centroidK = 4))
    assert(m.actions.nonEmpty &&
      m.actions.head.startsWith("rotate(skew"), m.actions)
    // on this near-duplicate fixture the re-train may land above the
    // tight 2.0 threshold — then the skew breaker's WARNING is the
    // only other legitimate action; a compact alongside a rotation
    // would still be a bug
    assert(m.actions.tail.forall(_.contains("skew-unmet-after-rotation")),
      m.actions)
    assert(EpochLedger.applied(spark, path, "m1-rotate"))
    val gotIds = spark.read
      .parquet(Similarity.ivfDataRoot(spark, path))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(gotIds == wantIds)
  }

  test("purgeRetiredOlderThan: only over-age retired dirs are deleted, " +
    "a non-positive window is refused, and the dedup-pair mirror " +
    "sweeps both roots") {
    import org.apache.hadoop.fs.Path
    val root = java.nio.file.Files.createTempDirectory("graft-purge").toString
    val path = grown(root, epochs = 1)
    assert(Similarity.compactIvf(spark, path, "c1")) // retires c1.pre-rotate
    assert(Similarity.compactIvf(spark, path, "c2")) // retires c2.pre-rotate
    val f = Dedup.fsFor(spark, path)
    val now = System.currentTimeMillis
    f.setTimes(new Path(s"$path/_retired/c1.pre-rotate"),
      now - 2 * 3600 * 1000L, -1)
    intercept[IllegalArgumentException] {
      EpochLedger.purgeRetiredOlderThan(spark, path, 0L)
    }
    // window 1h: only the aged dir goes
    val purged =
      EpochLedger.purgeRetiredOlderThan(spark, path, 3600L * 1000, now)
    assert(purged == Seq("c1.pre-rotate"))
    assert(EpochLedger.listRetired(spark, path).map(_._1) ==
      Seq("c2.pre-rotate"))
    // idempotent; fresh dir survives until IT ages past the window
    assert(EpochLedger.purgeRetiredOlderThan(spark, path, 3600L * 1000,
      now).isEmpty)
    assert(EpochLedger.purgeRetiredOlderThan(spark, path, 3600L * 1000,
      now + 2 * 3600 * 1000L) == Seq("c2.pre-rotate"))
    // the dedup-pair mirror sweeps both roots in one call
    val h = s"$root/hist"
    val i = s"$root/idx"
    f.mkdirs(new Path(s"$h/_retired/old1"))
    f.mkdirs(new Path(s"$i/_retired/old2"))
    f.setTimes(new Path(s"$h/_retired/old1"), now - 10000, -1)
    f.setTimes(new Path(s"$i/_retired/old2"), now - 10000, -1)
    assert(Dedup.purgeRetiredOlderThan(spark, h, i, 5000L, now).toSet ==
      Set("old1", "old2"))
    assert(Dedup.listRetired(spark, h, i).isEmpty)
  }

  test("purgeRetiredOlderThan on a zero-mtime dir (the S3A directory-" +
    "status shape) falls back to the newest FILE mtime — fresh content " +
    "survives any window, aged content purges, empty dirs are skipped") {
    import org.apache.hadoop.fs.Path
    val root = java.nio.file.Files.createTempDirectory("graft-purge0").toString
    val path = grown(root, epochs = 1)
    assert(Similarity.compactIvf(spark, path, "c1"))
    val f = Dedup.fsFor(spark, path)
    val retired = new Path(s"$path/_retired/c1.pre-rotate")
    val now = System.currentTimeMillis
    // simulate the object-store listing: dir mtime reads 0 while the
    // files inside are FRESH — trusting the dir mtime would purge a
    // seconds-old retirement on the first sweep
    f.setTimes(retired, 0L, -1)
    assert(f.getFileStatus(retired).getModificationTime == 0L)
    assert(EpochLedger.purgeRetiredOlderThan(spark, path,
      3600L * 1000, now).isEmpty)
    assert(EpochLedger.listRetired(spark, path).map(_._1) ==
      Seq("c1.pre-rotate"))
    // age the CONTENT past the window: the fallback judges by it
    val it = f.listFiles(retired, true)
    while (it.hasNext)
      f.setTimes(it.next().getPath, now - 2 * 3600 * 1000L, -1)
    f.setTimes(retired, 0L, -1)
    assert(EpochLedger.purgeRetiredOlderThan(spark, path,
      3600L * 1000, now) == Seq("c1.pre-rotate"))
    // a zero-mtime dir with NO readable timestamp anywhere is never
    // deleted on missing evidence
    val empty = new Path(s"$path/_retired/ghost")
    f.mkdirs(empty)
    f.setTimes(empty, 0L, -1)
    assert(EpochLedger.purgeRetiredOlderThan(spark, path,
      1L, now + 1000L).isEmpty)
    assert(f.exists(empty))
  }

  test("maintain policies refuse a filesPerPartition salt above the " +
    "file-count threshold (the compact-every-tick loop)") {
    val root = java.nio.file.Files.createTempDirectory("graft-saltg").toString
    val path = grown(root, epochs = 1)
    intercept[IllegalArgumentException] {
      Similarity.ivfMaintain(spark, path, "mg1",
        Similarity.IvfMaintainPolicy(maxFilesPerPartition = 4,
          filesPerPartition = 8))
    }
    intercept[IllegalArgumentException] {
      Dedup.dedupMaintain(spark, s"$root/h", s"$root/i", "mg2",
        Dedup.BucketMaintainPolicy(maxFilesPerPartition = 4,
          filesPerPartition = 8))
    }
  }

  test("compactLedger is harmless on a layout with no ledger dir") {
    val root = java.nio.file.Files.createTempDirectory("graft-cmpnl").toString
    val path = s"$root/ivf"
    Similarity.writeIvfPartitioned(emb(0 until 8), path, centroidK = 2)
    assert(EpochLedger.compactLedger(spark, path) == 0)
  }
}
