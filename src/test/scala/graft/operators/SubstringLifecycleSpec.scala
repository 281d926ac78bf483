package graft.operators

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The substring window-hash index's lifecycle
  * ([[Dedup.compactSubstringPartitions]] / [[Dedup.substringMaintain]] /
  * [[Dedup.substringFsck]] / [[Dedup.recoverSubstringLayout]]): the
  * compaction's sum-merge must be invisible to the probe, the policy's
  * observables must actually bound, and a crash at any protocol point
  * must heal to the same probe results.
  */
class SubstringLifecycleSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val W = 4
  private val Buckets = 8

  // two shared-run cliques, one STRADDLING the base/epoch splits so a
  // merged ddf that loses an epoch's partial count breaks the probe
  private val sharedRun = "c1 c2 c3 c4 c5"
  private def history = (0L until 40L).map { i =>
    val body = (1 to 8).map(j => s"h${i}w$j").mkString(" ")
    if (i == 0 || i == 15 || i == 30) s"$sharedRun $body" else body
  }.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")

  private def batch = Seq(
    (1000L, s"b0a b0b $sharedRun b0c"),
    (1001L, "fresh f1 f2 f3 f4 f5 f6")).toDF("doc_id", "text")

  /** base 0..14, ep1 15..29, ep2 30..39 — each clique member in a
    * different slice.
    */
  private def buildThreeSlices(idx: String): Unit = {
    Dedup.writeSubstringIndex(history.filter($"doc_id" < 15), idx,
      window = W, nBuckets = Buckets)
    assert(Dedup.appendSubstringEpoch(
      history.filter($"doc_id" >= 15 && $"doc_id" < 30), idx, "ep1"))
    assert(Dedup.appendSubstringEpoch(
      history.filter($"doc_id" >= 30), idx, "ep2"))
  }

  private def probeRows(idx: String): Seq[(Long, Long, Long)] =
    Dedup.substringDupProbe(batch, idx).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

  private def layoutRows(idx: String): DataFrame =
    spark.read.parquet(idx)

  test("compaction sum-merges each hash's epoch rows back to the " +
    "at-rest one-row-per-window shape; the probe is invariant; replays " +
    "no-op") {
    val root = java.nio.file.Files.createTempDirectory("graft-sslc").toString
    val idx = s"$root/idx"
    buildThreeSlices(idx)
    val before = probeRows(idx)
    // the straddling clique is live signal: base+ep1+ep2 each hold one
    // copy, and the batch doc dups against their SUM
    assert(before.map(t => (t._1, t._3 > 0)) ==
      Seq((1000L, true), (1001L, false)))
    val rowsBefore = layoutRows(idx).count()
    val distinctHashes = layoutRows(idx).select("whash").distinct().count()
    assert(rowsBefore > distinctHashes,
      "fixture must hold multi-row hashes for the merge to be observable")
    val maxFilesBefore =
      Dedup.substringPartitionStats(spark, idx).map(_._2).max
    assert(maxFilesBefore > 1, "fixture must be fragmented")

    // minDocs = 4 is satisfiable ONLY by summing all three slices'
    // counts (1 base + 1 ep1 + 1 ep2 + 1 batch); minDocs = 5 is not —
    // the pair brackets the ddf sum exactly
    def dupAt(minDocs: Int): Boolean =
      Dedup.substringDupProbe(batch, idx, minDocs = minDocs)
        .filter($"doc_id" === 1000L).head().getLong(2) > 0
    assert(dupAt(4) && !dupAt(5))

    val n = Dedup.compactSubstringPartitions(spark, idx, "c1")
    assert(n > 0)
    // files: every compacted bucket back to one file; rows: one per
    // distinct window hash (the merge), same distinct-hash set, ddf
    // preserved as the SUM (total ddf mass is invariant)
    assert(Dedup.substringPartitionStats(spark, idx).map(_._2).max == 1)
    assert(layoutRows(idx).count() == distinctHashes)
    assert(layoutRows(idx).select("whash").distinct().count()
      == distinctHashes)
    assert(probeRows(idx) == before)
    // the merged row still carries the full sum (the bracketing pair
    // survives the merge)
    assert(dupAt(4) && !dupAt(5))
    // replay no-ops (same id, nothing rewritten twice)
    assert(Dedup.compactSubstringPartitions(spark, idx, "c1") == 0)
    // a FRESH id with nothing over threshold also no-ops (stays
    // unledgered, id reusable)
    assert(Dedup.compactSubstringPartitions(spark, idx, "c2") == 0)
    // post-compaction appends keep working and keep counting: a THIRD
    // clique copy lands after the merge and the ddf still sums across
    // the merged row and the fresh epoch row
    assert(Dedup.appendSubstringEpoch(
      Seq((50L, s"$sharedRun extra e1 e2")).toDF("doc_id", "text"),
      idx, "ep3"))
    val after = probeRows(idx)
    assert(after.map(t => (t._1, t._3 > 0)) ==
      Seq((1000L, true), (1001L, false)))
    // doc 1000 gained no new duplicated windows (already over minDocs)
    assert(after == before)
  }

  test("substringMaintain: fragmentation and ledger growth repair under " +
    "the policy's thresholds; a healthy second tick does nothing") {
    val root = java.nio.file.Files.createTempDirectory("graft-ssmt").toString
    val idx = s"$root/idx"
    buildThreeSlices(idx)
    val before = probeRows(idx)
    val m = Dedup.substringMaintain(spark, idx, "m1",
      Dedup.BucketMaintainPolicy(
        maxFilesPerPartition = 1, ledgerTailMax = 1))
    assert(m.actions.exists(_.startsWith("compact-index(")), m.actions)
    assert(m.actions.exists(_.startsWith("compact-ledger(")), m.actions)
    assert(m.maxFilesPerBucket > 1)
    assert(probeRows(idx) == before)
    // the observables actually bounded: one file per bucket, visible
    // ledger tail = the roll-up plus at most the compaction's own entry
    assert(Dedup.substringPartitionStats(spark, idx).forall(_._2 == 1))
    val visibleTail = Dedup.fsFor(spark, idx)
      .listStatus(new org.apache.hadoop.fs.Path(s"$idx/_epochs"))
      .map(_.getPath.getName)
      .count(n => !n.startsWith("_") && !n.startsWith("."))
    assert(visibleTail <= 1, s"ledger tail unbounded: $visibleTail")
    // healthy second tick: no actions (the uniform-dir guard keeps the
    // policy from re-compacting its own output forever)
    val m2 = Dedup.substringMaintain(spark, idx, "m2",
      Dedup.BucketMaintainPolicy(
        maxFilesPerPartition = 1, ledgerTailMax = 64))
    assert(m2.actions.isEmpty, m2.actions)
  }

  test("crash at 'staged' discards; crash at 'committed' resumes at the " +
    "next entry; both converge to the same probe") {
    val root = java.nio.file.Files.createTempDirectory("graft-sscr").toString

    // staged, not committed: the live layout was never touched — the
    // next maintenance entry discards the stage and the id is reusable
    val idxA = s"$root/a"
    buildThreeSlices(idxA)
    val want = probeRows(idxA)
    intercept[RuntimeException] {
      Dedup.compactSubstringPartitionsStaged(spark, idxA, "cx",
        maxFilesPerPartition = 1, maxRecordsPerFile = 0L,
        failpoint = p => if (p == "staged") sys.error("boom-staged"))
    }
    assert(Dedup.fsFor(spark, idxA)
      .exists(new org.apache.hadoop.fs.Path(s"$idxA/_retrain/cx")))
    Dedup.recoverSubstringLayout(spark, idxA)
    assert(!Dedup.fsFor(spark, idxA)
      .exists(new org.apache.hadoop.fs.Path(s"$idxA/_retrain/cx")))
    assert(probeRows(idxA) == want)
    assert(Dedup.compactSubstringPartitions(spark, idxA, "cx") > 0)
    assert(probeRows(idxA) == want)

    // committed, crash before the swaps: recovery completes the
    // compaction (this is the window where an UNHEALED read could see
    // an empty bucket — the heal-at-entry contract); the id replays
    // as a no-op afterwards
    val idxB = s"$root/b"
    buildThreeSlices(idxB)
    intercept[RuntimeException] {
      Dedup.compactSubstringPartitionsStaged(spark, idxB, "cy",
        maxFilesPerPartition = 1, maxRecordsPerFile = 0L,
        failpoint = p => if (p == "committed") sys.error("boom-committed"))
    }
    // the next mutating entry heals it (append is enough — every entry
    // heals first)
    assert(Dedup.appendSubstringEpoch(
      Seq((60L, "post p1 p2 p3 p4")).toDF("doc_id", "text"), idxB, "ep9"))
    assert(EpochLedger.applied(spark, idxB, "cy"))
    assert(Dedup.compactSubstringPartitions(spark, idxB, "cy") == 0)
    assert(probeRows(idxB) == want)
  }

  test("rotateSubstringIndex: geometry migration publishes a reader-" +
    "atomic generation — probe invariant under a bucket-modulus change, " +
    "prior epoch ids stay ledgered, post-rotation appends/maintain " +
    "resolve the generation") {
    val root = java.nio.file.Files.createTempDirectory("graft-ssrt").toString
    val idx = s"$root/idx"
    buildThreeSlices(idx)
    val want = probeRows(idx)
    // the flat rebuild is (correctly) fenced once epochs are ledgered…
    intercept[IllegalArgumentException] {
      Dedup.writeSubstringIndex(history, idx, window = W,
        nBuckets = Buckets)
    }
    // …the rotation is the sanctioned migration: nBuckets 8 -> 16 over
    // the FULL corpus (the index stores hashes, not text)
    assert(Dedup.rotateSubstringIndex(history, idx, "r1",
      nBuckets = Some(16)))
    val (_, w2, nb2) = Dedup.openSubstringIndex(spark, idx)
    assert(w2 == W && nb2 == 16)
    assert(probeRows(idx) == want)
    // replay no-ops; prior epoch ids REMAIN ledgered (their docs are
    // inside the rebuilt index — a hand-replayed append must refuse)
    assert(!Dedup.rotateSubstringIndex(history, idx, "r1",
      nBuckets = Some(16)))
    assert(!Dedup.appendSubstringEpoch(
      history.filter($"doc_id" >= 15 && $"doc_id" < 30), idx, "ep1"))
    assert(probeRows(idx) == want)
    // the rebuilt generation is the merged at-rest shape: one row per
    // distinct window, and stats resolve the GENERATION's dirs
    assert(layoutRows(Dedup.substringDataRoot(spark, idx)).count() ==
      layoutRows(Dedup.substringDataRoot(spark, idx))
        .select("whash").distinct().count())
    assert(Dedup.substringPartitionStats(spark, idx).forall(_._2 == 1))
    // post-rotation appends land in the generation and keep counting:
    // a FOURTH clique copy pushes the minDocs bracket from 4/5 to 5/6
    assert(Dedup.appendSubstringEpoch(
      Seq((70L, s"$sharedRun post p1")).toDF("doc_id", "text"),
      idx, "ep4"))
    def dupAt(minDocs: Int): Boolean =
      Dedup.substringDupProbe(batch, idx, minDocs = minDocs)
        .filter($"doc_id" === 1000L).head().getLong(2) > 0
    assert(dupAt(5) && !dupAt(6))
    // the maintain tick runs against the generation too
    val m = Dedup.substringMaintain(spark, idx, "m1",
      Dedup.BucketMaintainPolicy(
        maxFilesPerPartition = 1, ledgerTailMax = 1))
    assert(m.actions.exists(_.startsWith("compact-index(")), m.actions)
    assert(dupAt(5) && !dupAt(6))
    assert(probeRows(idx) == want)
    // the scale property survives the migration: with the bucket
    // fast path disabled (the at-scale posture), the probe's candidate
    // buckets still reach the GENERATION's scan as partition filters
    Caching.passthrough = true
    try {
      val plan = Dedup.substringDupProbe(batch, idx,
          pruneSkipMaxBuckets = 0)
        .queryExecution.executedPlan.toString
      assert(plan.matches("(?s).*PartitionFilters: \\[[^\\]]*wh_bucket.*"),
        s"no wh_bucket partition filter in the rotated layout's probe:\n" +
          plan)
    } finally Caching.passthrough = false
    // and the default fast path (16 buckets <= the skip threshold)
    // answers identically without the bucket-resolution pass: no
    // wh_bucket partition predicate in the plan means the driver-side
    // distinct().collect() branch (one whole Spark job per probe —
    // per TRIGGER on the in-stream gate) never ran
    Caching.passthrough = true
    try {
      val fastPlan = Dedup.substringDupProbe(batch, idx)
        .queryExecution.executedPlan.toString
      assert(
        !fastPlan.matches("(?s).*PartitionFilters: \\[[^\\]]*wh_bucket.*"),
        s"fast path still resolved buckets:\n$fastPlan")
    } finally Caching.passthrough = false
    assert(Dedup.substringDupProbe(batch, idx).orderBy("doc_id")
        .collect().toSeq ==
      Dedup.substringDupProbe(batch, idx, pruneSkipMaxBuckets = 0)
        .orderBy("doc_id").collect().toSeq)
    // the fast path is SCAN-SIZE-bounded too: against a LARGE
    // small-modulus history (byte bound forced to zero) the default
    // gate re-engages the bucket resolution — filter present, rows
    // identical
    spark.conf.set("spark.graft.pruneSkip.maxBytes", "0")
    try {
      Caching.passthrough = true
      val sizedPlan =
        try Dedup.substringDupProbe(batch, idx)
          .queryExecution.executedPlan.toString
        finally Caching.passthrough = false
      assert(sizedPlan.matches("(?s).*PartitionFilters: \\[[^\\]]*wh_bucket.*"),
        s"large-history skip did not re-engage the wh_bucket filter:\n" +
          sizedPlan)
      assert(Dedup.substringDupProbe(batch, idx).orderBy("doc_id")
          .collect().toSeq ==
        Dedup.substringDupProbe(batch, idx, pruneSkipMaxBuckets = 0)
          .orderBy("doc_id").collect().toSeq)
    } finally spark.conf.unset("spark.graft.pruneSkip.maxBytes")
  }

  test("rotateSubstringIndex: a window change re-derives under the new " +
    "geometry (probe equals the full recompute at the new window); a " +
    "first-build rotation without explicit geometry refuses") {
    val root = java.nio.file.Files.createTempDirectory("graft-ssrw").toString
    val idx = s"$root/idx"
    buildThreeSlices(idx)
    assert(Dedup.rotateSubstringIndex(history, idx, "r1",
      window = Some(5)))
    val got = probeRows(idx)
    val want = Dedup.substringDupStats(
        history.unionByName(batch), window = 5)
      .filter($"doc_id" >= 1000L).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == want)

    // building THROUGH a rotation on a fresh path needs both knobs
    val fresh = s"$root/fresh"
    val e = intercept[RuntimeException] {
      Dedup.rotateSubstringIndex(history, fresh, "r0")
    }
    assert(e.getMessage.contains("no _meta"), e.getMessage)
    assert(Dedup.rotateSubstringIndex(history, fresh, "r0",
      window = Some(W), nBuckets = Some(4)))
    assert(probeRows(fresh) ==
      Dedup.substringDupStats(history.unionByName(batch), window = W)
        .filter($"doc_id" >= 1000L).orderBy("doc_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSeq)
  }

  test("rotation crash points: 'staged' discards, 'committed' and " +
    "'published' resume through recovery; the probe converges either " +
    "way") {
    val root = java.nio.file.Files.createTempDirectory("graft-ssrc").toString

    // pre-commit crash: the live layout was never touched
    val idxA = s"$root/a"
    buildThreeSlices(idxA)
    val want = probeRows(idxA)
    intercept[RuntimeException] {
      Dedup.rotateSubstringIndexStaged(history, idxA, "rx",
        window = None, nBuckets = Some(16), textCol = "text",
        deferRetire = false,
        failpoint = p => if (p == "staged") sys.error("boom"))
    }
    Dedup.recoverSubstringLayout(spark, idxA)
    val (_, _, nbA) = Dedup.openSubstringIndex(spark, idxA)
    assert(nbA == Buckets) // still the old geometry
    assert(probeRows(idxA) == want)
    assert(Dedup.rotateSubstringIndex(history, idxA, "rx",
      nBuckets = Some(16)))
    assert(probeRows(idxA) == want)

    // post-commit crash: the NEXT entry completes the publish (here:
    // an append, whose heal-at-entry resumes the rotation first, then
    // lands in the NEW generation)
    val idxB = s"$root/b"
    buildThreeSlices(idxB)
    intercept[RuntimeException] {
      Dedup.rotateSubstringIndexStaged(history, idxB, "ry",
        window = None, nBuckets = Some(16), textCol = "text",
        deferRetire = false,
        failpoint = p => if (p == "committed") sys.error("boom"))
    }
    assert(Dedup.appendSubstringEpoch(
      Seq((80L, "after a1 a2 a3 a4")).toDF("doc_id", "text"), idxB, "ep9"))
    assert(EpochLedger.applied(spark, idxB, "ry"))
    val (_, _, nbB) = Dedup.openSubstringIndex(spark, idxB)
    assert(nbB == 16)
    assert(probeRows(idxB) == want)

    // post-publish crash (mid-retire): readers are already on the new
    // generation; recovery finishes the retire
    val idxC = s"$root/c"
    buildThreeSlices(idxC)
    intercept[RuntimeException] {
      Dedup.rotateSubstringIndexStaged(history, idxC, "rz",
        window = None, nBuckets = Some(16), textCol = "text",
        deferRetire = false,
        failpoint = p => if (p == "published") sys.error("boom"))
    }
    assert(probeRows(idxC) == want) // already serving the new gen
    Dedup.recoverSubstringLayout(spark, idxC)
    assert(EpochLedger.applied(spark, idxC, "rz"))
    assert(probeRows(idxC) == want)
    assert(EpochLedger.listRetired(spark, idxC).nonEmpty)
  }

  test("window-hash format versioning: a pre-rolling-hash (v1) _meta " +
    "refuses probes and appends LOUDLY (a silent probe would report " +
    "zero history duplicates), fsck reports it fatal, and rotation is " +
    "the migration") {
    val root = java.nio.file.Files.createTempDirectory("graft-sshv").toString
    val idx = s"$root/idx"
    buildThreeSlices(idx)
    val want = probeRows(idx)
    // simulate a layout persisted by the pre-WindowPolyHashes build:
    // same geometry, no hash_ver field (the v1 signature)
    Seq((W, Buckets)).toDF("window", "n_buckets")
      .write.mode("overwrite").parquet(s"$idx/_meta")
    val e1 = intercept[IllegalArgumentException] {
      Dedup.substringDupProbe(batch, idx).collect()
    }
    assert(e1.getMessage.contains("window-hash format v1"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      Dedup.appendSubstringEpoch(
        Seq((90L, "vx v1 v2 v3 v4")).toDF("doc_id", "text"), idx, "epv")
    }
    assert(e2.getMessage.contains("window-hash format v1"), e2.getMessage)
    assert(!EpochLedger.applied(spark, idx, "epv"))
    // the span/cut probes ride the same openSubstringIndex gate
    intercept[IllegalArgumentException] {
      Dedup.substringSpanProbe(batch, idx).collect()
    }
    val fk = Dedup.substringFsck(spark, idx)
    assert(fk.exists(f => f.code == "hash-version" &&
      f.severity == "fatal"), fk)
    // rotation inherits the legacy geometry TOLERANTLY (it re-derives
    // every row from the corpus) and stamps the current version
    assert(Dedup.rotateSubstringIndex(history, idx, "rv2"))
    assert(Dedup.substringFsck(spark, idx)
      .forall(_.code != "hash-version"))
    assert(probeRows(idx) == want)
  }

  test("compactPartitionsStaged refuses a heal that migrates rows to a " +
    "dir outside the run's targets — pre-commit, layout untouched, id " +
    "reusable") {
    val root = java.nio.file.Files.createTempDirectory("graft-sshl").toString
    val idx = s"$root/idx"
    buildThreeSlices(idx)
    val before = probeRows(idx)
    // a heal that rewrites every row's partition value to a dir no
    // target names: its rows would stage under wh_bucket=b999, which
    // the per-dir swap never touches — silent loss without the guard
    val e = intercept[IllegalArgumentException] {
      EpochLedger.compactPartitionsStaged(spark, idx,
        dataRoot = Dedup.substringDataRoot(spark, idx),
        partitionCol = "wh_bucket", id = "evil",
        maxFilesPerPartition = 1, maxRecordsPerFile = 0L,
        failpoint = _ => (),
        heal = df => df.withColumn("wh_bucket",
          org.apache.spark.sql.functions.lit("b999")))
    }
    assert(e.getMessage.contains("partition-value-preserving"),
      e.getMessage)
    // pre-commit refusal: live layout untouched, stage discards on the
    // next recovery entry, the id stays unledgered and reusable
    assert(probeRows(idx) == before)
    Dedup.recoverSubstringLayout(spark, idx)
    assert(!EpochLedger.applied(spark, idx, "evil"))
    assert(Dedup.compactSubstringPartitions(spark, idx, "evil") > 0)
    assert(probeRows(idx) == before)
  }

  test("deferRetire rotation of a FLAT layout: the superseded " +
    "wh_bucket= dirs stay in place until the substring-flavored " +
    "retire-superseded sweep moves every one of them aside") {
    val root = java.nio.file.Files.createTempDirectory("graft-ssdr").toString
    val idx = s"$root/idx"
    buildThreeSlices(idx)
    val want = probeRows(idx)
    val f = Dedup.fsFor(spark, idx)
    def flatBucketDirs: Seq[String] =
      f.listStatus(new org.apache.hadoop.fs.Path(idx))
        .map(_.getPath.getName).filter(_.startsWith("wh_bucket=")).toSeq
    val flatBefore = flatBucketDirs
    assert(flatBefore.nonEmpty)
    // first, MIGRATING rotation with deferRetire: the flat-era dirs
    // stay at the layout root (invisible to resolution) for draining
    // readers
    assert(Dedup.rotateSubstringIndex(history, idx, "r1",
      nBuckets = Some(16), deferRetire = true))
    assert(flatBucketDirs == flatBefore)
    assert(probeRows(idx) == want) // served from the generation
    // the ADVICE hazard: the generic centroid_id= sweep must NOT be
    // the only exit — it strands every wh_bucket dir forever. The
    // substring-flavored sweep retires the full flat root: every
    // bucket dir AND the flat _meta sidecar.
    val n = Dedup.retireSupersededSubstringGenerations(spark, idx, "sw1")
    assert(n == flatBefore.size + 1, s"retired=$n want=${flatBefore.size}+1")
    assert(flatBucketDirs.isEmpty)
    assert(EpochLedger.listRetired(spark, idx)
      .exists(_._1.contains("sw1.superseded")))
    assert(probeRows(idx) == want)
    // second sweep: nothing left
    assert(Dedup.retireSupersededSubstringGenerations(spark, idx, "sw2")
      == 0)
    // and the retired bytes exit through the ordinary purge lifecycle
    val purged = EpochLedger.purgeRetiredOlderThan(spark, idx, 1L,
      now = System.currentTimeMillis + 3600L * 1000L)
    assert(purged.exists(_.contains("sw1.superseded")), purged)
    assert(probeRows(idx) == want)
  }

  test("substringFsck: clean layout is empty; torn stages, a missing " +
    "_meta, and a stale-modulus bucket dir are reported without " +
    "mutation") {
    val root = java.nio.file.Files.createTempDirectory("graft-ssfk").toString
    val idx = s"$root/idx"
    buildThreeSlices(idx)
    assert(Dedup.substringFsck(spark, idx).isEmpty)

    // a committed stage is reported (and NOT repaired — read-only)
    intercept[RuntimeException] {
      Dedup.compactSubstringPartitionsStaged(spark, idx, "cz",
        maxFilesPerPartition = 1, maxRecordsPerFile = 0L,
        failpoint = p => if (p == "committed") sys.error("boom"))
    }
    val f1 = Dedup.substringFsck(spark, idx)
    assert(f1.exists(_.code == "stage-committed"), f1)
    assert(Dedup.fsFor(spark, idx)
      .exists(new org.apache.hadoop.fs.Path(s"$idx/_retrain/cz")))
    Dedup.recoverSubstringLayout(spark, idx)
    assert(Dedup.substringFsck(spark, idx)
      .forall(_.code == "retired-present"))

    // a stale bucket dir outside the _meta modulus: the silent
    // under-count hazard, reported fatal
    val f = Dedup.fsFor(spark, idx)
    f.mkdirs(new org.apache.hadoop.fs.Path(s"$idx/wh_bucket=b99"))
    val f2 = Dedup.substringFsck(spark, idx)
    assert(f2.exists(fd => fd.code == "bucket-modulus" &&
      fd.severity == "fatal" && fd.detail.contains("b99")), f2)
    assert(f.delete(new org.apache.hadoop.fs.Path(s"$idx/wh_bucket=b99"),
      true))

    // NON-CANONICAL names that parse to an in-range k are just as
    // unreachable (the probe generates exactly "b<k>") — fatal too
    Seq("b007", "b+3").foreach { bad =>
      f.mkdirs(new org.apache.hadoop.fs.Path(s"$idx/wh_bucket=$bad"))
      val fb = Dedup.substringFsck(spark, idx)
      assert(fb.exists(fd => fd.code == "bucket-modulus" &&
        fd.severity == "fatal" && fd.detail.contains(bad)), (bad, fb))
      assert(f.delete(
        new org.apache.hadoop.fs.Path(s"$idx/wh_bucket=$bad"), true))
    }

    // _meta lost: every probe and append would fail — fatal
    assert(f.delete(new org.apache.hadoop.fs.Path(s"$idx/_meta"), true))
    val f3 = Dedup.substringFsck(spark, idx)
    assert(f3.exists(fd => fd.code == "meta-missing" &&
      fd.severity == "fatal"), f3)
  }

  // A committed `_retrain` stage resumes only on a layout of the prefix
  // its manifest was staged for: one copied in from another layout kind
  // must be refused by recovery and reported fatal by fsck, never
  // published as this layout's generation.

  private def ivfCorpus: DataFrame = (0L until 16L).map { i =>
    (i, Array(1f + i % 4, (i % 3).toFloat, (i % 5).toFloat, 1f))
  }.toDF("vec_id", "embedding")

  private def tornAtCommit(op: (String => Unit) => Any): Unit =
    intercept[RuntimeException] {
      op(p => if (p == "committed") sys.error("torn at commit"))
    }

  /** Move the committed stage `id` from `from/_retrain` to `to/_retrain`. */
  private def moveStage(from: String, id: String, to: String)
      : org.apache.hadoop.fs.Path = {
    val f = Dedup.fsFor(spark, to)
    val dst = new org.apache.hadoop.fs.Path(s"$to/_retrain/$id")
    f.mkdirs(dst.getParent)
    assert(f.rename(new org.apache.hadoop.fs.Path(s"$from/_retrain/$id"),
      dst))
    assert(f.exists(new org.apache.hadoop.fs.Path(dst, "_MANIFEST")))
    dst
  }

  /** What recovery must leave unchanged: the published generation, the
    * `_current` entries and the ledgered ids with their kinds.
    */
  private def published(path: String)
      : (Option[String], Seq[String], Map[String, String]) = {
    val f = Dedup.fsFor(spark, path)
    (Similarity.currentGenName(f, path),
      f.listStatus(new org.apache.hadoop.fs.Path(s"$path/_current"))
        .map(_.getPath.getName).sorted.toSeq,
      EpochLedger.ledgeredKinds(f, path))
  }

  test("an IVF layout holding a committed substring-index stage: ivfFsck " +
    "reports it stage-foreign and recovery refuses it — the stage stays, " +
    "the live generation, _current and the ledger are unchanged") {
    val root = java.nio.file.Files.createTempDirectory("graft-ssfi").toString
    val ivf = s"$root/ivf"
    val idx = s"$root/idx"
    Similarity.writeIvfPartitioned(ivfCorpus, ivf, centroidK = 2)
    assert(Similarity.rotateIvf(spark, ivf, "g1", centroidK = 2))
    buildThreeSlices(idx)
    assert(Dedup.rotateSubstringIndex(history, idx, "r1"))
    // staged as _gen-2, a generation the IVF layout does not have yet:
    // resumed there, it would publish the substring rows as the IVF
    // layout's current generation
    tornAtCommit(fp => Dedup.rotateSubstringIndexStaged(history, idx, "sx",
      None, None, "text", deferRetire = false, fp))
    val stage = moveStage(idx, "sx", ivf)
    val before = published(ivf)
    val fk = Similarity.ivfFsck(spark, ivf)
    assert(fk.map(fd => (fd.code, fd.severity)).contains(
      ("stage-foreign", "fatal")), fk)
    assert(!fk.exists(_.code == "stage-committed"), fk)
    val ex = intercept[RuntimeException] {
      Similarity.recoverIvfEpochs(spark, ivf)
    }
    assert(ex.getMessage.contains("foreign 'substring-rotate'"),
      ex.getMessage)
    assert(Dedup.fsFor(spark, ivf).exists(stage))
    assert(published(ivf) == before)
  }

  test("a substring index holding a committed IVF stage: substringFsck " +
    "reports it stage-foreign (the judgment recovery enforces) and " +
    "recovery refuses it — the stage stays, the live generation, " +
    "_current and the ledger are unchanged") {
    val root = java.nio.file.Files.createTempDirectory("graft-ssif").toString
    val ivf = s"$root/ivf"
    val idx = s"$root/idx"
    buildThreeSlices(idx)
    assert(Dedup.rotateSubstringIndex(history, idx, "r1"))
    Similarity.writeIvfPartitioned(ivfCorpus, ivf, centroidK = 2)
    assert(Similarity.rotateIvf(spark, ivf, "g1", centroidK = 2))
    tornAtCommit(fp => Similarity.rotateIvfStaged(spark, ivf, "ix", 2, 1.0,
      10, "vec_id", fp))
    val stage = moveStage(ivf, "ix", idx)
    val want = probeRows(idx)
    val before = published(idx)
    val fk = Dedup.substringFsck(spark, idx)
    assert(fk.map(fd => (fd.code, fd.severity)).contains(
      ("stage-foreign", "fatal")), fk)
    assert(!fk.exists(_.code == "stage-committed"), fk)
    val ex = intercept[RuntimeException] {
      Dedup.recoverSubstringLayout(spark, idx)
    }
    assert(ex.getMessage.contains("foreign 'rotation'"), ex.getMessage)
    assert(Dedup.fsFor(spark, idx).exists(stage))
    assert(published(idx) == before)
    assert(probeRows(idx) == want)
  }
}
