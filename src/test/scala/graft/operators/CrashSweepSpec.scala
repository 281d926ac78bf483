package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Seeded randomized crash sweep over the layout-maintenance
  * protocols — the two-layout dedup rotation
  * ([[Dedup.rotateEpochBucketed]]), the single-layout IVF epoch
  * ([[Similarity.appendIvfEpoch]]), the IVF re-train rotation
  * ([[Similarity.rotateIvf]], generation-pointer publish), the IVF
  * compaction ([[Similarity.compactIvf]], same publish), and the
  * in-generation partition compaction
  * ([[Similarity.compactIvfPartitions]]) — plus the two CLOSED-LOOP
  * maintain policies ([[Similarity.ivfMaintain]],
  * [[Dedup.dedupMaintain]]), swept as the CONVERGER: a random
  * sub-protocol is torn at a random failpoint and one clean policy
  * call must heal and restore every invariant. Each protocol-arm
  * trial kills the protocol at a randomly drawn failpoint (sometimes
  * at a second one on the first retry), then retries under the SAME
  * epochId until it completes, and asserts the invariants the
  * scenario specs pin pointwise:
  *
  *   - the layouts equal the full-rebuild state — no row lost, none
  *     duplicated;
  *   - the epoch is ledgered exactly once, and a further blind retry
  *     is a pure no-op;
  *   - recovery afterward is a no-op: nothing quarantines, so no
  *     unledgered visible file survived;
  *   - the staging area is fully reclaimed.
  *
  * 50 seeded trials (~17 per protocol): the point is the CROSS PRODUCT
  * of crash points × retry-crash points the enumerated specs don't
  * cover, under a fixed seed so any failure replays exactly.
  *
  * A second sweep covers the PQ index's protocol family the same way
  * ([[Pq.appendPqEpoch]] / [[Pq.rotatePq]] /
  * [[Pq.compactPqPartitions]] / [[Pq.pqMaintain]] as converger) with
  * a stronger invariant: the codebook sample and encode are
  * deterministic, so every trial converges to a BYTE-exact row
  * target — a retry that re-encoded under a drifted codebook would
  * keep the id set yet corrupt every ADC score, which id-level
  * checks cannot see.
  *
  * A third sweep covers the substring window-hash index's family
  * ([[Dedup.appendSubstringEpoch]] / [[Dedup.rotateSubstringIndex]] /
  * [[Dedup.compactSubstringPartitions]] /
  * [[Dedup.substringMaintain]] as converger): every trial converges
  * to the q80-identity probe rows over a clique straddling the
  * base/epoch split, with a minDocs BRACKET probe (3 must dup, 4 must
  * not — the converged ddf sum is exactly 3) that the default-minDocs
  * rows cannot express: a lost epoch fails the first arm, a
  * double-applied one fails the second.
  */
class CrashSweepSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private case object Boom extends RuntimeException("injected-crash")

  /** Run `attempt` with a crash plan: attempt i throws at plan(i) if
    * that failpoint is reached; the attempt after the plan runs clean.
    * Returns the number of attempts that actually crashed.
    */
  private def driveWithCrashes(plan: Seq[String])(
      attempt: (String => Unit) => Unit): Int = {
    var crashed = 0
    for (fp <- plan) {
      try attempt(p => if (p == fp) throw Boom)
      catch { case Boom => crashed += 1 }
    }
    attempt(_ => ()) // final clean retry
    crashed
  }

  // ------------------------------------------------------------- ivf side

  private val ivfFps = Seq("staged", "committed", "move-file", "moved")

  private def vec(id: Long): Array[Float] =
    Array.tabulate(4) { j =>
      val h = scala.util.hashing.byteswap64(id * 4 + j)
      (Math.floorMod(h, 1001L) - 500L).toFloat / 500f
    }

  private lazy val ivfBase =
    (0L until 6L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
  private lazy val ivfNovel =
    (100L until 106L).map(i => (i, vec(i))).toDF("vec_id", "embedding")

  private def ivfRows(p: String): Set[(Long, String)] = {
    val layout = spark.read.parquet(Similarity.ivfDataRoot(spark, p))
    // every converged IVF layout must also hold the SQ8 columns intact
    // for every row — a crash-retry cycle that dropped or nulled a q8
    // would silently break the quantized probe while the exact rows
    // still look right
    assert(layout.schema.fieldNames.contains("q8"))
    assert(layout.filter(org.apache.spark.sql.functions.col("q8").isNull
      .or(org.apache.spark.sql.functions.col("qscale").isNull))
      .count() == 0L)
    layout.select("vec_id", "centroid_id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
  }

  /** The rebuild target: centroid sampling is deterministic (id-hash),
    * so the grown layout's rows are the same in every trial — computed
    * once from one clean append.
    */
  private lazy val ivfWant: Set[(Long, String)] = {
    val root = java.nio.file.Files.createTempDirectory("graft-sweep-want").toString
    Similarity.writeIvfPartitioned(ivfBase, s"$root/ivf", centroidK = 2)
    assert(Similarity.appendIvfEpoch(ivfNovel, s"$root/ivf", "e1"))
    ivfRows(s"$root/ivf")
  }

  private def ivfTrial(plan: Seq[String]): Unit = {
    val root = java.nio.file.Files.createTempDirectory("graft-sweep-ivf").toString
    val path = s"$root/ivf"
    Similarity.writeIvfPartitioned(ivfBase, path, centroidK = 2)
    driveWithCrashes(plan) { fail =>
      Similarity.appendIvfEpochStaged(ivfNovel, path, "e1", "vec_id", fail)
      ()
    }
    val ctx = s"plan=$plan"
    assert(ivfRows(path) == ivfWant, ctx)
    assert(EpochLedger.applied(spark, path, "e1"), ctx)
    // blind replay: no-op
    assert(!Similarity.appendIvfEpoch(ivfNovel, path, "e1"), ctx)
    // recovery is a no-op: nothing unledgered survived to quarantine
    Similarity.recoverIvfEpochs(spark, path)
    assert(ivfRows(path) == ivfWant, ctx)
    assert(EpochLedger.listQuarantined(spark, path).isEmpty, ctx)
    // staging reclaimed
    val f = Dedup.fsFor(spark, path)
    assert(!f.exists(new org.apache.hadoop.fs.Path(s"$path/_rotate/e1")), ctx)
  }

  // -------------------------------------------------------- rotation side

  private val rotFps = Seq("staged", "committed", "gen-move", "gen-moved",
    "published", "retire-dir", "retired")

  /** Rotation trial: a grown layout (base + one ledgered epoch) is
    * re-trained under crashes. Centroids re-train per attempt, so the
    * invariant is structural — every id exactly once, sidecar covers
    * the partitions, old corpus retired — not a fixed row target.
    */
  private def rotTrial(plan: Seq[String]): Unit = {
    val root = java.nio.file.Files.createTempDirectory("graft-sweep-rot").toString
    val path = s"$root/ivf"
    Similarity.writeIvfPartitioned(ivfBase, path, centroidK = 2)
    assert(Similarity.appendIvfEpoch(ivfNovel, path, "e1"))
    val wantIds = ivfRows(path).map(_._1)
    driveWithCrashes(plan) { fail =>
      Similarity.rotateIvfStaged(spark, path, "rot1", 2, 1.0, 10, "vec_id",
        fail)
      ()
    }
    val ctx = s"plan=$plan"
    assert(EpochLedger.applied(spark, path, "rot1"), ctx)
    val got = ivfRows(path)
    assert(got.map(_._1) == wantIds, ctx)
    assert(got.size == wantIds.size, ctx) // no id appears twice
    val sidecar = spark.read
      .parquet(s"${Similarity.ivfDataRoot(spark, path)}/_centroids")
      .select("centroid_id").collect().map(_.getString(0)).toSet
    assert(got.map(_._2).subsetOf(sidecar), ctx)
    // blind replay: no-op; recovery: no-op; staging reclaimed
    assert(!Similarity.rotateIvf(spark, path, "rot1", centroidK = 2), ctx)
    Similarity.recoverIvfEpochs(spark, path)
    assert(ivfRows(path) == got, ctx)
    assert(EpochLedger.listQuarantined(spark, path).isEmpty, ctx)
    val f = Dedup.fsFor(spark, path)
    assert(!f.exists(new org.apache.hadoop.fs.Path(s"$path/_retrain/rot1")),
      ctx)
    assert(EpochLedger.listRetired(spark, path).map(_._1)
      .forall(_.startsWith("rot1.pre-rotate")), ctx)
  }

  // ------------------------------------------------------ compaction side

  /** Compaction trial: a grown layout (base + one ledgered epoch, so
    * partitions carry multiple file-sets) is compacted under crashes.
    * The row target is FIXED (compaction reuses the stored assignment),
    * so the invariant is exact: same rows, fewer files.
    */
  private def compactTrial(plan: Seq[String]): Unit = {
    val root = java.nio.file.Files.createTempDirectory("graft-sweep-cmp").toString
    val path = s"$root/ivf"
    Similarity.writeIvfPartitioned(ivfBase, path, centroidK = 2)
    assert(Similarity.appendIvfEpoch(ivfNovel, path, "e1"))
    val want = ivfRows(path)
    driveWithCrashes(plan) { fail =>
      Similarity.compactIvfStaged(spark, path, "c1", 0L, fail)
      ()
    }
    val ctx = s"plan=$plan"
    assert(ivfRows(path) == want, ctx)
    assert(EpochLedger.applied(spark, path, "c1"), ctx)
    // the compacted generation holds ONE file per partition dir
    assert(Similarity.ivfPartitionStats(spark, path).forall(_._2 == 1), ctx)
    // blind replay: no-op; recovery: no-op; staging reclaimed
    assert(!Similarity.compactIvf(spark, path, "c1"), ctx)
    Similarity.recoverIvfEpochs(spark, path)
    assert(ivfRows(path) == want, ctx)
    assert(EpochLedger.listQuarantined(spark, path).isEmpty, ctx)
    val f = Dedup.fsFor(spark, path)
    assert(!f.exists(new org.apache.hadoop.fs.Path(s"$path/_retrain/c1")),
      ctx)
  }

  // ------------------------------------- partition-compaction side

  private val pcmpFps = Seq("staged", "committed", "swap-retire",
    "swap-in", "swapped")

  /** Partition-scoped compaction trial: a grown layout is selectively
    * compacted (threshold 1 — every fragmented dir targeted) under
    * crashes. Row target FIXED (the stored assignment is reused), and
    * the reader's view at any instant must never hold doubled rows.
    */
  private def pcmpTrial(plan: Seq[String], salt: Int = 1): Unit = {
    val root = java.nio.file.Files.createTempDirectory("graft-sweep-pcm").toString
    val path = s"$root/ivf"
    Similarity.writeIvfPartitioned(ivfBase, path, centroidK = 2)
    assert(Similarity.appendIvfEpoch(ivfNovel, path, "e1"))
    val want = ivfRows(path)
    driveWithCrashes(plan) { fail =>
      // the reader view at attempt entry (i.e. at whatever instant the
      // PREVIOUS attempt crashed): full set or full set minus a
      // mid-swap dir — NEVER doubled, never a foreign row
      val view = ivfRows(path)
      assert(view.subsetOf(want), s"plan=$plan view=$view")
      Similarity.compactIvfPartitionsStaged(spark, path, "pc1", 1, 0L, fail,
        filesPerPartition = salt)
      ()
    }
    val ctx = s"plan=$plan salt=$salt"
    assert(ivfRows(path) == want, ctx)
    assert(EpochLedger.applied(spark, path, "pc1"), ctx)
    assert(Similarity.ivfPartitionStats(spark, path)
      .forall(_._2 <= salt), ctx)
    // blind replay: no-op; recovery: no-op; staging reclaimed
    assert(Similarity.compactIvfPartitions(spark, path, "pc1") == 0, ctx)
    Similarity.recoverIvfEpochs(spark, path)
    assert(ivfRows(path) == want, ctx)
    assert(EpochLedger.listQuarantined(spark, path).isEmpty, ctx)
    val f = Dedup.fsFor(spark, path)
    assert(!f.exists(new org.apache.hadoop.fs.Path(s"$path/_retrain/pc1")),
      ctx)
  }

  // ----------------------------------------------------------- dedup side

  private val dedupFps = Seq("staged-history", "staged", "committed",
    "moved-history")

  private def histText(i: Long) = (1 to 8).map(j => s"h${i}w$j").mkString(" ")
  private def novelText(i: Long) = (1 to 8).map(j => s"n${i}w$j").mkString(" ")

  private lazy val dedupH0 =
    (0L until 8L).map(i => (i, histText(i))).toDF("doc_id", "text")
  private lazy val dedupN1 =
    (100L until 104L).map(i => (i, novelText(i))).toDF("doc_id", "text")

  private def histRows(p: String): Set[(Long, String)] =
    spark.read.parquet(p).select("doc_id", "id_bucket").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
  private def idxRows(p: String): Set[(Long, Int, Long)] =
    spark.read.parquet(p).select("doc_id", "band", "key").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet

  /** Rebuild targets, computed once: both row derivations are
    * deterministic functions of (doc, layout geometry).
    */
  private lazy val (dedupWantHist, dedupWantIdx) = {
    val root = java.nio.file.Files.createTempDirectory("graft-sweep-dwant").toString
    val union = dedupH0.unionByName(dedupN1)
    Dedup.writeHistoryBucketed(union, s"$root/hist", nBuckets = 4)
    Dedup.writeMinhashIndex(union, s"$root/idx")
    (histRows(s"$root/hist"), idxRows(s"$root/idx"))
  }

  private lazy val dedupBloom0 =
    Dedup.digestBloom(dedupH0, expectedItems = 100, fpp = 0.01)

  private def dedupTrial(plan: Seq[String]): Unit = {
    val root = java.nio.file.Files.createTempDirectory("graft-sweep-ded").toString
    val histPath = s"$root/hist"
    val idxPath = s"$root/idx"
    Dedup.writeHistoryBucketed(dedupH0, histPath, nBuckets = 4)
    Dedup.writeMinhashIndex(dedupH0, idxPath)
    driveWithCrashes(plan) { fail =>
      val b = spark.sparkContext.broadcast(dedupBloom0)
      Dedup.rotateEpochStaged(dedupN1, histPath, idxPath, b,
        expectedItems = 100, fpp = 0.01, textCol = "text",
        epochId = "e1", failpoint = fail)
      ()
    }
    val ctx = s"plan=$plan"
    assert(histRows(histPath) == dedupWantHist, ctx)
    assert(idxRows(idxPath) == dedupWantIdx, ctx)
    assert(Dedup.epochApplied(spark, histPath, "e1"), ctx)
    // recovery is a no-op: nothing unledgered survived to quarantine
    Dedup.recoverRotations(spark, histPath, idxPath)
    assert(histRows(histPath) == dedupWantHist, ctx)
    assert(idxRows(idxPath) == dedupWantIdx, ctx)
    assert(Dedup.listQuarantined(spark, histPath, idxPath).isEmpty, ctx)
    val f = Dedup.fsFor(spark, histPath)
    assert(!f.exists(new org.apache.hadoop.fs.Path(s"$histPath/_rotate/e1")),
      ctx)
  }

  // ------------------------------------------------- maintain-policy arms

  private lazy val ivfNovel2 =
    (200L until 206L).map(i => (i, vec(i))).toDF("vec_id", "embedding")

  /** Maintain-policy trial, IVF side: a random sub-protocol is torn
    * mid-flight at a random failpoint, then ONE clean
    * [[Similarity.ivfMaintain]] call must converge the layout —
    * heal-at-entry resolves the torn op (complete if committed,
    * discard if not), the compact arm restores the file-count
    * invariant, and a second maintain is a listing-only no-op. The
    * closed loop the pointwise IvfCompactionSpec cases pin, under the
    * sweep's randomized sub-protocol × failpoint cross product.
    */
  private def ivfMaintainTrial(sub: String, fp: String): Unit = {
    val root = java.nio.file.Files.createTempDirectory("graft-sweep-mnt").toString
    val path = s"$root/ivf"
    Similarity.writeIvfPartitioned(ivfBase, path, centroidK = 2)
    assert(Similarity.appendIvfEpoch(ivfNovel, path, "e1"))
    val grownIds = ivfRows(path).map(_._1)
    val crash: String => Unit = p => if (p == fp) throw Boom
    try {
      sub match {
        case "epoch" =>
          Similarity.appendIvfEpochStaged(ivfNovel2, path, "e2", "vec_id",
            crash)
        case "rotation" =>
          Similarity.rotateIvfStaged(spark, path, "r2", 2, 1.0, 10,
            "vec_id", crash)
        case "compaction" =>
          Similarity.compactIvfStaged(spark, path, "c2", 0L, crash)
        case "partition-compaction" =>
          Similarity.compactIvfPartitionsStaged(spark, path, "pc2", 1, 0L,
            crash)
      }
      ()
    } catch { case Boom => () }
    val m1 = Similarity.ivfMaintain(spark, path, "mnt1",
      Similarity.IvfMaintainPolicy(maxFilesPerPartition = 1,
        skewThreshold = Double.MaxValue))
    val ctx = s"sub=$sub fp=$fp actions=${m1.actions}"
    // the torn op healed whichever way its commit point dictates; the
    // id set is conditional only for the epoch sub-protocol
    val wantIds =
      if (sub == "epoch" && EpochLedger.applied(spark, path, "e2"))
        grownIds ++ (200L until 206L)
      else grownIds
    val got = ivfRows(path)
    assert(got.map(_._1) == wantIds, ctx)
    assert(got.size == wantIds.size, ctx) // no id appears twice
    assert(Similarity.ivfPartitionStats(spark, path).forall(_._2 == 1), ctx)
    assert(EpochLedger.listQuarantined(spark, path).isEmpty, ctx)
    val m2 = Similarity.ivfMaintain(spark, path, "mnt2",
      Similarity.IvfMaintainPolicy(maxFilesPerPartition = 1,
        skewThreshold = Double.MaxValue))
    assert(m2.actions.isEmpty, s"$ctx m2=${m2.actions}")
    // staging fully reclaimed for every id the trial could have touched
    val f = Dedup.fsFor(spark, path)
    for (d <- Seq("_rotate/e2", "_retrain/r2", "_retrain/c2",
        "_retrain/pc2", "_retrain/mnt1-compact", "_retrain/mnt2-compact"))
      assert(!f.exists(new org.apache.hadoop.fs.Path(s"$path/$d")),
        s"$ctx leftover $d")
  }

  /** Hist-only rebuild targets for the discarded-rotation branch of
    * the dedup maintain trial.
    */
  private lazy val (dedupWantHist0, dedupWantIdx0) = {
    val root = java.nio.file.Files.createTempDirectory("graft-sweep-dw0").toString
    Dedup.writeHistoryBucketed(dedupH0, s"$root/hist", nBuckets = 4)
    Dedup.writeMinhashIndex(dedupH0, s"$root/idx")
    (histRows(s"$root/hist"), idxRows(s"$root/idx"))
  }

  /** Maintain-policy trial, dedup side: the epoch rotation is torn at
    * a random failpoint, then ONE clean [[Dedup.dedupMaintain]] call
    * must converge the history/index pair the same way.
    */
  private def dedupMaintainTrial(fp: String): Unit = {
    val root = java.nio.file.Files.createTempDirectory("graft-sweep-dmn").toString
    val histPath = s"$root/hist"
    val idxPath = s"$root/idx"
    Dedup.writeHistoryBucketed(dedupH0, histPath, nBuckets = 4)
    Dedup.writeMinhashIndex(dedupH0, idxPath)
    try {
      val b = spark.sparkContext.broadcast(dedupBloom0)
      Dedup.rotateEpochStaged(dedupN1, histPath, idxPath, b,
        expectedItems = 100, fpp = 0.01, textCol = "text",
        epochId = "e1", failpoint = p => if (p == fp) throw Boom)
      ()
    } catch { case Boom => () }
    val m1 = Dedup.dedupMaintain(spark, histPath, idxPath, "mnt1",
      Dedup.BucketMaintainPolicy(maxFilesPerPartition = 1))
    val ctx = s"fp=$fp actions=${m1.actions}"
    val (wantH, wantI) =
      if (Dedup.epochApplied(spark, histPath, "e1"))
        (dedupWantHist, dedupWantIdx)
      else (dedupWantHist0, dedupWantIdx0)
    assert(histRows(histPath) == wantH, ctx)
    assert(idxRows(idxPath) == wantI, ctx)
    assert(Dedup.historyPartitionStats(spark, histPath).forall(_._2 == 1),
      ctx)
    assert(Dedup.listQuarantined(spark, histPath, idxPath).isEmpty, ctx)
    val m2 = Dedup.dedupMaintain(spark, histPath, idxPath, "mnt2",
      Dedup.BucketMaintainPolicy(maxFilesPerPartition = 1))
    assert(m2.actions.isEmpty, s"$ctx m2=${m2.actions}")
    val f = Dedup.fsFor(spark, histPath)
    for (d <- Seq("_rotate/e1", "_retrain/mnt1-compact",
        "_retrain/mnt2-compact"))
      assert(!f.exists(new org.apache.hadoop.fs.Path(s"$histPath/$d")),
        s"$ctx leftover $d")
  }

  // ------------------------------------------------------------- pq side

  // tiny synthetic PQ geometry: 4-dim hashed vectors, m=2 subspaces,
  // k=4 codewords, 2 coarse partitions — the smallest shape on which
  // every protocol arm (append fragmentation, re-train, per-dir swap)
  // is actually exercised
  private val pqM = 2
  private val pqK = 4
  private val pqCent = 2

  private lazy val pqBase =
    (0L until 8L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
  private lazy val pqNovel =
    (100L until 106L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
  private lazy val pqNovel2 =
    (200L until 206L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
  private lazy val pqUnion = pqBase.unionByName(pqNovel)

  /** Stored PQ rows at the BYTE level — the protocols' identity is
    * the code bytes, not just ids: a retry that re-encoded under a
    * drifted codebook would keep the id set and break every probe.
    */
  private def pqRows(p: String): Set[(Long, String, Seq[Byte], Double)] =
    spark.read.parquet(Similarity.ivfDataRoot(spark, p))
      .select("vec_id", "centroid_id", "pq", "nrm").collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getAs[Array[Byte]](2).toSeq, r.getDouble(3))).toSet

  private def buildPqBase(path: String, res: Boolean = false): Unit =
    Pq.writePqIndex(pqBase, path, m = pqM, k = pqK, centroidK = pqCent,
      residual = res)

  /** Rebuild targets, computed once per encoding mode: the
    * codebook/centroid sample and the encode are deterministic
    * functions of (corpus id set, geometry, residual), so both the
    * grown and the rotated state are exact byte-level row targets in
    * every trial. The residual arm matters here: a crash-retry that
    * re-encoded with raw vectors (or subtracted a drifted centroid)
    * keeps the id set and corrupts every code byte.
    */
  private lazy val pqWant: Map[(Boolean, String), Set[(Long, String, Seq[Byte], Double)]] =
    (for (res <- Seq(false, true)) yield {
      val root = java.nio.file.Files
        .createTempDirectory(s"graft-sweep-pqw$res").toString
      buildPqBase(s"$root/g", res)
      assert(Pq.appendPqEpoch(pqNovel, s"$root/g", "e1"))
      Pq.writePqIndex(pqUnion, s"$root/r", m = pqM, k = pqK,
        centroidK = pqCent, residual = res)
      Seq((res, "grown") -> pqRows(s"$root/g"),
        (res, "rotated") -> pqRows(s"$root/r"))
    }).flatten.toMap
  private def pqWantGrown = pqWant((false, "grown"))
  private def pqWantRotated = pqWant((false, "rotated"))

  private def pqStagingGone(path: String, ids: Seq[String]): Unit = {
    val f = Dedup.fsFor(spark, path)
    for (id <- ids; sub <- Seq("_rotate", "_retrain"))
      assert(!f.exists(new org.apache.hadoop.fs.Path(s"$path/$sub/$id")),
        s"leftover $sub/$id")
  }

  /** Epoch-append trial: crash plan, retry under the SAME epochId,
    * converge to base ∪ encode-with-the-STORED-codebook(novel) — in
    * residual mode the append must subtract the SAME sidecar centroid
    * at every retry or the byte target breaks.
    */
  private def pqEpochTrial(plan: Seq[String], res: Boolean): Unit = {
    val root = java.nio.file.Files.createTempDirectory("graft-sweep-pqe").toString
    val path = s"$root/pq"
    buildPqBase(path, res)
    driveWithCrashes(plan) { fail =>
      Pq.appendPqEpochStaged(pqNovel, path, "e1", "vec_id", fail)
      ()
    }
    val ctx = s"plan=$plan res=$res"
    val want = pqWant((res, "grown"))
    assert(pqRows(path) == want, ctx)
    assert(EpochLedger.applied(spark, path, "e1"), ctx)
    assert(!Pq.appendPqEpoch(pqNovel, path, "e1"), ctx) // blind replay
    Similarity.recoverIvfEpochs(spark, path)
    assert(pqRows(path) == want, ctx)
    assert(EpochLedger.listQuarantined(spark, path).isEmpty, ctx)
    pqStagingGone(path, Seq("e1"))
  }

  /** Rotation trial: a grown index is re-trained under crashes; the
    * deterministic sample makes the rotated state an exact byte
    * target, not just a structural one. The residual arm re-trains a
    * RESIDUAL generation — every retry must reproduce the offset
    * sample codebook and the subtraction byte-for-byte.
    */
  private def pqRotTrial(plan: Seq[String], res: Boolean): Unit = {
    val root = java.nio.file.Files.createTempDirectory("graft-sweep-pqr").toString
    val path = s"$root/pq"
    buildPqBase(path, res)
    assert(Pq.appendPqEpoch(pqNovel, path, "e1"))
    driveWithCrashes(plan) { fail =>
      Pq.rotatePqStaged(spark, path, "rot1", pqUnion, pqM, pqK, pqCent,
        "vec_id", 1, false, fail, residual = res)
      ()
    }
    val ctx = s"plan=$plan res=$res"
    val want = pqWant((res, "rotated"))
    assert(pqRows(path) == want, ctx)
    assert(EpochLedger.applied(spark, path, "rot1"), ctx)
    assert(!Pq.rotatePq(spark, path, "rot1", pqUnion, pqM, pqK, pqCent,
      residual = res), ctx)
    Similarity.recoverIvfEpochs(spark, path)
    assert(pqRows(path) == want, ctx)
    assert(EpochLedger.listQuarantined(spark, path).isEmpty, ctx)
    pqStagingGone(path, Seq("rot1"))
    assert(EpochLedger.listRetired(spark, path).map(_._1)
      .forall(_.startsWith("rot1.pre-rotate")), ctx)
  }

  /** Partition-compaction trial: pure file coalescing under crashes —
    * fixed byte target (the codes are the data; nothing re-derives),
    * and the reader's view at any crash instant is never doubled.
    */
  private def pqPcmpTrial(plan: Seq[String], salt: Int = 1): Unit = {
    val root = java.nio.file.Files.createTempDirectory("graft-sweep-pqc").toString
    val path = s"$root/pq"
    buildPqBase(path)
    assert(Pq.appendPqEpoch(pqNovel, path, "e1"))
    driveWithCrashes(plan) { fail =>
      val view = pqRows(path)
      assert(view.subsetOf(pqWantGrown), s"plan=$plan view=$view")
      Pq.compactPqPartitionsStaged(spark, path, "pc1", 1, 0L, fail,
        filesPerPartition = salt)
      ()
    }
    val ctx = s"plan=$plan salt=$salt"
    assert(pqRows(path) == pqWantGrown, ctx)
    assert(EpochLedger.applied(spark, path, "pc1"), ctx)
    assert(Similarity.ivfPartitionStats(spark, path).forall(_._2 <= salt), ctx)
    assert(Pq.compactPqPartitions(spark, path, "pc1") == 0, ctx)
    Similarity.recoverIvfEpochs(spark, path)
    assert(pqRows(path) == pqWantGrown, ctx)
    assert(EpochLedger.listQuarantined(spark, path).isEmpty, ctx)
    pqStagingGone(path, Seq("pc1"))
  }

  /** Maintain-policy trial: a random sub-protocol torn at a random
    * failpoint, then ONE clean [[Pq.pqMaintain]] call converges the
    * index — heal-at-entry resolves the torn op by its commit point,
    * the compact arm restores the file-count invariant, a second
    * maintain is listing-only.
    */
  private def pqMaintainTrial(sub: String, fp: String): Unit = {
    val root = java.nio.file.Files.createTempDirectory("graft-sweep-pqm").toString
    val path = s"$root/pq"
    buildPqBase(path)
    assert(Pq.appendPqEpoch(pqNovel, path, "e1"))
    val crash: String => Unit = p => if (p == fp) throw Boom
    // the grown index's stored meta — the e2 branch's expected novel
    // codes must come from THIS codebook, read before the tear
    val meta = Pq.readPqMeta(spark, path)
    try {
      sub match {
        case "epoch" =>
          Pq.appendPqEpochStaged(pqNovel2, path, "e2", "vec_id", crash)
        case "rotation" =>
          Pq.rotatePqStaged(spark, path, "r2", pqUnion, pqM, pqK, pqCent,
            "vec_id", 1, false, crash)
        case "partition-compaction" =>
          Pq.compactPqPartitionsStaged(spark, path, "pc2", 1, 0L, crash)
      }
      ()
    } catch { case Boom => () }
    val policy = Pq.PqMaintainPolicy(maxFilesPerPartition = 1,
      skewThreshold = Double.MaxValue)
    val m1 = Pq.pqMaintain(spark, path, "mnt1", pqUnion, policy)
    val ctx = s"sub=$sub fp=$fp actions=${m1.actions}"
    val want =
      if (sub == "rotation" && EpochLedger.applied(spark, path, "r2"))
        pqWantRotated
      else if (sub == "epoch" && EpochLedger.applied(spark, path, "e2"))
        pqWantGrown ++ Pq.encodeForLayout(pqNovel2, path, meta, "vec_id")
          .collect()
          .map(r => (r.getLong(0), r.getString(3),
            r.getAs[Array[Byte]](1).toSeq, r.getDouble(2))).toSet
      else pqWantGrown
    assert(pqRows(path) == want, ctx)
    assert(Similarity.ivfPartitionStats(spark, path).forall(_._2 == 1), ctx)
    assert(EpochLedger.listQuarantined(spark, path).isEmpty, ctx)
    val m2 = Pq.pqMaintain(spark, path, "mnt2", pqUnion, policy)
    assert(m2.actions.isEmpty, s"$ctx m2=${m2.actions}")
    pqStagingGone(path, Seq("e2", "r2", "pc2", "mnt1-compact",
      "mnt2-compact", "mnt1-rotate", "mnt2-rotate"))
  }

  // ---------------------------------------------------------------- sweep

  test("105 seeded randomized crash trials across five protocols and " +
    "two maintain policies: retry-until-complete (or one maintain call) " +
    "always converges to the rebuild state") {
    val rnd = new scala.util.Random(0xC0FFEE42L)
    val protos = Seq("ivf", "dedup", "rotation", "compaction",
      "partition-compaction", "ivf-maintain", "dedup-maintain")
    val counts =
      scala.collection.mutable.Map(protos.map(_ -> 0): _*)
    for (trial <- 1 to 105) {
      val proto = protos(rnd.nextInt(protos.size))
      proto match {
        case "ivf-maintain" =>
          // the torn sub-protocol and its failpoint, drawn per trial
          val sub = Seq("epoch", "rotation", "compaction",
            "partition-compaction")(rnd.nextInt(4))
          val fps = sub match {
            case "epoch" => ivfFps
            case "partition-compaction" => pcmpFps
            case _ => rotFps
          }
          val fp = fps(rnd.nextInt(fps.size))
          withClue(s"trial $trial (ivf-maintain, $sub@$fp): ") {
            ivfMaintainTrial(sub, fp)
          }
        case "dedup-maintain" =>
          val fp = dedupFps(rnd.nextInt(dedupFps.size))
          withClue(s"trial $trial (dedup-maintain, @$fp): ") {
            dedupMaintainTrial(fp)
          }
        case _ =>
          val fps = proto match {
            case "ivf" => ivfFps
            case "dedup" => dedupFps
            case "partition-compaction" => pcmpFps
            case _ => rotFps
          }
          // 1 or 2 planned crashes; a post-commit first crash makes the
          // second plan entry unreachable (the retry completes through
          // entry recovery) — that path is part of the sweep's coverage
          val plan = Seq.fill(1 + rnd.nextInt(2))(fps(rnd.nextInt(fps.size)))
          withClue(s"trial $trial ($proto, $plan): ") {
            proto match {
              case "ivf" => ivfTrial(plan)
              case "dedup" => dedupTrial(plan)
              case "rotation" => rotTrial(plan)
              case "partition-compaction" =>
                // the write-parallelism salt rides the sweep too: the
                // per-dir swap discipline must hold for multi-file
                // compacted dirs exactly as for single-file ones
                pcmpTrial(plan, salt = 1 + rnd.nextInt(2))
              case _ => compactTrial(plan)
            }
          }
      }
      counts(proto) += 1
    }
    // the seed must actually exercise every arm
    assert(counts.values.forall(_ >= 8), counts.toString)
  }

  // ------------------------------------------------- substring-index side

  private val ssSharedRun = "c1 c2 c3 c4 c5"
  private def ssText(i: Long) = (1 to 8).map(j => s"s${i}w$j").mkString(" ")

  /** base docs 0..9, epoch docs 10..19 — the shared-run clique
    * straddles the split (docs 0 and 15), so with the batch's own copy
    * the EXACTLY-ONCE total is 3 distinct docs. The default-minDocs
    * probe row check pins the output shape, and [[ssDupBracket]] pins
    * delivery-exactly-once: a LOST epoch totals 2 (fails the
    * minDocs=3 probe), a DOUBLED one totals 4 (falsely passes the
    * minDocs=4 probe) — the default minDocs=2 verdict alone is
    * insensitive to both (base doc 0 already supplies one history
    * count), which is why every trial asserts the bracket too.
    */
  private lazy val ssBase = (0L until 10L)
    .map(i => (i, if (i == 0) s"$ssSharedRun ${ssText(i)}" else ssText(i)))
    .toDF("doc_id", "text")
  private lazy val ssEpochDocs = (10L until 20L)
    .map(i => (i, if (i == 15) s"$ssSharedRun ${ssText(i)}" else ssText(i)))
    .toDF("doc_id", "text")
  private lazy val ssBatch = Seq(
    (1000L, s"b0a b0b $ssSharedRun b0c"),
    (1001L, "fresh f1 f2 f3 f4 f5 f6")).toDF("doc_id", "text")

  private def ssProbeRows(idx: String): Seq[(Long, Long, Long)] =
    Dedup.substringDupProbe(ssBatch, idx).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

  /** The exactly-once DELIVERY check the default-minDocs rows cannot
    * express (see the fixture comment): the clique's converged ddf sum
    * is history 2 (base doc 0 + epoch doc 15) + batch 1 = 3, so the
    * dup verdict must flip between minDocs 3 and 4 — a lost epoch
    * fails the first, a double-applied one passes the second.
    */
  private def ssBracketHolds(idx: String): Boolean = {
    def dupAt(md: Int): Boolean =
      Dedup.substringDupProbe(ssBatch, idx, minDocs = md)
        .filter($"doc_id" === 1000L).head().getLong(2) > 0
    dupAt(3) && !dupAt(4)
  }

  /** The rebuild target — the full-corpus stats restricted to the
    * batch (the q80 identity); window hashing is deterministic, so
    * every trial converges to these exact rows.
    */
  private lazy val ssWant: Seq[(Long, Long, Long)] =
    Dedup.substringDupStats(
        ssBase.unionByName(ssEpochDocs).unionByName(ssBatch), window = 4)
      .filter($"doc_id" >= 1000L).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

  private def ssBuildBase(idx: String): Unit =
    Dedup.writeSubstringIndex(ssBase, idx, window = 4, nBuckets = 4)

  private def ssStagingGone(idx: String, ids: Seq[String]): Unit = {
    val f = Dedup.fsFor(spark, idx)
    ids.foreach { id =>
      assert(!f.exists(new org.apache.hadoop.fs.Path(s"$idx/_rotate/$id")),
        id)
      assert(!f.exists(new org.apache.hadoop.fs.Path(s"$idx/_retrain/$id")),
        id)
    }
  }

  /** Epoch-append trial: crash plan, retry under the SAME id, converge
    * to the q80-identity probe rows; replay no-ops; staging gone.
    */
  private def ssEpochTrial(plan: Seq[String]): Unit = {
    val root =
      java.nio.file.Files.createTempDirectory("graft-sweep-ss").toString
    val idx = s"$root/idx"
    ssBuildBase(idx)
    driveWithCrashes(plan) { fail =>
      Dedup.appendSubstringEpochStaged(ssEpochDocs, idx, "e1", "text", fail)
      ()
    }
    val ctx = s"plan=$plan"
    assert(ssProbeRows(idx) == ssWant, ctx)
    assert(ssBracketHolds(idx), ctx)
    assert(EpochLedger.applied(spark, idx, "e1"), ctx)
    assert(!Dedup.appendSubstringEpoch(ssEpochDocs, idx, "e1"), ctx)
    Dedup.recoverSubstringLayout(spark, idx)
    assert(ssProbeRows(idx) == ssWant, ctx)
    assert(EpochLedger.listQuarantined(spark, idx).isEmpty, ctx)
    ssStagingGone(idx, Seq("e1"))
  }

  /** Rotation trial: grown layout re-bucketed 4 -> 8 under crashes;
    * probe invariant, prior epoch id stays ledgered, staging gone.
    */
  private def ssRotTrial(plan: Seq[String]): Unit = {
    val root =
      java.nio.file.Files.createTempDirectory("graft-sweep-ssr").toString
    val idx = s"$root/idx"
    ssBuildBase(idx)
    assert(Dedup.appendSubstringEpoch(ssEpochDocs, idx, "e1"))
    val full = ssBase.unionByName(ssEpochDocs)
    driveWithCrashes(plan) { fail =>
      Dedup.rotateSubstringIndexStaged(full, idx, "r1", window = None,
        nBuckets = Some(8), textCol = "text", deferRetire = false, fail)
      ()
    }
    val ctx = s"plan=$plan"
    assert(EpochLedger.applied(spark, idx, "r1"), ctx)
    assert(ssProbeRows(idx) == ssWant, ctx)
    assert(ssBracketHolds(idx), ctx)
    val (_, w2, nb2) = Dedup.openSubstringIndex(spark, idx)
    assert(w2 == 4 && nb2 == 8, ctx)
    // prior epoch stays ledgered across the rebuild; replays no-op
    assert(!Dedup.appendSubstringEpoch(ssEpochDocs, idx, "e1"), ctx)
    assert(!Dedup.rotateSubstringIndex(full, idx, "r1",
      nBuckets = Some(8)), ctx)
    Dedup.recoverSubstringLayout(spark, idx)
    assert(ssProbeRows(idx) == ssWant, ctx)
    assert(EpochLedger.listQuarantined(spark, idx).isEmpty, ctx)
    ssStagingGone(idx, Seq("r1"))
  }

  /** Partition-compaction trial: the fragmented grown layout sum-merges
    * under crashes; the probe is invariant at every instant a reader
    * could observe (per-hash sums never double), and the converged
    * layout is back to the at-rest one-row-per-window shape.
    */
  private def ssPcmpTrial(plan: Seq[String], salt: Int = 1): Unit = {
    val root =
      java.nio.file.Files.createTempDirectory("graft-sweep-ssc").toString
    val idx = s"$root/idx"
    ssBuildBase(idx)
    assert(Dedup.appendSubstringEpoch(ssEpochDocs, idx, "e1"))
    driveWithCrashes(plan) { fail =>
      Dedup.compactSubstringPartitionsStaged(spark, idx, "pc1",
        maxFilesPerPartition = 1, maxRecordsPerFile = 0L, fail,
        filesPerPartition = salt)
      ()
    }
    val ctx = s"plan=$plan salt=$salt"
    assert(ssProbeRows(idx) == ssWant, ctx)
    assert(ssBracketHolds(idx), ctx)
    assert(EpochLedger.applied(spark, idx, "pc1"), ctx)
    assert(Dedup.substringPartitionStats(spark, idx)
      .forall(_._2 <= salt), ctx)
    // the merge collapsed each hash's base + epoch rows to ONE summed
    // row (the at-rest shape) — the salt splits FILES, never rows, so
    // the row count equals the distinct-hash count at any salt
    val data = spark.read.parquet(Dedup.substringDataRoot(spark, idx))
    assert(data.count() == data.select("whash").distinct().count(), ctx)
    assert(Dedup.compactSubstringPartitions(spark, idx, "pc1") == 0, ctx)
    Dedup.recoverSubstringLayout(spark, idx)
    assert(ssProbeRows(idx) == ssWant, ctx)
    assert(EpochLedger.listQuarantined(spark, idx).isEmpty, ctx)
    ssStagingGone(idx, Seq("pc1"))
  }

  /** Maintain-policy trial: a random substring sub-protocol torn at a
    * random failpoint; ONE substringMaintain call heals through
    * recoverSubstringLayout and restores the file-count invariant.
    */
  private def ssMaintainTrial(sub: String, fp: String): Unit = {
    val root =
      java.nio.file.Files.createTempDirectory("graft-sweep-ssm").toString
    val idx = s"$root/idx"
    ssBuildBase(idx)
    assert(Dedup.appendSubstringEpoch(ssEpochDocs, idx, "e1"))
    val full = ssBase.unionByName(ssEpochDocs)
    val crash: String => Unit = p => if (p == fp) throw Boom
    try {
      sub match {
        case "epoch" =>
          Dedup.appendSubstringEpochStaged(
            Seq((50L, "late l1 l2 l3")).toDF("doc_id", "text"),
            idx, "e2", "text", crash)
        case "rotation" =>
          Dedup.rotateSubstringIndexStaged(full, idx, "r2", None,
            Some(8), "text", deferRetire = false, crash)
        case "partition-compaction" =>
          Dedup.compactSubstringPartitionsStaged(spark, idx, "pc2",
            maxFilesPerPartition = 1, maxRecordsPerFile = 0L, crash)
      }
      ()
    } catch { case Boom => () }
    val m1 = Dedup.substringMaintain(spark, idx, "mnt1",
      Dedup.BucketMaintainPolicy(maxFilesPerPartition = 1,
        ledgerTailMax = 64))
    val ctx = s"sub=$sub fp=$fp actions=${m1.actions}"
    // the torn op either completed (post-commit tear, healed at the
    // maintain's entry) or discarded (pre-commit) — the probe must be
    // the grown target either way (the e2/r2 docs carry no clique
    // tokens, so the batch verdicts don't move)
    assert(ssProbeRows(idx) == ssWant, ctx)
    assert(ssBracketHolds(idx), ctx)
    assert(Dedup.substringPartitionStats(spark, idx)
      .forall(_._2 == 1), ctx)
    assert(EpochLedger.listQuarantined(spark, idx).isEmpty, ctx)
    val m2 = Dedup.substringMaintain(spark, idx, "mnt2",
      Dedup.BucketMaintainPolicy(maxFilesPerPartition = 1,
        ledgerTailMax = 64))
    assert(m2.actions.isEmpty, s"$ctx m2=${m2.actions}")
    ssStagingGone(idx, Seq("e2", "r2", "pc2", "mnt1-compact",
      "mnt2-compact"))
  }

  test("40 seeded randomized crash trials across the substring-index " +
    "protocols and the substringMaintain policy: retry-until-complete " +
    "(or one maintain call) always converges to the q80-identity probe " +
    "rows") {
    val rnd = new scala.util.Random(0x5EED5517L)
    val protos = Seq("ss-epoch", "ss-rotation", "ss-partition-compaction",
      "ss-maintain")
    val counts =
      scala.collection.mutable.Map(protos.map(_ -> 0): _*)
    for (trial <- 1 to 40) {
      val proto = protos(rnd.nextInt(protos.size))
      proto match {
        case "ss-maintain" =>
          val sub = Seq("epoch", "rotation", "partition-compaction")(
            rnd.nextInt(3))
          val fps = sub match {
            case "epoch" => ivfFps
            case "partition-compaction" => pcmpFps
            case _ => rotFps
          }
          val fp = fps(rnd.nextInt(fps.size))
          withClue(s"trial $trial (ss-maintain, $sub@$fp): ") {
            ssMaintainTrial(sub, fp)
          }
        case _ =>
          val fps = proto match {
            case "ss-epoch" => ivfFps
            case "ss-partition-compaction" => pcmpFps
            case _ => rotFps
          }
          val plan = Seq.fill(1 + rnd.nextInt(2))(fps(rnd.nextInt(fps.size)))
          withClue(s"trial $trial ($proto, $plan): ") {
            proto match {
              case "ss-epoch" => ssEpochTrial(plan)
              case "ss-rotation" => ssRotTrial(plan)
              case _ => ssPcmpTrial(plan, salt = 1 + rnd.nextInt(2))
            }
          }
      }
      counts(proto) += 1
    }
    // the seed must actually exercise every arm
    assert(counts.values.forall(_ >= 6), counts.toString)
  }

  test("45 seeded randomized crash trials across the PQ protocols and " +
    "the pqMaintain policy: retry-until-complete (or one maintain call) " +
    "always converges to the byte-exact rebuild state") {
    val rnd = new scala.util.Random(0xBADC0DE5L)
    val protos = Seq("pq-epoch", "pq-rotation", "pq-partition-compaction",
      "pq-maintain")
    val counts =
      scala.collection.mutable.Map(protos.map(_ -> 0): _*)
    for (trial <- 1 to 45) {
      val proto = protos(rnd.nextInt(protos.size))
      proto match {
        case "pq-maintain" =>
          val sub = Seq("epoch", "rotation", "partition-compaction")(
            rnd.nextInt(3))
          val fps = sub match {
            case "epoch" => ivfFps
            case "partition-compaction" => pcmpFps
            case _ => rotFps
          }
          val fp = fps(rnd.nextInt(fps.size))
          withClue(s"trial $trial (pq-maintain, $sub@$fp): ") {
            pqMaintainTrial(sub, fp)
          }
        case _ =>
          val fps = proto match {
            case "pq-epoch" => ivfFps
            case "pq-partition-compaction" => pcmpFps
            case _ => rotFps
          }
          val plan = Seq.fill(1 + rnd.nextInt(2))(fps(rnd.nextInt(fps.size)))
          // the encode-bearing arms also draw the ENCODING mode: a
          // torn residual append/rotation must converge to the
          // residual byte target, never fall back to raw codes
          val res = rnd.nextBoolean()
          withClue(s"trial $trial ($proto, $plan, res=$res): ") {
            proto match {
              case "pq-epoch" => pqEpochTrial(plan, res)
              case "pq-rotation" => pqRotTrial(plan, res)
              case _ => pqPcmpTrial(plan, salt = 1 + rnd.nextInt(2))
            }
          }
      }
      counts(proto) += 1
    }
    // the seed must actually exercise every arm (this seed's draw:
    // 11/13/6/15)
    assert(counts.values.forall(_ >= 6), counts.toString)
  }
}
