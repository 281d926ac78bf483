package graft.operators

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The shared maintain engine ([[CentroidLayout.maintain]]) driven as a
  * decision table by a SCRIPTED kind over hand-made partition dirs — no
  * Spark layout build: the dirs' file counts and byte sizes are what the
  * listing-only health snapshot reads, the kind's rotation rewrites them
  * and ledgers its id, and its recall probe replays a script. Plus the
  * fail-closed sidecar copy of the generation publish.
  */
class CentroidLayoutSpec extends AnyFunSuite {
  import CentroidLayoutSpec.Policy
  lazy val spark = TestSpark.spark

  private val balanced = Seq(100L, 100L, 100L)
  private val skewed = Seq(100L, 100L, 1000L) // skew 10.00

  /** Replace the layout's partition dirs: one dir per entry, holding
    * `files` files of the entry's byte size each.
    */
  private def shape(path: String, bytes: Seq[Long], files: Int = 1): Unit = {
    val root = new java.io.File(path)
    root.mkdirs()
    root.listFiles().filter(_.getName.startsWith("centroid_id="))
      .foreach(d => { d.listFiles().foreach(_.delete()); d.delete() })
    bytes.zipWithIndex.foreach { case (b, i) =>
      val d = new java.io.File(root, s"centroid_id=c$i")
      d.mkdirs()
      (0 until files).foreach { j =>
        Files.write(new java.io.File(d, s"part-$j.parquet").toPath,
          new Array[Byte](b.toInt))
      }
    }
  }

  /** The scripted kind: `recalls` answers the probe in order, `rotate`
    * reshapes the layout to `afterRotate` and ledgers its id (a replay
    * returns false and changes nothing), `calls` records what ran.
    */
  private class Scripted(path: String) extends CentroidLayout.Kind {
    val noun = "layout"
    val retrain = "re-train"
    val rerankParam = "rerank"
    val rerankZero = "exact route"
    var knob = "a"
    def trainingKeys: Seq[(String, () => String)] = Seq("knob" -> (() => knob))
    var recalls: List[Double] = Nil
    var afterRotate: Seq[Long] = balanced
    val calls = scala.collection.mutable.ArrayBuffer.empty[String]
    def recall(): Similarity.IvfRecall = {
      calls += "recall"
      val r = recalls.head
      recalls = recalls.tail
      Similarity.IvfRecall(r, 8, 10, 1)
    }
    def rotate(id: String): Boolean = {
      calls += s"rotate $id"
      if (EpochLedger.applied(spark, path, id)) false
      else {
        shape(path, afterRotate)
        EpochLedger.writeLedgerEntry(Dedup.fsFor(spark, path), path, id,
          "rotation")
        true
      }
    }
    def compactPartitions(id: String): Int = { calls += s"compact $id"; 3 }
  }

  private def fresh(bytes: Seq[Long], files: Int = 1): (String, Scripted) = {
    val path = Files.createTempDirectory("graft-centroid").toString + "/lay"
    shape(path, bytes, files)
    (path, new Scripted(path))
  }

  private def tick(path: String, kind: Scripted, id: String,
      policy: Policy = Policy()): Seq[String] = {
    kind.calls.clear()
    CentroidLayout.maintain(spark, path, id, policy, kind).actions
  }

  private def breaker(path: String, file: String): Boolean =
    new java.io.File(s"$path/_maintain/$file").exists()

  private val skewUnmet = "WARNING skew-unmet-after-rotation(10.00>4.00) — " +
    "skew breaker armed: the rotate arm will not re-fire for skew until " +
    "the layout's data or the training config changes"
  private val skewSkipped = "rotate-skipped(skew 10.00>4.00, but a " +
    "rotation on this exact layout state already measured 10.0000 — the " +
    "re-train cannot re-balance this corpus; raise the threshold or " +
    "change the training knobs. Appends, rotations and knob changes " +
    "re-arm the breaker)"
  private def recallUnmet(after: String) =
    s"WARNING recall-floor-unmet-after-rotation($after<0.9000) — breaker " +
      "armed: the rotate arm will not fire again until the layout's data " +
      "or the recall/training config changes"
  private val floor = Policy(recallFloor = Some(0.9))

  test("a healthy layout is a listing-only no-op") {
    val (path, kind) = fresh(balanced)
    assert(tick(path, kind, "m1") == Seq.empty)
    assert(kind.calls.isEmpty)
  }

  test("skew: an applied rotation that misses arms the breaker; the next " +
    "tick skips with the exact action text; a knob change re-arms") {
    val (path, kind) = fresh(skewed)
    kind.afterRotate = skewed
    assert(tick(path, kind, "m1") == Seq("rotate(skew 10.00>4.00)", skewUnmet))
    assert(breaker(path, "skew-breaker"))
    assert(tick(path, kind, "m2") == Seq(skewSkipped))
    assert(kind.calls.isEmpty)
    kind.knob = "b"
    assert(tick(path, kind, "m3") == Seq("rotate(skew 10.00>4.00)", skewUnmet))
    assert(kind.calls == Seq("rotate m3-rotate"))
  }

  test("a passing re-check disarms the breaker") {
    val (path, kind) = fresh(skewed)
    kind.afterRotate = skewed
    tick(path, kind, "m1")
    assert(breaker(path, "skew-breaker"))
    // the data changed (a ledgered append): the fence no longer matches
    EpochLedger.writeLedgerEntry(Dedup.fsFor(spark, path), path, "e1", "epoch")
    kind.afterRotate = balanced
    assert(tick(path, kind, "m2") == Seq("rotate(skew 10.00>4.00)"))
    assert(!breaker(path, "skew-breaker"))

    val (rpath, rkind) = fresh(balanced)
    rkind.recalls = List(0.5, 0.5)
    assert(tick(rpath, rkind, "r1", floor) ==
      Seq("rotate(recall 0.5000<0.9000)", recallUnmet("0.5000")))
    assert(breaker(rpath, "recall-breaker"))
    rkind.knob = "b"
    rkind.recalls = List(0.5, 0.95)
    assert(tick(rpath, rkind, "r2", floor) == Seq("rotate(recall 0.5000<0.9000)"))
    assert(!breaker(rpath, "recall-breaker"))
  }

  test("a breaker is armed only after an applied rotation, never on a " +
    "replayed id") {
    val (path, kind) = fresh(skewed)
    kind.afterRotate = balanced
    assert(tick(path, kind, "m1") == Seq("rotate(skew 10.00>4.00)"))
    // the same id again on a re-skewed layout: the rotation replays
    shape(path, skewed)
    assert(tick(path, kind, "m1") ==
      Seq("rotate(skew 10.00>4.00) [already applied]"))
    assert(!breaker(path, "skew-breaker"))

    val (rpath, rkind) = fresh(balanced)
    rkind.recalls = List(0.5, 0.95)
    assert(tick(rpath, rkind, "r1", floor) == Seq("rotate(recall 0.5000<0.9000)"))
    rkind.recalls = List(0.5)
    assert(tick(rpath, rkind, "r1", floor) == Seq(
      "rotate(recall 0.5000<0.9000) [already applied]",
      "WARNING recall-floor-unmet(0.5000<0.9000) after a REPLAYED " +
        "rotation id — no new training ran this tick; re-run with a " +
        "fresh maintenance id to measure a real rotation"))
    // the replay measured nothing new: one probe (the health read)
    assert(rkind.calls == Seq("recall", "rotate r1-rotate"))
    assert(!breaker(rpath, "recall-breaker"))
  }

  test("the recall breaker is consulted only when skew will not rotate") {
    val (path, kind) = fresh(balanced)
    kind.recalls = List(0.5, 0.5)
    kind.afterRotate = balanced
    tick(path, kind, "m1", floor)
    assert(breaker(path, "recall-breaker"))
    kind.recalls = List(0.5)
    assert(tick(path, kind, "m2", floor) == Seq("rotate-skipped(recall " +
      "0.5000<0.9000, but a rotation on this exact layout state already " +
      "measured 0.5000 — the floor is unreachable at this " +
      "nprobe/rerank/training config; raise them or lower the floor. " +
      "Appends, rotations and knob changes re-arm the breaker)"))
    // skew on the SAME data state: the skew arm rotates, and the armed
    // recall breaker is not consulted — both observations are re-judged
    shape(path, skewed)
    kind.recalls = List(0.5, 0.5)
    assert(tick(path, kind, "m3", floor) == Seq(
      "rotate(skew 10.00>4.00, recall 0.5000<0.9000)",
      recallUnmet("0.5000")))
    assert(kind.calls == Seq("recall", "rotate m3-rotate", "recall"))
  }

  test("compact-partitions fires only when no rotation does") {
    val fragmented = Policy(maxFilesPerPartition = 2)
    val (path, kind) = fresh(balanced, files = 3)
    assert(tick(path, kind, "m1", fragmented) ==
      Seq("compact-partitions(maxFiles=3>2, dirs=3)"))
    assert(kind.calls == Seq("compact m1-compact"))
    // a rotation rewrites every partition: no compaction on top
    val (spath, skind) = fresh(skewed, files = 3)
    skind.afterRotate = skewed
    assert(tick(spath, skind, "m1", fragmented) ==
      Seq("rotate(skew 10.00>4.00)", skewUnmet))
    assert(skind.calls == Seq("rotate m1-rotate"))
    // a rotation its breaker skipped is no rotation: compaction fires
    shape(spath, skewed, files = 3)
    assert(tick(spath, skind, "m2", fragmented) ==
      Seq(skewSkipped, "compact-partitions(maxFiles=3>2, dirs=3)"))
    assert(skind.calls == Seq("compact m2-compact"))
  }

  test("the ledger and purge arms are independent of the rest") {
    val (path, kind) = fresh(skewed)
    val f = Dedup.fsFor(spark, path)
    Seq("e1", "e2").foreach(e => EpochLedger.writeLedgerEntry(f, path, e, "epoch"))
    val old = new java.io.File(s"$path/_retired/old.pre-rotate")
    old.mkdirs()
    Files.write(new java.io.File(old, "x").toPath, Array[Byte](1))
    old.setLastModified(System.currentTimeMillis - 3600L * 1000)
    val both = Policy(ledgerTailMax = 2, purgeRetiredOlderThanMs = Some(60000L))
    // with a rotation: its ledger entry makes the tail 3
    assert(tick(path, kind, "m1", both) == Seq("rotate(skew 10.00>4.00)",
      "compact-ledger(tail=3>2, rolled=3)",
      "purge-retired(olderThanMs=60000, purged=1)"))
    assert(!old.exists())
    // and on a healthy layout, with nothing else to do
    Seq("e3", "e4", "e5").foreach(e =>
      EpochLedger.writeLedgerEntry(f, path, e, "epoch"))
    old.mkdirs()
    Files.write(new java.io.File(old, "x").toPath, Array[Byte](1))
    old.setLastModified(System.currentTimeMillis - 3600L * 1000)
    assert(tick(path, kind, "m2", both) == Seq(
      "compact-ledger(tail=3>2, rolled=3)",
      "purge-retired(olderThanMs=60000, purged=1)"))
    assert(kind.calls.isEmpty)
  }

  test("a torn _centroids sidecar (only a dot-prefixed tmp) aborts the " +
    "stage before publish: live generation and pointer unchanged") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft-sidecar").toString + "/ivf"
    val emb = (0 until 16).map { i =>
      (i.toLong, Array.tabulate(4)(j => ((i * 7 + j * 3) % 11).toFloat))
    }.toDF("vec_id", "embedding")
    Similarity.writeIvfPartitioned(emb, path, centroidK = 2)
    assert(Similarity.rotateIvf(spark, path, "rot1", centroidK = 2))
    val f = Dedup.fsFor(spark, path)
    val gen = Similarity.currentGenName(f, path)
    assert(gen.contains("_gen-1"))
    val sidecar = new java.io.File(s"$path/_gen-1/_centroids")
    sidecar.listFiles().foreach(_.delete())
    Files.write(new java.io.File(sidecar, ".part-0.parquet.tmp").toPath,
      Array[Byte](1, 2, 3))
    val pointer = f.listStatus(new Path(s"$path/_current")).map(_.getPath.getName)
      .toSeq.sorted
    val err = intercept[IllegalArgumentException] {
      Similarity.compactIvf(spark, path, "cmp1")
    }
    assert(err.getMessage.contains("holds no parquet file"), err.getMessage)
    assert(Similarity.currentGenName(f, path) == gen)
    assert(f.listStatus(new Path(s"$path/_current")).map(_.getPath.getName)
      .toSeq.sorted == pointer)
    assert(!f.exists(new Path(s"$path/_gen-2")))
    assert(!EpochLedger.applied(spark, path, "cmp1"))
  }
}

object CentroidLayoutSpec {
  private final case class Policy(
      maxFilesPerPartition: Int = 64,
      skewThreshold: Double = 4.0,
      recallFloor: Option[Double] = None,
      recallSampleN: Int = 8,
      k: Int = 10,
      nprobe: Int = 1,
      rerank: Int = 0,
      ledgerTailMax: Int = 256,
      queryVectors: Option[DataFrame] = None,
      purgeRetiredOlderThanMs: Option[Long] = None,
      filesPerPartition: Int = 1) extends CentroidLayout.Policy
}
