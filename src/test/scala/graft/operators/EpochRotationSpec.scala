package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Epoch rotation for the incremental near-dup layouts: appending one
  * epoch's novel docs to the bucketed history + banded index and
  * merging the Bloom guard must be INDISTINGUISHABLE from a full
  * rebuild over history ∪ novel — at O(novel) cost, never O(corpus).
  */
class EpochRotationSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def histText(i: Long) = (1 to 12).map(j => s"h${i}w$j").mkString(" ")
  private def novelText(i: Long) = (1 to 12).map(j => s"n${i}w$j").mkString(" ")
  private def nearDup(t: String) = t.split(" ").dropRight(1).mkString(" ") + " tail"

  test("rotated epoch == full rebuild: bloom bytes, novelty filter, probe rows") {
    val h0 = (0L until 40L).map(i => (i, histText(i))).toDF("doc_id", "text")
    val n1 = (100L until 110L).map(i => (i, novelText(i))).toDF("doc_id", "text")
    val union = h0.unionByName(n1)

    val root = java.nio.file.Files.createTempDirectory("graft-rot").toString
    val histPath = s"$root/hist"
    val idxPath = s"$root/idx"
    Dedup.writeHistoryBucketed(h0, histPath, nBuckets = 8)
    Dedup.writeMinhashIndex(h0, idxPath)
    val bloom0 = spark.sparkContext.broadcast(
      Dedup.digestBloom(h0, expectedItems = 1000, fpp = 0.001))

    val bloom1 = Dedup.rotateEpochBucketed(n1, histPath, idxPath, bloom0,
      expectedItems = 1000, fpp = 0.001, epochId = "e1")

    // the merged sketch is BIT-IDENTICAL to a full-rebuild sketch of the
    // union (Bloom insertion is an OR of bit sets at fixed geometry)
    val rebuilt = Dedup.digestBloom(union, expectedItems = 1000, fpp = 0.001)
    def bytes(b: org.apache.spark.util.sketch.BloomFilter) = {
      val bos = new java.io.ByteArrayOutputStream(); b.writeTo(bos); bos.toByteArray
    }
    assert(java.util.Arrays.equals(bytes(bloom1.value), bytes(rebuilt)))

    // a probe batch touching both epochs: exact dup of each epoch,
    // near-dup of each epoch, one fresh doc
    val batch = Seq(
      (1L, histText(7)), // exact dup, epoch 0
      (2L, novelText(105)), // exact dup, epoch 1
      (3L, nearDup(histText(3))), // near-dup, epoch 0
      (4L, nearDup(novelText(108))), // near-dup, epoch 1
      (5L, "entirely fresh content unlike anything indexed before now")
    ).toDF("doc_id", "text")

    val novelGot = Dedup.filterNovel(batch, bloom1, "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(novelGot == Set(3L, 4L, 5L)) // both exact dups dropped

    // probe through the ROTATED layouts vs a FULL REBUILD elsewhere
    val (idx, k, bands) = Dedup.openMinhashIndex(spark, idxPath)
    val (hist, nb) = Dedup.openHistoryBucketed(spark, histPath)
    val got = Dedup.minhashProbeBucketedOn(batch, idx, hist, nb,
        threshold = 0.8, k = k, bands = bands)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap

    val fullRoot = java.nio.file.Files.createTempDirectory("graft-rot-full").toString
    Dedup.writeHistoryBucketed(union, s"$fullRoot/hist", nBuckets = 8)
    Dedup.writeMinhashIndex(union, s"$fullRoot/idx")
    val (fIdx, fk, fb) = Dedup.openMinhashIndex(spark, s"$fullRoot/idx")
    val (fHist, fnb) = Dedup.openHistoryBucketed(spark, s"$fullRoot/hist")
    val want = Dedup.minhashProbeBucketedOn(batch, fIdx, fHist, fnb,
        threshold = 0.8, k = fk, bands = fb)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap

    assert(got == want)
    // and the rotated probe really sees both epochs
    assert(got.keySet.map(_._1).intersect(Set(3L, 4L)) == Set(3L, 4L))
    assert(got.contains((3L, 3L)) && got.contains((4L, 108L)))
    bloom1.unpersist(blocking = false)
  }

  test("compactLedger on the dedup rotation ledger: rolled-up epoch ids " +
    "still refuse a blind re-rotation, and new epochs keep ledgering") {
    val h0 = (0L until 20L).map(i => (i, histText(i))).toDF("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("graft-rotledg").toString
    val histPath = s"$root/hist"
    val idxPath = s"$root/idx"
    Dedup.writeHistoryBucketed(h0, histPath, nBuckets = 4)
    Dedup.writeMinhashIndex(h0, idxPath)
    var bloom = spark.sparkContext.broadcast(
      Dedup.digestBloom(h0, expectedItems = 1000, fpp = 0.001))
    for (e <- 1 to 3) {
      val n = ((100L * e) until (100L * e + 4L)).map(i => (i, novelText(i)))
        .toDF("doc_id", "text")
      bloom = Dedup.rotateEpochBucketed(n, histPath, idxPath, bloom,
        expectedItems = 1000, fpp = 0.001, epochId = s"e$e")
    }
    val histRows = spark.read.parquet(histPath).count()

    assert(EpochLedger.compactLedger(spark, histPath) == 3)
    val f = Dedup.fsFor(spark, histPath)
    assert(f.listStatus(new org.apache.hadoop.fs.Path(s"$histPath/_epochs"))
      .map(_.getPath.getName).toSeq.sorted == Seq("_compacted.1"))
    (1 to 3).foreach(e =>
      assert(Dedup.epochApplied(spark, histPath, s"e$e"), s"e$e"))
    assert(!Dedup.epochApplied(spark, histPath, "e4"))

    // a replayed rolled-up id is a no-op off the roll-up alone: the
    // layouts are untouched (rotateEpochBucketed only re-merges the
    // Bloom, which is idempotent by construction)
    val replay = ((100L) until 104L).map(i => (i, novelText(i)))
      .toDF("doc_id", "text")
    Dedup.rotateEpochBucketed(replay, histPath, idxPath, bloom,
      expectedItems = 1000, fpp = 0.001, epochId = "e1")
    assert(spark.read.parquet(histPath).count() == histRows)

    // new epochs land as fresh tail entries beside the roll-up
    val n4 = (400L until 404L).map(i => (i, novelText(i)))
      .toDF("doc_id", "text")
    bloom = Dedup.rotateEpochBucketed(n4, histPath, idxPath, bloom,
      expectedItems = 1000, fpp = 0.001, epochId = "e4")
    assert(Dedup.epochApplied(spark, histPath, "e4"))
    assert(spark.read.parquet(histPath).count() == histRows + 4)
    // recovery over the rolled-up ledger is a clean no-op
    Dedup.recoverRotations(spark, histPath, idxPath)
    assert(Dedup.listQuarantined(spark, histPath, idxPath).isEmpty)
    bloom.unpersist(blocking = false)
  }

  test("crash injection at every protocol point: same-epochId retry " +
    "converges to exactly the full-rebuild state, with no duplicates") {
    def bytes(b: org.apache.spark.util.sketch.BloomFilter) = {
      val bos = new java.io.ByteArrayOutputStream(); b.writeTo(bos); bos.toByteArray
    }
    val h0 = (0L until 40L).map(i => (i, histText(i))).toDF("doc_id", "text")
    val n1 = (100L until 110L).map(i => (i, novelText(i))).toDF("doc_id", "text")
    val union = h0.unionByName(n1)
    val batch = Seq(
      (3L, nearDup(histText(3))), // near-dup, epoch 0
      (4L, nearDup(novelText(108))) // near-dup, epoch 1
    ).toDF("doc_id", "text")

    def probeAll(histPath: String, idxPath: String) = {
      val (idx, k, bands) = Dedup.openMinhashIndex(spark, idxPath)
      val (hist, nb) = Dedup.openHistoryBucketed(spark, histPath)
      Dedup.minhashProbeBucketedOn(batch, idx, hist, nb,
          threshold = 0.8, k = k, bands = bands)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
        .toSet
    }

    // the rebuild targets, computed once
    val fullRoot = java.nio.file.Files.createTempDirectory("graft-cr-full").toString
    Dedup.writeHistoryBucketed(union, s"$fullRoot/hist", nBuckets = 8)
    Dedup.writeMinhashIndex(union, s"$fullRoot/idx")
    val wantHistRows = spark.read.parquet(s"$fullRoot/hist").count()
    val wantIdxRows = spark.read.parquet(s"$fullRoot/idx").count()
    val wantProbe = probeAll(s"$fullRoot/hist", s"$fullRoot/idx")
    val wantBloom = bytes(Dedup.digestBloom(union, 1000, 0.001))
    assert(wantProbe.map(_._1) == Set((3L, 3L), (4L, 108L)))

    for (fp <- Seq("staged-history", "staged", "committed", "moved-history")) {
      val root = java.nio.file.Files.createTempDirectory(s"graft-crash").toString
      val histPath = s"$root/hist"
      val idxPath = s"$root/idx"
      Dedup.writeHistoryBucketed(h0, histPath, nBuckets = 8)
      Dedup.writeMinhashIndex(h0, idxPath)
      val h0Rows = spark.read.parquet(histPath).count()
      val bloom0 = spark.sparkContext.broadcast(
        Dedup.digestBloom(h0, expectedItems = 1000, fpp = 0.001))

      val ex = intercept[RuntimeException] {
        Dedup.rotateEpochStaged(n1, histPath, idxPath, bloom0,
          expectedItems = 1000, fpp = 0.001, textCol = "text",
          epochId = "e1",
          failpoint = p =>
            if (p == fp) throw new RuntimeException(s"injected at $p"))
      }
      assert(ex.getMessage.contains("injected"), fp)

      if (fp == "staged-history" || fp == "staged") {
        // uncommitted crash: the staged files are underscore-invisible,
        // so readers see the layouts exactly as before the attempt
        assert(spark.read.parquet(histPath).count() == h0Rows, fp)
        assert(!Dedup.epochApplied(spark, histPath, "e1"), fp)
      }

      // retry under the SAME epochId: entry recovery discards an
      // uncommitted stage (then re-applies) or completes a committed
      // one (then skips the appends) — either way, the rebuild state
      val bloom1 = Dedup.rotateEpochBucketed(n1, histPath, idxPath, bloom0,
        expectedItems = 1000, fpp = 0.001, epochId = "e1")
      assert(spark.read.parquet(histPath).count() == wantHistRows, fp)
      assert(spark.read.parquet(idxPath).count() == wantIdxRows, fp)
      assert(Dedup.epochApplied(spark, histPath, "e1"), fp)
      assert(probeAll(histPath, idxPath) == wantProbe, fp)
      assert(java.util.Arrays.equals(bytes(bloom1.value), wantBloom), fp)
      // staging fully reclaimed
      val f = new org.apache.hadoop.fs.Path(histPath).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      assert(!f.exists(new org.apache.hadoop.fs.Path(s"$histPath/_rotate/e1")), fp)

      // a FURTHER retry of the completed epoch is a pure ledger hit:
      // layouts untouched, bloom unchanged (re-merge ORs identical bits)
      val bloom2 = Dedup.rotateEpochBucketed(n1, histPath, idxPath, bloom1,
        expectedItems = 1000, fpp = 0.001, epochId = "e1")
      assert(spark.read.parquet(histPath).count() == wantHistRows, fp)
      assert(spark.read.parquet(idxPath).count() == wantIdxRows, fp)
      assert(java.util.Arrays.equals(bytes(bloom2.value), wantBloom), fp)
      bloom2.unpersist(blocking = false)
    }
  }

  test("cross-epoch recovery: a crashed epoch-1 rotation is healed by " +
    "epoch 2's entry, and both epochs equal the two-epoch rebuild") {
    val h0 = (0L until 40L).map(i => (i, histText(i))).toDF("doc_id", "text")
    val n1 = (100L until 110L).map(i => (i, novelText(i))).toDF("doc_id", "text")
    val n2 = (200L until 206L)
      .map(i => (i, (1 to 12).map(j => s"m${i}w$j").mkString(" ")))
      .toDF("doc_id", "text")
    val union = h0.unionByName(n1).unionByName(n2)

    val root = java.nio.file.Files.createTempDirectory("graft-xepoch").toString
    val histPath = s"$root/hist"
    val idxPath = s"$root/idx"
    Dedup.writeHistoryBucketed(h0, histPath, nBuckets = 8)
    Dedup.writeMinhashIndex(h0, idxPath)
    val bloom0 = spark.sparkContext.broadcast(
      Dedup.digestBloom(h0, expectedItems = 1000, fpp = 0.001))

    // epoch 1 crashes right after its commit point
    intercept[RuntimeException] {
      Dedup.rotateEpochStaged(n1, histPath, idxPath, bloom0,
        expectedItems = 1000, fpp = 0.001, textCol = "text",
        epochId = "e1",
        failpoint = p => if (p == "committed") throw new RuntimeException("crash"))
    }
    // epoch 2 rotates directly — no explicit recovery call: the
    // rotation's OWN entry must complete e1's committed stage first.
    // (In the real lifecycle the caller would rebuild the bloom from
    // recovered history before e2; merging n1's sketch explicitly here
    // keeps the bloom equivalent without re-reading the layouts.)
    val bloom1 = spark.sparkContext.broadcast(
      Dedup.bloomWithNovel(bloom0.value, n1, expectedItems = 1000, fpp = 0.001))
    val bloom2 = Dedup.rotateEpochBucketed(n2, histPath, idxPath, bloom1,
      expectedItems = 1000, fpp = 0.001, epochId = "e2")
    assert(Dedup.epochApplied(spark, histPath, "e1"))
    assert(Dedup.epochApplied(spark, histPath, "e2"))

    val fullRoot = java.nio.file.Files.createTempDirectory("graft-xe-full").toString
    Dedup.writeHistoryBucketed(union, s"$fullRoot/hist", nBuckets = 8)
    Dedup.writeMinhashIndex(union, s"$fullRoot/idx")
    assert(spark.read.parquet(histPath).count() ==
      spark.read.parquet(s"$fullRoot/hist").count())
    assert(spark.read.parquet(idxPath).count() ==
      spark.read.parquet(s"$fullRoot/idx").count())

    // probes against near-dups of BOTH epochs' novels resolve through
    // the healed layouts exactly as through the rebuild
    val batch = Seq(
      (1L, nearDup(novelText(104))), // epoch-1 novel
      (2L, nearDup((1 to 12).map(j => s"m203w$j").mkString(" "))) // epoch-2
    ).toDF("doc_id", "text")
    def probe(hp: String, ip: String) = {
      val (idx, k, bands) = Dedup.openMinhashIndex(spark, ip)
      val (hist, nb) = Dedup.openHistoryBucketed(spark, hp)
      Dedup.minhashProbeBucketedOn(batch, idx, hist, nb,
          threshold = 0.8, k = k, bands = bands)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toSet
    }
    val got = probe(histPath, idxPath)
    assert(got == probe(s"$fullRoot/hist", s"$fullRoot/idx"))
    assert(got.map(_._1) == Set((1L, 104L), (2L, 203L)))

    // the bloom advanced through crash + recovery equals the rebuild's
    val rebuilt = Dedup.digestBloom(union, expectedItems = 1000, fpp = 0.001)
    def bytes(b: org.apache.spark.util.sketch.BloomFilter) = {
      val bos = new java.io.ByteArrayOutputStream(); b.writeTo(bos); bos.toByteArray
    }
    assert(java.util.Arrays.equals(bytes(bloom2.value), bytes(rebuilt)))
    bloom2.unpersist(blocking = false)
  }

  test("epochId guard: separators, dot-segments, and hidden-prefix ids " +
    "are rejected before any filesystem work") {
    val novel = Seq((1L, "alpha")).toDF("doc_id", "text")
    val bloom = spark.sparkContext.broadcast(
      Dedup.digestBloom(novel, expectedItems = 10, fpp = 0.01))
    for (bad <- Seq("", "..", ".", "a/b", "a\\b", ".hidden", "_rotate",
      "a=b")) {
      val ex = intercept[IllegalArgumentException] {
        // nonexistent paths: the guard must fire before they matter
        Dedup.rotateEpochBucketed(novel, "/nonexistent/hist",
          "/nonexistent/idx", bloom, expectedItems = 10, fpp = 0.01,
          epochId = bad)
      }
      assert(ex.getMessage.contains("path segment"), s"id='$bad'")
    }
    bloom.unpersist(blocking = false)
  }

  test("cross-FS completion: index files land whole via hidden temp + " +
    "rename, replay after a crash converges, pre-moved files are not " +
    "duplicated") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.loc2.impl", classOf[Loc2FileSystem].getName)
    val h0 = (0L until 40L).map(i => (i, histText(i))).toDF("doc_id", "text")
    val n1 = (100L until 110L).map(i => (i, novelText(i))).toDF("doc_id", "text")
    val union = h0.unionByName(n1)
    val root = java.nio.file.Files.createTempDirectory("graft-xfs").toString
    val histPath = s"$root/hist" // default file:///
    val idxPath = s"loc2:$root/idx" // a DIFFERENT FileSystem URI
    Dedup.writeHistoryBucketed(h0, histPath, nBuckets = 8)
    Dedup.writeMinhashIndex(h0, idxPath)
    val bloom0 = spark.sparkContext.broadcast(
      Dedup.digestBloom(h0, expectedItems = 1000, fpp = 0.001))

    // crash after the history move, BEFORE any index copy; the retry's
    // entry recovery finishes the committed rotation through the
    // cross-FS copy branch
    intercept[RuntimeException] {
      Dedup.rotateEpochStaged(n1, histPath, idxPath, bloom0,
        expectedItems = 1000, fpp = 0.001, textCol = "text",
        epochId = "e1",
        failpoint = p =>
          if (p == "moved-history") throw new RuntimeException("injected"))
    }
    // simulate a FURTHER partial attempt: one staged index file already
    // renamed into the live layout by a crashed completion — the replay
    // must skip it (no duplicate rows), not re-copy or fail
    val f = new org.apache.hadoop.fs.Path(histPath).getFileSystem(conf)
    val idxStage = new org.apache.hadoop.fs.Path(s"$histPath/_rotate/e1/index")
    val staged = f.listStatus(idxStage)
      .filter(_.getPath.getName.endsWith(".parquet"))
    assert(staged.nonEmpty)
    val pre = staged.head.getPath
    // the live-layout name carries the epoch footprint prefix
    val preTo = new java.io.File(s"$root/idx", s"e1=${pre.getName}")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(pre.toUri), preTo.toPath)

    val bloom1 = Dedup.rotateEpochBucketed(n1, histPath, idxPath, bloom0,
      expectedItems = 1000, fpp = 0.001, epochId = "e1")
    assert(Dedup.epochApplied(spark, histPath, "e1"))

    // the completed layout matches a full rebuild, probes included
    val fullRoot = java.nio.file.Files.createTempDirectory("graft-xfs-full").toString
    Dedup.writeMinhashIndex(union, s"$fullRoot/idx")
    assert(spark.read.parquet(idxPath).count() ==
      spark.read.parquet(s"$fullRoot/idx").count())
    val batch = Seq((3L, nearDup(histText(3))), (4L, nearDup(novelText(108))))
      .toDF("doc_id", "text")
    val (idx, k, bands) = Dedup.openMinhashIndex(spark, idxPath)
    val (hist, nb) = Dedup.openHistoryBucketed(spark, histPath)
    val got = Dedup.minhashProbeBucketedOn(batch, idx, hist, nb,
        threshold = 0.8, k = k, bands = bands)
      .select("batch_id", "hist_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((3L, 3L), (4L, 108L)))

    // the live index never keeps an in-flight temp behind
    assert(!new java.io.File(s"$root/idx").listFiles()
      .exists(_.getName.endsWith(".inflight")))
    assert(!f.exists(new org.apache.hadoop.fs.Path(s"$histPath/_rotate/e1")))
    bloom1.unpersist(blocking = false)
  }

  test("commit-point guard: a stage deleted mid-completion (concurrent " +
    "recovery, the TOCTOU window) fails loudly instead of ledgering an " +
    "empty epoch") {
    val h0 = (0L until 40L).map(i => (i, histText(i))).toDF("doc_id", "text")
    val n1 = (100L until 110L).map(i => (i, novelText(i))).toDF("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("graft-toctou").toString
    val histPath = s"$root/hist"
    val idxPath = s"$root/idx"
    Dedup.writeHistoryBucketed(h0, histPath, nBuckets = 8)
    Dedup.writeMinhashIndex(h0, idxPath)
    val bloom0 = spark.sparkContext.broadcast(
      Dedup.digestBloom(h0, expectedItems = 1000, fpp = 0.001))
    val f = new org.apache.hadoop.fs.Path(histPath).getFileSystem(
      spark.sparkContext.hadoopConfiguration)

    // simulate the single-writer-contract violation: a concurrent
    // recoverRotations deletes the whole stage just after the history
    // move — past the pre-commit check AND past the manifest rename
    val ex = intercept[IllegalArgumentException] {
      Dedup.rotateEpochStaged(n1, histPath, idxPath, bloom0,
        expectedItems = 1000, fpp = 0.001, textCol = "text",
        epochId = "e1",
        failpoint = p =>
          if (p == "moved-history")
            f.delete(new org.apache.hadoop.fs.Path(s"$histPath/_rotate/e1"),
              true))
    }
    assert(ex.getMessage.contains("single maintenance writer"))
    // the epoch must NOT be recorded as applied — that would be the
    // silent-empty-epoch outcome the guard exists to prevent
    assert(!Dedup.epochApplied(spark, histPath, "e1"))

    // the violation left a PARTIAL append (history moved, stage gone).
    // A same-epochId retry must scrub that footprint and converge to
    // the rebuild state — no double-append
    val fullRoot = java.nio.file.Files.createTempDirectory("graft-toctou-full")
      .toString
    val union = h0.unionByName(n1)
    Dedup.writeHistoryBucketed(union, s"$fullRoot/hist", nBuckets = 8)
    Dedup.writeMinhashIndex(union, s"$fullRoot/idx")
    val bloom1 = Dedup.rotateEpochBucketed(n1, histPath, idxPath, bloom0,
      expectedItems = 1000, fpp = 0.001, epochId = "e1")
    assert(Dedup.epochApplied(spark, histPath, "e1"))
    assert(spark.read.parquet(histPath).count() ==
      spark.read.parquet(s"$fullRoot/hist").count())
    assert(spark.read.parquet(idxPath).count() ==
      spark.read.parquet(s"$fullRoot/idx").count())
    def bytes(b: org.apache.spark.util.sketch.BloomFilter) = {
      val bos = new java.io.ByteArrayOutputStream(); b.writeTo(bos); bos.toByteArray
    }
    assert(java.util.Arrays.equals(bytes(bloom1.value),
      bytes(Dedup.digestBloom(union, 1000, 0.001))))
    bloom1.unpersist(blocking = false)
  }

  test("restart-path healing: two-arg recoverRotations quarantines a " +
    "stage-loss partial append, so a restarted pipeline never sees " +
    "history rows without index entries") {
    val h0 = (0L until 40L).map(i => (i, histText(i))).toDF("doc_id", "text")
    val n1 = (100L until 110L).map(i => (i, novelText(i))).toDF("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("graft-restart").toString
    val histPath = s"$root/hist"
    val idxPath = s"$root/idx"
    Dedup.writeHistoryBucketed(h0, histPath, nBuckets = 8)
    Dedup.writeMinhashIndex(h0, idxPath)
    val h0HistRows = spark.read.parquet(histPath).count()
    val h0IdxRows = spark.read.parquet(idxPath).count()
    val bloom0 = spark.sparkContext.broadcast(
      Dedup.digestBloom(h0, expectedItems = 1000, fpp = 0.001))
    val f = new org.apache.hadoop.fs.Path(histPath).getFileSystem(
      spark.sparkContext.hadoopConfiguration)

    // tear the epoch: stage deleted after the history move (concurrent
    // recovery), loud commit-point failure, partial append left behind
    intercept[IllegalArgumentException] {
      Dedup.rotateEpochStaged(n1, histPath, idxPath, bloom0,
        expectedItems = 1000, fpp = 0.001, textCol = "text",
        epochId = "e1",
        failpoint = p =>
          if (p == "moved-history")
            f.delete(new org.apache.hadoop.fs.Path(s"$histPath/_rotate/e1"),
              true))
    }
    assert(spark.read.parquet(histPath).count() > h0HistRows)

    // the RESTART path (not a re-rotation) must heal it: both layouts
    // back to the epoch-0 state, the torn epoch unledgered
    Dedup.recoverRotations(spark, histPath, idxPath)
    assert(spark.read.parquet(histPath).count() == h0HistRows)
    assert(spark.read.parquet(idxPath).count() == h0IdxRows)
    assert(!Dedup.epochApplied(spark, histPath, "e1"))
    // healing QUARANTINES, never deletes: the torn files moved under
    // the hidden _quarantine/<id>/ dir, recoverable by an operator
    val qDir = new java.io.File(s"$histPath/_quarantine/e1")
    assert(qDir.isDirectory)
    assert(qDir.listFiles().exists(d => d.isDirectory &&
      d.listFiles().exists(_.getName.endsWith(".parquet"))))
    // and the operator surface reports it, listing-only
    val q = Dedup.listQuarantined(spark, histPath, idxPath)
    assert(q.map(_._1) == Seq("e1"))
    assert(q.head._2 > 0 && q.head._3 > 0)

    // and the epoch re-applies cleanly afterward
    val bloom1 = Dedup.rotateEpochBucketed(n1, histPath, idxPath, bloom0,
      expectedItems = 1000, fpp = 0.001, epochId = "e1")
    val fullRoot = java.nio.file.Files.createTempDirectory("graft-restart-f")
      .toString
    val union = h0.unionByName(n1)
    Dedup.writeHistoryBucketed(union, s"$fullRoot/hist", nBuckets = 8)
    Dedup.writeMinhashIndex(union, s"$fullRoot/idx")
    assert(spark.read.parquet(histPath).count() ==
      spark.read.parquet(s"$fullRoot/hist").count())
    assert(spark.read.parquet(idxPath).count() ==
      spark.read.parquet(s"$fullRoot/idx").count())
    assert(Dedup.epochApplied(spark, histPath, "e1"))
    // the completed re-rotation drops its now-redundant quarantine
    assert(!new java.io.File(s"$histPath/_quarantine/e1").exists())
    assert(Dedup.listQuarantined(spark, histPath, idxPath).isEmpty)
    bloom1.unpersist(blocking = false)
  }

  test("ledger-loss safety valve: footprints with NO _epochs dir refuse " +
    "recovery instead of quarantining the whole corpus") {
    val h0 = (0L until 40L).map(i => (i, histText(i))).toDF("doc_id", "text")
    val n1 = (100L until 110L).map(i => (i, novelText(i))).toDF("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("graft-ledgerloss").toString
    val histPath = s"$root/hist"
    val idxPath = s"$root/idx"
    Dedup.writeHistoryBucketed(h0, histPath, nBuckets = 8)
    Dedup.writeMinhashIndex(h0, idxPath)
    val bloom0 = spark.sparkContext.broadcast(
      Dedup.digestBloom(h0, expectedItems = 1000, fpp = 0.001))
    val bloom1 = Dedup.rotateEpochBucketed(n1, histPath, idxPath, bloom0,
      expectedItems = 1000, fpp = 0.001, epochId = "e1")
    val unionHistRows = spark.read.parquet(histPath).count()
    val unionIdxRows = spark.read.parquet(idxPath).count()

    // an underscore-blind copy/restore loses the hidden ledger: every
    // '<id>=' file now LOOKS unledgered. Recovery must refuse loudly —
    // quarantining here would silently truncate the corpus to epoch 0
    val f = new org.apache.hadoop.fs.Path(histPath).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    require(f.delete(new org.apache.hadoop.fs.Path(s"$histPath/_epochs"), true))
    val ex = intercept[IllegalArgumentException] {
      Dedup.recoverRotations(spark, histPath, idxPath)
    }
    assert(ex.getMessage.contains("ledger"))
    // nothing was touched
    assert(spark.read.parquet(histPath).count() == unionHistRows)
    assert(spark.read.parquet(idxPath).count() == unionIdxRows)
    assert(!f.exists(new org.apache.hadoop.fs.Path(s"$histPath/_quarantine")))

    // restoring the ledger (the documented fix) makes recovery a no-op
    // again and the layouts keep both epochs
    f.mkdirs(new org.apache.hadoop.fs.Path(s"$histPath/_epochs"))
    f.create(new org.apache.hadoop.fs.Path(s"$histPath/_epochs/e1"), true).close()
    Dedup.recoverRotations(spark, histPath, idxPath)
    assert(spark.read.parquet(histPath).count() == unionHistRows)
    assert(spark.read.parquet(idxPath).count() == unionIdxRows)
    bloom1.unpersist(blocking = false)
  }

  test("ledger-loss valve is judged at entry: a surviving committed " +
    "stage cannot re-create the ledger dir and defeat the refusal") {
    val h0 = (0L until 40L).map(i => (i, histText(i))).toDF("doc_id", "text")
    val n1 = (100L until 110L).map(i => (i, novelText(i))).toDF("doc_id", "text")
    val n2 = (200L until 210L).map(i => (i, novelText(i))).toDF("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("graft-valve").toString
    val histPath = s"$root/hist"
    val idxPath = s"$root/idx"
    Dedup.writeHistoryBucketed(h0, histPath, nBuckets = 8)
    Dedup.writeMinhashIndex(h0, idxPath)
    val bloom0 = spark.sparkContext.broadcast(
      Dedup.digestBloom(h0, expectedItems = 1000, fpp = 0.001))
    val bloom1 = Dedup.rotateEpochBucketed(n1, histPath, idxPath, bloom0,
      expectedItems = 1000, fpp = 0.001, epochId = "e1")
    // e2 crashes right AFTER its commit point: the committed stage
    // survives on disk
    intercept[RuntimeException] {
      Dedup.rotateEpochStaged(n2, histPath, idxPath, bloom1,
        expectedItems = 1000, fpp = 0.001, textCol = "text",
        epochId = "e2",
        failpoint = p => if (p == "committed") throw new RuntimeException("crash"))
    }
    val f = new org.apache.hadoop.fs.Path(histPath).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    require(f.delete(new org.apache.hadoop.fs.Path(s"$histPath/_epochs"), true))

    // e1's footprints are unledgered while e2 only has its committed
    // stage: the valve must refuse BEFORE mutating anything — e2's
    // stage must survive uncompleted, _epochs must stay absent, and a
    // blind retry must refuse identically (not pass because a first
    // run recreated the ledger dir)
    val before = spark.read.parquet(histPath).count()
    for (attempt <- 1 to 2) {
      val ex = intercept[IllegalArgumentException] {
        Dedup.recoverRotations(spark, histPath, idxPath)
      }
      assert(ex.getMessage.contains("ledger"), s"attempt $attempt")
      // the ONE-arg form shares the valve: it must not complete the
      // stage (re-creating an almost-empty ledger) either
      val ex1 = intercept[IllegalArgumentException] {
        Dedup.recoverRotations(spark, histPath)
      }
      assert(ex1.getMessage.contains("ledger"), s"attempt $attempt")
      assert(!f.exists(new org.apache.hadoop.fs.Path(s"$histPath/_quarantine")),
        s"attempt $attempt")
      assert(!f.exists(new org.apache.hadoop.fs.Path(s"$histPath/_epochs")),
        s"attempt $attempt")
      assert(f.exists(new org.apache.hadoop.fs.Path(
        s"$histPath/_rotate/e2/_MANIFEST")), s"attempt $attempt")
      assert(spark.read.parquet(histPath).count() == before, s"attempt $attempt")
    }

    // restoring e1's ledger entry (the documented fix) clears the
    // path: e2's stage completes, both epochs land, nothing quarantined
    f.mkdirs(new org.apache.hadoop.fs.Path(s"$histPath/_epochs"))
    f.create(new org.apache.hadoop.fs.Path(s"$histPath/_epochs/e1"), true).close()
    Dedup.recoverRotations(spark, histPath, idxPath)
    assert(!f.exists(new org.apache.hadoop.fs.Path(s"$histPath/_quarantine")))
    assert(Dedup.epochApplied(spark, histPath, "e1"))
    assert(Dedup.epochApplied(spark, histPath, "e2"))
    assert(spark.read.parquet(histPath).count() == before + 10) // e2's docs
    bloom1.unpersist(blocking = false)
  }

  test("one-arg recovery's ledger-loss valve covers the INDEX side: a " +
    "torn state whose only footprints are index files still refuses") {
    val h0 = (0L until 40L).map(i => (i, histText(i))).toDF("doc_id", "text")
    val n1 = (100L until 110L).map(i => (i, novelText(i))).toDF("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("graft-idxvalve").toString
    val histPath = s"$root/hist"
    val idxPath = s"$root/idx"
    Dedup.writeHistoryBucketed(h0, histPath, nBuckets = 8)
    Dedup.writeMinhashIndex(h0, idxPath)
    val bloom0 = spark.sparkContext.broadcast(
      Dedup.digestBloom(h0, expectedItems = 1000, fpp = 0.001))
    // crash right after the commit point: committed stage, NO moves yet
    intercept[RuntimeException] {
      Dedup.rotateEpochStaged(n1, histPath, idxPath, bloom0,
        expectedItems = 1000, fpp = 0.001, textCol = "text",
        epochId = "e1",
        failpoint = p => if (p == "committed") throw new RuntimeException("crash"))
    }
    val f = new org.apache.hadoop.fs.Path(histPath).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    // simulate a partial INDEX-side move by a further crashed completion
    // (history side untouched — e.g. an epoch whose history append was
    // empty): same-FS moves are renames, so the staged source is gone
    // once the live footprint exists. Then ledger loss.
    val staged = f.listStatus(
        new org.apache.hadoop.fs.Path(s"$histPath/_rotate/e1/index"))
      .filter(_.getPath.getName.endsWith(".parquet"))
    assert(staged.nonEmpty)
    java.nio.file.Files.move(
      java.nio.file.Paths.get(staged.head.getPath.toUri),
      java.nio.file.Paths.get(s"$idxPath/e1=${staged.head.getPath.getName}"))
    require(f.delete(new org.apache.hadoop.fs.Path(s"$histPath/_epochs"), true))

    // history side has NO '<id>=' footprint — only the manifest's
    // indexPath can reveal the torn state. The one-arg form must refuse
    // idempotently, leaving the stage for a restored-ledger recovery.
    val before = spark.read.parquet(histPath).count()
    for (attempt <- 1 to 2) {
      val ex = intercept[IllegalArgumentException] {
        Dedup.recoverRotations(spark, histPath)
      }
      assert(ex.getMessage.contains("ledger"), s"attempt $attempt")
      assert(!f.exists(new org.apache.hadoop.fs.Path(s"$histPath/_epochs")),
        s"attempt $attempt")
      assert(f.exists(new org.apache.hadoop.fs.Path(
        s"$histPath/_rotate/e1/_MANIFEST")), s"attempt $attempt")
      assert(spark.read.parquet(histPath).count() == before, s"attempt $attempt")
    }
    // restoring the (empty — no epoch ever completed) ledger dir clears
    // the path: recovery completes e1, and the pre-moved index file is
    // not duplicated
    f.mkdirs(new org.apache.hadoop.fs.Path(s"$histPath/_epochs"))
    Dedup.recoverRotations(spark, histPath)
    assert(Dedup.epochApplied(spark, histPath, "e1"))
    val fullRoot = java.nio.file.Files.createTempDirectory("graft-idxvalve-f")
      .toString
    Dedup.writeMinhashIndex(h0.unionByName(n1), s"$fullRoot/idx")
    assert(spark.read.parquet(idxPath).count() ==
      spark.read.parquet(s"$fullRoot/idx").count())
    bloom0.unpersist(blocking = false)
  }

  test("same-id re-rotation with a DIFFERENT novel set retires the torn " +
    "attempt's quarantine instead of deleting it") {
    val h0 = (0L until 40L).map(i => (i, histText(i))).toDF("doc_id", "text")
    // the torn attempt carried novels the retry does NOT (a partially
    // lost spool): their quarantined rows are the only copy
    val nLost = (100L until 110L).map(i => (i, novelText(i)))
      .toDF("doc_id", "text")
    val nRetry = (100L until 105L).map(i => (i, novelText(i)))
      .toDF("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("graft-retire").toString
    val histPath = s"$root/hist"
    val idxPath = s"$root/idx"
    Dedup.writeHistoryBucketed(h0, histPath, nBuckets = 8)
    Dedup.writeMinhashIndex(h0, idxPath)
    val bloom0 = spark.sparkContext.broadcast(
      Dedup.digestBloom(h0, expectedItems = 1000, fpp = 0.001))
    val f = new org.apache.hadoop.fs.Path(histPath).getFileSystem(
      spark.sparkContext.hadoopConfiguration)

    // tear e1 (stage lost after the history move), then heal: nLost's
    // rows land in _quarantine/e1
    intercept[IllegalArgumentException] {
      Dedup.rotateEpochStaged(nLost, histPath, idxPath, bloom0,
        expectedItems = 1000, fpp = 0.001, textCol = "text",
        epochId = "e1",
        failpoint = p =>
          if (p == "moved-history")
            f.delete(new org.apache.hadoop.fs.Path(s"$histPath/_rotate/e1"),
              true))
    }
    Dedup.recoverRotations(spark, histPath, idxPath)
    assert(Dedup.listQuarantined(spark, histPath, idxPath).map(_._1) ==
      Seq("e1"))
    val quarantinedRows = spark.read.schema(
        spark.read.parquet(histPath).schema)
      .parquet(s"$histPath/_quarantine/e1/*")
      .count()
    assert(quarantinedRows > 0)

    // re-rotate e1 with the SMALLER novel set: completion must retire —
    // not delete — the superseded quarantine
    val bloom1 = Dedup.rotateEpochBucketed(nRetry, histPath, idxPath, bloom0,
      expectedItems = 1000, fpp = 0.001, epochId = "e1")
    assert(Dedup.epochApplied(spark, histPath, "e1"))
    // active quarantine is clear (the operator surface shows nothing)…
    assert(!f.exists(new org.apache.hadoop.fs.Path(s"$histPath/_quarantine/e1")))
    assert(Dedup.listQuarantined(spark, histPath, idxPath).isEmpty)
    // …but the torn attempt's rows SURVIVE under _retired, byte-complete
    val retired = spark.read.schema(spark.read.parquet(histPath).schema)
      .parquet(s"$histPath/_retired/e1/*")
      .count()
    assert(retired == quarantinedRows)
    // and the live layout holds exactly h0 + nRetry (never nLost's tail)
    val fullRoot = java.nio.file.Files.createTempDirectory("graft-retire-f")
      .toString
    Dedup.writeHistoryBucketed(h0.unionByName(nRetry), s"$fullRoot/hist",
      nBuckets = 8)
    assert(spark.read.parquet(histPath).count() ==
      spark.read.parquet(s"$fullRoot/hist").count())
    bloom1.unpersist(blocking = false)
  }

  test("bloomWithNovel rejects a mismatched epoch-0 capacity loudly") {
    val h0 = (0L until 10L).map(i => (i, histText(i))).toDF("doc_id", "text")
    val bloom = Dedup.digestBloom(h0, expectedItems = 1000, fpp = 0.001)
    val novel = Seq((50L, novelText(50))).toDF("doc_id", "text")
    // wrong expectedItems (fpp correct) -> different geometry -> loud reject
    assertThrows[org.apache.spark.util.sketch.IncompatibleMergeException] {
      Dedup.bloomWithNovel(bloom, novel, expectedItems = 37, fpp = 0.001)
    }
  }

  // ---------------------------- history partition-scoped compaction

  /** A rotated-twice layout pair: every bucket dir carries the base
    * file-set plus one per epoch. Returns (histPath, idxPath, probe
    * batch) with the bloom chain released.
    */
  private def rotatedPair(root: String): (String, String) = {
    val h0 = (0L until 40L).map(i => (i, histText(i))).toDF("doc_id", "text")
    val histPath = s"$root/hist"
    val idxPath = s"$root/idx"
    Dedup.writeHistoryBucketed(h0, histPath, nBuckets = 4)
    Dedup.writeMinhashIndex(h0, idxPath)
    var bloom = spark.sparkContext.broadcast(
      Dedup.digestBloom(h0, expectedItems = 1000, fpp = 0.001))
    for (e <- 1 to 2) {
      val n = (100L * e until 100L * e + 8L).map(i => (i, novelText(i)))
        .toDF("doc_id", "text")
      bloom = Dedup.rotateEpochBucketed(n, histPath, idxPath, bloom,
        expectedItems = 1000, fpp = 0.001, epochId = s"e$e")
    }
    bloom.unpersist(blocking = false)
    (histPath, idxPath)
  }

  private def histRowSet(p: String): Set[(Long, String)] =
    spark.read.parquet(p).select("doc_id", "id_bucket").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet

  private def probeRows(histPath: String, idxPath: String)
      : Map[(Long, Long), Double] = {
    val batch = Seq(
      (1L, nearDup(histText(3))),
      (2L, nearDup(novelText(105))),
      (3L, nearDup(novelText(203)))).toDF("doc_id", "text")
    val (idx, k, bands) = Dedup.openMinhashIndex(spark, idxPath)
    val (hist, nb) = Dedup.openHistoryBucketed(spark, histPath)
    Dedup.minhashProbeBucketedOn(batch, idx, hist, nb, threshold = 0.8,
        k = k, bands = bands)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
      .toMap
  }

  test("compactHistoryPartitions: only over-threshold buckets are " +
    "rewritten in place, probe rows identical, footprint-named files, " +
    "replay no-op, rotation continues after; ids cannot cross " +
    "protocols in either direction") {
    val root = java.nio.file.Files.createTempDirectory("graft-hcmp").toString
    val (histPath, idxPath) = rotatedPair(root)
    val before = histRowSet(histPath)
    val probeBefore = probeRows(histPath, idxPath)
    assert(probeBefore.nonEmpty)
    val statsBefore = Dedup.historyPartitionStats(spark, histPath)
    assert(statsBefore.exists(_._2 > 1)) // epochs really fragmented it

    val n = Dedup.compactHistoryPartitions(spark, histPath, idxPath,
      "hc1", maxFilesPerPartition = 1)
    assert(n >= 1)
    assert(histRowSet(histPath) == before)
    assert(probeRows(histPath, idxPath) == probeBefore)
    assert(Dedup.historyPartitionStats(spark, histPath).forall(_._2 == 1))
    // compacted files carry the compaction-id footprint; replaced
    // files retired, never deleted
    val f = Dedup.fsFor(spark, histPath)
    assert(f.listStatus(new org.apache.hadoop.fs.Path(
        s"$histPath/id_bucket=${statsBefore.filter(_._2 > 1).head._1}"))
      .map(_.getPath.getName).filter(_.endsWith(".parquet"))
      .forall(_.startsWith("hc1=")))
    assert(Dedup.listRetired(spark, histPath, idxPath).map(_._1)
      .contains("hc1.compact"))
    // replay: ledger hit, nothing moves
    assert(Dedup.compactHistoryPartitions(spark, histPath, idxPath,
      "hc1", maxFilesPerPartition = 1) == 0)
    // cross-protocol refusals, both directions
    val bloomX = spark.sparkContext.broadcast(
      Dedup.digestBloom(spark.read.parquet(histPath)
        .select("doc_id", "text"), 1000, 0.001))
    val nx = Seq((900L, novelText(900))).toDF("doc_id", "text")
    val ex1 = intercept[IllegalArgumentException] {
      Dedup.rotateEpochBucketed(nx, histPath, idxPath, bloomX,
        expectedItems = 1000, fpp = 0.001, epochId = "hc1")
    }
    assert(ex1.getMessage.contains("protocol"))
    val ex2 = intercept[IllegalArgumentException] {
      Dedup.compactHistoryPartitions(spark, histPath, idxPath, "e1")
    }
    assert(ex2.getMessage.contains("protocol"))
    // rotation continues normally against the compacted layout
    val bloom3 = Dedup.rotateEpochBucketed(nx, histPath, idxPath, bloomX,
      expectedItems = 1000, fpp = 0.001, epochId = "e3")
    assert(histRowSet(histPath).size == before.size + 1)
    assert(Dedup.listQuarantined(spark, histPath, idxPath).isEmpty)
    bloom3.unpersist(blocking = false)
  }

  test("dedupMaintain: healthy pair is a no-op that still reports the " +
    "observables; a fragmented history compacts selectively; a long " +
    "ledger tail rolls up; a same-id re-run is a no-op") {
    val root = java.nio.file.Files.createTempDirectory("graft-dmaint").toString
    val (histPath, idxPath) = rotatedPair(root)
    val m0 = Dedup.dedupMaintain(spark, histPath, idxPath, "m0",
      Dedup.BucketMaintainPolicy(maxFilesPerPartition = 100,
        ledgerTailMax = 100))
    assert(m0.actions.isEmpty)
    assert(m0.buckets == 4 && m0.maxFilesPerBucket > 1 && m0.ledgerTail == 2)

    val before = histRowSet(histPath)
    val probeBefore = probeRows(histPath, idxPath)
    val m1 = Dedup.dedupMaintain(spark, histPath, idxPath, "m1",
      Dedup.BucketMaintainPolicy(maxFilesPerPartition = 1, ledgerTailMax = 100))
    assert(m1.actions.size == 1 &&
      m1.actions.head.startsWith("compact-history("), m1.actions)
    assert(Dedup.epochApplied(spark, histPath, "m1-compact"))
    assert(histRowSet(histPath) == before)
    assert(probeRows(histPath, idxPath) == probeBefore)
    assert(Dedup.historyPartitionStats(spark, histPath).forall(_._2 == 1))
    // same id, same thresholds: below threshold now, nothing to do
    assert(Dedup.dedupMaintain(spark, histPath, idxPath, "m1",
      Dedup.BucketMaintainPolicy(maxFilesPerPartition = 1,
        ledgerTailMax = 100)).actions.isEmpty)
    // ledger tail (e1, e2, m1-compact) past threshold: rolls up
    val m2 = Dedup.dedupMaintain(spark, histPath, idxPath, "m2",
      Dedup.BucketMaintainPolicy(maxFilesPerPartition = 100, ledgerTailMax = 2))
    assert(m2.actions.size == 1 &&
      m2.actions.head.startsWith("compact-ledger("), m2.actions)
    Seq("e1", "e2", "m1-compact").foreach(id =>
      assert(Dedup.epochApplied(spark, histPath, id), id))
    // the purge arm mirrors the IVF policy: explicit window only,
    // aged retired dirs purged and reported
    assert(Dedup.listRetired(spark, histPath, idxPath).nonEmpty)
    val f = Dedup.fsFor(spark, histPath)
    Dedup.listRetired(spark, histPath, idxPath).foreach { case (nm, _, _) =>
      val p = new org.apache.hadoop.fs.Path(s"$histPath/_retired/$nm")
      if (f.exists(p))
        f.setTimes(p, System.currentTimeMillis - 2 * 3600 * 1000L, -1)
    }
    val m3 = Dedup.dedupMaintain(spark, histPath, idxPath, "m3",
      Dedup.BucketMaintainPolicy(maxFilesPerPartition = 100,
        ledgerTailMax = 100, purgeRetiredOlderThanMs = Some(3600L * 1000)))
    assert(m3.actions.size == 1 &&
      m3.actions.head.startsWith("purge-retired("), m3.actions)
    assert(Dedup.listRetired(spark, histPath, idxPath).isEmpty)
  }

  test("dedupMaintain heals a torn compaction at entry even when every " +
    "threshold then reads healthy") {
    val root = java.nio.file.Files.createTempDirectory("graft-dmheal").toString
    val (histPath, idxPath) = rotatedPair(root)
    val before = histRowSet(histPath)
    intercept[RuntimeException] {
      Dedup.compactHistoryPartitionsStaged(spark, histPath, idxPath,
        "hc1", 1, 0L,
        p => if (p == "swap-in") throw new RuntimeException("injected"))
    }
    assert(histRowSet(histPath) != before) // mid-swap bucket missing
    val m = Dedup.dedupMaintain(spark, histPath, idxPath, "mh",
      Dedup.BucketMaintainPolicy(maxFilesPerPartition = 1000,
        ledgerTailMax = 1000))
    assert(m.actions.isEmpty)
    assert(histRowSet(histPath) == before)
    assert(Dedup.epochApplied(spark, histPath, "hc1"))
  }

  test("rebuildMinhashIndex: re-derives the flat index from the at-rest " +
    "history — same rows, identical probe, epoch footprints cleared — " +
    "and the explicit-geometry override covers a lost _meta") {
    val root = java.nio.file.Files.createTempDirectory("graft-ridx").toString
    val (histPath, idxPath) = rotatedPair(root)
    val probeBefore = probeRows(histPath, idxPath)
    val rowsBefore = spark.read.parquet(idxPath).count()
    val f = Dedup.fsFor(spark, histPath)
    def idxFiles: Seq[String] =
      f.listStatus(new org.apache.hadoop.fs.Path(idxPath))
        .filter(_.isFile).map(_.getPath.getName)
        .filter(_.endsWith(".parquet")).toIndexedSeq
    assert(idxFiles.exists(_.contains('='))) // epochs left footprints

    val n = Dedup.rebuildMinhashIndex(spark, histPath, idxPath)
    assert(n == 40 + 16) // base + two 8-doc epochs
    assert(spark.read.parquet(idxPath).count() == rowsBefore)
    assert(probeRows(histPath, idxPath) == probeBefore)
    assert(!idxFiles.exists(_.contains('='))) // fresh derivation
    val (_, k, bands) = Dedup.openMinhashIndex(spark, idxPath)
    assert(k == 8 && bands == 4) // _meta survives the rebuild

    // lost-_meta disaster path: explicit geometry, probe still equal
    assert(f.delete(new org.apache.hadoop.fs.Path(s"$idxPath/_meta"), true))
    assert(Dedup.rebuildMinhashIndex(spark, histPath, idxPath,
      geometry = Some((8, 4))) == 56)
    assert(probeRows(histPath, idxPath) == probeBefore)
  }

  test("compactHistoryPartitions crash injection at every swap point: " +
    "the reader never sees doubled rows, a same-id retry converges, " +
    "and recovery afterward is a no-op") {
    for (fp <- Seq("staged", "committed", "swap-retire", "swap-in",
      "swapped")) {
      val root = java.nio.file.Files.createTempDirectory("graft-hcmpcr")
        .toString
      val (histPath, idxPath) = rotatedPair(root)
      val before = histRowSet(histPath)
      val probeBefore = probeRows(histPath, idxPath)
      val ex = intercept[RuntimeException] {
        Dedup.compactHistoryPartitionsStaged(spark, histPath, idxPath,
          "hc1", 1, 0L,
          p => if (p == fp) throw new RuntimeException(s"injected at $p"))
      }
      assert(ex.getMessage.contains("injected"), fp)
      // never doubled, never mixed: the view is the full set or the
      // full set minus exactly the mid-swap bucket
      assert(histRowSet(histPath).subsetOf(before), fp)

      val appliedNow = Dedup.compactHistoryPartitions(spark, histPath,
        idxPath, "hc1", maxFilesPerPartition = 1)
      assert((appliedNow >= 1) == (fp == "staged"), fp)
      assert(Dedup.epochApplied(spark, histPath, "hc1"), fp)
      assert(histRowSet(histPath) == before, fp)
      assert(probeRows(histPath, idxPath) == probeBefore, fp)
      assert(Dedup.historyPartitionStats(spark, histPath)
        .forall(_._2 == 1), fp)
      // recovery is a no-op; staging reclaimed; nothing quarantined
      Dedup.recoverRotations(spark, histPath, idxPath)
      assert(histRowSet(histPath) == before, fp)
      assert(Dedup.listQuarantined(spark, histPath, idxPath).isEmpty, fp)
      val f = Dedup.fsFor(spark, histPath)
      assert(!f.exists(
        new org.apache.hadoop.fs.Path(s"$histPath/_retrain/hc1")), fp)
    }
  }

  test("bloom sidecar: rotation persists a fresh guard, ledger drift " +
    "invalidates it, a compactLedger roll-up preserves it (the token " +
    "is the applied-id SET), and the loaded guard drops rotated novels") {
    val h0 = (0L until 20L).map(i => (i, histText(i))).toDF("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("graft-bside").toString
    val histPath = s"$root/hist"
    val idxPath = s"$root/idx"
    Dedup.writeHistoryBucketed(h0, histPath, nBuckets = 4)
    Dedup.writeMinhashIndex(h0, idxPath)
    // no sidecar on a freshly seeded pair
    assert(Dedup.readBloomSidecar(spark, histPath).isEmpty)
    val b0 = Dedup.digestBloom(h0, expectedItems = 1000, fpp = 0.001)
    Dedup.writeBloomSidecar(spark, histPath, b0)
    assert(Dedup.readBloomSidecar(spark, histPath).isDefined)

    // rotation REFRESHES the sidecar: still fresh after the ledger
    // gained e1, and the loaded guard knows e1's novels
    val n1 = (100L until 104L).map(i => (i, novelText(i))).toDF("doc_id", "text")
    val bloom1 = Dedup.rotateEpochBucketed(n1, histPath, idxPath,
      spark.sparkContext.broadcast(b0),
      expectedItems = 1000, fpp = 0.001, epochId = "e1")
    val side = Dedup.readBloomSidecar(spark, histPath)
    assert(side.isDefined)
    val sideB = spark.sparkContext.broadcast(side.get)
    val probe = Seq((1L, novelText(101)), (2L, novelText(999)))
      .toDF("doc_id", "text")
    assert(Dedup.filterNovel(probe, sideB).select("doc_id")
      .collect().map(_.getLong(0)).toSeq == Seq(2L))

    // out-of-band ledger drift: the token no longer matches, the
    // sidecar reads as ABSENT (a stale guard would pass stored docs
    // as novel) — never a wrong guard
    EpochLedger.writeLedgerEntry(Dedup.fsFor(spark, histPath), histPath,
      "outofband", "epoch")
    assert(Dedup.readBloomSidecar(spark, histPath).isEmpty)

    // re-persist under the current set; a roll-up PRESERVES the set,
    // so ledger maintenance never invalidates a fresh sidecar
    Dedup.writeBloomSidecar(spark, histPath, bloom1.value)
    assert(Dedup.readBloomSidecar(spark, histPath).isDefined)
    assert(EpochLedger.compactLedger(spark, histPath) > 0)
    assert(Dedup.readBloomSidecar(spark, histPath).isDefined)
    bloom1.unpersist(blocking = false)
  }

  test("bloom sidecar: a garbage filter file under a fresh token reads " +
    "as ABSENT (rebuild), never crashes stream start") {
    val h0 = (0L until 10L).map(i => (i, histText(i))).toDF("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("graft-bgarb").toString
    val histPath = s"$root/hist"
    Dedup.writeHistoryBucketed(h0, histPath, nBuckets = 2)
    val b0 = Dedup.digestBloom(h0, expectedItems = 1000, fpp = 0.001)
    Dedup.writeBloomSidecar(spark, histPath, b0)
    assert(Dedup.readBloomSidecar(spark, histPath).isDefined)
    // corrupt ONLY the filter bytes, keeping the fresh token:
    // BloomFilter.readFrom on garbage version/size bytes throws
    // non-IO exceptions — the advisory contract still reads as absent
    val f = Dedup.fsFor(spark, histPath)
    val filtP = new org.apache.hadoop.fs.Path(s"$histPath/_bloom/filter")
    val out = f.create(filtP, true)
    try out.write(Array[Byte](1, -1, -1, -1, -1, 7, 7, 7))
    finally out.close()
    assert(Dedup.readBloomSidecar(spark, histPath).isEmpty)
  }

  test("bloom sidecar: an already-applied REPLAY never writes the " +
    "sidecar — a fresh guard survives contract misuse, and a missing " +
    "one is left for the digest-rebuild heal path") {
    val h0 = (0L until 20L).map(i => (i, histText(i))).toDF("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("graft-brepl").toString
    val histPath = s"$root/hist"
    val idxPath = s"$root/idx"
    Dedup.writeHistoryBucketed(h0, histPath, nBuckets = 4)
    Dedup.writeMinhashIndex(h0, idxPath)
    val b0 = Dedup.digestBloom(h0, expectedItems = 1000, fpp = 0.001)
    val n1 = (100L until 104L).map(i => (i, novelText(i))).toDF("doc_id", "text")
    val live = Dedup.rotateEpochBucketed(n1, histPath, idxPath,
      spark.sparkContext.broadcast(b0),
      expectedItems = 1000, fpp = 0.001, epochId = "re1")
    // fresh sidecar knows BOTH history and e1's novels
    def sidecarDrops(id: Long, text: String): Boolean = {
      val side = Dedup.readBloomSidecar(spark, histPath)
      assert(side.isDefined)
      val b = spark.sparkContext.broadcast(side.get)
      val kept = Dedup.filterNovel(Seq((id, text)).toDF("doc_id", "text"), b)
        .count()
      b.unpersist(blocking = false)
      kept == 0L
    }
    assert(sidecarDrops(1L, histText(0)))
    assert(sidecarDrops(2L, novelText(101)))
    // REPLAY re1 with a WRONG oldBloom (misuse: not the live guard) —
    // the appends are ledger-skipped, and the fresh persisted guard
    // must survive untouched
    val wrong = org.apache.spark.util.sketch.BloomFilter.create(1000, 0.001)
    Dedup.rotateEpochBucketed(n1, histPath, idxPath,
      spark.sparkContext.broadcast(wrong),
      expectedItems = 1000, fpp = 0.001, epochId = "re1")
      .unpersist(blocking = false)
    assert(sidecarDrops(3L, histText(0)), "replay replaced the guard")
    // crash between ledger and sidecar write = sidecar missing; a
    // replay NEVER fills it (the caller's bloom is unverifiable here —
    // even this correct-bloom replay), because a wrong one under a
    // fresh token would poison every future session. The heal path is
    // the next stream start's digestBloom + persist (StreamingDedup)
    // or `dedup rebuild-bloom`.
    Dedup.fsFor(spark, histPath)
      .delete(new org.apache.hadoop.fs.Path(s"$histPath/_bloom"), true)
    assert(Dedup.readBloomSidecar(spark, histPath).isEmpty)
    assert(!Dedup.bloomSidecarFresh(spark, histPath))
    Dedup.rotateEpochBucketed(n1, histPath, idxPath, live,
      expectedItems = 1000, fpp = 0.001, epochId = "re1")
      .unpersist(blocking = false)
    assert(Dedup.readBloomSidecar(spark, histPath).isEmpty)
    // the documented heal: digest-rebuild + persist, now fresh again
    val (history, _) = Dedup.openHistoryBucketed(spark, histPath)
    Dedup.writeBloomSidecar(spark, histPath,
      Dedup.digestBloom(history, expectedItems = 1000, fpp = 0.001))
    assert(Dedup.bloomSidecarFresh(spark, histPath))
    assert(sidecarDrops(4L, histText(0)))
    assert(sidecarDrops(5L, novelText(101)))
  }
}
