package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class StreamingDedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("streaming first-seen dedup drops repeats within the watermark window") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, String, Timestamp)]
    val docs = stream.toDF().toDF("doc_id", "text", "ts")

    val deduped = StreamingDedup.firstSeen(docs, "ts", "10 minutes")
    val query = deduped.writeStream
      .format("memory").queryName("dedup_out").outputMode("append").start()

    def t(s: Long) = new Timestamp(s * 1000)
    stream.addData((1L, "alpha", t(100)), (2L, "beta", t(101)))
    query.processAllAvailable()
    // same content, later event time -> dropped; new content -> kept
    stream.addData((3L, "alpha", t(200)), (4L, "gamma", t(201)))
    query.processAllAvailable()
    query.stop()

    val kept = spark.sql("select doc_id from dedup_out order by doc_id")
      .collect().map(_.getLong(0)).toSeq
    assert(kept == Seq(1L, 2L, 4L))
  }

  test("incremental ingest: bloom drops exact history dups, near-dup " +
    "datagrams are flagged against the index across micro-batches") {
    import graft.operators.Dedup
    implicit val sqlCtx = spark.sqlContext
    val history = (0L until 50L)
      .map(i => (i, (1 to 12).map(j => s"h${i}w$j").mkString(" ")))
      .toDF("doc_id", "text")
    val bloom = spark.sparkContext.broadcast(
      Dedup.digestBloom(history, expectedItems = 1000, fpp = 0.001))
    val index = Dedup.minhashIndex(history).localCheckpoint(eager = true)

    def histText(i: Long) = (1 to 12).map(j => s"h${i}w$j").mkString(" ")
    // near-dup = last token changed: 9 of 10 shingles shared -> 9/11
    def nearDup(i: Long) =
      (1 to 11).map(j => s"h${i}w$j").mkString(" ") + " tail"

    val stream = MemoryStream[(Long, String)]
    val docs = stream.toDF().toDF("doc_id", "text")
    val novels = scala.collection.mutable.ArrayBuffer.empty[Long]
    val flags = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val query = StreamingDedup.startIncremental(docs, bloom, index, history,
      threshold = 0.8,
      onBatch = (_, novel, flagged) => synchronized {
        novels ++= novel.select("doc_id").collect().map(_.getLong(0))
        flags ++= flagged.collect().map(r => (r.getLong(0), r.getLong(1)))
      },
      intervalSeconds = 0)
    // batch 1: an exact history dup (bloom drops it), a near-dup of hist
    // 3 (novel by digest, flagged by the index), and a fresh doc
    stream.addData((1000L, histText(7)), (1001L, nearDup(3)), (1002L, "fresh alpha"))
    query.processAllAvailable()
    // batch 2, later micro-batch: another near-dup, of hist 9
    stream.addData((1003L, nearDup(9)))
    query.processAllAvailable()
    query.stop()

    assert(novels.sorted == Seq(1001L, 1002L, 1003L)) // 1000 = exact dup, dropped
    // cross-batch flags match what the batch operator reports for the
    // same novels against the same index (deterministic hashes)
    val batchNovels = Seq((1001L, nearDup(3)), (1002L, "fresh alpha"),
      (1003L, nearDup(9))).toDF("doc_id", "text")
    val expected = Dedup.minhashProbe(batchNovels, index, history, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(flags.toSet == expected)
    assert(flags.toSet == Set((1001L, 3L), (1003L, 9L)))

    // the bucketed-at-rest form flags identically, with each batch's
    // sliver fetch pruning history partitions (layout spec: DedupSpec)
    val root = java.nio.file.Files.createTempDirectory("graft-si-hist").toString
    Dedup.writeHistoryBucketed(history, root, nBuckets = 8)
    val flags2 = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val stream2 = MemoryStream[(Long, String)]
    val query2 = StreamingDedup.startIncrementalBucketed(
      stream2.toDF().toDF("doc_id", "text"), bloom, index, root,
      threshold = 0.8,
      onBatch = (_, _, flagged) => synchronized {
        flags2 ++= flagged.collect().map(r => (r.getLong(0), r.getLong(1)))
      },
      intervalSeconds = 0)
    stream2.addData((1000L, histText(7)), (1001L, nearDup(3)), (1002L, "fresh alpha"))
    query2.processAllAvailable()
    stream2.addData((1003L, nearDup(9)))
    query2.processAllAvailable()
    query2.stop()
    assert(flags2.toSet == flags.toSet)
    bloom.unpersist(blocking = false)
  }

  test("replayed micro-batch spools idempotently: same batchId twice leaves " +
    "the accumulated row count unchanged") {
    val root = java.nio.file.Files.createTempDirectory("graft-spool").toString
    val spool = s"$root/spool"
    val b7 = Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text")

    StreamingDedup.spoolBatch(b7, spool, batchId = 7L)
    // at-least-once replay: the engine re-delivers batch 7 after a
    // failure — the spool must REPLACE, not append
    StreamingDedup.spoolBatch(b7, spool, batchId = 7L)
    val afterReplay = StreamingDedup.readSpool(spark, spool).get
    assert(afterReplay.count() == 2L)
    assert(afterReplay.select("doc_id").collect().map(_.getLong(0)).sorted
      .toSeq == Seq(1L, 2L))

    // a genuinely new batch still accumulates
    StreamingDedup.spoolBatch(
      Seq((3L, "gamma")).toDF("doc_id", "text"), spool, batchId = 8L)
    assert(StreamingDedup.readSpool(spark, spool).get.count() == 3L)

    // and a replay that arrives with REVISED content (e.g. the retry
    // saw a different bloom broadcast) replaces the stale copy
    StreamingDedup.spoolBatch(
      Seq((2L, "beta")).toDF("doc_id", "text"), spool, batchId = 7L)
    val revised = StreamingDedup.readSpool(spark, spool).get
    assert(revised.select("doc_id").collect().map(_.getLong(0)).sorted
      .toSeq == Seq(2L, 3L))
  }

  test("restart after a crash mid-rotation: recovery heals the committed " +
    "stage and the restarted stream dedups against the rotated epoch") {
    import graft.operators.Dedup
    implicit val sqlCtx = spark.sqlContext
    def text(p: String, i: Long) = (1 to 12).map(j => s"$p${i}w$j").mkString(" ")
    def nearDup(t: String) = t.split(" ").dropRight(1).mkString(" ") + " tail"

    val history = (0L until 30L).map(i => (i, text("h", i))).toDF("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("graft-restart").toString
    val histPath = s"$root/hist"
    val idxPath = s"$root/idx"
    Dedup.writeHistoryBucketed(history, histPath, nBuckets = 8)
    Dedup.writeMinhashIndex(history, idxPath)
    val bloom0 = spark.sparkContext.broadcast(
      Dedup.digestBloom(history, expectedItems = 1000, fpp = 0.001))

    // the process dies right after the rotation's commit point: both
    // layouts' live files still lack epoch 1, only the stage holds it
    val novels = Seq((1000L, text("e1", 0))).toDF("doc_id", "text")
    intercept[RuntimeException] {
      Dedup.rotateEpochStaged(novels, histPath, idxPath, bloom0,
        expectedItems = 1000, fpp = 0.001, textCol = "text",
        epochId = "e1",
        failpoint = p => if (p == "committed") throw new RuntimeException("crash"))
    }

    // the documented restart sequence: recover, rebuild the bloom from
    // the RECOVERED history, then restart the stream from the paths
    Dedup.recoverRotations(spark, histPath)
    assert(Dedup.epochApplied(spark, histPath, "e1"))
    val recoveredDocs = spark.read.parquet(histPath).select("doc_id", "text")
    val bloom1 = spark.sparkContext.broadcast(
      Dedup.digestBloom(recoveredDocs, expectedItems = 1000, fpp = 0.001))

    val flags = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val novelIds = scala.collection.mutable.ArrayBuffer.empty[Long]
    val stream = MemoryStream[(Long, String)]
    val q = StreamingDedup.startIncrementalFromPaths(
      stream.toDF().toDF("doc_id", "text"), bloom1, idxPath, histPath,
      threshold = 0.8,
      onBatch = (_, novel, flagged) => synchronized {
        novelIds ++= novel.select("doc_id").collect().map(_.getLong(0))
        flags ++= flagged.collect().map(r => (r.getLong(0), r.getLong(1)))
      },
      intervalSeconds = 0)
    stream.addData(
      (2000L, text("e1", 0)), // exact dup of the crashed epoch's novel
      (2001L, nearDup(text("e1", 0))), // near-dup of it
      (2002L, text("f", 1))) // fresh
    q.processAllAvailable()
    q.stop()

    // the rebuilt bloom knows the recovered novel; the healed index
    // flags its near-dup; the fresh doc passes
    assert(novelIds.sorted == Seq(2001L, 2002L))
    assert(flags.toSet == Set((2001L, 1000L)))
    bloom1.unpersist(blocking = false)
  }

  test("restart after a TORN rotation (stage lost mid-move): the restart " +
    "sequence rolls the partial epoch back and the stream sees a " +
    "consistent corpus — the torn doc re-ingests as novel") {
    import graft.operators.Dedup
    implicit val sqlCtx = spark.sqlContext
    def text(p: String, i: Long) = (1 to 12).map(j => s"$p${i}w$j").mkString(" ")
    def nearDup(t: String) = t.split(" ").dropRight(1).mkString(" ") + " tail"

    val history = (0L until 30L).map(i => (i, text("h", i))).toDF("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("graft-torn").toString
    val histPath = s"$root/hist"
    val idxPath = s"$root/idx"
    Dedup.writeHistoryBucketed(history, histPath, nBuckets = 8)
    Dedup.writeMinhashIndex(history, idxPath)
    val h0Rows = spark.read.parquet(histPath).count()
    val bloom0 = spark.sparkContext.broadcast(
      Dedup.digestBloom(history, expectedItems = 1000, fpp = 0.001))
    val f = new org.apache.hadoop.fs.Path(histPath).getFileSystem(
      spark.sparkContext.hadoopConfiguration)

    // the worst partial state: history moved, then the stage vanishes
    // (concurrent-recovery contract violation) — loud failure, e1's doc
    // is in history with no index entries
    val novels = Seq((1000L, text("e1", 0))).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      Dedup.rotateEpochStaged(novels, histPath, idxPath, bloom0,
        expectedItems = 1000, fpp = 0.001, textCol = "text",
        epochId = "e1",
        failpoint = p =>
          if (p == "moved-history")
            f.delete(new org.apache.hadoop.fs.Path(s"$histPath/_rotate/e1"),
              true))
    }
    assert(spark.read.parquet(histPath).count() > h0Rows)

    // documented restart sequence: recover (scrubs the torn footprint),
    // rebuild the bloom from the RECOVERED history, restart the stream
    Dedup.recoverRotations(spark, histPath, idxPath)
    assert(!Dedup.epochApplied(spark, histPath, "e1"))
    assert(spark.read.parquet(histPath).count() == h0Rows)
    val recoveredDocs = spark.read.parquet(histPath).select("doc_id", "text")
    val bloom1 = spark.sparkContext.broadcast(
      Dedup.digestBloom(recoveredDocs, expectedItems = 1000, fpp = 0.001))

    val flags = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val novelIds = scala.collection.mutable.ArrayBuffer.empty[Long]
    val stream = MemoryStream[(Long, String)]
    val q = StreamingDedup.startIncrementalFromPaths(
      stream.toDF().toDF("doc_id", "text"), bloom1, idxPath, histPath,
      threshold = 0.8,
      onBatch = (_, novel, flagged) => synchronized {
        novelIds ++= novel.select("doc_id").collect().map(_.getLong(0))
        flags ++= flagged.collect().map(r => (r.getLong(0), r.getLong(1)))
      },
      intervalSeconds = 0)
    stream.addData(
      (2000L, text("e1", 0)), // the torn epoch's doc: novel again
      (2001L, nearDup(text("h", 3)))) // near-dup of surviving epoch 0
    q.processAllAvailable()
    q.stop()

    // rollback is COMPLETE: the torn doc is novel (not a phantom dup),
    // and the surviving corpus still flags its near-dups
    assert(novelIds.sorted == Seq(2000L, 2001L))
    assert(flags.toSet == Set((2001L, 3L)))
    bloom1.unpersist(blocking = false)
  }

  test("multi-epoch ingest: rotation appends novels to the layouts and the " +
    "next epoch's stream dedups against them") {
    import graft.operators.Dedup
    implicit val sqlCtx = spark.sqlContext
    def text(p: String, i: Long) = (1 to 12).map(j => s"$p${i}w$j").mkString(" ")
    def nearDup(t: String) = t.split(" ").dropRight(1).mkString(" ") + " tail"

    val history = (0L until 30L).map(i => (i, text("h", i))).toDF("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("graft-epoch").toString
    val histPath = s"$root/hist"
    val idxPath = s"$root/idx"
    Dedup.writeHistoryBucketed(history, histPath, nBuckets = 8)
    Dedup.writeMinhashIndex(history, idxPath)
    var bloom = spark.sparkContext.broadcast(
      Dedup.digestBloom(history, expectedItems = 1000, fpp = 0.001))

    // ---- epoch 1: two fresh docs arrive and survive as novels,
    // accumulated through the batchId-keyed idempotent spool. The
    // spool path is EPOCH-SCOPED (the documented contract): a
    // half-cleared shared dir would leak last epoch's novels into the
    // next rotation under a fresh epochId
    val spoolPath = s"$root/spool/epoch-1"
    val (idx1, k1, b1) = Dedup.openMinhashIndex(spark, idxPath)
    val stream1 = MemoryStream[(Long, String)]
    val q1 = StreamingDedup.startIncrementalBucketed(
      stream1.toDF().toDF("doc_id", "text"), bloom, idx1, histPath,
      threshold = 0.8,
      onBatch = (batchId, novel, _) =>
        StreamingDedup.spoolBatch(novel.select("doc_id", "text"),
          spoolPath, batchId),
      intervalSeconds = 0, k = k1, bands = b1)
    stream1.addData((1000L, text("e1", 0)), (1001L, text("e1", 1)))
    q1.processAllAvailable()
    q1.stop()
    val epoch1Novels = StreamingDedup.readSpool(spark, spoolPath).get
    assert(epoch1Novels.select("doc_id").collect().map(_.getLong(0)).sorted
      .toSeq == Seq(1000L, 1001L))

    // ---- rotate: epoch 1's novels enter history, index, and bloom
    // (stable epochId = idempotent retry), then the spool is cleared
    bloom = Dedup.rotateEpochBucketed(
      epoch1Novels, histPath, idxPath, bloom,
      expectedItems = 1000, fpp = 0.001, epochId = "epoch-1")
    StreamingDedup.clearSpool(spark, spoolPath)
    assert(StreamingDedup.readSpool(spark, spoolPath).isEmpty)

    // ---- epoch 2: an exact dup OF AN EPOCH-1 NOVEL is bloom-dropped,
    // a near-dup of one is flagged against the rotated index, and a
    // fresh doc passes clean
    val epoch2Novels = scala.collection.mutable.ArrayBuffer.empty[Long]
    val epoch2Flags = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val stream2 = MemoryStream[(Long, String)]
    // the paths form: index frame AND its geometry resolve from _meta
    val q2 = StreamingDedup.startIncrementalFromPaths(
      stream2.toDF().toDF("doc_id", "text"), bloom, idxPath, histPath,
      threshold = 0.8,
      onBatch = (_, novel, flagged) => synchronized {
        epoch2Novels ++= novel.select("doc_id").collect().map(_.getLong(0))
        epoch2Flags ++= flagged.collect().map(r => (r.getLong(0), r.getLong(1)))
      },
      intervalSeconds = 0)
    stream2.addData(
      (2000L, text("e1", 0)), // exact dup of epoch-1 novel 1000
      (2001L, nearDup(text("e1", 1))), // near-dup of epoch-1 novel 1001
      (2002L, text("h", 5)), // exact dup of epoch-0 history
      (2003L, text("f", 9))) // fresh
    q2.processAllAvailable()
    q2.stop()

    assert(epoch2Novels.sorted == Seq(2001L, 2003L))
    assert(epoch2Flags.toSet == Set((2001L, 1001L)))
    bloom.unpersist(blocking = false)
  }

  test("self-maintaining incremental stream: the epoch boundary rotates " +
    "IN-stream (bloom + listings refresh, no restart), the boundary " +
    "maintain tick compacts and rolls, a clean stop drains the final " +
    "epoch, and the persisted sidecar makes the next session's guard " +
    "a two-file read") {
    import graft.operators.{Dedup, EpochLedger}
    implicit val sqlCtx = spark.sqlContext
    def text(p: String, i: Long) = (1 to 12).map(j => s"$p${i}w$j").mkString(" ")
    def nearDup(t: String) = t.split(" ").dropRight(1).mkString(" ") + " tail"

    val history = (0L until 30L).map(i => (i, text("h", i))).toDF("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("graft-auto").toString
    val histPath = s"$root/hist"
    val idxPath = s"$root/idx"
    Dedup.writeHistoryBucketed(history, histPath, nBuckets = 8)
    Dedup.writeMinhashIndex(history, idxPath)
    // no sidecar yet: the start pays ONE digest rebuild, then persists
    assert(Dedup.readBloomSidecar(spark, histPath).isEmpty)

    val novels = scala.collection.mutable.ArrayBuffer.empty[Long]
    val flags = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val stream = MemoryStream[(Long, String)]
    val query = StreamingDedup.startIncrementalAuto(
      stream.toDF().toDF("doc_id", "text"), histPath, idxPath,
      s"$root/spool", threshold = 0.8,
      onBatch = (_, novel, flagged) => synchronized {
        novels ++= novel.select("doc_id").collect().map(_.getLong(0))
        flags ++= flagged.collect().map(r => (r.getLong(0), r.getLong(1)))
      },
      expectedItems = 1000, epochIdFor = b => s"ep${b / 2}",
      fpp = 0.001, intervalSeconds = 0,
      checkpointLocation = Some(s"$root/ckpt"),
      drainOnStop = true,
      maintainAtBoundary = Some(Dedup.BucketMaintainPolicy(
        maxFilesPerPartition = 1, ledgerTailMax = 1)))
    // the start persisted the rebuilt guard for the next session
    assert(Dedup.readBloomSidecar(spark, histPath).isDefined)

    // ep0, batch 0: two fresh docs + one exact history dup (dropped)
    stream.addData((1000L, text("e1", 0)), (1001L, text("e1", 1)),
      (1002L, text("h", 5)))
    query.processAllAvailable()
    // ep0, batch 1: one more fresh + TWO repeats of batch 0's novel
    // 1000. The 1004 copy is collapsed IN-BATCH by filterNovel's own
    // exact dedup (min-id keeper 1000 survives); the surviving
    // (1000, same text) row is the CROSS-batch redelivery the
    // epoch-cadence bloom cannot see — reported novel again, spooled
    // again, and only the rotation's exact dedupe keeps it from
    // becoming duplicate corpus state
    stream.addData((1003L, text("e1", 2)), (1004L, text("e1", 0)),
      (1000L, text("e1", 0)))
    query.processAllAvailable()
    // layouts untouched mid-epoch
    assert(!Dedup.epochApplied(spark, histPath, "ep0"))

    // batch 2 = ep1's first batch = the BOUNDARY: ep0's spool rotates
    // in-stream, the broadcast swaps, the listings refresh — proven by
    // the batch itself: an exact dup of an ep0 NOVEL is bloom-dropped,
    // a near-dup of one is flagged against the refreshed index
    stream.addData(
      (2000L, text("e1", 0)),
      (2001L, nearDup(text("e1", 1))),
      (2002L, text("f", 9)))
    query.processAllAvailable()
    assert(Dedup.epochApplied(spark, histPath, "ep0"))
    // the maintain tick ran at the same boundary: the rotation's
    // fresh bucket files compacted (threshold 1), the ledger rolled
    assert(EpochLedger.applied(spark, histPath, "maintain-ep0-compact"))
    // ...and the OBSERVABLES the policy judges are actually bounded —
    // a long-running stream's fragmentation and ledger growth repair
    // at the cadence that creates them, no operator action: every
    // bucket is back to one file, and the visible `_epochs` tail is
    // the rolled applied-set file plus at most the entries ledgered
    // SINCE the roll (the compaction's own id lands after it)
    assert(Dedup.historyPartitionStats(spark, histPath).forall(_._2 == 1))
    val visibleTail = Dedup.fsFor(spark, histPath)
      .listStatus(new org.apache.hadoop.fs.Path(s"$histPath/_epochs"))
      .map(_.getPath.getName)
      .count(n => !n.startsWith("_") && !n.startsWith("."))
    assert(visibleTail <= 1, s"ledger tail unbounded: $visibleTail")
    // the cross-batch redelivery is REPORTED novel again (1000 twice;
    // 1004 was collapsed in-batch) — the bloom advances at rotation,
    // the documented window
    assert(synchronized(novels.sorted.toSeq) ==
      Seq(1000L, 1000L, 1001L, 1003L, 2001L, 2002L))
    assert(synchronized(flags.toSet) == Set((2001L, 1001L)))

    // clean stop: drainOnStop rotates the FINAL epoch, no manual call;
    // awaitDrain is the handshake before touching the layouts again
    query.stop()
    assert(StreamTermination.awaitDrain(query), "drain timed out")
    assert(Dedup.epochApplied(spark, histPath, "ep1"))
    assert(StreamingSimilarity.listSpooledEpochs(spark, s"$root/spool").isEmpty)
    val (atRest, _) = Dedup.openHistoryBucketed(spark, histPath)
    // ...but neither repeat became corpus state: the rotation's exact
    // dedupe kept only the min-(id, text) keeper — ONE row for 1000
    val atRestIds = atRest.select("doc_id").collect().map(_.getLong(0))
    assert(atRestIds.toSet ==
      ((0L until 30L) ++ Seq(1000L, 1001L, 1003L, 2001L, 2002L)).toSet)
    // the redelivered row collapsed to ONE copy
    assert(atRestIds.count(_ == 1000L) == 1)

    // next session: the guard loads from the sidecar (no corpus scan)
    // and already knows the DRAINED epoch's novels
    assert(Dedup.readBloomSidecar(spark, histPath).isDefined)
    val novels2 = scala.collection.mutable.ArrayBuffer.empty[Long]
    val stream2 = MemoryStream[(Long, String)]
    val q2 = StreamingDedup.startIncrementalAuto(
      stream2.toDF().toDF("doc_id", "text"), histPath, idxPath,
      s"$root/spool2", threshold = 0.8,
      onBatch = (_, novel, _) => synchronized {
        novels2 ++= novel.select("doc_id").collect().map(_.getLong(0))
      },
      expectedItems = 1000, epochIdFor = _ => "z0",
      fpp = 0.001, intervalSeconds = 0,
      checkpointLocation = Some(s"$root/ckpt2"))
    stream2.addData((3000L, text("f", 9))) // exact dup of drained 2002
    q2.processAllAvailable()
    q2.stop()
    assert(synchronized(novels2.toSeq).isEmpty)
  }

  test("auto stream crash between rotation and spool clear: the next " +
    "session's boundary re-enters the rotation as a ledger no-op, " +
    "clears the leftover spool, and appends nothing twice") {
    import graft.operators.Dedup
    implicit val sqlCtx = spark.sqlContext
    def text(p: String, i: Long) = (1 to 12).map(j => s"$p${i}w$j").mkString(" ")
    val history = (0L until 20L).map(i => (i, text("h", i))).toDF("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("graft-autocr").toString
    val histPath = s"$root/hist"
    val idxPath = s"$root/idx"
    Dedup.writeHistoryBucketed(history, histPath, nBuckets = 4)
    Dedup.writeMinhashIndex(history, idxPath)
    val bloom = spark.sparkContext.broadcast(
      Dedup.digestBloom(history, expectedItems = 1000, fpp = 0.001))

    // the crash: epoch "c0"'s spool was rotated into the layouts but
    // the process died BEFORE clearSpool — the torn state a restart
    // must resolve without double-appending
    val spoolRoot = s"$root/spool"
    val novelsC0 = Seq((500L, text("c", 0)), (501L, text("c", 1)))
      .toDF("doc_id", "text")
    StreamingDedup.spoolBatch(novelsC0, s"$spoolRoot/c0", 0L)
    Dedup.rotateEpochBucketed(novelsC0, histPath, idxPath, bloom,
      expectedItems = 1000, fpp = 0.001, epochId = "c0")
      .unpersist(blocking = false)
    assert(Dedup.epochApplied(spark, histPath, "c0"))
    assert(StreamingSimilarity.listSpooledEpochs(spark, spoolRoot) ==
      Seq("c0"))

    // next session, fresh checkpoint lineage mapping to NEW epoch ids:
    // the first batch's boundary sees c0 as finished, re-rotates it
    // (ledger no-op), clears it, and the stream continues
    val novels = scala.collection.mutable.ArrayBuffer.empty[Long]
    val stream = MemoryStream[(Long, String)]
    val q = StreamingDedup.startIncrementalAuto(
      stream.toDF().toDF("doc_id", "text"), histPath, idxPath,
      spoolRoot, threshold = 0.8,
      onBatch = (_, novel, _) => synchronized {
        novels ++= novel.select("doc_id").collect().map(_.getLong(0))
      },
      expectedItems = 1000, epochIdFor = b => s"d$b",
      fpp = 0.001, intervalSeconds = 0,
      checkpointLocation = Some(s"$root/ckpt"))
    // an exact dup of a c0 novel proves the sidecar/rebuilt guard
    // already covers the healed epoch; a fresh doc passes
    stream.addData((600L, text("c", 0)), (601L, text("g", 3)))
    q.processAllAvailable()
    q.stop()
    assert(synchronized(novels.toSeq) == Seq(601L))
    assert(!StreamingSimilarity.listSpooledEpochs(spark, spoolRoot)
      .contains("c0"))
    // exactly ONE copy of each c0 novel at rest
    val (atRest, _) = Dedup.openHistoryBucketed(spark, histPath)
    import org.apache.spark.sql.functions.col
    val counts = atRest.filter(col("doc_id") >= 500L && col("doc_id") < 502L)
      .groupBy("doc_id").count().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(counts == Map(500L -> 1L, 501L -> 1L))
  }

  test("epochIdFor output is validated at the batch: a hidden-prefix id " +
    "fails loudly instead of spooling to a dir no boundary ever lists") {
    import graft.operators.Dedup
    implicit val sqlCtx = spark.sqlContext
    def text(i: Long) = (1 to 12).map(j => s"v${i}w$j").mkString(" ")
    val history = (0L until 8L).map(i => (i, text(i))).toDF("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("graft-badid").toString
    Dedup.writeHistoryBucketed(history, s"$root/hist", nBuckets = 2)
    Dedup.writeMinhashIndex(history, s"$root/idx")
    val stream = MemoryStream[(Long, String)]
    val q = StreamingDedup.startIncrementalAuto(
      stream.toDF().toDF("doc_id", "text"), s"$root/hist", s"$root/idx",
      s"$root/spool", threshold = 0.8, onBatch = (_, _, _) => (),
      expectedItems = 100, epochIdFor = _ => "_ep0",
      intervalSeconds = 0, checkpointLocation = Some(s"$root/ckpt"))
    stream.addData((100L, text(100L)))
    intercept[Exception] { q.processAllAvailable() }
    // nothing spooled under the rejected id
    assert(StreamingSimilarity.listSpooledEpochs(spark, s"$root/spool")
      .isEmpty)
  }

  test("applyToSubstringIndex: the boundary lands the deduplicated " +
    "novel slice on the substring index under the same epoch id, the " +
    "maintain tick compacts it, and a probe equals the full recompute " +
    "over the at-rest corpus") {
    import graft.operators.{Dedup, EpochLedger}
    implicit val sqlCtx = spark.sqlContext
    def text(p: String, i: Long) =
      (1 to 12).map(j => s"$p${i}w$j").mkString(" ")
    val sharedRun = "s1 s2 s3 s4 s5"
    val w = 4
    // ONE history copy of the shared run (doc 5)
    val history = (0L until 30L).map { i =>
      val t = text("h", i)
      (i, if (i == 5) s"$sharedRun $t" else t)
    }.toDF("doc_id", "text")
    val root =
      java.nio.file.Files.createTempDirectory("graft-ssauto").toString
    val histPath = s"$root/hist"
    val idxPath = s"$root/idx"
    val ssIdx = s"$root/ssidx"
    Dedup.writeHistoryBucketed(history, histPath, nBuckets = 8)
    Dedup.writeMinhashIndex(history, idxPath)
    Dedup.writeSubstringIndex(history, ssIdx, window = w, nBuckets = 8)

    // the in-stream substring gate's flags, by (batchId, doc_id)
    val ssFlags = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val stream = MemoryStream[(Long, String)]
    val query = StreamingDedup.startIncrementalAuto(
      stream.toDF().toDF("doc_id", "text"), histPath, idxPath,
      s"$root/spool", threshold = 0.8, onBatch = (_, _, _) => (),
      expectedItems = 1000, epochIdFor = b => s"ep$b",
      fpp = 0.001, intervalSeconds = 0,
      checkpointLocation = Some(s"$root/ckpt"),
      drainOnStop = true,
      applyToSubstringIndex = Some(ssIdx),
      substringMaintainAtBoundary = Some(Dedup.BucketMaintainPolicy(
        maxFilesPerPartition = 1, ledgerTailMax = 1)),
      // minDocs = 3: flagging requires history(1) + a ROTATED epoch's
      // copy(1) + the arriving doc(1) — provably needs the boundary's
      // handle refresh, not just the prebuilt index
      onSubstringBatch = Some((b, df) => synchronized {
        ssFlags ++= df.filter($"dup_windows" > 0)
          .select("doc_id").collect().map(r => (b, r.getLong(0)))
      }),
      substringMinDocs = 3)

    // ep0: a SECOND shared-run copy + an exact history dup (bloom-
    // dropped — the ddf contract's enforcement) + an in-batch
    // redelivery pair (digest-keeper collapses it before the append)
    stream.addData(
      (1000L, s"e0a $sharedRun e0b"),
      (1001L, text("h", 7)),
      (1002L, text("e1", 0)), (1003L, text("e1", 0)))
    query.processAllAvailable()
    // mid-epoch: nothing applied yet; the in-stream gate saw only
    // 2 copies (history + the arrival) — below the 3 threshold
    assert(!EpochLedger.applied(spark, ssIdx, "ep0"))
    assert(synchronized(ssFlags.toSeq).isEmpty, ssFlags)

    // ep1's first batch is the boundary: ep0 rotates into the pair AND
    // appends to the substring index, then the maintain tick compacts.
    // Its THIRD shared-run copy is flagged IN-stream — possible only
    // against the boundary-refreshed handles (history 1 + ep0's 1 +
    // this arrival = 3)
    stream.addData((2000L, text("e2", 0)),
      (2001L, s"e1x $sharedRun e1y"))
    query.processAllAvailable()
    assert(EpochLedger.applied(spark, ssIdx, "ep0"))
    assert(EpochLedger.applied(spark, ssIdx, "maintain-ep0-compact"))
    assert(Dedup.substringPartitionStats(spark, ssIdx).forall(_._2 == 1))
    assert(synchronized(ssFlags.toSeq).map(_._2) == Seq(2001L), ssFlags)

    query.stop()
    assert(StreamTermination.awaitDrain(query), "drain timed out")
    assert(EpochLedger.applied(spark, ssIdx, "ep1"))

    // a probe batch carrying a FOURTH shared-run copy: minDocs = 4 is
    // satisfiable ONLY when BOTH streamed epochs' counts reached the
    // index (history 1 + ep0 1 + ep1 1 + batch 1); minDocs = 5 is not
    val probeB = Seq(
      (5000L, s"p0 $sharedRun p1"),
      (5001L, "q0 q1 q2 q3 q4 q5")).toDF("doc_id", "text")
    def dupAt(minDocs: Int): Boolean =
      Dedup.substringDupProbe(probeB, ssIdx, minDocs = minDocs)
        .filter($"doc_id" === 5000L).head().getLong(2) > 0
    assert(dupAt(4) && !dupAt(5))

    // full parity: the probe equals substringDupStats over the at-rest
    // corpus (the dedup pair's history — the system of record the
    // stream maintains) ∪ the probe batch, restricted to the batch
    val (atRest, _) = Dedup.openHistoryBucketed(spark, histPath)
    val got = Dedup.substringDupProbe(probeB, ssIdx).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val want = Dedup.substringDupStats(
        atRest.select("doc_id", "text").unionByName(probeB), window = w)
      .filter($"doc_id" >= 5000L).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == want)
    assert(got.map(t => (t._1, t._3 > 0)) ==
      Seq((5000L, true), (5001L, false)))
  }

  test("onSubstringCutBatch: the gate's excision form hands the novel " +
    "slice with history-duplicated substrings already cut — the " +
    "diverted doc arrives CLEANED, clean docs arrive as the " +
    "normalized identity") {
    import graft.operators.Dedup
    implicit val sqlCtx = spark.sqlContext
    def text(p: String, i: Long) =
      (1 to 12).map(j => s"$p${i}w$j").mkString(" ")
    val sharedRun = "s1 s2 s3 s4 s5"
    val w = 4
    val history = (0L until 30L).map { i =>
      val t = text("h", i)
      (i, if (i == 5) s"$sharedRun $t" else t)
    }.toDF("doc_id", "text")
    val root =
      java.nio.file.Files.createTempDirectory("graft-sscut").toString
    val histPath = s"$root/hist"
    val idxPath = s"$root/idx"
    val ssIdx = s"$root/ssidx"
    Dedup.writeHistoryBucketed(history, histPath, nBuckets = 8)
    Dedup.writeMinhashIndex(history, idxPath)
    Dedup.writeSubstringIndex(history, ssIdx, window = w, nBuckets = 8)

    // the batch-mode truth over the index state the gate will probe
    // (the prebuilt history — collected EAGERLY now, before the
    // boundary appends the epoch's own docs and a re-probe would
    // self-match): the q84 identity, stream-shaped
    val want = Dedup.substringCutProbe(
        Seq((1000L, s"e0a  $sharedRun  e0b"),
          (1001L, "clean c1  c2 c3")).toDF("doc_id", "text"),
        ssIdx)
      .orderBy("doc_id").collect().map(r =>
        (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq

    val cutRows =
      scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long, Long)]
    val stream = MemoryStream[(Long, String)]
    val query = StreamingDedup.startIncrementalAuto(
      stream.toDF().toDF("doc_id", "text"), histPath, idxPath,
      s"$root/spool", threshold = 0.8, onBatch = (_, _, _) => (),
      expectedItems = 1000, epochIdFor = b => s"ep$b",
      fpp = 0.001, intervalSeconds = 0,
      checkpointLocation = Some(s"$root/ckpt"),
      drainOnStop = true,
      applyToSubstringIndex = Some(ssIdx),
      onSubstringCutBatch = Some((_, df) => synchronized {
        cutRows ++= df.orderBy("doc_id").collect().map(r =>
          (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      }))

    // one arrival repeats history doc 5's run (history ddf 1 + this
    // doc = minDocs 2 -> cut against the PREBUILT index, no boundary
    // needed); one is clean (normalized identity); one is an exact
    // history dup the Bloom diverts before the gate ever sees it
    stream.addData(
      (1000L, s"e0a  $sharedRun  e0b"),
      (1001L, "clean c1  c2 c3"),
      (1002L, text("h", 7)))
    query.processAllAvailable()
    query.stop()
    assert(StreamTermination.awaitDrain(query), "drain timed out")

    val got = synchronized(cutRows.toSeq)
    // dup windows fully inside the run are starts 1,2 -> span [1, 6)
    // covers s1..s5; the kept neighbors rejoin normalized
    assert(got == Seq(
      (1000L, "e0a e0b", 2L, 5L),
      (1001L, "clean c1 c2 c3", 4L, 0L)), got)
    assert(got == want, s"stream cut != batch cut: $got vs $want")
    // the boundary still landed the epoch on the index (the cut gate
    // rides the same loop as the flag gate)
    assert(graft.operators.EpochLedger.applied(spark, ssIdx, "ep0"))
  }
}
