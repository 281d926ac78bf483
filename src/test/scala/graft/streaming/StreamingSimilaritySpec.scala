package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.operators.{Dedup, EpochLedger, Pq, Similarity}

/** The streaming embedding ingest ([[StreamingSimilarity]]): spooled
  * micro-batches epoch-append into the IVF layout exactly once — under
  * engine replay of a batch AND under a crash between the append and
  * the spool clear — and the grown layout equals the full rebuild.
  */
class StreamingSimilaritySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def vec(id: Long): Array[Float] =
    Array.tabulate(4) { j =>
      val h = scala.util.hashing.byteswap64(id * 4 + j)
      (Math.floorMod(h, 1001L) - 500L).toFloat / 500f
    }

  private def rows(p: String): Set[(Long, String)] =
    spark.read.parquet(p).select("vec_id", "centroid_id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet

  /** Rebuild of `union` around the grown layout's own sidecar — the
    * append == rebuild target (same shape as IvfEpochSpec).
    */
  private def rebuildRows(union: org.apache.spark.sql.DataFrame,
      grownPath: String): Set[(Long, String)] = {
    val cents = spark.read.parquet(s"$grownPath/_centroids")
      .select(expr("CAST(substring(centroid_id, 2) AS BIGINT)")
          .as("centroid_id"),
        col("cvec"), col("cnrm"))
      .localCheckpoint(eager = true)
    val at = java.nio.file.Files.createTempDirectory("graft-ssim-rb").toString
    Similarity.writeIvfPartitioned(union, at, trainedCentroids = Some(cents))
    rows(at)
  }

  test("streamed batches spool per epoch and apply exactly once; the " +
    "grown layout equals the rebuild; replay after a lost clear is a " +
    "ledger-hit no-op") {
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft-ssim").toString
    val path = s"$root/ivf"
    val spoolRoot = s"$root/spool"
    val base = (0L until 6L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    Similarity.writeIvfPartitioned(base, path, centroidK = 2)

    val stream = MemoryStream[(Long, Array[Float])]
    val query = StreamingSimilarity.startSpool(
      stream.toDF().toDF("vec_id", "embedding"), spoolRoot,
      epochIdFor = _ => "e1", intervalSeconds = 0)
    stream.addData((100L, vec(100L)), (101L, vec(101L)))
    query.processAllAvailable()
    stream.addData((102L, vec(102L)))
    query.processAllAvailable()
    query.stop()

    // epoch boundary: the spool's union appends under the spool's id
    assert(StreamingSimilarity.applySpooledEpoch(spark, spoolRoot, "e1", path))
    val novel = Seq(100L, 101L, 102L).map(i => (i, vec(i)))
      .toDF("vec_id", "embedding")
    val want = rebuildRows(base.unionByName(novel), path)
    assert(rows(path) == want)
    // the spool is cleared: a second boundary call is an empty no-op
    assert(!StreamingSimilarity.applySpooledEpoch(spark, spoolRoot, "e1", path))
    assert(rows(path) == want)

    // crash between append and clear: the spool survives with the SAME
    // epoch's rows — the retry is a ledger hit that only redoes the
    // clear, never a double append
    StreamingDedup.spoolBatch(novel, s"$spoolRoot/e1", batchId = 0L)
    assert(!StreamingSimilarity.applySpooledEpoch(spark, spoolRoot, "e1", path))
    assert(rows(path) == want)
    assert(StreamingDedup.readSpool(spark, s"$spoolRoot/e1").isEmpty)

    // a NEW epoch under a fresh id still applies
    val novel2 = Seq((200L, vec(200L))).toDF("vec_id", "embedding")
    StreamingDedup.spoolBatch(novel2, s"$spoolRoot/e2", batchId = 0L)
    assert(StreamingSimilarity.applySpooledEpoch(spark, spoolRoot, "e2", path))
    assert(rows(path) ==
      rebuildRows(base.unionByName(novel).unionByName(novel2), path))
    // nothing quarantined anywhere along the way
    assert(EpochLedger.listQuarantined(spark, path).isEmpty)
    val f = Dedup.fsFor(spark, path)
    assert(!f.exists(new org.apache.hadoop.fs.Path(s"$path/_rotate/e1")))
  }

  test("within-epoch duplicate ids collapse at the boundary apply: an " +
    "at-least-once redelivery across two batchIds lands ONCE in the " +
    "corpus and the derived PQ index; the wrong-schema frame refuses " +
    "at startSpool entry") {
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft-ssdup").toString
    val path = s"$root/ivf"
    val idx = s"$root/pq"
    val spoolRoot = s"$root/spool"
    val base = (0L until 8L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    Similarity.writeIvfPartitioned(base, path, centroidK = 2)
    graft.operators.Pq.writePqIndex(base, idx, m = 2, k = 4, centroidK = 2)
    // id 101 redelivered in a LATER batch of the same epoch:
    // spoolBatch's replace-on-replay only collapses same-batchId
    // replays, so both copies reach the boundary union
    StreamingDedup.spoolBatch(
      Seq((100L, vec(100L)), (101L, vec(101L))).toDF("vec_id", "embedding"),
      s"$spoolRoot/e1", batchId = 0L)
    StreamingDedup.spoolBatch(
      Seq((101L, vec(101L)), (102L, vec(102L))).toDF("vec_id", "embedding"),
      s"$spoolRoot/e1", batchId = 1L)
    assert(StreamingSimilarity.applySpooledEpoch(spark, spoolRoot, "e1",
      path, "vec_id", Some(idx)))
    val corpusIds = spark.read.parquet(path).select("vec_id")
      .collect().map(_.getLong(0)).toSeq
    assert(corpusIds.count(_ == 101L) == 1,
      s"duplicate id appended twice: ${corpusIds.sorted}")
    assert(corpusIds.toSet == (0L until 8L).toSet ++ Set(100L, 101L, 102L))
    val idxIds = spark.read.parquet(Similarity.ivfDataRoot(spark, idx))
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(idxIds.count(_ == 101L) == 1,
      s"duplicate id encoded twice: ${idxIds.sorted}")
    // the schema guard fires at entry, before anything spools
    val stream = MemoryStream[(Long, Array[Float])]
    val ex = intercept[IllegalArgumentException] {
      StreamingSimilarity.startSpool(
        stream.toDF().toDF("vec_id", "vec"), s"$root/spool2",
        epochIdFor = _ => "e1", intervalSeconds = 0)
    }
    assert(ex.getMessage.contains("embedding"), ex.getMessage)
  }

  test("applyToLayout automates the epoch boundary: a live stream " +
    "crossing TWO epoch boundaries applies each finished epoch with no " +
    "manual call, and the layout equals the batch rebuild") {
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft-ssim4").toString
    val path = s"$root/ivf"
    val spoolRoot = s"$root/spool"
    val base = (0L until 6L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    Similarity.writeIvfPartitioned(base, path, centroidK = 2)

    val stream = MemoryStream[(Long, Array[Float])]
    val query = StreamingSimilarity.startSpool(
      stream.toDF().toDF("vec_id", "embedding"), spoolRoot,
      epochIdFor = b => s"e${b / 2}", intervalSeconds = 0,
      checkpointLocation = Some(s"$root/ckpt"),
      applyToLayout = Some(path))
    def feed(id: Long): Unit = {
      stream.addData((id, vec(id)))
      query.processAllAvailable()
    }
    // epoch e0 = batches 0, 1 — still open, so the layout is untouched
    feed(100L)
    feed(101L)
    assert(rows(path).map(_._1) == (0L until 6L).toSet)
    assert(!EpochLedger.applied(spark, path, "e0"))
    // batch 2 opens epoch e1: e0's spool applies and clears FIRST
    feed(102L)
    assert(EpochLedger.applied(spark, path, "e0"))
    assert(StreamingDedup.readSpool(spark, s"$spoolRoot/e0").isEmpty)
    val n01 = Seq(100L, 101L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    assert(rows(path) == rebuildRows(base.unionByName(n01), path))
    // batch 3 closes e1; batch 4 opens e2 and e1 auto-applies
    feed(103L)
    assert(!EpochLedger.applied(spark, path, "e1"))
    feed(104L)
    assert(EpochLedger.applied(spark, path, "e1"))
    query.stop()
    // the final, still-open epoch drains with the one-call stop-side
    // drain (idempotent: a second drain applies nothing)
    assert(StreamingSimilarity.drainSpool(spark, spoolRoot, path) == Seq("e2"))
    assert(StreamingSimilarity.drainSpool(spark, spoolRoot, path).isEmpty)
    val all = (100L to 104L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    assert(rows(path) == rebuildRows(base.unionByName(all), path))
    assert(EpochLedger.listQuarantined(spark, path).isEmpty)
  }

  test("drainOnStop: a clean stop() alone leaves no unapplied spool; " +
    "an ERROR termination leaves the spool for restart healing; the " +
    "flag requires applyToLayout") {
    implicit val sqlCtx = spark.sqlContext
    def await(what: String)(cond: => Boolean): Unit = {
      val deadline = System.currentTimeMillis + 30000
      while (!cond && System.currentTimeMillis < deadline)
        Thread.sleep(50)
      assert(cond, s"timed out waiting: $what")
    }
    val root = java.nio.file.Files.createTempDirectory("graft-ssimds").toString
    val path = s"$root/ivf"
    val base = (0L until 6L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    Similarity.writeIvfPartitioned(base, path, centroidK = 2)

    intercept[IllegalArgumentException] {
      StreamingSimilarity.startSpool(
        MemoryStream[(Long, Array[Float])].toDF()
          .toDF("vec_id", "embedding"),
        s"$root/nospool", epochIdFor = _ => "x", drainOnStop = true)
    }

    // clean stop: the listener drains the final epoch, no manual call
    val spool1 = s"$root/spool1"
    val stream = MemoryStream[(Long, Array[Float])]
    val query = StreamingSimilarity.startSpool(
      stream.toDF().toDF("vec_id", "embedding"), spool1,
      epochIdFor = _ => "e1", intervalSeconds = 0,
      checkpointLocation = Some(s"$root/ckpt1"),
      applyToLayout = Some(path), drainOnStop = true)
    stream.addData((100L, vec(100L)), (101L, vec(101L)))
    query.processAllAvailable()
    query.stop()
    await("clean-stop auto-drain") {
      EpochLedger.applied(spark, path, "e1") &&
        StreamingSimilarity.listSpooledEpochs(spark, spool1).isEmpty
    }
    val n1 = Seq(100L, 101L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    assert(rows(path) == rebuildRows(base.unionByName(n1), path))

    // error termination: NO drain — the crash contract is
    // heal-on-restart, so the spool must survive intact
    val spool2 = s"$root/spool2"
    @volatile var boom = false
    val stream2 = MemoryStream[(Long, Array[Float])]
    val query2 = StreamingSimilarity.startSpool(
      stream2.toDF().toDF("vec_id", "embedding"), spool2,
      epochIdFor = b =>
        { if (boom) throw new RuntimeException("injected-stream-crash")
          "e9" },
      intervalSeconds = 0,
      checkpointLocation = Some(s"$root/ckpt2"),
      applyToLayout = Some(path), drainOnStop = true)
    stream2.addData((200L, vec(200L)))
    query2.processAllAvailable()
    boom = true
    stream2.addData((201L, vec(201L)))
    intercept[Exception] { query2.processAllAvailable() }
    await("error termination") { !query2.isActive }
    // give the listener bus time to (wrongly) act, then check it didn't
    Thread.sleep(500)
    assert(!EpochLedger.applied(spark, path, "e9"))
    assert(StreamingSimilarity.listSpooledEpochs(spark, spool2) ==
      Seq("e9"))
    // restart-path healing applies the surviving spool exactly once
    assert(StreamingSimilarity.drainSpool(spark, spool2, path) == Seq("e9"))
    val n2 = Seq((200L, vec(200L))).toDF("vec_id", "embedding")
    assert(rows(path) ==
      rebuildRows(base.unionByName(n1).unionByName(n2), path))
    assert(EpochLedger.listQuarantined(spark, path).isEmpty)
  }

  test("a crash before the boundary apply heals on restart: leftover " +
    "spooled epochs apply on the restarted stream's first batch") {
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft-ssim5").toString
    val path = s"$root/ivf"
    val spoolRoot = s"$root/spool"
    val base = (0L until 6L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    Similarity.writeIvfPartitioned(base, path, centroidK = 2)
    // the pre-crash session spooled two whole epochs but never reached
    // their boundaries' applies
    StreamingDedup.spoolBatch(
      Seq((100L, vec(100L))).toDF("vec_id", "embedding"),
      s"$spoolRoot/e0", batchId = 0L)
    StreamingDedup.spoolBatch(
      Seq((101L, vec(101L))).toDF("vec_id", "embedding"),
      s"$spoolRoot/e1", batchId = 1L)

    val stream = MemoryStream[(Long, Array[Float])]
    val query = StreamingSimilarity.startSpool(
      stream.toDF().toDF("vec_id", "embedding"), spoolRoot,
      epochIdFor = b => s"e${b + 7}", intervalSeconds = 0,
      checkpointLocation = Some(s"$root/ckpt"),
      applyToLayout = Some(path))
    stream.addData((200L, vec(200L)))
    query.processAllAvailable()
    query.stop()
    assert(EpochLedger.applied(spark, path, "e0"))
    assert(EpochLedger.applied(spark, path, "e1"))
    assert(StreamingSimilarity.listSpooledEpochs(spark, spoolRoot)
      == Seq("e7"))
    val healed = Seq(100L, 101L).map(i => (i, vec(i)))
      .toDF("vec_id", "embedding")
    assert(rows(path) == rebuildRows(base.unionByName(healed), path))
  }

  test("a pinned checkpointLocation is honored — the restart-safety " +
    "knob the epoch mapping depends on") {
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft-ssim3").toString
    val stream = MemoryStream[(Long, Array[Float])]
    val query = StreamingSimilarity.startSpool(
      stream.toDF().toDF("vec_id", "embedding"), s"$root/spool",
      epochIdFor = _ => "e1", intervalSeconds = 0,
      checkpointLocation = Some(s"$root/ckpt"))
    stream.addData((1L, vec(1L)))
    query.processAllAvailable()
    query.stop()
    val f = Dedup.fsFor(spark, s"$root/ckpt")
    assert(f.listStatus(new org.apache.hadoop.fs.Path(s"$root/ckpt"))
      .nonEmpty)
    assert(StreamingDedup.readSpool(spark, s"$root/spool/e1").get.count() == 1)

    // the dedup stream honors the same knob (shared startWith plumbing)
    val history = Seq((1L, "alpha words here")).toDF("doc_id", "text")
    val bloom = spark.sparkContext.broadcast(
      graft.operators.Dedup.digestBloom(history, 100, 0.01))
    val s2 = MemoryStream[(Long, String)]
    val q2 = StreamingDedup.startIncremental(
      s2.toDF().toDF("doc_id", "text"), bloom,
      graft.operators.Dedup.minhashIndex(history), history,
      threshold = 0.8, onBatch = (_, _, _) => (), intervalSeconds = 0,
      checkpointLocation = Some(s"$root/ckpt2"))
    s2.addData((2L, "beta words here"))
    q2.processAllAvailable()
    q2.stop()
    assert(f.listStatus(new org.apache.hadoop.fs.Path(s"$root/ckpt2"))
      .nonEmpty)
    bloom.unpersist(blocking = false)
  }

  test("engine replay of a micro-batch replaces its spool dir: the " +
    "epoch's applied rows carry no duplicate") {
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft-ssim2").toString
    val path = s"$root/ivf"
    val spoolRoot = s"$root/spool"
    val base = (0L until 4L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    Similarity.writeIvfPartitioned(base, path, centroidK = 2)

    val b = Seq((100L, vec(100L))).toDF("vec_id", "embedding")
    // at-least-once: the same batchId delivered twice
    StreamingDedup.spoolBatch(b, s"$spoolRoot/e1", batchId = 3L)
    StreamingDedup.spoolBatch(b, s"$spoolRoot/e1", batchId = 3L)
    assert(StreamingSimilarity.applySpooledEpoch(spark, spoolRoot, "e1", path))
    val got = rows(path)
    assert(got.map(_._1).toSeq.sorted == Seq(0L, 1L, 2L, 3L, 100L))
    assert(got.size == 5) // 100 exactly once
  }

  test("maintainAtBoundary runs the ivfMaintain policy at each epoch " +
    "boundary: the fragmentation each applied epoch creates is " +
    "compacted at the same cadence, rows stay rebuild-identical, and " +
    "the flag requires applyToLayout") {
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft-ssimm").toString
    val path = s"$root/ivf"
    val spoolRoot = s"$root/spool"
    val base = (0L until 6L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    Similarity.writeIvfPartitioned(base, path, centroidK = 2)
    // skew pinned un-triggerable: this case pins the COMPACT arm (a
    // policy rotation would re-train centroids and change the rebuild
    // target rows); threshold 1 makes every applied epoch's
    // fragmentation a breach the very boundary it lands
    val policy = Similarity.IvfMaintainPolicy(
      maxFilesPerPartition = 1, skewThreshold = Double.MaxValue)

    intercept[IllegalArgumentException] {
      StreamingSimilarity.startSpool(
        MemoryStream[(Long, Array[Float])].toDF()
          .toDF("vec_id", "embedding"),
        s"$root/nospool", epochIdFor = _ => "x",
        maintainAtBoundary = Some(policy))
    }

    val stream = MemoryStream[(Long, Array[Float])]
    val query = StreamingSimilarity.startSpool(
      stream.toDF().toDF("vec_id", "embedding"), spoolRoot,
      epochIdFor = b => s"e${b / 2}", intervalSeconds = 0,
      checkpointLocation = Some(s"$root/ckpt"),
      applyToLayout = Some(path),
      maintainAtBoundary = Some(policy))
    def feed(id: Long): Unit = {
      stream.addData((id, vec(id)))
      query.processAllAvailable()
    }
    // epoch e0 = batches 0, 1 — open: no apply, no maintain tick
    feed(100L)
    feed(101L)
    assert(!graft.operators.EpochLedger.applied(spark, path,
      "maintain-e0-compact"))
    // batch 2 opens e1: e0 applies (fragmenting its partitions), then
    // the boundary's maintain tick compacts back to one file per dir
    feed(102L)
    assert(EpochLedger.applied(spark, path, "e0"))
    assert(graft.operators.EpochLedger.applied(spark, path,
      "maintain-e0-compact"))
    assert(Similarity.ivfPartitionStats(spark, path).forall(_._2 == 1))
    val n01 = Seq(100L, 101L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    assert(rows(path) == rebuildRows(base.unionByName(n01), path))
    // the next boundary ticks again under ITS epoch's id
    feed(103L)
    feed(104L)
    assert(EpochLedger.applied(spark, path, "e1"))
    assert(graft.operators.EpochLedger.applied(spark, path,
      "maintain-e1-compact"))
    assert(Similarity.ivfPartitionStats(spark, path).forall(_._2 == 1))
    // replayed boundary (a lost spool clear): e1's rows re-spool, the
    // next batch's boundary re-applies them — a ledger-hit no-op, no
    // double append — and the maintain tick re-enters under the SAME
    // maintain-e1 id, no-oping through the sub-protocols' ledgers
    val n23 = Seq(102L, 103L).map(i => (i, vec(i)))
      .toDF("vec_id", "embedding")
    StreamingDedup.spoolBatch(n23, s"$spoolRoot/e1", batchId = 2L)
    val beforeReplay = rows(path)
    feed(105L)
    assert(rows(path) == beforeReplay)
    assert(StreamingSimilarity.listSpooledEpochs(spark, spoolRoot) ==
      Seq("e2"))
    query.stop()
    val all = (100L to 103L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    assert(rows(path) == rebuildRows(base.unionByName(all), path))
    assert(EpochLedger.listQuarantined(spark, path).isEmpty)
    // staging fully reclaimed by every tick
    val f = Dedup.fsFor(spark, path)
    for (d <- Seq("_retrain/maintain-e0-compact",
        "_retrain/maintain-e1-compact"))
      assert(!f.exists(new org.apache.hadoop.fs.Path(s"$path/$d")), d)
  }

  test("a residue-only spool dir (torn tmp, no committed batch) is " +
    "CLEARED by applySpooledEpoch instead of re-entering the boundary " +
    "forever; the newest-epoch id is numeric, not lexicographic") {
    import org.apache.hadoop.fs.Path
    val root = java.nio.file.Files.createTempDirectory("graft-resid").toString
    val path = s"$root/ivf"
    val base = (0L until 8L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    Similarity.writeIvfPartitioned(base, path, centroidK = 2)
    val spoolRoot = s"$root/spool"
    val f = Dedup.fsFor(spark, spoolRoot)
    // a crashed spoolBatch: the epoch dir exists with only an
    // uncommitted hidden tmp — no `batch_id=` child ever landed
    f.mkdirs(new Path(s"$spoolRoot/9"))
    f.create(new Path(s"$spoolRoot/9/.batch_id=0.tmp"), true).close()
    assert(StreamingSimilarity.listSpooledEpochs(spark, spoolRoot) ==
      Seq("9"))
    assert(!StreamingSimilarity.applySpooledEpoch(spark, spoolRoot, "9",
      path))
    // the dir is GONE — the next boundary's `finished` list is empty,
    // so no maintain tick fires per batch and no id is pinned
    assert(StreamingSimilarity.listSpooledEpochs(spark, spoolRoot).isEmpty)
    // nothing was appended, nothing ledgered under "9"
    assert(rows(path).size == 8)
    assert(!EpochLedger.applied(spark, path, "9"))
    // unpadded decimal ids order numerically for the maintain id:
    // "100" is newer than "9" (string max would pin "9" for ~90 epochs)
    assert(StreamingSimilarity.newestEpochId(Seq("9", "10", "100")) ==
      "100")
    assert(StreamingSimilarity.newestEpochId(Seq("e007", "e010")) ==
      "e010")
  }

  test("applyToPqIndex keeps a DERIVED PQ serving index fresh across " +
    "two live epoch boundaries: the probe sees streamed rows, the " +
    "boundary pqMaintain tick compacts the append fragmentation, the " +
    "pq-aware drain covers the final epoch, and a replayed epoch is a " +
    "ledger-hit no-op on BOTH the corpus layout and the index") {
    implicit val sqlCtx = spark.sqlContext
    val root =
      java.nio.file.Files.createTempDirectory("graft-ssimpq").toString
    val path = s"$root/ivf"
    val idx = s"$root/pq"
    val spoolRoot = s"$root/spool"
    val base = (0L until 12L).map(i => (i, vec(i)))
      .toDF("vec_id", "embedding")
    Similarity.writeIvfPartitioned(base, path, centroidK = 2)
    // dim-4 fixture vectors: m=2 subspaces of 2; k=8 codewords
    Pq.writePqIndex(base, idx, m = 2, k = 8, centroidK = 2)

    def probeRows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
        .toSeq
    // exhaustive probe == brute force is the row-level proof the
    // streamed vectors are IN the index, encoded with the stored
    // codebook and routed to the right partition — a missing or
    // misrouted row can never enter the shortlist and breaks this
    def assertFresh(corpus: org.apache.spark.sql.DataFrame,
        qids: Seq[Long]): Unit = {
      val n = corpus.count().toInt
      assert(probeRows(Pq.pqKnn(spark, idx, corpus, qids, k = 3,
          nprobe = 2, rerank = n)) ==
        probeRows(Similarity.bruteForceKnn(corpus, qids, k = 3)))
    }

    val stream = MemoryStream[(Long, Array[Float])]
    val query = StreamingSimilarity.startSpool(
      stream.toDF().toDF("vec_id", "embedding"), spoolRoot,
      epochIdFor = b => s"e${b / 2}", intervalSeconds = 0,
      checkpointLocation = Some(s"$root/ckpt"),
      applyToLayout = Some(path),
      applyToPqIndex = Some(idx),
      pqMaintainAtBoundary = Some(Pq.PqMaintainPolicy(
        maxFilesPerPartition = 1, skewThreshold = Double.MaxValue,
        ledgerTailMax = 100)))
    def feed(id: Long): Unit = {
      stream.addData((id, vec(id)))
      query.processAllAvailable()
    }
    // e0 = batches 0,1 — open: neither the layout nor the index moves
    feed(100L)
    feed(101L)
    assert(!EpochLedger.applied(spark, idx, "e0"))
    // batch 2 opens e1: e0 applies to the layout AND the index, then
    // the index's own maintain tick compacts the epoch fragmentation
    feed(102L)
    assert(EpochLedger.applied(spark, path, "e0"))
    assert(EpochLedger.applied(spark, idx, "e0"))
    assert(Similarity.ivfPartitionStats(spark, idx).forall(_._2 <= 1),
      s"boundary pqMaintain must have compacted: " +
        s"${Similarity.ivfPartitionStats(spark, idx)}")
    val grown1 = base.unionByName(Seq(100L, 101L).map(i => (i, vec(i)))
      .toDF("vec_id", "embedding"))
    assertFresh(grown1, Seq(100L, 0L))
    // second boundary: e1 (batches 2,3) applies when batch 4 opens e2
    feed(103L)
    feed(104L)
    assert(EpochLedger.applied(spark, idx, "e1"))
    query.stop()
    // the final, still-open epoch drains through the pq-aware drain
    assert(StreamingSimilarity.drainSpool(spark, spoolRoot, path,
      "vec_id", Some(idx)) == Seq("e2"))
    assert(EpochLedger.applied(spark, idx, "e2"))
    val all = base.unionByName((100L to 104L).map(i => (i, vec(i)))
      .toDF("vec_id", "embedding"))
    assertFresh(all, Seq(104L, 3L))
    // replay after a crash-between-append-and-clear: the spool
    // survives with e0's rows — the retry is a ledger hit on BOTH
    // sides, never a double append into either artifact
    StreamingDedup.spoolBatch(
      Seq(100L, 101L).map(i => (i, vec(i))).toDF("vec_id", "embedding"),
      s"$spoolRoot/e0", batchId = 0L)
    val idxRows = spark.read.parquet(Similarity.ivfDataRoot(spark, idx))
      .count()
    assert(!StreamingSimilarity.applySpooledEpoch(spark, spoolRoot, "e0",
      path, "vec_id", Some(idx)))
    assert(spark.read.parquet(Similarity.ivfDataRoot(spark, idx))
      .count() == idxRows)
    assertFresh(all, Seq(104L, 3L))
    // only the info-level retired-dir residue of the compaction ticks
    // may remain (a purge-window concern, not damage)
    assert(Pq.pqFsck(spark, idx, deepCodes = true)
      .forall(f => f.severity == "info" && f.code == "retired-present"))
    assert(EpochLedger.listQuarantined(spark, path).isEmpty)
  }

  test("ADOPTION vs crash-retry on the pq-aware apply: an index built " +
    "AFTER an epoch landed in the layout is not double-appended by " +
    "that epoch's crash-replay, while a genuine crash between the two " +
    "appends still completes the index side") {
    val root =
      java.nio.file.Files.createTempDirectory("graft-ssimad").toString
    val path = s"$root/ivf"
    val idx = s"$root/pq"
    val spoolRoot = s"$root/spool"
    val base = (0L until 12L).map(i => (i, vec(i)))
      .toDF("vec_id", "embedding")
    Similarity.writeIvfPartitioned(base, path, centroidK = 2)
    // epoch e1 lands in the LAYOUT ONLY (no index exists yet), and a
    // crash before the clear leaves its spool behind
    val novel1 = Seq(100L, 101L).map(i => (i, vec(i)))
      .toDF("vec_id", "embedding")
    StreamingDedup.spoolBatch(novel1, s"$spoolRoot/e1", batchId = 0L)
    assert(StreamingSimilarity.applySpooledEpoch(spark, spoolRoot, "e1",
      path))
    StreamingDedup.spoolBatch(novel1, s"$spoolRoot/e1", batchId = 0L)
    // NOW the operator builds the derived index over the corpus so far
    // (base + e1's rows are already inside) and enables the pq target
    val corpusSoFar = base.unionByName(novel1)
    Pq.writePqIndex(corpusSoFar, idx, m = 2, k = 8, centroidK = 2)
    val before = spark.read.parquet(Similarity.ivfDataRoot(spark, idx))
      .count()
    assert(before == 14)
    // the replay is a corpus-side ledger hit; the index must RECOGNIZE
    // it already holds e1's rows and skip — not serve every row twice
    assert(!StreamingSimilarity.applySpooledEpoch(spark, spoolRoot, "e1",
      path, "vec_id", Some(idx)))
    assert(spark.read.parquet(Similarity.ivfDataRoot(spark, idx))
      .count() == before)
    // and the adoption is LEDGERED on the index — without the entry the
    // on-disk state looks exactly like a crash between the two appends,
    // so a runbook-following operator's hand-run appendPqEpoch would
    // double-serve e1's rows; with it, that replay is a no-op
    assert(EpochLedger.applied(spark, idx, "e1"))
    assert(!Pq.appendPqEpoch(novel1, idx, "e1"))
    assert(spark.read.parquet(Similarity.ivfDataRoot(spark, idx))
      .count() == before)
    val n1 = corpusSoFar.count().toInt
    assert(Pq.pqKnn(spark, idx, corpusSoFar, Seq(100L), k = 3,
        nprobe = 2, rerank = n1).count() == 3)
    // the OTHER corpus-replay shape — a crash between the corpus
    // append and the index append — must still complete the index
    // side: e2 is layout-ledgered, its spool survives, the index has
    // none of its rows
    val novel2 = Seq((200L, vec(200L))).toDF("vec_id", "embedding")
    assert(Similarity.appendIvfEpoch(novel2, path, "e2"))
    StreamingDedup.spoolBatch(novel2, s"$spoolRoot/e2", batchId = 0L)
    assert(!StreamingSimilarity.applySpooledEpoch(spark, spoolRoot, "e2",
      path, "vec_id", Some(idx)))
    assert(EpochLedger.applied(spark, idx, "e2"))
    val all = corpusSoFar.unionByName(novel2)
    val probe = Pq.pqKnn(spark, idx, all, Seq(0L), k = 3,
        nprobe = 2, rerank = all.count().toInt)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val brute = Similarity.bruteForceKnn(all, Seq(0L), k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(probe.toSeq == brute.toSeq)
    // a PARTIAL overlap — an index built from a snapshot missing part
    // of a layout-ledgered epoch — fits neither protocol state:
    // appending double-serves the held rows, skipping drops the
    // missing ones, so the apply must refuse loudly
    val novel3 = Seq(300L, 301L).map(i => (i, vec(i)))
      .toDF("vec_id", "embedding")
    assert(Similarity.appendIvfEpoch(novel3, path, "e3"))
    StreamingDedup.spoolBatch(novel3, s"$spoolRoot/e3", batchId = 0L)
    val idx2 = s"$root/pq2"
    Pq.writePqIndex(
      all.unionByName(Seq((300L, vec(300L))).toDF("vec_id", "embedding")),
      idx2, m = 2, k = 8, centroidK = 2)
    val e = intercept[IllegalArgumentException] {
      StreamingSimilarity.applySpooledEpoch(spark, spoolRoot, "e3",
        path, "vec_id", Some(idx2))
    }
    assert(e.getMessage.contains("partial overlap"), e.getMessage)
    // and the refusal left the spool in place for the retry after the
    // operator rebuilds the index
    assert(StreamingDedup.readSpool(spark, s"$spoolRoot/e3").isDefined)
  }
}
