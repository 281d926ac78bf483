package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.operators.Dedup
import graft.streaming.{StreamingDedup, StreamingSimilarity}

/** Measured rehearsal (NOT a spec — run by hand with
  * `sbt "Test/runMain graft.tools.DedupStreamRehearsal"`): what the
  * self-maintaining dedup stream ([[StreamingDedup.startIncrementalAuto]])
  * pays per batch shape on the sf0.1 documents corpus — the steady
  * spool+probe batch, the epoch-boundary batch (rotation + maintain
  * tick, healthy and compacting), and the SESSION START with and
  * without the `_bloom` sidecar (the O(corpus) digest rebuild the
  * sidecar exists to avoid). Numbers land in SCALING.md; the shape
  * mirrors [[StreamingMaintainRehearsal]].
  */
object DedupStreamRehearsal {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.buffer.pageSize", "4m")
      .config("spark.local.dir", "/dev/shm/spark-local")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    def t[A](what: String)(f: => A): A = {
      val t0 = System.nanoTime
      val r = f
      println(f"[rehearse] $what: ${(System.nanoTime - t0) / 1e9}%.2f s")
      r
    }

    val docs = spark.read
      .parquet("/root/testdata/sf0.1/documents.parquet")
      .select("doc_id", "text")
    println(s"[rehearse] corpus rows=${docs.count()}")
    val root = java.nio.file.Files.createTempDirectory("graft-dsr").toString
    val histPath = s"$root/hist"
    val idxPath = s"$root/idx"
    t("seed writeHistoryBucketed + writeMinhashIndex") {
      Dedup.writeHistoryBucketed(docs, histPath, nBuckets = 16)
      Dedup.writeMinhashIndex(docs, idxPath)
    }

    def freshEpoch(e: Int, n: Int): Seq[(Long, String)] =
      (1 to n).map { i =>
        (1000000L * e + i,
          (1 to 12).map(j => s"fresh-e$e-d$i-w$j").mkString(" "))
      }

    var novel = 0L
    def onBatch(b: Long, nv: org.apache.spark.sql.DataFrame,
        fl: org.apache.spark.sql.DataFrame): Unit = {
      novel += nv.count(); fl.count(); ()
    }

    // session 1: NO sidecar — the start pays the digest rebuild
    val stream = MemoryStream[(Long, String)]
    val query = t("startIncrementalAuto (NO sidecar: digest rebuild)") {
      StreamingDedup.startIncrementalAuto(
        stream.toDF().toDF("doc_id", "text"), histPath, idxPath,
        s"$root/spool", threshold = 0.8, onBatch,
        expectedItems = 100000, epochIdFor = b => f"ep${b / 2}%04d",
        intervalSeconds = 0,
        checkpointLocation = Some(s"$root/ckpt"),
        maintainAtBoundary = Some(Dedup.BucketMaintainPolicy(
          maxFilesPerPartition = 2, ledgerTailMax = 256)))
    }
    def feed(rows: Seq[(Long, String)], label: String): Unit = {
      stream.addData(rows: _*)
      t(label)(query.processAllAvailable())
    }
    // ep0000 = batches 0,1: steady spool+probe batches
    feed(freshEpoch(1, 250), "spool+probe batch (epoch open)")
    feed(freshEpoch(1, 250).map { case (i, s) => (i + 500, s + " b") },
      "spool+probe batch (epoch open)")
    // batch 2 opens ep0001: rotate ep0000 (buckets at 2 files) +
    // healthy maintain tick
    feed(freshEpoch(2, 250), "BOUNDARY batch (rotate + maintain healthy)")
    feed(freshEpoch(2, 250).map { case (i, s) => (i + 500, s + " b") },
      "spool+probe batch (epoch open)")
    // batch 4 opens ep0002: rotate ep0001 (3 files > 2) + compact tick
    feed(freshEpoch(3, 10), "BOUNDARY batch (rotate + maintain compacts)")
    query.stop()
    Thread.sleep(500)
    println(s"[rehearse] novels accepted=$novel")

    // session 2: the sidecar is fresh — the start is two file reads
    val stream2 = MemoryStream[(Long, String)]
    val q2 = t("startIncrementalAuto (WITH sidecar)") {
      StreamingDedup.startIncrementalAuto(
        stream2.toDF().toDF("doc_id", "text"), histPath, idxPath,
        s"$root/spool2", threshold = 0.8, onBatch,
        expectedItems = 100000, epochIdFor = b => f"zp${b / 2}%04d",
        intervalSeconds = 0,
        checkpointLocation = Some(s"$root/ckpt2"))
    }
    q2.stop()

    // decomposition, outside the streaming engine
    t("decomp: digestBloom over at-rest history (the avoided cost)") {
      val (h, _) = Dedup.openHistoryBucketed(spark, histPath)
      Dedup.digestBloom(h, expectedItems = 100000)
    }
    t("decomp: readBloomSidecar (the paid cost)") {
      Dedup.readBloomSidecar(spark, histPath)
    }
    t("decomp: historyPartitionStats (listing-only)") {
      Dedup.historyPartitionStats(spark, histPath)
    }
    t("decomp: rotateEpochBucketed (500 rows, direct)") {
      Dedup.rotateEpochBucketed(
        freshEpoch(9, 500).toDF("doc_id", "text"), histPath, idxPath,
        spark.sparkContext.broadcast(
          Dedup.readBloomSidecar(spark, histPath).get),
        expectedItems = 100000, epochId = "direct1")
    }
    t("decomp: dedupMaintain healthy (direct)") {
      Dedup.dedupMaintain(spark, histPath, idxPath, "directm",
        Dedup.BucketMaintainPolicy(maxFilesPerPartition = 1000))
    }
    t("decomp: compactHistoryPartitions threshold 1 (direct)") {
      Dedup.compactHistoryPartitions(spark, histPath, idxPath, "directc",
        maxFilesPerPartition = 1)
    }
    println("[rehearse] DONE")
    spark.stop()
  }
}
