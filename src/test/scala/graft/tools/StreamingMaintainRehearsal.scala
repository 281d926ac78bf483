package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.operators.{EpochLedger, Similarity}
import graft.streaming.StreamingSimilarity

/** Measured rehearsal (NOT a spec — run by hand with
  * `sbt "Test/runMain graft.tools.StreamingMaintainRehearsal"`): what
  * the epoch-boundary batch PAYS when `startSpool`'s
  * `maintainAtBoundary` closes the maintenance loop on the sf0.1
  * embeddings corpus — vs the ordinary spool-only batch, and vs the
  * healthy boundary whose maintain tick is a listing-only no-op.
  * Numbers land in SCALING.md. The shape mirrors
  * [[CompactionRehearsal]]: a settled layout whose ingest fragments a
  * few HOT partitions, so the boundary's policy run is the selective
  * O(fragmented) compaction, not a corpus rewrite.
  */
object StreamingMaintainRehearsal {
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

    val emb = spark.read
      .parquet("/root/testdata/sf0.1/embeddings.parquet")
    println(s"[rehearse] corpus rows=${emb.count()}")
    val root =
      java.nio.file.Files.createTempDirectory("graft-smr").toString
    val path = s"$root/ivf"
    t("initial writeIvfPartitioned (k=64)") {
      Similarity.writeIvfPartitioned(emb, path, centroidK = 64)
    }
    Similarity.compactIvf(spark, path, "base")

    // near-copies of three stored vectors: each epoch's rows land in 3
    // HOT dirs (the CompactionRehearsal shape — ingest fragments the
    // hot slice, the rest of the layout stays settled)
    val hotRows = spark.read
      .parquet(Similarity.ivfDataRoot(spark, path))
      .select("vec_id", "vec", "centroid_id")
      .dropDuplicates("centroid_id")
      .orderBy("vec_id").limit(3).collect()
    def hotEpoch(e: Int, n: Int): Seq[(Long, Array[Float])] =
      hotRows.zipWithIndex.toSeq.flatMap { case (r, j) =>
        val v = r.getSeq[Double](1).map(_.toFloat).toArray
        (1 to n).map(i => (1000000L * e + 10000L * j + i, v))
      }

    val stream = MemoryStream[(Long, Array[Float])]
    // an applied epoch adds ONE file per touched dir (the append's
    // hash-exchange), so threshold 2 alternates the two boundary
    // shapes: 1st epoch applied → 2 files (healthy tick), 2nd → 3 > 2
    // (compact tick), and the compaction resets the count
    val query = StreamingSimilarity.startSpool(
      stream.toDF().toDF("vec_id", "embedding"), s"$root/spool",
      epochIdFor = b => f"ep${b / 2}%04d", intervalSeconds = 0,
      checkpointLocation = Some(s"$root/ckpt"),
      applyToLayout = Some(path),
      maintainAtBoundary = Some(Similarity.IvfMaintainPolicy(
        maxFilesPerPartition = 2, skewThreshold = Double.MaxValue)))
    def feed(rows: Seq[(Long, Array[Float])], label: String): Unit = {
      stream.addData(rows: _*)
      t(label)(query.processAllAvailable())
    }

    // epoch ep0000 = batches 0,1: spool-only (the steady-state cost)
    feed(hotEpoch(1, 250), "spool batch (epoch open)")
    feed(hotEpoch(1, 250), "spool batch (epoch open)")
    // batch 2 opens ep0001: apply ep0000 (hot dirs now at 2 files) +
    // the maintain tick reads health and finds it under threshold
    feed(hotEpoch(2, 250), "BOUNDARY batch (apply + maintain healthy no-op)")
    feed(hotEpoch(2, 250), "spool batch (epoch open)")
    // batch 4 opens ep0002: apply ep0001 (3 files > 2) + compact tick
    feed(hotEpoch(3, 5), "BOUNDARY batch (apply + maintain compacts)")
    feed(hotEpoch(3, 5), "spool batch (epoch open)")
    // batch 6 opens ep0003: apply the tiny ep0002 (2 files) + healthy
    feed(hotEpoch(4, 5), "BOUNDARY batch (apply + maintain healthy no-op)")
    query.stop()

    val stats = Similarity.ivfPartitionStats(spark, path)
    println(s"[rehearse] final partitions=${stats.size} " +
      s"maxFiles=${stats.map(_._2).max} " +
      s"rows=${spark.read.parquet(Similarity.ivfDataRoot(spark, path)).count()}")

    // decomposition: the boundary's parts timed directly, outside the
    // streaming engine, against the same layout
    t("decomp: ivfHealth (listing-only)") {
      Similarity.ivfHealth(spark, path)
    }
    t("decomp: ivfPartitionStats alone") {
      Similarity.ivfPartitionStats(spark, path)
    }
    t("decomp: listQuarantined alone") {
      EpochLedger.listQuarantined(spark, path)
    }
    t("decomp: listRetired alone") {
      EpochLedger.listRetired(spark, path)
    }
    t("decomp: appendIvfEpoch (750 rows, direct)") {
      Similarity.appendIvfEpoch(hotEpoch(9, 250)
        .toDF("vec_id", "embedding"), path, "direct1")
    }
    t("decomp: ivfMaintain healthy (direct)") {
      Similarity.ivfMaintain(spark, path, "directm",
        Similarity.IvfMaintainPolicy(maxFilesPerPartition = 1000,
          skewThreshold = Double.MaxValue))
    }
    t("decomp: compactIvfPartitions threshold 1 (direct)") {
      Similarity.compactIvfPartitions(spark, path, "directc",
        maxFilesPerPartition = 1)
    }
    println("[rehearse] DONE")
    spark.stop()
  }
}
