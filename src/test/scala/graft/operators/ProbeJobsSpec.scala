package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Spark-job pins on the six serving probes ([[Similarity.ivfKnnPartitioned]],
  * [[Similarity.ivfKnnPartitionedWith]], [[Similarity.ivfKnnQuantized]],
  * [[Similarity.ivfKnnQuantizedWith]], [[Pq.pqKnn]], [[Pq.pqKnnWith]]):
  * each count covers building the probe and collecting its rows, on the
  * 500-vector sf0.001 fixture. The probes share one pipeline; a change to
  * it that adds a corpus pass, a second routing job or an extra
  * shortlist action breaks these counts.
  */
class ProbeJobsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val dir = "/root/testdata/sf0.001"
  private lazy val emb = spark.read.parquet(s"$dir/embeddings.parquet")
  private val ids = Seq(0L, 1L, 2L)
  private lazy val external = emb.filter(col("vec_id") < 3)
    .select(col("vec_id").as("query_id"), col("embedding"))

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-pj$tag").toString

  private lazy val ivf = {
    val p = tmp("ivf")
    Similarity.writeIvfPartitioned(emb, p, centroidK = 4)
    p
  }

  private lazy val pq = {
    val p = tmp("pq")
    Pq.writePqIndex(emb, p, centroidK = 4)
    p
  }

  /** q72's index: the default geometry, 16 centroids. */
  private lazy val pq16 = {
    val p = tmp("pq16")
    Pq.writePqIndex(emb, p)
    p
  }

  /** Jobs of one probe call plus the collect of its rows; the layouts
    * are built before the count starts. */
  private def jobs(probe: => DataFrame): Int = {
    assert(ivf.nonEmpty && pq.nonEmpty)
    org.apache.spark.JobCounter(spark.sparkContext)(probe.collect())._2
  }

  private def pin(route: String, got: Int, want: Int): Unit =
    assert(got == want, s"$route ran $got job(s), pinned at $want")

  test("ivfKnnPartitioned: stored-assignment probe-1 and ranked nprobe=2") {
    pin("nprobe=1", jobs(Similarity.ivfKnnPartitioned(spark, ivf, ids, k = 5)),
      4)
    pin("nprobe=2", jobs(Similarity.ivfKnnPartitioned(spark, ivf, ids, k = 5,
      nprobe = 2)), 4)
  }

  test("ivfKnnPartitionedWith: external queries, nprobe=2") {
    pin("nprobe=2", jobs(Similarity.ivfKnnPartitionedWith(spark, ivf,
      external, k = 5, nprobe = 2)), 4)
  }

  test("ivfKnnQuantized: collected and distributed rerank") {
    pin("collected nprobe=1", jobs(Similarity.ivfKnnQuantized(spark, ivf, ids,
      k = 5)), 5)
    pin("collected nprobe=2", jobs(Similarity.ivfKnnQuantized(spark, ivf, ids,
      k = 5, nprobe = 2)), 5)
    pin("distributed nprobe=2", jobs(Similarity.ivfKnnQuantized(spark, ivf,
      ids, k = 5, nprobe = 2, collectShortlist = false)), 8)
  }

  test("ivfKnnQuantizedWith: collected and distributed rerank") {
    pin("collected", jobs(Similarity.ivfKnnQuantizedWith(spark, ivf, external,
      k = 5, nprobe = 2)), 5)
    pin("distributed", jobs(Similarity.ivfKnnQuantizedWith(spark, ivf,
      external, k = 5, nprobe = 2, collectShortlist = false)), 9)
  }

  test("pqKnn: collected and distributed rerank") {
    pin("collected", jobs(Pq.pqKnn(spark, pq, emb, ids, k = 5, nprobe = 2)),
      4)
    pin("distributed", jobs(Pq.pqKnn(spark, pq, emb, ids, k = 5, nprobe = 2,
      collectShortlist = false)), 11)
  }

  test("pqKnnWith: collected and distributed rerank") {
    pin("collected", jobs(Pq.pqKnnWith(spark, pq, emb, external, k = 5,
      nprobe = 2)), 4)
    pin("distributed", jobs(Pq.pqKnnWith(spark, pq, emb, external, k = 5,
      nprobe = 2, collectShortlist = false)), 11)
  }

  test("q72-shaped pqKnn: k = 5, nprobe = 2, rerank = 8 over 8 stored ids " +
    "in at most 5 jobs") {
    assert(pq16.nonEmpty)
    val got = jobs(Pq.pqKnn(spark, pq16, emb, 0L until 8L, k = 5, nprobe = 2,
      rerank = 8))
    assert(got <= 5, s"q72-shaped ran $got job(s)")
    pin("q72-shaped", got, 4)
  }
}
