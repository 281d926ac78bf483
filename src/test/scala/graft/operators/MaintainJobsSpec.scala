package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Spark-job pins on the two bucket-layout maintain ticks
  * ([[Dedup.dedupMaintain]], [[Dedup.substringMaintain]]): every step
  * of a healthy tick is listing-only, so it submits NO job, and a
  * fragmented tick submits exactly the jobs of its one compaction
  * rewrite. A lifecycle refactor that adds a data read or a second
  * pass to either tick breaks these counts.
  */
class MaintainJobsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def jobs[T](body: => T): (T, Int) =
    org.apache.spark.JobCounter(spark.sparkContext)(body)

  private def text(tag: String, i: Long): String =
    (1 to 12).map(j => s"$tag${i}w$j").mkString(" ")

  test("dedupMaintain: a healthy tick submits no Spark job; a fragmented " +
    "tick submits 3 (its one history compaction)") {
    val root = java.nio.file.Files.createTempDirectory("graft-mjd").toString
    val hist = s"$root/hist"
    val idx = s"$root/idx"
    val h0 = (0L until 40L).map(i => (i, text("h", i))).toDF("doc_id", "text")
    Dedup.writeHistoryBucketed(h0, hist, nBuckets = 4)
    Dedup.writeMinhashIndex(h0, idx)
    var bloom = spark.sparkContext.broadcast(
      Dedup.digestBloom(h0, expectedItems = 1000, fpp = 0.001))
    for (e <- 1 to 2) {
      val n = (100L * e until 100L * e + 8L).map(i => (i, text("n", i)))
        .toDF("doc_id", "text")
      bloom = Dedup.rotateEpochBucketed(n, hist, idx, bloom,
        expectedItems = 1000, fpp = 0.001, epochId = s"e$e")
    }
    bloom.unpersist(blocking = false)
    val (healthy, healthyJobs) = jobs(Dedup.dedupMaintain(spark, hist, idx,
      "m0", Dedup.BucketMaintainPolicy(maxFilesPerPartition = 100,
        ledgerTailMax = 100)))
    assert(healthy.actions.isEmpty, healthy.actions)
    assert(healthyJobs == 0, s"healthy tick ran $healthyJobs job(s)")
    val (fragmented, fragmentedJobs) = jobs(Dedup.dedupMaintain(spark, hist,
      idx, "m1", Dedup.BucketMaintainPolicy(maxFilesPerPartition = 1,
        ledgerTailMax = 100)))
    assert(fragmented.actions == Seq("compact-history(maxFiles=6>1, " +
      "buckets=4)"), fragmented.actions)
    assert(fragmentedJobs == 3, s"fragmented tick ran $fragmentedJobs job(s)")
  }

  test("substringMaintain: a healthy tick submits no Spark job; a " +
    "fragmented tick submits 2 (its one sum-merging index compaction)") {
    val root = java.nio.file.Files.createTempDirectory("graft-mjs").toString
    val idx = s"$root/idx"
    val docs = (0L until 40L).map(i => (i, text("h", i)))
      .toDF("doc_id", "text")
    Dedup.writeSubstringIndex(docs.filter($"doc_id" < 15), idx,
      window = 4, nBuckets = 8)
    assert(Dedup.appendSubstringEpoch(
      docs.filter($"doc_id" >= 15 && $"doc_id" < 30), idx, "ep1"))
    assert(Dedup.appendSubstringEpoch(
      docs.filter($"doc_id" >= 30), idx, "ep2"))
    val (healthy, healthyJobs) = jobs(Dedup.substringMaintain(spark, idx,
      "m0", Dedup.BucketMaintainPolicy(maxFilesPerPartition = 100,
        ledgerTailMax = 100)))
    assert(healthy.actions.isEmpty, healthy.actions)
    assert(healthyJobs == 0, s"healthy tick ran $healthyJobs job(s)")
    val (fragmented, fragmentedJobs) = jobs(Dedup.substringMaintain(spark,
      idx, "m1", Dedup.BucketMaintainPolicy(maxFilesPerPartition = 1,
        ledgerTailMax = 100)))
    assert(fragmented.actions == Seq("compact-index(maxFiles=3>1, " +
      "buckets=8)"), fragmented.actions)
    assert(fragmentedJobs == 2, s"fragmented tick ran $fragmentedJobs job(s)")
  }
}
