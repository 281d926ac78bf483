package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The substring index's row writer ([[Dedup.writeSubstringIndex]],
  * [[Dedup.appendSubstringEpoch]], [[Dedup.rotateSubstringIndex]]): its
  * rows hash-partition on `wh_bucket` before the distinct-doc count, so
  * each write runs one exchange. The rows must equal the two-phase
  * `countDistinct` over window hashes, each touched bucket must hold one
  * file per write, and each write must stay at its pinned job count.
  */
class SubstringIndexRowsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val W = 3

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-sir$tag").toString

  private def jobs[T](body: => T): (T, Int) =
    org.apache.spark.JobCounter(spark.sparkContext)(body)

  private val schema = org.apache.spark.sql.types.StructType.fromDDL(
    "doc_id BIGINT, text STRING")

  private def frame(rows: Seq[(Option[Long], Option[String])]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows.map { case (i, t) =>
      Row(i.map(Long.box).orNull, t.orNull) }: _*), schema)

  /** Seeded corpus slices over a four-token vocabulary, so windows repeat
    * within and across docs: null and repeated ids, null text, docs
    * shorter than the window. */
  private val sliceGen = {
    import org.scalacheck.Gen
    val text = Gen.frequency(
      (1, Gen.const(Option.empty[String])),
      (2, Gen.choose(0, W - 1).flatMap(Gen.listOfN(_, Gen.oneOf("a", "b")))
        .map(t => Some(t.mkString(" ")))),
      (6, Gen.choose(W, W + 5).flatMap(Gen.listOfN(_,
        Gen.oneOf("a", "b", "c", "d"))).map(t => Some(t.mkString(" ")))))
    val row = for {
      id <- Gen.frequency((1, Gen.const(Option.empty[Long])),
        (6, Gen.choose(0L, 8L).map(Some(_))))
      t <- text
    } yield (id, t)
    Gen.choose(0, 10).flatMap(Gen.listOfN(_, row))
  }

  private def slices(seed: Long, n: Int) = {
    import org.scalacheck.rng.Seed
    (0 until n).map(k => sliceGen(org.scalacheck.Gen.Parameters.default,
      Seed(seed * 31 + k)).get)
  }

  /** The two-phase rows: distinct-doc count per window hash, then the
    * bucket. */
  private def referenceRows(docs: DataFrame, nBuckets: Int)
      : Seq[(Long, Long, String)] =
    Dedup.windowPositions(docs, W, "text")._2
      .groupBy("whash").agg(countDistinct("doc_id").as("ddf"))
      .select(col("whash"), col("ddf"),
        concat(lit("b"), pmod(col("whash"), lit(nBuckets.toLong))))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .toSeq

  /** (an empty slice writes no file, so the read pins the schema) */
  private def layoutRows(idx: String): Seq[(Long, Long, String)] =
    Dedup.openSubstringIndex(spark, idx)._1
      .select("whash", "ddf", "wh_bucket").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq

  private def files(idx: String): Map[String, Int] =
    Dedup.substringPartitionStats(spark, idx).map(t => t._1 -> t._2).toMap

  private def buckets(rows: Seq[(Long, Long, String)]): Map[String, Int] =
    rows.map(_._3).distinct.map(_ -> 1).toMap

  test("single-exchange index rows ≡ the two-phase countDistinct rows, " +
    "one file per touched bucket, across build, append and rotation " +
    "(property)") {
    val seen = scala.collection.mutable.Set.empty[String]
    for (seed <- 0L until 25L) {
      val Seq(base, epoch) = slices(seed, 2)
      val label = s"seed $seed: base $base epoch $epoch"
      val idx = s"${tmp(s"p$seed")}/idx"
      val (b, e) = (frame(base), frame(epoch))
      Dedup.writeSubstringIndex(b, idx, window = W, nBuckets = 4)
      val baseRef = referenceRows(b, 4)
      assert(layoutRows(idx).sorted == baseRef.sorted, s"build, $label")
      assert(files(idx) == buckets(baseRef), s"build files, $label")
      assert(Dedup.appendSubstringEpoch(e, idx, "ep1"), label)
      val epochRef = referenceRows(e, 4)
      assert(layoutRows(idx).sorted == (baseRef ++ epochRef).sorted,
        s"append, $label")
      assert(files(idx) == (buckets(baseRef).toSeq ++ buckets(epochRef))
        .groupMapReduce(_._1)(_._2)(_ + _), s"append files, $label")
      val all = b.union(e)
      assert(Dedup.rotateSubstringIndex(all, idx, "r1", nBuckets = Some(3)),
        label)
      val rotatedRef = referenceRows(all, 3)
      assert(layoutRows(idx).sorted == rotatedRef.sorted, s"rotation, $label")
      assert(files(idx) == buckets(rotatedRef), s"rotation files, $label")
      val rows = base ++ epoch
      if (rows.exists(_._1.isEmpty)) seen += "null id"
      if (rows.flatMap(_._1).distinct.size < rows.count(_._1.nonEmpty))
        seen += "repeated id"
      if (rows.exists(_._2.isEmpty)) seen += "null text"
      if (rows.exists(_._2.exists(_.split(" ").count(_.nonEmpty) < W)))
        seen += "short doc"
      if (baseRef.exists(_._2 > 1)) seen += "shared window"
      if (base.isEmpty || epoch.isEmpty) seen += "empty slice"
    }
    assert(seen == Set("null id", "repeated id", "null text", "short doc",
      "shared window", "empty slice"))
  }

  test("jobs: writeSubstringIndex 2, appendSubstringEpoch 2, " +
    "rotateSubstringIndex 2") {
    val docs = (0L until 40L).map(i =>
      (i, (1 to 12).map(j => s"t${(i + j) % 17}").mkString(" ")))
      .toDF("doc_id", "text")
    val idx = s"${tmp("jobs")}/idx"
    val (_, build) = jobs(Dedup.writeSubstringIndex(
      docs.filter($"doc_id" < 20), idx, window = 4, nBuckets = 8))
    val (_, append) = jobs(Dedup.appendSubstringEpoch(
      docs.filter($"doc_id" >= 20), idx, "ep1"))
    val (_, rotate) = jobs(Dedup.rotateSubstringIndex(docs, idx, "r1",
      nBuckets = Some(4)))
    assert((build, append, rotate) == (2, 2, 2))
  }
}
