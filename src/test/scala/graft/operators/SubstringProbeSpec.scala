package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** [[Dedup.substringDupProbeOn]]'s two routes — the driver route (two
  * bounded collects, the stats settled on the driver) and the
  * distributed frames, with and without prune-skip — must report the
  * same rows; each route stays at its pinned job count; and
  * [[Dedup.openSubstringIndex]], which reads with the layout's fixed
  * schema, still refuses every foreign root without a job.
  */
class SubstringProbeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val W = 3
  private val Buckets = 4

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-spr$tag").toString

  private def jobs[T](body: => T): (T, Int) =
    org.apache.spark.JobCounter(spark.sparkContext)(body)

  private def run(kind: String, i: Long): Seq[String] =
    (1 to 6).map(j => s"$kind${i}x$j")

  /** One four-token run in base doc 0 AND epoch doc 10: its windows sum
    * to a history count of 2 only across the two slices. */
  private val shared = Seq("s1", "s2", "s3", "s4")

  private def slice(kind: String, ids: Seq[Long]): DataFrame =
    ids.map { i =>
      val toks = run(kind, i) ++ (if (i % 10 == 0) shared else Nil)
      (i, toks.mkString(" "))
    }.toDF("doc_id", "text")

  /** Base ids 0..7 built, epoch ids 10..17 appended: two files per
    * touched bucket, each shared hash on two rows. */
  private lazy val fragmented = {
    val idx = s"${tmp("frag")}/idx"
    Dedup.writeSubstringIndex(slice("b", 0L until 8L), idx, window = W,
      nBuckets = Buckets)
    assert(Dedup.appendSubstringEpoch(slice("e", 10L until 18L), idx, "ep1"))
    idx
  }

  /** The same slices, then compacted: one summed row per hash. */
  private lazy val compacted = {
    val idx = s"${tmp("comp")}/idx"
    Dedup.writeSubstringIndex(slice("b", 0L until 8L), idx, window = W,
      nBuckets = Buckets)
    assert(Dedup.appendSubstringEpoch(slice("e", 10L until 18L), idx, "ep1"))
    assert(Dedup.compactSubstringPartitions(spark, idx, "c1") == Buckets)
    idx
  }

  private case class ProbeCase(
      rows: Seq[(Option[Long], Option[Seq[String]])],
      minDocs: Int,
      afterCompaction: Boolean,
      overBudget: Boolean)

  private val schema = org.apache.spark.sql.types.StructType.fromDDL(
    "doc_id BIGINT, text STRING")

  private def batch(c: ProbeCase): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(c.rows.map { case (i, t) =>
      Row(i.map(Long.box).orNull, t.map(_.mkString(" ")).orNull) }: _*),
      schema)

  /** A batch row's text: null, shorter than the window, or up to three
    * segments — a slice of a base or epoch doc's run, the shared run, or
    * fresh tokens from a small pool (so batch rows share them too). */
  private val caseGen = {
    import org.scalacheck.Gen
    val segment = Gen.oneOf(
      for (i <- Gen.choose(0L, 7L); s <- Gen.choose(0, 3); n <- Gen.choose(1, 6))
        yield run("b", i).slice(s, s + n),
      for (i <- Gen.choose(10L, 17L); s <- Gen.choose(0, 3); n <- Gen.choose(1, 6))
        yield run("e", i).slice(s, s + n),
      Gen.const(shared),
      Gen.choose(1, 5).flatMap(Gen.listOfN(_, Gen.oneOf("f1", "f2", "f3"))))
    val short = Gen.choose(0, W - 1).flatMap(Gen.listOfN(_, Gen.oneOf("f1", "s1")))
    def text(allShort: Boolean) =
      if (allShort) short.map(Option(_))
      else Gen.frequency((1, Gen.const(Option.empty[Seq[String]])),
        (1, short.map(Option(_))),
        (6, Gen.choose(1, 3).flatMap(Gen.listOfN(_, segment))
          .map(s => Option(s.flatten))))
    for {
      allShort <- Gen.frequency((1, true), (6, false))
      n <- Gen.frequency((1, 0), (8, Gen.choose(1, 6)))
      rows <- Gen.listOfN(n, for {
        id <- Gen.frequency((1, Gen.const(Option.empty[Long])),
          (5, Gen.choose(100L, 104L).map(Some(_))))
        t <- text(allShort)
      } yield (id, t))
      minDocs <- Gen.oneOf(2, 3)
      afterCompaction <- Gen.oneOf(true, false)
      overBudget <- Gen.frequency((1, true), (4, false))
    } yield ProbeCase(rows, minDocs, afterCompaction, overBudget)
  }

  private def probe(c: ProbeCase, maxDriverBytes: Long,
      pruneSkipMaxBuckets: Int = Dedup.DefaultPruneSkipMaxBuckets)
      : DataFrame = {
    val (hist, window, nBuckets) = Dedup.openSubstringIndex(spark,
      if (c.afterCompaction) compacted else fragmented)
    Dedup.substringDupProbeRouted(batch(c), hist, window, nBuckets,
      c.minDocs, "text", pruneSkipMaxBuckets, maxDriverBytes)
  }

  private def sorted(df: DataFrame): Seq[(Option[Long], Long, Long, Double)] =
    df.collect().map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]),
      r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq.sortBy(t =>
      (t._1.getOrElse(Long.MinValue), t._2, t._3, t._4))

  /** Does `df` read only local relations (the driver route)? */
  private def viaDriver(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collectLeaves()
      .forall(_.isInstanceOf[LocalRelation])

  test("the driver route ≡ the distributed default ≡ the distributed " +
    "pruned route (pruneSkipMaxBuckets = 0) (property)") {
    val seen = scala.collection.mutable.Set.empty[String]
    val epochHashes = Dedup.windowPositions(slice("e", 10L until 18L), W,
      "text")._2.select("whash").as[Long].collect().toSet
    val baseHashes = Dedup.windowPositions(slice("b", 0L until 8L), W,
      "text")._2.select("whash").as[Long].collect().toSet
    for (seed <- 0L until 50L) {
      val c = caseGen(org.scalacheck.Gen.Parameters.default,
        org.scalacheck.rng.Seed(seed)).get
      val label = s"seed $seed: $c"
      val driver = probe(c, maxDriverBytes = SmallSide.MaxDriverBytes)
      val distributed = probe(c, maxDriverBytes = -1)
      val want = sorted(distributed)
      assert(viaDriver(driver) && !viaDriver(distributed), label)
      assert(driver.schema == distributed.schema, label)
      assert(sorted(driver) == want, label)
      assert(want.size == c.rows.size, label)
      assert(sorted(probe(c, -1, pruneSkipMaxBuckets = 0)) == want,
        s"pruned, $label")
      if (c.overBudget) {
        // a zero budget: the first collect overflows on any batch row
        val over = probe(c, maxDriverBytes = 0)
        assert(viaDriver(over) == c.rows.isEmpty, label)
        assert(sorted(over) == want, s"over budget, $label")
        if (c.rows.nonEmpty) seen += "over budget"
      }
      val batchHashes = Dedup.windowPositions(batch(c), W, "text")._2
        .select("whash").as[Long].collect().toSet
      val windowed = c.rows.filter(_._2.exists(_.size >= W))
      val windowless = c.rows.filterNot(_._2.exists(_.size >= W))
      if (c.rows.isEmpty) seen += "empty batch"
      if (c.rows.nonEmpty && windowed.isEmpty) seen += "every doc short"
      if (c.rows.exists(_._2.isEmpty)) seen += "null text"
      if (c.rows.exists(_._1.isEmpty)) seen += "null doc_id"
      if (c.rows.flatMap(_._1).distinct.size < c.rows.count(_._1.nonEmpty))
        seen += "repeated doc_id"
      if (windowless.exists(r => r._1.nonEmpty &&
          windowed.exists(_._1 == r._1)))
        seen += "windowless shares a windowed id"
      if (batchHashes.exists(h => !epochHashes(h) && !baseHashes(h)))
        seen += "hash absent from history"
      if (batchHashes.exists(h => epochHashes(h) && !baseHashes(h)))
        seen += "hash only in an epoch"
      if (want.exists(_._3 > 0)) seen += s"dups at minDocs ${c.minDocs}"
      if (c.afterCompaction) seen += "after compaction"
    }
    assert(seen == Set("over budget", "empty batch", "every doc short",
      "null text", "null doc_id", "repeated doc_id",
      "windowless shares a windowed id", "hash absent from history",
      "hash only in an epoch", "dups at minDocs 2", "dups at minDocs 3",
      "after compaction"))
  }

  private lazy val pinBatch =
    (0L until 6L).map(i => (100L + i, (run("b", i) ++ run("f", i))
      .mkString(" "))).toDF("doc_id", "text")

  test("jobs: the driver route collects twice, its result once; the " +
    "distributed route stays at 14") {
    val (hist, window, nBuckets) = Dedup.openSubstringIndex(spark, fragmented)
    val (driver, probeJobs) = jobs(Dedup.substringDupProbeOn(pinBatch, hist,
      window, nBuckets))
    assert(viaDriver(driver))
    assert(probeJobs == 2, s"driver probe ran $probeJobs job(s)")
    assert(jobs(driver.collect())._2 == 1)
    assert(jobs(driver.orderBy("doc_id").collect())._2 == 1)
    val (_, distributedJobs) = jobs(Dedup.substringDupProbeRouted(pinBatch,
      hist, window, nBuckets, 2, "text", Dedup.DefaultPruneSkipMaxBuckets,
      maxDriverBytes = -1).collect())
    assert(distributedJobs == 14, s"distributed probe ran $distributedJobs")
  }

  test("openSubstringIndex refuses an IVF root, a dedup-history root, a " +
    "plain parquet dataset, a v1-hash layout and a plain dataset under a " +
    "substring _meta, each with its message and no job") {
    val root = tmp("open")
    val docs = (0L until 12L).map(i => (i, run("b", i).mkString(" ")))
      .toDF("doc_id", "text")
    val ivf = s"$root/ivf"
    Similarity.writeIvfPartitioned((0L until 8L).map(i =>
        (i, Array.tabulate(4)(j => ((i * 4 + j) % 7 - 3).toFloat)))
      .toDF("vec_id", "embedding"), ivf, centroidK = 2)
    val history = s"$root/history"
    Dedup.writeHistoryBucketed(docs, history, nBuckets = 4)
    val plain = s"$root/plain"
    docs.write.parquet(plain)
    val v1 = s"$root/v1"
    Dedup.writeSubstringIndex(docs, v1, window = W, nBuckets = Buckets)
    Seq((W, Buckets)).toDF("window", "n_buckets")
      .write.mode("overwrite").parquet(s"$v1/_meta")
    val metaOnly = s"$root/metaonly"
    docs.write.parquet(metaOnly)
    Dedup.writeSubstringIndex(docs, s"$root/donor", window = W,
      nBuckets = Buckets)
    val f = Dedup.fsFor(spark, root)
    org.apache.hadoop.fs.FileUtil.copy(f,
      new org.apache.hadoop.fs.Path(s"$root/donor/_meta"), f,
      new org.apache.hadoop.fs.Path(s"$metaOnly/_meta"), false,
      spark.sparkContext.hadoopConfiguration)
    val cases = Seq(
      ivf -> "_meta",
      history -> "window-hash format v1",
      plain -> "_meta",
      v1 -> "window-hash format v1",
      metaOnly -> "is not a substring-index layout")
    for ((path, message) <- cases) {
      val (err, n) = jobs(scala.util.Try(Dedup.openSubstringIndex(spark, path))
        .failed.get)
      assert(err.getMessage.contains(message), s"$path: ${err.getMessage}")
      assert(n == 0, s"$path: the refusal ran $n job(s)")
    }
  }
}
