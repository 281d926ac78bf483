package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Pins of the driver-side small-side module ([[SmallSide]]): the
  * bounded collect's overflow edge, its job count on a driver-local
  * frame and on a parquet scan, and the per-row byte estimate the one
  * budget is spent in.
  */
class SmallSideSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def jobs[T](body: => T): (T, Int) =
    org.apache.spark.JobCounter(spark.sparkContext)(body)

  /** `n` rows written as parquet over two files: a distributed scan. */
  private def scan(n: Int): DataFrame = {
    val p = java.nio.file.Files.createTempDirectory("graft-ss").toString
    (0L until n).toDF("id").repartition(2).write.mode("overwrite").parquet(p)
    spark.read.parquet(p)
  }

  test("the bounded collect returns exactly n rows and overflows at n + 1") {
    val df = scan(10)
    val (at, atJobs) = jobs(SmallSide.collectWithin(df, 10))
    assert(at.map(_.map(_.getLong(0)).sorted.toSeq) == Some(0L until 10L))
    val (over, overJobs) = jobs(SmallSide.collectWithin(df, 9))
    assert(over.isEmpty)
    assert(atJobs == 1 && overJobs == 1, s"jobs: $atJobs, $overJobs")
    // a driver-local frame: the same edge, no job
    val local = (0L until 10L).toDF("id")
    assert(SmallSide.collectWithin(local, 10).map(_.length) == Some(10))
    assert(SmallSide.collectWithin(local, 9).isEmpty)
    // a negative bound: no driver step and no job
    assert(jobs(SmallSide.collectWithin(df, -1)) == (None, 0))
  }

  test("a Project over a LocalRelation collects with 0 jobs, a parquet " +
    "scan with 1") {
    val rows = (0L until 5L).map(i => org.apache.spark.sql.Row(i, i * 2))
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "a BIGINT, b BIGINT")
    val projected = SmallSide.frame(spark, rows, schema)
      .select((col("a") + col("b")).as("s"))
    assert(SmallSide.onDriver(projected))
    val (local, localJobs) = jobs(SmallSide.collectWithin(projected, 5))
    assert(local.map(_.map(_.getLong(0)).toSeq) ==
      Some(Seq(0L, 3L, 6L, 9L, 12L)))
    assert(localJobs == 0, s"local collect ran $localJobs job(s)")
    assert(jobs(SmallSide.collectAll(projected))._2 == 0)
    val parquet = scan(5)
    assert(!SmallSide.onDriver(parquet))
    assert(jobs(SmallSide.collectWithin(parquet, 5))._2 == 1)
    assert(jobs(SmallSide.collectAll(parquet))._2 == 1)
  }

  test("the byte estimate counts boxed-Row overhead: a two-long row and " +
    "a dim-double row") {
    assert(SmallSide.rowBytes(2) == 96L)
    for (dim <- Seq(1, 64, 384))
      assert(SmallSide.rowBytes(dim) == 48L + 24L * dim, s"dim $dim")
    assert(SmallSide.maxRows(SmallSide.rowBytes(2)) ==
      SmallSide.MaxDriverBytes / 96L)
    assert(SmallSide.maxRows(SmallSide.rowBytes(2), 0L) == 0L)
    assert(SmallSide.maxRows(SmallSide.rowBytes(2), -1L) < 0L)
  }
}
