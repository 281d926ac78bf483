package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The one probe pipeline behind the IVF / SQ8 / PQ serving probes
  * ([[Similarity.layoutProbe]]): its two query sources agree, and its
  * layout checks fail closed on every route.
  */
class ProbePipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val n = 48

  /** `n` seeded Gaussian vectors in 8 dims: pairwise non-parallel, so a
    * query's only neighbor at rounded sim 1.0 is its own row. */
  private lazy val emb: DataFrame = {
    val rnd = new scala.util.Random(7)
    (0 until n).map(i =>
      (i.toLong, Seq.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
  }

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-pp$tag").toString

  private lazy val ivf = {
    val p = tmp("ivf")
    Similarity.writeIvfPartitioned(emb, p, centroidK = 4)
    p
  }

  private lazy val pq = {
    val p = tmp("pq")
    Pq.writePqIndex(emb, p, m = 4, k = 8, centroidK = 4)
    p
  }

  private def rows(df: DataFrame): Seq[(Long, Long, Int, Double)] =
    df.select(col("query_id").cast("long"), col("neighbor_id").cast("long"),
        col("rank"), col("sim"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getDouble(3))).toSeq.sortBy(r => (r._1, r._3))

  test("stored ids ≡ external vectors of those ids with the self row " +
    "dropped, for the exact, SQ8 and PQ scorers (property)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // no two rows are parallel: brute force finds no other row at 1.0
    assert(!rows(Similarity.bruteForceKnn(emb, 0L until n, k = 1))
      .exists(_._4 == 1.0))
    final case class Case(ids: Seq[Long], nprobe: Int, k: Int)
    val caseGen = for {
      distinct <- Gen.choose(1, 5)
      picked <- Gen.listOfN(distinct, Gen.choose(0L, n - 1L))
      repeats <- Gen.someOf(picked)
      nprobe <- Gen.choose(1, 6) // the layouts hold 4 centroids
      k <- Gen.choose(1, 6)
    } yield Case(picked ++ repeats, nprobe, k)
    val cases = (0L until 20L).map(seed =>
      seed -> caseGen(Gen.Parameters.default, Seed(seed)).get)
    // the seeds cover repeats and an nprobe above the centroid count
    assert(cases.exists(c => c._2.ids.distinct.size < c._2.ids.size))
    assert(cases.exists(_._2.nprobe > 4))
    // a rerank covering every probed candidate: the quantized shortlist
    // then keeps the self row and every stored-side candidate alike
    val all = n + 1
    val scorers: Seq[(String, (Seq[Long], Int, Int) => DataFrame,
        (DataFrame, Int, Int) => DataFrame)] = Seq(
      ("exact",
        (ids, k, np) => Similarity.ivfKnnPartitioned(spark, ivf, ids, k, np),
        (q, k, np) => Similarity.ivfKnnPartitionedWith(spark, ivf, q, k, np)),
      ("sq8",
        (ids, k, np) => Similarity.ivfKnnQuantized(spark, ivf, ids, k, np,
          rerank = all),
        (q, k, np) => Similarity.ivfKnnQuantizedWith(spark, ivf, q, k, np,
          rerank = all)),
      ("pq",
        (ids, k, np) => Pq.pqKnn(spark, pq, emb, ids, k, np, rerank = all),
        (q, k, np) => Pq.pqKnnWith(spark, pq, emb, q, k, np, rerank = all)))
    for ((seed, c) <- cases; (name, stored, external) <- scorers) {
      val label = s"seed $seed $name: $c"
      val queries = emb.filter(col("vec_id").isInCollection(c.ids.distinct))
        .select(col("vec_id").as("query_id"), col("embedding"))
      val ext = rows(external(queries, c.k + 1, c.nprobe))
      // each query's self row ranks first at sim 1.0
      for (q <- c.ids.distinct)
        assert(ext.find(_._1 == q).map(r => (r._2, r._3, r._4)) ==
          Some((q, 1, 1.0)), label)
      val renumbered = ext.filter(r => r._1 != r._2)
        .map { case (q, nb, rank, sim) => (q, nb, rank - 1, sim) }
      assert(rows(stored(c.ids, c.k, c.nprobe)) == renumbered, label)
    }
  }

  test("every IVF / SQ8 route refuses a layout whose centroid_id is not " +
    "the prefixed-string partition column, with one message") {
    val root = tmp("num")
    // the same rows and sidecar, partitioned by a NUMERIC centroid_id
    spark.read.parquet(ivf)
      .withColumn("centroid_id", expr("CAST(substring(centroid_id, 2) AS INT)"))
      .repartition(col("centroid_id"))
      .write.partitionBy("centroid_id").parquet(s"$root/num")
    val f = Dedup.fsFor(spark, root)
    org.apache.hadoop.fs.FileUtil.copy(f,
      new org.apache.hadoop.fs.Path(s"$ivf/_centroids"), f,
      new org.apache.hadoop.fs.Path(s"$root/num/_centroids"),
      false, spark.sparkContext.hadoopConfiguration)
    val path = s"$root/num"
    assert(spark.read.parquet(path).schema("centroid_id").dataType ==
      org.apache.spark.sql.types.IntegerType)
    val queries = emb.filter(col("vec_id") < 2)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val routes: Seq[(String, () => DataFrame)] = Seq(
      "ivfKnnPartitioned" -> (() =>
        Similarity.ivfKnnPartitioned(spark, path, Seq(0L), 3)),
      "ivfKnnPartitionedWith" -> (() =>
        Similarity.ivfKnnPartitionedWith(spark, path, queries, 3)),
      "ivfKnnQuantized" -> (() =>
        Similarity.ivfKnnQuantized(spark, path, Seq(0L), 3)),
      "ivfKnnQuantizedWith" -> (() =>
        Similarity.ivfKnnQuantizedWith(spark, path, queries, 3)))
    val messages = routes.map { case (name, probe) =>
      name -> intercept[IllegalArgumentException](probe()).getMessage
    }
    val want = s"requirement failed: $path is not a current IVF layout " +
      "(centroid_id must be the prefixed-string partition column) — " +
      "rewrite it with writeIvfPartitioned"
    for ((name, msg) <- messages) assert(msg == want, s"$name: $msg")
  }
}
