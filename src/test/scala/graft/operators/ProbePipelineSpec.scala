package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.operators.ProbePipelineSpec.RouteCase

/** The one probe pipeline behind the IVF / SQ8 / PQ serving probes
  * ([[Similarity.layoutProbe]]): its two query sources agree, its
  * driver and distributed routes agree, the distributed route's
  * prune-skip stand-in agrees with the pruned probe, and its layout
  * checks fail closed on every route.
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

  // ---- the driver route ≡ the distributed route

  /** `n` vectors in 8 dims with 0/1 components: exact integer dots, so
    * route and neighbor similarities tie (tie-breaks decide). */
  private lazy val grid: DataFrame = {
    val rnd = new scala.util.Random(11)
    (0 until n).map { i =>
      val v = Seq.fill(8)(rnd.nextInt(2).toFloat)
      (i.toLong, if (v.forall(_ == 0f)) v.updated(i % 8, 1f) else v)
    }.toDF("vec_id", "embedding")
  }
  private lazy val gridIvf = {
    val p = tmp("givf")
    Similarity.writeIvfPartitioned(grid, p, centroidK = 4)
    p
  }
  private lazy val gridPq = {
    val p = tmp("gpq")
    Pq.writePqIndex(grid, p, m = 4, k = 8, centroidK = 4)
    p
  }
  private lazy val gridPqResidual = {
    val p = tmp("gpqr")
    Pq.writePqIndex(grid, p, m = 4, k = 8, centroidK = 4, residual = true)
    p
  }

  private val routeCaseGen = {
    import org.scalacheck.Gen
    for {
      distinct <- Gen.frequency((1, 0), (6, Gen.choose(1, 6)))
      // ids up to n + 3: some are absent from the corpus
      picked <- Gen.listOfN(distinct, Gen.choose(0L, n + 3L))
      repeats <- Gen.someOf(picked)
      external <- Gen.oneOf(true, false)
      nprobe <- Gen.choose(1, 6) // the layouts hold 4 centroids
      k <- Gen.choose(1, 5)
      rerank <- Gen.oneOf(0, k, k + 3)
      residual <- Gen.oneOf(true, false)
      overBudget <- Gen.frequency((4, false), (1, true))
    } yield RouteCase(picked ++ repeats, external, nprobe, k, rerank,
      residual, overBudget)
  }

  private def routeCases(seeds: Range) = {
    import org.scalacheck.rng.Seed
    seeds.map(seed => seed -> routeCaseGen(
      org.scalacheck.Gen.Parameters.default, Seed(seed.toLong)).get)
  }

  /** One scorer's probe of `c` over the grid layouts: `collect` picks
    * the collected stage 1 (the exact scorer has no other), `budget`
    * the driver budget (negative: never the driver route). */
  private def gridProbe(scorer: String, c: RouteCase, collect: Boolean,
      budget: Long = SmallSide.MaxDriverBytes): DataFrame = {
    val source =
      if (!c.external) Similarity.StoredIds(c.ids)
      else Similarity.ExternalQueries(
        // the picked rows, repeats included, as external vectors
        c.ids.flatMap(id => grid.filter(col("vec_id") === id)
          .select(col("vec_id").as("query_id"), col("embedding"))
          .collect().toSeq) match {
          case Seq() => grid.limit(0)
              .select(col("vec_id").as("query_id"), col("embedding"))
          case rows => spark.createDataFrame(
            java.util.Arrays.asList(rows: _*), rows.head.schema)
        }, "query_id")
    val (path, stage1) = scorer match {
      case "exact" => (gridIvf, Similarity.ExactStage1)
      case "sq8" => (gridIvf, Similarity.Sq8Stage1(c.rerank, collect, 0.0))
      case "pq" => (if (c.residual) gridPqResidual else gridPq,
        Similarity.PqStage1(grid, c.rerank, collect, 0.0))
    }
    Similarity.layoutProbe(spark, path, source, stage1, c.k, c.nprobe,
      "vec_id", budget)
  }

  private def fullRows(df: DataFrame): Seq[(Long, Long, Int, Double)] =
    rows(df).sorted

  /** Does `df` meet its probe rows inlined (the driver route)? */
  private def viaDriver(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.contains("probes[")

  /** The distributed route of `scorer` for `c`: over-budget for the
    * exact scorer (it has no other), the distributed shortlist for SQ8
    * and PQ; `pruned` forces the routed set over the sidecar stand-in. */
  private def distributedProbe(scorer: String, c: RouteCase,
      pruned: Boolean): DataFrame = {
    def probe() =
      if (scorer == "exact") gridProbe(scorer, c, collect = true, budget = -1)
      else gridProbe(scorer, c, collect = false)
    if (!pruned) probe()
    else {
      spark.conf.set("spark.graft.pruneSkip.maxBytes", "0")
      // planned under the conf: the routed set resolves at call time
      try probe() finally spark.conf.unset("spark.graft.pruneSkip.maxBytes")
    }
  }

  test("the driver-side probe side ≡ the distributed one, and on the " +
    "distributed route prune-skip ≡ the pruned probe, for the exact, SQ8 " +
    "and PQ scorers (property)") {
    val cases = routeCases(0 until 50)
    val seen = scala.collection.mutable.Set.empty[String]
    // tied route similarities: some probed query has two centroids at
    // the same cosine (exact integer arithmetic, both routes' order)
    val cents = Similarity.readCentroidSidecar(spark, gridIvf).collect()
      .map(r => r.getSeq[Double](1))
    val vecs = grid.collect().map(r => r.getLong(0) ->
      r.getSeq[Float](1).map(_.toDouble)).toMap
    def cos(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).map { case (x, y) => x * y }.sum /
        math.sqrt(a.map(x => x * x).sum * b.map(x => x * x).sum)
    for ((seed, c) <- cases; scorer <- Seq("exact", "sq8", "pq")) {
      val label = s"seed $seed $scorer: $c"
      val driver = gridProbe(scorer, c, collect = true)
      val distributed = distributedProbe(scorer, c, pruned = false)
      val want = fullRows(distributed)
      // (an empty batch folds both routes' probe sides to empty ones)
      assert(viaDriver(driver), label)
      if (c.ids.exists(_ < n)) assert(!viaDriver(distributed), label)
      assert(fullRows(driver) == want, label)
      assert(driver.schema.map(_.dataType) ==
        distributed.schema.map(_.dataType), label)
      assert(fullRows(distributedProbe(scorer, c, pruned = true)) == want,
        s"prune-skip, $label")
      if (c.overBudget && c.ids.exists(_ < n)) {
        // a zero budget: the bounded collect overflows on the first row
        val over = gridProbe(scorer, c, collect = true, budget = 0)
        assert(!viaDriver(over) && fullRows(over) == want, label)
        seen += "over-budget"
      }
      if (c.ids.isEmpty) seen += "empty batch"
      if (c.ids.exists(_ >= n)) seen += "absent ids"
      if (c.ids.distinct.size < c.ids.size) seen += "duplicate ids"
      if (c.nprobe > 4) seen += "nprobe above centroids"
      if (scorer == "pq" && c.residual) seen += "residual pq"
      if (c.ids.filter(_ < n).exists(id =>
          cents.map(cos(vecs(id), _)).groupBy(identity).exists(_._2.size > 1)))
        seen += "tied routes"
    }
    assert(seen == Set("over-budget", "empty batch", "absent ids",
      "duplicate ids", "nprobe above centroids", "residual pq", "tied routes"))
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

object ProbePipelineSpec {
  /** One driver ≡ distributed probe case. */
  final case class RouteCase(ids: Seq[Long], external: Boolean, nprobe: Int,
      k: Int, rerank: Int, residual: Boolean, overBudget: Boolean)
}
