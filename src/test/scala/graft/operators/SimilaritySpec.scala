package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.functions.DotProduct

class SimilaritySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("codegen DotProduct is bit-identical to the interpreted fold") {
    val emb = Similarity.asDouble(spark.read.parquet(s"$dir/embeddings.parquet"))
      .limit(100).select("vec_id", "vec")
    val pairs = emb.as("a").join(emb.as("b"), col("a.vec_id") < col("b.vec_id"))
    val mismatches = pairs.withColumn("fast", DotProduct(col("a.vec"), col("b.vec")))
      .withColumn("slow",
        expr("aggregate(zip_with(a.vec, b.vec, (x, y) -> x * y), 0D, (s, v) -> s + v)"))
      .filter(col("fast") =!= col("slow"))
      .count()
    assert(mismatches == 0)
  }

  test("cosine of a vector with itself is ~1") {
    val emb = Similarity.asDouble(spark.read.parquet(s"$dir/embeddings.parquet")).limit(10)
    val sims = emb.select(Similarity.cosine("vec", "vec").as("c"))
      .collect().map(_.getDouble(0))
    assert(sims.forall(c => math.abs(c - 1.0) < 1e-12))
  }

  test("bruteForceKnn: k rows per query, descending sim, no self-match") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val got = Similarity.bruteForceKnn(emb, Seq(0L, 1L), k = 5).collect()
    assert(got.length == 10)
    for (q <- Seq(0L, 1L)) {
      val rows = got.filter(_.getLong(0) == q).sortBy(_.getInt(2))
      assert(rows.length == 5)
      assert(rows.forall(_.getLong(1) != q))
      val sims = rows.map(_.getDouble(3))
      assert(sims.sameElements(sims.sortBy(-(_: Double))))
    }
  }

  test("ivfKnn returns k ranked neighbors from the probed bucket") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val got = Similarity.ivfKnn(emb, Seq(0L), k = 5)
    assert(got.count() == 5)
  }

  test("multi-probe IVF: recall grows with nprobe, full probe = exact search") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val queryIds = (0L until 8L).toSeq
    val k = 5
    def resultSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = resultSet(Similarity.bruteForceKnn(emb, queryIds, k))
    val p1 = resultSet(Similarity.ivfKnn(emb, queryIds, k, nprobe = 1))
    val p2 = resultSet(Similarity.ivfKnn(emb, queryIds, k, nprobe = 2))
    def recall(got: Set[(Long, Long)]) =
      (got intersect exact).size.toDouble / exact.size
    // the knob is monotone (more buckets can only add candidates)
    assert(recall(p2) >= recall(p1))
    // probing every centroid degenerates to exact search: identical rows
    val full = Similarity.ivfKnn(emb, queryIds, k,
        nprobe = Similarity.DefaultCentroidK)
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSeq
    val brute = Similarity.bruteForceKnn(emb, queryIds, k)
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSeq
    assert(full == brute)
  }

  test("srpBuckets: near-identical vectors share a bucket") {
    val base = Array.tabulate(8)(i => 0.1 * (i + 1))
    val near = base.clone(); near(0) += 1e-6
    val far = base.map(-_)
    val df = Seq((0L, base.toSeq), (1L, near.toSeq), (2L, far.toSeq))
      .toDF("vec_id", "embedding")
    val buckets = Similarity.srpBuckets(df, nBits = 16)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(buckets(0L) == buckets(1L))
    assert(buckets(0L) != buckets(2L))
  }

  test("int8 quantization: values in [-127,127], reconstruction within scale/2") {
    val df = Seq(
      (0L, Seq(1.0f, -0.5f, 0.25f, -1.27f)),
      (1L, Seq(0.0f, 0.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val got = Similarity.quantizeInt8(df).orderBy("vec_id").collect()
    val q0 = got(0).getSeq[Int](2)
    assert(q0.forall(q => q >= -127 && q <= 127))
    assert(q0.exists(_ == 127) || q0.exists(_ == -127)) // max dim saturates
    assert(got(0).getDouble(3) <= got(0).getDouble(1) / 2 + 1e-9) // err <= scale/2
    assert(got(1).getDouble(1) == 0.0 && got(1).getSeq[Int](2).forall(_ == 0))
  }

  test("IVF-partitioned layout: probe prunes to the queries' partitions, " +
    "results identical to ivfKnn") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val root = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    Similarity.writeIvfPartitioned(emb, root)
    // one directory per assigned centroid
    val dirs = new java.io.File(root).listFiles()
      .filter(_.getName.startsWith("centroid_id=")).map(_.getName)
    assert(dirs.nonEmpty)

    val queryIds = Seq(0L, 1L, 2L, 3L)
    val got = Similarity.ivfKnnPartitioned(spark, root, queryIds, k = 5)
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSeq
    val expected = Similarity.ivfKnn(emb, queryIds, k = 5)
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSeq
    assert(got == expected)

    // the probe predicate reaches the scan as a partition filter
    val plan = Similarity.ivfKnnPartitioned(spark, root, queryIds, k = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("centroid_id"))

    // multi-probe over the layout routes via the centroid sidecar and
    // matches ivfKnn at the same nprobe
    val got2 = Similarity.ivfKnnPartitioned(spark, root, queryIds, k = 5, nprobe = 2)
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSeq
    val expected2 = Similarity.ivfKnn(emb, queryIds, k = 5, nprobe = 2)
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSeq
    assert(got2 == expected2)
  }

  test("probedPartitions prune-skip gate is scan-size-bounded: a small " +
    "batch against a LARGE few-centroid layout resolves the routed set " +
    "instead of substituting every sidecar id — identical probe rows") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val root = java.nio.file.Files.createTempDirectory("graft-ivfsz").toString
    Similarity.writeIvfPartitioned(emb, root)
    val corpus = spark.read.parquet(root)
    val sidecar = Similarity.readCentroidSidecar(spark, root)
    val allIds = sidecar.select("centroid_id").collect().map(_.getString(0)).toSet
    assert(allIds.size > 1 && allIds.size <= Dedup.DefaultPruneSkipMaxBuckets)
    val routed = Seq(Tuple1(allIds.head)).toDF("centroid_id")
    // default gate: few centroids AND a tiny fixture layout ⇒ the skip
    // engages, every sidecar id stands in (zero resolution jobs)
    assert(Similarity.probedPartitions(sidecar, routed, corpus)
      .toSet == allIds)
    // the at-scale posture: the same geometry over a large corpus must
    // NOT full-scan for a batch that routes to one partition — the
    // byte bound re-engages the driver-side resolution
    spark.conf.set("spark.graft.pruneSkip.maxBytes", "0")
    try {
      assert(Similarity.probedPartitions(sidecar, routed, corpus)
        .toSet == Set(allIds.head))
      // end-to-end row identity through the forced-pruned path, probe
      // and serving shapes both
      val queryIds = Seq(0L, 1L, 2L, 3L)
      val pruned = Similarity.ivfKnnPartitioned(spark, root, queryIds,
          k = 5, nprobe = 2)
        .orderBy("query_id", "rank").collect().toSeq
      spark.conf.unset("spark.graft.pruneSkip.maxBytes")
      val fast = Similarity.ivfKnnPartitioned(spark, root, queryIds,
          k = 5, nprobe = 2)
        .orderBy("query_id", "rank").collect().toSeq
      assert(pruned == fast)
    } finally spark.conf.unset("spark.graft.pruneSkip.maxBytes")
  }

  test("PackInt8 + Int8Dot: packing is pure narrowing of the builtin " +
    "round algebra, the integer dot matches the unpacked fold exactly, " +
    "and out-of-range packing fails loudly") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet").limit(64)
    val q = Similarity.quantizeInt8(emb) // oracle-proven ints
      .select(col("vec_id"), col("qvec"),
        graft.functions.PackInt8(col("qvec")).as("q8"))
    // round-trip: unpacking the binary gives back the exact ints
    val bad = q.select("qvec", "q8").collect().count { r =>
      val ints = r.getSeq[Int](0)
      val bytes = r.getAs[Array[Byte]](1)
      bytes.length != ints.length ||
        bytes.toSeq.map(_.toInt) != ints
    }
    assert(bad == 0)
    // integer dot over packed bytes == the interpreted fold over ints
    val pairs = q.select(col("vec_id").as("id_a"), col("qvec").as("va"),
        col("q8").as("qa"))
      .crossJoin(q.limit(8).select(col("vec_id").as("id_b"),
        col("qvec").as("vb"), col("q8").as("qb")))
    val mism = pairs.filter(
      graft.functions.Int8Dot(col("qa"), col("qb")) =!=
        expr("aggregate(zip_with(va, vb, (x, y) -> CAST(x AS BIGINT) * y), " +
          "0L, (s, v) -> s + v)")).count()
    assert(mism == 0L)
    // overflow refuses instead of wrapping — the failure must be the
    // int8 range refusal, not some unrelated error
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    val e = intercept[Exception] {
      spark.range(1).select(graft.functions.PackInt8(
        expr("array(200)")).as("b")).collect()
    }
    assert(messages(e).exists(_.contains("int8 range")), messages(e))
    // a null element refuses too (it would pack as a silent 0)
    val en = intercept[Exception] {
      spark.range(1).select(graft.functions.PackInt8(
        expr("array(1, CAST(NULL AS INT))")).as("b")).collect()
    }
    assert(messages(en).exists(_.contains("null array element")),
      messages(en))
    // mismatched dimensions refuse instead of scoring a prefix — the
    // same loud-refusal contract as the pack side (a mismatch can only
    // mean corruption or a cross-generation dim change)
    val em = intercept[Exception] {
      spark.range(1).select(graft.functions.Int8Dot(
        graft.functions.PackInt8(expr("array(1, 2, 3)")),
        graft.functions.PackInt8(expr("array(1, 2)"))).as("d")).collect()
    }
    assert(messages(em).exists(_.contains("dimension mismatch")),
      messages(em))
  }

  test("ivfKnnQuantized: with an exhaustive rerank the SQ8 probe is " +
    "row-identical to the exact partitioned probe; serving-sized " +
    "rerank keeps high recall; stage-1 scans no vec column") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val root = java.nio.file.Files.createTempDirectory("graft-sq8").toString
    Similarity.writeIvfPartitioned(emb, root)
    val queryIds = Seq(0L, 1L, 2L, 3L)
    val n = emb.count().toInt
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
        .toSeq
    for (np <- Seq(1, 2)) {
      val exact = rows(Similarity.ivfKnnPartitioned(spark, root, queryIds,
        k = 5, nprobe = np))
      val full = rows(Similarity.ivfKnnQuantized(spark, root, queryIds,
        k = 5, nprobe = np, rerank = n))
      assert(full == exact, s"nprobe=$np")
      // serving-sized shortlist: recall vs the exact probe stays high
      val small = rows(Similarity.ivfKnnQuantized(spark, root, queryIds,
        k = 5, nprobe = np))
      val recall = small.map(t => (t._1, t._2)).toSet
        .intersect(exact.map(t => (t._1, t._2)).toSet).size.toDouble /
        exact.size
      assert(recall >= 0.8, s"nprobe=$np recall=$recall")
    }
    // the ACTUAL candidate stage's scan must NOT read the double vec
    // column: sq8Candidates is the exact frame the probe collects its
    // shortlist from, so its ReadSchema carries q8 but no vec (the
    // rerank scan does read vec, under an id IN pushdown)
    val corpus = spark.read.parquet(root)
    val probes = corpus.filter(col("vec_id").isInCollection(queryIds))
      .select(col("vec_id").as("query_id"), col("centroid_id"),
        col("q8").as("q8_q"), col("qscale").as("qscale_q"),
        col("vec").as("vec_q"), col("nrm").as("nrm_q"))
    val probed = probes.select("centroid_id").distinct()
      .collect().map(_.getString(0)).toSeq
    val stage1 = Similarity.sq8Candidates(corpus, probes, probed,
      "vec_id", excludeSelf = true)
    val scans = stage1.queryExecution.executedPlan.toString
      .linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(scans.nonEmpty)
    // the corpus-side scan (the q8 one) must not read vec; the tiny
    // query-resolution scan legitimately reads vec_q
    val corpusScan = scans.filter(_.contains("q8"))
    assert(corpusScan.exists(l => !l.contains("vec:array")), scans)
  }

  test("ivfKnnQuantizedWith: external queries through the SQ8 route " +
    "match the exact external probe under an exhaustive rerank") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val root = java.nio.file.Files.createTempDirectory("graft-sq8w").toString
    Similarity.writeIvfPartitioned(emb, root)
    // deterministic off-corpus queries: stored-pair midpoints (the
    // q65 construction)
    val ext = emb.filter(col("vec_id") < 6)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .as[(Long, Array[Double])].collect().sortBy(_._1)
      .grouped(2).collect { case Array((ia, va), (ib, vb)) =>
        (ia * 1000 + ib, va.zip(vb).map { case (x, y) => (x + y) / 2 })
      }.toSeq.toDF("query_id", "embedding")
    val n = emb.count().toInt
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
        .toSeq
    val exact = rows(Similarity.ivfKnnPartitionedWith(spark, root, ext,
      k = 5, nprobe = 2))
    val full = rows(Similarity.ivfKnnQuantizedWith(spark, root, ext,
      k = 5, nprobe = 2, rerank = n))
    assert(full == exact)
  }

  test("SQ8 distributed rerank (collectShortlist = false) is " +
    "row-identical to the collected mode: tight and exhaustive " +
    "shortlists, nprobe 1 and 2, external queries, and the " +
    "empty-shortlist edge") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val root = java.nio.file.Files.createTempDirectory("graft-sq8d").toString
    Similarity.writeIvfPartitioned(emb, root)
    val queryIds = Seq(0L, 1L, 2L, 3L)
    val n = emb.count().toInt
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
        .toSeq
    // a TIGHT rerank (8 for k=5) makes the shortlist decide the output,
    // so any divergence in the distributed stage-1 (shuffle join vs
    // pinned broadcast) or stage-2 (join topology vs id IN pushdown)
    // shows up as a row difference; the exhaustive rerank covers the
    // degenerate keep-everything shortlist
    for (np <- Seq(1, 2); m <- Seq(8, n)) {
      val collected = rows(Similarity.ivfKnnQuantized(spark, root,
        queryIds, k = 5, nprobe = np, rerank = m))
      val distributed = rows(Similarity.ivfKnnQuantized(spark, root,
        queryIds, k = 5, nprobe = np, rerank = m,
        collectShortlist = false))
      assert(distributed == collected, s"nprobe=$np rerank=$m")
      assert(collected.nonEmpty, s"vacuous: nprobe=$np rerank=$m")
    }
    // external-query route: both modes through ivfKnnQuantizedWith
    val ext = emb.filter(col("vec_id") < 6)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .as[(Long, Array[Double])].collect().sortBy(_._1)
      .grouped(2).collect { case Array((ia, va), (ib, vb)) =>
        (ia * 1000 + ib, va.zip(vb).map { case (x, y) => (x + y) / 2 })
      }.toSeq.toDF("query_id", "embedding")
    val extCollected = rows(Similarity.ivfKnnQuantizedWith(spark, root,
      ext, k = 5, nprobe = 2, rerank = 8))
    val extDistributed = rows(Similarity.ivfKnnQuantizedWith(spark, root,
      ext, k = 5, nprobe = 2, rerank = 8, collectShortlist = false))
    assert(extDistributed == extCollected)
    assert(extCollected.nonEmpty)
    // empty shortlist: query ids absent from the corpus yield an empty,
    // correctly-schemed result in BOTH modes (the distributed joins and
    // the collected driver edge must both flow emptiness through)
    // compare (name, type) — nullability legitimately differs: the
    // collected mode's query_id flows through a driver-built local
    // relation of primitive longs (provably non-null), the distributed
    // mode's through a parquet-sourced cast (nullable); unionByName
    // reconciles the flags, and the driver's oracle compare is
    // name+type+value
    val schemas = scala.collection.mutable.ArrayBuffer
      .empty[Seq[(String, org.apache.spark.sql.types.DataType)]]
    for (mode <- Seq(true, false)) {
      val empty = Similarity.ivfKnnQuantized(spark, root,
        Seq(999999999L), k = 5, nprobe = 2, rerank = 8,
        collectShortlist = mode)
      assert(empty.count() == 0, s"collectShortlist=$mode")
      schemas += empty.schema.map(f => (f.name, f.dataType)).toSeq
    }
    assert(schemas(0) == schemas(1))
  }

  test("ivfRecallProbe rerank mode judges the SQ8 route: exhaustive " +
    "rerank matches the exact route's recall, the result records the " +
    "route, and held-out mode routes through the quantized serving " +
    "probe") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val root = java.nio.file.Files.createTempDirectory("graft-sq8r").toString
    Similarity.writeIvfPartitioned(emb, root)
    val n = emb.count().toInt
    val exactRoute = Similarity.ivfRecallProbe(spark, root, sampleN = 8,
      k = 5, nprobe = 2)
    assert(exactRoute.rerank == 0)
    val sq8Full = Similarity.ivfRecallProbe(spark, root, sampleN = 8,
      k = 5, nprobe = 2, rerank = n)
    assert(sq8Full.rerank == n)
    // exhaustive shortlist = the exact probe's answer = same recall
    assert(sq8Full.recallAtK == exactRoute.recallAtK)
    // a k-sized shortlist is a legal serving setting; the probe still
    // answers (decay, if any, is exactly what the mode measures)
    val starved = Similarity.ivfRecallProbe(spark, root, sampleN = 8,
      k = 5, nprobe = 2, rerank = 5)
    assert(starved.rerank == 5 && starved.recallAtK >= 0.0 &&
      starved.recallAtK <= 1.0)
    // held-out serving-shaped mode through the quantized route
    val ext = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val served = Similarity.ivfRecallProbe(spark, root, k = 5, nprobe = 2,
      queryVectors = Some(ext), rerank = n)
    val servedExact = Similarity.ivfRecallProbe(spark, root, k = 5,
      nprobe = 2, queryVectors = Some(ext))
    assert(served.rerank == n && served.recallAtK == servedExact.recallAtK)
  }

  test("ivfKnnQuantized refuses a pre-SQ8 layout loudly") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val root = java.nio.file.Files.createTempDirectory("graft-oldivf").toString
    Similarity.writeIvfPartitioned(emb, s"$root/new")
    // reconstruct the PRE-quantization at-rest shape: same layout
    // minus the q8/qscale columns
    val old = spark.read.option("basePath", s"$root/new")
      .parquet(s"$root/new")
      .select("vec_id", "vec", "nrm", "centroid_id")
    old.repartition(col("centroid_id")).write.partitionBy("centroid_id")
      .parquet(s"$root/old")
    val f = Dedup.fsFor(spark, s"$root/old")
    org.apache.hadoop.fs.FileUtil.copy(f,
      new org.apache.hadoop.fs.Path(s"$root/new/_centroids"), f,
      new org.apache.hadoop.fs.Path(s"$root/old/_centroids"),
      false, spark.sparkContext.hadoopConfiguration)
    val e = intercept[IllegalArgumentException] {
      Similarity.ivfKnnQuantized(spark, s"$root/old", Seq(0L), k = 3)
    }
    assert(e.getMessage.contains("no quantized columns"))
    // the exact probe still serves the old layout
    assert(Similarity.ivfKnnPartitioned(spark, s"$root/old", Seq(0L), k = 3)
      .count() == 3)
    // and an epoch append into it keeps the schema uniform (no q8)
    val novel = emb.filter(col("vec_id") >= 50 && col("vec_id") < 55)
      .withColumn("vec_id", col("vec_id") + 10000)
    assert(Similarity.appendIvfEpoch(novel, s"$root/old", "old-e1"))
    assert(!spark.read.parquet(s"$root/old").schema.fieldNames
      .contains("q8"))
    // compactIvf IS the in-place upgrade: same assignment, probe rows
    // identical to the pre-upgrade exact probe, and the quantized
    // probe now serves
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
        .toSeq
    val preUpgrade = rows(Similarity.ivfKnnPartitioned(spark,
      s"$root/old", Seq(0L, 1L), k = 4, nprobe = 2))
    assert(Similarity.compactIvf(spark, s"$root/old", "upg1"))
    val upgraded = spark.read.parquet(
      Similarity.ivfDataRoot(spark, s"$root/old"))
    assert(upgraded.schema.fieldNames.contains("q8"))
    assert(upgraded.filter(col("q8").isNull).count() == 0)
    assert(rows(Similarity.ivfKnnPartitioned(spark, s"$root/old",
      Seq(0L, 1L), k = 4, nprobe = 2)) == preUpgrade)
    val n = upgraded.count().toInt
    assert(rows(Similarity.ivfKnnQuantized(spark, s"$root/old",
      Seq(0L, 1L), k = 4, nprobe = 2, rerank = n)) == preUpgrade)
    // ...and fsck deep-schema reads the upgraded layout uniform (the
    // only finding left is the retired pre-upgrade root, info-grade)
    assert(Similarity.ivfFsck(spark, s"$root/old", deepSchema = true)
      .forall(_.code == "retired-present"))
  }

  test("the _sq8 schema marker: every build path persists it (O(1), " +
    "listing-order-independent append detection), a marker-less " +
    "quantized root self-heals it on the next append, and generations " +
    "carry their own") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val root = java.nio.file.Files.createTempDirectory("graft-sq8mk").toString
    val path = s"$root/ivf"
    Similarity.writeIvfPartitioned(emb.filter(col("vec_id") < 48), path)
    val f = Dedup.fsFor(spark, path)
    def marker(p: String) = new org.apache.hadoop.fs.Path(s"$p/_sq8")
    assert(f.exists(marker(path)))
    // a hand-restored root without the marker: the footer-walk
    // fallback still reads the layout as quantized, the append writes
    // quantized files, and the marker is SELF-HEALED for the next one
    f.delete(marker(path), false)
    val novel = emb.filter(col("vec_id") >= 48 && col("vec_id") < 56)
      .withColumn("vec_id", col("vec_id") + 20000)
    assert(Similarity.appendIvfEpoch(novel, path, "mk-e1"))
    assert(f.exists(marker(path)))
    val appended = spark.read.parquet(path).filter(col("vec_id") >= 20000)
    assert(appended.count() == 8 &&
      appended.filter(col("q8").isNull).count() == 0)
    // a rotation's staged rebuild marks the new generation (the stage
    // travels into _gen-<N> by rename, marker and all)
    assert(Similarity.rotateIvf(spark, path, "mk-r1"))
    val gen = Similarity.ivfDataRoot(spark, path)
    assert(gen != path && f.exists(marker(gen)))
    // compactIvf — the in-place SQ8 upgrade — marks its generation too
    assert(Similarity.compactIvf(spark, path, "mk-c1"))
    val gen2 = Similarity.ivfDataRoot(spark, path)
    assert(gen2 != gen && f.exists(marker(gen2)))
  }

  test("appendIvfPartitioned: appending novels equals a full rebuild over " +
    "the union with the SAME centroids, and the probe path agrees") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val ids = emb.select("vec_id").orderBy("vec_id")
      .collect().map(_.getLong(0))
    val splitAt = ids(ids.length / 2)
    val epoch0 = emb.filter(col("vec_id") < splitAt)
    val novel = emb.filter(col("vec_id") >= splitAt)
    assert(!novel.isEmpty)

    val root = java.nio.file.Files.createTempDirectory("graft-ivf-app").toString
    Similarity.writeIvfPartitioned(epoch0, s"$root/grown")
    Similarity.appendIvfPartitioned(novel, s"$root/grown")

    // rebuild over the union, pinned to the SAME centroid set (the
    // grown layout's sidecar) — the append must be indistinguishable
    val cents = spark.read.parquet(s"$root/grown/_centroids")
      .select(expr("CAST(substring(centroid_id, 2) AS BIGINT)")
          .as("centroid_id"),
        col("cvec"), col("cnrm"))
      .localCheckpoint(eager = true)
    Similarity.writeIvfPartitioned(emb, s"$root/rebuilt",
      trainedCentroids = Some(cents))

    def rows(p: String) = spark.read.parquet(p)
      .select("vec_id", "centroid_id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows(s"$root/grown") == rows(s"$root/rebuilt"))

    // probes over the grown layout find post-append neighbors and match
    // the rebuilt layout exactly, single- and multi-probe
    val queryIds = Seq(ids.head, splitAt, ids.last)
    for (np <- Seq(1, 2)) {
      def knn(p: String) = Similarity.ivfKnnPartitioned(spark, p, queryIds,
          k = 5, nprobe = np)
        .orderBy("query_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
        .toSeq
      val got = knn(s"$root/grown")
      assert(got == knn(s"$root/rebuilt"), s"nprobe=$np")
      assert(got.exists { case (_, n, _, _) => n >= splitAt }, s"nprobe=$np")
    }

    // the drift monitor reads the layout listing only: one row per
    // partition dir, byte totals matching the filesystem, and the
    // append visibly grew its target partitions
    val stats = Similarity.ivfPartitionStats(spark, s"$root/grown")
    val dirs = new java.io.File(s"$root/grown").listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("centroid_id="))
    assert(stats.size == dirs.length)
    val wantBytes = dirs.map { d =>
      d.getName.stripPrefix("centroid_id=") ->
        d.listFiles().filter(_.getName.endsWith(".parquet")).map(_.length).sum
    }.toMap
    assert(stats.map(s => s._1 -> s._3).toMap == wantBytes)
    assert(stats.map(_._3).sum >
      Similarity.ivfPartitionStats(spark, s"$root/rebuilt").map(_._3).sum / 2)
    assert(Similarity.ivfSkewRatio(spark, s"$root/grown") >= 1.0)

    // maximal skew — over half the partitions EMPTY while hot ones
    // hold data — must trip the >4x re-train trigger, not read as
    // balanced (a zero median is not "ratio 1"); all-empty layouts
    // have nothing to skew and stay at 1
    val skewRoot = java.nio.file.Files.createTempDirectory("graft-skew").toString
    for (c <- Seq("c0", "c1", "c2", "c3", "c4"))
      new java.io.File(s"$skewRoot/centroid_id=$c").mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$skewRoot/centroid_id=c0/part-0.parquet"),
      Array.fill[Byte](4096)(1))
    assert(Similarity.ivfSkewRatio(spark, skewRoot).isPosInfinity)
    new java.io.File(s"$skewRoot/centroid_id=c0/part-0.parquet").delete()
    assert(Similarity.ivfSkewRatio(spark, skewRoot) == 1.0)
  }

  test("semanticDupPairs: cluster-scoped subset of all-pairs with exact cosines") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val exact = Similarity.cosineDupPairs(emb, threshold = 0.45)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val sem = Similarity.semanticDupPairs(emb, threshold = 0.45)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    sem.foreach { case (pair, sim) => assert(exact(pair) == sim) }
    // co-assigned identical vectors are always found (k=1: one cluster
    // holds everything, so cluster-scoped == all-pairs)
    val base = Array.tabulate(8)(i => 0.1 * (i + 1))
    val df = Seq((0L, base.toSeq), (1L, base.toSeq), (2L, base.map(-_).toSeq))
      .toDF("vec_id", "embedding")
    val dup = Similarity.semanticDupPairs(df, threshold = 0.99, centroidK = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(dup.toSeq == Seq((0L, 1L)))
  }

  test("semanticDupPairs: an oversized cluster star-pairs at linear cost, " +
    "cap is a no-op when no cluster exceeds it") {
    // a degenerate direction mass: 3000 identical vectors land in ONE
    // cluster no matter how k is derived — with the cap they produce the
    // 2999 anchor pairs, never the 4.5M all-pairs join
    val base = Array.tabulate(8)(i => 0.1 * (i + 1)).toSeq
    val giant = (0L until 3000L).map(i => (i, base)).toDF("vec_id", "embedding")
    val got = Similarity.semanticDupPairs(giant, threshold = 0.99,
        maxClusterSize = Some(64))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.length == 2999)
    assert(got.forall(_._1 == 0L)) // every duplicate chains to the anchor
    assert(got.forall(_._3 == 1.0)) // and the reported cosine stays exact
    // on a corpus with no oversized cluster the default cap changes
    // nothing: capped == uncapped, row for row
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    def pairs(cap: Option[Int]) =
      Similarity.semanticDupPairs(emb, threshold = 0.45, maxClusterSize = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(pairs(Some(Similarity.DefaultMaxClusterSize)) == pairs(None))
    // derived k: fixed floor below target-size corpora, linear above
    assert(Similarity.deriveCentroidK(500) == Similarity.DefaultCentroidK)
    assert(Similarity.deriveCentroidK(1024L * 1000) == 1000)
    assert(Similarity.deriveCentroidK(1024L * 1000 + 1) == 1001)
  }

  test("semanticDupPairsPartitioned: the stored IVF assignment replaces " +
    "coarse quantization, identical pairs; the SQ8 candidate route is " +
    "row-identical to the float route (light and heavy paths) and its " +
    "quadratic scan reads q8, not vec") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val root = java.nio.file.Files.createTempDirectory("graft-ivf-sem").toString
    Similarity.writeIvfPartitioned(emb, root)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // default = the quantized candidate route (the layout carries q8)
    val fromLayout = pairs(Similarity.semanticDupPairsPartitioned(spark, root,
      threshold = 0.45))
    // the layout was written around the default id-hash centroid sample,
    // so the in-memory operator with the same derived centroids agrees
    val inMemory = pairs(Similarity.semanticDupPairs(emb, threshold = 0.45))
    assert(fromLayout == inMemory)
    assert(fromLayout.nonEmpty) // vacuous-premise guard
    // the float-forced route agrees too (lossless prefilter, light path)
    val floatRoute = pairs(Similarity.semanticDupPairsPartitioned(spark,
      root, threshold = 0.45, quantizedCandidates = false))
    assert(floatRoute == fromLayout)
    // HEAVY path: a cap below the largest cluster engages anchor/star
    // pairing in both routes — they must still agree row-for-row
    val sizes = spark.read.parquet(root).groupBy("centroid_id").count()
      .collect().map(_.getLong(1))
    val cap = 4
    assert(sizes.exists(_ > cap), "fixture must have an over-cap cluster")
    // threshold 0.05: anchor/star pairs at sf0.001 don't reach 0.45,
    // which would make the comparison vacuously empty == empty
    val heavyQ = pairs(Similarity.semanticDupPairsPartitioned(spark, root,
      threshold = 0.05, maxClusterSize = Some(cap)))
    val heavyF = pairs(Similarity.semanticDupPairsPartitioned(spark, root,
      threshold = 0.05, maxClusterSize = Some(cap),
      quantizedCandidates = false))
    assert(heavyQ == heavyF)
    assert(heavyQ.nonEmpty)
    // the quadratic candidate join's corpus scan must read the packed
    // q8 (1 B/dim), NOT the 8 B/dim vec column — vec appears only in
    // the verify joins (passthrough exposes the interior plan; the
    // checkpointed form explains as one Scan ExistingRDD)
    Caching.passthrough = true
    try {
      val plan = Similarity.semanticDupPairsPartitioned(spark, root,
          threshold = 0.45)
        .queryExecution.executedPlan.toString
      val scans = plan.linesIterator.filter(_.contains("ReadSchema")).toSeq
      assert(scans.exists(l => l.contains("q8") && !l.contains("vec:array")),
        scans)
      // the HEAVY route's verify re-reads of the layout must be
      // partition-pruned by the literal heavy/light cluster sets —
      // at least one vec-reading scan carries an IN partition filter
      // (the light side's NOT-IN twin prunes too; this pins the
      // mechanism)
      val cappedPlan = Similarity.semanticDupPairsPartitioned(spark, root,
          threshold = 0.05, maxClusterSize = Some(cap))
        .queryExecution.executedPlan.toString
      assert(cappedPlan.linesIterator.exists(l =>
        l.contains("vec:array") && l.contains("INSET")),
        cappedPlan.take(4000))
    } finally Caching.passthrough = false
  }

  test("semanticDupPairsPartitioned SQ8 route survives damage: a MIXED " +
    "layout (legacy files beside quantized) stays row-identical to the " +
    "float route via the null-q8 exact-verify escape, and a duplicate " +
    "id ACROSS clusters never supplies an impostor verify vector") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val root = java.nio.file.Files
      .createTempDirectory("graft-sem-mixed").toString
    Similarity.writeIvfPartitioned(emb, root)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // strip the SQ8 columns from the TWO most-populated partition
    // dirs' files — the restore-from-pre-SQ8-backup shape (FsckSpec's
    // construction); most-populated guarantees in-cluster pairs exist
    // for the escape-hatch assertion below
    val f = Dedup.fsFor(spark, root)
    val damaged = spark.read.parquet(root).groupBy("centroid_id").count()
      .orderBy(col("count").desc, col("centroid_id")).limit(2)
      .collect().map(_.getString(0)).toSeq
    val legacyTmp = java.nio.file.Files
      .createTempDirectory("graft-sem-legacy").toString
    damaged.foreach { c =>
      val d = new org.apache.hadoop.fs.Path(s"$root/centroid_id=$c")
      val legacy = spark.read.option("basePath", root)
        .parquet(d.toString).select("vec_id", "vec", "nrm")
      val tmp = s"$legacyTmp/$c"
      legacy.coalesce(1).write.mode("overwrite").parquet(tmp)
      f.listStatus(d)
        .filter(_.getPath.getName.endsWith(".parquet"))
        .foreach(st => f.delete(st.getPath, false))
      val lf = f.listStatus(new org.apache.hadoop.fs.Path(tmp))
        .filter(_.getPath.getName.endsWith(".parquet")).head.getPath
      assert(f.rename(lf, new org.apache.hadoop.fs.Path(d, lf.getName)))
    }
    // the mixed layout's pairs: default (SQ8) == float-forced, at a
    // threshold where legacy-side pairs exist (0.05 reaches across
    // the damaged clusters' pairs; nonEmpty guards the premise)
    val q = pairs(Similarity.semanticDupPairsPartitioned(spark, root,
      threshold = 0.05, maxClusterSize = None))
    val fl = pairs(Similarity.semanticDupPairsPartitioned(spark, root,
      threshold = 0.05, maxClusterSize = None,
      quantizedCandidates = false))
    assert(q == fl)
    assert(q.nonEmpty)
    // pairs INSIDE a damaged (all-legacy) cluster made it through the
    // SQ8 route — the null-q8 escape, not just the healthy clusters
    val inDamaged = spark.read.parquet(root)
      .filter(col("centroid_id").isin(damaged: _*))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(q.exists(p => inDamaged(p._1) && inDamaged(p._2)),
      s"no pair inside damaged clusters $damaged — vacuous escape test")

    // duplicate id ACROSS clusters: the same id with two DIFFERENT
    // vectors landing in different clusters; the verify join keyed on
    // (id, centroid_id) must score each pair with its own cluster's
    // vector — bare-id joins would cross-pollinate (and double rows)
    import spark.implicits._
    def dvec(seed: Long, axis: Int): Array[Float] = {
      val h = scala.util.hashing.byteswap64(seed)
      Array.tabulate(8)(j =>
        if (j == axis) 50f else ((h >> (4 * j)) & 15).toFloat / 32f)
    }
    val dup = ((0L until 20L).map(i => (i, dvec(i, 0))) ++
      (20L until 40L).map(i => (i, dvec(i, 1))) ++
      // id 7 again, far from its first copy: lands in the OTHER cluster
      Seq((7L, dvec(777L, 1)))).toDF("vec_id", "embedding")
    val root2 = java.nio.file.Files
      .createTempDirectory("graft-sem-dup").toString
    Similarity.writeIvfPartitioned(dup, root2, centroidK = 2)
    // premise: both copies of id 7 exist, in different clusters
    val sevens = spark.read.parquet(root2).filter(col("vec_id") === 7L)
      .select("centroid_id").collect().map(_.getString(0)).toSet
    assert(sevens.size == 2, s"dup id landed in one cluster: $sevens")
    val q2 = pairs(Similarity.semanticDupPairsPartitioned(spark, root2,
      threshold = 0.05, maxClusterSize = None))
    val fl2 = pairs(Similarity.semanticDupPairsPartitioned(spark, root2,
      threshold = 0.05, maxClusterSize = None,
      quantizedCandidates = false))
    assert(q2 == fl2)
    assert(q2.exists(p => p._1 == 7L || p._2 == 7L),
      "no pair touches the duplicated id — vacuous impostor test")
  }

  test("kmeansFit: separates direction clusters, feeds the cosine stack") {
    // three tight direction bundles in 4-d, 30 points each
    val bundles = Seq(
      Array(1.0, 0.0, 0.0, 0.0),
      Array(0.0, 1.0, 0.0, 0.0),
      Array(0.0, 0.0, 1.0, 1.0))
    val pts = for {
      (b, ci) <- bundles.zipWithIndex
      i <- 0 until 30
    } yield {
      val eps = 0.02 * ((i % 5) - 2)
      val v = b.zipWithIndex.map { case (x, d) =>
        (x + (if (d == (ci + 1) % 4) eps else 0.0)) * (1.0 + 0.1 * (i % 3))
      }
      ((ci * 30 + i).toLong, v.toSeq)
    }
    val df = pts.toDF("vec_id", "embedding")
    val trained = Similarity.kmeansFit(df, k = 3, maxIters = 10)
      .orderBy("centroid_id").collect()
    assert(trained.length == 3)
    // every trained centroid aligns near-perfectly with exactly one bundle
    val cvecs = trained.map(_.getSeq[Double](1).toArray)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val matches = bundles.map(b => cvecs.count(c => cos(b, c) > 0.99))
    assert(matches == Seq(1, 1, 1), s"bundle alignment counts: $matches")
    // trained centroids plug into the cosine stack: cluster-scoped dedup
    // with them still reports exact cosines
    val cents = Similarity.kmeansFit(df, k = 3, maxIters = 5)
    val sem = Similarity.semanticDupPairs(df, threshold = 0.999,
      centroids = Some(cents))
    assert(sem.count() > 0)
    val knn = Similarity.ivfKnn(df, Seq(0L), k = 3,
      trainedCentroids = Some(cents))
    assert(knn.count() == 3)
    // maxIters = 0 returns the deterministic init unchanged, and the
    // (driver-side) farthest-point greedy picks one seed per direction
    // bundle — the spread property the k-sequential-jobs form had
    val initC = Similarity.kmeansFit(df, k = 3, maxIters = 0)
      .collect().map(_.getSeq[Double](1).toArray)
    assert(initC.length == 3)
    val initMatches = bundles.map(b => initC.count(c => cos(b, c) > 0.9))
    assert(initMatches == Seq(1, 1, 1), s"init alignment counts: $initMatches")
    // k larger than the corpus: farthest-point init exhausts gracefully
    val tiny = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)))
      .toDF("vec_id", "embedding")
    assert(Similarity.kmeansFit(tiny, k = 5, maxIters = 3).count() == 2)
  }

  test("kmeansFit: duplicate ids in the corpus exhaust gracefully, " +
    "never NPE, centroids bounded by distinct vectors") {
    val pts = (0L until 30L).map(i =>
      (i, Seq(1.0 + 0.01 * i, 0.5 * (i % 3), 0.1 * i, 1.0)))
    val df = pts.toDF("vec_id", "embedding")
    val doubled = df.unionByName(df) // every id appears twice
    val trained = Similarity.kmeansFit(doubled, k = 40, maxIters = 1)
    assert(trained.count() == 30) // k > distinct vectors: one per distinct
  }

  test("large-k assignment (broadcast join + max-struct agg) matches the " +
    "window formulation exactly") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val k = Similarity.LiteralAssignMaxK + 44 // forces the join path
    val got = Similarity.ivfAssign(emb, centroidK = k)
      .select("vec_id", "centroid_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the reference rule, stated as the window the oracle uses:
    // max cosine, tie -> min centroid_id
    val all = Similarity.asDouble(emb)
    val cents = Similarity.ivfCentroids(all, k)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("vec_id")
      .orderBy(col("csim").desc, col("centroid_id"))
    val expected = all.join(broadcast(cents))
      .withColumn("csim",
        Similarity.dot("vec", "cvec") / (col("nrm") * col("cnrm")))
      .withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .select("vec_id", "centroid_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected)

    // a SHUFFLE-DERIVED input (aggregation upstream) trips the
    // order-stability guard — the positional surrogate must number a
    // pinned materialization, and the assignment is unchanged
    val shuffled = emb.groupBy("vec_id")
      .agg(first("embedding").as("embedding"))
    val got2 = Similarity.ivfAssign(shuffled, centroidK = k)
      .select("vec_id", "centroid_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got2 == expected)
  }

  test("srpDupPairs finds near-identical pairs, reports exact cosine, " +
    "and returns a subset of the all-pairs result") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val exact = Similarity.cosineDupPairs(emb, threshold = 0.45)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val lsh = Similarity.srpDupPairs(emb, threshold = 0.45)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // every LSH pair is a true pair with the identical exact cosine
    lsh.foreach { case (pair, sim) => assert(exact(pair) == sim) }
    // a truly identical pair collides in every band -> always found
    val base = Array.tabulate(8)(i => 0.1 * (i + 1))
    val df = Seq((0L, base.toSeq), (1L, base.toSeq), (2L, base.map(-_).toSeq))
      .toDF("vec_id", "embedding")
    val dup = Similarity.srpDupPairs(df, threshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(dup.toSeq == Seq((0L, 1L)))
  }

  test("held-out query recall: external query vectors detect a routing " +
    "miss stored-vector recall cannot see, and the serving probe " +
    "answers exactly at the wider nprobe") {
    val root = java.nio.file.Files.createTempDirectory("graft-extrc").toString
    val path = s"$root/ivf"
    // two tight clusters on orthogonal axes; the jitter lives in dims
    // 4..7 so the signal dims 0/1 stay exact
    def unit(c0: Double, c1: Double, id: Long): Array[Float] = {
      val a = Array.fill(8)(0f)
      a(0) = c0.toFloat; a(1) = c1.toFloat
      (4 until 8).foreach { j =>
        val h = scala.util.hashing.byteswap64(id * 8 + j)
        a(j) = ((Math.floorMod(h, 1001L) - 500L).toFloat / 500f) * 0.01f
      }
      a
    }
    val aRows = (0L until 20L).map(i => (i, unit(1.0, 0.0, i)))
    // B members lean 30 deg off e1 toward e0 — still assigned to the
    // e1 centroid (0.866 > 0.5), but CLOSER than any A member to a
    // between-clusters query
    val bRows = (100L until 120L).map(i => (i, unit(0.5, 0.866, i)))
    val emb = (aRows ++ bRows).toDF("vec_id", "embedding")
    def cent(id: Long, v: Array[Double]) =
      (id, v.toSeq, math.sqrt(v.map(x => x * x).sum))
    val e0 = Array.tabulate(8)(i => if (i == 0) 1.0 else 0.0)
    val e1 = Array.tabulate(8)(i => if (i == 1) 1.0 else 0.0)
    val cents = Seq(cent(0L, e0), cent(1L, e1))
      .toDF("centroid_id", "cvec", "cnrm")
    Similarity.writeIvfPartitioned(emb, path, trainedCentroids = Some(cents))

    // stored-vector recall at nprobe-1 is PERFECT: every stored
    // vector's true neighbors live in its own partition
    val stored = Similarity.ivfRecallProbe(spark, path, sampleN = 16, k = 5)
    assert(stored.recallAtK == 1.0, stored)

    // a between-clusters query (cos 0.8 to e0, 0.6 to e1) ROUTES to
    // the A partition, but its true top-5 are ALL B members
    // (0.8*0.5 + 0.6*0.866 = 0.92 > 0.8): serving recall at nprobe-1
    // is 0 while the stored observable says the layout is healthy
    val held = Seq((9000L, unit(0.8, 0.6, 9000L)))
      .toDF("query_id", "embedding")
    val ext = Similarity.ivfRecallProbe(spark, path, k = 5,
      queryVectors = Some(held))
    assert(ext.queries == 1 && ext.recallAtK == 0.0, ext)
    // widening nprobe recovers it — the tuning answer the observable
    // exists to trigger
    val ext2 = Similarity.ivfRecallProbe(spark, path, k = 5, nprobe = 2,
      queryVectors = Some(held))
    assert(ext2.recallAtK == 1.0, ext2)
    // an int32 query_id (the shape a pandas-written query parquet
    // produces) must probe identically, not ClassCastException out of
    // the driver-edge collect
    val heldInt = Seq((9000, unit(0.8, 0.6, 9000L)))
      .toDF("query_id", "embedding")
    val extInt = Similarity.ivfRecallProbe(spark, path, k = 5, nprobe = 2,
      queryVectors = Some(heldInt))
    assert(extInt.recallAtK == 1.0 && extInt.queries == 1, extInt)
    // and the serving-path probe itself returns the exact set there
    val got = Similarity.ivfKnnPartitionedWith(spark, path, held, k = 5,
      nprobe = 2).collect()
    assert(got.length == 5 && got.forall(_.getLong(1) >= 100L))
    // external mode never touches the layout
    assert(spark.read.parquet(path).count() == 40)
  }

  test("writeIvfPartitioned is born settled: one file per partition " +
    "dir by default, <= filesPerPartition with the parallelism salt, " +
    "rows identical either way") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val root = java.nio.file.Files.createTempDirectory("graft-settled").toString
    Similarity.writeIvfPartitioned(emb, s"$root/one")
    assert(Similarity.ivfPartitionStats(spark, s"$root/one")
      .forall(_._2 == 1))
    // AQE's partition coalescing merges the tiny salt groups back into
    // one task at this fixture scale (at corpus scale the groups are
    // GBs and stay separate — the knob's target regime); disable it
    // for this write so the salt's spreading is observable
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.get(coalesceKey)
    try {
      spark.conf.set(coalesceKey, "false")
      Similarity.writeIvfPartitioned(emb, s"$root/four",
        filesPerPartition = 4)
    } finally spark.conf.set(coalesceKey, prev)
    val statsFour = Similarity.ivfPartitionStats(spark, s"$root/four")
    assert(statsFour.forall(_._2 <= 4))
    // the salt actually spreads a populated dir across tasks
    assert(statsFour.exists(_._2 > 1))
    def rows(p: String) = spark.read.parquet(p)
      .select("vec_id", "centroid_id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows(s"$root/one") == rows(s"$root/four"))
    intercept[IllegalArgumentException] {
      Similarity.writeIvfPartitioned(emb, s"$root/bad",
        filesPerPartition = 0)
    }
  }

  test("SQ8 distributed rerank under one HOT centroid: AQE splits the " +
    "skewed stage-1 shuffle join (skew=true in the final plan) and " +
    "rows stay identical to the collected mode") {
    // the distributed mode's stage-1 join shuffles on centroid_id, so
    // it inherits centroid skew; the designed mitigation is AQE's
    // skew-join split. This exercises it: one centroid holds 90% of
    // the corpus, the skew thresholds are scaled to the fixture, and
    // the final adaptive plan must show the split — while the output
    // stays row-identical to the collected mode (which broadcasts the
    // probes and never shuffles on the skewed key)
    def vec(i: Long, hot: Boolean): Array[Float] = {
      val h = scala.util.hashing.byteswap64(i)
      Array.tabulate(8) { j =>
        val noise = ((h >> (4 * j)) & 15).toFloat / 64f
        if (hot && j == 0) 100f else if (!hot && j == 1) 100f else noise
      }
    }
    val emb = ((0L until 360L).map(i => (i, vec(i, hot = true))) ++
      (360L until 400L).map(i => (i, vec(i, hot = false))))
      .toDF("vec_id", "embedding")
    val root = java.nio.file.Files
      .createTempDirectory("graft-sq8skew").toString
    // the salt spreads the hot dir across FILES (coalescing disabled
    // for the write, as in the filesPerPartition spec): AQE's skew
    // split works at map-output granularity, so a one-file hot
    // partition — one mapper — would be unsplittable no matter the
    // thresholds; at corpus scale the hot dir is many files and many
    // scan tasks by size alone
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val prevCoalesce = spark.conf.get(coalesceKey)
    try {
      spark.conf.set(coalesceKey, "false")
      Similarity.writeIvfPartitioned(emb, root, centroidK = 2,
        filesPerPartition = 8)
    } finally spark.conf.set(coalesceKey, prevCoalesce)
    // the skew premise: one partition dir really is hot, and spread
    // across several files
    val sizes = spark.read.parquet(root).groupBy("centroid_id").count()
      .collect().map(_.getLong(1))
    assert(sizes.max >= 300, sizes.toSeq)
    assert(Similarity.ivfPartitionStats(spark, root).exists(_._2 > 1))
    val queryIds = (0L until 8L).toSeq
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
        .toSeq
    val skewKeys = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "2KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1KB",
      // one scan task per file, so the hot key's shuffle blocks come
      // from several mappers (the granularity the split needs)
      "spark.sql.files.maxPartitionBytes" -> "2KB",
      "spark.sql.files.openCostInBytes" -> "1KB")
    val saved = skewKeys.map { case (k, _) =>
      k -> scala.util.Try(spark.conf.get(k)).toOption }
    val got =
      try {
        skewKeys.foreach { case (k, v) => spark.conf.set(k, v) }
        Caching.passthrough = true
        val dist = Similarity.ivfKnnQuantized(spark, root, queryIds,
          k = 5, nprobe = 1, rerank = 8, collectShortlist = false)
        dist.collect() // materialize THIS dataset: its adaptive plan finalizes
        val plan = dist.queryExecution.executedPlan.toString
        assert(plan.contains("isFinalPlan=true"), plan.take(500))
        assert(plan.contains("skew=true"),
          "expected an AQE skew-split join in:\n" + plan.take(9000))
        rows(dist)
      } finally {
        Caching.passthrough = false
        saved.foreach {
          case (k, Some(v)) => spark.conf.set(k, v)
          case (k, None) => spark.conf.unset(k)
        }
      }
    // row-identity with the collected mode under DEFAULT confs: the
    // skew split changed the schedule, never the answer
    val collected = rows(Similarity.ivfKnnQuantized(spark, root,
      queryIds, k = 5, nprobe = 1, rerank = 8))
    assert(got == collected)
    assert(got.nonEmpty)
  }

  test("writeIvfPartitioned refuses a plain dataset (a typo'd path " +
    "cannot destroy the corpus) and a LEDGERED flat layout (the " +
    "rebuild would drop _epochs); in-place rebuild and _temporary " +
    "residue stay allowed") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    // the raw corpus on a typo'd path: refuse, data intact
    val raw = java.nio.file.Files.createTempDirectory("graft-ivfg1").toString
    emb.write.mode("overwrite").parquet(raw)
    val n = emb.count()
    val e1 = intercept[IllegalArgumentException] {
      Similarity.writeIvfPartitioned(emb, raw)
    }
    assert(e1.getMessage.contains("plain dataset"), e1.getMessage)
    assert(spark.read.parquet(raw).count() == n)
    // a flat layout with a ledgered epoch: the static overwrite would
    // destroy _epochs and let a replayed epoch id double-append
    val led = java.nio.file.Files.createTempDirectory("graft-ivfg2").toString
    Similarity.writeIvfPartitioned(
      emb.filter(org.apache.spark.sql.functions.col("vec_id") % 2 === 0),
      led)
    assert(Similarity.appendIvfEpoch(
      emb.filter(org.apache.spark.sql.functions.col("vec_id") % 2 =!= 0),
      led, "e1"))
    val e2 = intercept[IllegalArgumentException] {
      Similarity.writeIvfPartitioned(emb, led)
    }
    assert(e2.getMessage.contains("_epochs ledger"), e2.getMessage)
    // a PQ INDEX (both sidecars) is a different artifact — the
    // converse of writePqIndex's IVF-corpus refusal: swapped paths
    // must not replace 8-byte codes with corpus vectors
    val pqIdx = java.nio.file.Files.createTempDirectory("graft-ivfg5")
      .toString
    Pq.writePqIndex(emb, pqIdx)
    val e3 = intercept[IllegalArgumentException] {
      Similarity.writeIvfPartitioned(emb, pqIdx)
    }
    assert(e3.getMessage.contains("PQ index"), e3.getMessage)
    // a NEVER-appended layout rebuilds in place (the supported refresh)
    val ok = java.nio.file.Files.createTempDirectory("graft-ivfg3").toString
    Similarity.writeIvfPartitioned(emb, ok)
    Similarity.writeIvfPartitioned(emb, ok)
    assert(Similarity.ivfKnn(emb, Seq(0L), k = 3).count() == 3)
    // hidden-only residue of a build that died mid-write stays buildable
    val torn = java.nio.file.Files.createTempDirectory("graft-ivfg4").toString
    val f = Dedup.fsFor(spark, torn)
    f.mkdirs(new org.apache.hadoop.fs.Path(s"$torn/_temporary/0"))
    Similarity.writeIvfPartitioned(emb, torn)
    assert(spark.read.parquet(torn).count() == n)
  }
}
