package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** IVF-PQ index + ADC probe ([[Pq]], [[graft.functions.PqEncode]]/
  * [[graft.functions.PqLut]]/[[graft.functions.PqAdc]]).
  */
class PqSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .toSeq

  private def messages(t: Throwable): Seq[String] =
    if (t == null) Seq.empty
    else Option(t.getMessage).toSeq ++ messages(t.getCause)

  test("pqKnn at exhaustive settings is row-identical to bruteForceKnn; " +
    "serving settings keep useful recall") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val root = java.nio.file.Files.createTempDirectory("graft-pq").toString
    Pq.writePqIndex(emb, root)
    val queryIds = Seq(0L, 1L, 2L, 3L)
    val n = emb.count().toInt
    val brute = rows(Similarity.bruteForceKnn(emb, queryIds, k = 5))
    // full probe + rerank covering the corpus: the ADC stage keeps
    // everything, the exact rerank decides — identical rows
    val full = rows(Pq.pqKnn(spark, root, emb, queryIds, k = 5,
      nprobe = Similarity.DefaultCentroidK, rerank = n))
    assert(full == brute)
    // serving-sized probes: PQ at m=8/k=16 on RANDOM near-orthogonal
    // vectors is the quantizer's worst case, so the bounds are the
    // structural properties plus measured-with-margin floors (the
    // fixture and the algorithm are deterministic). Measured: exact
    // IVF routing at nprobe=2 caps recall at 0.6; PQ at rerank=50
    // recovers exactly that cap (0.6), rerank=20 reaches 0.4.
    def recall(rs: Seq[(Long, Long, Int, Double)]) =
      rs.map(t => (t._1, t._2)).toSet
        .intersect(brute.map(t => (t._1, t._2)).toSet).size.toDouble /
        brute.size
    val r20 = recall(rows(Pq.pqKnn(spark, root, emb, queryIds, k = 5,
      nprobe = 2, rerank = 20)))
    val r50 = recall(rows(Pq.pqKnn(spark, root, emb, queryIds, k = 5,
      nprobe = 2, rerank = 50)))
    assert(r50 >= r20, s"rerank must be recall-monotone: $r20 -> $r50")
    assert(r50 >= 0.55, s"recall@rerank50=$r50 (measured 0.6)")
    assert(r20 >= 0.3, s"recall@rerank20=$r20 (measured 0.4)")
  }

  test("residual win-regime NECESSITY (SCALING.md 'Measured regime " +
    "guidance'): each of the three documented conditions is load-" +
    "bearing — the win direction holds when all hold, and flipping " +
    "the codeword/coverage or rerank-capacity condition forfeits it") {
    // The r19 RecallTable adjudication corrected writePqIndex's
    // docstring to the MEASURED three-condition regime: residual beats
    // raw iff (a) codeword starvation (k per subspace << cluster
    // directions), (b) the probe covers the true cluster's cell, and
    // (c) rerank >= the cluster population. This spec pins the regime
    // as a FIXTURE, not lore: a codebook/probe change that silently
    // breaks it fails here instead of waiting for the next RecallTable
    // session. Fixture algebra = PqLifecycleSpec's mixture-of-centroids
    // (deterministic byteswap64 centers + small jitter), parameterized
    // by cluster count.
    val cdim = 16
    def cvec(id: Long, nClusters: Int): Array[Float] =
      Array.tabulate(cdim) { e =>
        val ctr = (Math.floorMod(
          scala.util.hashing.byteswap64((id % nClusters) * cdim + e),
          1001L) - 500L) / 500.0
        val jit = (Math.floorMod(
          scala.util.hashing.byteswap64(id * cdim + e + 7777L),
          1001L) - 500L) / 2000.0
        (ctr + jit).toFloat
      }
    def corpus(nClusters: Int) =
      (0L until 304L).map(i => (i, cvec(i, nClusters)))
        .toDF("vec_id", "embedding")
    val root =
      java.nio.file.Files.createTempDirectory("graft-pqregime").toString
    def recall(p: String, q: org.apache.spark.sql.DataFrame,
        nprobe: Int, rerank: Int): Double =
      Pq.pqRecallProbe(spark, p, q, sampleN = 16, k = 5,
        nprobe = nprobe, rerank = rerank).recallAtK

    // ALL THREE CONDITIONS HOLD: 16 clusters >> 4 codewords (a),
    // nprobe=16 covers every cell (b), rerank 19 = cluster population
    // 304/16 (c). Measured: raw 0.5125, residual 1.0.
    val c16 = corpus(16)
    Pq.writePqIndex(c16, s"$root/win-raw", m = 4, k = 4, centroidK = 16)
    Pq.writePqIndex(c16, s"$root/win-res", m = 4, k = 4, centroidK = 16,
      residual = true)
    val winRaw = recall(s"$root/win-raw", c16, nprobe = 16, rerank = 19)
    val winRes = recall(s"$root/win-res", c16, nprobe = 16, rerank = 19)
    assert(winRes > winRaw,
      s"win regime inverted: raw=$winRaw residual=$winRes " +
        "(measured 0.5125 -> 1.0)")

    // CONDITIONS (a)+(b) FLIPPED: 8 clusters with a k=8 codeword
    // budget (codewords can BE cluster members) and centroidK=4
    // UNDER-resolving the clusters. Raw must win — the regime is a
    // knob, not a default, for exactly this case. Measured: raw
    // 0.5125 vs residual 0.4375.
    val c8 = corpus(8)
    Pq.writePqIndex(c8, s"$root/inv-raw", m = 4, k = 8, centroidK = 4)
    Pq.writePqIndex(c8, s"$root/inv-res", m = 4, k = 8, centroidK = 4,
      residual = true)
    val invRaw = recall(s"$root/inv-raw", c8, nprobe = 4, rerank = 19)
    val invRes = recall(s"$root/inv-res", c8, nprobe = 4, rerank = 19)
    assert(invRaw > invRes,
      s"inverse regime: raw must beat residual when codewords >= " +
        s"clusters and the coarse side under-resolves, got raw=$invRaw " +
        s"residual=$invRes (measured 0.5125 vs 0.4375)")

    // CONDITION (c) FLIPPED on the win fixture: rerank 8 < the
    // 19-member cluster population — the exact stage can no longer
    // recover within-cluster order, so residual's win degrades
    // (capacity-bound shortlist either way).
    val capRes = recall(s"$root/win-res", c16, nprobe = 16, rerank = 8)
    assert(capRes < winRes,
      s"rerank below cluster population must forfeit the full win: " +
        s"rerank8=$capRes vs rerank19=$winRes")
  }

  test("collected and distributed rerank modes are row-identical, " +
    "stored and external queries, nprobe 1 and 2, tight rerank") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val root = java.nio.file.Files.createTempDirectory("graft-pq2").toString
    Pq.writePqIndex(emb, root)
    val queryIds = Seq(0L, 1L, 2L, 3L)
    for (np <- Seq(1, 2)) {
      val collected = rows(Pq.pqKnn(spark, root, emb, queryIds, k = 5,
        nprobe = np, rerank = 8))
      val distributed = rows(Pq.pqKnn(spark, root, emb, queryIds, k = 5,
        nprobe = np, rerank = 8, collectShortlist = false))
      assert(collected == distributed, s"nprobe=$np")
      assert(collected.size == queryIds.size * 5)
    }
    // external midpoint queries (the q65 construction): no
    // self-exclusion, LUTs built on the fly
    val ext = emb.filter(col("vec_id") < 6)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .as[(Long, Array[Double])].collect().sortBy(_._1)
      .grouped(2).collect { case Array((ia, va), (ib, vb)) =>
        (ia * 1000 + ib, va.zip(vb).map { case (x, y) => (x + y) / 2 })
      }.toSeq.toDF("query_id", "embedding")
    val wc = rows(Pq.pqKnnWith(spark, root, emb, ext, k = 5, nprobe = 2,
      rerank = 8))
    val wd = rows(Pq.pqKnnWith(spark, root, emb, ext, k = 5, nprobe = 2,
      rerank = 8, collectShortlist = false))
    assert(wc == wd)
    assert(wc.size == 3 * 5)
    // an external query EQUAL to a stored vector legitimately finds
    // that row at sim 1.0 under an exhaustive rerank
    val n = emb.count().toInt
    val self = emb.filter(col("vec_id") === 0)
      .select(lit(9000L).as("query_id"), col("embedding"))
    val hit = rows(Pq.pqKnnWith(spark, root, emb, self, k = 1,
      nprobe = Similarity.DefaultCentroidK, rerank = n))
    assert(hit == Seq((9000L, 0L, 1, 1.0)))
  }

  test("PqEncode matches a driver-side model; ties break to the " +
    "smaller codeword index") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val root = java.nio.file.Files.createTempDirectory("graft-pq3").toString
    Pq.writePqIndex(emb, root)
    val meta = Pq.readPqMeta(spark, root)
    assert(meta.m == 8 && meta.k == 16 && meta.dim == 64)
    assert(meta.codebook.length == meta.k * meta.dim)
    val dsub = meta.dim / meta.m
    // driver-side reference encoding of a few vectors
    val got = spark.read.parquet(root)
      .filter(col("vec_id") < 20)
      .select("vec_id", "pq").as[(Long, Array[Byte])].collect().toMap
    val vecs = Similarity.asDouble(emb).filter(col("vec_id") < 20)
      .select("vec_id", "vec").as[(Long, Array[Double])].collect()
    assert(vecs.nonEmpty)
    for ((id, v) <- vecs) {
      val expect = (0 until meta.m).map { j =>
        val dists = (0 until meta.k).map { c =>
          (0 until dsub).map { i =>
            val t = v(j * dsub + i) - meta.codebook(c * meta.dim + j * dsub + i)
            t * t
          }.sum
        }
        dists.indexOf(dists.min).toByte // indexOf: FIRST minimum
      }.toArray
      assert(got(id).sameElements(expect), s"vec $id")
    }
    // tie-break: two identical codewords -> the smaller index wins
    val tied = spark.range(1).select(graft.functions.PqEncode(
      typedLit(Seq(0.5, 0.5)),
      typedLit(Seq(1.0, 1.0, 1.0, 1.0)), // k=2 IDENTICAL codewords
      1, 2).as("pq")).head().getAs[Array[Byte]](0)
    assert(tied.sameElements(Array[Byte](0)))
  }

  test("stage-1 candidate scan reads codes only; the rerank vec read " +
    "is an id IN pushdown in collected mode") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val root = java.nio.file.Files.createTempDirectory("graft-pq4").toString
    Pq.writePqIndex(emb, root)
    val meta = Pq.readPqMeta(spark, root)
    val index = spark.read.parquet(root)
    val all = Similarity.asDouble(emb)
    val queries = all.filter(col("vec_id").isInCollection(Seq(0L, 1L)))
      .select(col("vec_id").as("query_id"), col("vec").as("vec_q"),
        col("nrm").as("nrm_q"))
    val probes = Similarity.rankRoutes(
      Similarity.readCentroidSidecar(spark, root), queries, 2,
      Seq("query_id", "centroid_id", "vec_q", "nrm_q"))
    val probed = probes.select("centroid_id").distinct()
      .collect().map(_.getString(0)).toSeq
    val stage1 = Pq.pqCandidates(index, probes, meta, probed, "vec_id",
      excludeSelf = true, broadcastProbes = true)
    val scans = stage1.queryExecution.executedPlan.toString
      .linesIterator.filter(_.contains("ReadSchema")).toSeq
    // the index-side scan reads the m-byte codes + norm, and cannot
    // read any vector column (the index doesn't store one); the tiny
    // probe-resolution scan legitimately reads vec_q
    val indexScan = scans.filter(_.contains("pq:binary"))
    assert(indexScan.nonEmpty, scans)
    assert(indexScan.forall(l => !l.contains("vec:array")), scans)
    // collected-mode rerank: the corpus vec read carries the id IN
    // pushdown (row-group stats skip candidate-free pages)
    val served = Pq.pqKnn(spark, root, emb, Seq(0L, 1L), k = 5, nprobe = 2,
      rerank = 8)
    val plan = served.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.linesIterator.exists(l =>
        l.contains("PushedFilters") && l.contains("In(vec_id")), plan)
  }

  test("geometry refusals are loud; empty query set flows through " +
    "with the right schema") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    // m must divide dim
    val e1 = intercept[Exception] {
      Pq.writePqIndex(emb,
        java.nio.file.Files.createTempDirectory("graft-pq5").toString, m = 7)
    }
    assert(messages(e1).exists(_.contains("not divisible")), messages(e1))
    // a codebook larger than the corpus refuses (degenerate)
    val e2 = intercept[Exception] {
      Pq.writePqIndex(emb.limit(3),
        java.nio.file.Files.createTempDirectory("graft-pq6").toString)
    }
    assert(messages(e2).exists(_.contains("codebook")), messages(e2))
    // ADC refuses a lut/codes geometry mismatch and an out-of-range code
    val e3 = intercept[Exception] {
      spark.range(1).select(graft.functions.PqAdc(
        typedLit(Array[Byte](0, 0)),
        typedLit(Seq(1.0, 2.0, 3.0)), 2).as("s")).collect()
    }
    assert(messages(e3).exists(_.contains("disagree on geometry")),
      messages(e3))
    val e4 = intercept[Exception] {
      spark.range(1).select(graft.functions.PqAdc(
        typedLit(Array[Byte](3)),
        typedLit(Seq(1.0, 2.0)), 2).as("s")).collect()
    }
    assert(messages(e4).exists(_.contains("codebook geometry")), messages(e4))
    // empty query set: empty result, correct schema, BOTH rerank modes
    val root = java.nio.file.Files.createTempDirectory("graft-pq7").toString
    Pq.writePqIndex(emb, root)
    for (mode <- Seq(true, false)) {
      val empty = Pq.pqKnn(spark, root, emb, Seq(99999L), k = 5,
        collectShortlist = mode)
      assert(empty.columns.toSeq ==
        Seq("query_id", "neighbor_id", "rank", "sim"))
      assert(empty.count() == 0, s"mode=$mode")
    }
  }

  test("codes >= 128 survive the signed-byte store and unsigned " +
    "read-back (k=200): exhaustive probe row-identical to brute force") {
    // every other PQ case uses k=16, so no stored code ever exceeds
    // 127 and PqEncode's `toByte` narrowing / PqAdc's `& 0xFF` widening
    // never actually wrap — this is the one case that drives them
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val root = java.nio.file.Files.createTempDirectory("graft-pqu").toString
    Pq.writePqIndex(emb, root, k = 200)
    // self-validating: the index must really hold wrapped codes (a
    // signed byte < 0 IS a code >= 128)
    val wrapped = spark.read
      .parquet(Similarity.ivfDataRoot(spark, root))
      .select("pq").collect()
      .exists(_.getAs[Array[Byte]](0).exists(_ < 0))
    assert(wrapped, "fixture produced no code >= 128 — the sign-wrap " +
      "path is still unexercised; raise k")
    val queryIds = Seq(0L, 1L, 2L, 3L)
    val n = emb.count().toInt
    val brute = rows(Similarity.bruteForceKnn(emb, queryIds, k = 5))
    // a wrap bug reads code 128+ as negative, indexes the LUT/codebook
    // out of range or at the wrong codeword, and breaks row identity
    val full = rows(Pq.pqKnn(spark, root, emb, queryIds, k = 5,
      nprobe = Similarity.DefaultCentroidK, rerank = n))
    assert(full == brute)
  }

  test("writePqIndex refuses to destroy an IVF corpus layout (flat or " +
    "generational) but rebuilds a previous PQ index in place") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    // flat IVF layout: _centroids sidecar, no _meta — the overwrite
    // would replace the corpus vectors with 8-byte codes
    val ivfRoot = java.nio.file.Files.createTempDirectory("graft-pq8").toString
    Similarity.writeIvfPartitioned(emb, ivfRoot)
    val e1 = intercept[IllegalArgumentException] {
      Pq.writePqIndex(emb, ivfRoot)
    }
    assert(e1.getMessage.contains("IVF corpus layout"), e1.getMessage)
    // generational layout: the _current pointer marks live data under
    // a gen dir — same refusal as writeIvfPartitioned's own guard
    assert(Similarity.rotateIvf(spark, ivfRoot, rotationId = "pq-guard"))
    val e2 = intercept[IllegalArgumentException] {
      Pq.writePqIndex(emb, ivfRoot)
    }
    assert(e2.getMessage.contains("generational layout") &&
      e2.getMessage.contains("rotatePq"), e2.getMessage)
    // a PQ index (BOTH sidecars) is derived data — rebuild in place is
    // the supported refresh path and yields an identical probe result
    val pqRoot = java.nio.file.Files.createTempDirectory("graft-pq9").toString
    Pq.writePqIndex(emb, pqRoot)
    val before = rows(Pq.pqKnn(spark, pqRoot, emb, Seq(0L, 1L), k = 5,
      nprobe = 2, rerank = 8))
    Pq.writePqIndex(emb, pqRoot)
    val after = rows(Pq.pqKnn(spark, pqRoot, emb, Seq(0L, 1L), k = 5,
      nprobe = 2, rerank = 8))
    assert(before == after)
    assert(before.nonEmpty)
  }

  test("shortlistBloomFpp pre-filters the distributed stage-2 corpus " +
    "read with a broadcast Bloom: row-identical to the plain " +
    "distributed and collected modes, under AQE's broadcast pick AND " +
    "under a forced sort-merge join (the regime the bloom exists for)") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val root = java.nio.file.Files.createTempDirectory("graft-pqbf").toString
    Pq.writePqIndex(emb, root)
    val queryIds = Seq(0L, 1L, 2L, 3L)
    val collected = rows(Pq.pqKnn(spark, root, emb, queryIds, k = 5,
      nprobe = 2, rerank = 8))
    val bloomed = Pq.pqKnn(spark, root, emb, queryIds, k = 5,
      nprobe = 2, rerank = 8, collectShortlist = false,
      shortlistBloomFpp = 0.03)
    // the bloom probe sits in the plan (the UDF filter above the
    // corpus side); a false positive only re-admits a row the join
    // drops, so the rows stay identical
    assert(bloomed.queryExecution.executedPlan.toString.contains("UDF"),
      "no bloom filter in the distributed plan")
    assert(rows(bloomed) == collected)
    // the regime the knob exists for: a shortlist past the broadcast
    // threshold joins sort-merge and the whole corpus (vec included)
    // would shuffle — force that shape and prove the bloom keeps rows
    // identical there too
    val thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val aqeThresh = spark.conf
      .getOption("spark.sql.adaptive.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val smj = rows(Pq.pqKnn(spark, root, emb, queryIds, k = 5,
        nprobe = 2, rerank = 8, collectShortlist = false,
        shortlistBloomFpp = 0.03))
      assert(smj == collected)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
      aqeThresh.fold(spark.conf
        .unset("spark.sql.adaptive.autoBroadcastJoinThreshold"))(v =>
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", v))
    }
    // SQ8's distributed rerank shares the same rerankExact bloom arm
    val ivfRoot = java.nio.file.Files.createTempDirectory("graft-pqbf2")
      .toString
    Similarity.writeIvfPartitioned(emb, ivfRoot)
    val sq8c = Similarity.ivfKnnQuantized(spark, ivfRoot, queryIds,
      k = 5, nprobe = 2, rerank = 8)
    val sq8b = Similarity.ivfKnnQuantized(spark, ivfRoot, queryIds,
      k = 5, nprobe = 2, rerank = 8, collectShortlist = false,
      shortlistBloomFpp = 0.03)
    assert(rows(sq8b) == rows(sq8c))
    // collected mode + bloom refuses loudly (the IN pushdown already
    // prunes there — a bloom would be silent pure overhead)
    val e = intercept[IllegalArgumentException] {
      Pq.pqKnn(spark, root, emb, queryIds, k = 5, nprobe = 2,
        rerank = 8, collectShortlist = true, shortlistBloomFpp = 0.03)
        .collect()
    }
    assert(e.getMessage.contains("DISTRIBUTED rerank only"), e.getMessage)
  }

  test("writePqIndex refuses an UNMARKED non-empty directory — a plain " +
    "dataset (e.g. the raw corpus on a typo'd path) survives untouched; " +
    "an empty directory and a torn build remain buildable") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    // the raw corpus itself: no sidecars, no partition dirs — the one
    // destructive case the older guards (generational / IVF corpus /
    // ledgered index) never caught
    val raw = java.nio.file.Files.createTempDirectory("graft-pqg1").toString
    emb.write.mode("overwrite").parquet(raw)
    val n = emb.count()
    val e1 = intercept[IllegalArgumentException] {
      Pq.writePqIndex(emb, raw)
    }
    assert(e1.getMessage.contains("plain dataset"), e1.getMessage)
    assert(spark.read.parquet(raw).count() == n,
      "the refused overwrite must leave the data intact")
    // an EMPTY existing directory is a fine build target
    val empty = java.nio.file.Files.createTempDirectory("graft-pqg2").toString
    Pq.writePqIndex(emb, empty)
    assert(rows(Pq.pqKnn(spark, empty, emb, Seq(0L), k = 3,
      nprobe = 2, rerank = 8)).nonEmpty)
    // a TORN build (partition dirs landed, crash before the sidecars)
    // must stay rebuildable — that retry is the reason the guard keys
    // on centroid_id= dirs rather than refusing everything unmarked
    val f = Dedup.fsFor(spark, empty)
    f.delete(new org.apache.hadoop.fs.Path(s"$empty/_meta"), true)
    f.delete(new org.apache.hadoop.fs.Path(s"$empty/_centroids"), true)
    Pq.writePqIndex(emb, empty)
    assert(rows(Pq.pqKnn(spark, empty, emb, Seq(0L), k = 3,
      nprobe = 2, rerank = 8)).nonEmpty)
    // a `_meta`-carrying NON-PQ layout (the MinHash index and the
    // bucketed dedup history also use a `_meta` geometry sidecar) must
    // fall through to the catch-all, not be mistaken for a rebuildable
    // PQ index — the PQ gate keys on BOTH sidecars because a real PQ
    // build writes _centroids before _meta
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val mh = java.nio.file.Files.createTempDirectory("graft-pqg4").toString
    Dedup.writeMinhashIndex(docs, mh)
    val mhRows = spark.read.parquet(mh).count()
    val e2 = intercept[IllegalArgumentException] {
      Pq.writePqIndex(emb, mh)
    }
    assert(e2.getMessage.contains("plain dataset"), e2.getMessage)
    assert(spark.read.parquet(mh).count() == mhRows,
      "the refused overwrite must leave the minhash index intact")
    // the EARLIER tear: a first build that died DURING the partitioned
    // write leaves only the committer's hidden _temporary residue —
    // no visible data, so the retry must build, not demand a manual rm
    val torn = java.nio.file.Files.createTempDirectory("graft-pqg3").toString
    f.mkdirs(new org.apache.hadoop.fs.Path(s"$torn/_temporary/0"))
    Pq.writePqIndex(emb, torn)
    assert(rows(Pq.pqKnn(spark, torn, emb, Seq(0L), k = 3,
      nprobe = 2, rerank = 8)).nonEmpty)
  }
}
