package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The PQ index's maintenance lifecycle ([[Pq]] over the
  * [[EpochLedger]]/generation protocols): O(novel) epoch appends that
  * converge to exactly the encode-with-the-same-codebook state under
  * crash/retry, reader-atomic re-train rotation (with flat→generational
  * migration that retires BOTH sidecars), partition-scoped compaction
  * that is pure file coalescing, the closed-loop [[Pq.pqMaintain]]
  * policy with the shared recall breaker, and the read-only
  * [[Pq.pqFsck]] doctor's PQ-specific findings.
  */
class PqLifecycleSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  private def corpus() = {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val ids = emb.select("vec_id").orderBy("vec_id")
      .collect().map(_.getLong(0))
    val splitAt = ids(ids.length / 2)
    (emb, emb.filter(col("vec_id") < splitAt),
      emb.filter(col("vec_id") >= splitAt), ids, splitAt)
  }

  /** Stored index rows, code bytes included — the append/compaction
    * identity is at the byte level, not just ids.
    */
  private def rows(p: String): Set[(Long, String, Seq[Byte], Double)] =
    spark.read.parquet(p)
      .select("vec_id", "centroid_id", "pq", "nrm").collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getAs[Array[Byte]](2).toSeq, r.getDouble(3))).toSet

  private def knn(idxPath: String,
      emb: org.apache.spark.sql.DataFrame,
      queryIds: Seq[Long], np: Int = 2): Set[(Long, Long, Int, Double)] =
    Pq.pqKnn(spark, idxPath, emb, queryIds, k = 5, nprobe = np,
        rerank = 8)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .toSet

  test("appendPqEpoch encodes with the STORED codebook — grown index == " +
    "base rows + same-codebook-encoded novel rows; replay returns false " +
    "and mutates nothing; probes resolve the grown index") {
    val (emb, epoch0, novel, ids, splitAt) = corpus()
    val root = java.nio.file.Files.createTempDirectory("graft-pqep").toString
    Pq.writePqIndex(epoch0, s"$root/grown")
    val baseRows = rows(s"$root/grown")
    val meta = Pq.readPqMeta(spark, s"$root/grown")

    assert(Pq.appendPqEpoch(novel, s"$root/grown", epochId = "e1"))
    assert(EpochLedger.applied(spark, s"$root/grown", "e1"))

    // the append's codes come from the BASE index's codebook (never a
    // retrain): grown == base ∪ encodeForLayout(novel, base meta)
    val expectedNovel = Pq.encodeForLayout(novel, s"$root/grown", meta,
        "vec_id")
      .collect()
      .map(r => (r.getLong(0), r.getString(3),
        r.getAs[Array[Byte]](1).toSeq, r.getDouble(2))).toSet
    assert(rows(s"$root/grown") == baseRows ++ expectedNovel)

    // replay: ledger hit, no mutation, returns false
    assert(!Pq.appendPqEpoch(novel, s"$root/grown", epochId = "e1"))
    assert(rows(s"$root/grown") == baseRows ++ expectedNovel)

    // probes see the appended rows: a novel-id query answers, and at
    // exhaustive settings the grown index's probe is row-identical to
    // brute force over the full corpus
    val queryIds = Seq(ids.head, splitAt, ids.last)
    val n = emb.count().toInt
    val exhaustive = Pq.pqKnn(spark, s"$root/grown", emb, queryIds,
        k = 5, nprobe = Similarity.DefaultCentroidK, rerank = n)
      .select("query_id", "neighbor_id", "rank", "sim").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .toSet
    val brute = Similarity.bruteForceKnn(emb, queryIds, k = 5)
      .select("query_id", "neighbor_id", "rank", "sim").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .toSet
    assert(exhaustive == brute)
  }

  test("append crash injection at every protocol point: same-epochId " +
    "retry converges, with no duplicates") {
    val (_, epoch0, novel, _, _) = corpus()
    for (fp <- Seq("staged", "committed", "move-file", "moved")) {
      val root = java.nio.file.Files.createTempDirectory("graft-pqcr").toString
      Pq.writePqIndex(epoch0, s"$root/grown")
      val preRows = rows(s"$root/grown")
      val meta = Pq.readPqMeta(spark, s"$root/grown")
      val expectedNovel = Pq.encodeForLayout(novel, s"$root/grown", meta,
          "vec_id")
        .collect()
        .map(r => (r.getLong(0), r.getString(3),
          r.getAs[Array[Byte]](1).toSeq, r.getDouble(2))).toSet

      val ex = intercept[RuntimeException] {
        Pq.appendPqEpochStaged(novel, s"$root/grown", "e1", "vec_id",
          failpoint = p =>
            if (p == fp) throw new RuntimeException(s"injected at $p"))
      }
      assert(ex.getMessage.contains("injected"), fp)
      assert(!EpochLedger.applied(spark, s"$root/grown", "e1"), fp)
      if (fp == "staged") assert(rows(s"$root/grown") == preRows, fp)

      val appliedNow = Pq.appendPqEpoch(novel, s"$root/grown", "e1")
      assert(appliedNow == (fp == "staged"), fp)
      assert(rows(s"$root/grown") == preRows ++ expectedNovel, fp)

      assert(!Pq.appendPqEpoch(novel, s"$root/grown", "e1"), fp)
      assert(rows(s"$root/grown") == preRows ++ expectedNovel, fp)
      val f = Dedup.fsFor(spark, s"$root/grown")
      assert(!f.exists(
        new org.apache.hadoop.fs.Path(s"$root/grown/_rotate/e1")), fp)
    }
  }

  test("rotatePq: reader-atomic re-train — flat index migrates to " +
    "generational with BOTH sidecars retired, probes answer through the " +
    "pointer with the new codebook, replay refuses, appends land in the " +
    "current generation") {
    val (emb, epoch0, novel, ids, splitAt) = corpus()
    val root = java.nio.file.Files.createTempDirectory("graft-pqrot").toString
    val idx = s"$root/idx"
    Pq.writePqIndex(epoch0, idx)
    assert(Pq.readPqMeta(spark, idx).k == Pq.DefaultK)

    // re-train over the FULL corpus with a different codebook size —
    // the rotation must be observable through readPqMeta
    assert(Pq.rotatePq(spark, idx, "rot1", emb, k = 24))
    val f = Dedup.fsFor(spark, idx)
    assert(f.exists(new org.apache.hadoop.fs.Path(s"$idx/_current")))
    assert(Pq.readPqMeta(spark, idx).k == 24)
    // the flat era is fully retired: data dirs AND both sidecars moved
    // under _retired (a stale root-level _meta would shadow nothing —
    // readers resolve the pointer — but fsck hygiene wants it gone)
    for (n <- Seq("_centroids", "_meta"))
      assert(!f.exists(new org.apache.hadoop.fs.Path(s"$idx/$n")), n)
    assert(f.listStatus(new org.apache.hadoop.fs.Path(idx))
      .forall(st => !st.getPath.getName.startsWith("centroid_id=")))
    assert(f.exists(
      new org.apache.hadoop.fs.Path(s"$idx/_retired/rot1.pre-rotate/_meta")))

    // the rotated index answers exactly like a fresh deterministic
    // build of the same geometry at its own path
    Pq.writePqIndex(emb, s"$root/fresh", k = 24)
    val queryIds = Seq(ids.head, splitAt, ids.last)
    assert(knn(idx, emb, queryIds) == knn(s"$root/fresh", emb, queryIds))

    // replay refuses; an epoch append lands INSIDE the generation
    assert(!Pq.rotatePq(spark, idx, "rot1", emb, k = 24))
    assert(Pq.appendPqEpoch(
      novel.withColumn("vec_id", col("vec_id") + 1000000L), idx, "e2"))
    val gen = Similarity.ivfDataRoot(f, idx)
    assert(gen != idx && gen.contains("_gen-"))
    assert(spark.read.parquet(gen)
      .filter(col("vec_id") >= 1000000L).count() > 0)
  }

  test("compactPqPartitions is pure file coalescing: fragmented dirs " +
    "rewrite to one file, rows and probes byte-identical, O(fragmented) " +
    "only") {
    val (emb, epoch0, novel, ids, splitAt) = corpus()
    val root = java.nio.file.Files.createTempDirectory("graft-pqpc").toString
    val idx = s"$root/idx"
    Pq.writePqIndex(epoch0, idx)
    assert(Pq.appendPqEpoch(novel, idx, "e1"))
    val pre = rows(idx)
    val preKnn = knn(idx, emb, Seq(ids.head, splitAt, ids.last))
    val statsPre = Similarity.ivfPartitionStats(spark, idx)
    assert(statsPre.exists(_._2 > 1),
      "the epoch append should fragment at least one partition")

    val n = Pq.compactPqPartitions(spark, idx, "pc1",
      maxFilesPerPartition = 1)
    assert(n == statsPre.count(_._2 > 1),
      "compaction must rewrite exactly the over-threshold dirs")
    assert(Similarity.ivfPartitionStats(spark, idx).forall(_._2 == 1))
    assert(rows(idx) == pre)
    assert(knn(idx, emb, Seq(ids.head, splitAt, ids.last)) == preKnn)
    // replay: ledger hit, zero dirs
    assert(Pq.compactPqPartitions(spark, idx, "pc1",
      maxFilesPerPartition = 1) == 0)
  }

  test("pqMaintain: compact + ledger arms fire on a fragmented index " +
    "and converge (second tick is a listing-only no-op); probes " +
    "unchanged") {
    val (emb, epoch0, novel, ids, splitAt) = corpus()
    val root = java.nio.file.Files.createTempDirectory("graft-pqmt").toString
    val idx = s"$root/idx"
    Pq.writePqIndex(epoch0, idx)
    assert(Pq.appendPqEpoch(novel, idx, "e1"))
    val preKnn = knn(idx, emb, Seq(ids.head, splitAt, ids.last))

    val m1 = Pq.pqMaintain(spark, idx, "m1", emb,
      Pq.PqMaintainPolicy(maxFilesPerPartition = 1, ledgerTailMax = 1))
    assert(m1.actions.exists(_.startsWith("compact-partitions(")),
      m1.actions.mkString("; "))
    assert(m1.actions.exists(_.startsWith("compact-ledger(")),
      m1.actions.mkString("; "))
    assert(knn(idx, emb, Seq(ids.head, splitAt, ids.last)) == preKnn)

    val m2 = Pq.pqMaintain(spark, idx, "m2", emb,
      Pq.PqMaintainPolicy(maxFilesPerPartition = 1, ledgerTailMax = 1))
    assert(m2.actions.isEmpty, m2.actions.mkString("; "))
  }

  test("pqMaintain recall breaker: an unreachable floor rotates ONCE, " +
    "arms, and is skipped on the next tick; an append re-arms it") {
    val (emb, epoch0, _, _, _) = corpus()
    val root = java.nio.file.Files.createTempDirectory("graft-pqbrk").toString
    val idx = s"$root/idx"
    Pq.writePqIndex(epoch0, idx)
    // recall@k can never exceed 1.0 < 1.01: the floor is structurally
    // unreachable, so the rotate arm must fire exactly once and fence
    val policy = Pq.PqMaintainPolicy(recallFloor = Some(1.01),
      recallSampleN = 4, k = 3, nprobe = 1)

    val t1 = Pq.pqMaintain(spark, idx, "t1", emb, policy)
    assert(t1.actions.exists(_.startsWith("rotate(recall")),
      t1.actions.mkString("; "))
    assert(t1.actions.exists(
      _.contains("recall-floor-unmet-after-rotation")),
      t1.actions.mkString("; "))

    val t2 = Pq.pqMaintain(spark, idx, "t2", emb, policy)
    assert(t2.actions.exists(_.startsWith("rotate-skipped(")),
      t2.actions.mkString("; "))
    assert(!t2.actions.exists(_.startsWith("rotate(")),
      t2.actions.mkString("; "))

    // new data moves the state token: the breaker re-arms the rotate
    // arm (one more measured attempt)
    assert(Pq.appendPqEpoch(
      emb.filter(col("vec_id") % 7 === 0)
        .withColumn("vec_id", col("vec_id") + 2000000L), idx, "e-rearm"))
    val t3 = Pq.pqMaintain(spark, idx, "t3", emb, policy)
    assert(t3.actions.exists(_.startsWith("rotate(recall")),
      t3.actions.mkString("; "))
  }

  test("pqMaintain skew breaker: a skew the deterministic re-train " +
    "cannot move rotates ONCE with the INHERITED geometry, arms, and " +
    "is skipped on the next tick; an append re-arms it") {
    val (emb, _, _, _, _) = corpus()
    val root = java.nio.file.Files.createTempDirectory("graft-pqskw").toString
    val idx = s"$root/idx"
    // NON-default geometry: the rotate arm must inherit it, not
    // rewrite the deployment to the compile-time defaults
    Pq.writePqIndex(emb, idx, m = 4, k = 8, centroidK = 4)
    val skew0 = Similarity.ivfSkewRatio(spark, idx)
    assert(skew0 > 1.001,
      s"fixture produced a perfectly balanced index (skew=$skew0) — " +
        "the scenario needs SOME imbalance")
    // a threshold strictly between 1 and the measured skew: the arm
    // fires, and — same corpus, same deterministic sample — the
    // re-train provably reproduces the identical index, so the
    // post-rotation skew still misses and the breaker must arm
    val policy = Pq.PqMaintainPolicy(
      skewThreshold = (1.0 + skew0) / 2.0)

    val t1 = Pq.pqMaintain(spark, idx, "s1", emb, policy)
    assert(t1.actions.exists(_.startsWith("rotate(skew")),
      t1.actions.mkString("; "))
    assert(t1.actions.exists(_.contains("skew-unmet-after-rotation")),
      t1.actions.mkString("; "))
    // the rotation kept the index's own geometry
    val mt = Pq.readPqMeta(spark, idx)
    assert(mt.m == 4 && mt.k == 8, s"geometry rewritten: $mt")
    assert(spark.read.parquet(s"${Similarity.ivfDataRoot(
      Dedup.fsFor(spark, idx), idx)}/_centroids").count() == 4)

    val t2 = Pq.pqMaintain(spark, idx, "s2", emb, policy)
    assert(t2.actions.exists(_.startsWith("rotate-skipped(skew")),
      t2.actions.mkString("; "))
    assert(!t2.actions.exists(_.startsWith("rotate(")),
      t2.actions.mkString("; "))

    // new data moves the state token: the breaker no longer FENCES —
    // whether the arm then fires depends on the post-append skew (the
    // append itself moves partition bytes), so assert the re-arm
    // property directly: never "rotate-skipped", and if the threshold
    // still trips, the rotation runs again
    assert(Pq.appendPqEpoch(
      emb.filter(col("vec_id") % 7 === 0)
        .withColumn("vec_id", col("vec_id") + 3000000L), idx, "e-skw"))
    val skew2 = Similarity.ivfSkewRatio(spark, idx)
    val t3 = Pq.pqMaintain(spark, idx, "s3", emb, policy)
    assert(!t3.actions.exists(_.startsWith("rotate-skipped(skew")),
      t3.actions.mkString("; "))
    if (skew2 > policy.skewThreshold)
      assert(t3.actions.exists(_.startsWith("rotate(skew")),
        s"skew2=$skew2 " + t3.actions.mkString("; "))
  }

  test("trainIters (per-subspace Lloyd): deterministic, recall >= the " +
    "sampled codebook at equal knobs, exhaustive probe still exact, " +
    "and the trainedness is INHERITED through a pqMaintain rotation") {
    val (emb, _, _, _, _) = corpus()
    val root = java.nio.file.Files.createTempDirectory("graft-pqtr").toString
    Pq.writePqIndex(emb, s"$root/sampled")
    Pq.writePqIndex(emb, s"$root/trained", trainIters = 4)
    val mtS = Pq.readPqMeta(spark, s"$root/sampled")
    val mtT = Pq.readPqMeta(spark, s"$root/trained")
    assert(mtS.trainIters == 0 && mtT.trainIters == 4)
    assert(mtS.codebook.toSeq != mtT.codebook.toSeq,
      "training left the sampled codebook untouched")
    // the recall claim is measured where codebook quality MATTERS: a
    // CLUSTERED corpus (the fixture's random near-orthogonal vectors
    // are the quantizer's worst case — there, tight-rerank recall is
    // tie-break noise either way). 8 tight clusters = 8 codewords per
    // subspace, rerank = cluster size: the ADC stage's job is to put
    // the query's OWN cluster in the shortlist — the sample's
    // arbitrary corpus-slice codewords confuse clusters, Lloyd's
    // cluster-mean codewords separate them. (Within-cluster order is
    // jitter below codeword resolution for both — that's what the
    // cluster-sized rerank budget neutralizes.)
    val cdim = 16
    def cvec(id: Long): Array[Float] = Array.tabulate(cdim) { e =>
      val ctr = (Math.floorMod(
        scala.util.hashing.byteswap64((id % 8) * cdim + e), 1001L) -
        500L) / 500.0
      val jit = (Math.floorMod(
        scala.util.hashing.byteswap64(id * cdim + e + 7777L), 1001L) -
        500L) / 2000.0
      (ctr + jit).toFloat
    }
    val clustered = (0L until 304L).map(i => (i, cvec(i)))
      .toDF("vec_id", "embedding")
    Pq.writePqIndex(clustered, s"$root/csampled", m = 4, k = 8,
      centroidK = 4)
    Pq.writePqIndex(clustered, s"$root/ctrained", m = 4, k = 8,
      centroidK = 4, trainIters = 4)
    def recallC(p: String) = Pq.pqRecallProbe(spark, p, clustered,
      sampleN = 16, k = 5, nprobe = 4, rerank = 38).recallAtK
    val (rs, rt) = (recallC(s"$root/csampled"), recallC(s"$root/ctrained"))
    assert(rt > rs,
      s"training must IMPROVE recall on the clustered fixture " +
        s"(measured 0.8375 -> 1.0 — both deterministic), got $rs -> $rt")
    // exhaustive settings stay exact regardless of the codebook (the
    // rerank decides) — training cannot break correctness, only help
    // the shortlist
    val qids = Seq(0L, 1L)
    val n = emb.count().toInt
    val brute = Similarity.bruteForceKnn(emb, qids, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    val exact = Pq.pqKnn(spark, s"$root/trained", emb, qids, k = 5,
        nprobe = Similarity.DefaultCentroidK, rerank = n)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(exact.sorted == brute.sorted)
    // determinism: a rebuild reproduces the codebook bit-identically —
    // the property that makes inherit-through-rotation meaningful
    Pq.writePqIndex(emb, s"$root/trained2", trainIters = 4)
    assert(Pq.readPqMeta(spark, s"$root/trained2").codebook.toSeq ==
      mtT.codebook.toSeq)
    // a policy rotation with DEFAULT knobs inherits trainIters=4 and
    // (same corpus, deterministic training) reproduces the serving
    // codebook instead of reverting it to the sample
    val m1 = Pq.pqMaintain(spark, s"$root/trained", "tr1", emb,
      Pq.PqMaintainPolicy(recallFloor = Some(1.01), recallSampleN = 4,
        k = 3, nprobe = 1))
    assert(m1.actions.exists(_.startsWith("rotate(recall")),
      m1.actions.mkString("; "))
    val mtR = Pq.readPqMeta(spark, s"$root/trained")
    assert(mtR.trainIters == 4)
    assert(mtR.codebook.toSeq == mtT.codebook.toSeq,
      "the inherited rotation did not reproduce the trained codebook")
  }

  test("residual encoding (IVFADC): exhaustive probe exact over built + " +
    "appended halves, both shortlist modes row-identical, codes actually " +
    "differ from raw, recall beats raw in the clusters>codewords regime, " +
    "residual INHERITED through a pqMaintain rotation and MIGRATED by " +
    "override") {
    val (emb, epoch0, epoch1, _, _) = corpus()
    val root = java.nio.file.Files.createTempDirectory("graft-pqres").toString
    val idx = s"$root/res"
    Pq.writePqIndex(epoch0, idx, residual = true)
    assert(Pq.readPqMeta(spark, idx).residual)
    assert(Pq.appendPqEpoch(epoch1, idx, "e1"))
    // exhaustive settings are exact over BOTH halves: the correction
    // term + ADC stage may reorder the shortlist, the exact rerank
    // decides — residual cannot break correctness
    val qids = Seq(0L, 1L, 2L, 3L)
    val n = emb.count().toInt
    val brute = Similarity.bruteForceKnn(emb, qids, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    val exact = Pq.pqKnn(spark, idx, emb, qids, k = 5,
        nprobe = Similarity.DefaultCentroidK, rerank = n)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(exact.sorted == brute.sorted)
    // the serving modes agree through the residual path too (the
    // correction term rides the probe rows into BOTH rerank placements)
    for (np <- Seq(1, 2)) {
      val collected = knn(idx, emb, qids, np)
      val distributed = Pq.pqKnn(spark, idx, emb, qids, k = 5,
          nprobe = np, rerank = 8, collectShortlist = false)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
        .toSet
      assert(collected == distributed, s"nprobe=$np")
    }
    // the EXTERNAL serving path rides residual too: pqKnnWith keeps
    // cvec on the probe rows and applies the qc correction for
    // never-stored vectors — exhaustive settings row-identical to
    // brute force, and the tight shortlist modes agree with each other
    import spark.implicits._
    val ext = emb.filter(col("vec_id") < 6)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .as[(Long, Array[Double])].collect().sortBy(_._1)
      .grouped(2).collect { case Array((ia, va), (ib, vb)) =>
        (ia * 1000 + ib, va.zip(vb).map { case (x, y) => (x + y) / 2 })
      }.toSeq.toDF("query_id", "embedding")
    val wBrute = Similarity.bruteForceKnnWith(emb, ext, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    val wExact = Pq.pqKnnWith(spark, idx, emb, ext, k = 5,
        nprobe = Similarity.DefaultCentroidK, rerank = n)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(wExact.sorted == wBrute.sorted)
    for (np <- Seq(1, 2)) {
      val wc = Pq.pqKnnWith(spark, idx, emb, ext, k = 5, nprobe = np,
          rerank = 8)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
        .toSet
      val wd = Pq.pqKnnWith(spark, idx, emb, ext, k = 5, nprobe = np,
          rerank = 8, collectShortlist = false)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
        .toSet
      assert(wc == wd, s"external nprobe=$np")
    }
    // a NULL embedding rides the raw path's contract through residual
    // too: the row stores a null code instead of crashing the build —
    // the dimension guard passes nulls through (its raise_error
    // branch would otherwise fire with a NULL message)
    val withNull = epoch0.unionByName(
      epoch0.limit(1).select(lit(99999L).as("vec_id"),
        lit(null).cast("array<float>").as("embedding")),
      allowMissingColumns = true)
    val nidx = s"$root/resnull"
    Pq.writePqIndex(withNull, nidx, residual = true)
    val nullRow = spark.read.parquet(nidx)
      .filter(col("vec_id") === 99999L).select("pq").collect()
    assert(nullRow.length == 1 && nullRow(0).isNullAt(0))
    // a wrong-dimension append refuses with a DIMENSION diagnosis —
    // never the misleading null-element error a silent zip_with
    // null-pad would surface. Today DotProduct.sameDim fires first
    // (at centroid assignment); residualEncode's own guard backstops
    // the subtraction if assignment algebra ever changes
    val bad = Seq((9999L, Array.fill(8)(0.5f))).toDF("vec_id", "embedding")
    val badEx = intercept[Throwable] {
      Pq.appendPqEpoch(bad, idx, "ebad")
    }
    def messages(t: Throwable): String =
      if (t == null) "" else s"${t.getMessage}\n${messages(t.getCause)}"
    assert(messages(badEx).contains("dimension mismatch") ||
        messages(badEx).contains("pq residual encode"),
      messages(badEx).take(500))
    // the codes are NOT the raw encoding under a raw codebook — the
    // flag engaged the subtraction on both the build and append paths
    // (a silent raw fallback would still pass every assertion above:
    // exhaustive rerank hides it)
    val rawIdx = s"$root/raw"
    Pq.writePqIndex(epoch0, rawIdx)
    Pq.appendPqEpoch(epoch1, rawIdx, "e1")
    val rawCodes = rows(rawIdx).map(t => (t._1, t._3))
    val resCodes = rows(idx).map(t => (t._1, t._3))
    assert(rawCodes.map(_._1) == resCodes.map(_._1),
      "same ids either way")
    assert(rawCodes != resCodes,
      "residual build produced byte-identical codes to the raw build — " +
        "the flag did not engage")
    // recall, measured in the regime the knob EXISTS for (the IVFADC
    // claim): MORE clusters than codewords, with the coarse geometry
    // resolving the clusters — 16 tight clusters, one coarse centroid
    // per cluster (centroidK=16), but only k=4 codewords per subspace.
    // Raw codes must describe 16 base directions with 4 codewords and
    // fail; residuals are the small within-cluster offsets the coarse
    // quantizer already removed the bases from, and 4 codewords cover
    // them fine. Measured (both deterministic, nprobe=16 rerank=19):
    // raw 0.5125, residual 1.0. The inverse regime — codeword budget
    // >= cluster count with the coarse side UNDER-resolving — favors
    // raw (codewords can BE cluster members there; measured 0.5125 vs
    // 0.4375 at 8 clusters / k=8 / centroidK=4 / nprobe=4), which is
    // why residual is a KNOB, not the default, and why the knob is
    // stored, inherited, and migrated like the rest of the geometry.
    val cdim = 16
    def cvec(id: Long): Array[Float] = Array.tabulate(cdim) { e =>
      val ctr = (Math.floorMod(
        scala.util.hashing.byteswap64((id % 16) * cdim + e), 1001L) -
        500L) / 500.0
      val jit = (Math.floorMod(
        scala.util.hashing.byteswap64(id * cdim + e + 7777L), 1001L) -
        500L) / 2000.0
      (ctr + jit).toFloat
    }
    val clustered = (0L until 304L).map(i => (i, cvec(i)))
      .toDF("vec_id", "embedding")
    Pq.writePqIndex(clustered, s"$root/craw", m = 4, k = 4,
      centroidK = 16)
    Pq.writePqIndex(clustered, s"$root/cres", m = 4, k = 4,
      centroidK = 16, residual = true)
    def recallC(p: String) = Pq.pqRecallProbe(spark, p, clustered,
      sampleN = 16, k = 5, nprobe = 16, rerank = 19).recallAtK
    val (rr, rs) = (recallC(s"$root/craw"), recallC(s"$root/cres"))
    assert(rs > rr,
      s"residual encoding must IMPROVE recall in the " +
        s"clusters>codewords regime (measured 0.5125 -> 1.0, both " +
        s"deterministic), got raw=$rr residual=$rs")
    // residual COMPOSES with trainIters: the Lloyd rounds refine the
    // residual codebook (the training frame is the residual frame,
    // not the raw vectors) — still beats raw at equal knobs on this
    // fixture, and exhaustive settings stay exact
    Pq.writePqIndex(clustered, s"$root/crestr", m = 4, k = 4,
      centroidK = 16, residual = true, trainIters = 2)
    val rst = recallC(s"$root/crestr")
    assert(rst > rr,
      s"trained residual must still beat raw: raw=$rr " +
        s"trained-residual=$rst")
    val cq = Seq(0L, 17L)
    val cbrute = Similarity.bruteForceKnn(clustered, cq, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    val cex = Pq.pqKnn(spark, s"$root/crestr", clustered, cq, k = 5,
        nprobe = 16, rerank = 304)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(cex.sorted == cbrute.sorted)
    // a policy rotation with DEFAULT knobs inherits residual=true —
    // a cron'd maintain must not silently revert every code byte to
    // raw-vector quantization
    val m1 = Pq.pqMaintain(spark, idx, "r1", emb,
      Pq.PqMaintainPolicy(recallFloor = Some(1.01), recallSampleN = 4,
        k = 3, nprobe = 1))
    assert(m1.actions.exists(_.startsWith("rotate(recall")),
      m1.actions.mkString("; "))
    assert(Pq.readPqMeta(spark, idx).residual,
      "the inherited rotation reverted residual to raw")
    // breaker armed under residual=true; the residual=Some(false)
    // override is a config change, so it re-arms the rotate arm AND
    // migrates the encoding back to raw
    val m2 = Pq.pqMaintain(spark, idx, "r2", emb,
      Pq.PqMaintainPolicy(recallFloor = Some(1.01), recallSampleN = 4,
        k = 3, nprobe = 1))
    assert(m2.actions.exists(_.startsWith("rotate-skipped(")),
      m2.actions.mkString("; "))
    val m3 = Pq.pqMaintain(spark, idx, "r3", emb,
      Pq.PqMaintainPolicy(recallFloor = Some(1.01), recallSampleN = 4,
        k = 3, nprobe = 1, residual = Some(false)))
    assert(m3.actions.exists(_.startsWith("rotate(recall")),
      m3.actions.mkString("; "))
    assert(!Pq.readPqMeta(spark, idx).residual,
      "the residual=Some(false) migration did not land")
  }

  test("pqMaintain geometry MIGRATION: explicit m/codebookK/centroidK " +
    "overrides migrate the stored geometry through a policy rotation " +
    "and RE-ARM the breaker on the config change") {
    val (emb, epoch0, _, _, _) = corpus()
    val root = java.nio.file.Files.createTempDirectory("graft-pqmig").toString
    val idx = s"$root/idx"
    Pq.writePqIndex(epoch0, idx, m = 4, k = 8, centroidK = 4)
    // an unreachable floor: the rotate arm fires once and arms the
    // breaker under the index's ORIGINAL (inherited) geometry
    val inherit = Pq.PqMaintainPolicy(recallFloor = Some(1.01),
      recallSampleN = 4, k = 3, nprobe = 1)
    val t1 = Pq.pqMaintain(spark, idx, "g1", emb, inherit)
    assert(t1.actions.exists(_.startsWith("rotate(recall")),
      t1.actions.mkString("; "))
    val mt1 = Pq.readPqMeta(spark, idx)
    assert(mt1.m == 4 && mt1.k == 8, s"inherit rotation drifted: $mt1")
    val t2 = Pq.pqMaintain(spark, idx, "g2", emb, inherit)
    assert(t2.actions.exists(_.startsWith("rotate-skipped(")),
      t2.actions.mkString("; "))
    // the documented override path: explicit training knobs MIGRATE
    // the geometry — and because the breaker is keyed to the effective
    // training config, the config change alone re-arms the rotate arm
    // (no data change needed): the fence must never block a human
    // trying a DIFFERENT geometry to fix the very recall it measured
    val migrate = inherit.copy(m = Some(8), codebookK = Some(16),
      centroidK = Some(8))
    val t3 = Pq.pqMaintain(spark, idx, "g3", emb, migrate)
    assert(t3.actions.exists(_.startsWith("rotate(recall")),
      t3.actions.mkString("; "))
    val mt3 = Pq.readPqMeta(spark, idx)
    assert(mt3.m == 8 && mt3.k == 16, s"migration did not land: $mt3")
    assert(spark.read.parquet(s"${Similarity.ivfDataRoot(
      Dedup.fsFor(spark, idx), idx)}/_centroids").count() == 8)
    // the migrated index serves correctly: exhaustive == brute force
    val qids = Seq(0L, 1L)
    val n = emb.count().toInt
    val brute = Similarity.bruteForceKnn(emb, qids, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val probe = Pq.pqKnn(spark, idx, emb, qids, k = 3,
        nprobe = 8, rerank = n)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(probe == brute)
    // the floor is still unreachable at the NEW geometry, so t3 armed
    // the breaker under the MIGRATED config: the same policy now skips
    val t4 = Pq.pqMaintain(spark, idx, "g4", emb, migrate)
    assert(t4.actions.exists(_.startsWith("rotate-skipped(")),
      t4.actions.mkString("; "))
    assert(!t4.actions.exists(_.startsWith("rotate(")),
      t4.actions.mkString("; "))
  }

  test("writePqIndex refuses an in-place rebuild over a ledgered index " +
    "(the static overwrite would destroy _epochs and let a replayed " +
    "epoch double-append); rotatePq is the sanctioned re-train") {
    val (emb, epoch0, epoch1, _, _) = corpus()
    val root = java.nio.file.Files.createTempDirectory("graft-pqow").toString
    val idx = s"$root/idx"
    Pq.writePqIndex(epoch0, idx)
    // never-appended: the in-place rebuild is allowed (derived data)
    Pq.writePqIndex(epoch0, idx)
    assert(Pq.appendPqEpoch(epoch1, idx, "e1"))
    val ex = intercept[IllegalArgumentException] {
      Pq.writePqIndex(emb, idx)
    }
    assert(ex.getMessage.contains("_epochs") &&
      ex.getMessage.contains("rotatePq"), ex.getMessage)
    // the sanctioned path preserves the ledger: the replayed epoch
    // still refuses after the re-train
    assert(Pq.rotatePq(spark, idx, "r1", emb))
    assert(!Pq.appendPqEpoch(epoch1, idx, "e1"))
  }

  test("pqRecallProbe stored mode works over an int32 id corpus and " +
    "samples OUTSIDE the codebook prefix") {
    val (emb, _, _, _, _) = corpus()
    val root = java.nio.file.Files.createTempDirectory("graft-pqint").toString
    val idx = s"$root/idx"
    val intCorpus = emb.select(col("vec_id").cast("int").as("vec_id"),
      col("embedding"))
    Pq.writePqIndex(intCorpus, idx)
    // int32 ids must not crash the driver-edge collects
    val r = Pq.pqRecallProbe(spark, idx, intCorpus, sampleN = 4, k = 3)
    assert(r.queries == 4 && r.recallAtK >= 0.0 && r.recallAtK <= 1.0)
    // the probe sample must NOT be the (2654435761-hash, id) prefix
    // the codebook/centroids were trained from — codewords encode to
    // themselves with ~zero error and would bias recall upward. With
    // k=16 codewords the first 16 of that order ARE the codebook.
    val p = graft.functions.TextHash.P
    val trainPrefix = emb
      .select(col("vec_id"),
        ((col("vec_id") % p) * lit(2654435761L) % p).as("h"))
      .orderBy(col("h"), col("vec_id")).limit(16)
      .collect().map(_.getLong(0)).toSet
    val probeSample = emb
      .select(col("vec_id"),
        ((col("vec_id") % p) * lit(2246822519L) % p).as("h"))
      .orderBy(col("h"), col("vec_id")).limit(16)
      .collect().map(_.getLong(0)).toSet
    assert(probeSample != trainPrefix,
      "probe sampling still correlates with the training prefix")
  }

  test("pqFsck --deep-codes REPORTS a schema-conflicting restored file " +
    "as codes-unreadable instead of throwing (read-only doctor " +
    "contract)") {
    val (emb, _, _, _, _) = corpus()
    val root = java.nio.file.Files.createTempDirectory("graft-pqbad").toString
    val idx = s"$root/idx"
    Pq.writePqIndex(emb, idx)
    val someDir = Dedup.fsFor(spark, idx)
      .listStatus(new org.apache.hadoop.fs.Path(idx))
      .filter(_.getPath.getName.startsWith("centroid_id="))
      .head.getPath
    // a foreign layout's file: pq as STRING — the scan itself fails
    Seq((888888L, "not-codes", 1.0)).toDF("vec_id", "pq", "nrm")
      .write.mode("append").parquet(someDir.toString)
    val deep = Pq.pqFsck(spark, idx, deepCodes = true)
    assert(deep.exists(fk => fk.code == "codes-unreadable" &&
      fk.severity == "fatal"), deep.mkString("; "))
  }

  test("pqFsck: clean index reports nothing; missing _meta is fatal; a " +
    "geometry-inconsistent _meta is fatal; deepCodes flags a " +
    "wrong-width restore") {
    val (emb, _, _, _, _) = corpus()
    val root = java.nio.file.Files.createTempDirectory("graft-pqfsck").toString
    val idx = s"$root/idx"
    Pq.writePqIndex(emb, idx)
    assert(Pq.pqFsck(spark, idx, deepCodes = true).isEmpty)

    // a restore from a DIFFERENT geometry's index: one stray file
    // whose pq is 4 bytes where _meta says 8 — footer-invisible
    // (binary either way), caught only by the value-level deep scan
    val someDir = Dedup.fsFor(spark, idx)
      .listStatus(new org.apache.hadoop.fs.Path(idx))
      .filter(_.getPath.getName.startsWith("centroid_id="))
      .head.getPath
    Seq((999999L, Array[Byte](1, 2, 3, 4), 1.0))
      .toDF("vec_id", "pq", "nrm")
      .write.mode("append").parquet(someDir.toString)
    val deep = Pq.pqFsck(spark, idx, deepCodes = true)
    assert(deep.exists(fk => fk.code == "code-width" &&
      fk.severity == "fatal"), deep.mkString("; "))
    // shallow mode stays quiet about it (the scan is opt-in), but the
    // stray unledgered file itself is the generic footprint finding's
    // job only when footprinted — a plain parquet file is invisible;
    // that is exactly why deepCodes exists
    assert(!Pq.pqFsck(spark, idx).exists(_.code == "code-width"))

    // geometry-inconsistent _meta (hand-restored from the wrong index)
    val metaP = s"$idx/_meta"
    val mt = Pq.readPqMeta(spark, idx)
    Seq((3, mt.k, mt.dim, mt.codebook.toSeq))
      .toDF("m", "k", "dim", "codebook")
      .write.mode("overwrite").parquet(metaP)
    val geo = Pq.pqFsck(spark, idx)
    assert(geo.exists(fk => fk.code == "meta-geometry" &&
      fk.severity == "fatal"), geo.mkString("; "))

    // missing _meta entirely
    Dedup.fsFor(spark, idx)
      .delete(new org.apache.hadoop.fs.Path(metaP), true)
    val miss = Pq.pqFsck(spark, idx)
    assert(miss.exists(fk => fk.code == "meta-missing" &&
      fk.severity == "fatal"), miss.mkString("; "))
  }
}
