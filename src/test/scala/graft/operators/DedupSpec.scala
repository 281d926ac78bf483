package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class DedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val a = "the quick brown fox jumps over the lazy dog again and again today"
  private val aNear = "the quick brown fox jumps over the lazy dog again and again tomorrow"
  private val b = "completely different words about spark catalyst tungsten shuffles and joins"

  private def docsDf = Seq(
    (0L, a), (1L, a), (2L, aNear), (3L, b)
  ).toDF("doc_id", "text")

  test("exact dedup groups identical texts, keeper = min id") {
    val got = Dedup.exact(docsDf).orderBy("keeper_id")
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((0L, 2L), (2L, 1L), (3L, 1L)))
  }

  test("ngram jaccard: identical docs -> 1.0; near pair high; distinct pair absent") {
    val pairs = Dedup.ngramJaccardPairs(docsDf, threshold = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs((0L, 1L)) == 1.0)
    assert(pairs((0L, 2L)) > 0.7 && pairs((0L, 2L)) < 1.0)
    assert(!pairs.contains((0L, 3L)) && !pairs.contains((1L, 3L)))
  }

  test("minhash LSH finds the same pairs as exact jaccard at high threshold") {
    val exact = Dedup.ngramJaccardPairs(docsDf, threshold = 0.8)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLshPairs(docsDf, threshold = 0.8)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == exact)
    assert(lsh.contains((0L, 1L)))
  }

  test("simhash: identical docs at hamming 0, unrelated docs not candidates at <= 3") {
    val got = Dedup.simhashPairs(docsDf, maxHamming = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(got((0L, 1L)) == 0)
    assert(!got.contains((0L, 3L)))
  }

  test("components: min-label propagation finds clusters; keepers drop all but min") {
    // chain 1-2, 2-3 plus isolated pair 5-6: two components, and the
    // chain needs >1 propagation round to converge
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("doc_a", "doc_b")
    val comp = Dedup.components(pairs).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(comp == Seq((1L, 1L), (2L, 1L), (3L, 1L), (5L, 5L), (6L, 5L)))

    val docs = Seq(1L, 2L, 3L, 4L, 5L, 6L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val kept = Dedup.keepers(docs, pairs).select("doc_id")
      .collect().map(_.getLong(0)).toSeq.sorted
    assert(kept == Seq(1L, 4L, 5L)) // 4 untouched by any pair; 1 and 5 are cluster minima
  }

  test("components: a missing or unreadable observed edge count takes the " +
    "distributed loop, never the driver collect") {
    // the union-find's edges are two-long rows within the byte budget
    val maxEdges = SmallSide.MaxDriverBytes / SmallSide.rowBytes(2)
    def local(n: Option[Any]): Boolean =
      Dedup.observedEdgeCount(n) <= SmallSide.maxRows(SmallSide.rowBytes(2))
    assert(local(Some(java.lang.Long.valueOf(3L))))
    assert(Dedup.observedEdgeCount(Some(java.lang.Long.valueOf(3L))) == 3L)
    assert(local(Some(java.lang.Long.valueOf(maxEdges))))
    assert(!local(Some(java.lang.Long.valueOf(maxEdges + 1))))
    assert(!local(None))
    assert(!local(Some(null)))
    assert(!local(Some(java.lang.Integer.valueOf(3))))
    assert(!local(Some("3")))
  }

  test("components: reliable checkpointDir path converges to the same labels") {
    // the cluster-deployment variant: per-round checkpoints on stable
    // storage instead of executor-local blocks — identical results
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("doc_a", "doc_b")
    val comp = Dedup.components(pairs, checkpointDir = Some(dir)).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(comp == Seq((1L, 1L), (2L, 1L), (3L, 1L), (5L, 5L), (6L, 5L)))
    // the rounds actually wrote reliable checkpoints there
    assert(new java.io.File(dir).listFiles != null &&
      new java.io.File(dir).listFiles.nonEmpty)
  }

  test("components: small graphs resolve driver-local (LocalRelation), " +
    "identical rows to the forced-distributed loop") {
    // the default path is the union-find fast path: result is a
    // LocalRelation (zero further jobs for consumers) — plan-shape pin
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("doc_a", "doc_b")
    val local = Dedup.components(pairs)
    assert(local.queryExecution.optimizedPlan.collectLeaves().forall(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]),
      s"expected a driver-local result, got:\n${local.queryExecution.optimizedPlan}")
    // row identity on a denser pseudo-random graph: long chains, merged
    // clusters, self-contained islands — local vs forced-distributed
    // (checkpointDir engages the Pregel loop) must agree exactly
    val rnd = new scala.util.Random(7)
    val edges = (0 until 400).map(_ =>
      (rnd.nextInt(120).toLong, rnd.nextInt(120).toLong)) ++
      (200L until 230L).map(i => (i, i + 1)) // a 31-node chain
    val df = edges.toDF("doc_a", "doc_b")
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt2").toString
    val a = Dedup.components(df).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val b = Dedup.components(df, checkpointDir = Some(dir)).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(a == b)
  }

  /** One piece of a random pair graph, tagged with its shape. */
  private val pieceGen: org.scalacheck.Gen[(String, Seq[(Long, Long)])] = {
    import org.scalacheck.Gen
    // a hub and its `n` spokes, the spokes in the hub's own id band
    def star(hub: Long, n: Int) = (1 to n).map(j => (hub, 100 + hub * 8 + j))
    Gen.oneOf(
      for (a <- Gen.choose(0L, 50L); len <- Gen.choose(1, 12))
        yield "chain" -> (a until a + len).map(i => (i, i + 1)),
      for (a <- Gen.choose(0L, 50L); b <- Gen.choose(0L, 50L);
           na <- Gen.choose(1, 4); nb <- Gen.choose(1, 4))
        yield "merged clusters" -> (star(a, na) ++ star(b, nb) :+ (a, b)),
      Gen.choose(0L, 60L).map(a => "self-loop" -> Seq((a, a))),
      Gen.choose(0L, 60L).map(a =>
        "isolated pair" -> Seq((1000 + 2 * a, 1001 + 2 * a))),
      Gen.listOfN(6, Gen.zip(Gen.choose(0L, 60L), Gen.choose(0L, 60L)))
        .map("random edges" -> _))
  }

  test("components: the driver union-find ≡ the forced-distributed loop " +
    "over 200 seeded random graphs (property)") {
    import org.scalacheck.Gen
    val t0 = System.nanoTime()
    val graphs = (0 until 200).map(seed => Gen.choose(1, 6)
      .flatMap(Gen.listOfN(_, pieceGen)).apply(Gen.Parameters.default,
        org.scalacheck.rng.Seed(seed.toLong)).get)
    def labels(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every seed's graph through the driver route...
    val local = graphs.map { pieces =>
      val got = Dedup.components(pieces.flatMap(_._2).toDF("doc_a", "doc_b"))
      assert(got.queryExecution.optimizedPlan.collectLeaves().forall(
        _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]))
      labels(got)
    }
    // ...and their disjoint union (ids offset per seed) through ONE
    // forced-distributed loop: each seed's slice must equal its labels
    val offset = 10000L
    val union = graphs.zipWithIndex.flatMap { case (pieces, s) =>
      pieces.flatMap(_._2).map { case (a, b) => (a + s * offset, b + s * offset) }
    }.toDF("doc_a", "doc_b")
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt3").toString
    val distributed = labels(Dedup.components(union, checkpointDir = Some(dir)))
    for (((pieces, want), s) <- graphs.zip(local).zipWithIndex) {
      val slice = distributed.collect {
        case (v, c) if v / offset == s => (v - s * offset, c - s * offset)
      }
      assert(slice == want, s"seed $s: $pieces")
    }
    assert(graphs.flatMap(_.map(_._1)).toSet == Set("chain",
      "merged clusters", "self-loop", "isolated pair", "random edges"))
    info(f"wall time ${(System.nanoTime() - t0) / 1e9}%.1f s")
  }

  test("contamination report: max-overlap benchmark per doc, self excluded") {
    val corpus = Seq(
      (1L, a),       // shares everything with bench doc 10 (identical)
      (2L, aNear),   // shares most shingles with 10
      (3L, b)        // unrelated
    ).toDF("doc_id", "text")
    val bench = Seq((10L, a), (11L, b)).toDF("doc_id", "text")
    val got = Dedup.contaminationReport(corpus, bench, minShared = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    // doc 1 fully contaminated by 10; doc 2 near-dup of 10; doc 3 hits
    // bench 11 (identical text)
    assert(got.map(t => (t._1, t._2)) == Seq((1L, 10L), (2L, 10L), (3L, 11L)))
    val full = Dedup.contaminationReport(corpus, bench, minShared = 3)
      .filter($"doc_id" === 1L).head()
    assert(full.getDouble(3) == 1.0) // identical text -> overlap_ratio 1

    // independent id spaces: a numeric coincidence must NOT suppress a
    // genuine match (default excludeSameId = false)...
    val coincide = Seq((10L, a)).toDF("doc_id", "text")
    val hit = Dedup.contaminationReport(coincide, bench, minShared = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(hit == Seq((10L, 10L)))
    // ...while the bench-is-a-subset-of-docs case opts into exclusion
    assert(Dedup.contaminationReport(coincide, coincide, minShared = 3,
      excludeSameId = true).count() == 0)
  }

  test("heavy shingles pair via their anchor, and similarity stays exact") {
    // 'x y z' has df=2 > cap=1 -> heavy, star-paired through anchor doc 0;
    // the reported jaccard still counts it exactly: 1 shared / 7 union.
    val df = Seq((0L, "x y z a b c"), (1L, "x y z d e f")).toDF("doc_id", "text")
    val uncapped = Dedup.ngramJaccardPairs(df, threshold = 0.01, maxShingleDf = None)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val capped = Dedup.ngramJaccardPairs(df, threshold = 0.01, maxShingleDf = Some(1))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(uncapped == capped)
    assert(capped == Map((0L, 1L) -> 0.142857))
  }

  test("capped candidates are verified with EXACT count-based jaccard") {
    // 'x y z' is in all 3 docs (df=3 > cap=2 -> heavy, star-paired via
    // anchor 0); docs 0 and 1 also share 'y z a'/'z a b' (df=2 -> light
    // candidates). Reported jaccards must combine light + heavy shared
    // counts exactly: (0,1) = |{xyz,yza,zab}| / |{xyz,yza,zab,abc,abd}|
    // = 3/5; the star pair (0,2) shares only the heavy shingle -> 1/7.
    val df = Seq(
      (0L, "x y z a b c"), (1L, "x y z a b d"), (2L, "x y z q r s")
    ).toDF("doc_id", "text")
    val got = Dedup.ngramJaccardPairs(df, threshold = 0.01, maxShingleDf = Some(2))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(got == Map((0L, 1L) -> 0.6, (0L, 2L) -> 0.142857))
  }

  test("default DF cap: a stop-shingle beyond the cap star-pairs, not all-pairs") {
    // 200 docs all sharing the shingle 'a a a' and nothing else: with the
    // default cap (128 < 200) the heavy shingle produces the 199 anchor
    // pairs (0, i) instead of 200*199/2 = 19900 — linear, and a >cap
    // duplicate cluster still surfaces through its anchor.
    val df = (0L until 200L).map(i => (i, s"a a a w$i x$i y$i")).toDF("doc_id", "text")
    val got = Dedup.ngramJaccardPairs(df, threshold = 0.01)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.length == 199)
    assert(got.forall(_._1 == 0L))
    // exact: 1 shared of 4+4 shingles -> 1/7
    assert(got.forall(_._3 == 0.142857))
  }

  test("minhash index probe: a batch near-dup of history surfaces with exact jaccard") {
    val history = (0L until 50L)
      .map(i => (i, (1 to 12).map(j => s"h${i}w$j").mkString(" ")))
      .toDF("doc_id", "text")
    val index = Dedup.minhashIndex(history)
    // batch doc 1000 = history doc 7 verbatim; 1001 is unrelated
    val hist7 = (1 to 12).map(j => s"h7w$j").mkString(" ")
    val batch = Seq(
      (1000L, hist7),
      (1001L, (1 to 12).map(j => s"zzz$j").mkString(" "))).toDF("doc_id", "text")
    val got = Dedup.minhashProbe(batch, index, history, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == Seq((1000L, 7L, 1.0)))
    // parity with the batch-mode operator on the union: the probe finds
    // exactly the cross-split subset q22-style banding would find
    val all = history.unionByName(batch)
    val full = Dedup.minhashLshPairs(all, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cross = full.filter { case (a, b) => a < 50 && b >= 1000 }
      .map { case (a, b) => (b, a) }
    assert(cross == got.map(t => (t._1, t._2)).toSet)
  }

  test("bucketed history layout: probe results match minhashProbe; above the " +
    "prune gate the sliver fetch prunes to the candidates' id buckets, at or " +
    "below it the bucket-resolution job is skipped — identical output") {
    val history = (0L until 50L)
      .map(i => (i, (1 to 12).map(j => s"h${i}w$j").mkString(" ")))
      .toDF("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("graft-hist").toString
    Dedup.writeHistoryBucketed(history, root, nBuckets = 8)
    val index = Dedup.minhashIndex(history)
    val hist7 = (1 to 12).map(j => s"h7w$j").mkString(" ")
    val batch = Seq(
      (1000L, hist7),
      (1001L, (1 to 12).map(j => s"zzz$j").mkString(" "))).toDF("doc_id", "text")
    val got = Dedup.minhashProbeBucketed(batch, index, root, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == Seq((1000L, 7L, 1.0)))
    val plain = Dedup.minhashProbe(batch, index, history, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSet == plain.toSet)
    // both plan shapes pinned (passthrough exposes the operator's
    // interior plan — the checkpointed production form explains as one
    // ExistingRDD scan): the default 8-bucket layout sits under the
    // prune gate, so the fast path must NOT carry an id_bucket
    // partition filter (no bucket-resolution collect was paid); forcing
    // the gate down (pruneSkipMaxBuckets = 0) re-engages the pruned
    // path, which must carry it — with identical rows either way
    Caching.passthrough = true
    try {
      val fast = Dedup.minhashProbeBucketed(batch, index, root, threshold = 0.8)
        .queryExecution.executedPlan.toString
      assert(!fast.matches("(?s).*PartitionFilters: \\[[^\\]]*id_bucket.*"),
        s"fast path unexpectedly carries an id_bucket partition filter:\n$fast")
      val pruned = Dedup.minhashProbeBucketed(batch, index, root,
        threshold = 0.8, pruneSkipMaxBuckets = 0)
        .queryExecution.executedPlan.toString
      assert(pruned.matches("(?s).*PartitionFilters: \\[[^\\]]*id_bucket.*"),
        s"no id_bucket partition filter in:\n$pruned")
    } finally Caching.passthrough = false
    val prunedRows = Dedup.minhashProbeBucketed(batch, index, root,
      threshold = 0.8, pruneSkipMaxBuckets = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(prunedRows.toSet == got.toSet)
    // the skip is also SCAN-SIZE-bounded: a small candidate batch
    // against a LARGE small-modulus history must not full-scan — with
    // the byte bound forced to zero (the at-scale posture) the DEFAULT
    // bucket gate re-engages pruning, rows identical
    spark.conf.set("spark.graft.pruneSkip.maxBytes", "0")
    try {
      Caching.passthrough = true
      val sized =
        try Dedup.minhashProbeBucketed(batch, index, root, threshold = 0.8)
          .queryExecution.executedPlan.toString
        finally Caching.passthrough = false
      assert(sized.matches("(?s).*PartitionFilters: \\[[^\\]]*id_bucket.*"),
        s"large-history skip did not re-engage the id_bucket filter:\n$sized")
      val sizedRows = Dedup.minhashProbeBucketed(batch, index, root,
        threshold = 0.8)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(sizedRows.toSet == got.toSet)
    } finally spark.conf.unset("spark.graft.pruneSkip.maxBytes")
  }

  test("bloom-guarded incremental dedup: duplicates never survive, novel docs pass") {
    val history = (0L until 500L).map(i => (i, s"hist doc number $i"))
      .toDF("doc_id", "text")
    val bloom = Dedup.digestBloom(history, expectedItems = 1000, fpp = 0.001)
    // no false negatives, by construction: every history digest is set
    assert((0 until 500).forall(i =>
      bloom.mightContainString(
        java.security.MessageDigest.getInstance("MD5")
          .digest(s"hist doc number $i".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString)))
    val batch = Seq(
      (1000L, "hist doc number 7"),   // true duplicate of history
      (1001L, "hist doc number 400"), // true duplicate of history
      (1002L, "fresh doc alpha"),
      (1003L, "fresh doc alpha"),     // in-batch duplicate, keeper 1002
      (1004L, "fresh doc beta")).toDF("doc_id", "text")
    val got = Dedup.filterNovel(batch, bloom)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // deterministic (fixed bloom hash seeds): these exact strings pass
    assert(got == Set(1002L, 1004L))
  }

  test("filterNovel: null-text rows survive as one in-batch group; " +
    "broadcast-handle overload matches") {
    val history = Seq((0L, "hist only")).toDF("doc_id", "text")
    val bloom = Dedup.digestBloom(history, expectedItems = 10)
    val batch = Seq(
      (100L, null.asInstanceOf[String]), // null text: not in any filter
      (101L, null.asInstanceOf[String]), // in-batch dup of the null group
      (102L, "hist only"),               // true duplicate of history
      (103L, "fresh")).toDF("doc_id", "text")
    val got = Dedup.filterNovel(batch, bloom)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // null-text rows pass the bloom (null digest = not present) and then
    // dedup within the batch exactly like Dedup.exact: keeper = min id
    assert(got == Set(100L, 103L))
    // the per-epoch Broadcast form is the same operator
    val bc = spark.sparkContext.broadcast(bloom)
    val got2 = Dedup.filterNovel(batch, bc)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got2 == got)
    bc.unpersist(blocking = false)
  }

  test("substringDupStats: cross-doc shared verbatim runs count, " +
    "within-doc repeats / short docs / null docs do not") {
    val docs = Seq(
      (0L, "alpha beta gamma delta epsilon zeta unique0 tail0"),
      (1L, "alpha beta gamma delta epsilon zeta other1 more1 end1"),
      (2L, "rep rep rep rep rep x y z"), // within-doc repeat only
      (3L, "tiny doc"),                  // shorter than the window
      (4L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val got = Dedup.substringDupStats(docs, window = 4)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    // docs 0/1 share the 6-token prefix -> window starts 0,1,2 are
    // duplicated in each; doc 2's repeated window lives in ONE doc
    // (that is repetition's signal, not substring dedup's)
    assert(got == Seq(
      (0L, 5L, 3L, 0.6),
      (1L, 6L, 3L, 0.5),
      (2L, 5L, 0L, 0.0),
      (3L, 0L, 0L, 0.0),
      (4L, 0L, 0L, 0.0)))
  }

  test("substringDupSpans: duplicated window starts merge " +
    "gaps-and-islands into maximal half-open token spans") {
    // window 4. docs 0/1 share the 6-token run a..f (dup starts 0,1,2
    // in each -> one span) and the 4-token run g..j at DIFFERENT
    // offsets (7 vs 8); doc 2 is a full verbatim prefix of doc 3
    // (8 tokens -> every doc-2 window duplicated -> one whole-doc
    // span; doc 3's tail windows are its own)
    val docs = Seq(
      (0L, "a b c d e f X g h i j"),
      (1L, "a b c d e f Y Z g h i j"),
      (2L, "p q r s t u v w"),
      (3L, "p q r s t u v w tail3 tail4"),
      (4L, "nothing shared here at all")).toDF("doc_id", "text")
    val got = Dedup.substringDupSpans(docs, window = 4)
      .orderBy("doc_id", "span_start").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq(
      (0L, 0L, 6L), (0L, 7L, 11L),
      (1L, 0L, 6L), (1L, 8L, 12L),
      (2L, 0L, 8L),
      (3L, 0L, 8L)))
    // the spans are exactly the stats' dup windows re-expressed: doc 0
    // has 4 dup starts (0,1,2,7) over 8 windows
    val stats = Dedup.substringDupStats(docs, window = 4)
      .filter($"doc_id" === 0L).head()
    assert((stats.getLong(1), stats.getLong(2)) == (8L, 4L))
  }

  test("cutSpans: spans excise covered tokens; whole-doc removal, null " +
    "docs, and no-span whitespace-normalized identity; round-trip " +
    "re-score reports zero duplicated windows") {
    val docs = Seq(
      (0L, "u0a u0b SH1 SH2 SH3 SH4 u0c u0d"),
      (1L, "v1a SH1 SH2 SH3 SH4 v1b v1c v1d"),
      (2L, "p q r s"),                   // verbatim prefix of doc 3
      (3L, "p q r s t3a t3b"),
      (4L, null.asInstanceOf[String]),
      (5L, "  solo   five tokens only here ")) // no dups; untrimmed ws
      .toDF("doc_id", "text")
    val spans = Dedup.substringDupSpans(docs, window = 4)
    val cut = Dedup.cutSpans(docs, spans).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(cut == Seq(
      (0L, "u0a u0b u0c u0d", 4L, 4L),
      (1L, "v1a v1b v1c v1d", 4L, 4L),
      (2L, "", 0L, 4L), // every token covered -> whole doc removed
      (3L, "t3a t3b", 2L, 4L),
      (4L, null, 0L, 0L),
      (5L, "solo five tokens only here", 5L, 0L))) // ws normalized
    // round trip: re-scoring the cut corpus finds no duplicated windows
    // (every shared run was excised from every doc holding it, and the
    // kept tokens are doc-unique so no seam window can collide)
    val rescored = Dedup.substringDupStats(
      Dedup.cutSpans(docs, spans).withColumnRenamed("cut_text", "text"),
      window = 4)
    assert(rescored.agg(org.apache.spark.sql.functions.sum("dup_windows"))
      .head().getLong(0) == 0L)
  }

  test("cutSpans: overlapping and duplicate spans are idempotent — " +
    "covered-position semantics cut the union") {
    val docs = Seq((0L, "t0 t1 t2 t3 t4 t5 t6")).toDF("doc_id", "text")
    val spans = Seq((0L, 1L, 4L), (0L, 3L, 6L), (0L, 3L, 6L))
      .toDF("doc_id", "span_start", "span_end")
    val got = Dedup.cutSpans(docs, spans).head()
    assert((got.getString(1), got.getLong(2), got.getLong(3)) ==
      ("t0 t6", 2L, 5L))
  }

  test("cutToConvergence: a seam window formed by round 1's cut is " +
    "excised by round 2; counts are cumulative; the bound refuses " +
    "loudly with the residual count") {
    // window 2. Round 1 cuts the shared "M1 M2" out of docs 0/1,
    // welding doc 0's kept neighbors into the NEW window "ka kb" —
    // which doc 2 holds verbatim (and survives round 1 untouched), so
    // the seam is a real cross-doc duplicate only round 2 can see.
    val docs = Seq(
      (0L, "ka M1 M2 kb"),
      (1L, "xx M1 M2 yy"),
      (2L, "ka kb c1 c2"),
      (3L, "u1 u2 u3"),
      (4L, null.asInstanceOf[String])).toDF("doc_id", "text")
    // one round is NOT enough: the refusal carries the residual count
    // (the seam window, once per holding doc)
    val e = intercept[RuntimeException] {
      Dedup.cutToConvergence(docs, window = 2, maxRounds = 1).collect()
    }
    assert(e.getMessage.contains("2 duplicated window"), e.getMessage)
    // two rounds converge; n_cut is cumulative vs the ORIGINAL doc
    val got = Dedup.cutToConvergence(docs, window = 2, maxRounds = 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got == Seq(
      (0L, "", 0L, 4L),        // round 1 cut M1 M2, round 2 the seam
      (1L, "xx yy", 2L, 2L),
      (2L, "c1 c2", 2L, 2L),   // round 2 cut its copy of the seam
      (3L, "u1 u2 u3", 3L, 0L),
      (4L, null, 0L, 0L)))
    // the fixed point really is one: re-scoring the result is silent
    assert(Dedup.substringDupStats(
        Dedup.cutToConvergence(docs, window = 2, maxRounds = 2)
          .filter($"n_kept" > 0)
          .withColumnRenamed("cut_text", "text"), window = 2)
      .agg(org.apache.spark.sql.functions.sum("dup_windows"))
      .head().getLong(0) == 0L)
    // a seam-free corpus converges in round 1 and equals plain
    // spans+cut (the common case pays one extra proving re-score only)
    val plain = Seq(
      (0L, "a b SH1 SH2 c d"),
      (1L, "e f SH1 SH2 g h")).toDF("doc_id", "text")
    val viaLoop = Dedup.cutToConvergence(plain, window = 2, maxRounds = 4)
      .orderBy("doc_id").collect().toSeq
    val viaCut = Dedup.cutSpans(plain,
        Dedup.substringDupSpans(plain, window = 2))
      .orderBy("doc_id").collect().toSeq
    assert(viaLoop == viaCut)
  }

  test("substring index probe: bucket-pruned incremental probe equals " +
    "full-corpus stats restricted to the batch; epoch replay no-ops") {
    // history docs 0..39 (two shared-run cliques), batch docs 1000..1002:
    // one dup against history only, one dup against the BATCH only
    // (bddf-side), one novel
    // the shared-run clique STRADDLES the base/epoch split (docs 0 and
    // 25): each side alone holds ONE copy, so marking batch doc 1000's
    // windows duplicated requires the probe to SUM ddf across the flat
    // build and the ledgered epoch — the cross-epoch contract itself
    val sharedRun = "c1 c2 c3 c4 c5"
    val history = (0L until 40L).map { i =>
      val body = (1 to 8).map(j => s"h${i}w$j").mkString(" ")
      if (i == 0 || i == 25) s"$sharedRun $body" else body
    }.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val batch = Seq(
      (1000L, s"b0a b0b $sharedRun b0c"),       // dup vs history
      (1001L, "twin t1 t2 t3 t4 twinend batch"), // dup vs batch twin
      (1002L, "twin t1 t2 t3 t4 twinend batch2"),
      (1003L, "fresh f1 f2 f3 f4 f5 f6")).toDF("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("graft-ssidx").toString
    val idx = s"$root/idx"
    val w = 4
    // low-id half as the flat build, high-id half as a ledgered epoch
    Dedup.writeSubstringIndex(history.filter($"doc_id" < 20), idx,
      window = w, nBuckets = 8)
    assert(Dedup.appendSubstringEpoch(
      history.filter($"doc_id" >= 20), idx, "ep1"))
    val got = Dedup.substringDupProbe(batch, idx).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // the batch-mode truth: full-corpus stats restricted to batch ids
    val want = Dedup.substringDupStats(history.unionByName(batch),
        window = w)
      .filter($"doc_id" >= 1000L).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == want)
    // the probe really saw both sides: 1000 dups via history, 1001/1002
    // via each other, 1003 clean
    assert(got.map(t => (t._1, t._3 > 0)) ==
      Seq((1000L, true), (1001L, true), (1002L, true), (1003L, false)))
    // same-id replay no-ops and leaves the probe unchanged
    assert(!Dedup.appendSubstringEpoch(
      history.filter($"doc_id" >= 20), idx, "ep1"))
    assert(Dedup.substringDupProbe(batch, idx).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      == want)
    // the candidate buckets reach the history scan as a partition
    // filter — on the PRUNED path (the fast path skips the resolution
    // below DefaultPruneSkipMaxBuckets and answers identically; the
    // stream spec counts the job it saves)
    Caching.passthrough = true
    try {
      val plan = Dedup.substringDupProbe(batch, idx,
          pruneSkipMaxBuckets = 0)
        .queryExecution.executedPlan.toString
      assert(plan.matches("(?s).*PartitionFilters: \\[[^\\]]*wh_bucket.*"),
        s"no wh_bucket partition filter in:\n$plan")
    } finally Caching.passthrough = false
  }

  test("substringSpanProbeOn/substringCutProbe: probe-derived spans and " +
    "cut equal the full-corpus recompute restricted to the batch; a " +
    "clique straddling the base/epoch split drives a span only the " +
    "summed cross-epoch ddf can see") {
    val sharedRun = "c1 c2 c3 c4 c5"
    // ONE copy in the flat base (doc 0), ONE in the ledgered epoch
    // (doc 25): each side alone is below minDocs=2, so the batch doc's
    // span exists iff the probe sums ddf across the split
    val history = (0L until 40L).map { i =>
      val body = (1 to 8).map(j => s"h${i}w$j").mkString(" ")
      if (i == 0 || i == 25) s"$sharedRun $body" else body
    }.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val batch = Seq(
      (1000L, s"b0a b0b $sharedRun b0c"),
      (1001L, "fresh f1 f2 f3 f4 f5 f6"),
      (1002L, "sm all"),                    // shorter than the window
      (1003L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("graft-sssp").toString
    val idx = s"$root/idx"
    val w = 4
    Dedup.writeSubstringIndex(history.filter($"doc_id" < 20), idx,
      window = w, nBuckets = 8)
    assert(Dedup.appendSubstringEpoch(
      history.filter($"doc_id" >= 20), idx, "ep1"))
    // spans: probe == full-corpus substringDupSpans ⇂ batch
    val gotSpans = Dedup.substringSpanProbe(batch, idx)
      .orderBy("doc_id", "span_start").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val wantSpans = Dedup.substringDupSpans(
        history.unionByName(batch), window = w)
      .filter($"doc_id" >= 1000L).orderBy("doc_id", "span_start")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(gotSpans == wantSpans)
    // …and the cross-epoch clique is what drove it: exactly doc 1000's
    // run, covering c1..c5 (window starts 2,3 -> [2, 7))
    assert(gotSpans == Seq((1000L, 2L, 7L)))
    // cut: probe == full-corpus cutSpans ⇂ batch, all edge docs intact
    val gotCut = Dedup.substringCutProbe(batch, idx)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSeq
    val full = history.unionByName(batch)
    val wantCut = Dedup.cutSpans(full,
        Dedup.substringDupSpans(full, window = w))
      .filter($"doc_id" >= 1000L).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(gotCut == wantCut)
    assert(gotCut == Seq(
      (1000L, "b0a b0b b0c", 3L, 5L),
      (1001L, "fresh f1 f2 f3 f4 f5 f6", 7L, 0L),
      (1002L, "sm all", 2L, 0L),
      (1003L, null, 0L, 0L)))
    // round trip: the cut batch re-probed against the SAME index
    // reports zero duplicated windows (the excised run is gone and the
    // kept tokens are doc-unique)
    val rescored = Dedup.substringDupProbe(
      Dedup.substringCutProbe(batch, idx)
        .withColumnRenamed("cut_text", "text"), idx)
    assert(rescored.agg(org.apache.spark.sql.functions.sum("dup_windows"))
      .head().getLong(0) == 0L)
    // the dual-signal gate's SHARED probe (one tokenize pass, one
    // sliver fetch) is row-identical to the two single probes — what
    // lets the streaming gate run both callbacks for the price of one
    val (hist, ww, nb) = Dedup.openSubstringIndex(spark, idx)
    val (stats2, cut2) =
      Dedup.substringStatsAndCutProbeOn(batch, hist, ww, nb)
    assert(stats2.orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      Dedup.substringDupProbe(batch, idx).orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq)
    assert(cut2.orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSeq == gotCut)
  }

  test("writeSubstringIndex overwrite guard: refuses plain datasets, " +
    "foreign _meta, and a ledgered layout; never-appended rebuild stays " +
    "supported") {
    val root = java.nio.file.Files.createTempDirectory("graft-ssg").toString
    val docs = (0L until 10L)
      .map(i => (i, (1 to 8).map(j => s"d${i}w$j").mkString(" ")))
      .toDF("doc_id", "text")
    val corpus = s"$root/corpus"
    docs.write.parquet(corpus)
    val e1 = intercept[IllegalArgumentException] {
      Dedup.writeSubstringIndex(docs, corpus, window = 4)
    }
    assert(e1.getMessage.contains("plain dataset"), e1.getMessage)
    // swapped with the bucketed history refuses in BOTH directions
    val hist = s"$root/hist"
    Dedup.writeHistoryBucketed(docs, hist, nBuckets = 4)
    val e2 = intercept[IllegalArgumentException] {
      Dedup.writeSubstringIndex(docs, hist, window = 4)
    }
    assert(e2.getMessage.contains("swapped"), e2.getMessage)
    val idx = s"$root/idx"
    Dedup.writeSubstringIndex(docs, idx, window = 4, nBuckets = 4)
    val e3 = intercept[IllegalArgumentException] {
      Dedup.writeHistoryBucketed(docs, idx, nBuckets = 4)
    }
    assert(e3.getMessage.contains("swapped"), e3.getMessage)
    // never-appended rebuild in place: the supported refresh
    Dedup.writeSubstringIndex(docs, idx, window = 4, nBuckets = 4)
    // once an epoch is ledgered, the flat rebuild refuses
    assert(Dedup.appendSubstringEpoch(docs.filter($"doc_id" < 2), idx, "e1"))
    val e4 = intercept[IllegalArgumentException] {
      Dedup.writeSubstringIndex(docs, idx, window = 4, nBuckets = 4)
    }
    assert(e4.getMessage.contains("_epochs"), e4.getMessage)
  }

  test("flat-builder overwrite guards: the dedup pair refuses plain " +
    "datasets, swapped paths, and a ledgered history; in-place rebuilds " +
    "and the torn-index retry stay supported") {
    val root = java.nio.file.Files.createTempDirectory("graft-guard").toString
    val docs = (0L until 20L)
      .map(i => (i, (1 to 12).map(j => s"d${i}w$j").mkString(" ")))
      .toDF("doc_id", "text")
    // a plain dataset — the raw corpus itself on a typo'd path — is the
    // one thing neither writer may destroy
    val corpus = s"$root/corpus"
    docs.write.parquet(corpus)
    val e1 = intercept[IllegalArgumentException] {
      Dedup.writeHistoryBucketed(docs, corpus, nBuckets = 4)
    }
    assert(e1.getMessage.contains("plain dataset"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      Dedup.writeMinhashIndex(docs, corpus)
    }
    assert(e2.getMessage.contains("plain dataset"), e2.getMessage)
    assert(spark.read.parquet(corpus).count() == 20L,
      "a refused overwrite must leave the dataset untouched")

    val hist = s"$root/hist"
    val idx = s"$root/idx"
    Dedup.writeHistoryBucketed(docs, hist, nBuckets = 4)
    Dedup.writeMinhashIndex(docs, idx)
    // swapped historyPath/indexPath arguments refuse in both directions
    val e3 = intercept[IllegalArgumentException] {
      Dedup.writeHistoryBucketed(docs, idx, nBuckets = 4)
    }
    assert(e3.getMessage.contains("swapped"), e3.getMessage)
    val e4 = intercept[IllegalArgumentException] {
      Dedup.writeMinhashIndex(docs, hist)
    }
    assert(e4.getMessage.contains("swapped"), e4.getMessage)
    // never-appended layouts rebuild in place — the supported refresh
    Dedup.writeHistoryBucketed(docs, hist, nBuckets = 4)
    Dedup.writeMinhashIndex(docs, idx)

    // torn-index retry (the crash window between the data commit and
    // the _meta write): the documented remedy is re-running the build,
    // and the (doc_id, band, key) schema fingerprint keeps that true
    val f = new java.io.File(s"$idx/_meta")
    def deleteRec(d: java.io.File): Unit = {
      Option(d.listFiles()).foreach(_.foreach(deleteRec)); d.delete()
    }
    deleteRec(f)
    Dedup.writeMinhashIndex(docs, idx)
    val (_, k2, b2) = Dedup.openMinhashIndex(spark, idx)
    assert((k2, b2) == (8, 4))

    // a LEDGERED history refuses the flat rebuild: the replayed epoch
    // id would double-append after the rebuild destroyed the ledger
    val bloom = spark.sparkContext.broadcast(
      Dedup.digestBloom(docs, expectedItems = 100))
    val novel = Seq((100L, (1 to 12).map(j => s"n$j").mkString(" ")))
      .toDF("doc_id", "text")
    Dedup.rotateEpochBucketed(novel, hist, idx, bloom,
      expectedItems = 100, epochId = "guard-e1").unpersist(blocking = false)
    val e5 = intercept[IllegalArgumentException] {
      Dedup.writeHistoryBucketed(docs, hist, nBuckets = 4)
    }
    assert(e5.getMessage.contains("_epochs"), e5.getMessage)
  }
}
