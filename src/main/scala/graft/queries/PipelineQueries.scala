package graft.queries

import org.apache.spark.sql.functions._

import graft.core.DriverThreads.concurrently
import graft.functions.TextHash
import graft.operators.{Dedup, Multimodal, Similarity, TextAnalysis}

/** The training-data-pipeline operator suite (dedup / similarity / text /
  * multimodal) over the `documents` and `embeddings` fixtures, each with a
  * DuckDB oracle mirroring the exact algorithm (same portable hashes, same
  * rounding, same tie-breaks).
  */
object PipelineQueries {

  private def docs(s: org.apache.spark.sql.SparkSession, dir: String) =
    Fixtures.table(s, dir, "documents")
  private def emb(s: org.apache.spark.sql.SparkSession, dir: String) =
    Fixtures.table(s, dir, "embeddings")

  private def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmTree))
    f.delete()
    ()
  }

  /** ONE scratch dir per prefix for the whole process, cleared EAGERLY
    * at the start of each execution — each q59/q60 run writes a full
    * IVF copy of the embeddings corpus, and bench's warm-up + N timed
    * runs must not accumulate one copy (and one shutdown hook) per
    * run. The single per-prefix hook remains only as the last-resort
    * exit sweep.
    */
  private val scratchDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def scratchDir(prefix: String): String = {
    val p = scratchDirs.computeIfAbsent(prefix, _ => {
      val d = java.nio.file.Files.createTempDirectory(prefix)
      Runtime.getRuntime.addShutdownHook(new Thread(() => rmTree(d.toFile)))
      d.toString
    })
    // reclaim the PREVIOUS execution's layout copy before building anew
    Option(new java.io.File(p).listFiles()).foreach(_.foreach(rmTree))
    p
  }

  /** A scratch dir that PERSISTS for the process (exit-hook cleanup
    * only) — the memoized probe-only bench layouts live here, so the
    * eager per-run reclaim above never deletes a layout a later timed
    * probe run still reads.
    */
  private def persistentScratchDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() => rmTree(d.toFile)))
    d.toString
  }

  // ---------------------------------------------------------------- dedup

  private val qDedupExact = QueryDef(
    "q20_dedup_exact",
    (s, dir) => Dedup.exact(docs(s, dir)).orderBy("text_md5"),
    Some(
      """SELECT md5(text) AS text_md5, min(doc_id) AS keeper_id,
        |       count(*) AS copies
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin))

  /** The q21 oracle's CTE chain + final pair select, shared with q36's
    * recursive component closure.
    */
  private val ngramPairCtes =
    s"""${DuckSql.docsCte},
         |${DuckSql.shCte},
         |ex AS (SELECT doc_id, unnest(shh) AS h FROM sh),
         |hdf AS (SELECT h, count(*) AS df, min(doc_id) AS anchor
         |        FROM ex GROUP BY h),
         |light AS (
         |  SELECT ex.doc_id, ex.h FROM ex JOIN hdf ON ex.h = hdf.h
         |  WHERE hdf.df <= ${Dedup.DefaultMaxShingleDf}),
         |heavy AS (
         |  SELECT ex.doc_id, ex.h, hdf.anchor FROM ex JOIN hdf ON ex.h = hdf.h
         |  WHERE hdf.df > ${Dedup.DefaultMaxShingleDf}),
         |lightshared AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared_light
         |  FROM light a JOIN light b ON a.h = b.h AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |starpairs AS (
         |  SELECT DISTINCT anchor AS doc_a, doc_id AS doc_b
         |  FROM heavy WHERE doc_id <> anchor),
         |cand AS (
         |  SELECT doc_a, doc_b FROM lightshared
         |  UNION
         |  SELECT doc_a, doc_b FROM starpairs),
         |heavyshared AS (
         |  SELECT c.doc_a, c.doc_b, count(*) AS shared_heavy
         |  FROM cand c
         |  JOIN heavy ha ON ha.doc_id = c.doc_a
         |  JOIN heavy hb ON hb.doc_id = c.doc_b AND hb.h = ha.h
         |  GROUP BY 1, 2),
         |sizes AS (SELECT doc_id, len(shh) AS n_sh FROM sh),
         |scored AS (
         |  SELECT c.doc_a, c.doc_b,
         |         COALESCE(ls.shared_light, 0) + COALESCE(hs.shared_heavy, 0)
         |           AS shared,
         |         sa.n_sh AS n_a, sb.n_sh AS n_b
         |  FROM cand c
         |  LEFT JOIN lightshared ls ON ls.doc_a = c.doc_a AND ls.doc_b = c.doc_b
         |  LEFT JOIN heavyshared hs ON hs.doc_a = c.doc_a AND hs.doc_b = c.doc_b
         |  JOIN sizes sa ON sa.doc_id = c.doc_a
         |  JOIN sizes sb ON sb.doc_id = c.doc_b)""".stripMargin

  private val ngramPairSelect =
    """SELECT doc_a, doc_b,
      |       round(shared::DOUBLE / (n_a + n_b - shared), 6) AS jaccard
      |FROM scored
      |WHERE round(shared::DOUBLE / (n_a + n_b - shared), 6) >= 0.5""".stripMargin

  private val qNgramJaccard = QueryDef(
    "q21_dedup_ngram_jaccard",
    // the default DF cap is the benched path — the skew guard IS the
    // operator's 100 TB story, so it must be what correctness checks
    (s, dir) => Dedup.ngramJaccardPairs(docs(s, dir), threshold = 0.5)
      .orderBy("doc_a", "doc_b"),
    Some(s"WITH $ngramPairCtes\n$ngramPairSelect\nORDER BY doc_a, doc_b"))

  /** Cluster resolution over the q21 pairs: min-label connected
    * components (Spark: Pregel-style propagation; oracle: recursive
    * transitive-closure CTE reduced by min — same fixpoint).
    */
  private val qComponents = QueryDef(
    "q36_dedup_components",
    (s, dir) => Dedup.components(
        Dedup.ngramJaccardPairs(docs(s, dir), threshold = 0.5))
      .orderBy("doc_id"),
    Some(
      s"""WITH RECURSIVE $ngramPairCtes,
         |pairs AS ($ngramPairSelect),
         |edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION ALL SELECT doc_b, doc_a FROM pairs),
         |reach(node, r) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.node)
         |SELECT node AS doc_id, min(r) AS component
         |FROM reach GROUP BY node ORDER BY doc_id""".stripMargin))

  /** The keep-list over the q21/q36 clusters: every unpaired doc
    * survives, each pair-connected component keeps only its min doc_id —
    * the step that turns pairwise dedup output into an actual deduped
    * corpus (Spark: AQE-decided anti-join; oracle: the q36 closure
    * re-joined to documents).
    */
  private val qKeepers = QueryDef(
    "q44_dedup_keepers",
    (s, dir) => {
      val d = docs(s, dir)
      Dedup.keepers(d, Dedup.ngramJaccardPairs(d, threshold = 0.5))
        .select("doc_id")
        .orderBy("doc_id")
    },
    Some(
      s"""WITH RECURSIVE $ngramPairCtes,
         |pairs AS ($ngramPairSelect),
         |edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION ALL SELECT doc_b, doc_a FROM pairs),
         |reach(node, r) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.node),
         |comp AS (
         |  SELECT node, min(r) AS component FROM reach GROUP BY node)
         |SELECT d.doc_id FROM documents d
         |LEFT JOIN comp c ON d.doc_id = c.node
         |WHERE c.node IS NULL OR c.component = d.doc_id
         |ORDER BY d.doc_id""".stripMargin))

  private val qMinhash = {
    val k = 8
    val mhCols = (0 until k).map(i =>
      s"list_min(list_transform(shh, x -> ${DuckSql.universalHash("x", i)})) AS mh$i")
      .mkString(",\n         ")
    val bandLegs = (0 until 4).map(b =>
      s"SELECT doc_id, $b AS band, (mh${2 * b} * ${TextHash.P} + mh${2 * b + 1}) AS key FROM sig")
      .mkString("\n  UNION ALL ")
    QueryDef(
      "q22_dedup_minhash",
      // maxBandPop pinned to None (like q49's pinned centroidK): the
      // oracle computes the exact uncapped band join, so the scale knob
      // must not silently engage at a larger fixture SF
      (s, dir) => Dedup.minhashLshPairs(docs(s, dir), threshold = 0.8,
          maxBandPop = None)
        .orderBy("doc_a", "doc_b"),
      Some(
        s"""WITH ${DuckSql.docsCte},
           |${DuckSql.shCte},
           |sig AS (
           |  SELECT doc_id, shh,
           |         $mhCols
           |  FROM sh WHERE len(shh) > 0),
           |buckets AS (
           |  $bandLegs),
           |cand AS (
           |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           |  FROM buckets a
           |  JOIN buckets b ON a.band = b.band AND a.key = b.key
           |    AND a.doc_id < b.doc_id)
           |SELECT doc_a, doc_b,
           |       round(len(list_intersect(sa.shh, sb.shh))::DOUBLE /
           |             len(list_distinct(sa.shh || sb.shh)), 6) AS jaccard
           |FROM cand
           |JOIN sig sa ON doc_a = sa.doc_id
           |JOIN sig sb ON doc_b = sb.doc_id
           |WHERE round(len(list_intersect(sa.shh, sb.shh))::DOUBLE /
           |            len(list_distinct(sa.shh || sb.shh)), 6) >= 0.8
           |ORDER BY doc_a, doc_b""".stripMargin))
  }

  /** The band-population guard itself under hash verification: an
    * explicit `maxBandPop = 2` sits below this fixture's largest bucket
    * populations (pop-3/4 buckets exist at every shipped SF), so BOTH
    * branches run — pop ≤ 2 buckets all-pair, over-cap buckets emit
    * (anchor = bucket min id, member) star pairs — and the oracle
    * replicates the exact star/light split in SQL. q22 stays the
    * uncapped reference; this row proves the guard's candidate algebra
    * bit-for-bit, not just by spec.
    */
  private val qMinhashCapped = {
    val k = 8
    val cap = 2
    val mhCols = (0 until k).map(i =>
      s"list_min(list_transform(shh, x -> ${DuckSql.universalHash("x", i)})) AS mh$i")
      .mkString(",\n         ")
    val bandLegs = (0 until 4).map(b =>
      s"SELECT doc_id, $b AS band, (mh${2 * b} * ${TextHash.P} + mh${2 * b + 1}) AS key FROM sig")
      .mkString("\n  UNION ALL ")
    QueryDef(
      "q57_dedup_minhash_capped",
      (s, dir) => Dedup.minhashLshPairs(docs(s, dir), threshold = 0.8,
          maxBandPop = Some(cap))
        .orderBy("doc_a", "doc_b"),
      Some(
        s"""WITH ${DuckSql.docsCte},
           |${DuckSql.shCte},
           |sig AS (
           |  SELECT doc_id, shh,
           |         $mhCols
           |  FROM sh WHERE len(shh) > 0),
           |buckets AS (
           |  $bandLegs),
           |stats AS (
           |  SELECT band, key, count(*) AS pop, min(doc_id) AS anchor
           |  FROM buckets GROUP BY band, key),
           |light AS (
           |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
           |  FROM buckets a
           |  JOIN buckets b ON a.band = b.band AND a.key = b.key
           |    AND a.doc_id < b.doc_id
           |  JOIN stats s ON s.band = a.band AND s.key = a.key
           |  WHERE s.pop <= $cap),
           |star AS (
           |  SELECT s.anchor AS doc_a, b.doc_id AS doc_b
           |  FROM buckets b
           |  JOIN stats s ON s.band = b.band AND s.key = b.key
           |  WHERE s.pop > $cap AND b.doc_id <> s.anchor),
           |cand AS (
           |  SELECT DISTINCT doc_a, doc_b FROM (
           |    SELECT * FROM light UNION ALL SELECT * FROM star))
           |SELECT doc_a, doc_b,
           |       round(len(list_intersect(sa.shh, sb.shh))::DOUBLE /
           |             len(list_distinct(sa.shh || sb.shh)), 6) AS jaccard
           |FROM cand
           |JOIN sig sa ON doc_a = sa.doc_id
           |JOIN sig sb ON doc_b = sb.doc_id
           |WHERE round(len(list_intersect(sa.shh, sb.shh))::DOUBLE /
           |            len(list_distinct(sa.shh || sb.shh)), 6) >= 0.8
           |ORDER BY doc_a, doc_b""".stripMargin))
  }

  /** Incremental near-dup: the 20% "arriving batch" (doc_id % 5 = 0)
    * probes the MinHash band index of the other 80% "history" — the
    * ingest-time LSH path (bloom guards exact dups, this guards
    * near-dups). Same bands/keys/verify as q22, split across the two
    * sides.
    */
  /** q52's oracle (batch = doc_id%5==0 probing the other 80% as
    * history) — shared verbatim with q63, which runs the SAME probe
    * over the AT-REST bucketed layouts after a live epoch rotation +
    * partition-scoped history compaction: the hashes pin "rotation +
    * selective compaction == identity" through the probe path.
    */
  private val incrementalProbeOracleSql: String = {
    val k = 8
    val mhCols = (0 until k).map(i =>
      s"list_min(list_transform(shh, x -> ${DuckSql.universalHash("x", i)})) AS mh$i")
      .mkString(",\n         ")
    val bandLegs = (0 until 4).map(b =>
      s"SELECT doc_id, $b AS band, (mh${2 * b} * ${TextHash.P} + mh${2 * b + 1}) AS key FROM sig")
      .mkString("\n  UNION ALL ")
    s"""WITH ${DuckSql.docsCte},
       |${DuckSql.shCte},
       |sig AS (
       |  SELECT doc_id, shh,
       |         $mhCols
       |  FROM sh WHERE len(shh) > 0),
       |buckets AS (
       |  $bandLegs),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS batch_id, b.doc_id AS hist_id
       |  FROM buckets a
       |  JOIN buckets b ON a.band = b.band AND a.key = b.key
       |  WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0)
       |SELECT batch_id, hist_id,
       |       round(len(list_intersect(sa.shh, sb.shh))::DOUBLE /
       |             len(list_distinct(sa.shh || sb.shh)), 6) AS jaccard
       |FROM cand
       |JOIN sig sa ON batch_id = sa.doc_id
       |JOIN sig sb ON hist_id = sb.doc_id
       |WHERE round(len(list_intersect(sa.shh, sb.shh))::DOUBLE /
       |            len(list_distinct(sa.shh || sb.shh)), 6) >= 0.8
       |ORDER BY batch_id, hist_id""".stripMargin
  }

  private val qMinhashProbe = {
    QueryDef(
      "q52_dedup_incremental_probe",
      (s, dir) => {
        val d = docs(s, dir)
        val history = d.filter(col("doc_id") % 5 =!= 0)
        val batch = d.filter(col("doc_id") % 5 === 0)
        // maxBandPop pinned to None — the oracle's candidate join is
        // uncapped, so the cap must not engage at any fixture SF
        Dedup.minhashProbe(batch, Dedup.minhashIndex(history), history,
            threshold = 0.8, maxBandPop = None)
          .orderBy("batch_id", "hist_id")
      },
      Some(incrementalProbeOracleSql))
  }

  /** The AT-REST incremental layouts under LIVE maintenance, hash-
    * verified: the history pair is written from the low-id non-batch
    * docs, the high-id non-batch docs arrive as a ledgered epoch rotation
    * ([[Dedup.rotateEpochBucketed]]), the fragmented buckets are then
    * selectively compacted in place
    * ([[Dedup.compactHistoryPartitions]]), and the q52 probe runs over
    * the result through the bucketed partition-pruned path. The oracle
    * is q52's verbatim (history = all non-batch docs): a row lost or
    * duplicated by the rotation or the compaction swaps breaks the
    * hashes — the dedup-side counterpart of q59/q60/q62.
    */
  /** The q63/q66 shared front half: bucketed history + index written
    * from the low-id non-batch docs, the high-id non-batch docs landed
    * as a ledgered epoch rotation. The split is by id RANGE, not
    * parity: id_bucket is doc_id mod nBuckets, so a parity split would
    * land the epoch in disjoint buckets and the "fragmented dirs" the
    * maintenance targets would never exist — a range split puts base +
    * epoch files in EVERY bucket.
    */
  private def buildFragmentedDedupPair(
      s: org.apache.spark.sql.SparkSession, dir: String,
      hist: String, idx: String): Unit = {
    val d = docs(s, dir)
    val part1 = d.filter(col("doc_id") % 5 =!= 0 && col("doc_id") < 250)
    val part2 = d.filter(col("doc_id") % 5 =!= 0 && col("doc_id") >= 250)
    // the two base layouts and the bloom digest are mutually
    // independent (different paths, all over part1) — overlap their
    // jobs (§2.6); the rotation needs all three and stays sequential
    val bloomRef = new java.util.concurrent.atomic.AtomicReference[
      org.apache.spark.broadcast.Broadcast[
        org.apache.spark.util.sketch.BloomFilter]]()
    concurrently(
      () => Dedup.writeHistoryBucketed(part1, hist, nBuckets = 8),
      () => Dedup.writeMinhashIndex(part1, idx),
      () => bloomRef.set(s.sparkContext.broadcast(
        Dedup.digestBloom(part1, expectedItems = 10000, fpp = 0.01))))
    Dedup.rotateEpochBucketed(part2, hist, idx, bloomRef.get,
      expectedItems = 10000, fpp = 0.01, epochId = "ep1")
      .unpersist(blocking = false)
  }

  /** The q63/q66 shared back half: the q52 batch probed through the
    * bucketed partition-pruned path over a maintained pair.
    */
  private def probeDedupPair(
      s: org.apache.spark.sql.SparkSession, dir: String,
      hist: String, idx: String): org.apache.spark.sql.DataFrame = {
    val batch = docs(s, dir).filter(col("doc_id") % 5 === 0)
    val (ix, k, bands) = Dedup.openMinhashIndex(s, idx)
    val (h, nb) = Dedup.openHistoryBucketed(s, hist)
    Dedup.minhashProbeBucketedOn(batch, ix, h, nb, threshold = 0.8,
        k = k, bands = bands, maxBandPop = None)
      .orderBy("batch_id", "hist_id")
  }

  private val qHistCompactedProbe = QueryDef(
    "q63_dedup_hcompacted_probe",
    (s, dir) => {
      val root = scratchDir("graft-q63")
      val hist = s"$root/hist"
      val idx = s"$root/idx"
      buildFragmentedDedupPair(s, dir, hist, idx)
      val n = Dedup.compactHistoryPartitions(s, hist, idx, "hc1",
        maxFilesPerPartition = 1)
      require(n > 0,
        s"q63 expects the rotation to fragment buckets the compaction " +
          s"then rewrites, got $n compacted dirs")
      probeDedupPair(s, dir, hist, idx)
    },
    Some(incrementalProbeOracleSql))

  /** The dedup-pair CLOSED-LOOP policy under hash verification — q64's
    * counterpart for [[Dedup.dedupMaintain]]: the q63 layout shape
    * (bucketed history fragmented by a live epoch rotation) is handed
    * to the policy with thresholds that force BOTH arms — the
    * partition-scoped history compaction (`maxFilesPerPartition = 1`)
    * and the `_epochs` ledger roll-up (`ledgerTailMax = 1`, breached
    * once the compaction ledgers its own id) — then probed against
    * q52's oracle verbatim. One row pins the policy's plumbing live:
    * heal-at-entry, the fragmentation read, the threshold judgment,
    * the selective compaction it prescribes, and the roll-up; any row
    * the maintenance loses, duplicates, or misplaces breaks the
    * hashes.
    */
  private val qDedupMaintainedProbe = QueryDef(
    "q66_dedup_maintained_probe",
    (s, dir) => {
      val root = scratchDir("graft-q66")
      val hist = s"$root/hist"
      val idx = s"$root/idx"
      buildFragmentedDedupPair(s, dir, hist, idx)
      val m = Dedup.dedupMaintain(s, hist, idx, "m1",
        Dedup.BucketMaintainPolicy(maxFilesPerPartition = 1,
          ledgerTailMax = 1))
      require(m.actions.exists(_.startsWith("compact-history(")) &&
          m.actions.exists(_.startsWith("compact-ledger(")),
        s"q66 expects the policy to compact buckets AND roll the ledger, " +
          s"got ${m.actions}")
      probeDedupPair(s, dir, hist, idx)
    },
    Some(incrementalProbeOracleSql))

  private val qSimhash = {
    val bits = 32
    val terms = (0 until bits).map { j =>
      val bit = s"((${DuckSql.universalHash("x", j)}) % 2)"
      s"(CASE WHEN list_sum(list_transform(shh, x -> 2 * $bit - 1)) > 0 " +
        s"THEN CAST(${1L << j} AS BIGINT) ELSE 0 END)"
    }.mkString(" +\n           ")
    QueryDef(
      "q23_dedup_simhash",
      // maxBandPop pinned to None (uncapped oracle join); bits/bands
      // keep the 32 / 4×8 oracle geometry explicitly
      (s, dir) => Dedup.simhashPairs(docs(s, dir), maxHamming = 3,
          bits = 32, bands = 4, maxBandPop = None)
        .withColumn("hamming", col("hamming").cast("long"))
        .orderBy("doc_a", "doc_b"),
      Some(
        s"""WITH ${DuckSql.docsCte},
           |${DuckSql.shCte},
           |sig AS (
           |  SELECT doc_id,
           |         ($terms) AS simhash
           |  FROM sh),
           |buckets AS (
           |  SELECT doc_id, simhash, b.band, (simhash >> (8 * b.band)) & 255 AS key
           |  FROM sig, (SELECT unnest(range(0, 4)) AS band) b),
           |cand AS (
           |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           |         CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
           |  FROM buckets a
           |  JOIN buckets b ON a.band = b.band AND a.key = b.key
           |    AND a.doc_id < b.doc_id)
           |SELECT doc_a, doc_b, hamming FROM cand
           |WHERE hamming <= 3
           |ORDER BY doc_a, doc_b""".stripMargin))
  }

  /** The 64-bit / 4×16-bit SimHash geometry as its own hash-checked
    * oracle row — the corpus-scale configuration the operator docstring
    * prescribes (the 32-bit default's 1,024-key bucket space saturates
    * beyond fixture scale), verified bit-for-bit like q23. Bit 63 packs
    * into the BIGINT sign bit on both engines: the oracle's signature
    * term emits the min-long literal as `(-(2⁶³−1) − 1)` (a bare
    * `-9223372036854775808` would parse as HUGEINT in DuckDB), partial
    * sums stay in range because distinct powers accumulate to at most
    * 2⁶³−1 before the negative bit-63 term, and both engines' band
    * extraction masks after an arithmetic shift.
    */
  private val qSimhash64 = {
    val bits = 64
    val bitsPerBand = 16
    val terms = (0 until bits).map { j =>
      val bit = s"((${DuckSql.universalHash("x", j)}) % 2)"
      val weight =
        if (j == 63) "(-9223372036854775807 - 1)"
        else s"CAST(${1L << j} AS BIGINT)"
      s"(CASE WHEN list_sum(list_transform(shh, x -> 2 * $bit - 1)) > 0 " +
        s"THEN $weight ELSE 0 END)"
    }.mkString(" +\n           ")
    QueryDef(
      "q56_dedup_simhash64",
      (s, dir) => Dedup.simhashPairs(docs(s, dir), maxHamming = 3,
          bits = 64, bands = 4, maxBandPop = None)
        .withColumn("hamming", col("hamming").cast("long"))
        .orderBy("doc_a", "doc_b"),
      Some(
        s"""WITH ${DuckSql.docsCte},
           |${DuckSql.shCte},
           |sig AS (
           |  SELECT doc_id,
           |         ($terms) AS simhash
           |  FROM sh),
           |buckets AS (
           |  SELECT doc_id, simhash, b.band,
           |         (simhash >> ($bitsPerBand * b.band)) & 65535 AS key
           |  FROM sig, (SELECT unnest(range(0, 4)) AS band) b),
           |cand AS (
           |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           |         CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
           |  FROM buckets a
           |  JOIN buckets b ON a.band = b.band AND a.key = b.key
           |    AND a.doc_id < b.doc_id)
           |SELECT doc_a, doc_b, hamming FROM cand
           |WHERE hamming <= 3
           |ORDER BY doc_a, doc_b""".stripMargin))
  }

  private val qEmbDup = QueryDef(
    "q24_dedup_embedding",
    (s, dir) => Similarity.cosineDupPairs(emb(s, dir), threshold = 0.45)
      .orderBy("vec_a", "vec_b"),
    Some(
      s"""WITH ${DuckSql.embCte}
         |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |       round(${DuckSql.cosine("a.vec", "b.vec")}, 6) AS cos_sim
         |FROM e a JOIN e b ON a.vec_id < b.vec_id
         |WHERE round(${DuckSql.cosine("a.vec", "b.vec")}, 6) >= 0.45
         |ORDER BY vec_a, vec_b""".stripMargin))

  // ----------------------------------------------------------- similarity

  private val knnQueryIds: Seq[Long] = (0L until 8L)

  private val qKnnBrute = QueryDef(
    "q25_knn_brute",
    (s, dir) => Similarity.bruteForceKnn(emb(s, dir), knnQueryIds, k = 5)
      .withColumn("rank", col("rank").cast("long"))
      .orderBy("query_id", "rank"),
    Some(
      s"""WITH ${DuckSql.embCte},
         |scored AS (
         |  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
         |         round(${DuckSql.cosine("q.vec", "n.vec")}, 6) AS sim
         |  FROM e q JOIN e n ON n.vec_id <> q.vec_id
         |  WHERE q.vec_id < 8)
         |SELECT query_id, neighbor_id, rank, sim FROM (
         |  SELECT *, row_number() OVER
         |    (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
         |  FROM scored)
         |WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin))

  private val qKnnIvf = QueryDef(
    "q26_knn_ivf",
    (s, dir) => Similarity.ivfKnn(emb(s, dir), knnQueryIds, k = 5)
      .withColumn("rank", col("rank").cast("long"))
      .orderBy("query_id", "rank"),
    Some(
      s"""WITH ${DuckSql.embCte},
         |${DuckSql.ivfCentCte(Similarity.DefaultCentroidK)},
         |assigned AS (
         |  SELECT vec_id, centroid_id, vec FROM (
         |    SELECT v.vec_id, c.centroid_id, v.vec,
         |           row_number() OVER (PARTITION BY v.vec_id
         |             ORDER BY ${DuckSql.cosine("v.vec", "c.cvec")} DESC,
         |                      c.centroid_id) AS crank
         |    FROM e v, cent c)
         |  WHERE crank = 1),
         |q AS (SELECT vec_id AS query_id, centroid_id, vec AS vec_q
         |      FROM assigned WHERE vec_id < 8),
         |scored AS (
         |  SELECT q.query_id, n.vec_id AS neighbor_id,
         |         round(${DuckSql.cosine("q.vec_q", "n.vec")}, 6) AS sim
         |  FROM assigned n JOIN q ON n.centroid_id = q.centroid_id
         |  WHERE n.vec_id <> q.query_id)
         |SELECT query_id, neighbor_id, rank, sim FROM (
         |  SELECT *, row_number() OVER
         |    (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
         |  FROM scored)
         |WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin))

  /** Multi-probe IVF: each query searches its 2 nearest centroids'
    * buckets — the recall knob of a deployed IVF index, oracle-checked
    * with the probe ranking (crank <= nprobe) mirrored in SQL.
    */
  private val qKnnIvfMulti = QueryDef(
    "q43_knn_ivf_multiprobe",
    (s, dir) => Similarity.ivfKnn(emb(s, dir), knnQueryIds, k = 5, nprobe = 2)
      .withColumn("rank", col("rank").cast("long"))
      .orderBy("query_id", "rank"),
    Some(
      s"""WITH ${DuckSql.embCte},
         |${DuckSql.ivfCentCte(Similarity.DefaultCentroidK)},
         |assigned AS (
         |  SELECT vec_id, centroid_id, vec FROM (
         |    SELECT v.vec_id, c.centroid_id, v.vec,
         |           row_number() OVER (PARTITION BY v.vec_id
         |             ORDER BY ${DuckSql.cosine("v.vec", "c.cvec")} DESC,
         |                      c.centroid_id) AS crank
         |    FROM e v, cent c)
         |  WHERE crank = 1),
         |qp AS (
         |  SELECT vec_id AS query_id, centroid_id, vec AS vec_q FROM (
         |    SELECT v.vec_id, c.centroid_id, v.vec,
         |           row_number() OVER (PARTITION BY v.vec_id
         |             ORDER BY ${DuckSql.cosine("v.vec", "c.cvec")} DESC,
         |                      c.centroid_id) AS crank
         |    FROM e v, cent c
         |    WHERE v.vec_id < 8)
         |  WHERE crank <= 2),
         |scored AS (
         |  SELECT q.query_id, n.vec_id AS neighbor_id,
         |         round(${DuckSql.cosine("q.vec_q", "n.vec")}, 6) AS sim
         |  FROM assigned n JOIN qp q ON n.centroid_id = q.centroid_id
         |  WHERE n.vec_id <> q.query_id)
         |SELECT query_id, neighbor_id, rank, sim FROM (
         |  SELECT *, row_number() OVER
         |    (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
         |  FROM scored)
         |WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin))

  /** The epoch-grown IVF layout under hash verification: the layout is
    * written from the even-id half of the corpus (so the centroid set
    * is derived from that half ALONE), the odd-id half is appended as a
    * ledgered epoch ([[Similarity.appendIvfEpoch]] — the crash-safe
    * maintenance path), and the multi-probe query runs over the grown
    * layout. The oracle computes the same centroid set, assignment and
    * probe over the UNION in SQL — so the row hashes pin "append ==
    * rebuild" through the live query path, the way q56–q58 pin the cap
    * algebra.
    */
  /** The oracle of the q59-shaped layout (even-half centroid sample,
    * full-corpus assignment + multi-probe) — shared verbatim by q59
    * (which builds the layout live, hash-verifying the maintenance
    * algebra per run) and q61 (which probes the PRE-BUILT memoized
    * layout, pinning probe correctness independently of the build
    * rehearsal).
    */
  private val ivfAppendedOracleSql: String =
    s"""WITH ${DuckSql.embCte},
         |ea AS (SELECT * FROM e WHERE vec_id % 2 = 0),
         |cent AS (
         |  SELECT vec_id AS centroid_id, vec AS cvec FROM ea
         |  ORDER BY ((vec_id % ${DuckSql.P}) * 2654435761) % ${DuckSql.P}, vec_id
         |  LIMIT ${Similarity.DefaultCentroidK}),
         |assigned AS (
         |  SELECT vec_id, centroid_id, vec FROM (
         |    SELECT v.vec_id, c.centroid_id, v.vec,
         |           row_number() OVER (PARTITION BY v.vec_id
         |             ORDER BY ${DuckSql.cosine("v.vec", "c.cvec")} DESC,
         |                      c.centroid_id) AS crank
         |    FROM e v, cent c)
         |  WHERE crank = 1),
         |qp AS (
         |  SELECT vec_id AS query_id, centroid_id, vec AS vec_q FROM (
         |    SELECT v.vec_id, c.centroid_id, v.vec,
         |           row_number() OVER (PARTITION BY v.vec_id
         |             ORDER BY ${DuckSql.cosine("v.vec", "c.cvec")} DESC,
         |                      c.centroid_id) AS crank
         |    FROM e v, cent c
         |    WHERE v.vec_id < 8)
         |  WHERE crank <= 2),
         |scored AS (
         |  SELECT q.query_id, n.vec_id AS neighbor_id,
         |         round(${DuckSql.cosine("q.vec_q", "n.vec")}, 6) AS sim
         |  FROM assigned n JOIN qp q ON n.centroid_id = q.centroid_id
         |  WHERE n.vec_id <> q.query_id)
         |SELECT query_id, neighbor_id, rank, sim FROM (
         |  SELECT *, row_number() OVER
         |    (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
         |  FROM scored)
         |WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin

  private val qIvfAppendedProbe = QueryDef(
    "q59_ivf_appended_probe",
    (s, dir) => {
      val e = emb(s, dir)
      val root = scratchDir("graft-q59")
      val path = s"$root/ivf"
      Similarity.writeIvfPartitioned(e.filter(col("vec_id") % 2 === 0), path)
      Similarity.appendIvfEpoch(e.filter(col("vec_id") % 2 =!= 0), path,
        epochId = "epoch1")
      Similarity.ivfKnnPartitioned(s, path, knnQueryIds, k = 5, nprobe = 2)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    },
    Some(ivfAppendedOracleSql))

  /** Probe-only oracle row: the identical multi-probe query over a
    * layout built ONCE by the memoized fixture step (the same layout
    * the bench's `q59_probe_only` times) — probe correctness pinned
    * INDEPENDENTLY of the per-run build rehearsal q59 deliberately
    * includes, and the bench probe_only numbers gain their own oracle:
    * this row's timed runs never rebuild, so its bench number IS the
    * per-query cost a deployment pays against a standing layout.
    */
  private val qIvfProbePrebuilt = QueryDef(
    "q61_ivf_probe_prebuilt",
    (s, dir) => {
      val path = memoLayout("q59", dir)(buildAppendedLayout(s, dir))
      Similarity.ivfKnnPartitioned(s, path, knnQueryIds, k = 5, nprobe = 2)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    },
    Some(ivfAppendedOracleSql))

  /** The SERVING-shaped ANN path under hash verification —
    * [[Similarity.ivfKnnPartitionedWith]] probed with EXTERNAL held-out
    * query vectors over the same pre-built memoized layout q61 probes.
    * The held-out set is deterministic and genuinely off-corpus
    * (midpoints of consecutive stored pairs, all-double arithmetic on
    * both sides), so the row pins what the stored-id rows q59/q61
    * cannot: the serving route itself — centroid RANKING against the
    * `_centroids` sidecar for a vector with no stored assignment, the
    * literal partition prune it prescribes, and the
    * no-self-exclusion contract. The oracle recomputes midpoints,
    * routing, pruned scoring and top-k verbatim in SQL.
    */
  /** Deterministic OFF-CORPUS held-out query vectors shared by the
    * serving rows (q65/q67): midpoints of consecutive stored pairs at
    * ids 0, 16, …, 112 — derived in-plan (self-join + codegen'd
    * `zip_with`, all-double arithmetic) so both engines compute
    * bit-identical query vectors.
    */
  private def heldOutQueries(
      s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val d = emb(s, dir)
    val a = d.select(col("vec_id"),
      col("embedding").cast("array<double>").as("va"))
    val b = d.select((col("vec_id") - 1).as("vec_id"),
      col("embedding").cast("array<double>").as("vb"))
    a.join(b, "vec_id")
      .filter(col("vec_id") % 16 === 0 && col("vec_id") < 128)
      .select(col("vec_id").as("query_id"),
        zip_with(col("va"), col("vb"),
          (x, y) => (x + y) / lit(2.0)).as("embedding"))
  }

  /** [[heldOutQueries]]' DuckDB twin (`q(query_id, vec_q)`). */
  private val heldOutCte: String =
    s"""q AS (
       |  SELECT a.vec_id AS query_id,
       |         list_transform(range(1, len(a.vec) + 1),
       |           i -> (a.vec[i] + b.vec[i]) / 2.0) AS vec_q
       |  FROM e a JOIN e b ON b.vec_id = a.vec_id + 1
       |  WHERE a.vec_id % 16 = 0 AND a.vec_id < 128)""".stripMargin

  private val qIvfServingProbe = QueryDef(
    "q65_ivf_serving_probe",
    (s, dir) => {
      val path = memoLayout("q59", dir)(buildAppendedLayout(s, dir))
      Similarity.ivfKnnPartitionedWith(s, path, heldOutQueries(s, dir),
          k = 5, nprobe = 2)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    },
    Some(
      s"""WITH ${DuckSql.embCte},
         |ea AS (SELECT * FROM e WHERE vec_id % 2 = 0),
         |cent AS (
         |  SELECT vec_id AS centroid_id, vec AS cvec FROM ea
         |  ORDER BY ((vec_id % ${DuckSql.P}) * 2654435761) % ${DuckSql.P}, vec_id
         |  LIMIT ${Similarity.DefaultCentroidK}),
         |assigned AS (
         |  SELECT vec_id, centroid_id, vec FROM (
         |    SELECT v.vec_id, c.centroid_id, v.vec,
         |           row_number() OVER (PARTITION BY v.vec_id
         |             ORDER BY ${DuckSql.cosine("v.vec", "c.cvec")} DESC,
         |                      c.centroid_id) AS crank
         |    FROM e v, cent c)
         |  WHERE crank = 1),
         |$heldOutCte,
         |qp AS (
         |  SELECT query_id, centroid_id, vec_q FROM (
         |    SELECT q.query_id, c.centroid_id, q.vec_q,
         |           row_number() OVER (PARTITION BY q.query_id
         |             ORDER BY ${DuckSql.cosine("q.vec_q", "c.cvec")} DESC,
         |                      c.centroid_id) AS crank
         |    FROM q, cent c)
         |  WHERE crank <= 2),
         |scored AS (
         |  SELECT qp.query_id, n.vec_id AS neighbor_id,
         |         round(${DuckSql.cosine("qp.vec_q", "n.vec")}, 6) AS sim
         |  FROM assigned n JOIN qp ON n.centroid_id = qp.centroid_id)
         |SELECT query_id, neighbor_id, rank, sim FROM (
         |  SELECT *, row_number() OVER
         |    (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
         |  FROM scored)
         |WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin))

  /** The EXACT side of the serving recall probe under hash
    * verification — [[Similarity.bruteForceKnnWith]] over the same
    * held-out off-corpus queries as q65, no IVF routing, no
    * self-exclusion: external ids are their own namespace, so a query
    * equal to a stored vector legitimately finds that row at sim 1.0.
    * This is the reference answer `ivfRecallProbe(queryVectors = …)`
    * divides by — pinning it keeps the serving recall observable
    * itself oracle-grounded.
    */
  private val qKnnBruteExternal = QueryDef(
    "q67_knn_brute_external",
    (s, dir) =>
      Similarity.bruteForceKnnWith(emb(s, dir), heldOutQueries(s, dir),
          k = 5)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank"),
    Some(
      s"""WITH ${DuckSql.embCte},
         |$heldOutCte,
         |scored AS (
         |  SELECT q.query_id, n.vec_id AS neighbor_id,
         |         round(${DuckSql.cosine("q.vec_q", "n.vec")}, 6) AS sim
         |  FROM e n, q)
         |SELECT query_id, neighbor_id, rank, sim FROM (
         |  SELECT *, row_number() OVER
         |    (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
         |  FROM scored)
         |WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin))

  /** The IVF-SQ8 two-stage probe under hash verification —
    * [[Similarity.ivfKnnQuantized]] over the same pre-built memoized
    * layout q61 probes, with a TIGHT rerank (8 candidates for k = 5):
    * the final rows depend on which candidates the int8 stage keeps,
    * so the row hashes pin the whole quantized path — the stored
    * per-vector scale, the packed-byte integer dot
    * ([[graft.functions.Int8Dot]]), the rounded approximate ranking
    * that selects the shortlist, and the exact rerank. The oracle
    * recomputes q41's quantization algebra, the approximate top-8 and
    * the exact top-5 verbatim in SQL (the integer dot is exact in
    * DuckDB's double arithmetic: |dot| <= dim * 127^2 << 2^53).
    */
  /** q68's oracle — shared VERBATIM with q70: the two queries differ
    * only in where the stage-1 shortlist lives (driver literal vs
    * DataFrame join), a placement choice the docstring claims is
    * row-identical, so one SQL text pinning both IS the claim's
    * cross-engine proof.
    */
  private val sq8ProbeOracleSql: String =
      s"""WITH ${DuckSql.embCte},
         |ea AS (SELECT * FROM e WHERE vec_id % 2 = 0),
         |cent AS (
         |  SELECT vec_id AS centroid_id, vec AS cvec FROM ea
         |  ORDER BY ((vec_id % ${DuckSql.P}) * 2654435761) % ${DuckSql.P}, vec_id
         |  LIMIT ${Similarity.DefaultCentroidK}),
         |assigned AS (
         |  SELECT vec_id, centroid_id, vec FROM (
         |    SELECT v.vec_id, c.centroid_id, v.vec,
         |           row_number() OVER (PARTITION BY v.vec_id
         |             ORDER BY ${DuckSql.cosine("v.vec", "c.cvec")} DESC,
         |                      c.centroid_id) AS crank
         |    FROM e v, cent c)
         |  WHERE crank = 1),
         |qq AS (
         |  SELECT vec_id, vec, qscale,
         |         CASE WHEN qscale = 0
         |              THEN list_transform(vec, x -> CAST(0 AS DOUBLE))
         |              ELSE list_transform(vec, x ->
         |                CAST(CAST(round(x / qscale) AS INT) AS DOUBLE))
         |         END AS qvec,
         |         sqrt(list_dot_product(vec, vec)) AS nrm
         |  FROM (
         |    SELECT vec_id, vec,
         |           list_max(list_transform(vec, x -> abs(x))) / 127 AS qscale
         |    FROM e)),
         |qp AS (
         |  SELECT vec_id AS query_id, centroid_id FROM (
         |    SELECT v.vec_id, c.centroid_id,
         |           row_number() OVER (PARTITION BY v.vec_id
         |             ORDER BY ${DuckSql.cosine("v.vec", "c.cvec")} DESC,
         |                      c.centroid_id) AS crank
         |    FROM e v, cent c
         |    WHERE v.vec_id < 8)
         |  WHERE crank <= 2),
         |cand AS (
         |  SELECT qp.query_id, n.vec_id AS neighbor_id,
         |         round((list_dot_product(a.qvec, b.qvec)
         |                  * a.qscale * b.qscale)
         |               / (a.nrm * b.nrm), 6) AS qsim
         |  FROM assigned n
         |  JOIN qp ON n.centroid_id = qp.centroid_id
         |  JOIN qq a ON a.vec_id = qp.query_id
         |  JOIN qq b ON b.vec_id = n.vec_id
         |  WHERE n.vec_id <> qp.query_id),
         |short AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |           row_number() OVER (PARTITION BY query_id
         |             ORDER BY qsim DESC, neighbor_id) AS qrank
         |    FROM cand)
         |  WHERE qrank <= 8),
         |scored AS (
         |  SELECT sh.query_id, sh.neighbor_id,
         |         round(${DuckSql.cosine("a.vec", "b.vec")}, 6) AS sim
         |  FROM short sh
         |  JOIN e a ON a.vec_id = sh.query_id
         |  JOIN e b ON b.vec_id = sh.neighbor_id)
         |SELECT query_id, neighbor_id, rank, sim FROM (
         |  SELECT *, row_number() OVER
         |    (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
         |  FROM scored)
         |WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin

  /** The IVF-SQ8 two-stage probe under hash verification —
    * [[Similarity.ivfKnnQuantized]] over the same pre-built memoized
    * layout q61 probes, with a TIGHT rerank (8 candidates for k = 5):
    * the final rows depend on which candidates the int8 stage keeps,
    * so the row hashes pin the whole quantized path — the stored
    * per-vector scale, the packed-byte integer dot
    * ([[graft.functions.Int8Dot]]), the rounded approximate ranking
    * that selects the shortlist, and the exact rerank. The oracle
    * recomputes q41's quantization algebra, the approximate top-8 and
    * the exact top-5 verbatim in SQL (the integer dot is exact in
    * DuckDB's double arithmetic: |dot| <= dim * 127^2 << 2^53).
    */
  private val qIvfSq8Probe = QueryDef(
    "q68_ivf_sq8_probe",
    (s, dir) => {
      val path = memoLayout("q59", dir)(buildAppendedLayout(s, dir))
      Similarity.ivfKnnQuantized(s, path, knnQueryIds, k = 5, nprobe = 2,
          rerank = 8)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    },
    Some(sq8ProbeOracleSql))

  /** The DISTRIBUTED SQ8 rerank under hash verification — q68's exact
    * probe with `collectShortlist = false`, so the stage-1 shortlist
    * stays a DataFrame and stage 2 reranks via joins instead of a
    * driver-collected `IN` pushdown (the offline-batch mode where
    * driver state must not grow with the query count). The oracle is
    * q68's VERBATIM: same tight rerank-8 shortlist, same exact top-5 —
    * the hashes prove the two rerank placements are row-identical on a
    * LIVE layout, which is precisely the mode's contract.
    */
  private val qIvfSq8DistributedRerank = QueryDef(
    "q70_ivf_sq8_distributed_rerank",
    (s, dir) => {
      val path = memoLayout("q59", dir)(buildAppendedLayout(s, dir))
      Similarity.ivfKnnQuantized(s, path, knnQueryIds, k = 5, nprobe = 2,
          rerank = 8, collectShortlist = false)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    },
    Some(sq8ProbeOracleSql))

  /** The SERVING-shaped SQ8 route under hash verification —
    * [[Similarity.ivfKnnQuantizedWith]] over the same held-out
    * off-corpus midpoint queries as q65/q67, tight rerank: pins what
    * q68's stored-id row cannot — the ON-THE-FLY query quantization
    * (scale + rounded ints from a vector the layout has never seen),
    * centroid ranking for an unassigned vector, the int8 scoring of
    * external-vs-stored packed bytes, and the no-self-exclusion
    * contract, all through the quantized route.
    */
  private val qIvfSq8ServingProbe = QueryDef(
    "q69_ivf_sq8_serving_probe",
    (s, dir) => {
      val path = memoLayout("q59", dir)(buildAppendedLayout(s, dir))
      Similarity.ivfKnnQuantizedWith(s, path, heldOutQueries(s, dir),
          k = 5, nprobe = 2, rerank = 8)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    },
    Some(
      s"""WITH ${DuckSql.embCte},
         |ea AS (SELECT * FROM e WHERE vec_id % 2 = 0),
         |cent AS (
         |  SELECT vec_id AS centroid_id, vec AS cvec FROM ea
         |  ORDER BY ((vec_id % ${DuckSql.P}) * 2654435761) % ${DuckSql.P}, vec_id
         |  LIMIT ${Similarity.DefaultCentroidK}),
         |assigned AS (
         |  SELECT vec_id, centroid_id, vec FROM (
         |    SELECT v.vec_id, c.centroid_id, v.vec,
         |           row_number() OVER (PARTITION BY v.vec_id
         |             ORDER BY ${DuckSql.cosine("v.vec", "c.cvec")} DESC,
         |                      c.centroid_id) AS crank
         |    FROM e v, cent c)
         |  WHERE crank = 1),
         |$heldOutCte,
         |qq AS (
         |  SELECT vec_id, qscale,
         |         CASE WHEN qscale = 0
         |              THEN list_transform(vec, x -> CAST(0 AS DOUBLE))
         |              ELSE list_transform(vec, x ->
         |                CAST(CAST(round(x / qscale) AS INT) AS DOUBLE))
         |         END AS qvec,
         |         sqrt(list_dot_product(vec, vec)) AS nrm
         |  FROM (
         |    SELECT vec_id, vec,
         |           list_max(list_transform(vec, x -> abs(x))) / 127 AS qscale
         |    FROM e)),
         |kq AS (
         |  SELECT query_id, qscale,
         |         CASE WHEN qscale = 0
         |              THEN list_transform(vec_q, x -> CAST(0 AS DOUBLE))
         |              ELSE list_transform(vec_q, x ->
         |                CAST(CAST(round(x / qscale) AS INT) AS DOUBLE))
         |         END AS qvec,
         |         sqrt(list_dot_product(vec_q, vec_q)) AS nrm
         |  FROM (
         |    SELECT query_id, vec_q,
         |           list_max(list_transform(vec_q, x -> abs(x))) / 127
         |             AS qscale
         |    FROM q)),
         |qp AS (
         |  SELECT query_id, centroid_id FROM (
         |    SELECT q.query_id, c.centroid_id,
         |           row_number() OVER (PARTITION BY q.query_id
         |             ORDER BY ${DuckSql.cosine("q.vec_q", "c.cvec")} DESC,
         |                      c.centroid_id) AS crank
         |    FROM q, cent c)
         |  WHERE crank <= 2),
         |cand AS (
         |  SELECT qp.query_id, n.vec_id AS neighbor_id,
         |         round((list_dot_product(a.qvec, b.qvec)
         |                  * a.qscale * b.qscale)
         |               / (a.nrm * b.nrm), 6) AS qsim
         |  FROM assigned n
         |  JOIN qp ON n.centroid_id = qp.centroid_id
         |  JOIN kq a ON a.query_id = qp.query_id
         |  JOIN qq b ON b.vec_id = n.vec_id),
         |short AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |           row_number() OVER (PARTITION BY query_id
         |             ORDER BY qsim DESC, neighbor_id) AS qrank
         |    FROM cand)
         |  WHERE qrank <= 8),
         |scored AS (
         |  SELECT sh.query_id, sh.neighbor_id,
         |         round(${DuckSql.cosine("qv.vec_q", "b.vec")}, 6) AS sim
         |  FROM short sh
         |  JOIN q qv ON qv.query_id = sh.query_id
         |  JOIN e b ON b.vec_id = sh.neighbor_id)
         |SELECT query_id, neighbor_id, rank, sim FROM (
         |  SELECT *, row_number() OVER
         |    (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
         |  FROM scored)
         |WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin))

  /** The IVF-PQ two-stage probe under hash verification —
    * [[graft.operators.Pq.pqKnn]] over a memoized [[graft.operators.Pq.writePqIndex]]
    * index (m = 8 subspaces, k = 16 codewords, the deterministic
    * id-hash sample codebook) with the q68 TIGHT-rerank discipline
    * (8 candidates for k = 5): the final rows depend on which
    * candidates the ADC stage keeps, so the hashes pin the whole PQ
    * path — the codebook sample order, the per-subspace argmin
    * encoding ([[graft.functions.PqEncode]], ties to the smaller
    * codeword), the LUT construction, the per-subspace-grouped ADC
    * fold ([[graft.functions.PqAdc]]), the rounded approximate
    * ranking, and the exact rerank against the SOURCE corpus. The
    * oracle re-derives every stage in SQL: the same window-sample
    * codebook, `row_number()`-argmin encoding over ordered
    * squared-distance folds, and ADC as `list_reduce` over
    * per-subspace `list_dot_product` slices — the identical partials
    * added in the identical order.
    */
  private val qIvfPqProbe = QueryDef(
    "q72_ivfpq_probe",
    (s, dir) => {
      val idx = memoLayout("q72pq", dir)(p =>
        graft.operators.Pq.writePqIndex(emb(s, dir), p))
      graft.operators.Pq.pqKnn(s, idx, emb(s, dir), knnQueryIds, k = 5,
          nprobe = 2, rerank = 8)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    },
    Some(pqProbeOracle("e")))

  /** The shared CTE block of every PQ oracle: the deterministic
    * geometry (codebook + coarse centroids) sampled from `src` —
    * `"e"` (full corpus) for the one-shot q72/q74 build, `"ea"` (the
    * even-id build half) for the q73 lifecycle row whose appended
    * rows must reuse the STORED geometry — plus the assignment,
    * per-subspace argmin encoding, codeword reconstruction and corpus
    * norms, always over the FULL corpus (that asymmetry IS the append
    * contract q73 tests).
    */
  private def pqEncodeCtes(src: String): String =
      s"""ea AS (SELECT * FROM e WHERE vec_id % 2 = 0),
         |cent AS (
         |  SELECT vec_id AS centroid_id, vec AS cvec FROM $src
         |  ORDER BY ((vec_id % ${DuckSql.P}) * 2654435761) % ${DuckSql.P},
         |           vec_id
         |  LIMIT ${graft.operators.Similarity.DefaultCentroidK}),
         |assigned AS (
         |  SELECT vec_id, centroid_id FROM (
         |    SELECT v.vec_id, c.centroid_id,
         |           row_number() OVER (PARTITION BY v.vec_id
         |             ORDER BY ${DuckSql.cosine("v.vec", "c.cvec")} DESC,
         |                      c.centroid_id) AS crank
         |    FROM e v, cent c)
         |  WHERE crank = 1),
         |cb AS (
         |  SELECT c, vec AS cbv FROM (
         |    SELECT vec, row_number() OVER (
         |      ORDER BY ((vec_id % ${DuckSql.P}) * 2654435761) % ${DuckSql.P},
         |               vec_id) AS c
         |    FROM $src)
         |  WHERE c <= 16),
         |js AS (SELECT unnest(range(0, 8)) AS j),
         |enc AS (
         |  SELECT vec_id, j, cbv FROM (
         |    SELECT v.vec_id, js.j, b.cbv,
         |           row_number() OVER (PARTITION BY v.vec_id, js.j ORDER BY
         |             list_reduce(list_transform(range(0, 8), i ->
         |               (v.vec[js.j*8 + i + 1] - b.cbv[js.j*8 + i + 1])
         |               * (v.vec[js.j*8 + i + 1] - b.cbv[js.j*8 + i + 1])),
         |               (a, b2) -> a + b2) ASC, b.c ASC) AS r
         |    FROM e v, js, cb b)
         |  WHERE r = 1),
         |rec AS (
         |  SELECT vec_id, list(cbv ORDER BY j) AS cws FROM enc
         |  GROUP BY vec_id),
         |nrmt AS (
         |  SELECT vec_id, sqrt(list_dot_product(vec, vec)) AS nrm FROM e)"""
        .stripMargin

  /** The q72/q73 stored-id PQ-probe re-derivation over
    * [[pqEncodeCtes]]: route the stored query ids, ADC-score the
    * probed partitions' codes with self-exclusion, shortlist ≤ 8,
    * exact-rerank top-5 against the corpus.
    */
  private def pqProbeOracle(src: String): String =
      s"""WITH ${DuckSql.embCte},
         |${pqEncodeCtes(src)},
         |qp AS (
         |  SELECT vec_id AS query_id, centroid_id FROM (
         |    SELECT v.vec_id, c.centroid_id,
         |           row_number() OVER (PARTITION BY v.vec_id
         |             ORDER BY ${DuckSql.cosine("v.vec", "c.cvec")} DESC,
         |                      c.centroid_id) AS crank
         |    FROM e v, cent c
         |    WHERE v.vec_id < 8)
         |  WHERE crank <= 2),
         |cand AS (
         |  SELECT qp.query_id, n.vec_id AS neighbor_id,
         |         round(
         |           list_reduce(list_transform(range(0, 8), j ->
         |             list_dot_product(
         |               list_slice(q.vec, j*8 + 1, j*8 + 8),
         |               list_slice(r.cws[j + 1], j*8 + 1, j*8 + 8))),
         |             (a, b2) -> a + b2)
         |           / (qn.nrm * nn.nrm), 6) AS qsim
         |  FROM assigned n
         |  JOIN qp ON n.centroid_id = qp.centroid_id
         |  JOIN e q ON q.vec_id = qp.query_id
         |  JOIN rec r ON r.vec_id = n.vec_id
         |  JOIN nrmt qn ON qn.vec_id = qp.query_id
         |  JOIN nrmt nn ON nn.vec_id = n.vec_id
         |  WHERE n.vec_id <> qp.query_id),
         |short AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |           row_number() OVER (PARTITION BY query_id
         |             ORDER BY qsim DESC, neighbor_id) AS qrank
         |    FROM cand)
         |  WHERE qrank <= 8),
         |scored AS (
         |  SELECT sh.query_id, sh.neighbor_id,
         |         round(${DuckSql.cosine("a.vec", "b.vec")}, 6) AS sim
         |  FROM short sh
         |  JOIN e a ON a.vec_id = sh.query_id
         |  JOIN e b ON b.vec_id = sh.neighbor_id)
         |SELECT query_id, neighbor_id, rank, sim FROM (
         |  SELECT *, row_number() OVER
         |    (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
         |  FROM scored)
         |WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin

  /** The PQ SERVING route under hash verification — q65/q69's
    * counterpart for [[graft.operators.Pq.pqKnnWith]]: the same
    * held-out off-corpus query vectors (stored-pair midpoints,
    * all-double arithmetic on both engines) routed by centroid
    * RANKING against the sidecar, their ADC LUTs built on the fly
    * from vectors the index has never seen, the probed partitions'
    * codes scored with NO self-exclusion (external ids are their own
    * namespace), and the shortlist exact-reranked against the source
    * corpus. With q65 (float) and q69 (SQ8) this completes the
    * serving triple — all three routes pinned on the identical query
    * set, so a tie-break or rounding divergence in any one quantizer
    * shows up as a hash mismatch against its own oracle. The
    * cand/short/rank stages deliberately repeat [[pqProbeOracle]]'s
    * shape rather than parameterize it further: each row's oracle
    * stays readable as ONE explicit SQL derivation (the file's
    * discipline), and both copies are independently hash-verified.
    */
  private val qPqServingProbe = QueryDef(
    "q74_pq_serving_probe",
    (s, dir) => {
      val idx = memoLayout("q72pq", dir)(p =>
        graft.operators.Pq.writePqIndex(emb(s, dir), p))
      graft.operators.Pq.pqKnnWith(s, idx, emb(s, dir),
          heldOutQueries(s, dir), k = 5, nprobe = 2, rerank = 8)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    },
    Some(
      s"""WITH ${DuckSql.embCte},
         |${pqEncodeCtes("e")},
         |$heldOutCte,
         |qnrm AS (
         |  SELECT query_id, sqrt(list_dot_product(vec_q, vec_q)) AS nrm
         |  FROM q),
         |qp AS (
         |  SELECT query_id, centroid_id FROM (
         |    SELECT q.query_id, c.centroid_id,
         |           row_number() OVER (PARTITION BY q.query_id
         |             ORDER BY ${DuckSql.cosine("q.vec_q", "c.cvec")} DESC,
         |                      c.centroid_id) AS crank
         |    FROM q, cent c)
         |  WHERE crank <= 2),
         |cand AS (
         |  SELECT qp.query_id, n.vec_id AS neighbor_id,
         |         round(
         |           list_reduce(list_transform(range(0, 8), j ->
         |             list_dot_product(
         |               list_slice(qv.vec_q, j*8 + 1, j*8 + 8),
         |               list_slice(r.cws[j + 1], j*8 + 1, j*8 + 8))),
         |             (a, b2) -> a + b2)
         |           / (qn.nrm * nn.nrm), 6) AS qsim
         |  FROM assigned n
         |  JOIN qp ON n.centroid_id = qp.centroid_id
         |  JOIN q qv ON qv.query_id = qp.query_id
         |  JOIN rec r ON r.vec_id = n.vec_id
         |  JOIN qnrm qn ON qn.query_id = qp.query_id
         |  JOIN nrmt nn ON nn.vec_id = n.vec_id),
         |short AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |           row_number() OVER (PARTITION BY query_id
         |             ORDER BY qsim DESC, neighbor_id) AS qrank
         |    FROM cand)
         |  WHERE qrank <= 8),
         |scored AS (
         |  SELECT sh.query_id, sh.neighbor_id,
         |         round(${DuckSql.cosine("qv.vec_q", "b.vec")}, 6) AS sim
         |  FROM short sh
         |  JOIN q qv ON qv.query_id = sh.query_id
         |  JOIN e b ON b.vec_id = sh.neighbor_id)
         |SELECT query_id, neighbor_id, rank, sim FROM (
         |  SELECT *, row_number() OVER
         |    (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
         |  FROM scored)
         |WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin))

  /** The PQ index LIFECYCLE under hash verification — q64's policy
    * row for the [[graft.operators.Pq]] lifecycle: the index is built
    * over the even-id half only (codebook + coarse centroids sampled
    * from that half — the frozen-era geometry), the odd half arrives
    * as a ledgered [[graft.operators.Pq.appendPqEpoch]] encoded with
    * the STORED codebook (no retrain — the append contract), and the
    * fragmented index is handed to [[graft.operators.Pq.pqMaintain]]
    * with thresholds forcing the compact-partitions and ledger
    * roll-up arms (skew pinned effectively-infinite: the rotate arm
    * would re-train the codebook over the full corpus and change
    * every encoding the oracle derives — q72 pins the one-shot build,
    * this row pins everything else). The probe then runs over the
    * maintained index, so one row pins the whole arc live:
    * build-half sampling, stored-codebook encoding of appended rows,
    * their sidecar routing, heal-at-entry, the policy's selective
    * compaction + ledger roll, and the two-stage ADC probe. The
    * oracle is q72's re-derivation with the geometry sampled from the
    * build half only — an appended row encoded with the wrong
    * codebook, routed to the wrong partition, lost or duplicated by
    * the maintenance rewrites breaks the row hashes.
    */
  private val qPqMaintainedProbe = QueryDef(
    "q73_pq_maintained_probe",
    (s, dir) => {
      val e = emb(s, dir)
      val root = scratchDir("graft-q73")
      val path = s"$root/pq"
      graft.operators.Pq.writePqIndex(
        e.filter(col("vec_id") % 2 === 0), path)
      graft.operators.Pq.appendPqEpoch(
        e.filter(col("vec_id") % 2 =!= 0), path, epochId = "epoch1")
      val m = graft.operators.Pq.pqMaintain(s, path, "m1", e,
        graft.operators.Pq.PqMaintainPolicy(maxFilesPerPartition = 1,
          skewThreshold = Double.MaxValue, ledgerTailMax = 1))
      require(m.actions.exists(_.startsWith("compact-partitions(")) &&
          m.actions.exists(_.startsWith("compact-ledger(")),
        s"q73 expects the policy to compact files AND roll the " +
          s"ledger, got ${m.actions}")
      graft.operators.Pq.pqKnn(s, path, e, knnQueryIds, k = 5,
          nprobe = 2, rerank = 8)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    },
    Some(pqProbeOracle("ea")))

  /** The STREAMING ingest path of the PQ index under hash
    * verification — q73's lifecycle driven through
    * [[graft.streaming.StreamingSimilarity]]'s spool → boundary-apply
    * machinery instead of a manual [[graft.operators.Pq.appendPqEpoch]]
    * call: the odd-id half arrives as TWO spooled micro-batches of one
    * epoch, and the epoch-boundary apply lands it in the corpus layout
    * AND the derived PQ index (the `applyToPqIndex` contract), which
    * the policy then compacts and the probe serves. The oracle is
    * q73's VERBATIM (geometry sampled from the even-id build half,
    * encoding over the full corpus) — one oracle text pinning both the
    * manual-append and the streamed-spool placements IS the proof the
    * streaming path appends exactly the same index state: a row the
    * spool union drops or double-applies, a batch routed against the
    * wrong sidecar, or a boundary that re-encodes with a retrained
    * codebook breaks these hashes.
    */
  private val qPqStreamedProbe = QueryDef(
    "q75_pq_streamed_probe",
    (s, dir) => {
      val e = emb(s, dir)
      val root = scratchDir("graft-q75")
      val layout = s"$root/ivf"
      val idx = s"$root/pq"
      val spool = s"$root/spool"
      val build = e.filter(col("vec_id") % 2 === 0)
      // corpus layout and PQ index both build from `build` into
      // DIFFERENT paths — independent; overlap their jobs (§2.6). The
      // two spooled micro-batches are independent too (distinct
      // batch_id dirs); the epoch apply needs all four and stays
      // sequential.
      concurrently(
        () => Similarity.writeIvfPartitioned(build, layout),
        () => graft.operators.Pq.writePqIndex(build, idx))
      concurrently(
        () => graft.streaming.StreamingDedup.spoolBatch(
          e.filter(col("vec_id") % 4 === 1), s"$spool/epoch1", batchId = 0L),
        () => graft.streaming.StreamingDedup.spoolBatch(
          e.filter(col("vec_id") % 4 === 3), s"$spool/epoch1", batchId = 1L))
      require(graft.streaming.StreamingSimilarity.applySpooledEpoch(
          s, spool, "epoch1", layout, "vec_id", Some(idx)),
        "q75 expects the spooled epoch to apply NOW (fresh scratch)")
      val m = graft.operators.Pq.pqMaintain(s, idx, "m1", e,
        graft.operators.Pq.PqMaintainPolicy(maxFilesPerPartition = 1,
          skewThreshold = Double.MaxValue, ledgerTailMax = 1))
      require(m.actions.exists(_.startsWith("compact-partitions(")),
        s"q75 expects the policy to compact the epoch fragmentation, " +
          s"got ${m.actions}")
      graft.operators.Pq.pqKnn(s, idx, e, knnQueryIds, k = 5,
          nprobe = 2, rerank = 8)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    },
    Some(pqProbeOracle("ea")))

  /** The RESIDUAL-encoded PQ index (classic IVFADC) under hash
    * verification — q73's lifecycle shape (build over the even-id
    * half, odd half as a ledgered stored-geometry append, tight
    * rerank-8 probe) with `residual = true`: the codes quantize
    * `vec - coarse_centroid` and the probe adds the exact
    * `dot(q, c)` term back per (query, probed centroid). One row
    * pins the whole residual arc — the residual CODEBOOK (the k
    * deterministic sample rows AFTER the centroid prefix — a
    * centroid's own residual is the zero vector — their residuals vs
    * their own assigned centroids), the residual encoding of both the built
    * and the APPENDED half (an append that encoded raw vectors, or
    * subtracted the wrong centroid, scores garbage under the
    * generation's LUT and breaks the shortlist hashes), the
    * per-probe-row correction term, and the unchanged exact rerank.
    * The oracle re-derives the subtraction, the residual argmin
    * encode, and the corrected ADC fold verbatim in SQL.
    */
  private val qPqResidualProbe = QueryDef(
    "q76_pq_residual_probe",
    (s, dir) => {
      val e = emb(s, dir)
      val root = scratchDir("graft-q76")
      val path = s"$root/pq"
      graft.operators.Pq.writePqIndex(
        e.filter(col("vec_id") % 2 === 0), path, residual = true)
      graft.operators.Pq.appendPqEpoch(
        e.filter(col("vec_id") % 2 =!= 0), path, epochId = "epoch1")
      graft.operators.Pq.pqKnn(s, path, e, knnQueryIds, k = 5,
          nprobe = 2, rerank = 8)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    },
    Some(
      s"""WITH ${DuckSql.embCte},
         |ea AS (SELECT * FROM e WHERE vec_id % 2 = 0),
         |cent AS (
         |  SELECT vec_id AS centroid_id, vec AS cvec FROM ea
         |  ORDER BY ((vec_id % ${DuckSql.P}) * 2654435761) % ${DuckSql.P},
         |           vec_id
         |  LIMIT ${graft.operators.Similarity.DefaultCentroidK}),
         |assigned AS (
         |  SELECT vec_id, centroid_id, cvec FROM (
         |    SELECT v.vec_id, c.centroid_id, c.cvec,
         |           row_number() OVER (PARTITION BY v.vec_id
         |             ORDER BY ${DuckSql.cosine("v.vec", "c.cvec")} DESC,
         |                      c.centroid_id) AS crank
         |    FROM e v, cent c)
         |  WHERE crank = 1),
         |rv AS (
         |  SELECT a.vec_id, a.centroid_id,
         |         list_transform(range(0, 64), i ->
         |           v.vec[i + 1] - a.cvec[i + 1]) AS res
         |  FROM assigned a JOIN e v ON v.vec_id = a.vec_id),
         |cb AS (
         |  SELECT s.c, r.res AS cbv FROM (
         |    SELECT vec_id, row_number() OVER (
         |      ORDER BY ((vec_id % ${DuckSql.P}) * 2654435761) % ${DuckSql.P},
         |               vec_id) AS c
         |    FROM ea) s
         |  JOIN rv r ON r.vec_id = s.vec_id
         |  WHERE s.c > ${graft.operators.Similarity.DefaultCentroidK}
         |    AND s.c <= ${graft.operators.Similarity.DefaultCentroidK} + 16),
         |js AS (SELECT unnest(range(0, 8)) AS j),
         |enc AS (
         |  SELECT vec_id, j, cbv FROM (
         |    SELECT v.vec_id, js.j, b.cbv,
         |           row_number() OVER (PARTITION BY v.vec_id, js.j ORDER BY
         |             list_reduce(list_transform(range(0, 8), i ->
         |               (v.res[js.j*8 + i + 1] - b.cbv[js.j*8 + i + 1])
         |               * (v.res[js.j*8 + i + 1] - b.cbv[js.j*8 + i + 1])),
         |               (a, b2) -> a + b2) ASC, b.c ASC) AS r
         |    FROM rv v, js, cb b)
         |  WHERE r = 1),
         |rec AS (
         |  SELECT vec_id, list(cbv ORDER BY j) AS cws FROM enc
         |  GROUP BY vec_id),
         |nrmt AS (
         |  SELECT vec_id, sqrt(list_dot_product(vec, vec)) AS nrm FROM e),
         |qp AS (
         |  SELECT vec_id AS query_id, centroid_id, cvec FROM (
         |    SELECT v.vec_id, c.centroid_id, c.cvec,
         |           row_number() OVER (PARTITION BY v.vec_id
         |             ORDER BY ${DuckSql.cosine("v.vec", "c.cvec")} DESC,
         |                      c.centroid_id) AS crank
         |    FROM e v, cent c
         |    WHERE v.vec_id < 8)
         |  WHERE crank <= 2),
         |cand AS (
         |  SELECT qp.query_id, n.vec_id AS neighbor_id,
         |         round((list_dot_product(q.vec, qp.cvec)
         |                + list_reduce(list_transform(range(0, 8), j ->
         |                    list_dot_product(
         |                      list_slice(q.vec, j*8 + 1, j*8 + 8),
         |                      list_slice(r.cws[j + 1], j*8 + 1, j*8 + 8))),
         |                    (a, b2) -> a + b2))
         |               / (qn.nrm * nn.nrm), 6) AS qsim
         |  FROM assigned n
         |  JOIN qp ON n.centroid_id = qp.centroid_id
         |  JOIN e q ON q.vec_id = qp.query_id
         |  JOIN rec r ON r.vec_id = n.vec_id
         |  JOIN nrmt qn ON qn.vec_id = qp.query_id
         |  JOIN nrmt nn ON nn.vec_id = n.vec_id
         |  WHERE n.vec_id <> qp.query_id),
         |short AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |           row_number() OVER (PARTITION BY query_id
         |             ORDER BY qsim DESC, neighbor_id) AS qrank
         |    FROM cand)
         |  WHERE qrank <= 8),
         |scored AS (
         |  SELECT sh.query_id, sh.neighbor_id,
         |         round(${DuckSql.cosine("a.vec", "b.vec")}, 6) AS sim
         |  FROM short sh
         |  JOIN e a ON a.vec_id = sh.query_id
         |  JOIN e b ON b.vec_id = sh.neighbor_id)
         |SELECT query_id, neighbor_id, rank, sim FROM (
         |  SELECT *, row_number() OVER
         |    (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
         |  FROM scored)
         |WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin))

  /** Partition-scoped compaction under hash verification — q60's
    * counterpart for [[Similarity.compactIvfPartitions]]: the q59
    * layout shape (even-half centroids, odd-half ledgered epoch —
    * which fragments the partitions the epoch lands in) is then
    * SELECTIVELY compacted in place and probed. The oracle is q59's
    * verbatim: compaction is pure file coalescing, so ANY row the
    * per-dir swaps lose, duplicate, or misplace breaks the row
    * hashes through the live probe path.
    */
  private val qIvfPCompactedProbe = QueryDef(
    "q62_ivf_pcompacted_probe",
    (s, dir) => {
      val e = emb(s, dir)
      val root = scratchDir("graft-q62")
      val path = s"$root/ivf"
      Similarity.writeIvfPartitioned(e.filter(col("vec_id") % 2 === 0), path)
      Similarity.appendIvfEpoch(e.filter(col("vec_id") % 2 =!= 0), path,
        epochId = "epoch1")
      val n = Similarity.compactIvfPartitions(s, path, "pc1",
        maxFilesPerPartition = 1)
      require(n > 0,
        s"q62 expects the epoch append to fragment partitions the " +
          s"compaction then rewrites, got $n compacted dirs")
      Similarity.ivfKnnPartitioned(s, path, knnQueryIds, k = 5, nprobe = 2)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    },
    Some(ivfAppendedOracleSql))

  /** The CLOSED-LOOP maintenance policy under hash verification —
    * q62's compaction invoked THROUGH [[Similarity.ivfMaintain]]
    * instead of directly: the fragmented q59 layout shape is handed to
    * the policy with thresholds that force the compact-partitions arm
    * (`maxFilesPerPartition = 1`) and the ledger roll-up arm
    * (`ledgerTailMax = 1`), then probed. One row pins the whole policy
    * path live — heal-at-entry, the health read, the threshold
    * judgment, the selective compaction it prescribes, and the ledger
    * roll-up — against q59's verbatim oracle: a row the policy's
    * maintenance loses, duplicates, or misplaces breaks the hashes.
    * `skewThreshold` is pinned effectively-infinite: the rotate arm
    * re-trains centroids, which would change the assignment the oracle
    * computes — this row verifies the policy's PLUMBING, q60 verifies
    * rotation itself.
    */
  private val qIvfMaintainedProbe = QueryDef(
    "q64_ivf_maintained_probe",
    (s, dir) => {
      val e = emb(s, dir)
      val root = scratchDir("graft-q64")
      val path = s"$root/ivf"
      Similarity.writeIvfPartitioned(e.filter(col("vec_id") % 2 === 0), path)
      Similarity.appendIvfEpoch(e.filter(col("vec_id") % 2 =!= 0), path,
        epochId = "epoch1")
      val m = Similarity.ivfMaintain(s, path, "m1",
        Similarity.IvfMaintainPolicy(maxFilesPerPartition = 1,
          skewThreshold = Double.MaxValue, ledgerTailMax = 1))
      require(m.actions.exists(_.startsWith("compact-partitions(")) &&
          m.actions.exists(_.startsWith("compact-ledger(")),
        s"q64 expects the policy to compact files AND roll the ledger, " +
          s"got ${m.actions}")
      Similarity.ivfKnnPartitioned(s, path, knnQueryIds, k = 5, nprobe = 2)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    },
    Some(ivfAppendedOracleSql))

  /** The ROTATED IVF layout under hash verification — q59's
    * counterpart for [[Similarity.rotateIvf]]'s marker-fenced swap:
    * the full corpus is first laid out around a STALE deterministic
    * centroid set (the id-hash sample of the even-id half alone — the
    * frozen-era state), then rotated IN PLACE to the id-hash sample of
    * the full corpus via the `trainedCentroids` escape hatch
    * (kmeansFit is deterministic only up to float summation order; the
    * id-hash sample is exactly DuckDB-reproducible), and the
    * multi-probe query runs over the rotated layout. The oracle
    * computes assignment + probe around the full-corpus sample ONLY:
    * stale-partition residue the swap failed to retire shows up as
    * extra rows, a dropped row as a missing one — either breaks the
    * row hashes.
    */
  private val qIvfRotatedProbe = QueryDef(
    "q60_ivf_rotated_probe",
    (s, dir) => {
      val e = emb(s, dir)
      val root = scratchDir("graft-q60")
      val path = s"$root/ivf"
      val stale = Similarity.ivfCentroids(
        Similarity.asDouble(e.filter(col("vec_id") % 2 === 0)),
        Similarity.DefaultCentroidK)
      Similarity.writeIvfPartitioned(e, path, trainedCentroids = Some(stale))
      val fresh = Similarity.ivfCentroids(Similarity.asDouble(e),
        Similarity.DefaultCentroidK)
      Similarity.rotateIvf(s, path, rotationId = "rot1",
        trainedCentroids = Some(fresh))
      Similarity.ivfKnnPartitioned(s, path, knnQueryIds, k = 5, nprobe = 2)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    },
    Some(
      s"""WITH ${DuckSql.embCte},
         |${DuckSql.ivfCentCte(Similarity.DefaultCentroidK)},
         |assigned AS (
         |  SELECT vec_id, centroid_id, vec FROM (
         |    SELECT v.vec_id, c.centroid_id, v.vec,
         |           row_number() OVER (PARTITION BY v.vec_id
         |             ORDER BY ${DuckSql.cosine("v.vec", "c.cvec")} DESC,
         |                      c.centroid_id) AS crank
         |    FROM e v, cent c)
         |  WHERE crank = 1),
         |qp AS (
         |  SELECT vec_id AS query_id, centroid_id, vec AS vec_q FROM (
         |    SELECT v.vec_id, c.centroid_id, v.vec,
         |           row_number() OVER (PARTITION BY v.vec_id
         |             ORDER BY ${DuckSql.cosine("v.vec", "c.cvec")} DESC,
         |                      c.centroid_id) AS crank
         |    FROM e v, cent c
         |    WHERE v.vec_id < 8)
         |  WHERE crank <= 2),
         |scored AS (
         |  SELECT q.query_id, n.vec_id AS neighbor_id,
         |         round(${DuckSql.cosine("q.vec_q", "n.vec")}, 6) AS sim
         |  FROM assigned n JOIN qp q ON n.centroid_id = q.centroid_id
         |  WHERE n.vec_id <> q.query_id)
         |SELECT query_id, neighbor_id, rank, sim FROM (
         |  SELECT *, row_number() OVER
         |    (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
         |  FROM scored)
         |WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin))

  /** Probe-only bench variants of q59/q60: the layout is built ONCE
    * per (query, sf dir) for the process — memoized under a persistent
    * scratch dir — and each bench run times ONLY the probe. This is
    * the second observable that keeps the suite numbers from
    * conflating the per-run maintenance REHEARSAL (the layout
    * build/append/rotation q59/q60 deliberately hash-verify live) with
    * the query's own cost: at deployment the build is paid once per
    * epoch/rotation, the probe per query. Bench-only — the probe plan
    * and rows are exactly q59/q60's, so the correctness gate already
    * pins them.
    */
  private val probeLayouts =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Memo key for a probe-only layout: query name + the sf dir's
    * CANONICAL path (not a compressed hash — String.hashCode collisions
    * between two sf dirs in one process would silently serve the wrong
    * layout) + a cheap contents fingerprint of `embeddings.parquet`
    * (file count, total bytes, max mtime — the only input these layouts
    * are built from), so a fixture regenerated in place under the same
    * path invalidates the memo instead of serving stale data.
    */
  private[graft] def probeLayoutKey(name: String, dir: String,
      table: String = "embeddings.parquet"): String = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty[java.io.File])
          .toSeq.flatMap(walk)
      else Seq(f)
    val fs = walk(new java.io.File(s"$dir/$table"))
    val fp = s"${fs.size}-${fs.map(_.length).sum}-" +
      s"${if (fs.isEmpty) 0L else fs.map(_.lastModified).max}"
    s"$name|${new java.io.File(dir).getCanonicalPath}|$fp"
  }

  private[graft] def memoLayout(name: String, dir: String)(
      build: String => Unit): String =
    probeLayouts.computeIfAbsent(probeLayoutKey(name, dir), _ => {
      val path = s"${persistentScratchDir(s"graft-$name-probe")}/ivf"
      build(path)
      path
    })

  /** [[memoLayout]] for the dedup PAIR (bucketed history + minhash
    * index under one root, built from `documents.parquet`) — the
    * q63/q66 probe-only bench rows build their maintained pair once
    * and time only the probe. Returns (historyPath, indexPath).
    */
  private def memoDedupPair(name: String, dir: String)(
      build: (String, String) => Unit): (String, String) = {
    val root = probeLayouts.computeIfAbsent(
      probeLayoutKey(name, dir, table = "documents.parquet"), _ => {
        val r = persistentScratchDir(s"graft-$name-probe")
        build(s"$r/hist", s"$r/idx")
        r
      })
    (s"$root/hist", s"$root/idx")
  }

  /** The q59-shaped layout build (even-id flat write + odd-id ledgered
    * epoch append) — shared by the q59 probe-only bench variant and the
    * q61 pre-built-probe oracle row, so both probe the SAME memoized
    * layout.
    */
  private def buildAppendedLayout(
      s: org.apache.spark.sql.SparkSession, dir: String)(p: String): Unit = {
    val e = emb(s, dir)
    Similarity.writeIvfPartitioned(e.filter(col("vec_id") % 2 === 0), p)
    Similarity.appendIvfEpoch(e.filter(col("vec_id") % 2 =!= 0), p,
      epochId = "epoch1")
    ()
  }

  /** The q60-shaped layout build (stale full write + deterministic
    * rotation to the full-corpus centroid sample).
    */
  private def buildRotatedLayout(
      s: org.apache.spark.sql.SparkSession, dir: String)(p: String): Unit = {
    val e = emb(s, dir)
    val stale = Similarity.ivfCentroids(
      Similarity.asDouble(e.filter(col("vec_id") % 2 === 0)),
      Similarity.DefaultCentroidK)
    Similarity.writeIvfPartitioned(e, p, trainedCentroids = Some(stale))
    val fresh = Similarity.ivfCentroids(Similarity.asDouble(e),
      Similarity.DefaultCentroidK)
    Similarity.rotateIvf(s, p, rotationId = "rot1",
      trainedCentroids = Some(fresh))
    ()
  }

  val benchProbes: Map[String, (org.apache.spark.sql.SparkSession, String) =>
      org.apache.spark.sql.DataFrame] = Map(
    "q59_probe_only" -> { (s, dir) =>
      val path = memoLayout("q59", dir)(buildAppendedLayout(s, dir))
      Similarity.ivfKnnPartitioned(s, path, knnQueryIds, k = 5, nprobe = 2)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    },
    "q60_probe_only" -> { (s, dir) =>
      val path = memoLayout("q60", dir)(buildRotatedLayout(s, dir))
      Similarity.ivfKnnPartitioned(s, path, knnQueryIds, k = 5, nprobe = 2)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    },
    // the dedup serving cost, window-independent: the q63/q66 suite
    // rows are ~80% build+maintain rehearsal by design, so their
    // totals swing with the sandbox's bimodal window — these twins
    // time ONLY the bucketed partition-pruned probe over the same
    // maintained pair (built once, memoized)
    "q63_probe_only" -> { (s, dir) =>
      val (hist, idx) = memoDedupPair("q63", dir) { (h, i) =>
        buildFragmentedDedupPair(s, dir, h, i)
        require(Dedup.compactHistoryPartitions(s, h, i, "hc1",
          maxFilesPerPartition = 1) > 0,
          "q63_probe_only expects fragmented buckets to compact")
      }
      probeDedupPair(s, dir, hist, idx)
    },
    "q66_probe_only" -> { (s, dir) =>
      val (hist, idx) = memoDedupPair("q66", dir) { (h, i) =>
        buildFragmentedDedupPair(s, dir, h, i)
        val m = Dedup.dedupMaintain(s, h, i, "m1",
          Dedup.BucketMaintainPolicy(maxFilesPerPartition = 1,
            ledgerTailMax = 1))
        require(m.actions.exists(_.startsWith("compact-history(")),
          s"q66_probe_only expects the policy to compact, got ${m.actions}")
      }
      probeDedupPair(s, dir, hist, idx)
    },
    // the SQ8 SemDeDup candidate stage vs the float route, measured at
    // a corpus size where the quadratic term dominates: the fixture
    // embeddings replicated 8x with disjoint id ranges (deterministic,
    // derived from testdata — identical vectors land in one cluster,
    // so every cluster is 8x denser and the within-cluster pair join
    // does 64x the fixture's work). Same memoized layout for both
    // rows; the delta IS the int8-prefilter win the q71 row's scale
    // claim rests on.
    "q71_sq8_probe_only" -> { (s, dir) =>
      Similarity.semanticDupPairsPartitioned(s,
        memoLayout("q71rep", dir)(buildReplicatedLayout(s, dir)),
        threshold = 0.45, maxClusterSize = None)
    },
    "q71_float_probe_only" -> { (s, dir) =>
      Similarity.semanticDupPairsPartitioned(s,
        memoLayout("q71rep", dir)(buildReplicatedLayout(s, dir)),
        threshold = 0.45, maxClusterSize = None,
        quantizedCandidates = false)
    },
    // the PQ serving cost over a memoized index (build excluded, like
    // q59/q60's twins): the ADC candidate stage scans the ~24 B/row
    // codes instead of the float corpus, so this row sits next to
    // q59/q60 (float probe) and q68 (SQ8 probe) as the third point on
    // the same scan-width-vs-recall curve — same queries, k, nprobe
    "q72_probe_only" -> { (s, dir) =>
      val idx = memoLayout("q72pq", dir)(p =>
        graft.operators.Pq.writePqIndex(emb(s, dir), p))
      graft.operators.Pq.pqKnn(s, idx, emb(s, dir), knnQueryIds, k = 5,
          nprobe = 2, rerank = 8)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    },
    // the PQ lifecycle serving cost: q72's twin over the APPENDED +
    // maintained index (built once, memoized) — measures whether
    // append-era codes probe at the same cost as built-era ones
    // (they must: the maintain tick coalesced every partition back
    // to the built one-file-per-dir shape)
    "q73_probe_only" -> { (s, dir) =>
      val idx = memoLayout("q73pq", dir) { p =>
        val e = emb(s, dir)
        graft.operators.Pq.writePqIndex(
          e.filter(col("vec_id") % 2 === 0), p)
        graft.operators.Pq.appendPqEpoch(
          e.filter(col("vec_id") % 2 =!= 0), p, epochId = "epoch1")
        val m = graft.operators.Pq.pqMaintain(s, p, "m1", e,
          graft.operators.Pq.PqMaintainPolicy(maxFilesPerPartition = 1,
            skewThreshold = Double.MaxValue, ledgerTailMax = 1))
        require(m.actions.exists(_.startsWith("compact-partitions(")),
          s"q73_probe_only expects the policy to compact, got ${m.actions}")
        ()
      }
      graft.operators.Pq.pqKnn(s, idx, emb(s, dir), knnQueryIds, k = 5,
          nprobe = 2, rerank = 8)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    },
    // the STREAMED index's serving cost: q75's twin over a memoized
    // copy of its spool → boundary-apply → maintain arc — the claim
    // the twin keeps true is that an index fed by the streaming path
    // probes at the same cost as one fed by manual appends (q73's
    // twin), i.e. the spool machinery leaves no probe-visible residue
    "q75_probe_only" -> { (s, dir) =>
      val idx = memoLayout("q75pq", dir) { p =>
        val e = emb(s, dir)
        val root = new java.io.File(p).getParent
        val layout = s"$root/ivfsrc"
        val spool = s"$root/spool"
        val build = e.filter(col("vec_id") % 2 === 0)
        Similarity.writeIvfPartitioned(build, layout)
        graft.operators.Pq.writePqIndex(build, p)
        graft.streaming.StreamingDedup.spoolBatch(
          e.filter(col("vec_id") % 4 === 1), s"$spool/epoch1", batchId = 0L)
        graft.streaming.StreamingDedup.spoolBatch(
          e.filter(col("vec_id") % 4 === 3), s"$spool/epoch1", batchId = 1L)
        require(graft.streaming.StreamingSimilarity.applySpooledEpoch(
            s, spool, "epoch1", layout, "vec_id", Some(p)),
          "q75_probe_only expects the spooled epoch to apply NOW")
        val m = graft.operators.Pq.pqMaintain(s, p, "m1", e,
          graft.operators.Pq.PqMaintainPolicy(maxFilesPerPartition = 1,
            skewThreshold = Double.MaxValue, ledgerTailMax = 1))
        require(m.actions.exists(_.startsWith("compact-partitions(")),
          s"q75_probe_only expects the policy to compact, got ${m.actions}")
        ()
      }
      graft.operators.Pq.pqKnn(s, idx, emb(s, dir), knnQueryIds, k = 5,
          nprobe = 2, rerank = 8)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    },
    // the RESIDUAL index's serving cost next to q72's raw twin at the
    // same knobs: the candidate scan is the identical ~24 B/row codes
    // width; the residual delta is one extra full-dim dot per probe
    // ROW (|queries|·nprobe of them) — this row keeps that claim
    // honest (a residual probe that paid per CANDIDATE would show up
    // here as a q72 regression)
    "q76_probe_only" -> { (s, dir) =>
      val idx = memoLayout("q76pq", dir) { p =>
        val e = emb(s, dir)
        graft.operators.Pq.writePqIndex(
          e.filter(col("vec_id") % 2 === 0), p, residual = true)
        graft.operators.Pq.appendPqEpoch(
          e.filter(col("vec_id") % 2 =!= 0), p, epochId = "epoch1")
        ()
      }
      graft.operators.Pq.pqKnn(s, idx, emb(s, dir), knnQueryIds, k = 5,
          nprobe = 2, rerank = 8)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    },
    // the incremental substring-dup serving cost: q80's twin over a
    // memoized copy of its layout (flat build + ledgered epoch) — the
    // suite row pays the two index builds every run by design; this
    // row times ONLY the batch tokenize + bucket-pruned sliver probe,
    // the per-increment number a daily-ingest deployment pays
    "q80_probe_only" -> { (s, dir) =>
      Dedup.substringDupProbe(
          docs(s, dir).filter(col("doc_id") % 5 === 0),
          substringProbeLayout(s, dir))
        .orderBy("doc_id")
    },
    // the streamed EXCISION serving cost: q84's twin over the SAME
    // memoized layout as q80's — span probe + cut on the arriving
    // batch, the per-increment number a streamed Lee-et-al pipeline
    // pays to hand downstream the CLEANED text (vs q80_probe_only's
    // score-only gate)
    "q84_probe_only" -> { (s, dir) =>
      Dedup.substringCutProbe(
          docs(s, dir).filter(col("doc_id") % 5 === 0),
          substringProbeLayout(s, dir))
        .orderBy("doc_id")
    })

  /** The q80/q84 probe twins' shared memoized substring index (flat
    * build over the low-id history half + one ledgered epoch over the
    * high half) — ONE builder under ONE memo key, so the two rows can
    * never diverge on the layout they time.
    */
  private def substringProbeLayout(
      s: org.apache.spark.sql.SparkSession, dir: String): String = {
    val root = probeLayouts.computeIfAbsent(
      probeLayoutKey("q80", dir, table = "documents.parquet"), _ => {
        val r = persistentScratchDir("graft-q80-probe")
        val d = docs(s, dir)
        Dedup.writeSubstringIndex(
          d.filter(col("doc_id") % 5 =!= 0 && col("doc_id") < 250),
          s"$r/ssidx", window = 8, nBuckets = 8)
        Dedup.appendSubstringEpoch(
          d.filter(col("doc_id") % 5 =!= 0 && col("doc_id") >= 250),
          s"$r/ssidx", "ep1")
        r
      })
    s"$root/ssidx"
  }

  /** 8x-replicated embeddings layout for the q71 route-comparison
    * bench rows: copies carry disjoint id ranges so the pair algebra
    * is well-defined; vectors are bit-identical, which is the WORST
    * case for the SQ8 prefilter's pruning claim (every replica pair is
    * a true dup at cos 1.0) and still the candidate join's scan-width
    * win stands — exactly what the rows measure.
    */
  private def buildReplicatedLayout(
      s: org.apache.spark.sql.SparkSession, dir: String)(p: String): Unit = {
    val e = emb(s, dir).select("vec_id", "embedding")
    val rep = (0 until 8).map(r =>
      e.select((col("vec_id") + lit(r * 10000000L)).as("vec_id"),
        col("embedding")))
      .reduce(_ unionByName _)
    Similarity.writeIvfPartitioned(rep, p)
    ()
  }

  // ----------------------------------------------------------------- text

  private val qQuality = {
    val en = TextAnalysis.langMarkers.head._2
    QueryDef(
      "q27_text_quality",
      (s, dir) => TextAnalysis.quality(docs(s, dir))
        .withColumn("n_chars_calc", col("n_chars_calc").cast("long"))
        .withColumn("n_tokens", col("n_tokens").cast("long"))
        .orderBy("doc_id"),
      Some(
        s"""WITH ${DuckSql.docsCte}
           |SELECT doc_id,
           |       CAST(length(text) AS BIGINT) AS n_chars_calc,
           |       CAST(len(toks) AS BIGINT) AS n_tokens,
           |       round(list_sum(list_transform(toks, t -> length(t)))::DOUBLE
           |             / len(toks), 6) AS avg_token_len,
           |       round(len(list_distinct(toks))::DOUBLE / len(toks), 6)
           |         AS uniq_token_ratio,
           |       round(${DuckSql.markerFilter("toks", en)}::DOUBLE / len(toks), 6)
           |         AS stopword_ratio,
           |       round((length(text) -
           |              length(regexp_replace(text, '[0-9]', '', 'g')))::DOUBLE
           |             / length(text), 6) AS digit_ratio,
           |       round((length(text) -
           |              length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')))::DOUBLE
           |             / length(text), 6) AS punct_ratio
           |FROM docs ORDER BY doc_id""".stripMargin))
  }

  /** scored-languages CTE body + the tie-break pick expression, shared
    * by q28 and the stratified-sampling oracle (q40). Mirrors
    * TextAnalysis.languageId: first lang in order whose score >= all
    * later langs.
    */
  private val langScoredCte: String = {
    val scoreSelects = DuckSql.langScores
      .map { case (l, e) => s"$e AS score_$l" }.mkString(",\n       ")
    s"""scored AS (
       |  SELECT doc_id,
       |       $scoreSelects
       |  FROM docs)""".stripMargin
  }

  private val langPickSql: String = {
    val langs = TextAnalysis.langMarkers.map(_._1)
    def chain(rem: List[String]): String = rem match {
      case last :: Nil => s"'$last'"
      case l :: rest =>
        val cond = rest.map(o => s"score_$l >= score_$o").mkString(" AND ")
        s"CASE WHEN $cond THEN '$l' ELSE ${chain(rest)} END"
      case Nil => sys.error("no langs")
    }
    // null scores (a null document) predict NULL, mirroring the
    // engine's guard — a bare CASE chain's skipped-null conditions
    // would fall through to the LAST language, an artifact of lexicon
    // ordering
    s"CASE WHEN score_${langs.head} IS NULL THEN NULL " +
      s"ELSE ${chain(langs.toList)} END"
  }

  private val qLangId = {
    val langs = TextAnalysis.langMarkers.map(_._1)
    val scoreSelects = DuckSql.langScores
      .map { case (l, e) => s"$e AS score_$l" }.mkString(",\n       ")
    val pick = langPickSql
    QueryDef(
      "q28_text_langid",
      (s, dir) => {
        val out = TextAnalysis.languageId(docs(s, dir))
        langs.foldLeft(out)((df, l) =>
            df.withColumn(s"score_$l", col(s"score_$l").cast("long")))
          .orderBy("doc_id")
      },
      Some(
        s"""WITH ${DuckSql.docsCte},
           |scored AS (
           |  SELECT doc_id,
           |       $scoreSelects
           |  FROM docs)
           |SELECT doc_id, ${langs.map(l => s"CAST(score_$l AS BIGINT) AS score_$l").mkString(", ")},
           |       $pick AS lang_pred
           |FROM scored ORDER BY doc_id""".stripMargin))
  }

  private val qTokenCount = QueryDef(
    "q29_text_token_count",
    (s, dir) => TextAnalysis.tokenCounts(docs(s, dir))
      .withColumn("ws_tokens", col("ws_tokens").cast("long"))
      .withColumn("bpeish_tokens", col("bpeish_tokens").cast("long"))
      .orderBy("doc_id"),
    Some(
      s"""WITH ${DuckSql.docsCte}
         |SELECT doc_id,
         |       CAST(len(toks) AS BIGINT) AS ws_tokens,
         |       CAST(len(regexp_extract_all(text,
         |              '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS BIGINT)
         |         AS bpeish_tokens,
         |       round(length(text)::DOUBLE / len(toks), 6) AS chars_per_token
         |FROM docs ORDER BY doc_id""".stripMargin))

  private val qFingerprint = QueryDef(
    "q30_text_fingerprint",
    (s, dir) => TextAnalysis.fingerprint(docs(s, dir))
      .withColumn("n_shingles", col("n_shingles").cast("long"))
      .orderBy("doc_id"),
    Some(
      s"""WITH ${DuckSql.docsCte},
         |${DuckSql.shCte}
         |SELECT d.doc_id,
         |       ${DuckSql.polyHash("d.text")} AS text_hash,
         |       list_min(sh.shh) AS min_shingle_hash,
         |       CAST(len(sh.shh) AS BIGINT) AS n_shingles
         |FROM docs d JOIN sh ON d.doc_id = sh.doc_id
         |ORDER BY d.doc_id""".stripMargin))

  /** Gopher-style repetition filters: per-doc top-n-gram and
    * duplicate-n-gram occurrence fractions for n ∈ {2, 3} (Spark: hashed
    * explode + two map-side-combinable aggs; oracle: unnest + the same
    * two-level GROUP BY on identical gram hashes).
    */
  private val qRepetition = {
    val ns = Seq(2, 3)
    def gramCtes(n: Int): String = {
      val joined = (0 until n).map(j => s"toks[i + $j]").mkString(" || ' ' || ")
      s"""g$n AS (
         |  SELECT doc_id,
         |         list_transform(
         |           list_transform(range(1, len(toks) - ${n - 2}),
         |             i -> $joined),
         |           s -> ${DuckSql.polyHash("s")}) AS gh
         |  FROM docs WHERE len(toks) >= $n),
         |e$n AS (SELECT doc_id, unnest(gh) AS h FROM g$n),
         |c$n AS (SELECT doc_id, h, count(*) AS c FROM e$n GROUP BY 1, 2),
         |s$n AS (
         |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS ngrams$n,
         |         round(max(c)::DOUBLE / sum(c), 6) AS top${n}gram_frac,
         |         round(sum(CASE WHEN c > 1 THEN c ELSE 0 END)::DOUBLE
         |               / sum(c), 6) AS dup${n}gram_frac
         |  FROM c$n GROUP BY 1)""".stripMargin
    }
    val outCols = ns.flatMap(n => Seq(
      s"COALESCE(s$n.ngrams$n, 0) AS ngrams$n",
      s"COALESCE(s$n.top${n}gram_frac, 0.0) AS top${n}gram_frac",
      s"COALESCE(s$n.dup${n}gram_frac, 0.0) AS dup${n}gram_frac"))
      .mkString(",\n       ")
    QueryDef(
      "q46_text_repetition",
      (s, dir) => TextAnalysis.repetition(docs(s, dir), ns).orderBy("doc_id"),
      Some(
        s"""WITH ${DuckSql.docsCte},
           |${ns.map(gramCtes).mkString(",\n")}
           |SELECT d.doc_id,
           |       $outCols
           |FROM documents d
           |${ns.map(n => s"LEFT JOIN s$n ON d.doc_id = s$n.doc_id").mkString("\n")}
           |ORDER BY d.doc_id""".stripMargin))
  }

  /** PII scrub over text with deterministically synthesized identifiers
    * (the fixture corpus is clean words, so both engines graft the same
    * email/IP/phone onto each doc, then must agree on every count and on
    * the fully redacted text). Patterns and application order come from
    * [[TextAnalysis.piiPatterns]] — one source of truth for both engines.
    */
  private val qPii = {
    val pats = TextAnalysis.piiPatterns
    QueryDef(
      "q47_text_pii",
      (s, dir) => {
        val salted = docs(s, dir).withColumn("text",
          concat(col("text"), lit(" reach user"), col("doc_id"),
            lit("@mail.example.com from 10.0."), col("doc_id") % 200,
            lit(".7 call 555-867-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
        TextAnalysis.piiScan(salted)
          .select(col("doc_id"), col("n_email"), col("n_ipv4"), col("n_phone"),
            md5(col("redacted")).as("redacted_md5"))
          .orderBy("doc_id")
      },
      Some {
        val counts = pats.map { case (name, pat, _) =>
          s"CAST(len(regexp_extract_all(txt, '$pat')) AS BIGINT) AS n_$name"
        }.mkString(",\n       ")
        val redacted = pats.foldLeft("txt") { case (c, (_, pat, repl)) =>
          s"regexp_replace($c, '$pat', '$repl', 'g')"
        }
        s"""WITH salted AS (
           |  SELECT doc_id,
           |         text || ' reach user' || doc_id ||
           |         '@mail.example.com from 10.0.' || (doc_id % 200) ||
           |         '.7 call 555-867-' ||
           |         lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS txt
           |  FROM documents)
           |SELECT doc_id,
           |       $counts,
           |       md5($redacted) AS redacted_md5
           |FROM salted ORDER BY doc_id""".stripMargin
      })
  }

  /** Data mixing to a target distribution (50% en / 25% es / 25% zh on
    * the REAL lang column; other strata dropped): both engines compute
    * the same keep rates from the same counts with the same IEEE double
    * operation order, then the same hash sample. Weights sum to 1 so the
    * Scala normalization (w / wsum) is exact.
    */
  private val qMix = {
    val weights = Map("en" -> 0.5, "es" -> 0.25, "zh" -> 0.25)
    val P = TextHash.P
    QueryDef(
      "q48_mix_to_target",
      (s, dir) => TextAnalysis.mixToTarget(
          docs(s, dir).select("doc_id", "lang"), "lang", weights)
        .orderBy("doc_id"),
      Some {
        val values = weights.toSeq.sortBy(_._1)
          .map { case (l, w) => s"('$l', CAST($w AS DOUBLE))" }.mkString(", ")
        s"""WITH w(lang, wn) AS (VALUES $values),
           |c AS (
           |  SELECT lang, count(*) AS c FROM documents
           |  JOIN w USING (lang) GROUP BY lang),
           |t AS (SELECT min(c::DOUBLE / wn) AS total FROM c JOIN w USING (lang)),
           |r AS (
           |  SELECT lang, least(CAST(1.0 AS DOUBLE), wn * t.total / c::DOUBLE)
           |           AS rate
           |  FROM c JOIN w USING (lang) CROSS JOIN t)
           |SELECT d.doc_id, d.lang FROM documents d
           |JOIN r ON d.lang = r.lang
           |WHERE CAST(((d.doc_id % $P) * 2654435761) % $P AS DOUBLE) / $P
           |      < r.rate
           |ORDER BY d.doc_id""".stripMargin
      })
  }

  /** Corpus vocabulary df/cf table (the wordcount shape): both engines
    * explode whitespace tokens and aggregate twice.
    */
  private val qVocab = QueryDef(
    "q50_text_vocab",
    (s, dir) => TextAnalysis.vocabStats(docs(s, dir), minDf = 2L)
      .orderBy("token"),
    Some(
      s"""WITH ${DuckSql.docsCte},
         |ex AS (SELECT doc_id, unnest(toks) AS token FROM docs),
         |perdoc AS (
         |  SELECT token, doc_id, count(*) AS n FROM ex GROUP BY 1, 2)
         |SELECT token, CAST(count(*) AS BIGINT) AS df,
         |       CAST(sum(n) AS BIGINT) AS cf
         |FROM perdoc GROUP BY token HAVING count(*) >= 2
         |ORDER BY token""".stripMargin))

  /** Chunking SQL shared by q51 and the q53 composition — one copy of
    * the n_chunks arithmetic / slice bounds / chunk hash, parameterized
    * on an input CTE exposing (doc_id, toks), so the two oracles can
    * never drift apart.
    */
  private def chunkCtes(inputCte: String, w: Int, s: Int): String =
    s"""chdoc AS (
       |  SELECT doc_id, toks, len(toks) AS n_tok_doc,
       |         CASE WHEN len(toks) <= $w THEN 1
       |              ELSE ((len(toks) - $w + $s - 1) // $s) + 1
       |         END AS n_chunks
       |  FROM $inputCte),
       |chex AS (
       |  SELECT doc_id, toks, n_tok_doc, unnest(range(0, n_chunks)) AS ci
       |  FROM chdoc),
       |chcx AS (
       |  SELECT doc_id, ci, n_tok_doc,
       |         array_to_string(
       |           list_slice(toks, ci * $s + 1, ci * $s + $w), ' ') AS ctext
       |  FROM chex)""".stripMargin

  private def chunkSelect(w: Int, s: Int): String =
    s"""SELECT doc_id,
       |       CAST(ci AS BIGINT) AS chunk_idx,
       |       CAST(ci * $s AS BIGINT) AS start_tok,
       |       CAST(least($w, n_tok_doc - ci * $s) AS BIGINT) AS n_tok,
       |       ${DuckSql.polyHash("ctext")} AS chunk_hash
       |FROM chcx ORDER BY doc_id, chunk_idx""".stripMargin

  /** Cross-document exact-substring duplication: 8-token windows at
    * stride 1, duplicated = the window hash appears in >= 2 distinct
    * docs, per-doc duplicated-window fraction. The oracle re-derives
    * every stage — window explode, slice + join + poly-hash, the
    * distinct-doc df, the position-level dup mark, and the zero-window
    * (short/null doc) case — so one window hashed, deduplicated, or
    * fractioned differently breaks the hashes.
    */
  /** The substring-duplication CTE prefix shared by q77 and q78 —
    * window counts, stride-1 positions with their hashes, and the
    * distinct-doc duplicated-hash set — one copy so the two oracles
    * can never disagree on what a duplicated window is (mirroring the
    * operators' shared `windowPositions`/`dupWindowHashes`).
    */
  private def substringCtes(w: Int): String =
    s"""wd AS (
       |  SELECT doc_id, toks,
       |         list_transform(toks, t -> ${DuckSql.polyHash("t")}) AS th,
       |         CASE WHEN toks IS NULL THEN 0
       |              ELSE greatest(len(toks) - $w + 1, 0) END AS n_windows
       |  FROM docs),
       |ph AS (
       |  SELECT doc_id, p,
       |         list_reduce(list_prepend(CAST(0 AS BIGINT),
       |           list_slice(th, p + 1, p + $w)),
       |           (a, b) -> (a * ${graft.functions.TextHash.WB} + b)
       |             % ${DuckSql.P}) AS whash
       |  FROM (SELECT doc_id, th, unnest(range(0, n_windows)) AS p
       |        FROM wd WHERE n_windows > 0)),
       |hdf AS (
       |  SELECT whash FROM ph GROUP BY whash
       |  HAVING count(DISTINCT doc_id) >= 2)""".stripMargin

  private val qSubstringDup = {
    val w = 8
    QueryDef(
      "q77_substring_dup",
      (sp, dir) => graft.operators.Dedup
        .substringDupStats(docs(sp, dir), window = w)
        .orderBy("doc_id"),
      Some(
        s"""WITH ${DuckSql.docsCte},
           |${substringCtes(w)},
           |dup AS (
           |  SELECT doc_id, count(*) AS dup_w
           |  FROM ph JOIN hdf USING (whash) GROUP BY doc_id)
           |SELECT wd.doc_id,
           |       CAST(wd.n_windows AS BIGINT) AS n_windows,
           |       CAST(coalesce(dup.dup_w, 0) AS BIGINT) AS dup_windows,
           |       round(CASE WHEN wd.n_windows = 0 THEN 0.0
           |                  ELSE coalesce(dup.dup_w, 0) * 1.0 / wd.n_windows
           |             END, 6) AS dup_window_frac
           |FROM wd LEFT JOIN dup USING (doc_id)
           |ORDER BY wd.doc_id""".stripMargin))
  }

  /** The gaps-and-islands span CTEs over [[substringCtes]]' duplicated
    * positions, ending in a `spans(doc_id, span_start, span_end)` CTE —
    * shared by q78 (which selects the spans) and q79 (which applies
    * them as the cut), mirroring the operators' shared
    * `substringDupSpans` derivation.
    */
  private def substringSpanCtes(w: Int): String =
    s"""${substringCtes(w)},
       |dp AS (
       |  SELECT doc_id, p FROM ph JOIN hdf USING (whash)),
       |isl AS (
       |  SELECT doc_id, p,
       |         CASE WHEN lag(p) OVER win IS NULL
       |                   OR p - lag(p) OVER win > $w
       |              THEN 1 ELSE 0 END AS new_isl
       |  FROM dp WINDOW win AS (PARTITION BY doc_id ORDER BY p)),
       |grp AS (
       |  SELECT doc_id, p,
       |         sum(new_isl) OVER (PARTITION BY doc_id ORDER BY p
       |           ROWS UNBOUNDED PRECEDING) AS island
       |  FROM isl),
       |spans AS (
       |  SELECT doc_id, min(p) AS span_start, max(p) + $w AS span_end
       |  FROM grp GROUP BY doc_id, island)""".stripMargin

  /** The span surgery over q77's signal: duplicated window starts
    * merged gaps-and-islands into maximal half-open token spans —
    * both engines run the identical two-window-function formulation,
    * so one start grouped into the wrong island breaks the hashes.
    */
  private val qSubstringSpans = {
    val w = 8
    QueryDef(
      "q78_substring_spans",
      (sp, dir) => graft.operators.Dedup
        .substringDupSpans(docs(sp, dir), window = w)
        .orderBy("doc_id", "span_start"),
      Some(
        s"""WITH ${DuckSql.docsCte},
           |${substringSpanCtes(w)}
           |SELECT doc_id,
           |       CAST(span_start AS BIGINT) AS span_start,
           |       CAST(span_end AS BIGINT) AS span_end
           |FROM spans
           |ORDER BY doc_id, span_start""".stripMargin))
  }

  /** The substring-dedup DELIVERABLE: q78's spans applied as the cut —
    * every covered token position removed, kept tokens rejoined. The
    * oracle re-derives the whole chain (spans verbatim from q78's CTEs,
    * then a positional token unnest anti-joined against span coverage
    * and re-aggregated in position order), so a token kept, cut, or
    * reordered differently breaks the hashes; the null-text,
    * whole-doc-removed (cut_text = ''), and no-span (whitespace-
    * normalized identity) cases are computed explicitly in both
    * engines.
    */
  private val qSubstringCut = {
    val w = 8
    QueryDef(
      "q79_substring_cut",
      (sp, dir) => {
        val d = docs(sp, dir)
        graft.operators.Dedup
          .cutSpans(d, graft.operators.Dedup.substringDupSpans(d, window = w))
          .orderBy("doc_id")
      },
      Some(
        s"""WITH ${DuckSql.docsCte},
           |${substringSpanCtes(w)},
           |$substringCutCtes
           |$substringCutSelect
           |ORDER BY d.doc_id""".stripMargin))
  }

  /** The cut CTEs over a `docs`/`spans` pair (positional token unnest,
    * span-coverage anti-join, position-ordered rejoin) plus the final
    * per-doc select — shared by q79 and the q81 composed pipeline so
    * the two oracles can never disagree on what the cut produces.
    */
  // defs, not vals: qSubstringCut is declared ABOVE these helpers and
  // interpolates them at object init — a val would still be null there
  private def substringCutCtes: String =
    """ex AS (
      |  SELECT doc_id, unnest(toks) AS tok,
      |         unnest(range(0, len(toks))) AS p
      |  FROM docs WHERE toks IS NOT NULL),
      |kept AS (
      |  SELECT e.doc_id, e.p, e.tok FROM ex e
      |  WHERE NOT EXISTS (
      |    SELECT 1 FROM spans s
      |    WHERE s.doc_id = e.doc_id
      |      AND e.p >= s.span_start AND e.p < s.span_end)),
      |agg AS (
      |  SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS cut_text,
      |         count(*) AS n_kept
      |  FROM kept GROUP BY doc_id)""".stripMargin

  private def substringCutSelect: String =
    """SELECT d.doc_id,
      |       CASE WHEN d.toks IS NULL THEN NULL
      |            ELSE coalesce(a.cut_text, '') END AS cut_text,
      |       CAST(CASE WHEN d.toks IS NULL THEN 0
      |                 ELSE coalesce(a.n_kept, 0) END AS BIGINT)
      |         AS n_kept,
      |       CAST(CASE WHEN d.toks IS NULL THEN 0
      |                 ELSE len(d.toks) - coalesce(a.n_kept, 0)
      |            END AS BIGINT) AS n_cut
      |FROM docs d LEFT JOIN agg a USING (doc_id)""".stripMargin

  /** The substring family's COMPOSED pipeline — the Lee-et-al workflow
    * end to end in one hash-pinned row: exact-dup keep-list (verbatim
    * COPIES leave first, so they don't mark every window duplicated),
    * then span detection + the cut over the DEDUPED corpus, keeping
    * only docs with surviving tokens. Both engines run keepers → spans
    * → cut → survivor gate; a doc cut, kept, or gated differently
    * anywhere in the chain breaks the hashes.
    */
  private val qPipelineSubstring = {
    val w = 8
    QueryDef(
      "q81_pipeline_substring_dedup",
      (s, dir) => {
        val d = docs(s, dir)
        val keep = Dedup.exact(d).select(col("keeper_id").as("doc_id"))
        val deduped = d.join(keep, Seq("doc_id"), "left_semi")
        Dedup.cutSpans(deduped,
            Dedup.substringDupSpans(deduped, window = w))
          .filter(col("n_kept") > 0)
          .orderBy("doc_id")
      },
      Some(
        s"""WITH keepers AS (
           |  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
           |docs AS (
           |  SELECT d.doc_id, d.text,
           |         regexp_split_to_array(trim(d.text), '\\s+') AS toks
           |  FROM documents d JOIN keepers k USING (doc_id)),
           |${substringSpanCtes(w)},
           |$substringCutCtes
           |SELECT * FROM (
           |$substringCutSelect
           |) WHERE n_kept > 0
           |ORDER BY doc_id""".stripMargin))
  }

  /** The INCREMENTAL substring-dup path, hash-verified against the
    * batch-mode truth: the non-batch docs land as a persisted
    * window-hash index (low-id half as the flat build, high-id half as
    * a LEDGERED epoch append — so the ledger protocol is in the
    * verified path), and the q52-style 20% batch probes it through the
    * bucket-pruned sliver fetch. The oracle is q77's full-corpus SQL
    * restricted to the batch docs: probe(batch, index(history)) must
    * equal stats(history ∪ batch) ⇂ batch exactly — a ddf summed
    * wrong, a bucket pruned wrong, or an epoch row lost by the ledger
    * breaks the hashes.
    */
  private val qSubstringProbe = {
    val w = 8
    QueryDef(
      "q80_substring_probe",
      (s, dir) => {
        val root = scratchDir("graft-q80")
        val idx = s"$root/ssidx"
        val d = docs(s, dir)
        val base = d.filter(col("doc_id") % 5 =!= 0 && col("doc_id") < 250)
        val epoch = d.filter(col("doc_id") % 5 =!= 0 && col("doc_id") >= 250)
        graft.operators.Dedup.writeSubstringIndex(base, idx, window = w,
          nBuckets = 8)
        graft.operators.Dedup.appendSubstringEpoch(epoch, idx, "ep1")
        graft.operators.Dedup
          // pruneSkipMaxBuckets = 0 pins the PRUNED path (driver-
          // resolved wh_bucket partition filters) under this oracle;
          // q82/q83 probe with the default and pin the small-modulus
          // fast path — both probe shapes stay hash-verified
          .substringDupProbe(d.filter(col("doc_id") % 5 === 0), idx,
            pruneSkipMaxBuckets = 0)
          .orderBy("doc_id")
      },
      Some(
        s"""WITH ${DuckSql.docsCte},
           |${substringCtes(w)},
           |dup AS (
           |  SELECT doc_id, count(*) AS dup_w
           |  FROM ph JOIN hdf USING (whash) GROUP BY doc_id)
           |SELECT wd.doc_id,
           |       CAST(wd.n_windows AS BIGINT) AS n_windows,
           |       CAST(coalesce(dup.dup_w, 0) AS BIGINT) AS dup_windows,
           |       round(CASE WHEN wd.n_windows = 0 THEN 0.0
           |                  ELSE coalesce(dup.dup_w, 0) * 1.0 / wd.n_windows
           |             END, 6) AS dup_window_frac
           |FROM wd LEFT JOIN dup USING (doc_id)
           |WHERE wd.doc_id % 5 = 0
           |ORDER BY wd.doc_id""".stripMargin))
  }

  /** The substring index's MAINTAINED lifecycle under hash
    * verification — q80's build/append/probe with TWO appended epochs
    * and one [[graft.operators.Dedup.substringMaintain]] tick between
    * the appends and the probe: the policy's compaction SUM-MERGES
    * each window hash's base + epoch rows back to one row
    * (`groupBy(whash).agg(sum(ddf))` inside the staged per-dir swap)
    * and rolls the two-entry ledger tail up. The oracle is q80's
    * VERBATIM (the full %5!=0 corpus reaches the index either way) —
    * one oracle text pinning the fresh-append and the
    * compacted/merged placements IS the proof the lifecycle preserves
    * the probe: a ddf lost or double-counted by the merge, a bucket
    * dir dropped by a swap, or an epoch entry lost by the ledger
    * roll-up breaks these hashes.
    */
  private val qSubstringMaintainedProbe = {
    val w = 8
    QueryDef(
      "q82_substring_maintained_probe",
      (s, dir) => {
        val root = scratchDir("graft-q82")
        val idx = s"$root/ssidx"
        val d = docs(s, dir)
        val base = d.filter(col("doc_id") % 5 =!= 0 && col("doc_id") < 250)
        val ep1 = d.filter(col("doc_id") % 5 =!= 0 &&
          col("doc_id") >= 250 && col("doc_id") < 375)
        val ep2 = d.filter(col("doc_id") % 5 =!= 0 && col("doc_id") >= 375)
        graft.operators.Dedup.writeSubstringIndex(base, idx, window = w,
          nBuckets = 8)
        graft.operators.Dedup.appendSubstringEpoch(ep1, idx, "ep1")
        graft.operators.Dedup.appendSubstringEpoch(ep2, idx, "ep2")
        val m = graft.operators.Dedup.substringMaintain(s, idx, "m1",
          graft.operators.Dedup.BucketMaintainPolicy(
            maxFilesPerPartition = 1, ledgerTailMax = 1))
        require(m.actions.exists(_.startsWith("compact-index(")) &&
            m.actions.exists(_.startsWith("compact-ledger(")),
          s"q82 expects the policy to compact the epoch fragmentation " +
            s"AND roll the ledger, got ${m.actions}")
        graft.operators.Dedup
          .substringDupProbe(d.filter(col("doc_id") % 5 === 0), idx)
          .orderBy("doc_id")
      },
      Some(
        s"""WITH ${DuckSql.docsCte},
           |${substringCtes(w)},
           |dup AS (
           |  SELECT doc_id, count(*) AS dup_w
           |  FROM ph JOIN hdf USING (whash) GROUP BY doc_id)
           |SELECT wd.doc_id,
           |       CAST(wd.n_windows AS BIGINT) AS n_windows,
           |       CAST(coalesce(dup.dup_w, 0) AS BIGINT) AS dup_windows,
           |       round(CASE WHEN wd.n_windows = 0 THEN 0.0
           |                  ELSE coalesce(dup.dup_w, 0) * 1.0 / wd.n_windows
           |             END, 6) AS dup_window_frac
           |FROM wd LEFT JOIN dup USING (doc_id)
           |WHERE wd.doc_id % 5 = 0
           |ORDER BY wd.doc_id""".stripMargin))
  }

  /** The substring index's GEOMETRY MIGRATION under hash verification
    * — q80's build/append followed by a
    * [[graft.operators.Dedup.rotateSubstringIndex]] that re-buckets
    * the layout 8 → 16 as a reader-atomic generation publish (the
    * rotateIvf/rotatePq protocol, `wh_bucket=`-flavored). The rebuild
    * re-derives every (whash, ddf) row from the FULL corpus under the
    * new modulus, the probe resolves the published generation through
    * the `_current` pointer, and the pre-rotation epoch id must
    * REMAIN ledgered (its docs are inside the rebuild — a replayed
    * append has to refuse, asserted inline). The oracle is q80's
    * VERBATIM: a ddf the rebuild drops, a bucket the new modulus
    * misroutes, or a probe that resolves the retired flat root breaks
    * the hashes.
    */
  private val qSubstringRotatedProbe = {
    val w = 8
    QueryDef(
      "q83_substring_rotated_probe",
      (s, dir) => {
        val root = scratchDir("graft-q83")
        val idx = s"$root/ssidx"
        val d = docs(s, dir)
        val base = d.filter(col("doc_id") % 5 =!= 0 && col("doc_id") < 250)
        val epoch = d.filter(col("doc_id") % 5 =!= 0 && col("doc_id") >= 250)
        graft.operators.Dedup.writeSubstringIndex(base, idx, window = w,
          nBuckets = 8)
        graft.operators.Dedup.appendSubstringEpoch(epoch, idx, "ep1")
        require(graft.operators.Dedup.rotateSubstringIndex(
            d.filter(col("doc_id") % 5 =!= 0), idx, "r1",
            nBuckets = Some(16)),
          "q83 expects the rotation to apply NOW (fresh scratch)")
        require(!graft.operators.Dedup.appendSubstringEpoch(epoch, idx,
            "ep1"),
          "q83 expects the pre-rotation epoch id to stay ledgered " +
            "across the rebuild")
        graft.operators.Dedup
          .substringDupProbe(d.filter(col("doc_id") % 5 === 0), idx)
          .orderBy("doc_id")
      },
      Some(
        s"""WITH ${DuckSql.docsCte},
           |${substringCtes(w)},
           |dup AS (
           |  SELECT doc_id, count(*) AS dup_w
           |  FROM ph JOIN hdf USING (whash) GROUP BY doc_id)
           |SELECT wd.doc_id,
           |       CAST(wd.n_windows AS BIGINT) AS n_windows,
           |       CAST(coalesce(dup.dup_w, 0) AS BIGINT) AS dup_windows,
           |       round(CASE WHEN wd.n_windows = 0 THEN 0.0
           |                  ELSE coalesce(dup.dup_w, 0) * 1.0 / wd.n_windows
           |             END, 6) AS dup_window_frac
           |FROM wd LEFT JOIN dup USING (doc_id)
           |WHERE wd.doc_id % 5 = 0
           |ORDER BY wd.doc_id""".stripMargin))
  }

  /** [[graft.operators.Dedup.cutToConvergence]] under the hash gate:
    * the loop's output on a corpus that converges in ROUND 1 (the
    * documents fixture — no cut seam re-forms a duplicated window)
    * equals plain spans+cut EXACTLY (the spec's viaLoop == viaCut
    * claim, here hash-pinned at the gate SFs), so the oracle is q79's
    * SQL verbatim. What this buys beyond q79: the row EXECUTES the
    * convergence loop — round-1 cut, then the proving re-score over
    * the cut corpus — so a regression in the loop's merge bookkeeping
    * (cumulative n_cut, live-doc filtering, the re-score short
    * circuit) breaks hashes even though the fixture needs no second
    * round; the multi-round and refusal paths are DedupSpec's
    * seam-forming fixture.
    */
  private val qSubstringCutConverged = {
    val w = 8
    QueryDef(
      "q85_substring_cut_converged",
      (sp, dir) => graft.operators.Dedup
        .cutToConvergence(docs(sp, dir), window = w, maxRounds = 4)
        .orderBy("doc_id"),
      Some(
        s"""WITH ${DuckSql.docsCte},
           |${substringSpanCtes(w)},
           |$substringCutCtes
           |$substringCutSelect
           |ORDER BY d.doc_id""".stripMargin))
  }

  /** The STREAMED Lee-et-al excision, hash-verified against the batch
    * truth: q80's index (flat build + ledgered epoch over the %5!=0
    * history) probed by the %5==0 batch for SPANS
    * ([[graft.operators.Dedup.substringSpanProbeOn]] — the probe's
    * pos×dupHashes join finished with the gaps-and-islands tail) and
    * CUT ([[graft.operators.Dedup.cutSpans]] over those spans). The
    * oracle is q79's full-corpus spans+cut SQL restricted to the batch
    * docs: probe-derived cut == full recompute ⇂ batch, the q80
    * identity span-shaped — a span started, merged, or applied
    * differently from the batch path breaks the hashes, as does a
    * cross-epoch ddf the probe fails to sum (cliques straddling the
    * base/epoch split drive spans the batch alone never would).
    */
  private val qSubstringProbeCut = {
    val w = 8
    QueryDef(
      "q84_substring_probe_cut",
      (s, dir) => {
        val root = scratchDir("graft-q84")
        val idx = s"$root/ssidx"
        val d = docs(s, dir)
        val base = d.filter(col("doc_id") % 5 =!= 0 && col("doc_id") < 250)
        val epoch = d.filter(col("doc_id") % 5 =!= 0 && col("doc_id") >= 250)
        graft.operators.Dedup.writeSubstringIndex(base, idx, window = w,
          nBuckets = 8)
        graft.operators.Dedup.appendSubstringEpoch(epoch, idx, "ep1")
        graft.operators.Dedup
          .substringCutProbe(d.filter(col("doc_id") % 5 === 0), idx)
          .orderBy("doc_id")
      },
      Some(
        s"""WITH ${DuckSql.docsCte},
           |${substringSpanCtes(w)},
           |$substringCutCtes
           |$substringCutSelect
           |WHERE d.doc_id % 5 = 0
           |ORDER BY d.doc_id""".stripMargin))
  }

  /** Overlapping token chunking (RAG indexing side): fixed 32-token
    * windows at stride 24, with the chunk-content hash both engines must
    * agree on (slice + join + poly-hash, all portable).
    */
  private val qChunk = {
    val w = 32
    val s = 24
    QueryDef(
      "q51_text_chunks",
      (sp, dir) => TextAnalysis.chunkPlan(docs(sp, dir), width = w, stride = s)
        .orderBy("doc_id", "chunk_idx"),
      Some(
        s"""WITH ${DuckSql.docsCte},
           |${chunkCtes("docs", w, s)}
           |${chunkSelect(w, s)}""".stripMargin))
  }

  /** Unigram-LM perplexity (model-based quality scoring): corpus stats →
    * per-doc mean negative log-prob, identical smoothing and operation
    * order in both engines.
    */
  private val qPerplexity = QueryDef(
    "q54_text_perplexity",
    (s, dir) => TextAnalysis.perplexity(docs(s, dir)).orderBy("doc_id"),
    Some(
      s"""WITH ${DuckSql.docsCte},
         |ex AS (SELECT doc_id, unnest(toks) AS token FROM docs),
         |freq AS (SELECT token, count(*) AS c FROM ex GROUP BY 1),
         |st AS (SELECT CAST(sum(c) AS BIGINT) AS total,
         |              count(*) AS vocab FROM freq)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
         |       round(exp(-(sum(ln((c + 1.0) / (st.total + st.vocab)))
         |                   / count(*))), 6) AS ppl
         |FROM ex JOIN freq USING (token) CROSS JOIN st
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  /** Bigram-LM perplexity (order-2 of q54): conditional add-one-smoothed
    * p(cur|prev) from two wordcount tables, identical smoothing and
    * operation order in both engines. DuckDB zips the two aligned
    * `list_slice` unnests into (prev, cur) pairs positionally — the same
    * pairs Spark's indexed `transform` emits.
    */
  private val qPerplexityBigram = QueryDef(
    "q55_text_perplexity_bigram",
    (s, dir) => TextAnalysis.perplexityBigram(docs(s, dir)).orderBy("doc_id"),
    Some(
      s"""WITH ${DuckSql.docsCte},
         |ex AS (SELECT doc_id, unnest(toks) AS token FROM docs),
         |v AS (SELECT count(DISTINCT token) AS vocab FROM ex),
         |bg AS (
         |  SELECT doc_id,
         |         unnest(list_slice(toks, 1, len(toks) - 1)) AS prev,
         |         unnest(list_slice(toks, 2, len(toks))) AS cur
         |  FROM docs WHERE len(toks) >= 2),
         |b2 AS (SELECT prev, cur, count(*) AS c2 FROM bg GROUP BY 1, 2),
         |b1 AS (SELECT prev, CAST(sum(c2) AS BIGINT) AS c1 FROM b2 GROUP BY 1)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |       round(exp(-(sum(ln((c2 + 1.0) / (c1 + v.vocab)))
         |                   / count(*))), 6) AS ppl
         |FROM bg JOIN b2 USING (prev, cur) JOIN b1 USING (prev) CROSS JOIN v
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  // ----------------------------------------------------------- multimodal

  private val qMultimodalMeta = QueryDef(
    "q31_multimodal_meta",
    (s, dir) => Multimodal.decodeMetaColumnar(
        Multimodal.mediaFromDocuments(docs(s, dir)))
      .orderBy("doc_id"),
    Some(
      """WITH m AS (
        |  SELECT doc_id,
        |         CAST(octet_length(encode(text)) AS BIGINT) AS n,
        |         -- the first BYTE of the utf-8 payload, derived from the
        |         -- first character's codepoint (the UTF-8 leading byte
        |         -- is a pure function of it) — mirrors the engine's
        |         -- conv(hex(substring(blob,1,1))), i.e. fakeDecode's
        |         -- blob(0) & 0xff, NOT the codepoint itself
        |         CAST(CASE WHEN ascii(text) < 128 THEN ascii(text)
        |              WHEN ascii(text) < 2048 THEN 192 + ascii(text) // 64
        |              WHEN ascii(text) < 65536 THEN 224 + ascii(text) // 4096
        |              ELSE 240 + ascii(text) // 262144 END AS BIGINT) AS first
        |  FROM documents)
        |SELECT doc_id, n AS n_bytes,
        |       CASE WHEN n % 3 = 0 THEN 'image'
        |            WHEN n % 3 = 1 THEN 'audio' ELSE 'video' END AS media_kind,
        |       16 * (n % 40 + 1) AS width,
        |       16 * ((n // 7) % 30 + 1) AS height,
        |       (n + first) % 24 + 1 AS n_frames
        |FROM m ORDER BY doc_id""".stripMargin))

  private val qFrameSample = QueryDef(
    "q32_multimodal_frames",
    (s, dir) => Multimodal.frameSample(
        Multimodal.decodeMetaColumnar(Multimodal.mediaFromDocuments(docs(s, dir))),
        step = 4)
      .withColumn("frame_idx", col("frame_idx").cast("long"))
      .orderBy("doc_id", "frame_idx"),
    Some(
      """WITH m AS (
        |  SELECT doc_id,
        |         CAST(octet_length(encode(text)) AS BIGINT) AS n,
        |         -- the first BYTE of the utf-8 payload, derived from the
        |         -- first character's codepoint (the UTF-8 leading byte
        |         -- is a pure function of it) — mirrors the engine's
        |         -- conv(hex(substring(blob,1,1))), i.e. fakeDecode's
        |         -- blob(0) & 0xff, NOT the codepoint itself
        |         CAST(CASE WHEN ascii(text) < 128 THEN ascii(text)
        |              WHEN ascii(text) < 2048 THEN 192 + ascii(text) // 64
        |              WHEN ascii(text) < 65536 THEN 224 + ascii(text) // 4096
        |              ELSE 240 + ascii(text) // 262144 END AS BIGINT) AS first
        |  FROM documents),
        |meta AS (
        |  SELECT doc_id, (n + first) % 24 + 1 AS n_frames FROM m)
        |SELECT doc_id, unnest(range(0, n_frames, 4)) AS frame_idx,
        |       (doc_id * 31 + unnest(range(0, n_frames, 4))) % 1000000007
        |         AS frame_hash
        |FROM meta ORDER BY doc_id, frame_idx""".stripMargin))

  /** Aspect-preserving resize plan over the decoded metadata — the
    * columnar (oracle-comparable) half of the resize op; the byte
    * transform is the stubbed mapPartitions boundary
    * (MultimodalSpec.resizeBatched cases).
    */
  private val qResize = QueryDef(
    "q37_multimodal_resize",
    (s, dir) => Multimodal.resizePlan(
        Multimodal.decodeMetaColumnar(Multimodal.mediaFromDocuments(docs(s, dir))))
      .orderBy("doc_id"),
    Some(
      """WITH m AS (
        |  SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n
        |  FROM documents),
        |meta AS (
        |  SELECT doc_id, 16 * (n % 40 + 1) AS width,
        |         16 * ((n // 7) % 30 + 1) AS height
        |  FROM m)
        |SELECT doc_id, width, height,
        |       CAST(greatest(floor(width *
        |         least(224.0 / width, 224.0 / height, 1.0)), 1) AS BIGINT) AS out_w,
        |       CAST(greatest(floor(height *
        |         least(224.0 / width, 224.0 / height, 1.0)), 1) AS BIGINT) AS out_h
        |FROM meta ORDER BY doc_id""".stripMargin))

  /** Stub feature extraction: content-hash-derived embedding per media
    * row (the mapInPandas-shaped plumbing with a deterministic
    * projection standing in for the model).
    */
  private val qFeatures = {
    val dim = 8
    // Declared in scalar shape (f0..f7) — the driver's comparator sorts and
    // hashes rows via pandas, which cannot hash array cells. The array API
    // (Multimodal.features) is unchanged; only this declared query flattens.
    val featCols = (0 until dim).map(j =>
      s"round(CAST(${DuckSql.universalHash("chash", j)} AS DOUBLE) / ${TextHash.P}, 6) AS f$j")
      .mkString(",\n       ")
    QueryDef(
      "q38_multimodal_features",
      (s, dir) => {
        val f = Multimodal.features(Multimodal.mediaFromDocuments(docs(s, dir)))
        f.select(col("doc_id") +:
            (0 until dim).map(j => element_at(col("features"), j + 1).as(s"f$j")): _*)
          .orderBy("doc_id")
      },
      Some(
        s"""WITH h AS (
           |  SELECT doc_id, ${DuckSql.polyHash("text")} AS chash FROM documents)
           |SELECT doc_id,
           |       $featCols
           |FROM h ORDER BY doc_id""".stripMargin))
  }

  /** Benchmark decontamination: every 97th document stands in for an
    * eval-set item; report each document's max-overlap benchmark at
    * >= 3 shared 3-gram shingles.
    */
  private val qContamination = QueryDef(
    "q39_decontaminate",
    (s, dir) => {
      val d = docs(s, dir)
      Dedup.contaminationReport(d, d.filter(col("doc_id") % 97 === 0),
          minShared = 3, excludeSameId = true) // bench IS a docs subset here
        .orderBy("doc_id")
    },
    Some(
      s"""WITH ${DuckSql.docsCte},
         |${DuckSql.shCte},
         |dex AS (SELECT doc_id, unnest(shh) AS h FROM sh),
         |bex AS (SELECT doc_id AS bench_id, unnest(shh) AS h FROM sh
         |        WHERE doc_id % 97 = 0),
         |shared AS (
         |  SELECT d.doc_id, b.bench_id, count(*) AS shared
         |  FROM dex d JOIN bex b ON d.h = b.h AND d.doc_id <> b.bench_id
         |  GROUP BY 1, 2
         |  HAVING count(*) >= 3),
         |sizes AS (SELECT doc_id, len(shh) AS n_sh FROM sh),
         |best AS (
         |  SELECT *, row_number() OVER
         |    (PARTITION BY doc_id ORDER BY shared DESC, bench_id) AS rk
         |  FROM shared)
         |SELECT b.doc_id, b.bench_id, b.shared,
         |       round(b.shared::DOUBLE / s.n_sh, 6) AS overlap_ratio
         |FROM best b JOIN sizes s ON b.doc_id = s.doc_id
         |WHERE rk = 1
         |ORDER BY b.doc_id""".stripMargin))

  /** Deterministic stratified sampling keyed on the language stratum —
    * the data-mixing step (downsample en to 0.3, fr to 0.7, keep the
    * rest), hash-based so the sample is engine- and order-independent.
    */
  private val qSample = QueryDef(
    "q40_stratified_sample",
    (s, dir) => {
      val lang = TextAnalysis.languageId(docs(s, dir))
        .select(col("doc_id"), col("lang_pred"))
      TextAnalysis.stratifiedSample(lang, "lang_pred",
          Map("en" -> 0.3, "fr" -> 0.7))
        .orderBy("doc_id")
    },
    Some(
      s"""WITH ${DuckSql.docsCte},
         |$langScoredCte,
         |pick AS (SELECT doc_id, $langPickSql AS lang_pred FROM scored)
         |SELECT doc_id, lang_pred FROM pick
         |WHERE CAST(((((doc_id % ${TextHash.P}) + ${TextHash.P})
         |          % ${TextHash.P} * 2654435761) % ${TextHash.P}
         |          + ${TextHash.P}) % ${TextHash.P} AS DOUBLE) / ${TextHash.P}
         |      < (CASE WHEN lang_pred = 'en' THEN 0.3
         |              WHEN lang_pred = 'fr' THEN 0.7 ELSE 1.0 END)
         |ORDER BY doc_id""".stripMargin))

  /** SRP-LSH bucket keys — the deterministic sublinear candidate
    * generator for embedding near-dup at corpus scale, oracle-checked
    * bit-for-bit (hyperplane signs are a fixed integer mix, dot products
    * fold left-to-right in both engines).
    */
  private val qSrp = QueryDef(
    "q33_srp_buckets",
    (s, dir) => Similarity.srpBuckets(emb(s, dir), nBits = 16)
      .orderBy("vec_id"),
    Some(
      s"""WITH ${DuckSql.embCte}
         |SELECT vec_id,
         |       ${DuckSql.srpBandKey(0, 16)} AS srp_bucket
         |FROM e ORDER BY vec_id""".stripMargin))

  /** SRP-LSH banding + exact cosine verify — the sublinear composition
    * that replaces q24's all-pairs join at corpus scale. Recall follows
    * the (bands × rowsPerBand) S-curve and is intentionally below 1 at
    * this fixture's low threshold; q24 stays the exact reference.
    */
  private val qSrpDup = {
    val bands = 12
    val rows = 8
    val legs = (0 until bands).map(b =>
      s"SELECT vec_id, $b AS band, ${DuckSql.srpBandKey(b * rows, rows)} AS key FROM e")
      .mkString("\n  UNION ALL ")
    QueryDef(
      "q35_dedup_embedding_lsh",
      // maxBandPop pinned to None — the oracle's candidate join is
      // uncapped, so the cap must not engage at any fixture SF
      (s, dir) => Similarity.srpDupPairs(emb(s, dir), threshold = 0.45,
          bands = bands, rowsPerBand = rows, maxBandPop = None)
        .orderBy("vec_a", "vec_b"),
      Some(
        s"""WITH ${DuckSql.embCte},
           |buckets AS (
           |  $legs),
           |cand AS (
           |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
           |  FROM buckets a JOIN buckets b
           |    ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id)
           |SELECT vec_a, vec_b,
           |       round(${DuckSql.cosine("ea.vec", "eb.vec")}, 6) AS cos_sim
           |FROM cand
           |JOIN e ea ON vec_a = ea.vec_id
           |JOIN e eb ON vec_b = eb.vec_id
           |WHERE round(${DuckSql.cosine("ea.vec", "eb.vec")}, 6) >= 0.45
           |ORDER BY vec_a, vec_b""".stripMargin))
  }

  /** SemDeDup-style cluster-scoped semantic dedup — IVF-assign every
    * vector, then exact cosine pairs within clusters only (the third
    * candidate generator: q24 exact all-pairs, q35 LSH banding, q49
    * clustering). Oracle: the q34 assignment subquery self-joined on the
    * assigned centroid. centroidK is PINNED to the oracle's static
    * DefaultCentroidK here (not left to the size-derived default) so the
    * contract holds at ANY fixture SF — a larger fixture must not
    * silently diverge the two engines' clustering. maxClusterSize is
    * pinned to None for the same reason: the oracle computes ALL
    * within-cluster pairs, so with k fixed a big-enough fixture would
    * otherwise cross the default cap and silently switch Spark to
    * anchor/star pairing. The scale knobs (derived k, cluster-size cap)
    * are exercised by SimilaritySpec; at the shipped SFs the derived k
    * equals this pinned value anyway.
    */
  private val qSemDedup = QueryDef(
    "q49_dedup_semantic",
    (s, dir) => Similarity.semanticDupPairs(emb(s, dir), threshold = 0.45,
        centroidK = Similarity.DefaultCentroidK, maxClusterSize = None)
      .orderBy("vec_a", "vec_b"),
    Some(
      s"""WITH ${DuckSql.embCte},
         |${DuckSql.ivfCentCte(Similarity.DefaultCentroidK)},
         |a AS (
         |  SELECT vec_id, centroid_id, vec FROM (
         |    SELECT v.vec_id, c.centroid_id, v.vec,
         |           row_number() OVER (PARTITION BY v.vec_id
         |             ORDER BY ${DuckSql.cosine("v.vec", "c.cvec")} DESC,
         |                      c.centroid_id) AS crank
         |    FROM e v, cent c)
         |  WHERE crank = 1)
         |SELECT x.vec_id AS vec_a, y.vec_id AS vec_b,
         |       round(${DuckSql.cosine("x.vec", "y.vec")}, 6) AS cos_sim
         |FROM a x JOIN a y
         |  ON x.centroid_id = y.centroid_id AND x.vec_id < y.vec_id
         |WHERE round(${DuckSql.cosine("x.vec", "y.vec")}, 6) >= 0.45
         |ORDER BY vec_a, vec_b""".stripMargin))

  /** The cluster-size guard (q49's anchor/star machinery) under hash
    * verification, the q57 move for the semantic family: an explicit
    * `maxClusterSize = 32` sits below this fixture's largest cluster
    * populations (39/38/36/35/34-member clusters at sf0.01), so the
    * heavy path runs — members of over-cap clusters pair with the
    * cluster's min-id anchor only, light clusters all-pair — and the
    * oracle replicates the exact split in SQL. q49 (cap pinned off)
    * stays the uncapped reference.
    */
  private val qSemDedupCapped = {
    val cap = 32
    QueryDef(
      "q58_dedup_semantic_capped",
      (s, dir) => Similarity.semanticDupPairs(emb(s, dir), threshold = 0.45,
          centroidK = Similarity.DefaultCentroidK, maxClusterSize = Some(cap))
        .orderBy("vec_a", "vec_b"),
      Some(
        s"""WITH ${DuckSql.embCte},
           |${DuckSql.ivfCentCte(Similarity.DefaultCentroidK)},
           |a AS (
           |  SELECT vec_id, centroid_id, vec FROM (
           |    SELECT v.vec_id, c.centroid_id, v.vec,
           |           row_number() OVER (PARTITION BY v.vec_id
           |             ORDER BY ${DuckSql.cosine("v.vec", "c.cvec")} DESC,
           |                      c.centroid_id) AS crank
           |    FROM e v, cent c)
           |  WHERE crank = 1),
           |stats AS (
           |  SELECT centroid_id, count(*) AS csize, min(vec_id) AS anchor
           |  FROM a GROUP BY centroid_id),
           |light AS (
           |  SELECT x.vec_id AS vec_a, y.vec_id AS vec_b,
           |         round(${DuckSql.cosine("x.vec", "y.vec")}, 6) AS cos_sim
           |  FROM a x
           |  JOIN a y ON x.centroid_id = y.centroid_id AND x.vec_id < y.vec_id
           |  JOIN stats s ON s.centroid_id = x.centroid_id
           |  WHERE s.csize <= $cap),
           |star AS (
           |  SELECT anc.vec_id AS vec_a, y.vec_id AS vec_b,
           |         round(${DuckSql.cosine("anc.vec", "y.vec")}, 6) AS cos_sim
           |  FROM a y
           |  JOIN stats s ON s.centroid_id = y.centroid_id AND s.csize > $cap
           |  JOIN a anc ON anc.vec_id = s.anchor
           |    AND anc.centroid_id = s.centroid_id
           |  WHERE y.vec_id <> s.anchor)
           |SELECT vec_a, vec_b, cos_sim FROM (
           |  SELECT * FROM light UNION ALL SELECT * FROM star)
           |WHERE cos_sim >= 0.45
           |ORDER BY vec_a, vec_b""".stripMargin))
  }

  /** SemDeDup over a QUANTIZED at-rest layout, hash-verified — the
    * SQ8-candidate route of [[Similarity.semanticDupPairsPartitioned]]
    * (the default on a q8-bearing layout): the quadratic within-cluster
    * candidate join runs over the packed int8 column through the
    * lossless error-bound prefilter, and only surviving candidates are
    * exact-verified against the float vectors. The oracle recomputes
    * the layout's assignment (q68's centroid construction: the even-id
    * training sample) and then the PLAIN exact pair join — the hashes
    * prove the prefilter is lossless on a live layout: one pair pruned
    * that the float route keeps, or one kept that it prunes, breaks
    * them.
    */
  private val qSemDedupSq8 = QueryDef(
    "q71_semantic_dedup_sq8",
    (s, dir) => {
      val path = memoLayout("q59", dir)(buildAppendedLayout(s, dir))
      Similarity.semanticDupPairsPartitioned(s, path, threshold = 0.40,
          maxClusterSize = None)
        .orderBy("vec_a", "vec_b")
    },
    Some(
      s"""WITH ${DuckSql.embCte},
         |ea AS (SELECT * FROM e WHERE vec_id % 2 = 0),
         |cent AS (
         |  SELECT vec_id AS centroid_id, vec AS cvec FROM ea
         |  ORDER BY ((vec_id % ${DuckSql.P}) * 2654435761) % ${DuckSql.P}, vec_id
         |  LIMIT ${Similarity.DefaultCentroidK}),
         |a AS (
         |  SELECT vec_id, centroid_id, vec FROM (
         |    SELECT v.vec_id, c.centroid_id, v.vec,
         |           row_number() OVER (PARTITION BY v.vec_id
         |             ORDER BY ${DuckSql.cosine("v.vec", "c.cvec")} DESC,
         |                      c.centroid_id) AS crank
         |    FROM e v, cent c)
         |  WHERE crank = 1)
         |SELECT x.vec_id AS vec_a, y.vec_id AS vec_b,
         |       round(${DuckSql.cosine("x.vec", "y.vec")}, 6) AS cos_sim
         |FROM a x JOIN a y
         |  ON x.centroid_id = y.centroid_id AND x.vec_id < y.vec_id
         |WHERE round(${DuckSql.cosine("x.vec", "y.vec")}, 6) >= 0.40
         |ORDER BY vec_a, vec_b""".stripMargin))

  /** Sequence packing: the corpus as one token stream cut into 2048-token
    * context windows (distributed two-pass prefix sum on the Spark side;
    * a plain cumulative window in the oracle — same arithmetic).
    */
  private val qPack = QueryDef(
    "q42_sequence_pack",
    (s, dir) => TextAnalysis.packPlan(docs(s, dir), ctxTokens = 2048)
      .orderBy("doc_id"),
    Some(
      s"""WITH ${DuckSql.docsCte},
         |t AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tok FROM docs),
         |c AS (
         |  SELECT doc_id, n_tok,
         |         CAST(COALESCE(sum(n_tok) OVER (ORDER BY doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |           AS BIGINT) AS start_offset
         |  FROM t)
         |SELECT doc_id, n_tok, start_offset,
         |       CAST(start_offset // 2048 AS BIGINT) AS start_chunk,
         |       CAST((start_offset + greatest(n_tok, 1) - 1) // 2048 AS BIGINT)
         |         AS end_chunk
         |FROM c ORDER BY doc_id""".stripMargin))

  /** int8 scalar quantization of the embedding corpus — the ANN
    * serving-side compression with its per-vector reconstruction-error
    * bound.
    */
  private val qQuantize = QueryDef(
    "q41_embedding_quantize",
    // Declared in exploded scalar shape (vec_id, pos, q) — the driver's
    // pandas comparator cannot hash array cells. quantizeInt8 keeps its
    // array-valued API; only this declared query flattens.
    (s, dir) => Similarity.quantizeInt8(emb(s, dir))
      .select(col("vec_id"), col("scale"), col("max_abs_err"),
        posexplode(col("qvec")).as(Seq("pos", "q")))
      .orderBy("vec_id", "pos"),
    Some(
      s"""WITH ${DuckSql.embCte},
         |s AS (
         |  SELECT vec_id, vec,
         |         list_max(list_transform(vec, x -> abs(x))) / 127 AS scale_raw
         |  FROM e),
         |qv AS (
         |  SELECT vec_id, scale_raw AS scale,
         |         CASE WHEN scale_raw = 0 THEN list_transform(vec, x -> 0)
         |              ELSE list_transform(vec, x -> CAST(round(x / scale_raw) AS INT))
         |         END AS qvec,
         |         round(CASE WHEN scale_raw = 0 THEN 0 ELSE
         |           list_max(list_transform(vec,
         |             x -> abs(round(x / scale_raw) * scale_raw - x))) END, 6)
         |           AS max_abs_err
         |  FROM s)
         |SELECT vec_id, scale, max_abs_err,
         |       CAST(pos AS INT) AS pos, CAST(q AS INT) AS q
         |FROM (
         |  SELECT vec_id, scale, max_abs_err,
         |         unnest(generate_series(0, len(qvec) - 1)) AS pos,
         |         unnest(qvec) AS q
         |  FROM qv)
         |ORDER BY vec_id, pos""".stripMargin))

  /** IVF coarse assignment — every vector's nearest deterministic
    * centroid (the clustering/partition key of the scale path).
    */
  private val qIvfAssign = QueryDef(
    "q34_ivf_assign",
    (s, dir) => Similarity.ivfAssign(emb(s, dir))
      .select("vec_id", "centroid_id")
      .orderBy("vec_id"),
    Some(
      s"""WITH ${DuckSql.embCte},
         |${DuckSql.ivfCentCte(Similarity.DefaultCentroidK)}
         |SELECT vec_id, centroid_id FROM (
         |  SELECT v.vec_id, c.centroid_id,
         |         row_number() OVER (PARTITION BY v.vec_id
         |           ORDER BY ${DuckSql.cosine("v.vec", "c.cvec")} DESC,
         |                    c.centroid_id) AS crank
         |  FROM e v, cent c)
         |WHERE crank = 1
         |ORDER BY vec_id""".stripMargin))

  /** The composed preprocessing pipeline — what a user actually runs:
    * exact dedup keep-list → quality gate (length + uniqueness) →
    * language-ID + stratified downsampling → sequence packing of the
    * survivors. One oracle query proving the operators COMPOSE (ids,
    * column names, and determinism flow through all four stages in both
    * engines).
    */
  /** The RAG-side composed pipeline (the indexing sibling of q45's
    * pretraining path): exact-dedup keep-list → repetition quality gate
    * (dup-2-gram fraction) → PII salting + redaction → overlapping
    * chunking of the REDACTED text. Proves the round-5 operators compose
    * across engines: the chunk hashes only match if dedup, the gate, the
    * regex rewrite, and the slicing all agreed on every byte.
    */
  private val qPipelineRag = {
    val w = 32
    val s = 24
    QueryDef(
      "q53_pipeline_rag",
      (sp, dir) => {
        val d = docs(sp, dir)
        val keep = Dedup.exact(d).select(col("keeper_id").as("doc_id"))
        val deduped = d.join(keep, Seq("doc_id"), "left_semi")
        // ngrams2 > 0 matches the oracle's gate domain (docs with at
        // least one 2-gram); sub-2-token docs are ungradable and drop
        val pass = TextAnalysis.repetition(deduped, Seq(2))
          .filter(col("ngrams2") > 0 && col("dup2gram_frac") < 0.08)
          .select("doc_id")
        val survivors = deduped.join(pass, Seq("doc_id"), "left_semi")
          .withColumn("text",
            concat(col("text"), lit(" ping user"), col("doc_id"),
              lit("@mail.example.com at 10.1."), col("doc_id") % 200,
              lit(".9")))
        val redacted = TextAnalysis.piiScan(survivors)
          .select(col("doc_id"), col("redacted").as("text"))
        TextAnalysis.chunkPlan(redacted, width = w, stride = s)
          .orderBy("doc_id", "chunk_idx")
      },
      Some {
        val redactedExpr = TextAnalysis.piiPatterns
          .foldLeft("salted") { case (c, (_, pat, repl)) =>
            s"regexp_replace($c, '$pat', '$repl', 'g')"
          }
        s"""WITH ${DuckSql.docsCte},
           |keepers AS (
           |  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
           |g2 AS (
           |  SELECT d.doc_id,
           |         list_transform(
           |           list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]),
           |           gs -> ${DuckSql.polyHash("gs")}) AS gh
           |  FROM docs d JOIN keepers k ON d.doc_id = k.doc_id
           |  WHERE len(toks) >= 2),
           |c2 AS (
           |  SELECT doc_id, h, count(*) AS c
           |  FROM (SELECT doc_id, unnest(gh) AS h FROM g2) GROUP BY 1, 2),
           |gate AS (
           |  SELECT doc_id FROM c2 GROUP BY doc_id
           |  HAVING round(sum(CASE WHEN c > 1 THEN c ELSE 0 END)::DOUBLE
           |               / sum(c), 6) < 0.08),
           |surv AS (
           |  SELECT d.doc_id,
           |         d.text || ' ping user' || d.doc_id ||
           |         '@mail.example.com at 10.1.' || (d.doc_id % 200) || '.9'
           |           AS salted
           |  FROM docs d JOIN gate g ON d.doc_id = g.doc_id),
           |red AS (
           |  SELECT doc_id,
           |         regexp_split_to_array(trim($redactedExpr), '\\s+') AS toks
           |  FROM surv),
           |${chunkCtes("red", w, s)}
           |${chunkSelect(w, s)}""".stripMargin
      })
  }

  private val qPipelineE2e = QueryDef(
    "q45_pipeline_end2end",
    (s, dir) => {
      val d = docs(s, dir)
      val keep = Dedup.exact(d).select(col("keeper_id").as("doc_id"))
      val deduped = d.join(keep, Seq("doc_id"), "left_semi")
      val pass = TextAnalysis.quality(deduped)
        .filter(col("n_tokens") >= 30 && col("uniq_token_ratio") >= 0.4)
        .select("doc_id")
      val survivors = deduped.join(pass, Seq("doc_id"), "left_semi")
      val lang = TextAnalysis.languageId(survivors)
        .select(col("doc_id"), col("lang_pred"))
      val sampled = TextAnalysis.stratifiedSample(lang, "lang_pred",
        Map("en" -> 0.5))
      val packed = TextAnalysis.packPlan(
        survivors.join(sampled.select("doc_id"), Seq("doc_id"), "left_semi"))
      packed.join(sampled, Seq("doc_id"))
        .select("doc_id", "lang_pred", "n_tok", "start_offset",
          "start_chunk", "end_chunk")
        .orderBy("doc_id")
    },
    Some {
      val scoreSelects = DuckSql.langScores
        .map { case (l, e) => s"$e AS score_$l" }.mkString(",\n       ")
      s"""WITH ${DuckSql.docsCte},
         |keepers AS (
         |  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
         |surv AS (
         |  SELECT d.doc_id, d.text, d.toks FROM docs d
         |  JOIN keepers k ON d.doc_id = k.doc_id
         |  WHERE len(toks) >= 30
         |    AND round(len(list_distinct(toks))::DOUBLE / len(toks), 6) >= 0.4),
         |scored AS (
         |  SELECT doc_id,
         |       $scoreSelects
         |  FROM surv),
         |pick AS (SELECT doc_id, $langPickSql AS lang_pred FROM scored),
         |sampled AS (
         |  SELECT doc_id, lang_pred FROM pick
         |  WHERE CAST(((((doc_id % ${TextHash.P}) + ${TextHash.P})
         |            % ${TextHash.P} * 2654435761) % ${TextHash.P}
         |            + ${TextHash.P}) % ${TextHash.P} AS DOUBLE) / ${TextHash.P}
         |        < (CASE WHEN lang_pred = 'en' THEN 0.5 ELSE 1.0 END)),
         |t AS (
         |  SELECT s.doc_id, s.lang_pred, CAST(len(d.toks) AS BIGINT) AS n_tok
         |  FROM sampled s JOIN docs d ON s.doc_id = d.doc_id),
         |c AS (
         |  SELECT doc_id, lang_pred, n_tok,
         |         CAST(COALESCE(sum(n_tok) OVER (ORDER BY doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |           AS BIGINT) AS start_offset
         |  FROM t)
         |SELECT doc_id, lang_pred, n_tok, start_offset,
         |       CAST(start_offset // 2048 AS BIGINT) AS start_chunk,
         |       CAST((start_offset + greatest(n_tok, 1) - 1) // 2048 AS BIGINT)
         |         AS end_chunk
         |FROM c ORDER BY doc_id""".stripMargin
    })

  val all: Seq[QueryDef] = Seq(
    qDedupExact, qNgramJaccard, qMinhash, qMinhashCapped, qMinhashProbe,
    qSimhash, qSimhash64, qEmbDup,
    qKnnBrute, qKnnIvf, qKnnIvfMulti, qIvfAppendedProbe, qIvfRotatedProbe,
    qIvfProbePrebuilt, qIvfPCompactedProbe, qIvfMaintainedProbe,
    qIvfServingProbe, qKnnBruteExternal, qIvfSq8Probe, qIvfSq8ServingProbe,
    qIvfSq8DistributedRerank, qIvfPqProbe, qPqMaintainedProbe,
    qPqServingProbe, qPqStreamedProbe, qPqResidualProbe,
    qHistCompactedProbe, qDedupMaintainedProbe,
    qQuality, qLangId, qTokenCount, qFingerprint, qRepetition, qPii, qMix,
    qVocab, qChunk, qSubstringDup, qSubstringSpans, qSubstringCut,
    qSubstringProbe, qSubstringMaintainedProbe, qSubstringRotatedProbe,
    qSubstringProbeCut, qSubstringCutConverged,
    qPerplexity,
    qPerplexityBigram,
    qMultimodalMeta, qFrameSample, qResize, qFeatures,
    qSrp, qSrpDup, qSemDedup, qSemDedupCapped, qSemDedupSq8, qIvfAssign,
    qComponents,
    qKeepers, qContamination,
    qSample, qQuantize, qPack, qPipelineE2e, qPipelineRag,
    qPipelineSubstring)
}
