package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Crash-safe IVF epoch appends ([[Similarity.appendIvfEpoch]] over the
  * [[EpochLedger]] protocol): a crashed or blindly-retried epoch must
  * converge to exactly the full-rebuild layout — never half-append,
  * never double-append — at O(novel) cost, mirroring what
  * EpochRotationSpec proves for the two-layout dedup rotation.
  */
class IvfEpochSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  /** Base corpus / novel epoch split of the fixture embeddings. */
  private def corpus() = {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val ids = emb.select("vec_id").orderBy("vec_id")
      .collect().map(_.getLong(0))
    val splitAt = ids(ids.length / 2)
    (emb, emb.filter(col("vec_id") < splitAt),
      emb.filter(col("vec_id") >= splitAt), ids, splitAt)
  }

  private def rows(p: String): Set[(Long, String)] =
    spark.read.parquet(p)
      .select("vec_id", "centroid_id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet

  /** The rebuild target: the union written around the grown layout's
    * own centroid sidecar (append == rebuild must hold bit-for-bit).
    */
  private def rebuildTarget(union: org.apache.spark.sql.DataFrame,
      grownPath: String, at: String): String = {
    val cents = spark.read.parquet(s"$grownPath/_centroids")
      .select(expr("CAST(substring(centroid_id, 2) AS BIGINT)")
          .as("centroid_id"),
        col("cvec"), col("cnrm"))
      .localCheckpoint(eager = true)
    Similarity.writeIvfPartitioned(union, at, trainedCentroids = Some(cents))
    at
  }

  test("appendIvfEpoch == rebuild; a replayed epochId returns false and " +
    "leaves the layout untouched") {
    val (emb, epoch0, novel, ids, splitAt) = corpus()
    val root = java.nio.file.Files.createTempDirectory("graft-ivfep").toString
    Similarity.writeIvfPartitioned(epoch0, s"$root/grown")
    assert(Similarity.appendIvfEpoch(novel, s"$root/grown", epochId = "e1"))
    assert(EpochLedger.applied(spark, s"$root/grown", "e1"))

    rebuildTarget(emb, s"$root/grown", s"$root/rebuilt")
    assert(rows(s"$root/grown") == rows(s"$root/rebuilt"))

    // replay: ledger hit, no mutation, returns false
    assert(!Similarity.appendIvfEpoch(novel, s"$root/grown", epochId = "e1"))
    assert(rows(s"$root/grown") == rows(s"$root/rebuilt"))

    // probes through the grown layout match the rebuild, single + multi
    val queryIds = Seq(ids.head, splitAt, ids.last)
    for (np <- Seq(1, 2)) {
      def knn(p: String) = Similarity.ivfKnnPartitioned(spark, p, queryIds,
          k = 5, nprobe = np)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
        .toSet
      assert(knn(s"$root/grown") == knn(s"$root/rebuilt"), s"nprobe=$np")
    }
    // staging fully reclaimed (the empty _rotate parent may remain —
    // it is underscore-hidden from every reader)
    val f = Dedup.fsFor(spark, s"$root/grown")
    assert(!f.exists(new org.apache.hadoop.fs.Path(s"$root/grown/_rotate/e1")))
  }

  test("crash injection at every protocol point: same-epochId retry " +
    "converges to exactly the rebuild layout, with no duplicates") {
    val (emb, epoch0, novel, _, _) = corpus()
    for (fp <- Seq("staged", "committed", "move-file", "moved")) {
      val root = java.nio.file.Files.createTempDirectory("graft-ivfcr").toString
      Similarity.writeIvfPartitioned(epoch0, s"$root/grown")
      val preRows = rows(s"$root/grown")

      val ex = intercept[RuntimeException] {
        Similarity.appendIvfEpochStaged(novel, s"$root/grown", "e1", "vec_id",
          failpoint = p =>
            if (p == fp) throw new RuntimeException(s"injected at $p"))
      }
      assert(ex.getMessage.contains("injected"), fp)
      assert(!EpochLedger.applied(spark, s"$root/grown", "e1"), fp)
      if (fp == "staged") {
        // uncommitted crash: the stage is underscore-invisible, so
        // readers see the layout exactly as before the attempt
        assert(rows(s"$root/grown") == preRows, fp)
      }

      // retry under the SAME epochId: entry recovery discards an
      // uncommitted stage (then re-applies: returns true) or completes
      // a committed one first (the retry is then a ledger hit: returns
      // false) — either way, the rebuild state
      val appliedNow = Similarity.appendIvfEpoch(novel, s"$root/grown", "e1")
      assert(appliedNow == (fp == "staged"), fp)
      rebuildTarget(emb, s"$root/grown", s"$root/rebuilt")
      assert(rows(s"$root/grown") == rows(s"$root/rebuilt"), fp)
      assert(EpochLedger.applied(spark, s"$root/grown", "e1"), fp)

      // a FURTHER retry is a pure ledger hit
      assert(!Similarity.appendIvfEpoch(novel, s"$root/grown", "e1"), fp)
      assert(rows(s"$root/grown") == rows(s"$root/rebuilt"), fp)
      val f = Dedup.fsFor(spark, s"$root/grown")
      assert(!f.exists(
        new org.apache.hadoop.fs.Path(s"$root/grown/_rotate/e1")), fp)
    }
  }

  test("commit-point guard: a stage deleted mid-completion (concurrent " +
    "recovery, the single-writer violation) fails loudly, and the retry " +
    "quarantines the partial append before re-applying") {
    val (emb, epoch0, novel, _, _) = corpus()
    val root = java.nio.file.Files.createTempDirectory("graft-ivftoctou").toString
    Similarity.writeIvfPartitioned(epoch0, s"$root/grown")
    val preCount = spark.read.parquet(s"$root/grown").count()
    val f = Dedup.fsFor(spark, s"$root/grown")

    val ex = intercept[IllegalArgumentException] {
      Similarity.appendIvfEpochStaged(novel, s"$root/grown", "e1", "vec_id",
        failpoint = p =>
          if (p == "moved")
            f.delete(new org.apache.hadoop.fs.Path(s"$root/grown/_rotate/e1"),
              true))
    }
    assert(ex.getMessage.contains("single maintenance writer"))
    // the epoch must NOT be ledgered — that would silently record a
    // partial append as applied
    assert(!EpochLedger.applied(spark, s"$root/grown", "e1"))
    // the violation left a partial append (files moved, stage gone)
    assert(spark.read.parquet(s"$root/grown").count() > preCount)

    // restart-path healing quarantines the footprints — moved, never
    // deleted — and the operator surface reports them
    Similarity.recoverIvfEpochs(spark, s"$root/grown")
    assert(spark.read.parquet(s"$root/grown").count() == preCount)
    val q = EpochLedger.listQuarantined(spark, s"$root/grown")
    assert(q.map(_._1) == Seq("e1"))
    assert(q.head._2 > 0 && q.head._3 > 0)

    // the epoch re-applies cleanly afterward; completion RETIRES the
    // superseded quarantine (never deletes — its rows may be the only
    // copy under a differently-sized retry)
    assert(Similarity.appendIvfEpoch(novel, s"$root/grown", "e1"))
    rebuildTarget(emb, s"$root/grown", s"$root/rebuilt")
    assert(rows(s"$root/grown") == rows(s"$root/rebuilt"))
    assert(EpochLedger.listQuarantined(spark, s"$root/grown").isEmpty)
    assert(f.exists(
      new org.apache.hadoop.fs.Path(s"$root/grown/_retired/e1")))
  }

  test("ledger-loss safety valve: footprints with NO _epochs dir refuse " +
    "recovery instead of quarantining the whole corpus; restoring the " +
    "ledger makes recovery a no-op again") {
    val (_, epoch0, novel, _, _) = corpus()
    val root = java.nio.file.Files.createTempDirectory("graft-ivfvalve").toString
    Similarity.writeIvfPartitioned(epoch0, s"$root/grown")
    assert(Similarity.appendIvfEpoch(novel, s"$root/grown", "e1"))
    val unionRows = rows(s"$root/grown")

    val f = Dedup.fsFor(spark, s"$root/grown")
    require(f.delete(
      new org.apache.hadoop.fs.Path(s"$root/grown/_epochs"), true))
    // refusal is idempotent — a blind second call must refuse the same
    for (attempt <- 1 to 2) {
      val ex = intercept[IllegalArgumentException] {
        Similarity.recoverIvfEpochs(spark, s"$root/grown")
      }
      assert(ex.getMessage.contains("ledger"), s"attempt $attempt")
      assert(rows(s"$root/grown") == unionRows, s"attempt $attempt")
      assert(!f.exists(
        new org.apache.hadoop.fs.Path(s"$root/grown/_quarantine")),
        s"attempt $attempt")
      assert(!f.exists(
        new org.apache.hadoop.fs.Path(s"$root/grown/_epochs")),
        s"attempt $attempt")
    }
    // the documented fix: restore the ledger entry, recovery no-ops
    f.mkdirs(new org.apache.hadoop.fs.Path(s"$root/grown/_epochs"))
    f.create(new org.apache.hadoop.fs.Path(s"$root/grown/_epochs/e1"), true)
      .close()
    Similarity.recoverIvfEpochs(spark, s"$root/grown")
    assert(rows(s"$root/grown") == unionRows)
  }

  test("listRetired surfaces every _retired/<id>[.n] dir as its own row " +
    "on both the single-layout and two-layout surfaces") {
    val root = java.nio.file.Files.createTempDirectory("graft-retls").toString
    val f = Dedup.fsFor(spark, root)
    def put(p: String, bytes: Int): Unit = {
      val out = f.create(new org.apache.hadoop.fs.Path(p), true)
      try out.write(Array.fill[Byte](bytes)(1)) finally out.close()
    }
    // first torn attempt of e1, quarantined then superseded (retired)
    put(s"$root/_quarantine/e1/centroid_id=c0/part-0.parquet", 4)
    Dedup.retireQuarantine(f, root, "e1")
    // the SAME id tears again (re-ingested torn attempt) and is
    // superseded again — the second retirement must take the `.2`
    // suffix, never overwrite or delete the first
    put(s"$root/_quarantine/e1/centroid_id=c0/part-0.parquet", 6)
    Dedup.retireQuarantine(f, root, "e1")

    val single = EpochLedger.listRetired(spark, root)
    assert(single.map(_._1) == Seq("e1", "e1.2"))
    assert(single.find(_._1 == "e1").get == ("e1", 1L, 4L))
    assert(single.find(_._1 == "e1.2").get == ("e1.2", 1L, 6L))
    assert(EpochLedger.listRetired(spark, root) == single)
    // active quarantine listing is empty — retired dirs are out of it
    assert(EpochLedger.listQuarantined(spark, root).isEmpty)

    // the two-layout surface sums per name across history + index roots
    val idx = java.nio.file.Files.createTempDirectory("graft-retls-idx").toString
    put(s"$idx/_retired/e1/part-0.parquet", 10)
    val both = Dedup.listRetired(spark, root, idx)
    assert(both == Seq(("e1", 2L, 14L), ("e1.2", 1L, 6L)))
    // roots with no _retired at all list empty
    val bare = java.nio.file.Files.createTempDirectory("graft-retls-bare").toString
    assert(Dedup.listRetired(spark, bare, bare).isEmpty)

    // the monitored purge: exact suffixed name only, one dir at a time,
    // on BOTH roots that hold it; a second purge of the same name is
    // false, and the sibling suffix survives
    assert(Dedup.purgeRetired(spark, root, idx, "e1"))
    assert(!Dedup.purgeRetired(spark, root, idx, "e1"))
    assert(Dedup.listRetired(spark, root, idx) == Seq(("e1.2", 1L, 6L)))
    assert(EpochLedger.purgeRetired(spark, root, "e1.2"))
    assert(EpochLedger.listRetired(spark, root).isEmpty)
    // names that could walk out of _retired are rejected before any IO
    for (bad <- Seq("", "..", ".", "a/b", "a\\b", ".hidden"))
      intercept[IllegalArgumentException] {
        EpochLedger.purgeRetired(spark, root, bad)
      }
  }

  test("epochId guard: separators, dot-segments, hidden prefixes and '=' " +
    "are rejected before any filesystem work; whitespace/control/',' " +
    "reject for NEW applications") {
    val novel = Seq((1L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    // tier 1 — STRUCTURAL (path safety): rejected before any
    // filesystem work, replays included
    for (bad <- Seq("", "..", ".", "a/b", "a\\b", ".hidden", "_rotate",
      "a=b")) {
      val ex = intercept[IllegalArgumentException] {
        Similarity.appendIvfEpoch(novel, "/nonexistent/layout", bad)
      }
      assert(ex.getMessage.contains("path segment"), s"id='$bad'")
    }
    // tier 2 — parse safety: '\t'/'\n' are the ledger roll-up's field
    // and line separators, ',' is layoutStateToken's applied-set join
    // separator. Rejected for NEW applications (after the ledger
    // miss), but a LEGACY id already in a ledger replays as a no-op —
    // the migration carve-out EpochLedgerLegacyIdSpec pins.
    for (bad <- Seq("a\tb", "a\nb", "a b", "a\rb", "a,b")) {
      val ex = intercept[IllegalArgumentException] {
        Similarity.appendIvfEpoch(novel, "/nonexistent/layout", bad)
      }
      assert(ex.getMessage.contains("whitespace"), s"id='$bad'")
    }
  }
}
