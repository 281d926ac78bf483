package graft.operators

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The read-only layout doctors ([[Similarity.ivfFsck]],
  * [[Dedup.dedupFsck]], [[EpochLedger.fsck]]): every condition the
  * recovery entries ACT on must be REPORTED without a single mutation
  * — fsck is the safe first command of an incident runbook, runnable
  * against a layout another writer owns.
  */
class FsckSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  private def emb() = spark.read.parquet(s"$dir/embeddings.parquet")

  /** Recursive (path, length) listing — the mutates-nothing witness. */
  private def snapshot(root: String): Set[(String, Long)] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty[java.io.File])
          .toSeq.flatMap(walk) :+ f
      else Seq(f)
    walk(new java.io.File(root))
      .map(f => (f.getPath, if (f.isFile) f.length else -1L)).toSet
  }

  private def codes(fs: Seq[EpochLedger.FsckFinding]): Seq[String] =
    fs.map(_.code)

  test("ivfFsck: clean flat and generational layouts report nothing, " +
    "and fsck never mutates") {
    val root = java.nio.file.Files.createTempDirectory("graft-fsck1").toString
    val path = s"$root/ivf"
    val e = emb()
    Similarity.writeIvfPartitioned(e.filter(col("vec_id") % 2 === 0), path)
    assert(Similarity.appendIvfEpoch(
      e.filter(col("vec_id") % 2 =!= 0), path, "e1"))
    val before = snapshot(path)
    assert(Similarity.ivfFsck(spark, path, deepSchema = true).isEmpty)
    assert(snapshot(path) == before)
    // rotate to a generational layout: still clean except the retired
    // prior root (info), still unmutated by fsck
    assert(Similarity.rotateIvf(spark, path, "r1"))
    val afterRotate = snapshot(path)
    val f2 = Similarity.ivfFsck(spark, path, deepSchema = true)
    assert(codes(f2) == Seq("retired-present"), f2)
    assert(f2.head.severity == "info")
    assert(snapshot(path) == afterRotate)
  }

  test("ivfFsck: a torn epoch append is reported as its stage state, " +
    "unledgered footprints as quarantinable, and recovery clears it") {
    val root = java.nio.file.Files.createTempDirectory("graft-fsck2").toString
    val path = s"$root/ivf"
    val e = emb()
    Similarity.writeIvfPartitioned(e.filter(col("vec_id") < 32), path)
    val novel = e.filter(col("vec_id") >= 32 && col("vec_id") < 40)
    // crash BEFORE the commit point: uncommitted stage residue
    intercept[RuntimeException] {
      Similarity.appendIvfEpochStaged(novel, path, "te1", "vec_id",
        fp => if (fp == "staged") throw new RuntimeException("boom"))
    }
    val f1 = Similarity.ivfFsck(spark, path)
    assert(codes(f1) == Seq("stage-uncommitted"), f1)
    Similarity.recoverIvfEpochs(spark, path)
    assert(Similarity.ivfFsck(spark, path).isEmpty)
    // crash AFTER the commit point: committed stage awaiting completion
    intercept[RuntimeException] {
      Similarity.appendIvfEpochStaged(novel, path, "te2", "vec_id",
        fp => if (fp == "committed") throw new RuntimeException("boom"))
    }
    val f2 = Similarity.ivfFsck(spark, path)
    assert(codes(f2) == Seq("stage-committed"), f2)
    Similarity.recoverIvfEpochs(spark, path)
    assert(Similarity.ivfFsck(spark, path).isEmpty)
    // a foreign unledgered footprint file: quarantinable, reported
    // (and NOT quarantined by fsck itself)
    val f = Dedup.fsFor(spark, path)
    val pd = f.listStatus(new org.apache.hadoop.fs.Path(path))
      .filter(st => st.isDirectory &&
        st.getPath.getName.startsWith("centroid_id=")).head.getPath
    val stray = new org.apache.hadoop.fs.Path(pd, "lost1=stray.parquet")
    f.create(stray, true).close()
    val f3 = Similarity.ivfFsck(spark, path)
    assert(codes(f3) == Seq("footprint-unledgered"), f3)
    assert(f.exists(stray), "fsck must not quarantine")
    f.delete(stray, false)
  }

  test("ivfFsck/recover share the epoch-resume judgment: a committed " +
    "_rotate stage with a FOREIGN manifest kind is reported fatal and " +
    "recovery refuses to resume or discard it") {
    val root = java.nio.file.Files.createTempDirectory("graft-fsckf").toString
    val path = s"$root/ivf"
    Similarity.writeIvfPartitioned(emb().filter(col("vec_id") < 16), path)
    val f = Dedup.fsFor(spark, path)
    // a misplaced foreign-protocol stage under _rotate: data + a
    // committed manifest of another kind (external tooling / an
    // operator copying a _retrain stage by hand)
    val stage = new org.apache.hadoop.fs.Path(s"$path/_rotate/x1")
    f.mkdirs(new org.apache.hadoop.fs.Path(stage, "data"))
    val out = f.create(new org.apache.hadoop.fs.Path(stage, "_MANIFEST"),
      true)
    try out.write("kind:partition-compaction\nroot:.\ndirs2:"
      .getBytes("UTF-8"))
    finally out.close()
    val fs = Similarity.ivfFsck(spark, path)
    assert(codes(fs) == Seq("stage-foreign"), fs)
    assert(fs.head.severity == "fatal", fs)
    val ex = intercept[RuntimeException] {
      Similarity.recoverIvfEpochs(spark, path)
    }
    assert(ex.getMessage.contains("foreign"), ex.getMessage)
    assert(f.exists(stage), "recover must not discard the foreign stage")
    // restore the stage to this protocol's own kind: resumable again
    val out2 = f.create(new org.apache.hadoop.fs.Path(stage, "_MANIFEST"),
      true)
    try out2.write(s"kind:epoch\npath:$path".getBytes("UTF-8"))
    finally out2.close()
    Similarity.recoverIvfEpochs(spark, path)
    assert(EpochLedger.applied(spark, path, "x1"))
    assert(Similarity.ivfFsck(spark, path).isEmpty)
  }

  test("ivfFsck: the ledger-loss valve, a dangling generation pointer " +
    "and a missing centroid sidecar are fatal findings") {
    val root = java.nio.file.Files.createTempDirectory("graft-fsck3").toString
    val path = s"$root/ivf"
    val e = emb()
    Similarity.writeIvfPartitioned(e.filter(col("vec_id") < 32), path)
    assert(Similarity.appendIvfEpoch(
      e.filter(col("vec_id") >= 32 && col("vec_id") < 40), path, "e1"))
    val f = Dedup.fsFor(spark, path)
    // ledger loss: footprints without _epochs
    f.delete(new org.apache.hadoop.fs.Path(s"$path/_epochs"), true)
    val f1 = Similarity.ivfFsck(spark, path)
    assert(codes(f1) == Seq("ledger-missing"), f1)
    assert(f1.head.severity == "fatal")
    // centroid sidecar loss (ledger restored first — writeLedgerEntry
    // recreates the dir)
    EpochLedger.writeLedgerEntry(f, path, "e1", "epoch")
    f.delete(new org.apache.hadoop.fs.Path(s"$path/_centroids"), true)
    val f2 = Similarity.ivfFsck(spark, path)
    assert(codes(f2).contains("centroids-missing"), f2)
    // dangling pointer on a generational layout
    val path2 = s"$root/ivf2"
    Similarity.writeIvfPartitioned(e.filter(col("vec_id") < 32), path2)
    assert(Similarity.rotateIvf(spark, path2, "r1"))
    val gen = Similarity.ivfDataRoot(spark, path2)
    assert(gen != path2)
    f.delete(new org.apache.hadoop.fs.Path(gen), true)
    val f3 = Similarity.ivfFsck(spark, path2)
    assert(codes(f3).contains("pointer-dangling"), f3)
    assert(f3.find(_.code == "pointer-dangling").get.severity == "fatal")
  }

  test("ivfFsck deepSchema: a mixed SQ8/legacy layout is reported") {
    val root = java.nio.file.Files.createTempDirectory("graft-fsck4").toString
    val path = s"$root/ivf"
    val e = emb()
    Similarity.writeIvfPartitioned(e.filter(col("vec_id") < 32), path)
    // strip the SQ8 columns from ONE partition dir's file — the
    // at-rest shape of a legacy epoch surviving into a quantized
    // layout
    val f = Dedup.fsFor(spark, path)
    val pd = f.listStatus(new org.apache.hadoop.fs.Path(path))
      .filter(st => st.isDirectory &&
        st.getPath.getName.startsWith("centroid_id=")).head.getPath
    val legacy = spark.read.option("basePath", path)
      .parquet(pd.toString).select("vec_id", "vec", "nrm")
    val tmp = s"$root/legacy"
    legacy.coalesce(1).write.parquet(tmp)
    f.listStatus(new org.apache.hadoop.fs.Path(pd.toString))
      .filter(_.getPath.getName.endsWith(".parquet"))
      .foreach(st => f.delete(st.getPath, false))
    val lf = f.listStatus(new org.apache.hadoop.fs.Path(tmp))
      .filter(_.getPath.getName.endsWith(".parquet")).head.getPath
    assert(f.rename(lf, new org.apache.hadoop.fs.Path(pd, lf.getName)))
    val fs = Similarity.ivfFsck(spark, path, deepSchema = true)
    // BOTH findings: the dir-level mix, and — since the layout's
    // resolved schema carries q8 — the legacy dir's rows reading as
    // value-level nulls
    assert(codes(fs).sorted == Seq("schema-mixed", "schema-null-q8"), fs)
    // shallow mode's one-footer heuristic is best-effort by listing
    // order — here the first-listed dir IS the legacy one, so the
    // default doctor already warns (as marker-stale: one footer can't
    // distinguish a stale marker from a mix; deep mode above can)
    assert(codes(Similarity.ivfFsck(spark, path)) == Seq("marker-stale"))
    // INTRA-dir mix: a legacy file restored BESIDE quantized files in
    // one dir must be caught regardless of listing order
    val pd2 = f.listStatus(new org.apache.hadoop.fs.Path(path))
      .filter(st => st.isDirectory &&
        st.getPath.getName.startsWith("centroid_id=")).last.getPath
    val lf2 = f.listStatus(new org.apache.hadoop.fs.Path(tmp))
      .filter(_.getPath.getName.endsWith(".parquet"))
    if (lf2.isEmpty) {
      // the first rename consumed the only legacy file: re-write one
      spark.read.option("basePath", path).parquet(pd2.toString)
        .select("vec_id", "vec", "nrm").coalesce(1)
        .write.mode("overwrite").parquet(tmp)
    }
    val lfile = f.listStatus(new org.apache.hadoop.fs.Path(tmp))
      .filter(_.getPath.getName.endsWith(".parquet")).head.getPath
    assert(f.rename(lfile,
      new org.apache.hadoop.fs.Path(pd2, s"zz-${lfile.getName}")))
    val fs2 = Similarity.ivfFsck(spark, path, deepSchema = true)
    assert(fs2.exists(fd => fd.code == "schema-mixed" &&
      fd.subject.endsWith(pd2.getName)), fs2)
  }

  test("ivfFsck deepSchema: a STALE _sq8 marker over an all-legacy " +
    "layout is reported (appends would quantize into it), and a " +
    "healthy quantized layout's marker is silent") {
    val root = java.nio.file.Files.createTempDirectory("graft-fsck8").toString
    val path = s"$root/ivf"
    val e = emb()
    Similarity.writeIvfPartitioned(e.filter(col("vec_id") < 32), path)
    // a healthy quantized layout: marker present, no finding
    assert(Similarity.ivfFsck(spark, path, deepSchema = true).isEmpty)
    // restore-from-pre-SQ8-backup shape: every data file loses the
    // quantized columns while the marker survives
    val f = Dedup.fsFor(spark, path)
    f.listStatus(new org.apache.hadoop.fs.Path(path))
      .filter(st => st.isDirectory &&
        st.getPath.getName.startsWith("centroid_id="))
      .foreach { d =>
        val legacy = spark.read.option("basePath", path)
          .parquet(d.getPath.toString).select("vec_id", "vec", "nrm")
        val tmp = s"$root/legacy-${d.getPath.getName}"
        legacy.coalesce(1).write.parquet(tmp)
        f.listStatus(d.getPath)
          .filter(_.getPath.getName.endsWith(".parquet"))
          .foreach(st => f.delete(st.getPath, false))
        val lf = f.listStatus(new org.apache.hadoop.fs.Path(tmp))
          .filter(_.getPath.getName.endsWith(".parquet")).head.getPath
        assert(f.rename(lf,
          new org.apache.hadoop.fs.Path(d.getPath, lf.getName)))
      }
    val fs = Similarity.ivfFsck(spark, path, deepSchema = true)
    assert(codes(fs) == Seq("marker-stale"), fs)
    // shallow mode surfaces it too via the one-footer heuristic (the
    // same probe the append tripwire pays) — the DEFAULT doctor warns
    // before any append can grow the damage
    val shallow = Similarity.ivfFsck(spark, path)
    assert(codes(shallow) == Seq("marker-stale"), shallow)
    // and the append itself REFUSES instead of writing quantized files
    // into the legacy layout (the damage the stale marker would cause)
    val ex = intercept[IllegalArgumentException] {
      Similarity.appendIvfEpoch(
        e.filter(col("vec_id") >= 32 && col("vec_id") < 40), path, "eX")
    }
    assert(ex.getMessage.contains("_sq8 marker") &&
      ex.getMessage.contains("contradicted"), ex.getMessage)
    // nothing was ledgered or written by the refused append
    assert(Similarity.ivfFsck(spark, path, deepSchema = true)
      .forall(_.code == "marker-stale"))
    // deleting the stale marker heals: the footer walk re-judges the
    // layout as legacy and the SAME append now lands legacy-schema
    f.delete(Similarity.sq8MarkerPath(path), false)
    assert(Similarity.appendIvfEpoch(
      e.filter(col("vec_id") >= 32 && col("vec_id") < 40), path, "eX"))
    assert(Similarity.ivfFsck(spark, path, deepSchema = true).isEmpty)
  }

  test("ivfFsck deepSchema: PERSISTED null q8 rows — invisible to " +
    "per-file field presence — are reported at value level") {
    val root = java.nio.file.Files.createTempDirectory("graft-fsck7").toString
    val path = s"$root/ivf"
    val e = emb()
    Similarity.writeIvfPartitioned(e.filter(col("vec_id") < 32), path)
    val f = Dedup.fsFor(spark, path)
    val pd = f.listStatus(new org.apache.hadoop.fs.Path(path))
      .filter(st => st.isDirectory &&
        st.getPath.getName.startsWith("centroid_id=")).head.getPath
    // a file whose q8 FIELD exists but holds nulls (what a pre-heal
    // rewrite of a mixed dir used to bake in)
    val nulled = spark.read.option("basePath", path).parquet(pd.toString)
      .select("vec_id", "vec", "nrm")
      .withColumn("q8", org.apache.spark.sql.functions.lit(null)
        .cast("binary"))
      .withColumn("qscale", org.apache.spark.sql.functions.lit(null)
        .cast("double"))
    val tmp = s"$root/nulled"
    nulled.coalesce(1).write.parquet(tmp)
    val nf = f.listStatus(new org.apache.hadoop.fs.Path(tmp))
      .filter(_.getPath.getName.endsWith(".parquet")).head.getPath
    assert(f.rename(nf, new org.apache.hadoop.fs.Path(pd, nf.getName)))
    val fs = Similarity.ivfFsck(spark, path, deepSchema = true)
    assert(fs.exists(_.code == "schema-null-q8"), fs)
    assert(!fs.exists(_.code == "schema-mixed"), fs) // field-uniform
    // shallow mode deliberately skips the data read
    assert(Similarity.ivfFsck(spark, path).isEmpty)
  }

  test("dedupFsck/recoverRotations share the resume judgment: a " +
    "committed _rotate stage with a kind-format manifest is reported " +
    "fatal and recovery refuses; restoring the bare-path manifest " +
    "resumes it") {
    val root = java.nio.file.Files.createTempDirectory("graft-fsckdf").toString
    val hist = s"$root/hist"
    val idx = s"$root/idx"
    val docs = (0L until 12L)
      .map(i => (i, s"resume judgment doc body $i"))
      .toDF("doc_id", "text")
    Dedup.writeHistoryBucketed(docs, hist, nBuckets = 4)
    Dedup.writeMinhashIndex(docs, idx)
    val novel = (100L until 104L)
      .map(i => (i, s"novel resume doc body $i")).toDF("doc_id", "text")
    val bloom = spark.sparkContext.broadcast(
      Dedup.digestBloom(docs, expectedItems = 100, fpp = 0.01))
    // tear a genuine rotation at its commit point, then corrupt the
    // manifest into the sibling protocols' kind format
    intercept[RuntimeException] {
      Dedup.rotateEpochStaged(novel, hist, idx, bloom,
        expectedItems = 100, fpp = 0.01, textCol = "text",
        epochId = "er1",
        failpoint = p => if (p == "committed")
          throw new RuntimeException("boom"))
    }
    val f = Dedup.fsFor(spark, hist)
    val mfP = new org.apache.hadoop.fs.Path(s"$hist/_rotate/er1/_MANIFEST")
    val out1 = f.create(mfP, true)
    try out1.write("kind:epoch\npath:x".getBytes("UTF-8"))
    finally out1.close()
    val fs1 = Dedup.dedupFsck(spark, hist, idx)
    val foreign = fs1.filter(_.code == "stage-foreign")
    assert(foreign.size == 1 && foreign.head.severity == "fatal", fs1)
    assert(!codes(fs1).contains("stage-committed"), fs1)
    val ex = intercept[RuntimeException] {
      Dedup.recoverRotations(spark, hist)
    }
    assert(ex.getMessage.contains("foreign"), ex.getMessage)
    assert(f.exists(mfP.getParent), "stage must survive the refusal")
    // restore the genuine manifest (the recorded index path): the
    // stage resumes and the epoch lands exactly once
    val out2 = f.create(mfP, true)
    try out2.write(idx.getBytes("UTF-8")) finally out2.close()
    Dedup.recoverRotations(spark, hist)
    assert(Dedup.epochApplied(spark, hist, "er1"))
    assert(Dedup.dedupFsck(spark, hist, idx)
      .forall(_.code != "stage-foreign"))
  }

  test("dedupFsck: an index-only footprint with the ledger gone is the " +
    "FATAL ledger-loss state, even when a committed stage fences its " +
    "id — never a benign resumable-stage warning") {
    val root = java.nio.file.Files.createTempDirectory("graft-fsck6").toString
    val hist = s"$root/hist"
    val idx = s"$root/idx"
    val docs = (0L until 12L)
      .map(i => (i, s"unique document body number $i"))
      .toDF("doc_id", "text")
    Dedup.writeHistoryBucketed(docs, hist, nBuckets = 4)
    Dedup.writeMinhashIndex(docs, idx)
    val f = Dedup.fsFor(spark, hist)
    // an index-root footprint file with NO history footprint (the
    // empty-novel-epoch torn-mid-index-move shape)
    val stray = new org.apache.hadoop.fs.Path(idx, "et1=stray.parquet")
    f.create(stray, true).close()
    // no ledger dir at all
    f.delete(new org.apache.hadoop.fs.Path(s"$hist/_epochs"), true)
    val f1 = Dedup.dedupFsck(spark, hist, idx)
    assert(codes(f1).contains("ledger-missing"), f1)
    // a committed stage fencing the id must NOT downgrade the fatal:
    // recovery refuses on any index footprint once the ledger is gone
    val stage = new org.apache.hadoop.fs.Path(s"$hist/_rotate/et1")
    f.mkdirs(stage)
    val mf = f.create(
      new org.apache.hadoop.fs.Path(stage, "_MANIFEST"), true)
    try mf.write(idx.getBytes("UTF-8")) finally mf.close()
    val f2 = Dedup.dedupFsck(spark, hist, idx)
    assert(codes(f2).contains("ledger-missing"), f2)
    assert(f2.find(_.code == "ledger-missing").get.severity == "fatal")
  }

  test("dedupFsck: clean pair, sidecar lifecycle, index-side " +
    "footprints and missing _meta are all reported read-only") {
    val root = java.nio.file.Files.createTempDirectory("graft-fsck5").toString
    val hist = s"$root/hist"
    val idx = s"$root/idx"
    val docs = (0L until 16L)
      .map(i => (i, s"doc number $i with shared words " + ("x " * 12)))
      .toDF("doc_id", "text")
    Dedup.writeHistoryBucketed(docs, hist, nBuckets = 4)
    Dedup.writeMinhashIndex(docs, idx)
    // advisory sidecar missing: info, not warn
    val f1 = Dedup.dedupFsck(spark, hist, idx)
    assert(codes(f1) == Seq("sidecar-absent"), f1)
    assert(f1.head.severity == "info")
    val b = Dedup.digestBloom(docs, expectedItems = 1000, fpp = 0.001)
    Dedup.writeBloomSidecar(spark, hist, b)
    val before = (snapshot(hist), snapshot(idx))
    assert(Dedup.dedupFsck(spark, hist, idx).isEmpty)
    assert((snapshot(hist), snapshot(idx)) == before)
    // out-of-band ledger drift: the sidecar reads stale
    val f = Dedup.fsFor(spark, hist)
    EpochLedger.writeLedgerEntry(f, hist, "oob", "epoch")
    val f2 = Dedup.dedupFsck(spark, hist, idx)
    assert(codes(f2) == Seq("sidecar-stale"), f2)
    // index-side unledgered footprint
    val stray = new org.apache.hadoop.fs.Path(idx, "lostx=stray.parquet")
    f.create(stray, true).close()
    val f3 = Dedup.dedupFsck(spark, hist, idx)
    assert(codes(f3).contains("footprint-unledgered"), f3)
    assert(f.exists(stray), "fsck must not quarantine")
    f.delete(stray, false)
    // missing index _meta: appends cannot derive the band geometry
    f.delete(new org.apache.hadoop.fs.Path(s"$idx/_meta"), true)
    val f4 = Dedup.dedupFsck(spark, hist, idx)
    assert(codes(f4).contains("meta-missing"), f4)
  }

  test("a committed generation-publish stage copied under a dedup " +
    "history's _retrain fails closed: both recoveries refuse it with " +
    "the shared foreign-stage refusal, dedupFsck reports it, " +
    "dedupMaintain refuses before any arm, nothing is touched") {
    val root = java.nio.file.Files.createTempDirectory("graft-fsckfr").toString
    val hist = s"$root/hist"
    val idx = s"$root/idx"
    val ivf = s"$root/ivf"
    val docs = (0L until 12L)
      .map(i => (i, s"foreign retrain stage doc body $i"))
      .toDF("doc_id", "text")
    Dedup.writeHistoryBucketed(docs, hist, nBuckets = 4)
    Dedup.writeMinhashIndex(docs, idx)
    val bloom = spark.sparkContext.broadcast(
      Dedup.digestBloom(docs, expectedItems = 100, fpp = 0.01))
    val novel = (100L until 104L)
      .map(i => (i, s"novel foreign retrain doc $i")).toDF("doc_id", "text")
    Dedup.rotateEpochBucketed(novel, hist, idx, bloom, expectedItems = 100,
      epochId = "e1").unpersist(blocking = false)
    // an IVF rotation torn after its commit point: a committed
    // generation-publish stage with no part: key (an IVF/PQ stage)
    Similarity.writeIvfPartitioned(emb().filter(col("vec_id") < 32), ivf,
      centroidK = 2)
    intercept[RuntimeException] {
      Similarity.rotateIvfStaged(spark, ivf, "gx", 2, 1.0, 10, "vec_id",
        p => if (p == "committed") throw new RuntimeException("boom"))
    }
    val f = Dedup.fsFor(spark, hist)
    val stage = new org.apache.hadoop.fs.Path(s"$hist/_retrain/gx")
    f.mkdirs(stage.getParent)
    assert(f.rename(new org.apache.hadoop.fs.Path(s"$ivf/_retrain/gx"),
      stage))
    assert(f.exists(new org.apache.hadoop.fs.Path(stage, "_MANIFEST")))
    val before = (snapshot(hist), snapshot(idx))
    def refused(what: String)(op: => Any): Unit = {
      val ex = intercept[RuntimeException](op)
      assert(ex.getMessage.contains(
        "epoch-ledger: committed stage 'gx'") &&
        ex.getMessage.contains("foreign"), s"$what: ${ex.getMessage}")
      assert((snapshot(hist), snapshot(idx)) == before, what)
    }
    refused("one-arg recovery")(Dedup.recoverRotations(spark, hist))
    refused("pair recovery")(Dedup.recoverRotations(spark, hist, idx))
    val fk = Dedup.dedupFsck(spark, hist, idx)
    assert(fk.filter(_.code == "stage-foreign").map(fd =>
      (fd.severity, fd.subject)) == Seq(("fatal", s"$hist/_retrain/gx")), fk)
    assert(!fk.exists(_.code == "stage-committed"), fk)
    // thresholds that would fire every arm if the heal let it through
    refused("dedupMaintain")(Dedup.dedupMaintain(spark, hist, idx, "mx",
      Dedup.BucketMaintainPolicy(maxFilesPerPartition = 1,
        ledgerTailMax = 1, purgeRetiredOlderThanMs = Some(1L))))
  }
}
