package graft.operators

import org.apache.hadoop.fs.{FileStatus, FileSystem}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

import Similarity.{IvfHealth, IvfRecall}
import EpochLedger.FsckFinding

/** The centroid-specific engine the two centroid-partitioned layouts
  * share — IVF ([[Similarity]]) and PQ ([[Pq]]): the maintain decision
  * engine with its skew and recall arms, the listing-only health
  * snapshot, the recall-probe scoring against brute force and the
  * `_centroids` fsck binding. The steps every partitioned layout
  * shares, the substring index too, are [[EpochLedger]]'s, keyed on
  * the partition prefix: `recoverLayout`, `layoutFsck`,
  * `compactLayoutPartitions`, `beginMaintain` and `maintainLedger`.
  * Both layouts publish generations through
  * [[Similarity.stageGeneration]] and fence rotations with
  * [[RecallBreaker]]; partition stats and skew are
  * [[Similarity.ivfPartitionStats]] and [[Similarity.ivfSkewRatio]] for
  * both. Each kind binds its public entry points
  * (`ivfMaintain`/`pqMaintain`, `ivfHealth`/`pqHealth`,
  * `ivfFsck`/`pqFsck`, ...) to these bodies and supplies only what
  * differs: its rotation and training keys ([[Kind]]), the approximate
  * side of its recall probe, its compaction row healer and its fsck
  * extras.
  */
object CentroidLayout {

  /** The thresholds both kinds' maintain policies carry
    * ([[Similarity.IvfMaintainPolicy]], [[Pq.PqMaintainPolicy]]); field
    * meanings are [[Similarity.ivfMaintain]]'s parameters of the same
    * names. `rerank` is the recall probe's shortlist (IVF's
    * `recallRerank`).
    */
  trait Policy {
    def maxFilesPerPartition: Int
    def skewThreshold: Double
    def recallFloor: Option[Double]
    def recallSampleN: Int
    def k: Int
    def nprobe: Int
    def rerank: Int
    def ledgerTailMax: Int
    def queryVectors: Option[DataFrame]
    def purgeRetiredOlderThanMs: Option[Long]
    def filesPerPartition: Int
  }

  /** What one kind supplies to [[maintain]]. The rotation, recall probe
    * and compaction are bound to the layout and policy being maintained.
    */
  private[operators] trait Kind {
    /** The layout's name in action text: "layout" (IVF), "index" (PQ). */
    def noun: String
    /** The rotation's training step as the skew-skip action names it. */
    def retrain: String
    /** The policy's rerank parameter name and what its 0 means. */
    def rerankParam: String
    def rerankZero: String
    /** The rotation's training knobs, keyed into both breakers after
      * the policy's own keys — in order, so fences armed on disk match.
      */
    def trainingKeys: Seq[(String, () => String)]
    /** Breaker keys absent from manifests armed by older builds, with
      * the values those builds ran with ([[RecallBreaker.armed]]).
      */
    def legacyDefaults: Map[String, String] = Map.empty
    /** The policy's recall probe (`recallSampleN.max(1)` stored queries
      * or its `queryVectors`).
      */
    def recall(): IvfRecall
    /** Rotate under `id`; true when applied now, false on a replay. */
    def rotate(id: String): Boolean
    /** Compact the policy's over-threshold partitions under `id`. */
    def compactPartitions(id: String): Int
  }

  /** What [[maintain]] did and why: the action strings in execution
    * order (empty for a healthy layout) and the pre-decision health
    * snapshot the policy judged.
    */
  final case class Maintenance(actions: Seq[String], health: IvfHealth)

  /** Refuse a rerank that is neither 0 (`zero`: the kind's default
    * route) nor a shortlist of at least `k`.
    */
  private[operators] def requireRerank(
      param: String,
      zero: String,
      rerank: Int,
      k: Int,
      kName: String = "k"): Unit =
    require(rerank == 0 || rerank >= k,
      s"$param must be 0 ($zero) or >= $kName, got $param=$rerank k=$k")

  /** The layout runbook's one-call snapshot, LISTING-ONLY except for
    * `recall` (the caller's corpus-scan probe, None when not asked):
    * partition stats, skew, current generation and quarantine/retired
    * dir counts. See [[Similarity.ivfHealth]] for how to read it.
    */
  private[operators] def health(
      spark: SparkSession,
      path: String,
      recall: => Option[IvfRecall]): IvfHealth = {
    val f = Dedup.fsFor(spark, path)
    val stats = Similarity.ivfPartitionStats(spark, path)
    IvfHealth(
      dataRoot = Similarity.ivfDataRoot(f, path),
      generation = Similarity.currentGenName(f, path),
      partitions = stats.size,
      files = stats.map(_._2.toLong).sum,
      bytes = stats.map(_._3).sum,
      maxFilesPerPartition = if (stats.isEmpty) 0 else stats.map(_._2).max,
      skewRatio = Similarity.skewFromStats(stats),
      recall = recall,
      // dir COUNTS via one listStatus each — the full per-dir
      // file/byte scans (EpochLedger.listQuarantined/listRetired)
      // enumerate the retired corpus, which a boundary-cadence health
      // read must not pay (6+ s observed on a layout with one retired
      // generation; O(retired corpus) in general)
      quarantined = Dedup.countHiddenDirs(f, path, "_quarantine"),
      retired = Dedup.countHiddenDirs(f, path, "_retired"))
  }

  /** Measured recall@k of a kind's approximate top-k against
    * brute-force exact top-k over `corpus` (`idCol` + `embedding`,
    * resolved once after the argument checks). Stored mode samples
    * `sampleN` corpus ids in the deterministic `(id mod P)·sampleHash
    * mod P` order — a TakeOrdered, never a global sort — and scores the
    * kind's `probe` of those stored ids against
    * [[Similarity.bruteForceKnn]]; `queryVectors` switches to
    * SERVING-shaped recall, the `probe` of those external queries against
    * [[Similarity.bruteForceKnnWith]] with no self-exclusion either side.
    * Ids are cast to long at the driver edge (int32 corpus or query ids
    * are admitted). Driver state is O(sampleN·k) id pairs; recall 1.0
    * means identical top-k sets.
    */
  private[operators] def recallProbe(
      corpus: => DataFrame,
      sampleHash: Long,
      rerankZero: String,
      sampleN: Int,
      k: Int,
      nprobe: Int,
      rerank: Int,
      idCol: String,
      queryVectors: Option[DataFrame])(
      probe: Similarity.QuerySource => DataFrame): IvfRecall = {
    require(sampleN >= 1, s"sampleN must be >= 1, got $sampleN")
    require(k >= 1, s"k must be >= 1, got $k")
    // fail fast, like every other knob: a positive rerank below k
    // cannot produce a top-k, and a negative one would silently run the
    // default route while recording another
    requireRerank("rerank", rerankZero, rerank, k)
    val exact = corpus
    def pairs(df: DataFrame): Set[(Long, Long)] =
      df.select(col("query_id").cast("long"), col("neighbor_id").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def score(approx: Set[(Long, Long)], truth: Set[(Long, Long)],
        queries: Int): IvfRecall =
      IvfRecall(
        if (truth.isEmpty) 1.0
        else approx.intersect(truth).size.toDouble / truth.size,
        queries, k, nprobe, rerank)
    queryVectors match {
      case Some(qv) =>
        val approx = pairs(probe(Similarity.ExternalQueries(qv, "query_id")))
        val truth = pairs(Similarity.bruteForceKnnWith(exact, qv, k,
          idCol = idCol))
        score(approx, truth, truth.map(_._1).union(approx.map(_._1)).size)
      case None =>
        val p = graft.functions.TextHash.P
        val id = col(idCol).cast("long")
        val qids = exact
          .select(id.as("qid"), ((id % p) * lit(sampleHash) % p).as("chash"))
          .orderBy(col("chash"), col("qid"))
          .limit(sampleN)
          .collect().map(_.getLong(0)).toSeq
        if (qids.isEmpty) score(Set.empty, Set.empty, 0)
        else {
          val approx = pairs(probe(Similarity.StoredIds(qids)))
          score(approx, pairs(Similarity.bruteForceKnn(exact, qids, k, idCol)),
            qids.size)
        }
    }
  }

  /** READ-ONLY diagnosis of a centroid layout:
    * [[EpochLedger.layoutFsck]] with the `_centroids` routing sidecar
    * (its absence breaks `breaks`; `rebuild` names the remedy) and the
    * kind's own `extras`. Mutates NOTHING. Empty result = clean.
    */
  private[operators] def fsck(
      spark: SparkSession,
      path: String,
      breaks: String,
      rebuild: String)(
      extras: (FileSystem, String, Seq[FileStatus]) => Seq[FsckFinding])
      : Seq[FsckFinding] =
    EpochLedger.layoutFsck(spark, path, "centroid_id=", "_centroids",
      "partition dirs exist but the centroid routing sidecar is " +
        s"missing — $breaks fail; rebuild with $rebuild")(extras)

  /** The closed-loop maintenance policy step for either kind — read
    * [[health]] ONCE, judge it against `policy`, and run the prescribed
    * maintenance ([[Similarity.ivfMaintain]] documents the runbook):
    *
    *   - skew past `skewThreshold`, or measured recall below
    *     `recallFloor` → `kind.rotate("<id>-rotate")`. EITHER trigger
    *     must prove the rotation helped: an APPLIED rotation that still
    *     misses its threshold arms that arm's [[RecallBreaker]] (keyed
    *     to the policy, the kind's training keys and the layout's data
    *     state), and the arm is then skipped with a loud action until
    *     the data or the config changes; a met threshold disarms. The
    *     recall breaker is consulted only when skew will not rotate;
    *   - otherwise files past `maxFilesPerPartition` →
    *     `kind.compactPartitions("<id>-compact")`;
    *   - independently, the ledger roll-up and purge arms
    *     ([[EpochLedger.maintainLedger]]).
    *
    * A healthy layout is a LISTING-ONLY no-op after the shared entry
    * checks and healing pass ([[EpochLedger.beginMaintain]]). Single
    * maintenance writer.
    */
  private[operators] def maintain(
      spark: SparkSession,
      path: String,
      id: String,
      policy: Policy,
      kind: Kind): Maintenance = {
    import policy._
    require(skewThreshold > 1.0,
      s"thresholds out of range: skewThreshold=$skewThreshold")
    // judged BEFORE any healing/maintenance work: a bad rerank must
    // not abort the tick deep inside the health read after recovery
    // already ran (the compaction/ledger/purge arms never depend on it)
    requireRerank(kind.rerankParam, kind.rerankZero, rerank, k, "recall k")
    // a floor with no probe configured would silently never judge
    // recall (h.recall = None ⇒ recallHit = false): the operator
    // believes the floor is enforced while a degraded layout is
    // reported healthy forever
    require(recallFloor.isEmpty || recallSampleN >= 1 ||
        queryVectors.isDefined,
      "recallFloor is set but no probe is configured: pass " +
        "recallSampleN >= 1 (stored-sample mode) or queryVectors " +
        "(serving mode)")
    EpochLedger.beginMaintain(id, maxFilesPerPartition, ledgerTailMax,
      filesPerPartition)(
      EpochLedger.recoverLayout(spark, path, "centroid_id="))
    // recall probing only runs when a floor is set — it is the one
    // corpus-scan observable; the rest stay listing-only
    val h = health(spark, path,
      if (recallFloor.isDefined) Some(kind.recall()) else None)
    val actions = scala.collection.mutable.ArrayBuffer.empty[String]
    val fsys = Dedup.fsFor(spark, path)
    def state: String = Similarity.layoutStateToken(fsys, path)
    val skewHit = h.skewRatio > skewThreshold
    val recallHit = recallFloor.exists(fl =>
      h.recall.exists(_.recallAtK < fl))
    // the breaker keys: the arm's own config, then the rotation's
    // training knobs (a different geometry trains a different index,
    // which was never measured — it must re-arm). Thunked values keep
    // the query-workload digest lazy: only recall-unhealthy ticks (the
    // only ones that consult or arm the breaker, and only after the
    // cheap knobs match) pay the extra action.
    lazy val queryDigest: String =
      RecallBreaker.queryWorkloadDigest(queryVectors)
    val recallConfig: Seq[(String, () => String)] = Seq(
      "floor" -> (() => recallFloor.get.toString),
      "k" -> (() => k.toString),
      "nprobe" -> (() => nprobe.toString),
      "rerank" -> (() => rerank.toString)) ++ kind.trainingKeys ++ Seq(
      "queries" -> (() => queryDigest))
    val skewConfig: Seq[(String, () => String)] =
      ("skewThreshold" -> (() => skewThreshold.toString)) +: kind.trainingKeys
    // evaluate each effectful breaker read ONCE: a second evaluation
    // could hit a transient read error, read as absent, and turn a .get
    // into a crash mid-tick
    val armedSkew: Option[String] =
      if (skewHit)
        RecallBreaker.armed(fsys, path, skewConfig, state,
          file = "skew-breaker", valueKey = "skew",
          legacyDefaults = kind.legacyDefaults)
      else None
    if (armedSkew.isDefined)
      actions += f"rotate-skipped(skew " +
        f"${h.skewRatio}%.2f>$skewThreshold%.2f, but a rotation on " +
        s"this exact layout state already measured ${armedSkew.get} — " +
        s"the ${kind.retrain} cannot re-balance this corpus; raise the " +
        "threshold or change the training knobs. Appends, rotations " +
        "and knob changes re-arm the breaker)"
    val skewWillRotate = skewHit && armedSkew.isEmpty
    val armedRecall: Option[String] =
      if (recallHit && !skewWillRotate)
        RecallBreaker.armed(fsys, path, recallConfig, state,
          legacyDefaults = kind.legacyDefaults)
      else None
    if (armedRecall.isDefined)
      actions += f"rotate-skipped(recall " +
        f"${h.recall.get.recallAtK}%.4f<${recallFloor.get}%.4f, but a " +
        s"rotation on this exact layout state already measured " +
        s"${armedRecall.get} — the floor is unreachable at this " +
        "nprobe/rerank/training config; raise them or lower the " +
        "floor. Appends, rotations and knob changes re-arm the breaker)"
    if (skewWillRotate || (recallHit && armedRecall.isEmpty)) {
      // the reason reports which arm FIRED — a skew observation whose
      // breaker skipped it must not be claimed by a recall-fired
      // rotation's action string
      val reason =
        (if (skewWillRotate)
           Seq(f"skew ${h.skewRatio}%.2f>$skewThreshold%.2f")
         else Seq.empty) ++
          (if (recallHit)
             Seq(f"recall ${h.recall.get.recallAtK}%.4f<" +
               f"${recallFloor.get}%.4f")
           else Seq.empty)
      val applied = kind.rotate(s"$id-rotate")
      actions += s"rotate(${reason.mkString(", ")})" +
        (if (applied) "" else " [already applied]")
      // a rotation happened (whichever arm fired): each observed arm
      // must prove it helped. Only an ACTUAL rotation may arm a
      // breaker: on a ledger replay (a reused maintenance id) no
      // training ran on the CURRENT data state, so recording "already
      // measured" would wrongly fence a rotation that might repair it
      if (skewHit) {
        // one fresh stats listing; on a replay the layout did not change
        val skewAfter =
          if (applied) Similarity.ivfSkewRatio(spark, path) else h.skewRatio
        if (skewAfter > skewThreshold) {
          if (applied) {
            actions += f"WARNING skew-unmet-after-rotation(" +
              f"$skewAfter%.2f>$skewThreshold%.2f) — skew breaker " +
              "armed: the rotate arm will not re-fire for skew until " +
              s"the ${kind.noun}'s data or the training config changes"
            RecallBreaker.arm(fsys, path, skewConfig, state, skewAfter,
              file = "skew-breaker", valueKey = "skew")
          }
        } else RecallBreaker.disarm(fsys, path, file = "skew-breaker")
      }
      if (recallHit) {
        // on a replay the health probe's own number IS the
        // post-rotation recall — no second corpus scan
        val after =
          if (applied) kind.recall().recallAtK else h.recall.get.recallAtK
        if (after < recallFloor.get) {
          if (applied) {
            actions += f"WARNING recall-floor-unmet-after-rotation(" +
              f"$after%.4f<${recallFloor.get}%.4f) — breaker armed: " +
              "the rotate arm will not fire again until the " +
              s"${kind.noun}'s data or the recall/training config changes"
            RecallBreaker.arm(fsys, path, recallConfig, state, after)
          } else
            actions += f"WARNING recall-floor-unmet(" +
              f"$after%.4f<${recallFloor.get}%.4f) after a REPLAYED " +
              "rotation id — no new training ran this tick; re-run " +
              "with a fresh maintenance id to measure a real rotation"
        } else RecallBreaker.disarm(fsys, path)
      }
    } else if (h.maxFilesPerPartition > maxFilesPerPartition) {
      val n = kind.compactPartitions(s"$id-compact")
      actions += s"compact-partitions(maxFiles=" +
        s"${h.maxFilesPerPartition}>$maxFilesPerPartition, dirs=$n)"
    }
    actions ++= EpochLedger.maintainLedger(spark, path, ledgerTailMax,
      purgeRetiredOlderThanMs)(
      EpochLedger.purgeRetiredOlderThan(spark, path, _))._2
    Maintenance(actions.toSeq, h)
  }
}
