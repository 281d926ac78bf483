package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.Dedup

/** Streaming exact dedup — the ingestion-time half of the dedup story:
  * a training-data firehose drops repeats as they arrive, so the batch
  * near-dup passes ([[graft.operators.Dedup]]) run on an already
  * exact-unique corpus.
  *
  * First-seen wins: rows carrying a content digest already seen within
  * the watermark horizon are discarded. `dropDuplicatesWithinWatermark`
  * keeps the digest-keyed state store BOUNDED — state older than the
  * event-time watermark is evicted — which is what makes this runnable
  * forever: an unbounded `dropDuplicates` would accumulate one state
  * row per distinct document ever seen. The horizon is therefore the
  * dedup guarantee window: a repeat arriving more than `lateness` after
  * its original may be emitted again, and the downstream batch exact
  * dedup (q20) removes it — at-least-once dedup streaming-side, exact
  * batch-side.
  */
object StreamingDedup {

  /** @param docs streaming frame with `textCol` and an event-time column
    * @param eventTimeCol timestamp column the watermark advances on
    * @param lateness watermark delay = the dedup guarantee window
    */
  def firstSeen(
      docs: DataFrame,
      eventTimeCol: String,
      lateness: String = "10 minutes",
      textCol: String = "text"): DataFrame =
    docs
      .withColumn("text_md5", md5(col(textCol).cast("binary")))
      .withWatermark(eventTimeCol, lateness)
      .dropDuplicatesWithinWatermark("text_md5")

  /** Incremental-dedup ingest — the streaming composition of the batch
    * incremental pieces: every micro-batch is (1) exact-filtered against
    * history through the per-EPOCH broadcast Bloom guard
    * ([[graft.operators.Dedup.filterNovel]], `Broadcast`-handle form —
    * one broadcast per epoch, never one per batch) and exact-deduped
    * within itself, then (2) probed for NEAR-duplicates against the
    * persisted MinHash band index
    * ([[graft.operators.Dedup.minhashProbe]]). `onBatch` receives the
    * BATCH ID, the surviving novel rows, and their near-dup flags,
    * atomically with the batch: persist the novels KEYED BY THE BATCH
    * ID (the [[spoolBatch]] helper — see below), quarantine or drop
    * the flagged ones, and at the epoch boundary hand the accumulated
    * novels ([[readSpool]]) to
    * [[graft.operators.Dedup.rotateEpochBucketed]] — an O(novel)
    * append to the persisted history + index layouts plus a Bloom
    * merge, never an O(corpus) rebuild — then [[clearSpool]] and
    * restart the stream with the returned broadcast and the re-opened
    * layouts (StreamingDedupSpec's multi-epoch scenario is the worked
    * example).
    *
    * Delivery contract: `foreachBatch` is AT-LEAST-ONCE — after a
    * task or driver failure the engine replays the last uncommitted
    * batch with the SAME batchId. A bare `mode("append")` inside
    * `onBatch` therefore duplicates the replayed novels (and the
    * Bloom cannot catch them: the duplicates arrive in the very batch
    * being retried). Appends must be keyed by the batchId so replay
    * REPLACES instead of appending — [[spoolBatch]] implements
    * exactly that (per-batch directory committed by atomic rename).
    *
    * State at scale: the sketch is O(bits) per epoch, the index is 3
    * longs per history doc per band, and each probe touches only the
    * colliding sliver of history — nothing here grows with the stream.
    * Same (k, bands) as the index build, or keys won't collide.
    *
    * ALWAYS pass a stable `checkpointLocation` in production: without
    * one a restart resets batchIds to 0, and a batchId-keyed spool
    * ([[spoolBatch]]) then OVERWRITES earlier batches of the same
    * epoch with new data — silent loss inside the replace-on-replay
    * mechanism that exists to prevent duplication. A pinned checkpoint
    * continues batchIds across restarts.
    */
  def startIncremental(
      docs: DataFrame,
      bloom: org.apache.spark.broadcast.Broadcast[
        org.apache.spark.util.sketch.BloomFilter],
      index: DataFrame,
      history: DataFrame,
      threshold: Double,
      onBatch: (Long, DataFrame, DataFrame) => Unit,
      intervalSeconds: Long = 10,
      textCol: String = "text",
      k: Int = 8,
      bands: Int = 4,
      checkpointLocation: Option[String] = None): StreamingQuery =
    startWith(docs, bloom, intervalSeconds, textCol,
      novel => Dedup.minhashProbe(novel, index, history, threshold,
        textCol, k, bands),
      onBatch, checkpointLocation)

  /** [[startIncremental]] with the history at rest in a
    * [[graft.operators.Dedup.writeHistoryBucketed]] layout: each batch's
    * candidate-sliver fetch PRUNES history partitions
    * ([[graft.operators.Dedup.minhashProbeBucketed]]) instead of
    * scanning the store — the always-on form, where the probe cost per
    * micro-batch must not grow with the corpus.
    */
  def startIncrementalBucketed(
      docs: DataFrame,
      bloom: org.apache.spark.broadcast.Broadcast[
        org.apache.spark.util.sketch.BloomFilter],
      index: DataFrame,
      historyPath: String,
      threshold: Double,
      onBatch: (Long, DataFrame, DataFrame) => Unit,
      intervalSeconds: Long = 10,
      textCol: String = "text",
      k: Int = 8,
      bands: Int = 4,
      checkpointLocation: Option[String] = None): StreamingQuery = {
    // the layout is epoch-static: resolve the _meta modulus and list the
    // file index ONCE here, not once per micro-batch — per-trigger
    // re-listing of a 100 TB layout would grow with history file count
    val (history, nBuckets) =
      Dedup.openHistoryBucketed(docs.sparkSession, historyPath)
    startWith(docs, bloom, intervalSeconds, textCol,
      novel => Dedup.minhashProbeBucketedOn(novel, index, history, nBuckets,
        threshold, textCol, k, bands),
      onBatch, checkpointLocation)
  }

  /** [[startIncrementalBucketed]] with BOTH layouts resolved from their
    * persisted paths: the index frame and its (k, bands) geometry come
    * from the [[graft.operators.Dedup.writeMinhashIndex]] `_meta`
    * sidecar, so the probe can never band with a geometry different
    * from the index it joins against (the silent-no-collisions footgun
    * of passing k/bands by hand). Call at each epoch start — after
    * [[graft.operators.Dedup.rotateEpochBucketed]] — so both file
    * listings refresh once per epoch.
    */
  def startIncrementalFromPaths(
      docs: DataFrame,
      bloom: org.apache.spark.broadcast.Broadcast[
        org.apache.spark.util.sketch.BloomFilter],
      indexPath: String,
      historyPath: String,
      threshold: Double,
      onBatch: (Long, DataFrame, DataFrame) => Unit,
      intervalSeconds: Long = 10,
      textCol: String = "text",
      checkpointLocation: Option[String] = None): StreamingQuery = {
    // restart entry point: a crash mid-rotation must be resolved BEFORE
    // either layout's file listing is taken, or the probe would see a
    // half-applied epoch (history rows with no index entries). The
    // two-arg form also quarantines unledgered `<id>=` footprints, so
    // even the stage-loss partial state heals on restart
    Dedup.recoverRotations(docs.sparkSession, historyPath, indexPath)
    val (index, k, bands) =
      Dedup.openMinhashIndex(docs.sparkSession, indexPath)
    startIncrementalBucketed(docs, bloom, index, historyPath, threshold,
      onBatch, intervalSeconds, textCol, k, bands, checkpointLocation)
  }

  private def startWith(
      docs: DataFrame,
      bloom: org.apache.spark.broadcast.Broadcast[
        org.apache.spark.util.sketch.BloomFilter],
      intervalSeconds: Long,
      textCol: String,
      probe: DataFrame => DataFrame,
      onBatch: (Long, DataFrame, DataFrame) => Unit,
      checkpointLocation: Option[String] = None): StreamingQuery = {
    val writer = docs.writeStream
      .trigger(Trigger.ProcessingTime(intervalSeconds * 1000))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // materialize the novels once — both the probe and the caller
        // read them, and the bloom-probe UDF must not run twice
        val novel = Dedup.filterNovel(batch, bloom, textCol)
          .localCheckpoint(eager = true)
        onBatch(batchId, novel, probe(novel))
        ()
      }
    checkpointLocation
      .fold(writer)(cp => writer.option("checkpointLocation", cp))
      .start()
  }

  /** Idempotently persist one micro-batch's novel rows into an
    * epoch-accumulation spool at `spoolPath` — the `onBatch` append
    * that is SAFE under `foreachBatch`'s at-least-once replay. The
    * batch is written to a `batch_id=<id>` directory, staged in a
    * dot-prefixed tmp dir (invisible to readers) and committed by an
    * atomic rename, so:
    *
    *   - a REPLAYED batch (same batchId after a failure) replaces its
    *     own directory instead of appending a second copy;
    *   - a crash mid-write leaves only an invisible tmp (or a missing
    *     directory), and the engine's replay of the uncommitted batch
    *     rewrites it;
    *   - a reader ([[readSpool]]) never sees a half-written batch.
    *
    * At the epoch boundary, hand [[readSpool]]'s union to
    * [[graft.operators.Dedup.rotateEpochBucketed]] (with a stable
    * epochId), THEN [[clearSpool]] — clearing first would lose the
    * epoch if the rotation failed.
    *
    * Use a PER-EPOCH spool path (e.g. `.../spool/<epochId>`, the same
    * id the rotation gets). The rotation ledger makes a SAME-id retry
    * idempotent, but it cannot protect against leftovers crossing
    * epochs: if [[clearSpool]] died halfway through a SHARED dir, the
    * next epoch's rotation — under a fresh id — would re-read the
    * surviving batch dirs and append last epoch's novels a second
    * time. With epoch-scoped paths a half-cleared spool is simply
    * residue that no rotation ever reads again, and [[clearSpool]] can
    * be re-invoked at leisure.
    */
  def spoolBatch(novel: DataFrame, spoolPath: String, batchId: Long): Unit = {
    val f = Dedup.fsFor(novel.sparkSession, spoolPath)
    val tmp = new org.apache.hadoop.fs.Path(
      s"$spoolPath/.batch_id=$batchId.tmp")
    novel.write.mode("overwrite").parquet(tmp.toString)
    val dst = new org.apache.hadoop.fs.Path(s"$spoolPath/batch_id=$batchId")
    if (f.exists(dst))
      require(f.delete(dst, true), s"spool: delete of stale $dst failed")
    require(f.rename(tmp, dst), s"spool: rename $tmp -> $dst failed")
  }

  /** The spool's accumulated novel rows (every committed batch,
    * exactly once), or None when nothing was spooled this epoch.
    */
  def readSpool(
      spark: org.apache.spark.sql.SparkSession,
      spoolPath: String): Option[DataFrame] = {
    val f = Dedup.fsFor(spark, spoolPath)
    val root = new org.apache.hadoop.fs.Path(spoolPath)
    if (!f.exists(root)) return None
    val batches = f.listStatus(root)
      .filter(_.getPath.getName.startsWith("batch_id="))
    if (batches.isEmpty) None
    else Some(spark.read.parquet(spoolPath).drop("batch_id"))
  }

  /** Drop the spool after its epoch has been rotated into the layouts. */
  def clearSpool(
      spark: org.apache.spark.sql.SparkSession,
      spoolPath: String): Unit = {
    val f = Dedup.fsFor(spark, spoolPath)
    val root = new org.apache.hadoop.fs.Path(spoolPath)
    if (f.exists(root))
      require(f.delete(root, true), s"spool: delete of $root failed")
  }

  private val log =
    org.slf4j.LoggerFactory.getLogger(StreamingDedup.getClass)

  /** The per-epoch handles the auto stream probes with — refreshed at
    * every epoch boundary so the probe always reads the post-rotation
    * (and post-maintenance) file listings.
    */
  private final case class EpochState(
      bloom: org.apache.spark.broadcast.Broadcast[
        org.apache.spark.util.sketch.BloomFilter],
      index: DataFrame,
      k: Int,
      bands: Int,
      history: DataFrame,
      nBuckets: Int)

  private def openState(
      spark: org.apache.spark.sql.SparkSession,
      historyPath: String,
      indexPath: String,
      expectedItems: Long,
      fpp: Double,
      prevBloom: Option[org.apache.spark.broadcast.Broadcast[
        org.apache.spark.util.sketch.BloomFilter]]): EpochState = {
    val (index, k, bands) = Dedup.openMinhashIndex(spark, indexPath)
    val (history, nBuckets) = Dedup.openHistoryBucketed(spark, historyPath)
    val bloom = prevBloom.getOrElse {
      Dedup.readBloomSidecar(spark, historyPath) match {
        case Some(b) => spark.sparkContext.broadcast(b)
        case None =>
          // no fresh sidecar: one O(corpus) digest scan, then persist
          // so the NEXT start pays two file reads
          log.info(s"no fresh _bloom sidecar under $historyPath: " +
            "rebuilding the guard from the at-rest history")
          val b = Dedup.digestBloom(history, expectedItems, fpp)
          Dedup.writeBloomSidecar(spark, historyPath, b)
          spark.sparkContext.broadcast(b)
      }
    }
    EpochState(bloom, index, k, bands, history, nBuckets)
  }

  /** The SELF-MAINTAINING incremental-dedup stream — the dedup pair's
    * twin of [[StreamingSimilarity.startSpool]]'s closed loop: the
    * manual epoch contract ("at the boundary, rotate, re-broadcast,
    * and RESTART the stream") becomes automatic. Per micro-batch, as
    * in [[startIncrementalFromPaths]]: Bloom-guard exact filter, novel
    * rows probed for near-dups against the bucketed pair, `onBatch`
    * told, novels spooled under `epochIdFor(batchId)`. At an epoch
    * BOUNDARY (the first batch whose epoch id differs), each finished
    * epoch's spool is rotated into the layouts
    * ([[graft.operators.Dedup.rotateEpochBucketed]] — ledgered,
    * replay-idempotent), the merged Bloom replaces the broadcast (the
    * sidecar persists it for the next restart), the optional
    * `maintainAtBoundary` policy runs ONE
    * [[graft.operators.Dedup.dedupMaintain]] tick under
    * `maintain-<newest rotated id>`, and the index/history handles are
    * REOPENED so the new epoch probes the post-rotation (and
    * post-compaction) listings.
    *
    * Crash story, all inherited from the parts: a replayed boundary
    * re-enters the rotation under the same id and no-ops through the
    * ledger; a crash between rotation and spool clear heals the same
    * way; a residue-only spool dir clears without rotating; a torn
    * rotation from a PREVIOUS session resolves in the entry
    * `recoverRotations`. The initial guard comes from the `_bloom`
    * sidecar when fresh, else one O(corpus) [[Dedup.digestBloom]]
    * rebuild (then persisted). `drainOnStop` mirrors
    * [[StreamingSimilarity.startSpool]]: a CLEAN `stop()` rotates the
    * final epoch's spool; an error path leaves heal-on-restart
    * semantics untouched, and a clean stop is then TERMINAL for this
    * spool/checkpoint lineage.
    *
    * Single maintenance writer: with this stream running, IT owns the
    * layout pair — no concurrent rotation, compaction, or recovery,
    * and after a `drainOnStop` stop the drain may still be running
    * when `stop()` returns: handshake through
    * [[StreamTermination.awaitDrain]] before any follow-on maintenance.
    * ALWAYS pin `checkpointLocation` in production (see
    * [[startIncremental]]'s contract: a reset batchId sequence under a
    * batch-keyed spool means silent loss).
    *
    * Within-epoch window: a doc novel in batch N and repeated in batch
    * N+1 of the SAME epoch is reported novel to `onBatch` both times
    * (the Bloom only advances at rotation) but never becomes duplicate
    * corpus state — the rotation dedupes the spool union exactly
    * (digest → min-id keeper) before it enters the layouts. Pipe the
    * source through [[firstSeen]] when in-epoch report exactness
    * matters too.
    *
    * `applyToSubstringIndex` closes the same freshness loop for a
    * [[graft.operators.Dedup.writeSubstringIndex]] layout that
    * [[StreamingSimilarity.startSpool]]'s `applyToPqIndex` closes for
    * the PQ index: at each boundary, AFTER a finished epoch rotates
    * into the dedup pair, the SAME deduplicated novel slice lands on
    * the substring index as a ledgered
    * [[graft.operators.Dedup.appendSubstringEpoch]] under the SAME
    * epoch id. The two appends are independently ledgered, so a crash
    * between them replays as a dedup-side ledger hit that completes
    * only the substring side. The stream's own discipline IS the
    * append's ddf contract: the Bloom guard drops docs the corpus (and
    * therefore the index) already counted, and the boundary's
    * digest-keeper dedupe makes each epoch's doc set internally
    * unique — pairwise-disjoint epochs by construction. The index must
    * exist (build it once with `writeSubstringIndex` over the corpus
    * so far); the stream is then its single maintenance writer too.
    * `substringMaintainAtBoundary` (requires `applyToSubstringIndex`)
    * runs ONE [[graft.operators.Dedup.substringMaintain]] tick after
    * the boundary's appends land — same cadence-not-correctness
    * contract as `maintainAtBoundary`.
    *
    * `onSubstringBatch` (requires `applyToSubstringIndex`) closes the
    * loop's READ side: each micro-batch's NOVEL slice is scored
    * against the index IN-stream
    * ([[graft.operators.Dedup.substringDupProbeOn]] over handles
    * opened once per epoch) and the per-doc duplicated-window stats
    * handed to the callback — the ingest-time quality gate the
    * substring family exists for (flag or route boilerplate-heavy
    * docs as they arrive). Same within-epoch window as the Bloom and
    * the near-dup probe: novels spooled earlier in the SAME epoch are
    * not yet in the index, so a window duplicated only across batches
    * of one epoch scores below its post-rotation truth until the
    * boundary; `substringMinDocs` is the probe's threshold.
    *
    * `onSubstringCutBatch` (requires `applyToSubstringIndex`) is the
    * gate's EXCISION form: the same novel slice arrives with its
    * history-duplicated substrings already CUT
    * ([[graft.operators.Dedup.substringCutProbeOn]] — span probe +
    * [[graft.operators.Dedup.cutSpans]], the q84 identity), one
    * `(doc_id, cut_text, n_kept, n_cut)` row per novel doc — the
    * streamed Lee-et-al workflow delivers cleaned text, not just a
    * flag. Same epoch-fresh handles and within-epoch window as
    * `onSubstringBatch`; setting BOTH callbacks runs ONE shared probe
    * ([[graft.operators.Dedup.substringStatsAndCutProbeOn]] — one
    * tokenize pass, one sliver fetch) and hands each callback its
    * form, so the dual-signal gate costs the cut probe plus a stats
    * tail, not two probes.
    */
  def startIncrementalAuto(
      docs: DataFrame,
      historyPath: String,
      indexPath: String,
      spoolRoot: String,
      threshold: Double,
      onBatch: (Long, DataFrame, DataFrame) => Unit,
      expectedItems: Long,
      epochIdFor: Long => String,
      fpp: Double = 0.01,
      intervalSeconds: Long = 10,
      textCol: String = "text",
      checkpointLocation: Option[String] = None,
      drainOnStop: Boolean = false,
      maintainAtBoundary: Option[Dedup.BucketMaintainPolicy] = None,
      applyToSubstringIndex: Option[String] = None,
      substringMaintainAtBoundary: Option[Dedup.BucketMaintainPolicy] = None,
      onSubstringBatch: Option[(Long, DataFrame) => Unit] = None,
      substringMinDocs: Int = 2,
      onSubstringCutBatch: Option[(Long, DataFrame) => Unit] = None)
      : StreamingQuery = {
    require(substringMaintainAtBoundary.isEmpty ||
        applyToSubstringIndex.isDefined,
      "substringMaintainAtBoundary without applyToSubstringIndex has " +
        "no index to maintain")
    require(onSubstringBatch.isEmpty || applyToSubstringIndex.isDefined,
      "onSubstringBatch without applyToSubstringIndex has no index to " +
        "probe")
    require(onSubstringCutBatch.isEmpty || applyToSubstringIndex.isDefined,
      "onSubstringCutBatch without applyToSubstringIndex has no index " +
        "to probe")
    val wantsSubstringProbe =
      onSubstringBatch.isDefined || onSubstringCutBatch.isDefined
    val spark = docs.sparkSession
    if (checkpointLocation.isEmpty)
      log.warn(
        "startIncrementalAuto without a checkpointLocation: a restart " +
          "resets batchIds to 0 and epochIdFor maps NEW data onto " +
          "already-ledgered epoch ids, whose spools then clear " +
          "UNROTATED at the boundary. Pin a stable checkpointLocation " +
          "for anything beyond a throwaway dev run.")
    // entry healing: a torn rotation (or partition compaction) from a
    // crashed session must resolve before any listing is taken
    Dedup.recoverRotations(spark, historyPath, indexPath)
    // ...and the substring index's own torn state (a boundary maintain
    // tick crashed mid-swap leaves bucket dirs empty) — the stream is
    // its single maintenance writer too, so it heals it at the same
    // entry instead of leaving reads exposed until the first boundary
    applyToSubstringIndex.foreach(idx =>
      Dedup.recoverSubstringLayout(spark, idx))
    val state = new java.util.concurrent.atomic.AtomicReference(
      openState(spark, historyPath, indexPath, expectedItems, fpp, None))
    // substring probe handles — (history frame, window, nBuckets),
    // opened ONCE per epoch like the pair's own listings (probe loops
    // must not re-list per batch) and only when someone probes
    val ssState = new java.util.concurrent.atomic.AtomicReference[
        Option[(DataFrame, Int, Int)]](
      if (wantsSubstringProbe)
        Some(Dedup.openSubstringIndex(spark, applyToSubstringIndex.get))
      else None)
    def rotateFinished(current: Option[String]): Unit = {
      val finished = StreamingSimilarity
        .listSpooledEpochs(spark, spoolRoot)
        .filterNot(e => current.contains(e))
      if (finished.isEmpty) return
      finished.foreach { prev =>
        readSpool(spark, s"$spoolRoot/$prev") match {
          case None =>
            // residue-only (torn tmp): no data, just stop it from
            // re-entering this list every batch
            clearSpool(spark, s"$spoolRoot/$prev")
          case Some(novel) =>
            // the bloom only advances HERE, so a doc novel in batch N
            // and repeated in batch N+1 of the same epoch reaches the
            // spool twice — keep exactly ONE row per content digest
            // (deterministic min-(id, text) keeper; a keeper-id join
            // would let same-id redeliveries through) before it
            // becomes history, or the duplicate is permanent corpus
            // state. Checkpoint the result: the rotation evaluates its
            // input three times (history stage, index stage, bloom
            // merge) and must not re-run the dedupe shuffle each time.
            val w = org.apache.spark.sql.expressions.Window
              .partitionBy("__digest")
              .orderBy(col("doc_id"), col(textCol))
            val distinctNovel = novel
              .withColumn("__digest", md5(col(textCol).cast("binary")))
              .withColumn("__rn", row_number().over(w))
              .filter(col("__rn") === 1)
              .drop("__digest", "__rn")
              .localCheckpoint(eager = true)
            val next = Dedup.rotateEpochBucketed(distinctNovel,
              historyPath, indexPath, state.get.bloom, expectedItems, fpp,
              textCol, epochId = prev)
            // the substring index's append rides the SAME boundary
            // under the SAME id, BEFORE the spool clears — a crash
            // between the two appends replays as a dedup-side ledger
            // hit (rotateEpochBucketed returns without re-appending)
            // that completes only this side. distinctNovel is the ddf
            // contract: Bloom-novel across epochs, digest-unique
            // within this one.
            applyToSubstringIndex.foreach { idx =>
              Dedup.appendSubstringEpoch(distinctNovel, idx, prev,
                textCol)
            }
            clearSpool(spark, s"$spoolRoot/$prev")
            state.set(state.get.copy(bloom = next))
        }
      }
      maintainAtBoundary.foreach { policy =>
        val m = Dedup.dedupMaintain(spark, historyPath, indexPath,
          s"maintain-${StreamingSimilarity.newestEpochId(finished)}",
          policy)
        if (m.actions.nonEmpty)
          log.info(s"boundary maintain of $historyPath: " +
            m.actions.mkString("; "))
      }
      // the substring index's own tick, after ITS appends landed —
      // one policy run under the boundary-deterministic id, replay-
      // safe through the sub-protocols' ledgers
      substringMaintainAtBoundary.foreach { policy =>
        applyToSubstringIndex.foreach { idx =>
          val m = Dedup.substringMaintain(spark, idx,
            s"maintain-${StreamingSimilarity.newestEpochId(finished)}",
            policy)
          if (m.actions.nonEmpty)
            log.info(s"boundary substring-maintain of $idx: " +
              m.actions.mkString("; "))
        }
      }
      // the new epoch probes the post-rotation/post-maintenance
      // listings; the bloom survives from the rotation merges above
      state.set(openState(spark, historyPath, indexPath, expectedItems,
        fpp, Some(state.get.bloom)))
      if (wantsSubstringProbe)
        ssState.set(Some(Dedup.openSubstringIndex(spark,
          applyToSubstringIndex.get)))
    }
    val writer = docs.writeStream
      .trigger(Trigger.ProcessingTime(intervalSeconds * 1000))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val epochId = epochIdFor(batchId)
        // fail loudly NOW: a '_'/'.'-prefixed id would spool to a dir
        // the boundary listing filters out — never rotated, never
        // cleared, silently lost; a '/'-carrying id would nest dirs
        // the residue path then deletes unrotated
        graft.operators.EpochLedger.requireEpochId(epochId)
        rotateFinished(current = Some(epochId))
        val st = state.get
        val novel = Dedup.filterNovel(batch, st.bloom, textCol)
          .localCheckpoint(eager = true)
        onBatch(batchId, novel,
          Dedup.minhashProbeBucketedOn(novel, st.index, st.history,
            st.nBuckets, threshold, textCol, st.k, st.bands))
        // the substring-level quality gate on the SAME novel slice:
        // duplicated-window stats vs history ∪ batch, epoch-fresh
        // handles (the within-epoch window documented above). BOTH
        // callbacks set runs ONE shared probe (one tokenize pass, one
        // sliver fetch — substringStatsAndCutProbeOn) instead of two.
        (onSubstringBatch, onSubstringCutBatch) match {
          case (Some(fStats), Some(fCut)) =>
            ssState.get.foreach { case (hist, w, nb) =>
              val (stats, cut) = Dedup.substringStatsAndCutProbeOn(
                novel, hist, w, nb, substringMinDocs, textCol)
              fStats(batchId, stats)
              fCut(batchId, cut)
            }
          case (Some(fStats), None) =>
            ssState.get.foreach { case (hist, w, nb) =>
              fStats(batchId, Dedup.substringDupProbeOn(novel, hist, w,
                nb, substringMinDocs, textCol))
            }
          // the gate's excision form: the same slice with its
          // history-duplicated substrings cut (span probe + cutSpans)
          case (None, Some(fCut)) =>
            ssState.get.foreach { case (hist, w, nb) =>
              fCut(batchId, Dedup.substringCutProbeOn(novel, hist, w,
                nb, substringMinDocs, textCol))
            }
          case (None, None) => ()
        }
        spoolBatch(novel, s"$spoolRoot/$epochId", batchId)
        ()
      }
    val query = checkpointLocation
      .fold(writer)(cp => writer.option("checkpointLocation", cp))
      .start()
    if (drainOnStop)
      // clean stop only — see StreamingSimilarity.startSpool's
      // contract; follow-on maintenance after stop() must handshake
      // through StreamTermination.awaitDrain
      StreamTermination.onCleanTermination(spark, query,
        s"drainOnStop of $spoolRoot -> $historyPath",
        layoutKey = historyPath) {
        rotateFinished(current = None)
      }
    query
  }
}
