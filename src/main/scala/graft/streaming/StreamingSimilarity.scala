package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.{Dedup, EpochLedger, Pq, Similarity}

/** Streaming embedding ingest for the IVF layout — the similarity-side
  * twin of [[StreamingDedup]]'s spool → rotate lifecycle, built from
  * the same idempotent batch spool:
  *
  *   1. [[startSpool]] runs the stream: each micro-batch of
  *      `(vec_id, embedding)` rows lands in the current epoch's spool
  *      via [[StreamingDedup.spoolBatch]] (staged + atomic rename, so
  *      `foreachBatch`'s at-least-once replay REPLACES instead of
  *      double-spooling);
  *   2. at the epoch boundary, the PREVIOUS epoch's spool is appended
  *      to the layout through the crash-safe
  *      [[Similarity.appendIvfEpoch]] protocol under the SPOOL'S OWN
  *      epoch id, then cleared — ledgered either way, so a crash
  *      between append and clear just replays as a ledger hit. With
  *      `applyToLayout` set, [[startSpool]] does this ITSELF: the
  *      first batch of each new epoch applies every older spooled
  *      epoch before spooling (boundary detection is a spool-root
  *      listing, so a crash-before-apply heals on the next batch too).
  *      Without it, call [[applySpooledEpoch]] manually at the
  *      boundary — and even with it, once the stream STOPS for good,
  *      drain the final epoch: one manual [[drainSpool]], or
  *      `drainOnStop = true` to have a clean `stop()` run it
  *      automatically (see [[startSpool]] for that mode's
  *      stop-is-terminal contract).
  *
  * No per-batch query runs against the layout (unlike the dedup
  * stream's probe): ANN readers keep probing the layout as-is and see
  * each epoch when its append lands. Per the explicit-epochId
  * contract, an epoch id must never be REUSED for different data — the
  * ledger makes a reused id a silent no-op and [[applySpooledEpoch]]
  * would then clear the new rows unapplied; `epochIdFor` must be a
  * stable, MONOTONE batch→epoch mapping (e.g.
  * `batchId / batchesPerEpoch`) — the auto-apply treats every spooled
  * epoch other than the current batch's as finished.
  *
  * Single maintenance writer: with `applyToLayout` set, the STREAM is
  * the layout's maintenance writer — don't run appends, rotations, or
  * recovery against the same layout while it runs. That ownership is
  * what lets `maintainAtBoundary` run the full
  * [[Similarity.ivfMaintain]] policy (compact / rotate / ledger
  * roll-up) at each epoch boundary with no external coordination.
  */
object StreamingSimilarity {

  private val log =
    org.slf4j.LoggerFactory.getLogger(StreamingSimilarity.getClass)

  /** Start spooling the embedding stream, one epoch-scoped directory
    * per `epochIdFor(batchId)` — `spoolRoot/<epochId>/batch_id=<id>`.
    * The frame must carry the layout's id column and an `embedding`
    * array column (what [[Similarity.appendIvfEpoch]] assigns).
    *
    * ALWAYS pass a stable `checkpointLocation` in production: without
    * one the engine uses a temporary checkpoint, a restart resets
    * batchIds to 0, and `epochIdFor` then maps NEW data onto epoch ids
    * that are already ledgered — [[applySpooledEpoch]] would clear
    * those rows unapplied (the ledger hit looks like the documented
    * crash retry). The kind-tagged ledger cannot catch this: the id
    * really was an epoch id. A pinned checkpoint makes batchIds
    * continue across restarts, which is what keeps `epochIdFor`
    * collision-free. The unpinned default WARNS loudly for exactly
    * this reason (the `Banding.resolveDefaultCap` make-the-hazard-loud
    * approach); it remains the dev-convenience default only.
    *
    * `applyToLayout` turns the epoch boundary into ENGINE behavior:
    * on each batch, every spooled epoch whose id differs from the
    * current batch's is applied to that layout (then its spool is
    * cleared) BEFORE the batch spools — so epoch N lands exactly when
    * epoch N+1's first batch arrives, and a restart after a
    * crash-before-apply heals the leftover spool the same way.
    *
    * `drainOnStop` (requires `applyToLayout`) removes the last manual
    * step: a [[org.apache.spark.sql.streaming.StreamingQueryListener]]
    * runs [[drainSpool]] when THIS query terminates CLEANLY — so
    * `query.stop()` alone leaves no unapplied spool. Termination by
    * ERROR deliberately does NOT drain: the error path is a crash, and
    * a crash's contract is heal-on-restart (the next run's boundary or
    * entry healing applies the leftover spool under its own epoch id).
    * Draining there would also be WRONG for a restart that continues
    * the same checkpoint: the current epoch's id would be ledgered
    * with partial data and the restart's remaining rows for that epoch
    * would later clear UNAPPLIED as a "replay". The same hazard is why
    * `drainOnStop` must only be set when a clean stop is TERMINAL for
    * this spool/checkpoint lineage — to resume ingest after a drained
    * stop, start a fresh epoch mapping (e.g. an epochIdFor offset past
    * the drained ids), exactly as the manual-drain contract already
    * required.
    *
    * `applyToPqIndex` (requires `applyToLayout`) keeps a DERIVED
    * [[Pq]] serving index fresh at the same cadence: each finished
    * epoch's rows also [[Pq.appendPqEpoch]] into the index — encoded
    * with its STORED codebook and routed against its own sidecar, the
    * append contract — under the SAME epoch id, before the spool
    * clears. The two appends are independently ledgered, so a crash
    * between them replays as a corpus-side ledger hit that completes
    * only the index side; without this target a streamed corpus
    * leaves its PQ index stale until an operator hand-runs the
    * append. The index must exist (build it once with
    * [[Pq.writePqIndex]]/[[Pq.rotatePq]] over the corpus so far); the
    * stream is then its single maintenance writer too.
    *
    * `pqMaintainAtBoundary` (requires `applyToPqIndex`) is
    * `maintainAtBoundary`'s twin for the index: one
    * [[Pq.pqMaintain]] tick after the boundary's appends land, with
    * the SOURCE CORPUS read back from the layout's current generation
    * (the rotate/recall arms need vectors the index does not store).
    * Same cadence-not-correctness contract as the layout tick below.
    *
    * `maintainAtBoundary` (requires `applyToLayout`) closes the
    * maintenance loop for the steady state: after a boundary's
    * finished epochs land, ONE [[Similarity.ivfMaintain]] runs with
    * the supplied policy under the deterministic id
    * `maintain-<newest applied epoch id>` — fragmentation/skew/ledger
    * growth from continuous ingest is judged and repaired at the same
    * cadence that creates it, no cron or human in the loop. The
    * boundary batch PAYS the maintenance latency (the stream is the
    * layout's single maintenance writer, so this is inherent; at
    * epoch cadence it is rare); a replayed boundary re-enters the
    * policy under the SAME id and no-ops through the sub-protocols'
    * ledgers, while a crash after the spool clear but before the
    * policy skips that tick — the next boundary covers it
    * (maintenance is cadence, not correctness). Deployments probing
    * the layout while the stream runs should set `deferRetire` in the
    * policy so a policy-driven rotation retires superseded
    * generations on a drain window instead of deleting under an
    * in-flight probe.
    */
  def startSpool(
      emb: DataFrame,
      spoolRoot: String,
      epochIdFor: Long => String,
      intervalSeconds: Long = 10,
      checkpointLocation: Option[String] = None,
      applyToLayout: Option[String] = None,
      idCol: String = "vec_id",
      drainOnStop: Boolean = false,
      maintainAtBoundary: Option[Similarity.IvfMaintainPolicy] = None,
      applyToPqIndex: Option[String] = None,
      pqMaintainAtBoundary: Option[Pq.PqMaintainPolicy] = None):
      StreamingQuery = {
    require(!drainOnStop || applyToLayout.isDefined,
      "drainOnStop without applyToLayout has no layout to drain into")
    require(maintainAtBoundary.isEmpty || applyToLayout.isDefined,
      "maintainAtBoundary without applyToLayout has no layout to maintain")
    require(applyToPqIndex.isEmpty || applyToLayout.isDefined,
      "applyToPqIndex without applyToLayout: the PQ index is DERIVED " +
        "from the corpus layout — appending to the index alone would " +
        "desynchronize it from a corpus its epochs never reached")
    require(pqMaintainAtBoundary.isEmpty || applyToPqIndex.isDefined,
      "pqMaintainAtBoundary without applyToPqIndex has no index to " +
        "maintain")
    // fail on the WRONG SCHEMA now, like the epoch-id guard below: a
    // frame missing idCol/'embedding' (e.g. the layout's own at-rest
    // 'vec' name) would spool a full epoch successfully, then crash
    // at the boundary apply — BEFORE clearSpool — and every restart
    // replays the same boundary against the same poisoned spool,
    // wedging ingest until an operator hand-deletes the dir
    require(emb.columns.contains(idCol) &&
        emb.columns.contains("embedding"),
      s"startSpool frame must carry '$idCol' and 'embedding' columns " +
        s"(got ${emb.columns.mkString(", ")}) — the boundary apply " +
        "encodes col(\"embedding\"); a wrong name would wedge the " +
        "stream in a boundary crash loop over a poisoned spool")
    if (checkpointLocation.isEmpty)
      log.warn(
        "startSpool without a checkpointLocation: a restart resets " +
          "batchIds to 0 and epochIdFor will map NEW data onto " +
          "already-ledgered epoch ids, whose rows are then cleared " +
          "UNAPPLIED at the boundary. Pin a stable checkpointLocation " +
          "for anything beyond a throwaway dev run.")
    val writer = emb.writeStream
      .trigger(Trigger.ProcessingTime(intervalSeconds * 1000))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val epochId = epochIdFor(batchId)
        // fail loudly NOW: a '_'/'.'-prefixed id would spool to a dir
        // listSpooledEpochs filters out — never applied, never
        // cleared, silently lost (appendIvfEpoch's own guard only
        // catches ids that REACH it)
        graft.operators.EpochLedger.requireEpochId(epochId)
        applyToLayout.foreach { layout =>
          val finished = listSpooledEpochs(batch.sparkSession, spoolRoot)
            .filterNot(_ == epochId)
          finished.foreach { prev =>
            applySpooledEpoch(batch.sparkSession, spoolRoot, prev,
              layout, idCol, applyToPqIndex)
          }
          // the maintenance tick rides the SAME boundary the applies
          // do: one policy run after the finished epochs land, under a
          // deterministic id derived from the newest of them — a
          // boundary replay (crash between apply and maintain resumes
          // here with the spool still present) re-enters the policy
          // under the SAME id and each sub-protocol no-ops through its
          // ledger. A crash AFTER the spool clear but before the
          // policy skips this tick entirely; the next boundary's tick
          // covers it — maintenance is cadence, not correctness.
          maintainAtBoundary.foreach { policy =>
            if (finished.nonEmpty) {
              val m = Similarity.ivfMaintain(batch.sparkSession, layout,
                s"maintain-${newestEpochId(finished)}", policy)
              if (m.actions.nonEmpty)
                log.info(s"boundary maintain of $layout: " +
                  m.actions.mkString("; "))
            }
          }
          // the index's own tick, after ITS appends landed: the
          // rotate/recall arms read the source corpus back from the
          // layout's current generation (resolved at the tick — a
          // layout rotation between boundaries is transparent). Runs
          // AFTER the layout tick so a layout compaction/rotation this
          // boundary is what the index's recall probe measures against.
          pqMaintainAtBoundary.foreach { policy =>
            if (finished.nonEmpty) applyToPqIndex.foreach { idx =>
              val m = Pq.pqMaintain(batch.sparkSession, idx,
                s"maintain-${newestEpochId(finished)}",
                layoutCorpus(batch.sparkSession, layout, idCol), policy,
                idCol = idCol)
              if (m.actions.nonEmpty)
                log.info(s"boundary pq-maintain of $idx: " +
                  m.actions.mkString("; "))
            }
          }
        }
        StreamingDedup.spoolBatch(batch, s"$spoolRoot/$epochId", batchId)
        ()
      }
    val query = checkpointLocation
      .fold(writer)(cp => writer.option("checkpointLocation", cp))
      .start()
    if (drainOnStop) applyToLayout.foreach { layout =>
      // clean stop only — see the drainOnStop contract above; callers
      // that follow a stop() with more maintenance on the layout must
      // handshake through StreamTermination.awaitDrain
      StreamTermination.onCleanTermination(emb.sparkSession, query,
        s"drainOnStop of $spoolRoot -> $layout", layoutKey = layout) {
        drainSpool(emb.sparkSession, spoolRoot, layout, idCol,
          applyToPqIndex)
        ()
      }
    }
    query
  }

  /** The epoch ids with a spool dir under `spoolRoot` — the boundary
    * detector's listing (one `listStatus`, names only).
    */
  def listSpooledEpochs(
      spark: SparkSession,
      spoolRoot: String): Seq[String] = {
    val f = Dedup.fsFor(spark, spoolRoot)
    val root = new org.apache.hadoop.fs.Path(spoolRoot)
    if (!f.exists(root)) Seq.empty
    else f.listStatus(root)
      .filter(st => st.isDirectory && !st.getPath.getName.startsWith(".") &&
        !st.getPath.getName.startsWith("_"))
      .map(_.getPath.getName).toIndexedSeq.sorted
  }

  /** Apply EVERY spooled epoch to the layout — the stream-STOPPED
    * drain that completes the lifecycle [[startSpool]]'s auto-boundary
    * leaves open (the final epoch has no next batch to trigger its
    * apply). Call after `query.stop()`; already-ledgered or empty
    * spools are no-ops like any boundary retry. Returns the epoch ids
    * applied NOW, in spool-listing order.
    */
  def drainSpool(
      spark: SparkSession,
      spoolRoot: String,
      layoutPath: String,
      idCol: String = "vec_id",
      pqIndexPath: Option[String] = None): Seq[String] =
    listSpooledEpochs(spark, spoolRoot).filter(e =>
      applySpooledEpoch(spark, spoolRoot, e, layoutPath, idCol,
        pqIndexPath))

  /** Epoch-boundary step: append `spoolRoot/<epochId>`'s accumulated
    * rows to the layout under `epochId` (crash-safe, retry-idempotent —
    * [[Similarity.appendIvfEpoch]]), then clear the spool. Returns true
    * when the epoch was applied NOW; false when the spool was empty or
    * the epoch was already ledgered (the crash-between-append-and-clear
    * retry: the layout already holds the rows, only the clear reruns).
    * Heals any crashed epoch/rotation on the layout at entry, so a
    * first-of-session call needs no separate
    * [[Similarity.recoverIvfEpochs]]. Call with the stream STOPPED or
    * after the epoch's last batch — the single-maintenance-writer
    * contract of the append protocol ([[startSpool]]'s `applyToLayout`
    * satisfies it from inside the serialized `foreachBatch`).
    */
  def applySpooledEpoch(
      spark: SparkSession,
      spoolRoot: String,
      epochId: String,
      layoutPath: String,
      idCol: String = "vec_id",
      pqIndexPath: Option[String] = None): Boolean = {
    // an empty spool otherwise skips appendIvfEpoch's own healing —
    // the restart that lost its spool must still resolve torn state
    Similarity.recoverIvfEpochs(spark, layoutPath)
    pqIndexPath.foreach(Similarity.recoverIvfEpochs(spark, _))
    val sp = s"$spoolRoot/$epochId"
    StreamingDedup.readSpool(spark, sp) match {
      case None =>
        // a residue-only dir (a torn spoolBatch tmp with no committed
        // `batch_id=` child) holds NO data this lineage can still
        // need: a checkpoint replay of that batch re-enters under its
        // own epoch id (which the boundary excludes as CURRENT), and a
        // fresh-mapping restart never writes this id again. Clear it —
        // left in place it re-enters the boundary's `finished` list on
        // EVERY subsequent batch, forcing a maintain tick per batch
        // and pinning the tick id forever.
        StreamingDedup.clearSpool(spark, sp)
        false
      case Some(spooled) =>
        // within-epoch duplicate ids collapse HERE, like the dedup
        // twin's digest dedupe before rotation: an at-least-once
        // upstream can redeliver one (id, embedding) row across two
        // DIFFERENT batchIds of the same epoch (spoolBatch's
        // replace-on-replay only collapses same-batchId replays), and
        // an appended duplicate is permanent corpus state — served
        // twice by every probe, encoded twice in the derived index.
        // Arbitrary-winner semantics are correct for redelivery
        // (the rows are identical); two genuinely different vectors
        // under one id violate the corpus id contract either way.
        val novel = spooled.dropDuplicates(idCol)
        val applied =
          Similarity.appendIvfEpoch(novel, layoutPath, epochId, idCol)
        // the derived index's append rides the SAME epoch id on its
        // OWN ledger, after the corpus append and before the clear: a
        // crash between the two replays as a corpus-side ledger hit
        // (applied=false) that still completes the index side, and a
        // crash before the clear ledger-hits both. The rows are
        // encoded with the index's STORED codebook (the appendPqEpoch
        // contract); drift is pqMaintainAtBoundary's observable.
        pqIndexPath.foreach { idx =>
          // one corpus-replay ambiguity to resolve first: an epoch the
          // layout ledgered in an earlier run could be (a) the
          // crash-between-the-two-appends retry — the index still
          // needs it — or (b) the ADOPTION case: the index was built
          // (writePqIndex over the corpus so far) AFTER the epoch
          // landed in the layout, so its rows are already encoded
          // inside the index under a fresh ledger that has no entry
          // for them, and appending would serve every row twice. The
          // cases are distinguishable because epoch ids are never
          // reused and corpus ids are unique: in (a) the index holds
          // NONE of the epoch's ids, in (b) ALL of them — one
          // anti-join count over the index's id column (narrow, and
          // only on the rare corpus-replay path) decides. A PARTIAL
          // overlap fits neither protocol state (an index built from
          // a snapshot missing some of the epoch's rows): appending
          // would double-serve the held rows, skipping would drop the
          // missing ones — refuse loudly, per the ledger-loss valve's
          // refuse-over-guess discipline.
          val needsIndexAppend = applied || {
            val dataRoot = Similarity.ivfDataRoot(spark, idx)
            val novelIds = novel.select(col(idCol)).distinct()
            val total = novelIds.count()
            val missing = novelIds.join(
              spark.read.parquet(dataRoot).select(col(idCol)),
              Seq(idCol), "left_anti").count()
            require(missing == 0L || missing == total,
              s"epoch $epochId holds $total distinct ids but the PQ " +
                s"index at $idx already contains ${total - missing} of " +
                "them — a partial overlap matches neither the " +
                "crash-retry (none present) nor the adoption (all " +
                "present) protocol state. Either the index was built " +
                "from a snapshot missing part of this epoch (rebuild " +
                "it from the layout's current generation — rotatePq/" +
                "writePqIndex over the corpus layout — then retry), or " +
                "the epoch carries ids that already existed in the " +
                "corpus, violating the spool's novel-rows contract " +
                "(those ids double-serve in the corpus layout itself; " +
                "fix the upstream novelty filter)")
            missing == total
          }
          if (needsIndexAppend) Pq.appendPqEpoch(novel, idx, epochId, idCol)
          else if (!EpochLedger.applied(spark, idx, epochId)) {
            // adoption: ledger the epoch on the index WITHOUT appending
            // — otherwise this state is indistinguishable from a crash
            // between the two appends, and a runbook-following operator
            // would hand-run appendPqEpoch and double-serve every row
            Pq.adoptPqEpoch(spark, idx, epochId)
            log.info(s"epoch $epochId already inside $idx (index built " +
              "after the epoch landed in the layout) — ledgered as " +
              "adopted without an append on this corpus-replay retry")
          }
        }
        StreamingDedup.clearSpool(spark, sp)
        applied
    }
  }

  /** The SOURCE corpus read back from the layout's current generation,
    * shaped for the PQ maintenance arms (`idCol` + `embedding`) — the
    * boundary tick's rotate/recall input; resolved per call, so a
    * layout rotation between boundaries is transparent.
    */
  private[streaming] def layoutCorpus(
      spark: SparkSession,
      layoutPath: String,
      idCol: String): DataFrame = {
    val dataRoot = Similarity.ivfDataRoot(spark, layoutPath)
    spark.read.parquet(dataRoot).select(col(idCol), col("vec").as("embedding"))
  }

  /** The newest epoch id of a batch of spool ids — (length, value)
    * ordering, which is NUMERIC order for the unpadded decimal ids
    * `startSpool`'s default `epochIdFor` produces (`"100" > "9"`,
    * where plain string max would pin `"9"` as newest for ninety
    * epochs) and plain lexicographic order for same-length padded
    * schemes.
    */
  private[streaming] def newestEpochId(ids: Seq[String]): String =
    ids.maxBy(id => (id.length, id))
}
