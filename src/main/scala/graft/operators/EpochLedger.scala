package graft.operators

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Crash-safe, idempotent epoch appends for a SINGLE partitioned-parquet
  * layout — the one-layout specialization of the two-layout protocol
  * [[Dedup.rotateEpochBucketed]] runs over the dedup history + banded
  * index pair. The IVF embedding layout ([[Similarity.appendIvfPartitioned]])
  * is the first client: a growing corpus appends an epoch of novel
  * vectors per maintenance cycle, and a crashed or blindly-retried epoch
  * must never half-append or double-append.
  *
  * Protocol (same stages, same invariants as the dedup rotation —
  * reference semantics: the reference engine has no epoch maintenance at
  * all; this is the scale path's own discipline):
  *
  *   1. stage the epoch's files under `path/_rotate/<epochId>/data`
  *      (underscore prefix: invisible to every reader's file index);
  *   2. write `_MANIFEST` via write + rename — the ATOMIC commit point;
  *   3. move staged files into the live partition dirs under
  *      `<epochId>=<staged-name>` names (the FOOTPRINT that makes an
  *      unledgered partial move identifiable on retry; '=' in file
  *      names is inert to partition discovery, which parses dir names);
  *   4. record `epochId` in the `path/_epochs/` ledger, drop the stage.
  *
  * [[recover]] classifies leftovers exactly like the dedup twin: an
  * uncommitted stage is discarded (the layout was never touched), a
  * committed stage is completed (moves skip files already moved), and
  * unledgered `<id>=` footprints in the live layout — the stage-lost
  * partial state — are QUARANTINED under `path/_quarantine/<id>/`,
  * never deleted. The ledger-loss valve is judged BEFORE any mutation:
  * footprints with no `_epochs` dir mean the ledger was lost (an
  * underscore-blind copy/restore is the usual cause), and proceeding
  * would quarantine the whole corpus; the refusal is idempotent.
  *
  * SINGLE MAINTENANCE WRITER, like the dedup rotation: at most one
  * [[commitEpoch]]/[[recover]] may run against a layout at a time. The
  * pre-commit stage-existence check and the completion-time manifest
  * re-check turn a violation into a loud failure instead of a silently
  * empty or partial epoch.
  *
  * Driver cost: renames linear in the epoch's part-file count, one
  * ledger file per epoch (bounded by epoch cadence, not data volume),
  * listing-only sweeps at epoch cadence. Nothing here reads data files.
  */
object EpochLedger {

  /** `epochId` must be a plain path segment: '/' would nest, '.'/'..'
    * would escape `_rotate` and stage straight into the live layout, a
    * leading '.'/'_' would collide with the hidden-file conventions,
    * and '=' is the footprint separator in moved file names (an id
    * containing it would make one epoch's footprint prefix-match
    * another's). Whitespace and control characters are rejected too:
    * '\t' and '\n' are the [[compactLedger]] roll-up file's field and
    * line separators — an id containing either would be ledgered fine
    * as an entry file, then PARSE as a different id after the roll-up,
    * making `applied` false and a blind retry of an already-applied
    * epoch quarantine-and-reapply it. ',' is
    * [[Similarity.layoutStateToken]]'s applied-set join separator —
    * an id containing it would make two different ledgered sets
    * digest to one breaker-fence token (rejecting it here keeps every
    * deployed fence token valid, which re-formatting the join would
    * not).
    */
  private[graft] def requireEpochId(epochId: String): Unit = {
    requirePathSafeId(epochId)
    require(
      !epochId.exists(c => c == ',' || c.isWhitespace || c.isControl),
      s"epochId must carry no ',' and no whitespace/control " +
        s"characters, got '$epochId'")
  }

  /** The STRUCTURAL subset of [[requireEpochId]] — the minimum for the
    * id to be usable as a path segment at all. This is the tier
    * REPLAYS and stage RESUMES are checked against: the
    * whitespace/control/',' rules above were added after layouts
    * shipped, so an already-ledgered id that predates them must keep
    * no-oping on replay and resuming its committed stages (a layout
    * must never wedge on ids it already contains) — only NEW epoch
    * applications are held to the full rule. The roll-up guards itself
    * separately: [[compactLedgerStaged]] leaves entries whose name
    * would corrupt the roll-up's line format as tail files.
    */
  private[graft] def requirePathSafeId(epochId: String): Unit =
    require(
      epochId.nonEmpty &&
        !epochId.exists(c => c == '/' || c == '\\' || c == '=') &&
        epochId != "." && epochId != ".." &&
        !epochId.startsWith(".") && !epochId.startsWith("_"),
      s"epochId must be a plain path segment (no separators, no '=', " +
        s"not '.'/'..', no leading '.'/'_'), got '$epochId'")

  /** Has `epochId` been fully applied to the layout at `path`? An id
    * is ledgered either as its own `_epochs/<id>` entry file (the
    * recent tail) or inside the compacted applied-set file a
    * [[compactLedger]] roll-up produced.
    */
  def applied(spark: SparkSession, path: String, epochId: String): Boolean = {
    val f = Dedup.fsFor(spark, path)
    f.exists(new Path(s"$path/_epochs/$epochId")) ||
      rollupMap(f, path).contains(epochId)
  }

  /** Record `id` in the layout's ledger, tagging WHICH protocol
    * applied it ("epoch" or "rotation") — what lets an id collision
    * across the two protocols fail loudly instead of silently
    * no-oping the requested operation.
    */
  private[operators] def writeLedgerEntry(
      f: FileSystem,
      path: String,
      id: String,
      kind: String): Unit = {
    val ledger = new Path(s"$path/_epochs")
    f.mkdirs(ledger)
    // tmp + rename like every sibling metadata write (commitManifest,
    // the roll-up): a crash mid-create would otherwise leave a
    // truncated entry that still makes `applied` true — an EMPTY tag
    // reads as a legacy pre-tagging entry, silently disarming the
    // cross-protocol id-collision guard the tag exists for. The dst
    // may exist (a committed stage resumed after a crash between the
    // ledger write and the stage delete re-ledgers the same id):
    // delete-then-rename; a crash between the two leaves the tmp AND
    // the still-committed stage, so recovery rewrites the entry.
    val tmp = new Path(ledger, s".$id.tmp")
    val out = f.create(tmp, true)
    try out.write(kind.getBytes(UTF_8)) finally out.close()
    val dst = new Path(ledger, id)
    if (f.exists(dst))
      require(f.delete(dst, false),
        s"epoch-ledger: stale entry delete of $dst failed")
    require(f.rename(tmp, dst),
      s"epoch-ledger: entry rename $tmp -> $dst failed")
  }

  /** Read a (tiny) ledger file fully — the InputStream contract allows
    * short reads, so a single `read(buf)` could hand back a prefix of
    * the kind tag on some FileSystem implementations and trip a
    * spurious kind mismatch. Loops to EOF; entry files are a few bytes.
    */
  private[operators] def readSmallFile(f: FileSystem, p: Path): String = {
    val in = f.open(p)
    try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](256)
      var n = in.read(buf)
      while (n > 0) { out.write(buf, 0, n); n = in.read(buf) }
      new String(out.toByteArray, UTF_8)
    } finally in.close()
  }

  /** The protocol kind that applied `id`, if any — Some("") for
    * entries recorded before kind tagging existed. Consults the entry
    * file first, then the [[compactLedger]] roll-up.
    */
  private[operators] def appliedKind(
      f: FileSystem,
      path: String,
      id: String): Option[String] = {
    val p = new Path(s"$path/_epochs/$id")
    if (f.exists(p)) Some(readSmallFile(f, p))
    else rollupMap(f, path).get(id)
  }

  /** Name of the newest roll-up file under `_epochs/`, if any —
    * `_compacted.<n>` with the largest `n`. Older roll-ups are
    * supersets-in-waiting a crashed [[compactLedger]] left behind;
    * the newest always holds their union.
    */
  private def newestRollup(f: FileSystem, ledger: Path): Option[Path] = {
    if (!f.exists(ledger)) return None
    val rolls = f.listStatus(ledger)
      .map(_.getPath)
      .flatMap { p =>
        val n = p.getName
        if (n.startsWith("_compacted."))
          scala.util.Try(n.stripPrefix("_compacted.").toLong).toOption
            .map(p -> _)
        else None
      }
    if (rolls.isEmpty) None else Some(rolls.maxBy(_._2)._1)
  }

  /** The compacted applied-set: `id -> kind` from the newest
    * `_epochs/_compacted.<n>` roll-up file (empty when none exists).
    */
  private[operators] def rollupMap(
      f: FileSystem,
      path: String): Map[String, String] =
    newestRollup(f, new Path(s"$path/_epochs")) match {
      case None => Map.empty
      case Some(p) =>
        readSmallFile(f, p).split('\n').filter(_.nonEmpty).map { line =>
          val i = line.indexOf('\t')
          if (i < 0) (line, "") else (line.substring(0, i), line.substring(i + 1))
        }.toMap
    }

  /** Every ledgered id of the layout at `path`: the individual entry
    * files (the recent tail) plus the roll-up's applied-set — ONE
    * directory listing plus at most one small-file read.
    */
  private[operators] def ledgeredIds(
      f: FileSystem,
      path: String): Set[String] = {
    val ledger = new Path(s"$path/_epochs")
    val tail: Set[String] =
      if (f.exists(ledger))
        f.listStatus(ledger).map(_.getPath.getName)
          .filter(isVisibleEntry)
          .toSet
      else Set.empty
    tail ++ rollupMap(f, path).keySet
  }

  /** Every ledgered id of the layout at `path` WITH the kind that
    * applied it (Some("") legacy entries read as "") — the roll-up's
    * in-memory map plus ONE small-file read per tail entry. For
    * callers that need kinds for the whole set ([[Dedup]]'s bloom
    * token), cheaper than [[appliedKind]] per id, which would re-read
    * the roll-up file every call.
    */
  private[operators] def ledgeredKinds(
      f: FileSystem,
      path: String): Map[String, String] = {
    val ledger = new Path(s"$path/_epochs")
    val tail: Map[String, String] =
      if (f.exists(ledger))
        f.listStatus(ledger).map(_.getPath)
          .filter(p => isVisibleEntry(p.getName))
          .map(p => p.getName -> readSmallFile(f, p))
          .toMap
      else Map.empty
    rollupMap(f, path) ++ tail
  }

  /** Is a `_epochs` child a VISIBLE entry file (an applied id), as
    * opposed to the rolled applied-set file or a hidden temp? The one
    * definition every tail count, roll-up and recovery listing shares —
    * `requireEpochId` guarantees real ids can never collide with the
    * reserved prefixes.
    */
  private def isVisibleEntry(name: String): Boolean =
    !name.startsWith("_") && !name.startsWith(".")

  /** Roll every individual `_epochs/<id>` entry file into ONE compacted
    * applied-set file (`_epochs/_compacted.<n>`, kind tags preserved),
    * then drop the merged entries — after years of hourly epochs the
    * ledger listing [[recover]] and [[ledgeredIds]] pay stays O(recent
    * tail), not O(every epoch ever applied). Crash-safe by
    * construction: the new roll-up is written to a FRESH name (tmp +
    * atomic rename) BEFORE any old roll-up or entry file is deleted,
    * so every applied id is readable from at least one place at every
    * instant — a crash leaves superset state and a re-run converges.
    * Part of the layout's single-maintenance-writer surface. Returns
    * the number of entry files rolled up.
    */
  def compactLedger(spark: SparkSession, path: String): Int =
    compactLedgerStaged(spark, path, _ => ())

  /** [[compactLedger]] with the crash-injection hook exposed for specs
    * — fired at "rolled" (new roll-up durable, nothing pruned yet) and
    * "prune-file" (before each redundant-copy delete).
    */
  private[operators] def compactLedgerStaged(
      spark: SparkSession,
      path: String,
      failpoint: String => Unit): Int = {
    val f = Dedup.fsFor(spark, path)
    val ledger = new Path(s"$path/_epochs")
    if (!f.exists(ledger)) return 0
    // superseded roll-ups, hidden tmps, and (after a fresh roll-up)
    // the merged entry files are redundant copies — every id stays
    // readable from `keep` at every instant, so a crash anywhere in
    // the prune leaves superset state a re-run converges from
    def prune(keep: Option[String], entryNames: Set[String]): Unit =
      f.listStatus(ledger).map(_.getPath).foreach { p =>
        val n = p.getName
        val stale =
          (n.startsWith("_compacted.") && !keep.contains(n)) ||
            (n.startsWith(".") && n.endsWith(".tmp")) ||
            entryNames(n)
        if (stale) {
          failpoint("prune-file")
          require(f.delete(p, false),
            s"epoch-ledger: roll-up cleanup of $p failed")
        }
      }
    val entries = f.listStatus(ledger).map(_.getPath)
      .filter(p => isVisibleEntry(p.getName))
      // a LEGACY id containing a control char ('\t'/'\n' are the
      // roll-up file's field and line separators) would be ledgered
      // fine as an entry file but PARSE as a different id after the
      // roll-up — `applied` would go false and a blind retry would
      // quarantine-and-reapply an applied epoch. Such entries stay
      // tail FILES forever (requireEpochId stops new ones at commit;
      // plain spaces are format-safe and roll up normally).
      .filter(p => !p.getName.exists(_.isControl))
    if (entries.isEmpty) {
      // nothing to roll, but a CRASHED run's residue may still need
      // the prune phase (stale superseded roll-ups / hidden tmps) —
      // the documented "a re-run converges" contract
      prune(newestRollup(f, ledger).map(_.getName), Set.empty)
      return 0
    }
    val prevN = newestRollup(f, ledger)
      .map(_.getName.stripPrefix("_compacted.").toLong).getOrElse(0L)
    val merged = rollupMap(f, path) ++
      entries.map(p => p.getName -> readSmallFile(f, p))
    val next = new Path(ledger, s"_compacted.${prevN + 1}")
    val tmp = new Path(ledger, s"._compacted.${prevN + 1}.tmp")
    val out = f.create(tmp, true)
    try out.write(merged.toSeq.sorted.map { case (id, k) => s"$id\t$k" }
      .mkString("\n").getBytes(UTF_8))
    finally out.close()
    require(f.rename(tmp, next),
      s"epoch-ledger: roll-up rename $tmp -> $next failed")
    failpoint("rolled")
    prune(Some(next.getName), entries.map(_.getName).toSet)
    entries.length
  }

  /** One `(partition-dir-name, parquet-files, bytes)` row per
    * `partPrefix` dir under `dataRoot` — listing-only. The generic
    * form behind [[Similarity.ivfPartitionStats]] and the history
    * layout's fragmentation observable.
    */
  private[operators] def partitionFileStats(
      f: FileSystem,
      dataRoot: String,
      partPrefix: String): Seq[(String, Int, Long)] = {
    val root = new Path(dataRoot)
    if (!f.exists(root)) return Seq.empty
    val rootEntries = f.listStatus(root)
    val partDirs = rootEntries
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(partPrefix))
    // keyed by the FULL parent path, so a same-named partition dir
    // nested elsewhere in the tree (e.g. under _retired/ on a flat
    // layout root) can never be counted into a live dir; seeded from
    // the root listing so an empty partition still reports n=0
    val acc = scala.collection.mutable.LinkedHashMap.empty[Path, (Int, Long)]
    partDirs.foreach(st => acc(st.getPath) = (0, 0L))
    def tally(it: org.apache.hadoop.fs.RemoteIterator[
        org.apache.hadoop.fs.LocatedFileStatus]): Unit =
      while (it.hasNext) {
        val st = it.next()
        val p = st.getPath
        // only direct children of a seeded partition dir count — same
        // contract as a per-dir listing
        if (p.getName.endsWith(".parquet")) {
          acc.get(p.getParent).foreach { case (n, b) =>
            acc(p.getParent) = (n + 1, b + st.getLen)
          }
        }
      }
    // strategy from the root listing already in hand: a CLEAN root (a
    // published generation dir — the steady state once a rotation or
    // compaction has run, and where partition counts are largest)
    // gets ONE recursive listFiles — a single paged flat LIST on
    // object stores — instead of a listStatus round trip per
    // partition dir (k=4096 × object-store listing latency is minutes
    // of driver time per health read). A root carrying hidden trees
    // (_epochs/_retired/_rotate/… on a flat layout) keeps the per-dir
    // walk: a flat recursive LIST from such a root would enumerate
    // the retired corpus and every staged file just to count live
    // partitions.
    val hiddenTrees = rootEntries.exists(st => st.isDirectory && {
      val n = st.getPath.getName
      (n.startsWith("_") || n.startsWith(".")) && n != "_centroids"
    })
    if (!hiddenTrees) tally(f.listFiles(root, true))
    else partDirs.foreach(st => tally(f.listFiles(st.getPath, false)))
    acc.toIndexedSeq
      .map { case (d, (n, b)) => (d.getName, n, b) }.sortBy(_._1)
  }

  /** Partition-scoped file compaction for ONE partitioned layout — the
    * generic protocol behind [[Similarity.compactIvfPartitions]] and
    * [[Dedup.compactHistoryPartitions]]: rewrite ONLY the
    * `partitionCol=` dirs whose parquet-file count exceeds
    * `maxFilesPerPartition`, in place (no generation bump), through
    * stage → `_MANIFEST` → per-dir idempotent swaps → ledger.
    * Compacted files carry the `<id>=` footprint prefix. The CALLER
    * heals its layout's torn state before invoking (this function
    * assumes a settled layout and a resolved `dataRoot`); recovery of
    * a crashed run happens via the caller's recovery entry
    * dispatching committed stages to [[completePartitionCompaction]].
    * Returns the number of dirs compacted now (0 = replay or nothing
    * over threshold; the nothing-to-do case stays unledgered so the
    * id is reusable). Single maintenance writer, as everywhere.
    */
  private[operators] def compactPartitionsStaged(
      spark: SparkSession,
      path: String,
      dataRoot: String,
      partitionCol: String,
      id: String,
      maxFilesPerPartition: Int,
      maxRecordsPerFile: Long,
      failpoint: String => Unit,
      filesPerPartition: Int = 1,
      // caller-supplied ROW healer applied to the rewrite's rows (after
      // the partition exchange when one task writes each dir, before
      // the salted exchange otherwise) — the IVF caller re-derives the SQ8 columns here so a
      // mixed-schema dir (a restored legacy file beside quantized
      // ones) compacts to uniformly-quantized rows instead of baking
      // the legacy rows' q8 as persisted nulls the quantized probe
      // silently drops. Must be PARTITION-VALUE-preserving (every
      // output row keeps its input partition dir — the protocol swaps
      // target dirs wholesale, so rows that migrate dirs would land in
      // an unswapped dir and double-count); row count need not be
      // preserved — the substring caller legally COLLAPSES each hash's
      // epoch rows into one summed row (its readers sum per hash, so
      // the merge is invisible), the dedup history passes identity.
      heal: org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame = identity,
      // the layout's fixed schema, when it has one: the rewrite reads
      // with it instead of inferring the merged schema (no footer job)
      schema: Option[org.apache.spark.sql.types.StructType] = None): Int = {
    import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
    requireEpochId(id)
    require(maxFilesPerPartition >= 1,
      s"maxFilesPerPartition must be >= 1, got $maxFilesPerPartition")
    require(filesPerPartition >= 1,
      s"filesPerPartition must be >= 1, got $filesPerPartition")
    val f = Dedup.fsFor(spark, path)
    appliedKind(f, path, id) match {
      case Some(k) =>
        requireKindMatches(path, id, k, "partition-compaction")
        return 0
      case None => ()
    }
    val overThreshold = partitionFileStats(f, dataRoot, s"$partitionCol=")
      .filter(_._2 > maxFilesPerPartition)
    // a dir that is EXACTLY one prior compaction's output — every
    // parquet file sharing one '<id>=' footprint prefix — is skipped
    // UNLESS this call's settings could provably shrink it: with
    // maxRecordsPerFile unbounded a rewrite yields AT MOST
    // `filesPerPartition` files (salt-hash collisions and AQE
    // coalescing can produce fewer), so a uniform dir holding strictly
    // MORE than that (a prior run's larger salt) is legally shrinkable
    // and gets re-targeted once. The strict `>` is load-bearing: at
    // equality a rewrite could only churn (same count, full rewrite
    // plus a retired copy per tick) — relaxing it to `>=` reintroduces
    // the loop this guard exists to prevent. Otherwise re-targeting
    // every maintenance tick
    // would loop forever (a full rewrite plus another retired copy per
    // tick, with the count unchanged — the maxRecordsPerFile re-breach
    // pathology). With maxRecordsPerFile > 0 the rewrite's count is
    // row-bound and unknowable from the listing, so a uniform dir
    // stays skipped until NEW files (a different prefix: an epoch
    // append or the initial un-prefixed write) land in it — the
    // documented dormant-dir limitation of record-capped compaction.
    // One listStatus per over-threshold dir, bounded by the
    // fragmented set.
    val targets = overThreshold.filter { case (d, fileCount, _) =>
      val prefixes = f.listStatus(new Path(s"$dataRoot/$d"))
        .map(_.getPath.getName).filter(_.endsWith(".parquet"))
        .map { n =>
          val i = n.indexOf('=')
          if (i < 0) "" else n.take(i)
        }.distinct
      val uniform = prefixes.length == 1 && prefixes.head.nonEmpty
      val shrinkable = maxRecordsPerFile <= 0L && fileCount > filesPerPartition
      !(uniform && !shrinkable)
    }.map(_._1)
    if (targets.isEmpty) return 0
    f.mkdirs(new Path(s"$path/_epochs"))
    val stageRoot = new Path(s"$path/_retrain/$id")
    val stageData = s"$stageRoot/data"
    // ONE job over ONLY the fragmented dirs; basePath keeps the
    // partition column so partitionBy re-creates the same dir names.
    // The hash exchange on the partition key puts each target dir's
    // rows in one task -> one file per dir. `filesPerPartition > 1`
    // adds a row-hash salt to the exchange (the build/rotation knob's
    // twin): a HOT fragmented dir rewrites across that many tasks
    // instead of one — the write-parallelism/tail remedy when a single
    // over-threshold dir is tens of GB — at the cost of that many
    // files per compacted dir (keep it <= maxFilesPerPartition or the
    // dir re-triggers next tick).
    // Without a fixed `schema`, mergeSchema: the rewrite input's schema
    // must be the UNION over the target files, not an arbitrary first
    // footer — a mixed-schema dir (e.g. a restored legacy file beside
    // SQ8-quantized ones) would otherwise nondeterministically DROP the
    // wider columns from every other file in the rewrite. Footer cost
    // is bounded by the fragmented set this call is about to rewrite
    // anyway, but it is one more job.
    val reader = spark.read.option("basePath", dataRoot)
    val src = schema.fold(reader.option("mergeSchema", "true"))(reader.schema)
      .parquet(targets.map(d => s"$dataRoot/$d"): _*)
    // unsalted, the heal runs after the partition exchange, so a heal
    // that aggregates per partition value rides that one exchange; the
    // salt hashes the HEALED row, so a salted rewrite heals first
    val exchanged =
      if (filesPerPartition <= 1) heal(src.repartition(col(partitionCol)))
      else {
        val healed = heal(src)
        healed.repartition(col(partitionCol),
          pmod(xxhash64(healed.columns.map(col).toIndexedSeq: _*),
            lit(filesPerPartition.toLong)))
      }
    val writer = exchanged.write.partitionBy(partitionCol)
    (if (maxRecordsPerFile > 0L)
       writer.option("maxRecordsPerFile", maxRecordsPerFile)
     else writer)
      .parquet(stageData)
    // footprint-prefix the staged files NOW (pre-commit, invisible to
    // readers): the compacted files land in live dirs carrying the
    // compaction id, exactly like epoch-appended files — ledgered
    // history stays evidenced in the layout itself
    targets.foreach { d =>
      val sd = new Path(s"$stageData/$d")
      if (f.exists(sd))
        f.listStatus(sd)
          .filter(_.getPath.getName.endsWith(".parquet"))
          .filterNot(_.getPath.getName.contains('='))
          .foreach { nf =>
            val to = new Path(sd, s"$id=${nf.getPath.getName}")
            require(f.rename(nf.getPath, to),
              s"partition-compaction: stage rename ${nf.getPath} " +
                s"-> $to failed")
          }
    }
    failpoint("staged")
    require(f.exists(new Path(stageData)),
      s"partition-compaction: staging for '$id' vanished before " +
        "commit — a concurrent recover/rotation ran against this " +
        "layout; the protocol requires a single maintenance writer")
    // ENFORCE the heal contract before the commit point (and after the
    // stage-exists check above, so a concurrent-recover race keeps its
    // purpose-built diagnostic instead of a raw listing error): every
    // staged dir must be one of this run's targets. A heal that
    // migrated rows to a different partition value would stage them in
    // a dir the per-dir swap never touches — those rows would be
    // SILENTLY LOST at stage cleanup while the swap replaced the
    // target dirs wholesale. Refusing pre-commit leaves the live
    // layout untouched (the stage is discarded on the next recovery
    // entry).
    val targetSet = targets.toSet
    val foreignStaged = f.listStatus(new Path(stageData))
      .filter(st => st.isDirectory &&
        st.getPath.getName.startsWith(s"$partitionCol="))
      .map(_.getPath.getName).filterNot(targetSet)
    require(foreignStaged.isEmpty,
      s"partition-compaction: the heal function migrated rows into " +
        s"${foreignStaged.length} partition dir(s) outside this run's " +
        s"targets (${foreignStaged.take(3).mkString(", ")}) — the " +
        "per-dir swap would lose them; heal must be " +
        "partition-value-preserving")
    val oldRel =
      if (dataRoot == path) "." else dataRoot.substring(path.length + 1)
    commitManifest(f, stageRoot,
      // dirs2 is TAB-joined: Spark's partition-path escaping leaves
      // ',' raw in dir names (a string partition value containing a
      // comma is a legal dir) but escapes control chars, so '\t' is
      // the one separator a dir name can never contain. The legacy
      // comma-joined `dirs` key is still read (an in-flight committed
      // stage from before the upgrade must resume correctly).
      s"kind:partition-compaction\nroot:$oldRel" +
        s"\ndirs2:${targets.mkString("\t")}",
      "partition-compaction")
    failpoint("committed")
    completePartitionCompaction(f, stageRoot, path, id, failpoint)
    targets.size
  }

  /** Finish a COMMITTED partition-scoped compaction from the stage's
    * own manifest — every per-dir swap idempotent under resume: a dir
    * whose staged replacement is gone was already swapped in; a live
    * dir already absent was already retired (the crash hit between its
    * two renames — only the move-in remains). Runs after the commit
    * point, so the layout's recovery entry can complete it from any
    * crash.
    */
  private[operators] def completePartitionCompaction(
      f: FileSystem,
      stageRoot: Path,
      path: String,
      id: String,
      failpoint: String => Unit): Unit = {
    val mf = readManifest(f, new Path(stageRoot, "_MANIFEST"))
    require(mf.get("kind").contains("partition-compaction") &&
        mf.contains("root") &&
        (mf.contains("dirs2") || mf.contains("dirs")),
      s"partition-compaction: stage $stageRoot carries a foreign " +
        "manifest — refusing to resume it")
    val dataRoot =
      if (mf("root") == ".") path else s"$path/${mf("root")}"
    val retireBase = new Path(s"$path/_retired/$id.compact")
    val targetDirs = mf.get("dirs2").map(_.split('\t'))
      .getOrElse(mf("dirs").split(','))
    targetDirs.filter(_.nonEmpty).foreach { d =>
      val stageDir = new Path(s"$stageRoot/data/$d")
      val liveDir = new Path(s"$dataRoot/$d")
      if (f.exists(stageDir)) {
        if (f.exists(liveDir)) {
          f.mkdirs(retireBase)
          // uniquify defensively (matches retireQuarantine's `.n`
          // convention) — unreachable under the single-writer contract
          var dst = new Path(retireBase, d)
          var n = 1
          while (f.exists(dst)) {
            n += 1; dst = new Path(retireBase, s"$d.$n")
          }
          failpoint("swap-retire")
          require(f.rename(liveDir, dst),
            s"partition-compaction: retire $liveDir -> $dst failed")
        }
        failpoint("swap-in")
        require(f.rename(stageDir, liveDir),
          s"partition-compaction: swap-in $stageDir -> $liveDir failed")
      }
    }
    failpoint("swapped")
    // commit-point verification, same as the sibling protocols
    require(f.exists(new Path(stageRoot, "_MANIFEST")),
      s"partition-compaction: stage $stageRoot vanished " +
        "mid-completion — a concurrent recover/rotation ran against " +
        "this layout; the protocol requires a single maintenance writer")
    writeLedgerEntry(f, path, id, "partition-compaction")
    Dedup.retireQuarantine(f, path, id)
    require(f.delete(stageRoot, true),
      s"partition-compaction: cleanup of $stageRoot failed")
  }

  /** Resolve any crashed protocol on the partitioned layout at `path`
    * (IVF and PQ: `centroid_id=`; the substring index: `wh_bucket=`):
    * the `_retrain` stages first ([[recoverRetrainStages]]), then the
    * epoch recovery ([[recover]]) against the data root resolved AFTER
    * them, which a resumed publish may have just switched. Every
    * mutating layout operation heals through it. Single maintenance
    * writer.
    */
  def recoverLayout(
      spark: SparkSession,
      path: String,
      partPrefix: String): Unit = {
    recoverRetrainStages(spark, path, partPrefix)
    recover(spark, path, partPrefix,
      dataRoot = Some(Similarity.ivfDataRoot(Dedup.fsFor(spark, path), path)))
  }

  /** Resolve the `_retrain` stages of the layout at `path` — generation
    * publishes ([[Similarity.stageGeneration]]) and partition
    * compactions ([[compactPartitionsStaged]]). Uncommitted stages are
    * discarded (the live layout was never touched), already-LEDGERED
    * ones are torn down only (the crash hit the final cleanup), and
    * committed un-ledgered ones are completed by their own manifest
    * ([[retrainResumeRefusal]] refuses a foreign one) — but only past
    * the ledger-loss valve ([[requireLedger]]), whose evidence here also
    * counts a legacy stage's `_RETIRED` marker (its retire phase moved
    * the footprints aside; the marker proves the same history).
    */
  private[operators] def recoverRetrainStages(
      spark: SparkSession,
      path: String,
      partPrefix: String): Unit = {
    val f = Dedup.fsFor(spark, path)
    val retrainRoot = new Path(s"$path/_retrain")
    if (!f.exists(retrainRoot)) return
    f.listStatus(retrainRoot).foreach { st =>
      val id = st.getPath.getName
      val manifest = new Path(st.getPath, "_MANIFEST")
      if (applied(spark, path, id) || !f.exists(manifest))
        require(f.delete(st.getPath, true),
          s"epoch-ledger: cleanup of stage ${st.getPath} failed")
      else {
        requireLedger(f, path,
          hasFootprints(f, Similarity.ivfDataRoot(f, path), partPrefix) ||
            f.exists(new Path(st.getPath, "_RETIRED")) ||
            f.exists(new Path(s"$path/_current")))
        val mf = readManifest(f, manifest)
        retrainResumeRefusal(mf, partPrefix).foreach(reason =>
          sys.error(s"epoch-ledger: committed stage '$id' under " +
            s"$path/_retrain $reason — refusing to resume or discard " +
            "it; remove it by hand"))
        if (mf.get("kind").contains("partition-compaction"))
          completePartitionCompaction(f, st.getPath, path, id, _ => ())
        else Similarity.completeIvfGeneration(f, st.getPath, path, id, _ => ())
      }
    }
  }

  /** The partition prefix a generation-publish manifest was staged for.
    * Manifests from before the `part:` key are IVF/PQ rotations by
    * construction.
    */
  private[operators] def stagePart(mf: Map[String, String]): String =
    mf.getOrElse("part", "centroid_id=")

  /** Why a committed `_retrain` stage (manifest `mf`) cannot be resumed
    * on a `partPrefix` layout, if any — the ONE judgment
    * [[recoverRetrainStages]] enforces and [[fsck]] reports. A
    * partition compaction resumes through its per-dir swaps; any other
    * stage resumes through the generation publish only when it was
    * staged for this layout's own prefix — a stage copied in from
    * another layout kind would otherwise publish foreign data as this
    * layout's generation.
    */
  private[operators] def retrainResumeRefusal(
      mf: Map[String, String],
      partPrefix: String): Option[String] =
    if (mf.get("kind").contains("partition-compaction") ||
        stagePart(mf) == partPrefix) None
    else Some(s"carries a foreign '${mf.getOrElse("kind", "")}' manifest")

  /** Partition-scoped compaction of the CURRENT generation's
    * over-threshold `partitionCol=` dirs ([[compactPartitionsStaged]])
    * after healing the layout ([[recoverLayout]]); `heal(dataRoot)` is
    * the kind's row healer for the rewrite, `schema` its fixed schema
    * (None: the merged schema is inferred).
    */
  private[operators] def compactLayoutPartitions(
      spark: SparkSession,
      path: String,
      partitionCol: String,
      id: String,
      maxFilesPerPartition: Int,
      maxRecordsPerFile: Long,
      failpoint: String => Unit,
      filesPerPartition: Int,
      heal: String => org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame,
      schema: Option[org.apache.spark.sql.types.StructType] = None): Int = {
    recoverLayout(spark, path, s"$partitionCol=")
    val dataRoot = Similarity.ivfDataRoot(Dedup.fsFor(spark, path), path)
    compactPartitionsStaged(spark, path,
      dataRoot = dataRoot,
      partitionCol = partitionCol, id = id,
      maxFilesPerPartition = maxFilesPerPartition,
      maxRecordsPerFile = maxRecordsPerFile, failpoint = failpoint,
      filesPerPartition = filesPerPartition, heal = heal(dataRoot),
      schema = schema)
  }

  /** READ-ONLY diagnosis of a partitioned layout: generation-pointer
    * integrity ([[Similarity.pointerFindings]]), the `sidecar` every
    * reader routes through (`<sidecar>-missing`, fatal, with
    * `missingDetail`, when partition dirs exist without it), the kind's
    * own `extras` over the resolved data root and its `partPrefix`
    * dirs, and [[fsck]]'s generic protocol checks — after the sidecar
    * and extras, or before them with `genericFirst` (the order each
    * kind's doctor has always printed). Mutates NOTHING. Empty result
    * = clean.
    */
  private[operators] def layoutFsck(
      spark: SparkSession,
      path: String,
      partPrefix: String,
      sidecar: String,
      missingDetail: String,
      genericFirst: Boolean = false)(
      extras: (FileSystem, String, Seq[FileStatus]) => Seq[FsckFinding])
      : Seq[FsckFinding] = {
    val f = Dedup.fsFor(spark, path)
    val pointer = Similarity.pointerFindings(f, path)
    val dataRoot = Similarity.ivfDataRoot(f, path)
    val dataRootP = new Path(dataRoot)
    val partDirs =
      if (!f.exists(dataRootP)) Seq.empty
      else f.listStatus(dataRootP).toSeq.filter(st => st.isDirectory &&
        st.getPath.getName.startsWith(partPrefix))
    val sidecarP = s"$dataRoot/$sidecar"
    val missing =
      if (partDirs.nonEmpty && !f.exists(new Path(sidecarP)))
        Seq(FsckFinding(s"${sidecar.stripPrefix("_")}-missing", "fatal",
          sidecarP, missingDetail))
      else Seq.empty
    val generic = fsck(spark, path, partPrefix, Some(dataRoot))
    val own = missing ++ extras(f, dataRoot, partDirs)
    pointer ++ (if (genericFirst) generic ++ own else own ++ generic)
  }

  /** The entry every maintain policy shares, after the kind's own knob
    * checks: the id and threshold checks (judged BEFORE any work, so a
    * bad knob never aborts a tick after recovery ran), then
    * heal-at-entry — `heal` is the layout's own recovery entry
    * ([[recoverLayout]] for a partitioned layout, the pair recovery for
    * the dedup history, whose `_rotate` stages are not epochs): the
    * policy is the cron'd one-call, so a torn epoch, rotation or
    * compaction must resolve even when every threshold then reads
    * healthy (the sub-operations heal again at their own entries;
    * recovery is idempotent).
    */
  private[operators] def beginMaintain(
      id: String,
      maxFilesPerPartition: Int,
      ledgerTailMax: Int,
      filesPerPartition: Int)(
      heal: => Unit): Unit = {
    requireEpochId(id)
    require(maxFilesPerPartition >= 1 && ledgerTailMax >= 1,
      s"thresholds out of range: maxFilesPerPartition=" +
        s"$maxFilesPerPartition ledgerTailMax=$ledgerTailMax")
    // a salt above the file-count threshold would make every tick
    // re-detect its own compaction output as fragmented: an endless
    // rewrite-and-retire loop at maintenance cadence. A one-shot
    // compaction may choose that trade consciously; the cron'd policy
    // must not.
    require(filesPerPartition >= 1 &&
        filesPerPartition <= maxFilesPerPartition,
      s"filesPerPartition=$filesPerPartition must be in " +
        s"[1, maxFilesPerPartition=$maxFilesPerPartition] — above the " +
        "threshold the policy would re-compact its own output forever")
    heal
  }

  /** The arms every maintain policy ends with, independent of its
    * layout arms: a `_epochs` entry tail past `ledgerTailMax` →
    * [[compactLedger]], and retired dirs older than an EXPLICIT
    * `purgeRetiredOlderThanMs` → `purge` (the only deleting arm: the
    * layout's [[purgeRetiredOlderThan]], or the dedup pair's two-root
    * sweep). Returns the ledger tail judged and the actions run.
    */
  private[operators] def maintainLedger(
      spark: SparkSession,
      path: String,
      ledgerTailMax: Int,
      purgeRetiredOlderThanMs: Option[Long])(
      purge: Long => Seq[String]): (Int, Seq[String]) = {
    val actions = scala.collection.mutable.ArrayBuffer.empty[String]
    val tail = ledgerTail(Dedup.fsFor(spark, path), path)
    if (tail > ledgerTailMax) {
      val rolled = compactLedger(spark, path)
      actions += s"compact-ledger(tail=$tail>$ledgerTailMax, " +
        s"rolled=$rolled)"
    }
    purgeRetiredOlderThanMs.foreach { window =>
      val purged = purge(window)
      if (purged.nonEmpty)
        actions += s"purge-retired(olderThanMs=$window, " +
          s"purged=${purged.size})"
    }
    (tail, actions.toSeq)
  }

  /** The number of VISIBLE entry files in `path/_epochs` (the rolled
    * applied-set file and hidden temps excluded) — the "ledger tail"
    * observable both maintain policies judge against their
    * `ledgerTailMax`, kept here so the visible-entry convention lives
    * in one place.
    */
  private[operators] def ledgerTail(
      f: FileSystem,
      path: String): Int = {
    val p = new Path(s"$path/_epochs")
    if (!f.exists(p)) 0
    else f.listStatus(p).map(_.getPath.getName).count(isVisibleEntry)
  }

  /** Refuse to treat an id applied by ONE protocol (its ledgered kind
    * `k`, from [[appliedKind]]) as a replay of the OTHER: a shared
    * date-style id would otherwise make the second operation a silent
    * no-op (a rotation that never re-trains, or an epoch whose spooled
    * rows are cleared unapplied). Pre-tagging (empty) entries are
    * accepted as matching — their kind is unknown. Callers take the
    * kind from the same [[appliedKind]] lookup that decides the replay,
    * so a replay check reads the roll-up file once.
    */
  private[operators] def requireKindMatches(
      path: String,
      id: String,
      k: String,
      kind: String): Unit =
    require(k.isEmpty || k == kind,
      s"epoch-ledger: id '$id' on $path was applied by the '$k' " +
        s"protocol; refusing to treat it as a '$kind' replay — epoch " +
        "appends and rotations must not share ids on one layout")

  /** Write `stageRoot/_MANIFEST` ATOMICALLY (write to a dot-hidden tmp,
    * then rename) — the commit point every staged protocol in this
    * repo shares (epoch append, IVF rotation, dedup rotation). The
    * content is informational for recovery (the dedup rotation records
    * its index path there); atomicity is what matters.
    */
  private[operators] def commitManifest(
      f: FileSystem,
      stageRoot: Path,
      content: String,
      what: String): Unit = {
    val tmp = new Path(stageRoot, "._MANIFEST.tmp")
    val out = f.create(tmp, true)
    try out.write(content.getBytes(UTF_8)) finally out.close()
    require(f.rename(tmp, new Path(stageRoot, "_MANIFEST")),
      s"$what: manifest rename failed for $stageRoot")
  }

  /** Parse a staged-generation `_MANIFEST` into its `key:value` lines
    * (`gen`, `old`, `kind`). Legacy manifests (pre-generation rotation
    * stages, whose content was a bare path) yield a map without a
    * `gen` key — the completion path refuses those loudly.
    */
  private[operators] def readManifest(
      f: FileSystem,
      p: Path): Map[String, String] =
    readSmallFile(f, p).split('\n').flatMap { line =>
      val i = line.indexOf(':')
      if (i > 0) Some(line.substring(0, i) -> line.substring(i + 1))
      else None
    }.toMap

  /** The epoch footprint id of a live-layout file NAME — the ONE
    * definition recovery and the fsck doctors share, so a doctor can
    * never report a different torn set than recovery acts on. A
    * leading '.' marks hidden temps/checksums: with
    * `allowLeadingDot = false` (the single-layout protocol) they
    * resolve to None and follow their visible sibling; with `true`
    * (the dedup index side) ONE leading dot is stripped — the
    * cross-FS in-flight copy temp — while deeper-hidden names
    * ('..foo', checksum '.crc' siblings resolving to dotted ids)
    * still reject.
    */
  private[operators] def footprintId(
      name: String,
      allowLeadingDot: Boolean = false): Option[String] = {
    val n =
      if (allowLeadingDot && name.startsWith(".")) name.drop(1) else name
    val i = n.indexOf('=')
    if (i > 0 && !n.startsWith(".") && !n.startsWith("_"))
      Some(n.substring(0, i))
    else None
  }

  /** Any live `<id>=` footprint file under the layout's `partPrefix`
    * partition dirs? The listing the ledger-loss valve judges — shared
    * with the rotation recovery, which must refuse completion over a
    * footprinted layout whose ledger is gone (completing would forge a
    * fresh ledger holding only its own id, dooming every other epoch's
    * files to quarantine at the next sweep).
    */
  private[operators] def hasFootprints(
      f: FileSystem,
      path: String,
      partPrefix: String): Boolean = {
    val root = new Path(path)
    f.exists(root) && f.listStatus(root)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(partPrefix))
      .exists(pd => f.listStatus(pd.getPath)
        .exists(nf => footprintId(nf.getPath.getName).isDefined))
  }

  /** Run one epoch through the protocol. `stageWrite` receives the
    * staging dir and must write the epoch's rows there as a parquet
    * tree partitioned by a `partPrefix`-named column (e.g.
    * `"centroid_id="`). Returns true when the epoch was applied now,
    * false when `epochId` was already ledgered (a replay: the layout
    * is left untouched). `failpoint` is the crash-injection hook for
    * specs — invoked at "staged", "committed", "move-file" (before
    * every individual rename) and "moved".
    *
    * `dataRoot` is where the live partition dirs live — `path` itself
    * for a flat layout, `path/gen-<N>` for a generational one
    * ([[Similarity.rotateIvf]]'s pointer-published layout). All
    * protocol metadata (`_epochs`, `_rotate`, `_quarantine`,
    * `_retired`) stays at `path`, so the ledger survives rotations.
    */
  private[operators] def commitEpoch(
      spark: SparkSession,
      path: String,
      epochId: String,
      partPrefix: String,
      stageWrite: String => Unit,
      failpoint: String => Unit = _ => (),
      dataRoot: Option[String] = None): Boolean = {
    // structural tier only, so a replay of a legacy id (ledgered
    // before the whitespace/control/',' rules existed) can reach the
    // no-op below instead of crashing; the full rule gates NEW
    // applications after the ledger miss
    requirePathSafeId(epochId)
    val dr = dataRoot.getOrElse(path)
    // heals any torn prior epoch AND quarantines this epoch's own
    // unledgered footprints (the stage-lost partial-move state), so a
    // same-epochId retry re-applies cleanly whatever state the crash
    // left behind
    recover(spark, path, partPrefix, dataRoot)
    val f = Dedup.fsFor(spark, path)
    // ONE ledger lookup decides replay AND kind — a ledger hit is
    // only a REPLAY when the same protocol applied it; an id a
    // rotation ledgered must fail loudly instead
    appliedKind(f, path, epochId) match {
      case Some(k) =>
        requireKindMatches(path, epochId, k, "epoch")
        return false
      case None =>
        // a NEW application: hold it to the full id rule (legacy ids
        // already in the ledger took the replay return above)
        requireEpochId(epochId)
    }
    // the ledger dir exists before any data can move — recovery treats
    // "footprints but no ledger dir" as ledger loss and refuses
    f.mkdirs(new Path(s"$path/_epochs"))
    val stageRoot = new Path(s"$path/_rotate/$epochId")
    stageWrite(s"$stageRoot/data")
    failpoint("staged")
    // single-writer check before committing: a concurrent recover()
    // (contract violation) would have discarded the uncommitted stage;
    // committing an empty stage would ledger the epoch with zero rows,
    // permanently. This only NARROWS the window — the guarantee comes
    // from complete()'s manifest re-check at the ledger write.
    require(f.exists(new Path(s"$stageRoot/data")),
      s"epoch-ledger: staging for epoch '$epochId' vanished before " +
        "commit — a concurrent recover/commit ran against this layout; " +
        "the protocol requires a single maintenance writer")
    // kind:epoch marks the stage as this protocol's own — recovery
    // refuses to resume a foreign-kind manifest under _rotate (legacy
    // epoch manifests, whose content was a bare informational path,
    // read as kind-absent and still resume)
    commitManifest(f, stageRoot, s"kind:epoch\npath:$path", "epoch-ledger")
    failpoint("committed")
    complete(f, stageRoot, path, epochId, partPrefix, failpoint, dr)
    true
  }

  /** Finish a COMMITTED epoch: move staged files into the live
    * partition dirs (idempotent — files a previous attempt moved are
    * simply absent from the stage), ledger, retire any superseded
    * quarantine, drop the stage.
    */
  private def complete(
      f: FileSystem,
      stageRoot: Path,
      path: String,
      epochId: String,
      partPrefix: String,
      failpoint: String => Unit,
      dataRoot: String): Unit = {
    val dataStage = new Path(stageRoot, "data")
    if (f.exists(dataStage))
      f.listStatus(dataStage)
        .filter(_.getPath.getName.startsWith(partPrefix)).foreach { pd =>
          val dst = new Path(dataRoot, pd.getPath.getName)
          f.mkdirs(dst) // idempotent; the move target must exist
          f.listStatus(pd.getPath)
            .filter(_.getPath.getName.endsWith(".parquet")).foreach { nf =>
              failpoint("move-file")
              val to = new Path(dst, s"$epochId=${nf.getPath.getName}")
              require(f.rename(nf.getPath, to),
                s"epoch-ledger: rename ${nf.getPath} -> $to failed")
            }
        }
    failpoint("moved")
    // commit-point verification: the manifest lives until the stage is
    // reclaimed below, so its absence here means a concurrent recover
    // deleted the stage mid-completion. Fail loudly — ledgering now
    // would record the epoch as applied with whatever subset of rows
    // happened to move. Every moved file carries the footprint, so a
    // same-epochId retry quarantines the partial append and re-applies.
    require(f.exists(new Path(stageRoot, "_MANIFEST")),
      s"epoch-ledger: stage $stageRoot vanished mid-completion — a " +
        "concurrent recover/commit ran against this layout; the " +
        "protocol requires a single maintenance writer")
    writeLedgerEntry(f, path, epochId, "epoch")
    // same supersede semantics as the dedup rotation: a completed
    // re-application RETIRES (never deletes) the torn attempt's
    // quarantine — see Dedup.retireQuarantine
    Dedup.retireQuarantine(f, path, epochId)
    require(f.delete(stageRoot, true),
      s"epoch-ledger: cleanup of $stageRoot failed")
  }

  /** Resolve any crashed [[commitEpoch]] on the layout at `path`:
    * discard uncommitted stages, complete committed ones, QUARANTINE
    * unledgered `<id>=` footprints (residue of an epoch that lost its
    * stage after a partial move) under `path/_quarantine/<id>/` —
    * moves, never deletes. The ledger-loss valve is judged before any
    * mutation and the refusal is idempotent. Part of the layout's
    * single-maintenance-writer surface: never run concurrently with a
    * commit on the same layout.
    */
  def recover(
      spark: SparkSession,
      path: String,
      partPrefix: String,
      dataRoot: Option[String] = None): Unit = {
    val f = Dedup.fsFor(spark, path)
    val dr = dataRoot.getOrElse(path)
    val t = triage(f, path, partPrefix, dr)
    val stages = t.rotateStages
    val torn = t.torn
    val residue = t.residue
    // the ledger-loss valve, judged BEFORE any mutation (completing a
    // committed stage would re-create _epochs with only its own entry,
    // after which a later sweep would quarantine every OTHER epoch).
    // Footprints imply footprint-era code, which creates _epochs at
    // stage time — absence can only mean external deletion. ANY
    // footprint counts, torn or pending-committed: with the ledger
    // gone, even completing a committed stage over its own partial
    // moves would forge an almost-empty ledger. A published `_current`
    // generation pointer is footprint-equivalent evidence: a rotated
    // layout carries NO footprints (it's a fresh rebuild) yet its
    // ledger still fences every previously-applied epoch id from
    // double-appending — losing it must refuse just the same.
    // An EMPTY-but-present _epochs dir deliberately does NOT trip the
    // valve: it is indistinguishable from the legitimate first-epoch
    // stage-lost state (ledger dir created at stage time, no epoch
    // ever ledgered, one torn epoch's partials awaiting quarantine —
    // the documented contract). The realistic loss mode is an
    // underscore-blind copy dropping the DIR (its name is itself
    // underscore-hidden, so a tool that skips '_' files skips the
    // whole dir), which this check catches.
    requireLedger(f, path,
      residue.nonEmpty || f.exists(new Path(s"$path/_current")))
    stages.foreach { case (name, committed) =>
      val stage = new Path(s"$path/_rotate/$name")
      if (!committed)
        require(f.delete(stage, true),
          s"epoch-ledger: cleanup of $stage failed")
      else {
        // resume ONLY a stage that is provably this protocol's, like
        // the two sibling completers (completePartitionCompaction /
        // completeIvfGeneration refuse foreign manifests). A stage
        // name that is not a valid epoch id would move files whose
        // '<name>=' footprints footprintId rejects — invisible to
        // every later recovery/fsck sweep, permanently outside the
        // protocol's accounting; a foreign-kind manifest under
        // _rotate belongs to another protocol's jurisdiction. Refuse
        // loudly either way (never silently discard a committed
        // stage). ONE judgment ([[epochResumeRefusal]]) shared with
        // the fsck doctor's report.
        epochResumeRefusal(f, path, name).foreach(reason =>
          sys.error(s"epoch-ledger: committed stage '$name' under " +
            s"$path/_rotate $reason — refusing to resume or discard " +
            "it; remove it by hand"))
        complete(f, stage, path, name, partPrefix, _ => (), dr)
      }
    }
    torn.foreach { case (id, file, pdName) =>
      val d = new Path(s"$path/_quarantine/$id/$pdName")
      f.mkdirs(d)
      require(f.rename(file, new Path(d, file.getName)),
        s"epoch-ledger: quarantine of $file -> $d failed")
    }
  }

  /** The ledger-loss valve every recovery sweep judges BEFORE any
    * mutation: `evidence` of ledgered history (`<id>=` footprints, a
    * published `_current` pointer — a rotated layout carries no
    * footprints at all) with no `_epochs` dir means the ledger was lost,
    * and completing anything would re-create it holding at most the id
    * being completed — every other applied epoch would then be
    * quarantined or double-appended. The refusal is idempotent.
    */
  private def requireLedger(
      f: FileSystem,
      path: String,
      evidence: Boolean): Unit =
    require(!evidence || f.exists(new Path(s"$path/_epochs")),
      s"epoch-ledger: the layout under $path carries ledgered history " +
        "('<id>=' footprint files, a retire marker, or a published " +
        "generation pointer) but the _epochs ledger dir is missing — it " +
        "was lost (an underscore-blind copy/restore is the usual cause). " +
        "Restore it: it travels WITH the layout. If it is unrecoverable, " +
        "reconstruct an entry file per epoch known to be applied before " +
        "re-running — an EMPTY ledger would send every applied epoch's " +
        "data to quarantine. (Foreign '='-named files are also possible; " +
        "that namespace is reserved for the protocol.) Refusing to touch " +
        "the corpus.")

  /** Why a COMMITTED `_rotate` stage cannot be resumed as an epoch,
    * if any — the ONE judgment [[recover]] enforces and [[fsck]]
    * reports, so the doctor can never call resumable what recovery
    * refuses.
    */
  private[operators] def epochResumeRefusal(
      f: FileSystem,
      path: String,
      name: String): Option[String] =
    // structural tier only: a committed stage whose id predates the
    // whitespace/control/',' rules must RESUME, not wedge behind a
    // "remove it by hand" refusal — the rules gate new ids at
    // commitEpoch, not ids the layout already committed
    (try { requirePathSafeId(name); None }
     catch {
       case e: IllegalArgumentException =>
         Some(s"is not a valid epoch stage (${e.getMessage})")
     }).orElse {
      val mf = readManifest(f, new Path(s"$path/_rotate/$name/_MANIFEST"))
      if (mf.get("kind").forall(_ == "epoch")) None
      else Some(s"carries a foreign '${mf.getOrElse("kind", "")}' manifest")
    }

  /** The recovery sweep's raw evidence, classified ONCE — [[recover]]
    * acts on a [[LedgerTriage]], [[fsck]] reports the same one, so
    * the doctor's torn set and the recovery's quarantine set are
    * identical by construction. Listing-only.
    *
    * `residue` rows are `(footprintId, file, partitionDirName)`;
    * `rotateStages`/`retrainStages` rows are `(name, committed)`.
    * Ledger membership comes from ONE listing (plus the roll-up's
    * applied-set) — in a mature layout every post-epoch-0 file
    * carries a footprint, so per-file exists() would be
    * O(corpus files) round-trips. A committed `_retrain` stage
    * (rotation / partition compaction —
    * [[recoverRetrainStages]]'s jurisdiction) fences its id
    * exactly like a `_rotate` one: a mid-swap partition compaction
    * leaves its footprinted files in live dirs before its ledger
    * entry lands, and the torn sweep must not quarantine them out
    * from under the resumable stage.
    */
  private[operators] final case class LedgerTriage(
      residue: Seq[(String, Path, String)],
      ledgerDirExists: Boolean,
      ledgered: Set[String],
      rotateStages: Seq[(String, Boolean)],
      retrainStages: Seq[(String, Boolean)]) {
    def pendingCommitted: Set[String] =
      (rotateStages ++ retrainStages).collect { case (n, true) => n }.toSet
    def torn: Seq[(String, Path, String)] =
      residue.filterNot { case (id, _, _) =>
        ledgered(id) || pendingCommitted(id) }
  }

  private[operators] def triage(
      f: FileSystem,
      path: String,
      partPrefix: String,
      dataRoot: String): LedgerTriage = {
    val residue = scala.collection.mutable.ArrayBuffer
      .empty[(String, Path, String)]
    val root = new Path(dataRoot)
    if (f.exists(root))
      f.listStatus(root)
        .filter(st => st.isDirectory &&
          st.getPath.getName.startsWith(partPrefix)).foreach { pd =>
          f.listStatus(pd.getPath).foreach { nf =>
            footprintId(nf.getPath.getName).foreach(id =>
              residue += ((id, nf.getPath, pd.getPath.getName)))
          }
        }
    val ledgerDirExists = f.exists(new Path(s"$path/_epochs"))
    def stagesUnder(sub: String): Seq[(String, Boolean)] = {
      val r = new Path(s"$path/$sub")
      if (!f.exists(r)) Seq.empty
      else f.listStatus(r).toSeq.map(st => (st.getPath.getName,
        f.exists(new Path(st.getPath, "_MANIFEST"))))
    }
    LedgerTriage(
      residue = residue.toSeq,
      ledgerDirExists = ledgerDirExists,
      ledgered = if (ledgerDirExists) ledgeredIds(f, path) else Set.empty,
      rotateStages = stagesUnder("_rotate"),
      retrainStages = stagesUnder("_retrain"))
  }

  /** One `(epochId, files, bytes)` row per quarantined torn epoch under
    * `path/_quarantine/` — the single-layout twin of
    * [[Dedup.listQuarantined]]. Listing-only: never reads data files.
    * A quarantine is retired automatically only when the SAME epochId
    * later completes; torn data re-ingested under a fresh id leaves the
    * old id's quarantine behind — monitor here and purge ids that were
    * re-ingested or deliberately abandoned.
    */
  def listQuarantined(
      spark: SparkSession,
      path: String): Seq[(String, Long, Long)] =
    Dedup.scanHiddenRoot(Dedup.fsFor(spark, path), path, "_quarantine")
      .sortBy(_._1)

  /** One read-only diagnosis finding from [[fsck]]. `severity` is
    * `fatal` (a refuse-to-operate condition — the ledger-loss valve),
    * `warn` (recovery has pending work: a torn protocol to resume,
    * residue to discard, footprints to quarantine), or `info` (bytes
    * awaiting an operator decision: quarantined/retired dirs).
    */
  final case class FsckFinding(
      code: String,
      severity: String,
      subject: String,
      detail: String)

  /** READ-ONLY layout diagnosis: every condition [[recover]] would act
    * on, REPORTED instead of repaired — the safe first command of an
    * incident runbook (recovery mutates under the single-writer
    * contract; fsck can run against a layout someone else owns).
    * Listing-only, never reads data files; same cost shape as the
    * recovery sweep it mirrors. An empty result means a clean layout:
    * recovery at next entry would be a no-op.
    */
  def fsck(
      spark: SparkSession,
      path: String,
      partPrefix: String,
      dataRoot: Option[String] = None): Seq[FsckFinding] = {
    val f = Dedup.fsFor(spark, path)
    val dr = dataRoot.getOrElse(path)
    // the SAME classification recover acts on ([[triage]]) — the
    // doctor's torn set and the recovery's quarantine set are one
    // definition, never two hand-synchronized walks
    fsck(f, path, partPrefix, dr, triage(f, path, partPrefix, dr))
  }

  /** [[fsck]] over a triage the caller already holds — a doctor that
    * classifies the layout for its own checks too (the dedup pair)
    * lists the partition dirs, `_epochs` and the stage roots once.
    */
  private[operators] def fsck(
      f: FileSystem,
      path: String,
      partPrefix: String,
      dr: String,
      t: LedgerTriage): Seq[FsckFinding] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[FsckFinding]
    (t.rotateStages.map(("_rotate", _)) ++
      t.retrainStages.map(("_retrain", _)))
      .foreach { case (sub, (id, committed)) =>
        if (committed) {
          // report the exact refusal recovery would throw instead of
          // promising a resume: _rotate stages resume as epochs,
          // un-ledgered _retrain stages by their manifest (a ledgered
          // one is only torn down)
          val refusal =
            if (sub == "_rotate") epochResumeRefusal(f, path, id)
            else if (t.ledgered(id)) None
            else retrainResumeRefusal(
              readManifest(f, new Path(s"$path/$sub/$id/_MANIFEST")),
              partPrefix)
          refusal match {
            case Some(reason) =>
              out += FsckFinding("stage-foreign", "fatal",
                s"$path/$sub/$id",
                s"committed stage $reason — recovery will REFUSE to " +
                  "resume or discard it; remove it by hand")
            case None =>
              out += FsckFinding("stage-committed", "warn",
                s"$path/$sub/$id",
                "committed stage awaiting completion — the protocol " +
                  "tore after its atomic commit; recovery at next " +
                  "entry resumes the idempotent moves")
          }
        } else
          out += FsckFinding("stage-uncommitted", "warn", s"$path/$sub/$id",
            "uncommitted stage residue — the protocol tore before its " +
              "commit point; recovery discards it (the live layout was " +
              "never touched)")
      }
    // the ledger-loss valve, verbatim judgment, report-only
    if ((t.residue.nonEmpty || f.exists(new Path(s"$path/_current"))) &&
        !t.ledgerDirExists)
      out += FsckFinding("ledger-missing", "fatal", s"$path/_epochs",
        "'<id>=' footprints (or a published generation pointer) exist " +
          "but the _epochs ledger dir does not — recovery will REFUSE " +
          "to touch this layout until the ledger travels back with it " +
          "(an underscore-blind copy/restore is the usual cause)")
    else
      t.torn.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (id, fs) =>
        out += FsckFinding("footprint-unledgered", "warn",
          s"$dr <$id>",
          s"${fs.size} live file(s) carry epoch footprint '$id=' with " +
            "no ledger entry and no committed stage — a stage-lost " +
            "partial move; recovery will QUARANTINE them under " +
            s"$path/_quarantine/$id/")
      }
    Dedup.scanHiddenRoot(f, path, "_quarantine").sortBy(_._1)
      .foreach { case (id, files, bytes) =>
        out += FsckFinding("quarantine-present", "info",
          s"$path/_quarantine/$id",
          s"$files file(s), $bytes bytes quarantined — re-ingest under " +
            "a fresh id or purge deliberately")
      }
    Dedup.scanHiddenRoot(f, path, "_retired").sortBy(_._1)
      .foreach { case (id, files, bytes) =>
        out += FsckFinding("retired-present", "info",
          s"$path/_retired/$id",
          s"$files file(s), $bytes bytes retired — purge once no " +
            "in-flight reader can hold the superseded root")
      }
    out.toSeq
  }

  /** One `(name, files, bytes)` row per `path/_retired/<epochId>[.n]`
    * dir — the single-layout twin of [[Dedup.listRetired]]: quarantines
    * a later completed epoch of the same id superseded (each `.n`
    * repeat retirement is its own row). Outside [[listQuarantined]]'s
    * active listing by design; this is the purge step's monitor.
    * Listing-only: never reads data files.
    */
  def listRetired(
      spark: SparkSession,
      path: String): Seq[(String, Long, Long)] =
    Dedup.scanHiddenRoot(Dedup.fsFor(spark, path), path, "_retired")
      .sortBy(_._1)

  /** Delete ONE retired dir by its exact [[listRetired]] name — the
    * single-layout twin of [[Dedup.purgeRetired]], and the only place
    * retired data is ever deleted. Returns true when something was
    * deleted.
    */
  def purgeRetired(
      spark: SparkSession,
      path: String,
      name: String): Boolean =
    Dedup.purgeRetiredDir(Dedup.fsFor(spark, path), path, name)

  /** Bulk purge with an EXPLICIT retention window: delete every
    * `path/_retired/<name>` dir older than `olderThanMs`, exact-name
    * semantics preserved underneath (each deletion is one
    * [[purgeRetired]]-shaped dir delete; nothing outside `_retired`
    * is reachable). Age is judged from the dir's listing mtime — its
    * last content change, which for publish-time retires (the
    * `.pre-rotate`/`.compact`/`.superseded` dirs, populated by a
    * rename INTO a fresh dir) IS the retire instant; for a retired
    * quarantine (renamed wholesale) it's the earlier QUARANTINE
    * instant, so such a dir can purge up to its tear-to-reapply gap
    * early — size the window well above that gap (days, not minutes;
    * the window's purpose is operator review time, not reader
    * draining). `now` is injectable for tests. Returns the names
    * deleted, in listing order.
    */
  def purgeRetiredOlderThan(
      spark: SparkSession,
      path: String,
      olderThanMs: Long,
      now: Long = System.currentTimeMillis): Seq[String] =
    Dedup.purgeRetiredOlderThanDirs(
      Dedup.fsFor(spark, path), path, olderThanMs, now)
}
