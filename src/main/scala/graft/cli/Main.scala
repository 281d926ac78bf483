package graft.cli

import java.io.RandomAccessFile
import java.nio.channels.FileLock

import org.apache.spark.sql.SparkSession

import graft.{Timer, Tsdb}
import graft.streaming.Ingest

/** CLI mirroring the reference's entry points (cli.py:12-68):
  *
  * {{{
  * graft.cli.Main sync   <root> [--lock-file F] [--emit-metrics]
  * graft.cli.Main daemon <root> <host:port> [--interval S]
 *                [--self-metrics PREFIX | --no-self-metrics] [--dedupe]
  * graft.cli.Main compact <root> [--lock-file F]  # engine addition: see Tsdb.compact
 * graft.cli.Main show   <root> <period>          # daemon.py:219-229
  * graft.cli.Main metric <root> <path> <period> <stat> [start] [end]
  * graft.cli.Main serve  <root> <host:port>       # JSON /graph + / (wsgi.py)
  * graft.cli.Main ivf <sub> <layout> ...          # engine addition: IVF layout maintenance
  * graft.cli.Main pq  <sub> <index> ...           # engine addition: PQ index maintenance
  * graft.cli.Main dedup <sub> ...                  # engine addition: dedup layout pair
  * graft.cli.Main substring-dup <sub> ...          # engine addition: substring dedup
  * }}}
  *
  * The `ivf` group is the SCALING.md runbook as ops commands (no
  * reference analogue — the reference has no ANN layout):
  * {{{
  * ivf fsck    <layout> [--deep-schema] [--json]  # READ-ONLY doctor, no lock
  * ivf health  <layout> [--recall N] [--recall-queries PARQUET]
  *             [--recall-k K] [--nprobe P] [--rerank M] [--json]
  * ivf maintain <layout> <id> [--max-files N] [--skew X] [--recall N]
  *              [--recall-queries PARQUET] [--recall-floor F]
  *              [--recall-k K] [--nprobe P] [--rerank M]
  *              [--ledger-tail N] [--purge-older-than <dur>] [--k K]
  *              [--sample-frac F] [--defer-retire] [--lock-file F]
  * ivf rotate  <layout> <id> [--k K] [--sample-frac F] [--defer-retire] [--lock-file F]
  * ivf compact <layout> <id> [--max-records-per-file N] [--defer-retire] [--lock-file F]
  * ivf compact-partitions <layout> <id> [--max-files N] [--lock-file F]
  * ivf retire-superseded <layout> <name> [--lock-file F]
  * ivf purge-retired <layout> --older-than <dur> [--lock-file F]
  * ivf compact-ledger <layout> [--lock-file F]
  * ivf recover <layout> [--lock-file F]
  * }}}
  * The `pq` group is the same lifecycle for the PQ index (one
  * dispatcher serves both kinds: `fsck`, `health`, `maintain`,
  * `compact-partitions`, `retire-superseded`, `purge-retired`,
  * `compact-ledger` and `recover` are shared; `ivf rotate|compact` and
  * `pq rotate|meta` are kind-only). The rotate arm and the recall probe
  * need the SOURCE corpus, because the index stores codes, not vectors:
  * {{{
  * pq fsck    <index> [--deep-codes] [--json]    # READ-ONLY doctor, no lock
  * pq health  <index> [--recall N] [--recall-queries PARQUET]
  *            [--emb PARQUET] [--recall-k K] [--nprobe P] [--rerank M]
  *            [--json]                           # a recall probe needs --emb
  * pq meta    <index> [--json]                   # stored training geometry
  * pq maintain <index> <id> --emb PARQUET [--max-files N] [--skew X]
  *             [--recall N] [--recall-queries PARQUET] [--recall-floor F]
  *             [--recall-k K] [--nprobe P] [--rerank M] [--ledger-tail N]
  *             [--purge-older-than <dur>] [--m M] [--codebook-k K] [--k K]
  *             [--train-iters N] [--residual true|false]
  *             [--files-per-partition N] [--defer-retire] [--lock-file F]
  * pq rotate  <index> <id> --emb PARQUET [--m M] [--codebook-k K] [--k K]
  *            [--train-iters N] [--residual [true|false]]
  *            [--files-per-partition N] [--defer-retire] [--lock-file F]
  * pq compact-partitions <index> <id> [--max-files N] [--lock-file F]
  * pq retire-superseded <index> <name> [--lock-file F]
  * pq purge-retired <index> --older-than <dur> [--lock-file F]
  * pq compact-ledger <index> [--lock-file F]
  * pq recover <index> [--lock-file F]
  * }}}
  * The `dedup` group is the incremental-dedup layout PAIR's
  * maintenance (engine addition, like `ivf`):
  * {{{
  * dedup fsck <hist> <idx> [--json]       # READ-ONLY doctor, no lock
  * dedup stats <hist> [--json]
  * dedup maintain <hist> <idx> <id> [--max-files N] [--ledger-tail N]
  *       [--purge-older-than <dur>] [--files-per-partition N] [--lock-file F]
  * dedup compact-history <hist> <idx> <id> [--max-files N]
  *       [--max-records-per-file N] [--lock-file F]
  * dedup rebuild-index <hist> <idx> [--k K --bands B] [--lock-file F]
  * dedup rebuild-bloom <hist> --expected-items N [--fpp F] [--lock-file F]
  * dedup recover <hist> <idx> [--lock-file F]
  * dedup purge-retired <hist> <idx> --older-than <dur> [--lock-file F]
  * dedup compact-ledger <hist> [--lock-file F]
  * }}}
  * The `substring-dup` group is the substring-level dedup workflow
  * (score → locate → excise, plus the incremental window-hash index;
  * engine addition). Frame-producing subcommands write their result
  * parquet to a FRESH <out> path and print a one-line signal summary:
  * {{{
  * substring-dup stats <docs> <out> [--window W] [--min-docs N]
  *               [--text-col C] [--json]
  * substring-dup spans <docs> <out> [same flags]
  * substring-dup cut   <docs> <out> [same flags]
  * substring-dup cut-converge <docs> <out> [same flags] [--max-rounds R]
  * substring-dup build <docs> <idx> [--window W] [--buckets B]
  *               [--text-col C] [--lock-file F]
  * substring-dup append <docs> <idx> <epochId> [--text-col C] [--lock-file F]
  * substring-dup probe <docs> <idx> <out> [--min-docs N] [--text-col C]
  *               [--json]
  * substring-dup probe-spans <docs> <idx> <out> [same flags] # spans vs history
  * substring-dup probe-cut   <docs> <idx> <out> [same flags] # excised batch
  * substring-dup index-stats <idx> [--json]
  * substring-dup fsck <idx> [--json]        # READ-ONLY doctor, no lock
  * substring-dup maintain <idx> <id> [--max-files N] [--ledger-tail N]
  *               [--purge-older-than <dur>] [--files-per-partition N]
  *               [--max-records-per-file N] [--lock-file F]
  * substring-dup compact <idx> <id> [--max-files N]
  *               [--max-records-per-file N] [--lock-file F]
  * substring-dup recover <idx> [--lock-file F]
  * substring-dup rotate <docs> <idx> <id> [--window W] [--buckets B]
  *               [--defer-retire] [--lock-file F]  # geometry migration
  * substring-dup retire-superseded <idx> <name> [--lock-file F]
  * substring-dup purge-retired <idx> --older-than <dur> [--lock-file F]
  * }}}
  * `recover` and `purge-retired` are one body for `ivf`, `pq`,
  * `substring-dup` and `dedup` ([[layoutVerb]]; `dedup` supplies the
  * pair's two-root recovery and purge), and `retire-superseded` one
  * body for the first three. Their `fsck`, `maintain` and compactions
  * run `EpochLedger`'s shared `layoutFsck`/`triage`,
  * `beginMaintain`/`maintainLedger` and `compactLayoutPartitions`;
  * `dedup maintain` and `substring-dup maintain` share one policy
  * (`Dedup.BucketMaintainPolicy`) and one result line.
  * `--older-than` durations: `<n>s|m|h|d` or plain seconds. The flag is
  * REQUIRED — bulk deletion without an explicit retention window is
  * refused (use the API's `EpochLedger.purgeRetired(name)` for one exact
  * name).
  * `--lock-file` gives the layouts' single-maintenance-writer contract
  * its process-level teeth — the same exclusive OS lock the sync path
  * takes.
  *
  * `--lock-file` takes an exclusive OS file lock for process-level mutual
  * exclusion of concurrent syncs, like the reference's InterProcessLock
  * (cli.py:50-55).
  */
object Main {

  private def session(): SparkSession = SparkSession.builder()
    .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
    .config("spark.sql.shuffle.partitions",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.buffer.pageSize", "4m")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** The recall observable with its route marker — one definition for
    * `ivf health` and `ivf maintain`, so an operator can always tell
    * an exact-route number from an SQ8-route one.
    */
  private def formatRecall(
      r: graft.operators.Similarity.IvfRecall): String = {
    val route = if (r.rerank > 0) s",rerank=${r.rerank}" else ""
    f"${r.recallAtK}%.4f(k=${r.k},nprobe=${r.nprobe}$route)"
  }

  /** One line per fsck finding, `clean` when the doctor found nothing
    * — shared by `ivf fsck` and `dedup fsck` so the two outputs can
    * never drift.
    */
  private def formatFindings(
      findings: Seq[graft.operators.EpochLedger.FsckFinding]): String =
    if (findings.isEmpty) "clean"
    else findings.map(fd =>
      s"${fd.severity.toUpperCase} ${fd.code} ${fd.subject}: " +
        fd.detail).mkString("\n")

  /** JSON string literal with quote/backslash/control-char escaping —
    * shared by every `--json` ops output.
    */
  private def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** `--json` fsck output: ONE line holding a JSON array of findings
    * (`[]` when clean) so a monitoring agent can parse the doctor's
    * report without scraping the human lines — same findings, same
    * order, as [[formatFindings]]. Escapes quote/backslash/control
    * chars; paths and details are free-form.
    */
  private def formatFindingsJson(
      findings: Seq[graft.operators.EpochLedger.FsckFinding]): String =
    findings.map(fd =>
      s"""{"code":${jsonStr(fd.code)},"severity":${jsonStr(fd.severity)},""" +
        s""""subject":${jsonStr(fd.subject)},"detail":${jsonStr(fd.detail)}}""")
      .mkString("[", ",", "]")

  /** `--json` for `ivf health`: the same observables as the one-line
    * text form, typed for a monitoring agent (recall null when not
    * probed; generation null on a flat layout).
    */
  private def formatHealthJson(
      h: graft.operators.Similarity.IvfHealth): String = {
    val recall = h.recall.map(r =>
      s"""{"recallAtK":${r.recallAtK},"queries":${r.queries},""" +
        s""""k":${r.k},"nprobe":${r.nprobe},"rerank":${r.rerank}}""")
      .getOrElse("null")
    s"""{"dataRoot":${jsonStr(h.dataRoot)},""" +
      s""""generation":${h.generation.map(jsonStr).getOrElse("null")},""" +
      s""""partitions":${h.partitions},"files":${h.files},""" +
      s""""bytes":${h.bytes},""" +
      s""""maxFilesPerPartition":${h.maxFilesPerPartition},""" +
      s""""skewRatio":${
        if (h.skewRatio.isNaN || h.skewRatio.isInfinite) "null"
        else h.skewRatio.toString},"recall":$recall,""" +
      s""""quarantined":${h.quarantined},"retired":${h.retired}}"""
  }

  /** The shared fsck output switch: text by default, one-line JSON
    * array under `--json`.
    */
  private def renderFindings(
      findings: Seq[graft.operators.EpochLedger.FsckFinding],
      flags: List[String]): String =
    if (flags.contains("--json")) formatFindingsJson(findings)
    else formatFindings(findings)

  /** The shared partition-stats summary of `dedup stats` and
    * `substring-dup index-stats`: `(partition, files, bytes)` rows as
    * `key=value` text by default, one JSON object under `--json`.
    */
  private def renderPartitionStats(
      st: Seq[(String, Int, Long)],
      flags: List[String]): String = {
    val maxF = if (st.isEmpty) 0 else st.map(_._2).max
    if (flags.contains("--json"))
      s"""{"buckets":${st.size},"files":${st.map(_._2.toLong).sum},""" +
        s""""bytes":${st.map(_._3).sum},"maxFilesPerBucket":$maxF}"""
    else
      s"buckets=${st.size} files=${st.map(_._2.toLong).sum} " +
        s"bytes=${st.map(_._3).sum} maxFilesPerBucket=$maxF"
  }

  private[cli] def withLock[T](path: Option[String])(f: => T): T = path match {
    case None => f
    case Some(p) =>
      val raf = new RandomAccessFile(p, "rw")
      val lock: FileLock = raf.getChannel.lock()
      try f finally { lock.release(); raf.close() }
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "sync" :: root :: rest =>
      val lockFile = flagValue(rest, "--lock-file", "sync")
      val emit = rest.contains("--emit-metrics")
      val spark = session()
      val tsdb = new Tsdb(spark, root)
      withLock(lockFile) {
        if (emit) Timer.instrumentedSync(tsdb) else tsdb.sync()
      }
      spark.stop()

    case "daemon" :: root :: hostPort :: rest =>
      val Array(host, port) = hostPort.split(":")
      val interval = rest.sliding(2).collectFirst {
        case List("--interval", s) => s.toLong
      }.getOrElse(10L)
      // the reference daemon hardcodes prefix 'smalltsdb.daemon'
      // (daemon.py:249); ours defaults on with the analogous name
      val prefix = rest.sliding(2).collectFirst {
        case List("--self-metrics", p) => p
      }.orElse(if (rest.contains("--no-self-metrics")) None
        else Some("graft.daemon"))
      // engine addition: first-seen dedup of repeated wire lines
      // (Ingest.start dedupe — retried datagrams collapse to one row)
      val dedupe = rest.contains("--dedupe")
      val spark = session()
      val tsdb = new Tsdb(spark, root)
      // the reference listens on BOTH sockets (daemon.py:158-163): TCP
      // via the dev socket source, UDP via the datagram-to-file bridge
      val tcp = spark.readStream.format("socket")
        .option("host", host).option("port", port.toInt).load()
      val bridge = new graft.streaming.UdpBridge(
        host, port.toInt, s"$root/udp-spool").start()
      val udp = graft.streaming.UdpBridge.lines(spark, s"$root/udp-spool")
      val q = Ingest.start(tsdb, tcp.union(udp), interval,
        selfMetricPrefix = prefix, dedupe = dedupe)
      // reference parity: SIGTERM drains and stops the daemon
      // (daemon.py:236-241, signal_done -> DONE -> final process());
      // stopping the query lets the in-flight micro-batch finish
      sys.addShutdownHook {
        try q.stop() catch { case _: Throwable => () }
        bridge.close()
      }
      try q.awaitTermination() finally bridge.close()

    case "compact" :: root :: rest =>
      val lockFile = flagValue(rest, "--lock-file", "compact")
      val spark = session()
      withLock(lockFile) { new Tsdb(spark, root).compact() }
      spark.stop()

    case "show" :: root :: period :: Nil =>
      val spark = session()
      new Tsdb(spark, root).table(period)
        .orderBy("path", "timestamp")
        .show(1000, truncate = false)
      spark.stop()

    // start/end accept the reference's forms (epoch ints, ISO8601 —
    // app/__init__.py:158-166) plus raw epoch doubles; omitted bounds
    // default to the reference's last-hour window (app/__init__.py:177-183)
    case "metric" :: root :: path :: period :: stat :: rest if rest.size <= 2 =>
      val spark = session()
      val tsdb = new Tsdb(spark, root)
      val (defStart, defEnd) = graft.api.Datetimes.defaultInterval(tsdb.now())
      val interval = rest.map(graft.api.Datetimes.parse) match {
        case Nil => (defStart, defEnd)
        case s :: Nil => (s, defEnd)
        case s :: e :: Nil => (s, e)
        case _ => sys.error("unreachable")
      }
      tsdb.getMetric(path, period, stat, interval)
        .show(1000, truncate = false)
      spark.stop()

    case (kind @ ("ivf" | "pq")) :: sub :: layout :: rest =>
      // these subcommands take a positional id first
      val needsId = Set("rotate", "compact-partitions", "maintain",
        "retire-superseded") ++ (if (kind == "ivf") Set("compact") else Set())
      val (posArg, flags) = rest match {
        case id :: tl if needsId(sub) && !id.startsWith("--") => (Some(id), tl)
        case _ => (None, rest)
      }
      // strict parse: a missing value must ERROR, not silently run the
      // maintenance unlocked
      val lockFile = flagValue(flags, "--lock-file", s"$kind $sub")
      val spark = session()
      try println(withLock(lockFile) {
        centroidCommand(spark, kind, sub, layout, posArg, flags)
      })
      finally spark.stop()

    case "dedup" :: sub :: rest =>
      // positionals first, then flags
      val (pos, flags) = rest.span(!_.startsWith("--"))
      val lockFile = flagValue(flags, "--lock-file", s"dedup $sub")
      val spark = session()
      try println(withLock(lockFile) {
        dedupCommand(spark, sub, pos, flags)
      })
      finally spark.stop()

    case "substring-dup" :: sub :: rest =>
      val (pos, flags) = rest.span(!_.startsWith("--"))
      val lockFile = flagValue(flags, "--lock-file", s"substring-dup $sub")
      val spark = session()
      try println(withLock(lockFile) {
        substringDupCommand(spark, sub, pos, flags)
      })
      finally spark.stop()

    // the reference's web entry point (wsgi.py:1-18 / `flask run`): a
    // read-only server over the same root the sync job maintains
    case "serve" :: root :: hostPort :: Nil =>
      val Array(host, port) = hostPort.split(":")
      val spark = session()
      val api = new graft.api.HttpApi(
        new Tsdb(spark, root), host, port.toInt).start()
      println(s"serving http://$host:${api.boundPort} (routes: /, /graph)")
      sys.addShutdownHook(api.close())
      Thread.currentThread.join()

    case other =>
      System.err.println(s"unknown command: ${other.mkString(" ")}")
      System.err.println(
        "usage: sync|daemon|compact|show|metric|serve|ivf|dedup|" +
          "substring-dup|pq ...")
      sys.exit(2)
  }

  /** The `ivf` subcommand bodies ([[centroidCommand]] for the IVF
    * layout), factored out of [[main]] so specs can drive them against
    * a shared test session (main owns the session lifecycle and would
    * stop it). Returns the one line main prints.
    */
  private[cli] def ivfCommand(
      spark: SparkSession,
      sub: String,
      layout: String,
      posArg: Option[String],
      flags: List[String]): String =
    centroidCommand(spark, "ivf", sub, layout, posArg, flags)

  /** The `pq` subcommand bodies ([[centroidCommand]] for the PQ index). */
  private[cli] def pqCommand(
      spark: SparkSession,
      sub: String,
      index: String,
      posArg: Option[String],
      flags: List[String]): String =
    centroidCommand(spark, "pq", sub, index, posArg, flags)

  /** The centroid layouts' maintenance as ops commands, one dispatcher
    * keyed by `kind` ("ivf" or "pq") — the SCALING.md runbook over
    * [[graft.operators.CentroidLayout]]'s lifecycle. `fsck`, `health`,
    * `maintain`, `compact-partitions`, `retire-superseded`,
    * `purge-retired`, `compact-ledger` and `recover` are shared;
    * `ivf rotate|compact` and `pq rotate|meta` are kind-only. One
    * structural difference: PQ's rotate/maintain/recall arms need the
    * SOURCE corpus (`--emb <parquet>`) — the index stores codes, not
    * vectors, so there is nothing to re-train or exact-rerank from in
    * the layout itself. Listing-only commands (fsck, health without a
    * recall probe) never need it.
    */
  private def centroidCommand(
      spark: SparkSession,
      kind: String,
      sub: String,
      layout: String,
      posArg: Option[String],
      flags: List[String]): String = {
    import graft.operators.{EpochLedger, Pq, Similarity}
    val ivf = kind == "ivf"
    def flag(name: String): Option[String] =
      flagValue(flags, name, s"$kind $sub")
    def id(what: String): String =
      posArg.getOrElse(sys.error(s"$kind $sub needs a positional <$what>"))
    // a PQ maintain/rotate without the corpus must ERROR up front, not
    // re-train against an empty frame and publish a gutted generation
    def emb(why: String): org.apache.spark.sql.DataFrame =
      flag("--emb").map(spark.read.parquet(_)).getOrElse(sys.error(
        s"pq $sub $why needs the SOURCE corpus: pass --emb <parquet> " +
          "(the index stores codes, not vectors)"))
    // held-out query vectors for the serving-shaped recall mode: a
    // parquet of (query_id, embedding)
    def recallQueries: Option[org.apache.spark.sql.DataFrame] =
      flag("--recall-queries").map(spark.read.parquet(_))
    // the recall probe's OWN k/nprobe — a floor judged at nprobe=1 for
    // a deployment serving nprobe=4 queries would trigger spurious
    // re-train rotations ("--k" is taken by the rotation's centroidK)
    def recallK: Int = flag("--recall-k").map(_.toInt).getOrElse(10)
    def recallNprobe: Int = flag("--nprobe").map(_.toInt).getOrElse(1)
    // > 0 judges the quantized route's recall with this shortlist size
    // (IVF: SQ8; PQ: the ADC shortlist, 0 = its 4*k default) — measure
    // the route being served, not just the exact one
    def recallRerank: Int = flag("--rerank").map(_.toInt).getOrElse(0)
    def filesPerPartition: Int =
      flag("--files-per-partition").map(_.toInt).getOrElse(1)
    (kind, sub) match {
      case (_, "fsck") =>
        // READ-ONLY: no lock required — fsck is the safe first command
        // against a layout another writer may own
        renderFindings(
          if (ivf) Similarity.ivfFsck(spark, layout,
            deepSchema = flags.contains("--deep-schema"))
          else Pq.pqFsck(spark, layout,
            deepCodes = flags.contains("--deep-codes")), flags)
      case (_, "health") =>
        val sampleN = flag("--recall").map(_.toInt).getOrElse(0)
        val h =
          if (ivf) Similarity.ivfHealth(spark, layout,
            recallSampleN = sampleN, k = recallK, nprobe = recallNprobe,
            queryVectors = recallQueries, recallRerank = recallRerank)
          else {
            val qv = recallQueries
            Pq.pqHealth(spark, layout,
              emb =
                if (sampleN > 0 || qv.isDefined) emb("with a recall probe")
                else spark.emptyDataFrame,
              recallSampleN = sampleN, k = recallK, nprobe = recallNprobe,
              rerank = recallRerank, queryVectors = qv)
          }
        if (flags.contains("--json")) formatHealthJson(h)
        else {
          val recallStr = h.recall.map(formatRecall).getOrElse("-")
          s"dataRoot=${h.dataRoot} generation=${h.generation.getOrElse("-")} " +
            s"partitions=${h.partitions} files=${h.files} bytes=${h.bytes} " +
            s"maxFilesPerPartition=${h.maxFilesPerPartition} " +
            f"skewRatio=${h.skewRatio}%.2f recall=$recallStr " +
            s"quarantined=${h.quarantined} retired=${h.retired}"
        }
      case (_, "maintain") =>
        val m =
          if (ivf) Similarity.ivfMaintain(spark, layout, id("maintenanceId"),
            Similarity.IvfMaintainPolicy(
              maxFilesPerPartition = flag("--max-files").map(_.toInt)
                .getOrElse(64),
              skewThreshold = flag("--skew").map(_.toDouble).getOrElse(4.0),
              recallFloor = flag("--recall-floor").map(_.toDouble),
              recallSampleN = flag("--recall").map(_.toInt).getOrElse(64),
              k = recallK, nprobe = recallNprobe,
              ledgerTailMax =
                flag("--ledger-tail").map(_.toInt).getOrElse(256),
              centroidK = flag("--k").map(_.toInt)
                .getOrElse(Similarity.DefaultCentroidK),
              sampleFrac =
                flag("--sample-frac").map(_.toDouble).getOrElse(1.0),
              deferRetire = flags.contains("--defer-retire"),
              queryVectors = recallQueries,
              purgeRetiredOlderThanMs =
                flag("--purge-older-than").map(parseDuration),
              filesPerPartition = filesPerPartition,
              recallRerank = recallRerank))
          else Pq.pqMaintain(spark, layout, id("maintenanceId"),
            emb("(its rotate arm re-trains)"),
            Pq.PqMaintainPolicy(
              maxFilesPerPartition = flag("--max-files").map(_.toInt)
                .getOrElse(64),
              skewThreshold = flag("--skew").map(_.toDouble).getOrElse(4.0),
              recallFloor = flag("--recall-floor").map(_.toDouble),
              recallSampleN = flag("--recall").map(_.toInt).getOrElse(64),
              k = recallK, nprobe = recallNprobe, rerank = recallRerank,
              ledgerTailMax =
                flag("--ledger-tail").map(_.toInt).getOrElse(256),
              // geometry flags default to INHERIT the index's stored
              // geometry (PqMaintainPolicy doc) — a cron'd maintain must
              // not rewrite the deployment to the compile-time defaults
              m = flag("--m").map(_.toInt),
              codebookK = flag("--codebook-k").map(_.toInt),
              centroidK = flag("--k").map(_.toInt),
              trainIters = flag("--train-iters").map(_.toInt),
              // value-taking (not bare) ON PURPOSE: the bare form could
              // only ever turn residual ON, but the migration knob must
              // express both directions (and absent = inherit)
              residual = flag("--residual").map(_.toBoolean),
              deferRetire = flags.contains("--defer-retire"),
              queryVectors = recallQueries,
              purgeRetiredOlderThanMs =
                flag("--purge-older-than").map(parseDuration),
              filesPerPartition = filesPerPartition))
        val acts =
          if (m.actions.isEmpty) "none (healthy)" else m.actions.mkString("; ")
        s"actions=$acts " +
          f"skewRatio=${m.health.skewRatio}%.2f " +
          s"maxFilesPerPartition=${m.health.maxFilesPerPartition}" +
          m.health.recall.map(r => s" recall=${formatRecall(r)}")
            .getOrElse("")
      case (_, "compact-partitions") =>
        val compactionId = id("compactionId")
        val maxFiles = flag("--max-files").map(_.toInt).getOrElse(1)
        val n =
          if (ivf) Similarity.compactIvfPartitions(spark, layout, compactionId,
            maxFilesPerPartition = maxFiles,
            filesPerPartition = filesPerPartition)
          else Pq.compactPqPartitions(spark, layout, compactionId,
            maxFilesPerPartition = maxFiles,
            filesPerPartition = filesPerPartition)
        s"compacted_dirs=$n"
      case (_, "recover" | "retire-superseded" | "purge-retired") =>
        partitionedVerb(spark, kind, sub, layout, "centroid_id=", id("name"),
          flags)
      case (_, "compact-ledger") =>
        s"rolled=${EpochLedger.compactLedger(spark, layout)}"
      case ("ivf", "rotate") =>
        val applied = Similarity.rotateIvf(spark, layout, id("rotationId"),
          centroidK = flag("--k").map(_.toInt)
            .getOrElse(Similarity.DefaultCentroidK),
          sampleFrac = flag("--sample-frac").map(_.toDouble).getOrElse(1.0),
          deferRetire = flags.contains("--defer-retire"),
          filesPerPartition = filesPerPartition)
        s"applied=$applied"
      case ("ivf", "compact") =>
        val applied = Similarity.compactIvf(spark, layout, id("compactionId"),
          maxRecordsPerFile =
            flag("--max-records-per-file").map(_.toLong).getOrElse(0L),
          deferRetire = flags.contains("--defer-retire"))
        s"applied=$applied"
      case ("pq", "rotate") =>
        // an EXPLICIT re-train, like the library call: every training
        // knob (m/codebook-k/k/train-iters) defaults to the build
        // defaults, NOT the index's stored values — a deployment that
        // must keep its geometry/trainedness rotates through
        // `pq maintain` (which inherits) or passes the knobs here
        val applied = Pq.rotatePq(spark, layout, id("rotationId"),
          emb("(a re-train)"),
          m = flag("--m").map(_.toInt).getOrElse(Pq.DefaultM),
          k = flag("--codebook-k").map(_.toInt).getOrElse(Pq.DefaultK),
          centroidK = flag("--k").map(_.toInt)
            .getOrElse(Similarity.DefaultCentroidK),
          filesPerPartition = filesPerPartition,
          deferRetire = flags.contains("--defer-retire"),
          trainIters = flag("--train-iters").map(_.toInt).getOrElse(0),
          // value-OPTIONAL: bare `--residual` enables, but an explicit
          // `--residual false` (the maintain arm's documented
          // both-directions syntax) must mean raw — silently dropping
          // the value would build the exact opposite of what was
          // asked. Any non-flag token following is TAKEN as the value
          // (positionals come before flags, so nothing else can sit
          // there): toBoolean is case-insensitive like the maintain
          // arm's, and garbage refuses loudly instead of silently
          // enabling
          residual = {
            val i = flags.indexOf("--residual")
            if (i < 0) false
            else if (i + 1 < flags.length &&
                !flags(i + 1).startsWith("--"))
              flags(i + 1).toBoolean
            else true
          })
        s"applied=$applied"
      case ("pq", "meta") =>
        // READ-ONLY: the stored training geometry an operator needs
        // before choosing rotate/maintain knobs — until now only
        // visible by hand-reading the _meta parquet
        val mt = Pq.readPqMeta(spark, layout)
        if (flags.contains("--json"))
          s"""{"m":${mt.m},"k":${mt.k},"dim":${mt.dim},""" +
            s""""trainIters":${mt.trainIters},"residual":${mt.residual}}"""
        else
          s"m=${mt.m} k=${mt.k} dim=${mt.dim} " +
            s"trainIters=${mt.trainIters} residual=${mt.residual}"
      case (_, otherSub) =>
        sys.error(s"unknown $kind subcommand '$otherSub' " + (
          if (ivf) "(fsck|health|maintain|rotate|compact|compact-partitions|" +
            "retire-superseded|purge-retired|compact-ledger|recover)"
          else "(fsck|health|meta|maintain|rotate|compact-partitions|" +
            "retire-superseded|purge-retired|compact-ledger|recover)"))
    }
  }

  /** The `substring-dup` subcommand bodies — the Lee-et-al-style
    * substring-level dedup workflow as ops commands: score
    * (`stats`), locate (`spans`), excise (`cut`), and the incremental
    * pair (`build`/`append`/`probe`) over a persisted window-hash
    * index. Frame-producing subcommands WRITE their result parquet to
    * a fresh `<out>` path (refusing to overwrite) and print a one-line
    * signal summary (`--json` for the machine form) — the fsck
    * discipline; a corpus-sized frame is never printed.
    */
  private[cli] def substringDupCommand(
      spark: SparkSession,
      sub: String,
      pos: List[String],
      flags: List[String]): String = {
    import graft.operators.Dedup
    import org.apache.spark.sql.functions.{col, count, lit, round => sqlRound,
      sum => sqlSum, when}
    def flag(name: String): Option[String] =
      flagValue(flags, name, s"substring-dup $sub")
    def window: Int = flag("--window").map(_.toInt).getOrElse(16)
    def minDocs: Int = flag("--min-docs").map(_.toInt).getOrElse(2)
    def textCol: String = flag("--text-col").getOrElse("text")
    def docs(path: String) = spark.read.parquet(path)
    // refuse to clobber: the out path must be fresh (the overwrite-
    // guard family's posture, CLI-sized). `df` is BY-NAME and only
    // forced after the check: cut-converge's operator is EAGER (per-
    // round localCheckpoints + the proving re-score), so evaluating it
    // before the refusal would burn the whole convergence workload
    // just to refuse
    def writeFresh(df: => org.apache.spark.sql.DataFrame,
        out: String): Unit = {
      val f = Dedup.fsFor(spark, out)
      require(!f.exists(new org.apache.hadoop.fs.Path(out)),
        s"substring-dup $sub: output path $out already exists — " +
          "refusing to overwrite; pass a fresh path")
      df.write.parquet(out)
    }
    // aggregate sums over a possibly-EMPTY result (a day with no
    // documents) are null — read them as 0 instead of tripping a bare
    // NPE after the output parquet already landed
    def longAt(r: org.apache.spark.sql.Row, i: Int): Long =
      if (r.isNullAt(i)) 0L else r.getLong(i)
    def doubleAt(r: org.apache.spark.sql.Row, i: Int): Double =
      if (r.isNullAt(i)) 0.0 else r.getDouble(i)
    def statsSummary(out: String): String = {
      val r = spark.read.parquet(out)
        .agg(count(lit(1)).as("docs"),
          sqlSum(when(col("dup_windows") > 0, 1L).otherwise(0L))
            .as("dup_docs"),
          sqlSum(col("dup_windows")).as("dup_windows"),
          sqlRound(org.apache.spark.sql.functions.avg(
            col("dup_window_frac")), 6).as("mean_dup_frac"))
        .head()
      if (flags.contains("--json"))
        s"""{"docs":${r.getLong(0)},"dup_docs":${longAt(r, 1)},""" +
          s""""dup_windows":${longAt(r, 2)},""" +
          s""""mean_dup_frac":${doubleAt(r, 3)},"out":"$out"}"""
      else
        s"docs=${r.getLong(0)} dup_docs=${longAt(r, 1)} " +
          s"dup_windows=${longAt(r, 2)} mean_dup_frac=${doubleAt(r, 3)} " +
          s"out=$out"
    }
    // ONE summary definition per output shape, shared by the batch and
    // probe-side subcommands (spans/probe-spans, cut/probe-cut) — the
    // statsSummary discipline
    def spansSummary(out: String): String = {
      val r = spark.read.parquet(out)
        .agg(count(lit(1)).as("spans"),
          org.apache.spark.sql.functions.countDistinct(col("doc_id"))
            .as("docs_with_spans"),
          // spans are maximal and disjoint per doc, so the sum IS the
          // covered-token count
          sqlSum(col("span_end") - col("span_start"))
            .as("covered_tokens"))
        .head()
      val (nSpans, nDocs, covered) =
        (r.getLong(0), r.getLong(1), longAt(r, 2))
      if (flags.contains("--json"))
        s"""{"spans":$nSpans,"docs_with_spans":$nDocs,""" +
          s""""covered_tokens":$covered,"out":"$out"}"""
      else
        s"spans=$nSpans docs_with_spans=$nDocs " +
          s"covered_tokens=$covered out=$out"
    }
    def cutSummary(out: String): String = {
      val r = spark.read.parquet(out)
        .agg(count(lit(1)).as("docs"),
          sqlSum(col("n_kept")).as("kept"),
          sqlSum(col("n_cut")).as("cut"),
          sqlSum(when(col("n_kept") === 0 && col("n_cut") > 0, 1L)
            .otherwise(0L)).as("emptied"))
        .head()
      if (flags.contains("--json"))
        s"""{"docs":${r.getLong(0)},"tokens_kept":${longAt(r, 1)},""" +
          s""""tokens_cut":${longAt(r, 2)},""" +
          s""""docs_emptied":${longAt(r, 3)},"out":"$out"}"""
      else
        s"docs=${r.getLong(0)} tokens_kept=${longAt(r, 1)} " +
          s"tokens_cut=${longAt(r, 2)} docs_emptied=${longAt(r, 3)} " +
          s"out=$out"
    }
    sub match {
      case "stats" => pos match {
        case in :: out :: Nil =>
          writeFresh(Dedup.substringDupStats(docs(in), window, minDocs,
            textCol), out)
          statsSummary(out)
        case _ =>
          sys.error("substring-dup stats needs <docsParquet> <outParquet>")
      }
      case "spans" => pos match {
        case in :: out :: Nil =>
          writeFresh(Dedup.substringDupSpans(docs(in), window, minDocs,
            textCol), out)
          spansSummary(out)
        case _ =>
          sys.error("substring-dup spans needs <docsParquet> <outParquet>")
      }
      case "cut" => pos match {
        case in :: out :: Nil =>
          val d = docs(in)
          writeFresh(Dedup.cutSpans(d,
            Dedup.substringDupSpans(d, window, minDocs, textCol), textCol),
            out)
          cutSummary(out)
        case _ =>
          sys.error("substring-dup cut needs <docsParquet> <outParquet>")
      }
      case "cut-converge" => pos match {
        case in :: out :: Nil =>
          // the seam-bounded loop; non-convergence inside --max-rounds
          // refuses loudly with the residual count (the library
          // contract) BEFORE any output lands
          writeFresh(Dedup.cutToConvergence(docs(in), window, minDocs,
            maxRounds = flag("--max-rounds").map(_.toInt).getOrElse(4),
            textCol = textCol), out)
          cutSummary(out)
        case _ =>
          sys.error("substring-dup cut-converge needs " +
            "<docsParquet> <outParquet>")
      }
      case "build" => pos match {
        case in :: idx :: Nil =>
          Dedup.writeSubstringIndex(docs(in), idx, window,
            nBuckets = flag("--buckets").map(_.toInt)
              .getOrElse(Dedup.DefaultSubstringBuckets),
            textCol = textCol)
          val (_, w, nb) = Dedup.openSubstringIndex(spark, idx)
          s"built index=$idx window=$w buckets=$nb"
        case _ =>
          sys.error("substring-dup build needs <docsParquet> <indexPath>")
      }
      case "append" => pos match {
        case in :: idx :: epochId :: Nil =>
          s"applied=${Dedup.appendSubstringEpoch(docs(in), idx, epochId,
            textCol)}"
        case _ =>
          sys.error("substring-dup append needs " +
            "<docsParquet> <indexPath> <epochId>")
      }
      case "probe" => pos match {
        case in :: idx :: out :: Nil =>
          writeFresh(Dedup.substringDupProbe(docs(in), idx, minDocs,
            textCol), out)
          statsSummary(out)
        case _ =>
          sys.error("substring-dup probe needs " +
            "<docsParquet> <indexPath> <outParquet>")
      }
      case "probe-spans" => pos match {
        case in :: idx :: out :: Nil =>
          writeFresh(Dedup.substringSpanProbe(docs(in), idx, minDocs,
            textCol), out)
          spansSummary(out)
        case _ =>
          sys.error("substring-dup probe-spans needs " +
            "<docsParquet> <indexPath> <outParquet>")
      }
      case "probe-cut" => pos match {
        case in :: idx :: out :: Nil =>
          writeFresh(Dedup.substringCutProbe(docs(in), idx, minDocs,
            textCol), out)
          cutSummary(out)
        case _ =>
          sys.error("substring-dup probe-cut needs " +
            "<docsParquet> <indexPath> <outParquet>")
      }
      case "index-stats" => pos match {
        case idx :: Nil =>
          renderPartitionStats(Dedup.substringPartitionStats(spark, idx), flags)
        case _ => sys.error("substring-dup index-stats needs <indexPath>")
      }
      case "fsck" => pos match {
        case idx :: Nil =>
          // READ-ONLY: no lock required
          renderFindings(Dedup.substringFsck(spark, idx), flags)
        case _ => sys.error("substring-dup fsck needs <indexPath>")
      }
      case "maintain" => pos match {
        case idx :: id :: Nil =>
          renderBucketMaintenance(Dedup.substringMaintain(spark, idx, id,
            bucketPolicy(flags, s"substring-dup $sub", maxRecordsPerFile =
              flag("--max-records-per-file").map(_.toLong).getOrElse(0L))))
        case _ =>
          sys.error("substring-dup maintain needs " +
            "<indexPath> <maintenanceId>")
      }
      case "compact" => pos match {
        case idx :: id :: Nil =>
          val n = Dedup.compactSubstringPartitions(spark, idx, id,
            maxFilesPerPartition =
              flag("--max-files").map(_.toInt).getOrElse(1),
            maxRecordsPerFile =
              flag("--max-records-per-file").map(_.toLong).getOrElse(0L),
            filesPerPartition =
              flag("--files-per-partition").map(_.toInt).getOrElse(1))
          s"compacted_buckets=$n"
        case _ =>
          sys.error("substring-dup compact needs <indexPath> <compactionId>")
      }
      case "recover" | "retire-superseded" | "purge-retired" =>
        val named = sub == "retire-superseded"
        pos match {
          case idx :: Nil if !named =>
            partitionedVerb(spark, "substring-dup", sub, idx, "wh_bucket=",
              "", flags)
          case idx :: name :: Nil if named =>
            partitionedVerb(spark, "substring-dup", sub, idx, "wh_bucket=",
              name, flags)
          case _ => sys.error(s"substring-dup $sub needs <indexPath>" +
            (if (named) " <name>" else ""))
        }
      case "rotate" => pos match {
        case in :: idx :: id :: Nil =>
          // geometry migration: --window/--buckets override the stored
          // _meta; absent = inherit (the library contract)
          val applied = Dedup.rotateSubstringIndex(docs(in), idx, id,
            window = flag("--window").map(_.toInt),
            nBuckets = flag("--buckets").map(_.toInt),
            textCol = textCol,
            deferRetire = flags.contains("--defer-retire"))
          val (_, w2, nb2) = Dedup.openSubstringIndex(spark, idx)
          s"applied=$applied window=$w2 buckets=$nb2"
        case _ =>
          sys.error("substring-dup rotate needs " +
            "<docsParquet> <indexPath> <rotationId>")
      }
      case otherSub =>
        sys.error(s"unknown substring-dup subcommand '$otherSub' " +
          "(stats|spans|cut|cut-converge|build|append|probe|" +
          "probe-spans|probe-cut|index-stats|fsck|maintain|compact|" +
          "recover|rotate|retire-superseded|purge-retired)")
    }
  }

  /** The lifecycle verbs every layout group shares (`ivf`, `pq`,
    * `substring-dup`, `dedup`): `recover` heals through the group's
    * `recover` body, which returns the quarantine count it leaves;
    * `purge-retired` runs the group's `purge` sweep under the REQUIRED
    * `--older-than` retention window.
    */
  private def layoutVerb(
      group: String,
      sub: String,
      flags: List[String])(
      recover: => Int)(
      purge: Long => Seq[String]): String = sub match {
    case "recover" =>
      s"recovered quarantined=$recover"
    case "purge-retired" =>
      val dur = flagValue(flags, "--older-than", s"$group $sub")
        .getOrElse(sys.error(s"$group purge-retired refuses to run " +
          "without an explicit --older-than retention window"))
      val purged = purge(parseDuration(dur))
      s"purged=${purged.size}${
        if (purged.isEmpty) "" else purged.mkString(" [", ", ", "]")}"
  }

  /** [[layoutVerb]] over ONE partitioned layout with partition prefix
    * `partPrefix` (`ivf`, `pq`, `substring-dup`), plus its
    * `retire-superseded` (under `name`, only forced by that verb).
    */
  private def partitionedVerb(
      spark: SparkSession,
      group: String,
      sub: String,
      layout: String,
      partPrefix: String,
      name: => String,
      flags: List[String]): String = {
    import graft.operators.{EpochLedger, Similarity}
    if (sub == "retire-superseded")
      // the layout's own flat-era prefix: a sweep with another one
      // would strand the flat dirs a migrating --defer-retire
      // rotation left in place
      s"retired=${Similarity.retireSupersededGenerations(spark, layout,
        name, partPrefix)}"
    else layoutVerb(group, sub, flags) {
      EpochLedger.recoverLayout(spark, layout, partPrefix)
      EpochLedger.listQuarantined(spark, layout).size
    }(EpochLedger.purgeRetiredOlderThan(spark, layout, _))
  }

  /** The one policy both bucket layouts' `maintain` verbs build from
    * their flags (`dedup` takes no `--max-records-per-file`, so its
    * caller passes 0).
    */
  private def bucketPolicy(
      flags: List[String],
      ctx: String,
      maxRecordsPerFile: Long): graft.operators.Dedup.BucketMaintainPolicy = {
    def flag(name: String): Option[String] = flagValue(flags, name, ctx)
    graft.operators.Dedup.BucketMaintainPolicy(
      maxFilesPerPartition = flag("--max-files").map(_.toInt).getOrElse(64),
      ledgerTailMax = flag("--ledger-tail").map(_.toInt).getOrElse(256),
      maxRecordsPerFile = maxRecordsPerFile,
      purgeRetiredOlderThanMs = flag("--purge-older-than").map(parseDuration),
      filesPerPartition =
        flag("--files-per-partition").map(_.toInt).getOrElse(1))
  }

  /** The one-line result of `dedup maintain` and `substring-dup
    * maintain`.
    */
  private def renderBucketMaintenance(
      m: graft.operators.Dedup.BucketMaintenance): String = {
    val acts =
      if (m.actions.isEmpty) "none (healthy)" else m.actions.mkString("; ")
    s"actions=$acts buckets=${m.buckets} " +
      s"maxFilesPerBucket=${m.maxFilesPerBucket} ledgerTail=${m.ledgerTail}"
  }

  /** A flag's value must be a real operand: taking the NEXT FLAG as
    * the value ('... --recall --lock-file f') would feed '--lock-file'
    * to .toInt — reject with a usage error instead.
    */
  private[cli] def flagValue(
      flags: List[String],
      name: String,
      ctx: String): Option[String] = {
    val i = flags.indexOf(name)
    if (i < 0) None
    else if (i + 1 >= flags.length || flags(i + 1).startsWith("--"))
      sys.error(s"$ctx: flag $name needs a value " +
        s"(got ${if (i + 1 >= flags.length) "nothing" else flags(i + 1)})")
    else Some(flags(i + 1))
  }

  /** The `dedup` subcommand bodies — the incremental-dedup layout
    * pair's maintenance as ops commands, like [[ivfCommand]] for the
    * IVF layout. Positional operands come before flags.
    */
  private[cli] def dedupCommand(
      spark: SparkSession,
      sub: String,
      pos: List[String],
      flags: List[String]): String = {
    import graft.operators.Dedup
    def flag(name: String): Option[String] =
      flagValue(flags, name, s"dedup $sub")
    sub match {
      case "stats" => pos match {
        case hist :: Nil =>
          renderPartitionStats(Dedup.historyPartitionStats(spark, hist), flags)
        case _ => sys.error("dedup stats needs <historyPath>")
      }
      case "fsck" => pos match {
        case hist :: idx :: Nil =>
          // READ-ONLY: no lock required
          renderFindings(Dedup.dedupFsck(spark, hist, idx), flags)
        case _ => sys.error("dedup fsck needs <historyPath> <indexPath>")
      }
      case "maintain" => pos match {
        case hist :: idx :: id :: Nil =>
          renderBucketMaintenance(Dedup.dedupMaintain(spark, hist, idx, id,
            bucketPolicy(flags, s"dedup $sub", maxRecordsPerFile = 0L)))
        case _ =>
          sys.error("dedup maintain needs " +
            "<historyPath> <indexPath> <maintenanceId>")
      }
      case "compact-history" => pos match {
        case hist :: idx :: id :: Nil =>
          val n = Dedup.compactHistoryPartitions(spark, hist, idx, id,
            maxFilesPerPartition =
              flag("--max-files").map(_.toInt).getOrElse(1),
            maxRecordsPerFile =
              flag("--max-records-per-file").map(_.toLong).getOrElse(0L),
            filesPerPartition =
              flag("--files-per-partition").map(_.toInt).getOrElse(1))
          s"compacted_buckets=$n"
        case _ =>
          sys.error("dedup compact-history needs " +
            "<historyPath> <indexPath> <compactionId>")
      }
      case "recover" | "purge-retired" => pos match {
        case hist :: idx :: Nil =>
          // the PAIR's bodies: recovery of both roots from the history
          // ledger, quarantine counted and retired dirs purged across both
          layoutVerb("dedup", sub, flags) {
            Dedup.recoverRotations(spark, hist, idx)
            Dedup.listQuarantined(spark, hist, idx).size
          }(Dedup.purgeRetiredOlderThan(spark, hist, idx, _))
        case _ => sys.error(s"dedup $sub needs <historyPath> <indexPath>")
      }
      case "compact-ledger" => pos match {
        case hist :: Nil =>
          s"rolled=${graft.operators.EpochLedger.compactLedger(spark, hist)}"
        case _ => sys.error("dedup compact-ledger needs <historyPath>")
      }
      case "rebuild-index" => pos match {
        case hist :: idx :: Nil =>
          val geometry = (flag("--k"), flag("--bands")) match {
            case (Some(k), Some(b)) => Some((k.toInt, b.toInt))
            case (None, None) => None
            case _ => sys.error(
              "dedup rebuild-index: pass BOTH --k and --bands or neither")
          }
          s"indexed_docs=" +
            s"${Dedup.rebuildMinhashIndex(spark, hist, idx, geometry)}"
        case _ =>
          sys.error("dedup rebuild-index needs <historyPath> <indexPath>")
      }
      case "rebuild-bloom" => pos match {
        case hist :: Nil =>
          val expected = flag("--expected-items").map(_.toLong)
            .getOrElse(sys.error(
              "dedup rebuild-bloom needs --expected-items (size the " +
                "sketch for the corpus the epoch loop will GROW to)"))
          val fpp = flag("--fpp").map(_.toDouble).getOrElse(0.01)
          // heal FIRST, like every other rebuild entry: digesting a
          // torn layout would stamp a poisoned guard with tokens the
          // later recovery can never invalidate (quarantine writes no
          // ledger entry)
          Dedup.recoverRotations(spark, hist)
          val (history, _) = Dedup.openHistoryBucketed(spark, hist)
          val bloom = Dedup.digestBloom(history, expected, fpp)
          Dedup.writeBloomSidecar(spark, hist, bloom)
          // token-only check: re-deserializing the corpus-sized filter
          // just written, only to print a boolean, is pure waste
          s"sidecar_fresh=${Dedup.bloomSidecarFresh(spark, hist)}"
        case _ =>
          sys.error("dedup rebuild-bloom needs <historyPath>")
      }
      case otherSub =>
        sys.error(s"unknown dedup subcommand '$otherSub' " +
          "(fsck|stats|maintain|compact-history|rebuild-index|rebuild-bloom|" +
          "recover|purge-retired|compact-ledger)")
    }
  }

  /** `<n>[s|m|h|d]` (no suffix = seconds) → milliseconds. */
  private[cli] def parseDuration(s: String): Long = {
    if (s.isEmpty) sys.error("bad duration '' (want <n>[s|m|h|d])")
    val (num, mult) = s.last match {
      case 's' => (s.dropRight(1), 1000L)
      case 'm' => (s.dropRight(1), 60L * 1000)
      case 'h' => (s.dropRight(1), 3600L * 1000)
      case 'd' => (s.dropRight(1), 86400L * 1000)
      case _ => (s, 1000L)
    }
    val n = try num.toLong catch {
      case _: NumberFormatException =>
        sys.error(s"bad duration '$s' (want <n>[s|m|h|d])")
    }
    require(n > 0, s"duration must be positive, got '$s'")
    n * mult
  }
}
