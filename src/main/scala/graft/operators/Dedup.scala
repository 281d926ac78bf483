package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.functions.{MinHashes, TextHash}

/** Deduplication operators over a `documents(doc_id, text, …)` table.
  *
  * Scale design notes (100 TB framing):
  *  - exact dedup is one hash-shuffle on the digest — the canonical
  *    map-side-combinable groupBy.
  *  - exact n-gram Jaccard NEVER materializes the doc×doc cross product:
  *    it explodes (doc, shingle) pairs and self-joins on the shingle hash,
  *    so only pairs sharing ≥1 shingle (the only ones with Jaccard > 0)
  *    are generated — shuffle keyed on shingle hash. Stop-shingle skew is
  *    handled by dropping shingles above a document-frequency cap (a
  *    shingle shared by thousands of docs carries no dedup signal but
  *    creates a quadratic bucket).
  *  - MinHash LSH is the sublinear path: k permutations → b bands → join
  *    on band key; candidates are then verified exactly, count-based —
  *    only longs ever cross a shuffle, never shingle arrays.
  *  - SimHash packs a document into one 32-bit signature; banding on 8-bit
  *    chunks gives the candidate join, Hamming distance the verdict.
  *
  * Everything is deterministic (portable polynomial hashes, no RNG) so
  * every operator is DuckDB-oracle-checkable. Intermediates referenced
  * from several plan branches are cached for the duration of the operator
  * call only ([[Caching.withCached]]).
  */
object Dedup {

  /** Exact duplicate groups by content digest: digest → keeper (min id) +
    * copy count. One shuffle, partial-aggregated map-side.
    */
  def exact(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.groupBy(md5(col(textCol).cast("binary")).as("text_md5"))
      .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("copies"))

  /** Content-digest Bloom filter of a (historical) corpus — the
    * INCREMENTAL exact-dedup guard: an ingest batch checks membership
    * against a broadcast O(bits) sketch instead of joining 100 TB of
    * history. Build once per epoch over the history (one pass,
    * tree-aggregated), ship to every executor, and [[filterNovel]] each
    * arriving batch. False positives (rate `fpp`) drop a few NOVEL docs
    * — the usual dedup trade, tunable; false negatives are impossible,
    * so no true duplicate ever slips through. Definite duplicates for
    * audit come from re-joining the (tiny) surviving batch if needed.
    */
  def digestBloom(
      docs: DataFrame,
      expectedItems: Long,
      fpp: Double = 0.01,
      textCol: String = "text"): org.apache.spark.util.sketch.BloomFilter =
    docs.select(md5(col(textCol).cast("binary")).as("text_md5"))
      .stat.bloomFilter("text_md5", expectedItems, fpp)

  /** The rows of `batch` whose content digest is NOT in the historical
    * Bloom filter ([[digestBloom]]) — plus exact dedup WITHIN the batch
    * (first id per digest wins), so the result is appendable as-is. The
    * membership probe is a broadcast-variable UDF: justified because no
    * builtin expression exposes BloomFilter.mightContain, the sketch
    * must ride the closure, and the per-row work (one md5 + a few bit
    * probes) dwarfs the UDF boundary cost. Narrow filter; the only
    * shuffle is the within-batch groupBy on the digest.
    *
    * Convenience form: broadcasts the sketch PER CALL. A loop calling
    * this every micro-batch with a large per-epoch sketch accumulates
    * one broadcast per batch on the driver and executors until GC —
    * such callers should broadcast once per epoch and use the
    * `Broadcast`-handle overload, unpersisting the old handle when the
    * epoch's sketch is replaced (the broadcast must outlive every
    * returned frame still unevaluated, which the epoch boundary
    * guarantees and a per-call destroy could not).
    */
  def filterNovel(
      batch: DataFrame,
      history: org.apache.spark.util.sketch.BloomFilter,
      textCol: String): DataFrame =
    filterNovel(batch, batch.sparkSession.sparkContext.broadcast(history),
      textCol)

  def filterNovel(
      batch: DataFrame,
      history: org.apache.spark.util.sketch.BloomFilter): DataFrame =
    filterNovel(batch, history, "text")

  /** [[filterNovel]] over an already-broadcast sketch — the per-epoch
    * form an ingest loop should use (one broadcast per epoch, reused
    * across every micro-batch of that epoch).
    */
  def filterNovel(
      batch: DataFrame,
      history: org.apache.spark.broadcast.Broadcast[
        org.apache.spark.util.sketch.BloomFilter],
      textCol: String = "text"): DataFrame = {
    // null digest (null text) = not in the filter: null-text rows pass
    // to the in-batch dedup below, which groups them like Dedup.exact
    val seen = udf((d: String) => d != null && history.value.mightContainString(d))
    val withDigest = batch
      .withColumn("text_md5", md5(col(textCol).cast("binary")))
    val novel = withDigest.filter(!seen(col("text_md5")))
    val keep = novel.groupBy("text_md5")
      .agg(min("doc_id").as("keeper_doc_id"))
      .withColumnRenamed("text_md5", "keeper_md5")
    // null-SAFE digest equality (<=>): groupBy puts all null-text rows in
    // one group, and its keeper row must match the null digest back — a
    // null-unsafe join key would silently drop every null-text row
    novel.join(keep,
        col("text_md5") <=> col("keeper_md5") &&
          col("doc_id") === col("keeper_doc_id"),
        "left_semi")
      .drop("text_md5")
  }

  /** doc_id + distinct 3-gram shingle hashes — one fused compiled pass
    * per document ([[graft.functions.ShingleHashes]]; bit-identical to
    * the tokenize → window → concat_ws → poly-hash → distinct pipeline
    * it replaces). A narrow map over the scan — except when the input
    * has fewer partitions than cores (tiny local fixtures): then one
    * round-robin repartition spreads the cached shingle table so every
    * consumer's map side runs parallel. At scale the scan already has
    * ≥cores partitions and no shuffle happens. NOT cached here: callers
    * that reference the shingle sets from several plan branches scope
    * the cache to their own call via [[Caching.withCached]].
    */
  def shingled(docs: DataFrame, textCol: String = "text", n: Int = 3): DataFrame = {
    val cores = docs.sparkSession.sparkContext.defaultParallelism
    // the `.rdd` partition probe is free on an exchange-free plan (a
    // scan has no query stages to resolve), but on a join/aggregate
    // INPUT (the probe paths' candidate slivers) AQE materializes every
    // upstream stage just to count partitions — a throwaway execution
    // of the very joins the real action then re-runs (measured: 7 such
    // jobs per q63 run). For exchanged inputs the probe is skipped:
    // their reduce-side parallelism is AQE's job, and the sliver frames
    // this branch sees are candidate-bounded, never the corpus. (The
    // asDouble twin keeps its unconditional probe — its PQ encode paths
    // end in a narrow post-exchange stage that measurably needs the
    // spread; see the NOTE there.)
    // exchanges are inserted by the PREPARATION rules (EnsureRequirements
    // runs inside AQE), so `sparkPlan` never shows them — judge the
    // adaptive plan's initialPlan instead
    val hasExchange = (docs.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.initialPlan
      case p => p
    }).exists(_.isInstanceOf[org.apache.spark.sql.execution.exchange.Exchange])
    val spread =
      if (hasExchange || docs.rdd.getNumPartitions >= cores) docs
      else docs.repartition(cores)
    spread.select(col("doc_id"),
      graft.functions.ShingleHashes(col(textCol), n).as("shh"))
  }

  /** Default document-frequency cap for candidate-generating shingles.
    * A shingle shared by d documents creates a d²/2-pair join bucket while
    * carrying essentially no dedup signal once d is large — near-duplicate
    * pairs share many shingles, so they are still found through any one of
    * their rarer shared shingles. Above the cap a shingle switches from
    * all-pairs to STAR pairing (its minimum doc_id anchors every other
    * carrier), so even a >cap exact-duplicate cluster — where every
    * shingle is heavy — still chains to its anchor at linear cost.
    */
  val DefaultMaxShingleDf: Int = 128

  /** N-gram Jaccard near-dup pairs (threshold in (0,1]).
    *
    * Candidate generation explodes (doc, shingle-hash) and self-joins on
    * the hash. Shingles whose document frequency exceeds `maxShingleDf`
    * (skew guard, on by default) pair each carrier with the shingle's
    * anchor (min doc_id) only — linear instead of quadratic in df, and a
    * >cap duplicate cluster still surfaces via its anchor. Candidates are
    * then verified EXACTLY, but count-based: the shared-shingle count per
    * pair is an aggregation over the (doc, hash) rows themselves — light
    * shared via groupBy-count of the self-join, heavy shared via a
    * candidate-restricted row join — so only longs cross shuffles, never
    * shingle arrays, and |A∪B| = n_a + n_b − |A∩B| from per-doc set
    * sizes. The cap never changes a reported similarity; it only limits
    * which pairs among heavy-only carriers are examined (non-anchor pairs
    * of a heavy-only cluster). Pass None for fully exact all-pairs.
    */
  def ngramJaccardPairs(
      docs: DataFrame,
      threshold: Double,
      textCol: String = "text",
      n: Int = 3,
      maxShingleDf: Option[Int] = Some(DefaultMaxShingleDf)): DataFrame = {
    val sh = shingled(docs, textCol, n)
    val exploded = sh.select(col("doc_id"), explode(col("shh")).as("h"))
    // df + anchor per shingle hash (the skew-guard input) come from a
    // map-side-combinable groupBy joined back on h (NOT a window: a window
    // buffers each hash partition in one task — the extreme-skew shingle
    // is exactly the case the cap guards, so the df computation itself
    // must not re-create the skewed single-task buffer). Cached in the
    // operator scope because BOTH the anyHeavy probe and the skew-path
    // tagged join read it — uncached, the skew branch would aggregate
    // `exploded` a second time.
    val hdf = exploded.groupBy("h")
      .agg(count(lit(1)).as("df"), min("doc_id").as("anchor"))
    val pinned = if (maxShingleDf.isDefined) Seq(sh, hdf) else Seq(sh)
    Caching.withCached(pinned: _*) {
      val sizes = sh.select(col("doc_id"), size(col("shh")).as("n_sh"))

      // split by document frequency; heavy rows keep their anchor doc.
      // The hdf join and the light self-join below are both
      // hash-partitioned on h.
      val (light, heavyRows) = maxShingleDf match {
        case Some(cap) =>
          // adaptive plan choice (runtime stats, in the AQE spirit): one
          // map-side-combined probe over the cached shingle rows decides
          // whether any shingle exceeds the cap. The common no-skew case
          // then runs the plain all-pairs plan — none of the heavy-side
          // tagging/pruning/star stages are even scheduled — while a
          // genuinely skewed corpus engages the full machinery.
          val anyHeavy = hdf.filter(col("df") > cap).limit(1).count() > 0
          if (!anyHeavy) (exploded, None)
          else {
            val tagged = exploded.join(hdf, Seq("h"))
            (tagged.filter(col("df") <= cap).select("doc_id", "h"),
              Some(tagged.filter(col("df") > cap).select("doc_id", "h", "anchor")))
          }
        case None => (exploded, None)
      }

      // shared LIGHT shingles per co-occurring pair: groupBy-count over the
      // hash self-join — 3-long rows through one shuffle, map-side combined
      val lightShared = light.as("a").join(light.as("b"), Seq("h"))
        .filter(col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("shared_light"))

      def jac(shared: Column, nA: Column, nB: Column): Column =
        round(shared.cast(DoubleType) / (nA + nB - shared), 6)

      heavyRows match {
        case None =>
          lightShared
            .join(sizes.select(col("doc_id").as("doc_a"), col("n_sh").as("n_a")),
              Seq("doc_a"))
            .join(sizes.select(col("doc_id").as("doc_b"), col("n_sh").as("n_b")),
              Seq("doc_b"))
            .withColumn("jaccard",
              jac(col("shared_light"), col("n_a"), col("n_b")))
            .filter(col("jaccard") >= threshold)
            .select("doc_a", "doc_b", "jaccard")
        case Some(heavy) =>
          // exact-safe prune BEFORE any pair bookkeeping: a pair's total
          // shared is at most shared_light + min(per-doc heavy-shingle
          // counts), and jaccard is monotone in shared, so any pair whose
          // upper-bound jaccard misses the threshold can be dropped without
          // looking at a single heavy row. Pruning each candidate source
          // independently is safe (the star copy's bound is never larger
          // than the light copy's), and on a corpus with no heavy shingles
          // it collapses the candidate set to the final answer immediately.
          val heavyCnt = heavy.groupBy("doc_id").agg(count(lit(1)).as("nh"))
          val docStats = sizes.join(heavyCnt, Seq("doc_id"), "left")
            .select(col("doc_id"), col("n_sh"),
              coalesce(col("nh"), lit(0L)).as("nh"))
          def pruneByBound(pairs: DataFrame): DataFrame = {
            val bound = col("shared_light") + least(col("nh_a"), col("nh_b"))
            pairs
              .join(docStats.select(col("doc_id").as("doc_a"),
                col("n_sh").as("n_a"), col("nh").as("nh_a")), Seq("doc_a"))
              .join(docStats.select(col("doc_id").as("doc_b"),
                col("n_sh").as("n_b"), col("nh").as("nh_b")), Seq("doc_b"))
              .filter(jac(bound, col("n_a"), col("n_b")) >= threshold)
              .select("doc_a", "doc_b", "shared_light", "n_a", "n_b")
          }
          val starPairs = heavy.filter(col("doc_id") =!= col("anchor"))
            .select(col("anchor").as("doc_a"), col("doc_id").as("doc_b"))
            .distinct()
            .withColumn("shared_light", lit(0L))
          // star pairs may duplicate light pairs; keep the real light count
          val pruned = pruneByBound(lightShared)
            .unionByName(pruneByBound(starPairs))
            .groupBy("doc_a", "doc_b", "n_a", "n_b")
            .agg(max("shared_light").as("shared_light"))
          // exact heavy-shared count for the survivors: join each side's
          // heavy rows back in — row counts, never arrays
          val ha = heavy.select(col("doc_id").as("doc_a"), col("h"))
          val hb = heavy.select(col("doc_id").as("doc_b"), col("h"))
          val heavyShared = pruned.select("doc_a", "doc_b")
            .join(ha, Seq("doc_a"))
            .join(hb, Seq("doc_b", "h"))
            .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("shared_heavy"))
          pruned
            .join(heavyShared, Seq("doc_a", "doc_b"), "left")
            .withColumn("shared",
              col("shared_light") + coalesce(col("shared_heavy"), lit(0L)))
            .withColumn("jaccard", jac(col("shared"), col("n_a"), col("n_b")))
            .filter(col("jaccard") >= threshold)
            .select("doc_a", "doc_b", "jaccard")
      }
    }
  }

  /** Cross-document EXACT-SUBSTRING duplication — the contiguous-window
    * complement of [[ngramJaccardPairs]]' set overlap, the signal behind
    * substring-level train-set dedup (Lee et al. 2022's premise: verbatim
    * repeated runs, not just shared vocabulary, are what a model
    * memorizes). Every length-`window` token window at STRIDE 1 of every
    * document is hashed; a window is DUPLICATED when its hash occurs in
    * at least `minDocs` DISTINCT documents (within-doc repeats are
    * [[TextAnalysis.repetition]]'s signal and deliberately do not
    * count); each document reports its duplicated-window fraction — the
    * actionable per-doc metric (a doc that is substantially a verbatim
    * copy of another scores near 1.0, boilerplate-free unique text 0.0).
    *
    * Scale shape: positions are one row per corpus token (O(corpus
    * tokens), linear — never doc×doc); the window hash is the compiled
    * ROLLING kernel [[graft.functions.WindowPolyHashes]] (per-token
    * hash once, O(1) combine per position — no per-window string), and
    * the DuckDB oracle recomputes the identical per-token-hash fold;
    * the df is ONE map-side-partial distinct-doc aggregation
    * keyed on the hash; the dup marking joins the (small) duplicated-
    * hash set back to the position rows — the join carries only
    * (hash, doc_id) longs, never text, and AQE's skew split covers a
    * boilerplate window shared by millions of docs. The position rows
    * are cached across their two consumers (df build + dup mark). Docs
    * shorter than `window` (and null-text docs) report 0 windows,
    * fraction 0.0 — both engines compute that case explicitly.
    */
  def substringDupStats(
      docs: DataFrame,
      window: Int = 16,
      minDocs: Int = 2,
      textCol: String = "text"): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val (d, pos) = windowPositions(docs, window, textCol)
    Caching.withCached(pos) {
      val dup = pos.join(dupWindowHashes(pos, minDocs), Seq("whash"))
        .groupBy("doc_id").agg(count(lit(1)).as("dup_w"))
      substringStatsTail(d, dup)
    }
  }

  /** The per-doc stats tail shared by [[substringDupStats]] and
    * [[substringDupProbeOn]]'s distributed route: each tokenized row's
    * `(doc_id, n_windows)` left-joined to its doc's `dup_w`, then
    * [[substringStatsRow]].
    */
  private def substringStatsTail(d: DataFrame, dup: DataFrame): DataFrame =
    substringStatsRow(d.select(col("doc_id"), col("n_windows"))
      .join(dup, Seq("doc_id"), "left"))

  /** The per-doc stats select over `(doc_id, n_windows, dup_w)` rows —
    * one definition of the output row (zero-window docs, null-dup
    * coalesce, 6-decimal fraction) for the batch form, the distributed
    * probe and the driver probe, so they can never disagree on the
    * shape.
    */
  private def substringStatsRow(joined: DataFrame): DataFrame =
    joined.select(col("doc_id"),
      col("n_windows").cast("long").as("n_windows"),
      coalesce(col("dup_w"), lit(0L)).as("dup_windows"),
      round(when(col("n_windows") === 0, lit(0.0))
        .otherwise(coalesce(col("dup_w"), lit(0L)).cast("double") /
          col("n_windows")), 6).as("dup_window_frac"))

  /** The REMOVAL surgery over [[substringDupStats]]' signal: each
    * document's duplicated window starts merged into maximal half-open
    * TOKEN SPANS `[span_start, span_end)` — overlapping and touching
    * runs coalesce, so the output is the minimal span set covering
    * every cross-doc-duplicated window (what a Lee-et-al-style
    * substring-level dedup cuts out of the training text; the cut
    * itself is a per-doc slice-and-rejoin once the spans exist).
    *
    * The merge is gaps-and-islands over the sorted dup starts — two
    * window functions and a groupBy, no fold: consecutive starts whose
    * gap is <= `window` belong to one span (their windows overlap or
    * touch), and each island reports `[min(p), max(p) + window)`. The
    * per-doc window partition is bounded by the document's own token
    * count, never corpus-proportional; every other stage is shared
    * with [[substringDupStats]] verbatim.
    */
  def substringDupSpans(
      docs: DataFrame,
      window: Int = 16,
      minDocs: Int = 2,
      textCol: String = "text"): DataFrame =
    substringDupSpansCounted(docs, window, minDocs, textCol, None)

  /** [[substringDupSpans]] with an optional [[Observation]] riding the
    * duplicated-position rows — what lets [[cutToConvergence]]'s
    * refusal path report the EXACT residual duplicated-window count
    * (sum of per-doc dup windows == |dup positions|) from the spans
    * materialization it already paid for, instead of re-scoring the
    * corpus with a third [[substringDupStats]] pass.
    */
  private def substringDupSpansCounted(
      docs: DataFrame,
      window: Int,
      minDocs: Int,
      textCol: String,
      obs: Option[org.apache.spark.sql.Observation]): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val (_, pos) = windowPositions(docs, window, textCol)
    Caching.withCached(pos) {
      val dupPos = pos
        .join(dupWindowHashes(pos, minDocs), Seq("whash"))
        .select("doc_id", "p")
      val observed = obs.fold(dupPos)(o =>
        dupPos.observe(o, count(lit(1)).as("dup_windows")))
      spansFromDupPositions(observed, window)
    }
  }

  /** The gaps-and-islands merge of duplicated window STARTS into
    * maximal half-open token spans — ONE definition shared by the
    * full-corpus [[substringDupSpans]] and the incremental
    * [[substringSpanProbeOn]], so the batch and probe forms can never
    * disagree on how starts coalesce. Two window functions and a
    * groupBy over `(doc_id, p)` rows; the per-doc window partition is
    * bounded by the document's own token count.
    */
  private def spansFromDupPositions(
      dupPos: DataFrame,
      window: Int): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy("p")
    dupPos
      .withColumn("prev", lag("p", 1).over(w))
      .withColumn("new_isl",
        when(col("prev").isNull || col("p") - col("prev") > window, 1L)
          .otherwise(0L))
      .withColumn("island", sum("new_isl").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("doc_id", "island")
      .agg(min("p").cast("long").as("span_start"),
        (max("p") + window).cast("long").as("span_end"))
      .select("doc_id", "span_start", "span_end")
  }

  /** (tokenized frame with `n_windows`, the stride-1 window-position
    * rows `(doc_id, p, whash)`) — ONE definition of what a window
    * position is, shared by the stats and spans forms so the two can
    * never disagree on a window's hash or a document's window count.
    * The hash is the compiled ROLLING kernel
    * ([[graft.functions.WindowPolyHashes]] — all of a doc's window
    * hashes in one pass over its tokens, no per-position window string;
    * the DuckDB oracle recomputes the identical per-token-hash fold),
    * posexploded so `p` is the window's start position exactly as the
    * sequence-explode form produced it.
    */
  private[operators] def windowPositions(
      docs: DataFrame,
      window: Int,
      textCol: String): (DataFrame, DataFrame) = {
    val d = TextAnalysis.withTokens(docs, textCol)
      .withColumn("n_windows",
        when(col("toks").isNull, lit(0))
          .otherwise(greatest(size(col("toks")) - window + 1, lit(0))))
    val pos = d.filter(col("n_windows") > 0)
      .select(col("doc_id"),
        posexplode(graft.functions.WindowPolyHashes(col("toks"), window)))
      .select(col("doc_id"), col("pos").cast("int").as("p"),
        col("col").as("whash"))
    (d, pos)
  }

  /** A window hash's `wh_bucket` partition value, `b<whash mod nBuckets>`
    * — the one bucket rule of the substring index's writers and probes
    * ([[bucketName]] is its driver-side twin).
    */
  private def bucketOf(whash: Column, nBuckets: Int): Column =
    concat(lit("b"), pmod(whash, lit(nBuckets.toLong)))

  /** [[bucketOf]] on the driver: `floorMod` is `pmod` for a positive
    * modulus. */
  private def bucketName(whash: Long, nBuckets: Int): String =
    s"b${java.lang.Math.floorMod(whash, nBuckets.toLong)}"

  /** The window hashes occurring in >= `minDocs` distinct documents —
    * the duplicated set both substring forms mark against. */
  private def dupWindowHashes(pos: DataFrame, minDocs: Int): DataFrame =
    pos.groupBy("whash")
      .agg(countDistinct("doc_id").as("ddf"))
      .filter(col("ddf") >= minDocs)
      .select("whash")

  /** The CUT itself over [[substringDupSpans]]' output — the deliverable
    * substring-level dedup exists for (Lee et al. 2022: train on the
    * corpus with cross-document-duplicated substrings excised): each
    * document's tokens with every position covered by one of its spans
    * REMOVED, rejoined with single spaces.
    *
    * Tokenizer-consistent with [[windowPositions]] (the same whitespace
    * split), so a cut document re-scored by [[substringDupStats]]
    * against the same corpus reports zero duplicated windows for every
    * window the spans covered. The known residual of span surgery —
    * a SEAM window newly formed where two kept runs meet can in
    * principle match some still-duplicated hash — is a property of the
    * method, not a defect of the cut; re-score and re-cut if it
    * matters.
    *
    * `spans` is any `(doc_id, span_start, span_end)` frame of half-open
    * TOKEN spans (normally [[substringDupSpans]]' output). Overlapping
    * or duplicate spans are tolerated — covered-position semantics make
    * the cut idempotent in them. Output is one row per input doc:
    * `(doc_id, cut_text, n_kept, n_cut)`; `cut_text` is the
    * space-rejoined kept tokens (whitespace NORMALIZED — the contract
    * is token identity, not byte identity), `''` when every token was
    * cut, null for null-text docs.
    *
    * Scale shape: spans aggregate per doc (bounded by the doc's own
    * token count, never corpus-proportional), ONE doc_id-keyed shuffle
    * joins them to the corpus, and the cut is a per-row higher-order
    * `filter` over the token array — no explode, no token-level join,
    * O(corpus tokens) total work.
    */
  def cutSpans(
      docs: DataFrame,
      spans: DataFrame,
      textCol: String = "text"): DataFrame =
    cutSpansOnTokens(TextAnalysis.withTokens(docs, textCol), spans)

  /** [[cutSpans]] over an ALREADY-TOKENIZED frame (`doc_id` + `toks`)
    * — the shared tail that lets [[substringCutProbeOn]] reuse the span
    * probe's tokenize pass instead of splitting the batch text twice on
    * the in-stream latency path.
    */
  private def cutSpansOnTokens(
      tokenized: DataFrame,
      spans: DataFrame): DataFrame = {
    val sp = spans.groupBy("doc_id")
      .agg(collect_list(struct(
        col("span_start").cast("long").as("s"),
        col("span_end").cast("long").as("e"))).as("cut_spans"))
    val d = tokenized
      .join(sp, Seq("doc_id"), "left")
      .withColumn("kept", expr(
        "filter(toks, (t, i) -> cut_spans IS NULL OR " +
          "NOT exists(cut_spans, sp -> i >= sp.s AND i < sp.e))"))
    d.select(
      col("doc_id"),
      when(col("toks").isNull, lit(null).cast("string"))
        .otherwise(concat_ws(" ", col("kept"))).as("cut_text"),
      when(col("toks").isNull, lit(0L))
        .otherwise(size(col("kept")).cast("long")).as("n_kept"),
      when(col("toks").isNull, lit(0L))
        .otherwise((size(col("toks")) - size(col("kept"))).cast("long"))
        .as("n_cut"))
  }

  /** [[cutSpans]] looped to a FIXED POINT of the seam residual: spans →
    * cut → re-score until the corpus reports zero duplicated windows or
    * `maxRounds` cuts have run. [[cutSpans]]' docstring documents the
    * residual this bounds — a seam window newly formed where two kept
    * runs meet can match a still-duplicated hash, so one cut is not
    * always enough; each round re-derives spans over the CUT corpus and
    * excises again. Non-convergence inside the bound REFUSES loudly
    * with the residual duplicated-window count (a pathological corpus —
    * e.g. window=1 over heavily repeated vocabulary — can oscillate;
    * silence there would ship text the caller believes clean).
    *
    * Output is [[cutSpans]]' shape `(doc_id, cut_text, n_kept, n_cut)`
    * with `n_cut` CUMULATIVE across rounds (original tokens minus
    * surviving tokens). Emptied (`n_kept = 0`) and null-text docs leave
    * the re-score loop — they have no windows left to contribute.
    * Cost: one [[substringDupSpans]] + [[cutSpans]] pass per round over
    * the shrinking corpus, rounds bounded by `maxRounds`; each round's
    * result is locally checkpointed so the plan stays flat. The common
    * corpus converges in round 1 (the re-score then just proves it).
    */
  def cutToConvergence(
      docs: DataFrame,
      window: Int = 16,
      minDocs: Int = 2,
      maxRounds: Int = 4,
      textCol: String = "text"): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    val live = col("cut_text").isNotNull && col("n_kept") > 0
    def liveDocs(cur: DataFrame): DataFrame =
      cur.filter(live).select(col("doc_id"), col("cut_text").as(textCol))
    // each re-score's dup-position count rides the spans checkpoint as
    // an Observation (single execution under the eager localCheckpoint),
    // so the refusal path reports the exact residual without a third
    // corpus scan; `residual` always holds the LAST re-score's count
    var residual = new org.apache.spark.sql.Observation("ctc-r0")
    def spansOf(cur: DataFrame, round: Int): DataFrame = {
      residual = new org.apache.spark.sql.Observation(s"ctc-r$round")
      substringDupSpansCounted(liveDocs(cur), window, minDocs, textCol,
          Some(residual))
        .localCheckpoint(eager = true)
    }
    var cur = cutSpans(docs,
        substringDupSpans(docs, window, minDocs, textCol), textCol)
      .localCheckpoint(eager = true)
    var rounds = 1
    var spans = spansOf(cur, rounds)
    while (!spans.isEmpty && rounds < maxRounds) {
      val rec = cutSpans(liveDocs(cur), spans, textCol)
        .select(col("doc_id"), col("cut_text").as("r_text"),
          col("n_kept").as("r_kept"), col("n_cut").as("r_cut"))
      cur = cur.join(rec, Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("r_kept").isNotNull, col("r_text"))
            .otherwise(col("cut_text")).as("cut_text"),
          coalesce(col("r_kept"), col("n_kept")).as("n_kept"),
          (col("n_cut") + coalesce(col("r_cut"), lit(0L))).as("n_cut"))
        .localCheckpoint(eager = true)
      rounds += 1
      spans = spansOf(cur, rounds)
    }
    if (!spans.isEmpty) {
      // the eager checkpoint above completed the action, so get() does
      // not block; this is the re-score the loop already ran, not a
      // fresh substringDupStats pass over the corpus
      val res = Option(residual.get("dup_windows")).collect {
        case l: java.lang.Long => l.longValue()
      }.getOrElse(-1L)
      sys.error(s"cutToConvergence: $res duplicated window(s) " +
        s"remain after $maxRounds cut round(s) (window=$window, " +
        s"minDocs=$minDocs) — the corpus re-forms duplicated seams " +
        "faster than the bound; raise maxRounds or treat the corpus " +
        "as pathological for span surgery at this window size")
    }
    cur
  }

  // ------------------------------------------- incremental substring dedup

  /** Default `wh_bucket` partition count for [[writeSubstringIndex]] —
    * same sizing logic as [[DefaultHistoryBuckets]]: a real deployment
    * sizes this so one bucket is a few files.
    */
  val DefaultSubstringBuckets: Int = 256

  /** The window-hash FORMAT version stamped into the substring index's
    * `_meta` and enforced by every reader/appender. Version 1 (implied
    * by a `_meta` without the field) hashed the joined window STRING
    * (`poly_hash(concat_ws(' ', slice(toks, p+1, w)))`); version 2 is
    * [[graft.functions.WindowPolyHashes]]' rolling per-token-hash
    * fold. The two namespaces never collide, so probing a v1 layout
    * with v2 hashes would not error — it would report ZERO history
    * duplicates and stream duplicated text through the gate uncut, and
    * an append would graft a second namespace into the index. Readers
    * therefore refuse a mismatched layout loudly;
    * [[rotateSubstringIndex]] is the sanctioned migration (it
    * re-derives every row from the corpus and stamps the current
    * version).
    */
  val SubstringHashVersion: Int = 2

  /** Read a substring layout's `_meta` as (window, nBuckets), enforcing
    * the [[SubstringHashVersion]] contract unless the caller IS the
    * migration path (`requireCurrentHash = false` — rotation re-derives
    * from the corpus, so inheriting a legacy layout's geometry is the
    * point).
    */
  private def readSubstringMeta(
      spark: org.apache.spark.sql.SparkSession,
      root: String,
      requireCurrentHash: Boolean = true): (Int, Int) = {
    // driver-side sidecar read (TinyParquet): the Spark-job form
    // (read.parquet + head) cost two scheduled jobs per open/append/
    // probe — fixed overhead on the streaming gate's latency path
    val m = TinyParquet.row(spark, s"$root/_meta")
    if (requireCurrentHash) {
      val ver = m.get("hash_ver").map(_.asInstanceOf[Int]).getOrElse(1)
      require(ver == SubstringHashVersion,
        s"substring index at $root carries window-hash format v$ver " +
          s"but this build computes v$SubstringHashVersion — the " +
          "namespaces never collide, so a probe would silently report " +
          "zero history duplicates and an append would mix formats. " +
          "Rebuild through rotateSubstringIndex (the geometry-" +
          "migration path; prior epoch ids stay ledgered).")
    }
    (m("window").asInstanceOf[Int], m("n_buckets").asInstanceOf[Int])
  }

  /** Persist the incremental-substring-dedup history at `path`: one row
    * per DISTINCT window hash of the written corpus, `(whash, ddf)`
    * with `ddf` = the hash's distinct-doc count, partitioned by
    * `wh_bucket = b<whash mod nBuckets>` so a probe's sliver fetch
    * prunes files ([[writeHistoryBucketed]]'s move, keyed on the window
    * hash instead of the doc id). `(window, n_buckets)` ride in an
    * underscore-prefixed `_meta` sidecar — a probe or append with a
    * mismatched window would hash NOTHING in common, so the geometry
    * travels with the data.
    *
    * This is the at-rest form that makes daily increments O(novel):
    * the history is O(distinct corpus windows) LONGS — the ddf
    * aggregate, never positions or text — and a batch probes it
    * ([[substringDupProbe]]) instead of re-tokenizing the full corpus
    * the way [[substringDupStats]] must.
    */
  def writeSubstringIndex(
      docs: DataFrame,
      path: String,
      window: Int = 16,
      nBuckets: Int = DefaultSubstringBuckets,
      textCol: String = "text"): Unit = {
    require(window >= 1, s"window must be >= 1, got $window")
    require(nBuckets >= 1, s"nBuckets must be >= 1, got $nBuckets")
    guardSubstringIndexOverwrite(docs.sparkSession, path)
    substringIndexRows(docs, window, nBuckets, textCol)
      .write.partitionBy("wh_bucket").mode("overwrite")
      // STATIC overwrite: under dynamic mode a rebuild with a different
      // nBuckets would leave stale wh_bucket dirs beside the new _meta
      // modulus — a window hash would then be double-counted
      .option("partitionOverwriteMode", "static")
      .parquet(path)
    // written AFTER the main overwrite (which clears the directory),
    // driver-side (TinyParquet) — three scalars need no Spark job
    writeSubstringMeta(docs.sparkSession, s"$path/_meta", window, nBuckets)
  }

  /** The substring layouts' `_meta` sidecar, written driver-side —
    * ONE definition for the flat build and the rotation stage so the
    * geometry schema cannot drift.
    */
  private def writeSubstringMeta(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      window: Int,
      nBuckets: Int): Unit =
    TinyParquet.write(spark, dir,
      Seq("window" -> "int", "n_buckets" -> "int", "hash_ver" -> "int"),
      Seq(Map("window" -> window, "n_buckets" -> nBuckets,
        "hash_ver" -> SubstringHashVersion)))

  /** A corpus slice's `(whash, ddf, wh_bucket)` index rows, ready to
    * write partitioned by `wh_bucket` — the single definition shared by
    * the flat build, the epoch append and the rotation, so they can
    * never disagree on a hash's bucket or its count.
    *
    * ONE exchange: the bucket is derived per window position first and
    * the positions hash-partition on it. That partitioning already
    * clusters the distinct-doc aggregate on `(wh_bucket, whash,
    * doc_id)`, so `countDistinct` (exact under null or repeated doc ids)
    * plans no exchange of its own, and each bucket's rows finish in one
    * task — one file per touched bucket. The cost at scale: no map-side
    * combine before the shuffle, which saves little when nearly every
    * window hash is unique.
    */
  private def substringIndexRows(
      docs: DataFrame,
      window: Int,
      nBuckets: Int,
      textCol: String): DataFrame = {
    val (_, pos) = windowPositions(docs, window, textCol)
    pos.withColumn("wh_bucket", bucketOf(col("whash"), nBuckets))
      .repartition(col("wh_bucket"))
      .groupBy("wh_bucket", "whash").agg(countDistinct("doc_id").as("ddf"))
      .select("whash", "ddf", "wh_bucket")
  }

  /** The substring index's fixed on-disk schema: `(whash, ddf)` longs
    * in `wh_bucket=` string partition dirs. Every read of the layout
    * passes it, so no open or compaction pays a footer-inference job.
    */
  private val SubstringIndexSchema = org.apache.spark.sql.types.StructType
    .fromDDL("whash BIGINT, ddf BIGINT, wh_bucket STRING")

  /** Resolve a [[writeSubstringIndex]] layout once:
    * (frame, window, nBuckets). Like [[openHistoryBucketed]], call once
    * per epoch and reuse — the frame lists the layout's files at this
    * point, and probe loops must not re-list per batch.
    */
  def openSubstringIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String): (DataFrame, Int, Int) = {
    // a rotated layout serves its published generation; a flat one
    // serves the root ([[Similarity.ivfDataRoot]]'s pointer resolution
    // — layout-agnostic: it just reads `_current`)
    val root = substringDataRoot(spark, path)
    val (window, nBuckets) = readSubstringMeta(spark, root)
    val df = spark.read.schema(SubstringIndexSchema).parquet(root)
    // the pinned schema reads anything, so the layout check is
    // driver-side: every data file sits in a `wh_bucket=` dir (no other
    // partition column was discovered) and one footer carries the
    // (whash, ddf) longs — the file index's own listing, no job
    val files = df.inputFiles
    require(
      df.schema == SubstringIndexSchema &&
        files.forall(new org.apache.hadoop.fs.Path(_).getParent.getName
          .startsWith("wh_bucket=")) &&
        files.headOption.forall(substringFooterOk(spark, _)),
      s"$path is not a substring-index layout — write it with " +
        "writeSubstringIndex")
    (df, window, nBuckets)
  }

  /** Does the parquet file at `file` carry the substring index's
    * `(whash, ddf)` INT64 columns? One footer read on the driver. */
  private def substringFooterOk(
      spark: org.apache.spark.sql.SparkSession,
      file: String): Boolean = {
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file),
        spark.sparkContext.hadoopConfiguration))
    try {
      val schema = r.getFooter.getFileMetaData.getSchema
      Seq("whash", "ddf").forall(c => schema.containsField(c) && {
        val t = schema.getFields.get(schema.getFieldIndex(c))
        t.isPrimitive && t.asPrimitiveType.getPrimitiveTypeName ==
          org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT64
      })
    } finally r.close()
  }

  /** Land a novel batch's window-hash counts on a
    * [[writeSubstringIndex]] layout as a LEDGERED epoch
    * ([[EpochLedger.commitEpoch]] — staged write, manifest commit,
    * crash-recoverable, same-id replays no-op): the O(novel) daily
    * increment. The batch's rows are derived under the layout's own
    * `_meta` geometry, so an append can never mix window sizes or
    * bucket moduli.
    *
    * ddf CONTRACT: the probe sums `ddf` per hash across the base build
    * and every epoch, which equals the true distinct-doc count iff the
    * doc sets written are PAIRWISE DISJOINT (the normal shape — each
    * epoch is a new day's documents). Re-appending an already-indexed
    * document inflates its windows' counts; dedup the ingest (the
    * exact-dedup Bloom guard) before appending. Returns false when
    * `epochId` was already applied (the replay no-op).
    */
  def appendSubstringEpoch(
      novel: DataFrame,
      path: String,
      epochId: String,
      textCol: String = "text"): Boolean =
    appendSubstringEpochStaged(novel, path, epochId, textCol, _ => ())

  /** [[appendSubstringEpoch]] with the crash-injection hook —
    * [[EpochLedger.commitEpoch]]'s failpoints ("staged", "committed",
    * "move-file", "moved"), for the randomized crash sweep.
    */
  private[operators] def appendSubstringEpochStaged(
      novel: DataFrame,
      path: String,
      epochId: String,
      textCol: String,
      failpoint: String => Unit): Boolean = {
    val spark = novel.sparkSession
    // heal-at-entry: commitEpoch's own recovery resolves _rotate
    // states, but a committed partition compaction or generation
    // rotation ([[_retrain]]) crashed mid-protocol must resume before
    // anything reads or grows the layout (a mid-swap compaction leaves
    // bucket dirs EMPTY; an unpublished rotation leaves resolution on
    // the superseded root) — the same sweep the IVF and PQ appends run
    EpochLedger.recoverRetrainStages(spark, path, "wh_bucket=")
    val root = substringDataRoot(spark, path)
    val (window, nBuckets) = readSubstringMeta(spark, root)
    EpochLedger.commitEpoch(spark, path, epochId, partPrefix = "wh_bucket=",
      stageWrite = stage =>
        substringIndexRows(novel, window, nBuckets, textCol)
          .write.partitionBy("wh_bucket").parquet(stage),
      failpoint = failpoint,
      dataRoot = Some(root))
  }

  /** [[substringDupStats]] for an ARRIVING BATCH against a persisted
    * [[writeSubstringIndex]] history: per-doc duplicated-window stats
    * where a window is duplicated iff its distinct-doc count across
    * history ∪ batch reaches `minDocs` — exactly what the full-corpus
    * [[substringDupStats]] would report for the batch docs, without
    * the full-corpus pass (the q52 discipline, window-hash-keyed).
    * Window size comes from the layout's `_meta`.
    */
  def substringDupProbe(
      batch: DataFrame,
      indexPath: String,
      minDocs: Int = 2,
      textCol: String = "text",
      pruneSkipMaxBuckets: Int = DefaultPruneSkipMaxBuckets): DataFrame = {
    val (hist, window, nBuckets) =
      openSubstringIndex(batch.sparkSession, indexPath)
    substringDupProbeOn(batch, hist, window, nBuckets, minDocs, textCol,
      pruneSkipMaxBuckets)
  }

  /** Below this bucket count the DISTRIBUTED probe routes (the stats
    * probe over its driver budget, and the span, cut and combined
    * probes always) SKIP the driver-side bucket resolution (a
    * `distinct().collect()` Spark job) and scan every bucket dir: with a
    * ≤64-way modulus any real batch's hash set covers essentially all
    * residues, so the partition predicate would prune nothing while
    * costing one full extra job on the per-trigger latency path of the
    * in-stream gate. Above it — the at-scale geometry, where a batch
    * genuinely touches few of many buckets — the pruning engages as
    * before. The left-semi sliver join applies on both paths. The
    * stats probe's driver route never reads this gate: it names its
    * buckets as literals from hashes it already holds, at no job.
    */
  val DefaultPruneSkipMaxBuckets: Int = 64

  /** Scan-size companion to [[DefaultPruneSkipMaxBuckets]]: the bucket
    * count alone says how many partitions COULD be pruned, not what
    * pruning is WORTH — a small probe batch against a 100 TB history
    * under the default 8-bucket modulus genuinely touches few buckets,
    * and skipping the resolution job there trades one ~100 ms driver
    * action for a full history scan. The skip therefore also requires
    * the candidate scan to be SMALL: at or below this many estimated
    * bytes the whole layout reads in the time the resolution job alone
    * would take, so the skip is a pure win; above it the resolution
    * job engages regardless of the bucket count. Estimated driver-side
    * from the plan's file-index statistics (no job); plans whose size
    * Catalyst cannot estimate fall back to huge defaults, which fails
    * toward PRUNING — the scan-bytes-safe direction. Production tuning:
    * `spark.graft.pruneSkip.maxBytes` (session conf, read per probe).
    */
  val DefaultPruneSkipMaxBytes: Long = 256L << 20

  /** Is `df` small enough for a prune-skip gate to bypass partition
    * pruning over it? Driver-side plan statistics only — never a job.
    */
  private[operators] def pruneSkipBytesOk(df: DataFrame): Boolean = {
    val limit = df.sparkSession.conf
      .get("spark.graft.pruneSkip.maxBytes", DefaultPruneSkipMaxBytes.toString)
      .toLong
    df.queryExecution.optimizedPlan.stats.sizeInBytes <= BigInt(limit)
  }

  /** The batch's duplicated-window-hash set against history ∪ batch —
    * the single probe-side derivation shared by [[substringDupProbeOn]]
    * (which counts them per doc) and [[substringSpanProbeOn]] (which
    * merges their positions into spans), so the stats and span forms
    * can never disagree on what a duplicated window is. `batchDf` must
    * be the batch's `(whash, bddf)` distinct-doc counts (cached by the
    * caller — it is consumed twice on the pruned path).
    */
  private def probeDupHashes(
      batchDf: DataFrame,
      history: DataFrame,
      nBuckets: Int,
      minDocs: Int,
      pruneSkipMaxBuckets: Int): DataFrame = {
    val sliverBase =
      if (nBuckets <= pruneSkipMaxBuckets && pruneSkipBytesOk(history))
        history
      else {
        // candidate wh_buckets resolve DRIVER-SIDE into literal
        // partition predicates (bounded by nBuckets — at scale a small
        // batch's hash set touches few buckets)
        val buckets = batchDf
          .select(bucketOf(col("whash"), nBuckets).as("bk"))
          .distinct().collect().map(_.getString(0)).toSeq
        history.filter(col("wh_bucket").isInCollection(buckets))
      }
    val sliver =
      sliverBase.join(batchDf.select("whash"), Seq("whash"), "left_semi")
    // per-hash history count: sum over base + epochs (disjoint doc
    // sets — the appendSubstringEpoch contract)
    val histDf = sliver.groupBy("whash").agg(sum("ddf").as("hddf"))
    batchDf.join(histDf, Seq("whash"), "left")
      .filter(col("bddf") + coalesce(col("hddf"), lit(0L)) >= minDocs)
      .select("whash")
  }

  /** [[substringDupProbe]] over an [[openSubstringIndex]]-resolved
    * layout — the per-epoch form for probe loops. Two routes, one
    * result:
    *
    *  - the DRIVER route, when the batch's window positions fit
    *    [[DriverProbeMaxPositions]] and the layout is a small scan
    *    ([[pruneSkipBytesOk]]): one bounded collect of the batch's
    *    positions, one bounded collect of the history sliver (exact
    *    `wh_bucket` literals, `whash` in the batch's set), the
    *    distinct-doc counts and dup marks settled on the driver, and the
    *    stats rows returned as a single-partition local frame — no
    *    cache, no checkpoint ([[driverDupProbe]]);
    *  - the DISTRIBUTED route otherwise: the sliver fetch prunes twice
    *    — candidate `wh_bucket`s resolve DRIVER-SIDE into literal
    *    partition predicates (skipped below `pruneSkipMaxBuckets` — see
    *    [[DefaultPruneSkipMaxBuckets]]), then a left-semi join on the
    *    batch's hashes cuts the surviving files to matching rows. Only
    *    (whash, ddf) longs cross any shuffle.
    */
  def substringDupProbeOn(
      batch: DataFrame,
      history: DataFrame,
      window: Int,
      nBuckets: Int,
      minDocs: Int = 2,
      textCol: String = "text",
      pruneSkipMaxBuckets: Int = DefaultPruneSkipMaxBuckets): DataFrame =
    substringDupProbeRouted(batch, history, window, nBuckets, minDocs,
      textCol, pruneSkipMaxBuckets, DriverProbeMaxPositions)

  /** Rows each of the driver route's two collects may carry — 2^18
    * four-field Rows, about 32 MB of driver heap at ~130 B per boxed
    * Row. A batch with more window positions, or a history sliver with
    * more rows, takes the distributed route.
    */
  private val DriverProbeMaxPositions: Long = 1L << 18

  /** [[substringDupProbeOn]] under an explicit driver budget
    * (`maxDriverRows`; negative: never the driver route). */
  private[operators] def substringDupProbeRouted(
      batch: DataFrame,
      history: DataFrame,
      window: Int,
      nBuckets: Int,
      minDocs: Int,
      textCol: String,
      pruneSkipMaxBuckets: Int,
      maxDriverRows: Long): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    require(nBuckets >= 1, s"nBuckets must be >= 1, got $nBuckets")
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val (d, pos) = windowPositions(batch, window, textCol)
    driverDupProbe(d, history, window, nBuckets, minDocs, maxDriverRows)
      .getOrElse(distributedDupProbe(d, pos, history, nBuckets, minDocs,
        pruneSkipMaxBuckets))
  }

  /** Doc-id types whose JVM equality is SQL equality, so the driver
    * route's distinct-doc counts and per-id totals match the join's. */
  private val DriverProbeIdTypes: Set[org.apache.spark.sql.types.DataType] = {
    import org.apache.spark.sql.types._
    Set(LongType, IntegerType, ShortType, ByteType, StringType)
  }

  /** The driver route of [[substringDupProbeOn]], or None when it does
    * not apply (budget off, the plan-audit [[Caching.passthrough]]
    * that must show the distributed interior, a doc-id type outside
    * [[DriverProbeIdTypes]], a layout too big for a one-task sliver
    * scan, or either collect over `maxRows`). Collect 1 holds
    * `(doc_id, n_windows, p, whash)`: one row per window position plus
    * one (`p` null) per windowless batch row, so `p` null or 0 tags
    * each batch row once. Collect 2 is the history sliver, skipped when
    * the batch has no window. Then, with the join's SQL semantics: a
    * hash's batch count is its distinct NON-NULL doc ids, its history
    * count the sum of its `ddf` rows; a null doc id never matches its
    * dup total, and rows sharing an id share that id's total. The stats
    * are [[substringStatsRow]] over a local relation (which the
    * optimizer folds, no job), coalesced to one partition so a sort of
    * the result needs no exchange.
    */
  private def driverDupProbe(
      d: DataFrame,
      history: DataFrame,
      window: Int,
      nBuckets: Int,
      minDocs: Int,
      maxRows: Long): Option[DataFrame] = {
    import org.apache.spark.sql.Row
    val idField = d.schema("doc_id")
    if (maxRows < 0 || Caching.passthrough ||
        !DriverProbeIdTypes(idField.dataType) ||
        !pruneSkipBytesOk(history)) return None
    val positions = d.select(col("doc_id"), col("n_windows"),
      posexplode_outer(when(col("n_windows") > 0,
        graft.functions.WindowPolyHashes(col("toks"), window))))
    Similarity.collectAtMost(positions, maxRows).flatMap { rows =>
      val windowed = rows.filterNot(_.isNullAt(3))
      val hashes = windowed.map(_.getLong(3)).toSet
      val sliver =
        if (hashes.isEmpty) Some(Array.empty[Row])
        else Similarity.collectAtMost(history
          .filter(col("wh_bucket").isInCollection(
            hashes.map(bucketName(_, nBuckets))))
          .filter(inSet(col("whash"), hashes))
          .select("whash", "ddf"), maxRows)
      sliver.map { hist =>
        val hddf = hist.groupMapReduce(_.getLong(0))(r =>
          if (r.isNullAt(1)) 0L else r.getLong(1))(_ + _)
        val bddf = windowed.filterNot(_.isNullAt(0))
          .map(r => (r.getLong(3), r.get(0))).distinct
          .groupMapReduce(_._1)(_ => 1L)(_ + _)
        val dup = hashes.filter(h =>
          bddf.getOrElse(h, 0L) + hddf.getOrElse(h, 0L) >= minDocs)
        val dupW: Map[Any, Long] = windowed
          .filter(r => !r.isNullAt(0) && dup(r.getLong(3)))
          .groupMapReduce(_.get(0))(_ => 1L)(_ + _)
        val out = rows.toSeq.filter(r => r.isNullAt(2) || r.getInt(2) == 0)
          .map(r => Row(r.get(0), r.get(1),
            if (r.isNullAt(0)) null else dupW.getOrElse(r.get(0), null)))
        val schema = org.apache.spark.sql.types.StructType(Seq(idField,
          d.schema("n_windows"),
          org.apache.spark.sql.types.StructField("dup_w",
            org.apache.spark.sql.types.LongType)))
        substringStatsRow(Similarity.localFrame(d.sparkSession, out, schema))
          .coalesce(1)
      }
    }
  }

  /** `c IN values` as one pre-built `InSet` node: `isInCollection` of a
    * batch's thousands of hashes is as many literal children, which
    * Catalyst analyzes and optimizes before folding them into the same
    * `InSet` — about 0.1 s of driver time per collect at 5 k hashes. */
  private def inSet(c: Column, values: Set[Long]): Column =
    org.apache.spark.sql.graftglue.Glue.column(
      org.apache.spark.sql.catalyst.expressions.InSet(
        org.apache.spark.sql.graftglue.Glue.expression(c), values.toSet[Any]))

  /** The distributed route of [[substringDupProbeOn]]. */
  private def distributedDupProbe(
      d: DataFrame,
      pos: DataFrame,
      history: DataFrame,
      nBuckets: Int,
      minDocs: Int,
      pruneSkipMaxBuckets: Int): DataFrame = {
    // batch-local distinct-doc counts (the q77 df restricted to the
    // batch side); pinned TOGETHER with pos in one scope — nesting a
    // second withCached checkpointed the (already tiny) result twice,
    // one scheduled job per probe for nothing
    val batchDf = pos.groupBy("whash")
      .agg(countDistinct("doc_id").as("bddf"))
    Caching.withCached(pos, batchDf) {
      val dupHashes = probeDupHashes(batchDf, history, nBuckets,
        minDocs, pruneSkipMaxBuckets)
      val dup = pos.join(dupHashes, Seq("whash"))
        .groupBy("doc_id").agg(count(lit(1)).as("dup_w"))
      substringStatsTail(d, dup)
    }
  }

  /** [[substringDupSpans]] for an ARRIVING BATCH against a persisted
    * [[writeSubstringIndex]] history: each batch document's duplicated
    * window starts — duplicated iff the window's distinct-doc count
    * across history ∪ batch reaches `minDocs`, exactly
    * [[substringDupProbeOn]]'s dup set — merged gaps-and-islands into
    * maximal half-open `(doc_id, span_start, span_end)` token spans.
    * This equals the full-corpus [[substringDupSpans]] restricted to
    * the batch docs (the q80 identity, span-shaped), without the
    * full-corpus pass: cross-epoch counts drive spans the batch alone
    * never would. Feed the result to [[cutSpans]] (or call
    * [[substringCutProbeOn]]) for the streamed Lee-et-al excision.
    */
  def substringSpanProbeOn(
      batch: DataFrame,
      history: DataFrame,
      window: Int,
      nBuckets: Int,
      minDocs: Int = 2,
      textCol: String = "text",
      pruneSkipMaxBuckets: Int = DefaultPruneSkipMaxBuckets): DataFrame =
    spanProbeWithTokens(batch, history, window, nBuckets, minDocs,
      textCol, pruneSkipMaxBuckets)._2

  /** (tokenized batch frame, probe-derived spans) — the shared interior
    * of the span and cut probes, so the cut form pays ONE tokenize pass
    * over the batch (the span probe's) instead of re-splitting the text
    * for [[cutSpans]].
    */
  private def spanProbeWithTokens(
      batch: DataFrame,
      history: DataFrame,
      window: Int,
      nBuckets: Int,
      minDocs: Int,
      textCol: String,
      pruneSkipMaxBuckets: Int): (DataFrame, DataFrame) = {
    require(window >= 1, s"window must be >= 1, got $window")
    require(nBuckets >= 1, s"nBuckets must be >= 1, got $nBuckets")
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val (d, pos) = windowPositions(batch, window, textCol)
    val batchDf = pos.groupBy("whash")
      .agg(countDistinct("doc_id").as("bddf"))
    // one cache scope for both intermediates (see substringDupProbeOn)
    val spans = Caching.withCached(pos, batchDf) {
      val dupHashes = probeDupHashes(batchDf, history, nBuckets,
        minDocs, pruneSkipMaxBuckets)
      spansFromDupPositions(
        pos.join(dupHashes, Seq("whash")).select("doc_id", "p"),
        window)
    }
    (d, spans)
  }

  /** [[substringSpanProbeOn]] against a layout path — resolves the
    * index once ([[openSubstringIndex]]) and derives the window size
    * from its `_meta`. The batch-mode sibling of [[substringDupProbe]];
    * `pruneSkipMaxBuckets` as there.
    */
  def substringSpanProbe(
      batch: DataFrame,
      indexPath: String,
      minDocs: Int = 2,
      textCol: String = "text",
      pruneSkipMaxBuckets: Int = DefaultPruneSkipMaxBuckets): DataFrame = {
    val (hist, window, nBuckets) =
      openSubstringIndex(batch.sparkSession, indexPath)
    substringSpanProbeOn(batch, hist, window, nBuckets, minDocs, textCol,
      pruneSkipMaxBuckets)
  }

  /** The streamed Lee-et-al DELIVERABLE: an arriving batch with its
    * history-duplicated substrings EXCISED — [[substringSpanProbeOn]]'s
    * spans applied by [[cutSpans]], so the output row shape
    * `(doc_id, cut_text, n_kept, n_cut)` and all its edge cases are
    * the batch path's verbatim. Equals the full-corpus
    * spans-then-[[cutSpans]] chain restricted to the batch docs (the
    * q84 oracle identity). The seam-window residual is [[cutSpans]]'
    * documented one; [[cutToConvergence]] is the batch-mode loop for
    * corpora where it matters.
    */
  def substringCutProbeOn(
      batch: DataFrame,
      history: DataFrame,
      window: Int,
      nBuckets: Int,
      minDocs: Int = 2,
      textCol: String = "text",
      pruneSkipMaxBuckets: Int = DefaultPruneSkipMaxBuckets): DataFrame = {
    val (tokenized, spans) = spanProbeWithTokens(batch, history, window,
      nBuckets, minDocs, textCol, pruneSkipMaxBuckets)
    cutSpansOnTokens(tokenized, spans)
  }

  /** BOTH probe forms over ONE shared probe — (per-doc stats, cut
    * batch) from a single tokenize pass, one history sliver fetch, and
    * one duplicated-position derivation. This is what the streaming
    * gate runs when a caller sets `onSubstringBatch` AND
    * `onSubstringCutBatch`: the naive composition tokenized the batch
    * twice and probed the index twice per trigger (each probe scopes
    * its own caches), pure duplicated work on the per-trigger latency
    * path. Row-identical to ([[substringDupProbeOn]],
    * [[substringCutProbeOn]]) by construction — the tails are the
    * shared `substringStatsTail` / `spansFromDupPositions` +
    * `cutSpansOnTokens` definitions.
    */
  def substringStatsAndCutProbeOn(
      batch: DataFrame,
      history: DataFrame,
      window: Int,
      nBuckets: Int,
      minDocs: Int = 2,
      textCol: String = "text",
      pruneSkipMaxBuckets: Int = DefaultPruneSkipMaxBuckets)
      : (DataFrame, DataFrame) = {
    require(window >= 1, s"window must be >= 1, got $window")
    require(nBuckets >= 1, s"nBuckets must be >= 1, got $nBuckets")
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val (d, pos) = windowPositions(batch, window, textCol)
    if (Caching.passthrough) {
      val batchDf = pos.groupBy("whash")
        .agg(countDistinct("doc_id").as("bddf"))
      val dupPos = pos
        .join(probeDupHashes(batchDf, history, nBuckets, minDocs,
          pruneSkipMaxBuckets), Seq("whash"))
        .select("doc_id", "p")
      return (
        substringStatsTail(d,
          dupPos.groupBy("doc_id").agg(count(lit(1)).as("dup_w"))),
        cutSpansOnTokens(d, spansFromDupPositions(dupPos, window)))
    }
    // four pinned intermediates, ONE scope: the tokenized batch (both
    // tails read it), the position rows, the batch df, and the shared
    // duplicated positions both outputs branch from
    val batchDf = pos.groupBy("whash")
      .agg(countDistinct("doc_id").as("bddf"))
    Seq(d, pos, batchDf).foreach(_.cache())
    try {
      val dupPos = pos
        .join(probeDupHashes(batchDf, history, nBuckets, minDocs,
          pruneSkipMaxBuckets), Seq("whash"))
        .select("doc_id", "p")
      dupPos.cache()
      try {
        val stats = Caching.materialize(substringStatsTail(d,
          dupPos.groupBy("doc_id").agg(count(lit(1)).as("dup_w"))))
        val cut = Caching.materialize(
          cutSpansOnTokens(d, spansFromDupPositions(dupPos, window)))
        (stats, cut)
      } finally dupPos.unpersist(blocking = false)
    } finally Seq(d, pos, batchDf).foreach(_.unpersist(blocking = false))
  }

  /** [[substringCutProbeOn]] against a layout path;
    * `pruneSkipMaxBuckets` as on [[substringDupProbe]].
    */
  def substringCutProbe(
      batch: DataFrame,
      indexPath: String,
      minDocs: Int = 2,
      textCol: String = "text",
      pruneSkipMaxBuckets: Int = DefaultPruneSkipMaxBuckets): DataFrame = {
    val (hist, window, nBuckets) =
      openSubstringIndex(batch.sparkSession, indexPath)
    substringCutProbeOn(batch, hist, window, nBuckets, minDocs, textCol,
      pruneSkipMaxBuckets)
  }

  /** [[writeSubstringIndex]]'s entry in the flat-builder overwrite-guard
    * family ([[Similarity.refusePlainDatasetOverwrite]]'s discipline):
    * refuse an `_epochs` ledger (a flat rebuild would orphan applied
    * epochs — a replayed id would then double-append), an IVF/PQ
    * `_centroids` sidecar, a `_meta` that is not this layout's
    * (window, n_buckets) pair (most dangerously the bucketed history or
    * minhash index on swapped path arguments), and any plain visible
    * dataset (the raw corpus on a typo'd path). Rebuilding a
    * never-appended index in place stays the supported refresh.
    */
  private def guardSubstringIndexOverwrite(
      spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    val f = fsFor(spark, path)
    if (!f.exists(new org.apache.hadoop.fs.Path(path))) return
    def has(sub: String) =
      f.exists(new org.apache.hadoop.fs.Path(s"$path/$sub"))
    require(!has("_epochs"),
      s"$path carries an _epochs ledger (applied appends) — a flat " +
        "writeSubstringIndex rebuild would destroy the ledger and let " +
        "a replayed epoch id double-append; grow the layout through " +
        "appendSubstringEpoch")
    require(!has("_centroids"),
      s"$path is an IVF/PQ layout (_centroids sidecar) — " +
        "writeSubstringIndex would destroy it; build the index at its " +
        "own path")
    if (has("_meta")) {
      val fields = metaFields(spark, path)
      require(fields.contains("window") && fields.contains("n_buckets"),
        s"$path has a _meta sidecar that is not a substring index's " +
          s"(fields: ${fields.mkString(", ")}) — it looks like another " +
          "layout; swapped path arguments?")
    } else {
      Similarity.refusePlainDatasetOverwrite(f, path,
        "writeSubstringIndex", partPrefix = "wh_bucket=")
    }
  }

  // ------------------------------------ substring-index lifecycle

  /** Resolve any crashed protocol state on a [[writeSubstringIndex]]
    * layout — [[EpochLedger.recoverLayout]] over its `wh_bucket=` dirs:
    * committed `_retrain` stages resume first (a partition compaction
    * through its per-dir swaps — a crash between a dir's retire and its
    * swap-in leaves that bucket EMPTY, so probes against an unhealed
    * layout can under-count; heal before trusting reads after a crash —
    * and a [[rotateSubstringIndex]] through the generation publish),
    * then the generic epoch recovery runs ([[EpochLedger.recover]]:
    * uncommitted `_rotate` stages discard, committed ones complete,
    * stage-lost partial appends quarantine, the ledger-loss valve
    * refuses). Every mutating entry on the layout
    * ([[appendSubstringEpoch]], [[compactSubstringPartitions]],
    * [[substringMaintain]]) heals here first. Single maintenance writer,
    * like every recovery entry.
    */
  def recoverSubstringLayout(
      spark: org.apache.spark.sql.SparkSession,
      path: String): Unit =
    EpochLedger.recoverLayout(spark, path, "wh_bucket=")

  /** Where a substring layout's data lives: the published generation
    * of a [[rotateSubstringIndex]]-rotated layout, else the flat root
    * — [[Similarity.ivfDataRoot]]'s pointer resolution, which is
    * layout-agnostic (it only reads `_current`).
    */
  def substringDataRoot(
      spark: org.apache.spark.sql.SparkSession,
      path: String): String =
    Similarity.ivfDataRoot(fsFor(spark, path), path)

  /** Rebuild the substring index at `path` from the SOURCE corpus as
    * one crash-safe, READER-ATOMIC generation publish — the
    * [[Similarity.rotateIvf]]/[[graft.operators.Pq.rotatePq]] protocol
    * (staged build → `_MANIFEST` commit → `_gen-<N>` move → one atomic
    * `_current` pointer-entry create → retire), with the index
    * re-derivation as the staged work. This is the GEOMETRY-MIGRATION
    * path the flat-overwrite guard deliberately closes once an epoch
    * is ledgered: change `window` or `nBuckets` (each defaults to the
    * layout's stored `_meta` value) without ever exposing a reader to
    * a half-built layout or letting a replayed epoch id double-append
    * — prior epoch ids REMAIN ledgered (their documents are inside
    * `docs`, the full corpus the caller passes: the index stores
    * hashes, not text, so the rebuild must re-read the corpus).
    * A first rotation migrates a flat layout to generational; probes,
    * appends, compactions, and the maintain policy all resolve the
    * published generation transparently. `deferRetire` as in
    * [[Similarity.rotateIvf]]. Cost: one corpus tokenize+window pass,
    * O(corpus tokens) read, O(distinct windows) written. Returns true
    * when applied now (false = the id already rotated: the replay
    * no-op). Single maintenance writer, stream stopped.
    */
  def rotateSubstringIndex(
      docs: DataFrame,
      path: String,
      rotationId: String,
      window: Option[Int] = None,
      nBuckets: Option[Int] = None,
      textCol: String = "text",
      deferRetire: Boolean = false): Boolean =
    rotateSubstringIndexStaged(docs, path, rotationId, window, nBuckets,
      textCol, deferRetire, _ => ())

  /** [[rotateSubstringIndex]] with the crash-injection hook —
    * [[Similarity.stageGeneration]]'s failpoints ("staged",
    * "committed", "gen-move", "gen-moved", "published", "retire-dir",
    * "retired").
    */
  private[operators] def rotateSubstringIndexStaged(
      docs: DataFrame,
      path: String,
      rotationId: String,
      window: Option[Int],
      nBuckets: Option[Int],
      textCol: String,
      deferRetire: Boolean,
      failpoint: String => Unit): Boolean = {
    val spark = docs.sparkSession
    Similarity.stageGeneration(spark, path, rotationId,
      "substring-rotate", failpoint, deferRetire,
      partPrefix = "wh_bucket=") {
      (dataRoot, stageData) =>
        // geometry inheritance, the pqMaintain discipline: the stored
        // _meta unless explicitly overridden; a rotation that is also
        // the FIRST build (no layout yet) must state both knobs
        val metaP = new org.apache.hadoop.fs.Path(s"$dataRoot/_meta")
        val stored: Option[(Int, Int)] =
          if (!fsFor(spark, path).exists(metaP)) None
          // hash-version TOLERANT on purpose: rotation re-derives every
          // row from the corpus and stamps the current version — it IS
          // the migration path for a pre-SubstringHashVersion layout
          else Some(readSubstringMeta(spark, dataRoot,
            requireCurrentHash = false))
        val wEff = window.orElse(stored.map(_._1)).getOrElse(sys.error(
          s"rotateSubstringIndex: $path has no _meta to inherit from " +
            "— pass window explicitly (and nBuckets) to build through " +
            "a rotation"))
        val nbEff = nBuckets.orElse(stored.map(_._2)).getOrElse(sys.error(
          s"rotateSubstringIndex: $path has no _meta to inherit from " +
            "— pass nBuckets explicitly"))
        require(wEff >= 1, s"window must be >= 1, got $wEff")
        require(nbEff >= 1, s"nBuckets must be >= 1, got $nbEff")
        substringIndexRows(docs, wEff, nbEff, textCol)
          .write.partitionBy("wh_bucket").parquet(stageData)
        // _meta travels WITH the generation (written before the
        // manifest commit, so a published generation always carries
        // its geometry AND the current hash-format version)
        writeSubstringMeta(spark, s"$stageData/_meta", wEff, nbEff)
    }
  }

  /** Per-bucket storage footprint of a [[writeSubstringIndex]] layout —
    * one `(wh_bucket, parquet-files, bytes)` row per partition dir,
    * from the LISTING alone ([[EpochLedger.partitionFileStats]]).
    * Every [[appendSubstringEpoch]] lands one file per touched bucket,
    * so `files` here is the fragmentation observable that drives
    * [[compactSubstringPartitions]].
    */
  def substringPartitionStats(
      spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[(String, Int, Long)] =
    EpochLedger.partitionFileStats(fsFor(spark, path),
      substringDataRoot(spark, path), "wh_bucket=")
      .map { case (d, n, b) => (d.stripPrefix("wh_bucket="), n, b) }

  /** Compact the fragmented bucket dirs of a [[writeSubstringIndex]]
    * layout — [[EpochLedger.compactPartitionsStaged]]'s staged,
    * ledgered, crash-recoverable protocol, with one layout-specific
    * upgrade: the rewrite MERGES rows, `groupBy(whash).agg(sum(ddf))`
    * per bucket. The probe sums `ddf` per hash across every row of the
    * layout ([[substringDupProbeOn]]), so collapsing a hash's base +
    * epoch rows into one summed row is invisible to every reader
    * (sum of sums) while shrinking both the file count AND the row
    * count — after a compaction the layout holds one row per distinct
    * corpus window again, exactly the [[writeSubstringIndex]] at-rest
    * shape. Replays no-op through the ledger; crash recovery resumes
    * through [[recoverSubstringLayout]]. Single maintenance writer.
    * Returns the number of bucket dirs compacted now.
    */
  def compactSubstringPartitions(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      compactionId: String,
      maxFilesPerPartition: Int = 1,
      maxRecordsPerFile: Long = 0L,
      filesPerPartition: Int = 1): Int =
    compactSubstringPartitionsStaged(spark, path, compactionId,
      maxFilesPerPartition, maxRecordsPerFile, _ => (), filesPerPartition)

  /** [[compactSubstringPartitions]] with the crash-injection hook —
    * [[EpochLedger.compactPartitionsStaged]]'s failpoints.
    */
  private[operators] def compactSubstringPartitionsStaged(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      compactionId: String,
      maxFilesPerPartition: Int,
      maxRecordsPerFile: Long,
      failpoint: String => Unit,
      filesPerPartition: Int = 1): Int =
    EpochLedger.compactLayoutPartitions(spark, path, "wh_bucket",
      compactionId, maxFilesPerPartition, maxRecordsPerFile, failpoint,
      filesPerPartition,
      // partition-preserving but COUNT-COLLAPSING (legal: the swap
      // replaces each target dir wholesale, and the probe's per-hash
      // sum is invariant under this merge — see the docstring above);
      // unsalted, the merge rides the rewrite's partition exchange
      heal = _ => df => df.groupBy("wh_bucket", "whash")
        .agg(sum("ddf").as("ddf"))
        .select("whash", "ddf", "wh_bucket"),
      schema = Some(SubstringIndexSchema))

  /** What [[dedupMaintain]] or [[substringMaintain]] did and why —
    * action strings in execution order (empty for a healthy layout)
    * plus the observables the policy judged.
    */
  final case class BucketMaintenance(
      actions: Seq[String],
      buckets: Int,
      maxFilesPerBucket: Int,
      ledgerTail: Int)

  /** The thresholds of the two bucket-layout maintain policies
    * ([[dedupMaintain]], [[substringMaintain]]) as one value, for
    * callers that schedule a policy (the auto-epoch stream boundary, a
    * cron wrapper) as well as one-shot calls. A bucket holding more
    * than `maxFilesPerPartition` files fires the compact arm, whose
    * rewrite `maxRecordsPerFile` and `filesPerPartition` shape; a
    * `_epochs` entry tail past `ledgerTailMax` rolls the ledger up;
    * `purgeRetiredOlderThanMs` is the purge arm's explicit window
    * (unset = retired bytes are never touched).
    */
  final case class BucketMaintainPolicy(
      maxFilesPerPartition: Int = 64,
      ledgerTailMax: Int = 256,
      maxRecordsPerFile: Long = 0L,
      purgeRetiredOlderThanMs: Option[Long] = None,
      filesPerPartition: Int = 1)

  /** One tick of a bucket-layout maintain policy: the shared entry
    * checks and `heal` ([[EpochLedger.beginMaintain]]), the layout's
    * bucket `stats` read ONCE after healing (listing-only), the
    * compact arm — `compact(<id>-compact)` when a bucket holds more
    * than `maxFilesPerPartition` files, reported as `arm(maxFiles=…,
    * buckets=<dirs compacted>)` — then the ledger roll-up and the
    * purge arm (`purge`, only under the policy's explicit window) of
    * [[EpochLedger.maintainLedger]]. No skew or recall arm: buckets
    * are hash partitions (balanced by construction, no trainable
    * geometry to drift).
    */
  private def maintainBuckets(
      spark: org.apache.spark.sql.SparkSession,
      ledgerPath: String,
      id: String,
      policy: BucketMaintainPolicy,
      arm: String,
      heal: => Unit,
      stats: => Seq[(String, Int, Long)],
      compact: String => Int,
      purge: Long => Seq[String]): BucketMaintenance = {
    import policy._
    EpochLedger.beginMaintain(id, maxFilesPerPartition, ledgerTailMax,
      filesPerPartition)(heal)
    val st = stats
    val maxFiles = if (st.isEmpty) 0 else st.map(_._2).max
    val compacted =
      if (maxFiles <= maxFilesPerPartition) None
      else Some(s"$arm(maxFiles=$maxFiles>$maxFilesPerPartition, " +
        s"buckets=${compact(s"$id-compact")})")
    val (tail, ledgerActions) = EpochLedger.maintainLedger(spark,
      ledgerPath, ledgerTailMax, purgeRetiredOlderThanMs)(purge)
    BucketMaintenance(compacted.toSeq ++ ledgerActions, st.size, maxFiles,
      tail)
  }

  /** The substring-index twin of [[dedupMaintain]] ([[maintainBuckets]]
    * over the index): bucket file count past `maxFilesPerPartition` →
    * [[compactSubstringPartitions]] (which also sum-merges each hash's
    * epoch rows back to the one-row-per-window at-rest shape), reported
    * as `compact-index(…)`; then the ledger roll-up and purge arms.
    * Heals through [[recoverSubstringLayout]] at entry. Replay-safe
    * through the sub-protocols' ledgers. Single maintenance writer,
    * stream STOPPED — the family contract; the CLI twin is
    * `substring-dup maintain`.
    */
  def substringMaintain(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      id: String,
      policy: BucketMaintainPolicy): BucketMaintenance =
    maintainBuckets(spark, path, id, policy, "compact-index",
      heal = recoverSubstringLayout(spark, path),
      stats = substringPartitionStats(spark, path),
      compact = compactSubstringPartitions(spark, path, _,
        policy.maxFilesPerPartition, policy.maxRecordsPerFile,
        policy.filesPerPartition),
      purge = EpochLedger.purgeRetiredOlderThan(spark, path, _))

  /** [[Similarity.retireSupersededGenerations]] with the substring
    * layout's own flat-era prefix (`wh_bucket=`) — the retention-window
    * sweep that pairs with [[rotateSubstringIndex]]'s `deferRetire`.
    * Without the prefix the generic sweep moves only `_gen-<M>` dirs
    * and the flat `_meta`: a first, MIGRATING deferred rotation would
    * strand the old `wh_bucket=` dirs at the layout root forever —
    * invisible to resolution, [[substringFsck]], and every
    * retire/purge path — an unbounded storage leak. CLI twin:
    * `substring-dup retire-superseded`.
    */
  def retireSupersededSubstringGenerations(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      name: String): Int =
    Similarity.retireSupersededGenerations(spark, path, name,
      partPrefix = "wh_bucket=")

  /** READ-ONLY diagnosis of a [[writeSubstringIndex]] layout —
    * [[EpochLedger.layoutFsck]]'s shared preamble (generation-pointer
    * integrity, [[EpochLedger.fsck]]'s generic protocol checks: torn
    * stages, unledgered footprints, the ledger-loss valve,
    * quarantined/retired bytes) plus the layout's own invariants: the
    * `_meta` geometry sidecar every probe and append derives from
    * (absent/unreadable/inconsistent = fatal — the layout is unusable
    * without its window size and bucket modulus), and the bucket-dir
    * names judged AGAINST that modulus (a dir outside `b0..b(n-1)` is
    * the stale-modulus hazard [[writeSubstringIndex]]'s static
    * overwrite exists to prevent — its window hashes are unreachable
    * by every probe's bucket arithmetic, silently under-counting).
    * Mutates NOTHING. Empty = clean.
    */
  def substringFsck(
      spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[EpochLedger.FsckFinding] =
    EpochLedger.layoutFsck(spark, path, "wh_bucket=", "_meta",
      "bucket dirs exist but the _meta geometry sidecar is missing " +
        "— every probe and append fails (the (window, n_buckets) " +
        "pair travels with the data); rebuild with " +
        "writeSubstringIndex/rotateSubstringIndex from the corpus",
      genericFirst = true) { (f, dataRoot, partDirs) =>
      val out = scala.collection.mutable.ArrayBuffer
        .empty[EpochLedger.FsckFinding]
      if (f.exists(new org.apache.hadoop.fs.Path(s"$dataRoot/_meta"))) {
        val meta: Option[(Int, Int)] =
          try {
            val m = TinyParquet.row(spark, s"$dataRoot/_meta")
            // hash-format version: a v1 (pre-rolling-hash) layout probes
            // as silently ZERO-duplicate under v2 hashes — exactly the
            // class of silent under-count this doctor exists to report
            val ver = m.get("hash_ver").map(_.asInstanceOf[Int]).getOrElse(1)
            if (ver != SubstringHashVersion)
              out += EpochLedger.FsckFinding("hash-version", "fatal",
                s"$dataRoot/_meta",
                s"window-hash format v$ver but this build computes " +
                  s"v$SubstringHashVersion — every probe reports zero " +
                  "history duplicates and every append mixes hash " +
                  "namespaces; rebuild through rotateSubstringIndex")
            Some((m("window").asInstanceOf[Int],
              m("n_buckets").asInstanceOf[Int]))
          } catch {
            case scala.util.control.NonFatal(e) =>
              out += EpochLedger.FsckFinding("meta-unreadable", "fatal",
                s"$dataRoot/_meta",
                s"the _meta sidecar exists but cannot be read " +
                  s"(${e.getClass.getSimpleName}) — rebuild with " +
                  "writeSubstringIndex/rotateSubstringIndex (the index " +
                  "is derived data)")
              None
          }
        meta.foreach { case (window, nBuckets) =>
          if (window < 1 || nBuckets < 1)
            out += EpochLedger.FsckFinding("meta-geometry", "fatal",
              s"$dataRoot/_meta",
              s"inconsistent geometry: window=$window " +
                s"n_buckets=$nBuckets (want both >= 1) — restore the " +
                "matching _meta or rebuild with rotateSubstringIndex")
          else {
            val stale = partDirs.map(_.getPath.getName
                .stripPrefix("wh_bucket="))
              .filterNot { b =>
                // CANONICAL rendering required, not just parseability:
                // the probe's bucket arithmetic generates exactly "b<k>"
                // — a dir named b007 or b+3 parses to an in-range k but
                // no probe ever reads it (the silent under-count this
                // fatal finding exists to report)
                b.startsWith("b") &&
                  b.drop(1).toLongOption
                    .exists(k => k >= 0 && k < nBuckets && s"b$k" == b)
              }.sorted
            if (stale.nonEmpty)
              out += EpochLedger.FsckFinding("bucket-modulus", "fatal",
                dataRoot,
                s"${stale.length} bucket dir(s) outside the _meta " +
                  s"modulus n_buckets=$nBuckets (${stale.take(5)
                    .mkString(", ")}${if (stale.length > 5) ", …" else ""})" +
                  " — a rebuild with a different nBuckets left stale " +
                  "dirs, or a foreign layout's dirs were restored in; " +
                  "their hashes are unreachable by probe bucket " +
                  "arithmetic (silent under-count). Rebuild with " +
                  "rotateSubstringIndex")
          }
        }
      }
      out.toSeq
    }

  /** MinHash signature: doc_id, shh, and `mh` = the k universal-hash
    * minima as one array column — a single compiled pass per document via
    * the codegen'd [[graft.functions.MinHashes]] expression (bit-identical
    * to the k interpreted `array_min(transform(...))` lambdas and the
    * DuckDB oracle's `list_min(list_transform(...))` columns).
    */
  def minhashSignatures(sh: DataFrame, k: Int): DataFrame =
    sh.select(col("doc_id"), col("shh"), MinHashes(col("shh"), k).as("mh"))

  /** (doc_id, band, key) LSH bucket rows of a shingled frame: the k
    * minhashes split into `bands` bands, each band's hashes folded into
    * one 64-bit key (each minhash < P = 1e9+7, so `key = mh·P + mh'`
    * stays within Long range for bands of ≤ 2 rows).
    */
  private def minhashBuckets(sh: DataFrame, k: Int, bands: Int): DataFrame = {
    require(k % bands == 0, "k must divide into bands")
    val rows = k / bands
    require(rows <= 2, "band key packing supports bands of <= 2 rows")
    val sig = minhashSignatures(sh, k).select("doc_id", "mh")
    val bandKeys = (0 until bands).map { b =>
      val key = (0 until rows)
        .map(r => element_at(col("mh"), b * rows + r + 1))
        .reduce((a, c) => a * TextHash.P + c)
      struct(lit(b).as("band"), key.as("key"))
    }
    sig.select(col("doc_id"), explode(array(bandKeys: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))
  }

  /** The persisted LSH side of INCREMENTAL near-dup: the historical
    * corpus's (doc_id, band, key) bucket rows, as a frame to write once
    * per epoch (3 longs per doc per band — O(corpus docs), not corpus
    * bytes). An arriving batch probes it with [[minhashProbe]] instead
    * of re-banding 100 TB of history; the Bloom guard
    * ([[digestBloom]]/[[filterNovel]]) is the exact-duplicate analogue.
    */
  def minhashIndex(
      docs: DataFrame,
      textCol: String = "text",
      k: Int = 8,
      bands: Int = 4): DataFrame =
    minhashBuckets(shingled(docs, textCol).filter(size(col("shh")) > 0),
      k, bands)

  /** Persist a [[minhashIndex]] at `path` with its (k, bands) geometry
    * in an underscore-prefixed `_meta` sidecar — the at-rest form of the
    * incremental near-dup index, and the layout epoch rotation appends
    * to. Probing with a mismatched geometry silently finds no
    * collisions, so the sidecar makes the geometry travel with the
    * data the same way the bucketed history's modulus does.
    */
  def writeMinhashIndex(
      docs: DataFrame,
      path: String,
      textCol: String = "text",
      k: Int = 8,
      bands: Int = 4): Unit = {
    guardIndexOverwrite(docs.sparkSession, path)
    minhashIndex(docs, textCol, k, bands).write.mode("overwrite").parquet(path)
    // written AFTER the main overwrite (which clears the directory),
    // driver-side (TinyParquet) — two scalars need no Spark job
    TinyParquet.write(docs.sparkSession, s"$path/_meta",
      Seq("k" -> "int", "bands" -> "int"),
      Seq(Map("k" -> k, "bands" -> bands)))
  }

  /** Resolve a [[writeMinhashIndex]] layout: (frame, k, bands). Like
    * [[openHistoryBucketed]], call once per epoch and reuse — the frame
    * lists the layout's files at this point.
    */
  def openMinhashIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String): (DataFrame, Int, Int) = {
    val m = TinyParquet.row(spark, s"$path/_meta")
    (spark.read.parquet(path), m("k").asInstanceOf[Int],
      m("bands").asInstanceOf[Int])
  }

  /** Append a novel batch's band rows to a persisted [[writeMinhashIndex]]
    * layout — the O(novel) half of epoch rotation. Band rows are per-doc
    * independent (each row derives from one document's shingle set
    * alone), so appending novel docs produces EXACTLY the index a full
    * rebuild over history ∪ novel would: re-banding 100 TB of history
    * per epoch buys nothing. Geometry comes from the layout's `_meta`,
    * so an append can never mix band keys from two geometries.
    *
    * Raw primitive — a bare `mode("append")`, NOT atomic with the
    * matching history append and NOT retry-safe. Epoch maintenance
    * should go through [[rotateEpochBucketed]], whose manifest
    * protocol makes the history+index pair all-or-nothing.
    */
  def appendMinhashIndex(
      novel: DataFrame,
      path: String,
      textCol: String = "text"): Unit =
    indexRowsUnderMeta(novel, path, textCol).write.mode("append").parquet(path)

  /** A novel batch's band rows derived under the GEOMETRY of the layout
    * at `indexPath` (its `_meta` sidecar) — the single definition both
    * the raw append and the staged rotation write, so the two paths can
    * never diverge on what an index row is.
    */
  private def indexRowsUnderMeta(
      novel: DataFrame,
      indexPath: String,
      textCol: String): DataFrame = {
    val m = TinyParquet.row(novel.sparkSession, s"$indexPath/_meta")
    minhashIndex(novel, textCol, m("k").asInstanceOf[Int],
      m("bands").asInstanceOf[Int])
  }

  /** Append a novel batch to a [[writeHistoryBucketed]] layout under the
    * layout's OWN modulus (read from `_meta`), so the probe's partition
    * pruning stays correct across epochs.
    *
    * Raw primitive — a bare `mode("append")`, NOT atomic with the
    * matching index append and NOT retry-safe. Epoch maintenance
    * should go through [[rotateEpochBucketed]], whose manifest
    * protocol makes the history+index pair all-or-nothing.
    */
  def appendHistoryBucketed(novel: DataFrame, path: String): Unit =
    historyRowsUnderMeta(novel, path)
      // hash-exchange on the bucket key before the partitioned write
      // (the compaction paths' idiom): one file per touched bucket per
      // epoch instead of one per task holding its rows — bucket
      // fragmentation grows O(epochs), not O(tasks × epochs)
      .repartition(col("id_bucket"))
      .write.partitionBy("id_bucket").mode("append").parquet(path)

  /** A novel batch bucketed under the MODULUS of the layout at
    * `historyPath` (its `_meta` sidecar) — the single definition of the
    * `id_bucket` derivation shared by the raw append, the staged
    * rotation, and (with an explicit modulus) [[writeHistoryBucketed]];
    * a divergent copy would write rows into partitions the probe's
    * pruning never reads.
    */
  private def historyRowsUnderMeta(
      novel: DataFrame,
      historyPath: String): DataFrame = {
    val nBuckets = TinyParquet.row(novel.sparkSession,
      s"$historyPath/_meta")("n_buckets").asInstanceOf[Int]
    bucketedHistoryRows(novel, nBuckets)
  }

  private def bucketedHistoryRows(docs: DataFrame, nBuckets: Int): DataFrame =
    docs.withColumn("id_bucket",
      concat(lit("b"), pmod(col("doc_id"), lit(nBuckets.toLong))))

  /** The dedup pair's entry in the flat-builder overwrite-guard family
    * ([[Similarity.refusePlainDatasetOverwrite]]'s discipline, shared
    * with `writeIvfPartitioned`/`writePqIndex`): [[writeHistoryBucketed]]
    * is a destructive static overwrite, so a path recognizably NOT a
    * re-buildable history layout refuses — an `_epochs` ledger (applied
    * rotations a flat rebuild would orphan: a replayed epoch id would
    * then double-append), an IVF/PQ `_centroids` sidecar, a `_meta`
    * that is not the history's `n_buckets` (most dangerously the
    * minhash INDEX on swapped path arguments), or a plain dataset with
    * no `id_bucket=` dirs (the raw corpus on a typo'd path). Rebuilding
    * a never-appended history in place stays the supported refresh, and
    * the torn shapes stay retryable (hidden-only residue; `id_bucket=`
    * dirs whose `_meta` write never ran).
    */
  private def guardHistoryOverwrite(
      spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    val f = fsFor(spark, path)
    if (!f.exists(new org.apache.hadoop.fs.Path(path))) return
    def has(sub: String) =
      f.exists(new org.apache.hadoop.fs.Path(s"$path/$sub"))
    require(!has("_epochs"),
      s"$path carries an _epochs ledger (applied rotations) — a flat " +
        "writeHistoryBucketed rebuild would destroy the ledger and let " +
        "a replayed epoch id double-append; grow the layout through " +
        "rotateEpochBucketed")
    require(!has("_centroids"),
      s"$path is an IVF/PQ layout (_centroids sidecar) — " +
        "writeHistoryBucketed would destroy it; build the history at " +
        "its own path")
    if (has("_meta")) {
      val fields = metaFields(spark, path)
      // the substring index's _meta also carries n_buckets (plus
      // window) — refuse it too, not just the minhash index's
      require(fields.contains("n_buckets") && !fields.contains("window"),
        s"$path has a _meta sidecar that is not a bucketed history's " +
          s"(fields: ${fields.mkString(", ")}) — it looks like a " +
          "minhash or substring index or another layout; swapped " +
          "historyPath/indexPath arguments?")
    } else {
      Similarity.refusePlainDatasetOverwrite(f, path,
        "writeHistoryBucketed", partPrefix = "id_bucket=")
    }
  }

  /** [[writeMinhashIndex]]'s entry in the same guard family. The index
    * is DERIVED data whose documented crash remedy is re-running the
    * build, so every torn shape of its OWN write stays retryable:
    * hidden-only residue, a complete index (`_meta` carries
    * (k, bands)), and a partial index whose visible rows read with
    * exactly the index's (doc_id, band, key) schema — the crash window
    * between the data commit and the `_meta` write. Everything else
    * refuses: a bucketed history's `_meta` (swapped arguments), an
    * IVF/PQ `_centroids` sidecar, an `_epochs` ledger, and any other
    * visible dataset — most dangerously the raw corpus on a typo'd
    * path.
    */
  private def guardIndexOverwrite(
      spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    val f = fsFor(spark, path)
    val p = new org.apache.hadoop.fs.Path(path)
    if (!f.exists(p)) return
    def has(sub: String) =
      f.exists(new org.apache.hadoop.fs.Path(s"$path/$sub"))
    require(!has("_centroids"),
      s"$path is an IVF/PQ layout (_centroids sidecar) — " +
        "writeMinhashIndex would destroy it; build the index at its " +
        "own path")
    require(!has("_epochs"),
      s"$path carries an _epochs ledger — writeMinhashIndex would " +
        "destroy another protocol's layout; build the index at its " +
        "own path")
    if (has("_meta")) {
      val fields = metaFields(spark, path)
      require(fields.contains("k") && fields.contains("bands"),
        s"$path has a _meta sidecar that is not a minhash index's " +
          s"(fields: ${fields.mkString(", ")}) — it looks like the " +
          "bucketed history or another layout; swapped " +
          "indexPath/historyPath arguments?")
    } else {
      val visible = f.listStatus(p).exists { st =>
        val n = st.getPath.getName
        !n.startsWith("_") && !n.startsWith(".")
      }
      if (visible) {
        val indexShape =
          try spark.read.parquet(path).schema.fieldNames.toSet ==
            Set("doc_id", "band", "key")
          catch { case scala.util.control.NonFatal(_) => false }
        require(indexShape,
          s"$path exists, is non-empty, and is not a recognizable " +
            "minhash index (no (k, bands) _meta, rows are not " +
            "(doc_id, band, key)) — it looks like a plain dataset " +
            "(possibly the source corpus itself), which this " +
            "writeMinhashIndex overwrite would destroy; build at an " +
            "empty path, or delete the directory explicitly first")
      }
    }
  }

  private def metaFields(
      spark: org.apache.spark.sql.SparkSession, path: String): Seq[String] =
    TinyParquet.fieldNames(spark, s"$path/_meta")

  /** The historical Bloom guard advanced by one epoch's novel docs —
    * WITHOUT the O(corpus) rebuild: the old sketch is cloned (serialize
    * round-trip — the original may be the live value of a broadcast,
    * and mutating it in place would desync driver and executors) and
    * the novel batch's digest sketch is merged in. `expectedItems` and
    * `fpp` MUST be the values the epoch-0 [[digestBloom]] was sized
    * with: the novel sketch is created through the identical
    * (expectedItems, fpp) derivation, so its bit count and
    * hash-function count match the original exactly (sizing from the
    * old filter's `bitSize()` would NOT work — that accessor reports
    * the word-rounded bit count, and the rounded value can derive a
    * different hash-function count). A mismatched pair builds an
    * incompatible sketch and `mergeInPlace` rejects it loudly. The
    * merged filter is bit-identical to one built by inserting history ∪
    * novel into a same-sized sketch (Bloom insertion is an OR of bit
    * sets), so the false-positive rate is exactly the full-rebuild rate
    * at the same fill — size `expectedItems` for the corpus the epoch
    * loop will GROW to.
    */
  def bloomWithNovel(
      history: org.apache.spark.util.sketch.BloomFilter,
      novel: DataFrame,
      expectedItems: Long,
      fpp: Double = 0.01,
      textCol: String = "text"): org.apache.spark.util.sketch.BloomFilter = {
    val bos = new java.io.ByteArrayOutputStream()
    history.writeTo(bos)
    val clone = org.apache.spark.util.sketch.BloomFilter.readFrom(
      new java.io.ByteArrayInputStream(bos.toByteArray))
    val novelSketch = digestBloom(novel, expectedItems, fpp, textCol)
    clone.mergeInPlace(novelSketch)
    clone
  }

  /** Freshness tokens of the history layout's bloom sidecar — the
    * guard depends only on the DOC SET, so validity means "no epoch
    * applied since the write". Two tokens make the common read cheap:
    *
    *   - `all`: MD5 over ALL sorted ledgered ids — ONE listing (plus
    *     at most one roll-up read). Matches ⇒ nothing at all was
    *     ledgered since the write ⇒ fresh, no kind reads needed (the
    *     steady-state hit).
    *   - `epochs`: MD5 over only the DOC-SET-changing ids (kind
    *     "epoch" + legacy untagged; partition compactions are pure
    *     file coalescing and EXCLUDED). Consulted only when `all`
    *     mismatches — exactly the case where maintenance (a
    *     compaction, whose ledger entry must not invalidate the
    *     sidecar its rotation just wrote) or a foreign epoch ran.
    *     Costs one small-file read per ledger-tail entry, bounded by
    *     the roll-up cadence (`ledgerTailMax`).
    *
    * An [[EpochLedger.compactLedger]] roll-up preserves ids and kind
    * tags, so it flips `all` but never `epochs` — ledger maintenance
    * costs one kind sweep on the next read, never a rebuild.
    */
  private def tokenOf(ids: Seq[String]): String = {
    val sorted = ids.sorted
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(sorted.mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    s"${sorted.size}-${md.digest().map("%02x".format(_)).mkString}"
  }

  private def allToken(
      f: org.apache.hadoop.fs.FileSystem,
      historyPath: String): String =
    tokenOf(EpochLedger.ledgeredIds(f, historyPath).toSeq)

  private def epochsToken(
      f: org.apache.hadoop.fs.FileSystem,
      historyPath: String): String =
    tokenOf(EpochLedger.ledgeredKinds(f, historyPath)
      .collect { case (id, kind) if kind != "partition-compaction" => id }
      .toSeq)

  /** Persist `bloom` as the history layout's `_bloom` sidecar so a
    * stream restart pays a two-file read instead of the O(corpus)
    * [[digestBloom]] rebuild. ADVISORY derived data, like the minhash
    * index: the filter plus a freshness token ([[bloomToken]]) land in
    * a hidden tmp dir and publish by one rename; a crash mid-publish
    * leaves no sidecar (rebuild), a stale sidecar (token mismatch
    * after an out-of-band rotation) reads as absent. Written
    * automatically by [[rotateEpochBucketed]]; call directly after
    * seeding a fresh layout pair.
    */
  def writeBloomSidecar(
      spark: org.apache.spark.sql.SparkSession,
      historyPath: String,
      bloom: org.apache.spark.util.sketch.BloomFilter): Unit = {
    val f = fsFor(spark, historyPath)
    val tmp = new org.apache.hadoop.fs.Path(s"$historyPath/._bloom.tmp")
    f.delete(tmp, true)
    f.mkdirs(tmp)
    val out = f.create(new org.apache.hadoop.fs.Path(tmp, "filter"), true)
    try bloom.writeTo(out) finally out.close()
    val tok = f.create(new org.apache.hadoop.fs.Path(tmp, "token"), true)
    try tok.write(
      (s"all:${allToken(f, historyPath)}\n" +
        s"epochs:${epochsToken(f, historyPath)}")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally tok.close()
    val dst = new org.apache.hadoop.fs.Path(s"$historyPath/_bloom")
    f.delete(dst, true)
    require(f.rename(tmp, dst),
      s"bloom sidecar publish $tmp -> $dst failed")
  }

  /** Is the `_bloom` sidecar present with a token matching the
    * ledger's current applied-id set? Freshness only — never
    * deserializes the filter (the observability twin of
    * [[readBloomSidecar]] for runbook/CLI checks where loading a
    * corpus-sized filter onto the driver just to print a boolean would
    * be wasteful).
    */
  def bloomSidecarFresh(
      spark: org.apache.spark.sql.SparkSession,
      historyPath: String): Boolean =
    sidecarFresh(fsFor(spark, historyPath), historyPath)

  /** Is a `_bloom` sidecar present with a token matching the ledger's
    * current applied-id set? Freshness only — never deserializes the
    * filter. Any read failure counts as NOT fresh (the advisory
    * contract: when in doubt, rebuild).
    */
  private[operators] def sidecarFresh(
      f: org.apache.hadoop.fs.FileSystem,
      historyPath: String): Boolean =
    try {
      val dir = new org.apache.hadoop.fs.Path(s"$historyPath/_bloom")
      val tokP = new org.apache.hadoop.fs.Path(dir, "token")
      f.exists(tokP) &&
        f.exists(new org.apache.hadoop.fs.Path(dir, "filter")) && {
          val stored = EpochLedger.readSmallFile(f, tokP).split('\n')
            .flatMap { line =>
              val i = line.indexOf(':')
              if (i < 0) None else Some(line.take(i) -> line.drop(i + 1))
            }.toMap
          // `all` match = nothing ledgered since the write (one
          // listing, the steady-state hit); only a mismatch pays the
          // kind sweep
          stored.get("all").contains(allToken(f, historyPath)) ||
            stored.get("epochs").contains(epochsToken(f, historyPath))
        }
    } catch { case scala.util.control.NonFatal(_) => false }

  /** The persisted `_bloom` sidecar, if present AND fresh (its token
    * matches the ledger's current applied-id set) — None means rebuild
    * with [[digestBloom]] over the at-rest history. Never trusts a
    * sidecar the ledger has moved past: a stale guard would pass
    * already-stored docs as novel, degrading the exact-dedup guarantee
    * to the near-dup probe's.
    */
  def readBloomSidecar(
      spark: org.apache.spark.sql.SparkSession,
      historyPath: String): Option[org.apache.spark.util.sketch.BloomFilter] =
    // any read failure — the TOCTOU window where a concurrent
    // writeBloomSidecar deleted `_bloom` between our exists() and
    // open(), but also a truncated/garbage filter file, whose
    // BloomFilter.readFrom throws non-IO exceptions
    // (NegativeArraySizeException, IllegalArgumentException from bad
    // version/size bytes) — reads as ABSENT, per the sidecar's
    // advisory contract; the caller rebuilds
    try {
      val f = fsFor(spark, historyPath)
      val dir = new org.apache.hadoop.fs.Path(s"$historyPath/_bloom")
      val filtP = new org.apache.hadoop.fs.Path(dir, "filter")
      if (!sidecarFresh(f, historyPath)) None
      else {
        val in = f.open(filtP)
        try Some(org.apache.spark.util.sketch.BloomFilter.readFrom(in))
        finally in.close()
      }
    } catch {
      case scala.util.control.NonFatal(_) => None
    }

  /** Rotate an incremental-dedup epoch over the persisted layouts: the
    * epoch's accumulated NOVEL docs are appended to the bucketed
    * history and the banded index — both O(novel), never O(corpus) —
    * and a new broadcast Bloom guard is built by [[bloomWithNovel]].
    * The superseded broadcast is unpersisted (executors drop their
    * copy; any still-unevaluated frame holding it re-fetches from the
    * driver). Returns the new epoch's broadcast.
    *
    * CRASH-SAFE and (with a stable `epochId`) IDEMPOTENT — the naive
    * append pair would leave a doc in history but absent from the
    * index if the process died between the two writes: invisible to
    * every future near-dup probe, silently and permanently (the Bloom
    * only guards EXACT duplicates), and a blind retry would
    * double-append history rows, inflating probe-verify Jaccard
    * counts. Instead the rotation uses the same stage-then-commit
    * manifest protocol as `Tsdb.compactTable`:
    *
    *   1. write BOTH appends' files into `historyPath/_rotate/<epochId>`
    *      (the underscore prefix — WITHOUT an `=`, which would make
    *      partition discovery claim the dir — keeps it invisible to
    *      every reader);
    *   2. write a `_MANIFEST` (recording `indexPath`) via write +
    *      rename — the ATOMIC commit point;
    *   3. move the staged files into the live layouts under
    *      `<epochId>=<staged-name>` names (staged names embed a job
    *      UUID — no collisions; the prefix makes an unledgered epoch's
    *      footprint quarantinable on retry);
    *   4. record `epochId` in the `historyPath/_epochs/` ledger, then
    *      delete the staging dir.
    *
    * [[recoverRotations]] runs at rotation entry (and at
    * `StreamingDedup.startIncrementalFromPaths`) and classifies a
    * leftover staging dir: no manifest ⇒ the layouts were never
    * touched, discard the stage (the epoch's ledger entry is absent,
    * so a retry re-stages it); manifest present ⇒ finish the moves
    * (skipping files already moved) and the ledger entry. Either way
    * both layouts reflect the epoch completely or not at all. A retry
    * of a COMPLETED epoch (ledger hit) skips the appends entirely and
    * only re-derives the Bloom — safe, because merging the same novel
    * sketch twice is an OR of identical bit sets, bit-for-bit the
    * single-merge result.
    *
    * After a crash the restart sequence is: [[recoverRotations]] (or
    * just re-enter via `startIncrementalFromPaths`), rebuild the Bloom
    * from the recovered history ([[digestBloom]]), re-open the
    * layouts, and re-rotate any epoch whose id is not in the ledger.
    * The ledger costs one empty file per epoch — bounded by epoch
    * cadence (hours/days), not data volume.
    *
    * `novel` must be materialized data (the caller's accumulated
    * micro-batch output), NOT a frame derived from reading
    * `historyPath`/`indexPath` — appending a lazy self-read is the
    * usual write-into-your-own-input hazard.
    *
    * SINGLE MAINTENANCE WRITER, like `Tsdb.sync`/`compact` under their
    * lock: at most one rotation or recovery may run against a layout
    * pair at a time, and the incremental stream must be STOPPED across
    * its layouts' rotation (the epoch lifecycle is stop → rotate →
    * restart; `startIncrementalFromPaths` runs recovery at entry). A
    * concurrent recovery could discard a not-yet-committed stage; the
    * pre-commit existence check and the commit-point manifest re-check
    * turn that contract violation into a loud failure instead of a
    * silently empty epoch — and because moved files carry the
    * `<epochId>=` footprint, a same-epochId retry quarantines any
    * partial append at entry and re-applies cleanly, whatever state
    * the violation left behind.
    *
    * @param epochId stable identifier for this rotation (e.g. the
    *   epoch's sequence number) — REQUIRED, deliberately no default:
    *   an earlier revision defaulted to a fresh random UUID, which
    *   kept crash atomicity but made the documented idempotent retry
    *   OPT-IN — a blind retry after a crash that recovery had already
    *   completed re-appended the same novels under a new id, silently
    *   double-counting history and index rows. Pass the SAME id when
    *   retrying after a failure — that is what makes the retry
    *   idempotent.
    */
  def rotateEpochBucketed(
      novel: DataFrame,
      historyPath: String,
      indexPath: String,
      oldBloom: org.apache.spark.broadcast.Broadcast[
        org.apache.spark.util.sketch.BloomFilter],
      expectedItems: Long,
      fpp: Double = 0.01,
      textCol: String = "text",
      epochId: String)
      : org.apache.spark.broadcast.Broadcast[
        org.apache.spark.util.sketch.BloomFilter] =
    rotateEpochStaged(novel, historyPath, indexPath, oldBloom,
      expectedItems, fpp, textCol, epochId, _ => ())

  /** [[rotateEpochBucketed]] with a crash-injection hook for the
    * EpochRotationSpec scenarios: `failpoint` is invoked at the named
    * protocol points ("staged-history", "staged", "committed",
    * "moved-history") and simulates a crash by throwing.
    */
  private[graft] def rotateEpochStaged(
      novel: DataFrame,
      historyPath: String,
      indexPath: String,
      oldBloom: org.apache.spark.broadcast.Broadcast[
        org.apache.spark.util.sketch.BloomFilter],
      expectedItems: Long,
      fpp: Double,
      textCol: String,
      epochId: String,
      failpoint: String => Unit): org.apache.spark.broadcast.Broadcast[
        org.apache.spark.util.sketch.BloomFilter] = {
    // the ONE definition of id validity, shared with every other
    // entry (a second inline copy here used to risk silent divergence);
    // structural tier first so a LEGACY id's replay can reach the
    // no-op (EpochLedger.requirePathSafeId's contract) — the full rule
    // gates new applications below
    EpochLedger.requirePathSafeId(epochId)
    val spark = novel.sparkSession
    // the two-arg recovery also quarantines unledgered `<id>=`
    // footprints from the live layouts — without it, re-staging this
    // epoch after a stage-loss partial move would double-append its
    // rows
    recoverRotations(spark, historyPath, indexPath)
    val f = fsFor(spark, historyPath)
    // ONE ledger lookup decides replay AND kind: a ledger hit is only a
    // replay when the SAME protocol applied it; an id a
    // partition-compaction ledgered must fail loudly instead of
    // silently skipping the appends (empty legacy entries pass as
    // kind-unknown)
    val alreadyApplied = EpochLedger.appliedKind(f, historyPath, epochId) match {
      case Some(k) =>
        EpochLedger.requireKindMatches(historyPath, epochId, k, "epoch")
        true
      case None => false
    }
    if (!alreadyApplied) {
      EpochLedger.requireEpochId(epochId)
      // the ledger DIR is created before any data can move, so every
      // layout that ever started a rotation has it — recovery treats
      // "footprints but no ledger dir" as ledger loss and refuses to
      // quarantine the corpus
      f.mkdirs(new org.apache.hadoop.fs.Path(s"$historyPath/_epochs"))
      val stageRoot = new org.apache.hadoop.fs.Path(
        s"$historyPath/_rotate/$epochId")
      // stage both appends under the layouts' OWN geometry/modulus
      // (their _meta sidecars) — the same row derivations the raw
      // append primitives write, by construction (shared helpers)
      historyRowsUnderMeta(novel, historyPath)
        // one file per touched bucket per epoch (see
        // [[appendHistoryBucketed]]) — the protocol's per-file moves
        // become O(touched buckets), not O(tasks × buckets)
        .repartition(col("id_bucket"))
        .write.partitionBy("id_bucket").mode("overwrite")
        .parquet(s"$stageRoot/history")
      failpoint("staged-history")
      indexRowsUnderMeta(novel, indexPath, textCol)
        .write.mode("overwrite").parquet(s"$stageRoot/index")
      failpoint("staged")
      // single-writer check before committing: a CONCURRENT
      // recoverRotations (contract violation — see the docstring)
      // would have discarded the uncommitted stage; committing an
      // empty stage would ledger the epoch with zero rows appended,
      // permanently. This check only NARROWS the window (the deletion
      // can still land between it and the manifest rename) — the
      // guarantee comes from completeRotation, which re-verifies the
      // manifest at the ledger write and fails loudly instead of
      // recording an empty epoch.
      require(
        f.exists(new org.apache.hadoop.fs.Path(s"$stageRoot/history")) &&
          f.exists(new org.apache.hadoop.fs.Path(s"$stageRoot/index")),
        s"rotate: staging for epoch '$epochId' vanished before commit — " +
          "a concurrent recoverRotations/rotation ran against these " +
          "layouts; rotation requires a single maintenance writer")
      // the manifest is the commit point; it records indexPath so
      // recovery scanning historyPath alone can finish the move
      EpochLedger.commitManifest(f, stageRoot, indexPath, "rotate")
      failpoint("committed")
      completeRotation(f, stageRoot, historyPath, indexPath, epochId, failpoint)
    }
    val merged = bloomWithNovel(oldBloom.value, novel, expectedItems, fpp,
      textCol)
    // persist the merged guard as the layout's advisory sidecar: the
    // next stream start reads two files instead of re-digesting the
    // corpus. Token derives from the ledger AFTER this epoch's entry,
    // so a replay rewrites the identical state (idempotent) and a
    // crash right here leaves the PREVIOUS sidecar stale — which the
    // token check turns into a rebuild, never a wrong guard. On the
    // already-applied REPLAY path the sidecar is NEVER written: the
    // caller-supplied oldBloom is unverifiable here, and persisting a
    // merge of a wrong one (contract misuse) under a fresh token would
    // hand future sessions a guard that passes stored docs as novel.
    // The crash-between-ledger-and-sidecar window this write would
    // have filled self-heals instead: the stale sidecar reads as
    // absent and the next stream start (or `dedup rebuild-bloom`)
    // digest-rebuilds and re-persists. Misuse can corrupt the returned
    // broadcast but never the at-rest sidecar.
    if (!alreadyApplied)
      writeBloomSidecar(spark, historyPath, merged)
    val next = spark.sparkContext.broadcast(merged)
    oldBloom.unpersist(blocking = false)
    next
  }

  /** Has `epochId` been fully applied to the layouts rooted at
    * `historyPath`? (The [[rotateEpochBucketed]] ledger.) An id is
    * ledgered either as its own `_epochs/<id>` entry file (the recent
    * tail) or inside the applied-set file an
    * [[EpochLedger.compactLedger]] roll-up produced.
    */
  def epochApplied(
      spark: org.apache.spark.sql.SparkSession,
      historyPath: String,
      epochId: String): Boolean = {
    val f = fsFor(spark, historyPath)
    f.exists(
      new org.apache.hadoop.fs.Path(s"$historyPath/_epochs/$epochId")) ||
      EpochLedger.rollupMap(f, historyPath).contains(epochId)
  }

  /** Per-bucket storage footprint of a [[writeHistoryBucketed]] layout
    * — one `(id_bucket, parquet-files, bytes)` row per partition dir,
    * from the listing alone. The history twin of
    * [[Similarity.ivfPartitionStats]]: every [[rotateEpochBucketed]]
    * epoch lands one file-set per bucket dir, so `files` here is the
    * fragmentation observable that drives
    * [[compactHistoryPartitions]].
    */
  def historyPartitionStats(
      spark: org.apache.spark.sql.SparkSession,
      historyPath: String): Seq[(String, Int, Long)] =
    EpochLedger.partitionFileStats(fsFor(spark, historyPath), historyPath,
      "id_bucket=")
      .map { case (d, n, b) => (d.stripPrefix("id_bucket="), n, b) }

  /** READ-ONLY diagnosis of the dedup layout pair —
    * [[EpochLedger.fsck]]'s generic protocol checks on the history
    * side (torn stages, unledgered footprints, the ledger-loss valve,
    * quarantined/retired bytes) plus the pair's own invariants: INDEX-
    * side footprints judged against the same history ledger (an
    * index-only torn state — an empty-novel epoch that crashed
    * mid-index-move — has no history footprint at all), the `_meta`
    * geometry sidecars both layouts' append primitives derive from,
    * the index-side quarantine, and the bloom sidecar's
    * absent/stale/fresh state. The torn sets it reports are the ones
    * [[recoverRotations]] acts on ([[pairTriage]]). Mutates NOTHING —
    * safe against layouts another writer owns, unlike
    * [[recoverRotations]]. Empty = clean.
    */
  def dedupFsck(
      spark: org.apache.spark.sql.SparkSession,
      historyPath: String,
      indexPath: String): Seq[EpochLedger.FsckFinding] = {
    val f = fsFor(spark, historyPath)
    val t = pairTriage(f, historyPath, indexPath)
    val out = scala.collection.mutable.ArrayBuffer
      .empty[EpochLedger.FsckFinding]
    out ++= EpochLedger.fsck(f, historyPath, "id_bucket=", historyPath,
      t.history)
    // the generic pass judges committed _rotate stages with the EPOCH
    // protocol's resume rule; the history's _rotate stages resume as
    // DEDUP rotations — re-judge with [[dedupResumeRefusal]] (the
    // rule recoverRotations enforces) so the doctor reports exactly
    // what recovery will do. A stage the dedup rule resumes always
    // passes the epoch rule too (its bare-path manifest reads as
    // kind-absent), so only refusals need rewriting.
    t.history.rotateStages.collect { case (name, true) => name }
      .foreach { name =>
        val subject = s"$historyPath/_rotate/$name"
        dedupResumeRefusal(name, EpochLedger.readSmallFile(f,
            new org.apache.hadoop.fs.Path(subject, "_MANIFEST")))
          .foreach { reason =>
            out.indices.findLast(i => out(i).subject == subject)
              .foreach(out.remove(_))
            out += EpochLedger.FsckFinding("stage-foreign", "fatal",
              subject,
              s"committed stage $reason — recovery will REFUSE to " +
                "resume or discard it; remove it by hand")
          }
      }
    if (t.index.nonEmpty && !t.history.ledgerDirExists) {
      // the generic pass only judges the valve from HISTORY-side
      // evidence; recovery refuses on ANY index footprint when the
      // ledger is gone — including one a committed stage fences (an
      // empty-novel epoch torn mid-index-move leaves no history
      // footprint at all), so fsck must report the same fatal, not a
      // benign resumable-stage warning
      if (!out.exists(_.code == "ledger-missing"))
        out += EpochLedger.FsckFinding("ledger-missing", "fatal",
          s"$historyPath/_epochs",
          "index-side '<id>=' footprints exist but the _epochs ledger " +
            "dir does not — recovery will REFUSE until the ledger " +
            "travels back with the layouts")
    } else t.indexTorn
      .groupBy(_._1).toSeq.sortBy(_._1).foreach { case (id, fs) =>
        val (temps, visible) = fs.partition(_._2.getName.startsWith("."))
        if (visible.nonEmpty)
          out += EpochLedger.FsckFinding("footprint-unledgered", "warn",
            s"$indexPath <$id>",
            s"index file(s) carry epoch footprint '$id=' with no " +
              "ledger entry and no committed stage — a stage-lost " +
              "partial move; recovery will QUARANTINE them under " +
              s"$indexPath/_quarantine/$id")
        if (temps.nonEmpty)
          out += EpochLedger.FsckFinding("inflight-residue", "warn",
            s"$indexPath <.$id>",
            "in-flight cross-FS copy temp(s) for an unledgered epoch " +
              "— recovery DELETES these (the visible sibling is the " +
              "durable copy); nothing is quarantined")
      }
    val idxFs = t.indexFs
    scanHiddenRoot(idxFs, indexPath, "_quarantine").sortBy(_._1)
      .foreach { case (id, files, bytes) =>
        out += EpochLedger.FsckFinding("quarantine-present", "info",
          s"$indexPath/_quarantine/$id",
          s"$files file(s), $bytes bytes quarantined on the index side")
      }
    scanHiddenRoot(idxFs, indexPath, "_retired").sortBy(_._1)
      .foreach { case (id, files, bytes) =>
        out += EpochLedger.FsckFinding("retired-present", "info",
          s"$indexPath/_retired/$id",
          s"$files file(s), $bytes bytes retired on the index side — " +
            "purge once no in-flight reader can hold them")
      }
    // geometry sidecars: the append primitives derive their modulus /
    // band geometry from these — a layout without one cannot grow
    def hasData(p: org.apache.hadoop.fs.FileSystem, d: String,
        dirPrefix: Option[String]): Boolean = {
      val dp = new org.apache.hadoop.fs.Path(d)
      p.exists(dp) && p.listStatus(dp).exists(st => dirPrefix match {
        case Some(pre) =>
          st.isDirectory && st.getPath.getName.startsWith(pre)
        case None =>
          st.isFile && st.getPath.getName.endsWith(".parquet")
      })
    }
    if (hasData(f, historyPath, Some("id_bucket=")) &&
        !f.exists(new org.apache.hadoop.fs.Path(s"$historyPath/_meta")))
      out += EpochLedger.FsckFinding("meta-missing", "warn",
        s"$historyPath/_meta",
        "bucketed history without its _meta geometry sidecar — epoch " +
          "appends cannot derive the bucket modulus; rewrite with " +
          "writeHistoryBucketed or restore the sidecar")
    if (hasData(idxFs, indexPath, None) &&
        !idxFs.exists(new org.apache.hadoop.fs.Path(s"$indexPath/_meta")))
      out += EpochLedger.FsckFinding("meta-missing", "warn",
        s"$indexPath/_meta",
        "minhash index without its _meta geometry sidecar — appends " +
          "cannot derive the band geometry; rebuildMinhashIndex " +
          "re-derives both from the at-rest history")
    // bloom sidecar: advisory, so absent/stale are info (the next
    // stream start digest-rebuilds), never warnings
    if (!f.exists(new org.apache.hadoop.fs.Path(s"$historyPath/_bloom")))
      out += EpochLedger.FsckFinding("sidecar-absent", "info",
        s"$historyPath/_bloom",
        "no persisted bloom guard — the next stream start pays one " +
          "O(corpus) digest rebuild; `dedup rebuild-bloom` pre-warms")
    else if (!sidecarFresh(f, historyPath))
      out += EpochLedger.FsckFinding("sidecar-stale", "info",
        s"$historyPath/_bloom",
        "the persisted bloom guard's token no longer matches the " +
          "ledger's applied-id set — it reads as absent; the next " +
          "stream start digest-rebuilds and re-persists")
    out.toSeq
  }

  /** Compact ONLY the fragmented buckets of a [[writeHistoryBucketed]]
    * layout, in place — the history twin of
    * [[Similarity.compactIvfPartitions]], through the same generic
    * stage → `_MANIFEST` → per-dir idempotent swaps → ledger protocol
    * ([[EpochLedger.compactPartitionsStaged]]): every `id_bucket=` dir
    * whose parquet-file count exceeds `maxFilesPerPartition` is
    * rewritten to one file (`maxRecordsPerFile` re-splits) in ONE job
    * that reads only those dirs; untouched buckets keep their exact
    * files. At epoch cadence a year of rotations is hundreds of
    * file-sets per bucket — this bounds probe-scan planning and the
    * listing-only recovery sweeps at O(fragmented) rewrite cost, not
    * O(corpus). Compacted files carry the `<compactionId>=` footprint
    * and the id lands kind-tagged ("partition-compaction") in the
    * SHARED `historyPath/_epochs` ledger, so an id collision with an
    * epoch rotation fails loudly in either direction. Replaced dirs
    * retire (never delete) under
    * `historyPath/_retired/<id>.compact/`.
    *
    * The index side needs no counterpart here: the flat minhash index
    * is DERIVED data (a pure function of the corpus), so its
    * file-growth remedy is a rebuild (`writeMinhashIndex` over the
    * corpus) inside the stopped-stream maintenance window the epoch
    * lifecycle already mandates — see SCALING.md.
    *
    * Same non-atomic per-dir swap window as the IVF twin (two renames;
    * a probe listing exactly then misses that one bucket — never
    * doubled, never mixed), and the same contract: single maintenance
    * writer, stream STOPPED, heal-at-entry. Returns the number of
    * bucket dirs compacted now (0 = replay or nothing over
    * threshold).
    */
  def compactHistoryPartitions(
      spark: org.apache.spark.sql.SparkSession,
      historyPath: String,
      indexPath: String,
      compactionId: String,
      maxFilesPerPartition: Int = 1,
      maxRecordsPerFile: Long = 0L,
      filesPerPartition: Int = 1): Int =
    compactHistoryPartitionsStaged(spark, historyPath, indexPath,
      compactionId, maxFilesPerPartition, maxRecordsPerFile, _ => (),
      filesPerPartition)

  /** [[compactHistoryPartitions]] with the crash-injection hook —
    * same failpoints as the IVF twin ("staged", "committed",
    * "swap-retire", "swap-in", "swapped").
    */
  private[operators] def compactHistoryPartitionsStaged(
      spark: org.apache.spark.sql.SparkSession,
      historyPath: String,
      indexPath: String,
      compactionId: String,
      maxFilesPerPartition: Int,
      maxRecordsPerFile: Long,
      failpoint: String => Unit,
      filesPerPartition: Int = 1): Int = {
    // heal the PAIR first — a torn rotation would otherwise be
    // compacted half-appended (and its unledgered footprints must
    // quarantine before the rewrite reads them as corpus)
    recoverRotations(spark, historyPath, indexPath)
    EpochLedger.compactPartitionsStaged(spark, historyPath,
      dataRoot = historyPath, partitionCol = "id_bucket",
      id = compactionId, maxFilesPerPartition = maxFilesPerPartition,
      maxRecordsPerFile = maxRecordsPerFile, failpoint = failpoint,
      filesPerPartition = filesPerPartition)
  }

  /** Rebuild the flat minhash index at `indexPath` from the AT-REST
    * bucketed history — the index-side file-growth remedy
    * ([[compactHistoryPartitions]]'s docstring): the index is a pure
    * function of the corpus, so rather than swapping thousands of
    * flat-root files safely in place, re-derive it in one overwrite.
    * Geometry comes from the index's own `_meta` (or the explicit
    * `(k, bands)` override — the disaster path for a crash that took
    * `_meta` with it). The result is bit-identical to
    * [[writeMinhashIndex]] over the same corpus: band rows are per-doc
    * pure functions.
    *
    * CONTRACT: stopped-stream maintenance window, single writer — the
    * same window the epoch lifecycle already mandates. Crash story:
    * a crash mid-overwrite leaves a partial index, and the remedy is
    * to RE-RUN the rebuild — the history is the system of record and
    * nothing is lost; this is deliberately simpler than the staged
    * protocols because derived data needs no quarantine discipline.
    * Returns the number of indexed docs.
    */
  def rebuildMinhashIndex(
      spark: org.apache.spark.sql.SparkSession,
      historyPath: String,
      indexPath: String,
      geometry: Option[(Int, Int)] = None): Long = {
    // heal the pair first: a torn rotation's half-appended history
    // must quarantine before the rebuild reads it as corpus
    recoverRotations(spark, historyPath, indexPath)
    val (k, bands) = geometry.getOrElse {
      val m = TinyParquet.row(spark, s"$indexPath/_meta")
      (m("k").asInstanceOf[Int], m("bands").asInstanceOf[Int])
    }
    val (history, _) = openHistoryBucketed(spark, historyPath)
    val docs = history.select("doc_id", "text")
    writeMinhashIndex(docs, indexPath, k = k, bands = bands)
    docs.count()
  }

  /** The dedup-pair twin of [[Similarity.ivfMaintain]]
    * ([[maintainBuckets]] over the history layout): read the history's
    * fragmentation and ledger observables ONCE (listing-only), judge
    * them against `policy`, and run the prescribed maintenance —
    * bucket file count past `maxFilesPerPartition` →
    * [[compactHistoryPartitions]] under id `<id>-compact`, reported as
    * `compact-history(…)`; `_epochs` entry tail past `ledgerTailMax` →
    * [[EpochLedger.compactLedger]]; retired dirs under EITHER root older
    * than `purgeRetiredOlderThanMs` → [[purgeRetiredOlderThan]]. The
    * index is derived data whose remedy is a rebuild, not a policy
    * step. Heals the PAIR at entry ([[recoverRotations]], never
    * [[EpochLedger.recover]], which would read a `_rotate` stage's bare
    * index-path manifest as a one-sided epoch): a torn rotation or
    * compaction resolves even when every threshold reads healthy.
    * Healthy pair = empty `actions`. Replay-safe through the
    * sub-protocols' ledgers. Single maintenance writer, stream
    * STOPPED — same contract as every entry on the pair; the CLI twin
    * is `dedup maintain --lock-file`.
    */
  def dedupMaintain(
      spark: org.apache.spark.sql.SparkSession,
      historyPath: String,
      indexPath: String,
      id: String,
      policy: BucketMaintainPolicy): BucketMaintenance =
    maintainBuckets(spark, historyPath, id, policy, "compact-history",
      heal = recoverRotations(spark, historyPath, indexPath),
      stats = historyPartitionStats(spark, historyPath),
      compact = compactHistoryPartitions(spark, historyPath, indexPath, _,
        policy.maxFilesPerPartition, policy.maxRecordsPerFile,
        policy.filesPerPartition),
      purge = purgeRetiredOlderThan(spark, historyPath, indexPath, _))

  /** Resolve any crashed [[rotateEpochBucketed]] on the layouts rooted
    * at `historyPath` (the index path comes from each staging dir's
    * manifest). Uncommitted staging (no `_MANIFEST`) is discarded —
    * the layouts were never touched; committed staging is completed —
    * the moves skip files a previous attempt already moved. Then the
    * history's `_retrain` stages (partition compactions) resolve
    * through [[EpochLedger.recoverRetrainStages]], which refuses a
    * committed stage of another layout kind.
    *
    * When restarting a pipeline that opens the layouts by other means,
    * call the TWO-argument overload instead: this form resolves
    * staging dirs but cannot reach unledgered `<id>=` footprints in
    * the live layouts (the stage-loss partial state) — only the
    * overload that knows the index path can quarantine those. Both
    * forms share the ledger-loss valve: a committed stage is NOT
    * completed while footprints exist but the `_epochs` dir is
    * missing, because completion would re-create an almost-empty
    * ledger and doom every other epoch to quarantine. The valve sweeps
    * BOTH sides here — each committed stage's manifest records its
    * indexPath, so even an index-only torn state (an empty-novel epoch
    * crashed mid-index-move) triggers the refusal.
    *
    * Part of the layouts' single-maintenance-writer surface (see
    * [[rotateEpochBucketed]]): never run it while a rotation on the
    * same layouts is in flight — discarding a stage that is ABOUT to
    * commit is indistinguishable from a crashed one.
    */
  def recoverRotations(
      spark: org.apache.spark.sql.SparkSession,
      historyPath: String): Unit = {
    val f = fsFor(spark, historyPath)
    val root = new org.apache.hadoop.fs.Path(s"$historyPath/_rotate")
    val stages =
      if (f.exists(root)) f.listStatus(root).toSeq
      else Seq.empty[org.apache.hadoop.fs.FileStatus]
    // committed stages' manifests, read up front: each records its
    // indexPath, which extends the ledger-loss valve below to the
    // index SIDE — an index-only torn state (an empty-novel epoch that
    // crashed mid-index-move) has no history footprint at all, and a
    // history-only sweep would let it slip the valve
    val committed: Seq[(org.apache.hadoop.fs.Path, String)] =
      stages.flatMap { st =>
        val manifest = new org.apache.hadoop.fs.Path(st.getPath, "_MANIFEST")
        if (f.exists(manifest))
          Some(st.getPath -> EpochLedger.readSmallFile(f, manifest))
        else None
      }
    // the ledger-loss valve, same judgment as the two-arg overload:
    // completing a committed stage re-creates _epochs with only its
    // own entry, after which a later footprint sweep would treat every
    // OTHER epoch as torn and quarantine the corpus. Footprints imply
    // footprint-era code, which creates _epochs at stage time — if the
    // dir is missing while footprints exist ON EITHER SIDE, the ledger
    // was lost; refuse before mutating anything. (All exists() checks
    // are skipped entirely on the normal path.)
    if (committed.nonEmpty &&
      !f.exists(new org.apache.hadoop.fs.Path(s"$historyPath/_epochs")))
      require(!EpochLedger.hasFootprints(f, historyPath, "id_bucket=") &&
        !committed.exists { case (_, ip) => anyIndexFootprint(f, ip) },
        s"recover: committed staging under $historyPath/_rotate with " +
          "'<id>=' footprint files in the layout but no _epochs ledger " +
          "dir — the ledger was lost (an underscore-blind copy/restore " +
          "is the usual cause). Restore it (it travels WITH the " +
          "layouts); completing the stage now would re-create an " +
          "almost-empty ledger and send every other rotated epoch's " +
          "data to quarantine on the next recovery. Refusing to touch " +
          "the corpus.")
    val committedBy = committed.toMap
    stages.foreach { st =>
      committedBy.get(st.getPath) match {
        case None =>
          require(f.delete(st.getPath, true),
            s"rotate: cleanup of ${st.getPath} failed")
        case Some(indexPath) =>
          // resume ONLY what is provably a dedup rotation stage — the
          // ONE judgment ([[dedupResumeRefusal]]) the fsck doctor
          // reports: an invalid stage name would move files whose
          // footprints no later sweep can see; a multi-line
          // (kind-format) manifest belongs to a sibling protocol and
          // its content is NOT an index path
          dedupResumeRefusal(st.getPath.getName, indexPath).foreach(r =>
            sys.error(s"rotate: committed stage " +
              s"'${st.getPath.getName}' under $historyPath/_rotate " +
              s"$r — refusing to resume or discard it; remove it by " +
              "hand"))
          completeRotation(f, st.getPath, historyPath, indexPath,
            st.getPath.getName, _ => ())
      }
    }
    // _retrain stages are the history layout's partition-scoped
    // compactions ([[compactHistoryPartitions]]): the shared sweep
    // discards, completes or refuses them by the same rules as every
    // other partitioned layout's (with its own ledger-loss valve)
    EpochLedger.recoverRetrainStages(spark, historyPath, "id_bucket=")
  }

  /** Why a committed `_rotate` stage cannot be resumed as a dedup
    * rotation, if any — the ONE judgment [[recoverRotations]] enforces
    * and [[dedupFsck]] reports, so the doctor can never call resumable
    * what recovery refuses. `manifest` is the raw content (the
    * recorded indexPath for a genuine dedup stage).
    */
  private[operators] def dedupResumeRefusal(
      name: String,
      manifest: String): Option[String] =
    // structural tier only — a committed legacy-id stage must resume,
    // not wedge; see EpochLedger.requirePathSafeId
    (try { EpochLedger.requirePathSafeId(name); None }
     catch {
       case e: IllegalArgumentException =>
         Some(s"is not a valid epoch stage (${e.getMessage})")
     }).orElse {
      if (manifest.nonEmpty && !manifest.contains('\n') &&
          !manifest.startsWith("kind:")) None
      else Some("carries a foreign (kind-format or empty) manifest " +
        "whose content is not an index path")
    }

  /** The dedup pair's recovery evidence, classified ONCE — the 2-arg
    * [[recoverRotations]] acts on it and [[dedupFsck]] reports it, so
    * the doctor's torn sets and the recovery's quarantine sets are one
    * definition. `history` is [[EpochLedger.triage]] over the
    * `id_bucket=` dirs (ledger, `_rotate`/`_retrain` stages, history
    * footprints); `index` holds one `(id, file)` row per footprinted
    * file at the flat index root, on its own filesystem `indexFs`,
    * where ONE leading '.' marks the cross-FS in-flight copy temp,
    * which carries its visible sibling's id. Listing-only.
    */
  private final case class PairTriage(
      history: EpochLedger.LedgerTriage,
      indexFs: org.apache.hadoop.fs.FileSystem,
      index: Seq[(String, org.apache.hadoop.fs.Path)]) {
    /** Index footprints no ledger entry and no committed stage
      * accounts for.
      */
    def indexTorn: Seq[(String, org.apache.hadoop.fs.Path)] =
      index.filterNot { case (id, _) =>
        history.ledgered(id) || history.pendingCommitted(id) }
  }

  private def pairTriage(
      f: org.apache.hadoop.fs.FileSystem,
      historyPath: String,
      indexPath: String): PairTriage = {
    val ip = new org.apache.hadoop.fs.Path(indexPath)
    val idxFs = ip.getFileSystem(f.getConf)
    PairTriage(
      EpochLedger.triage(f, historyPath, "id_bucket=", historyPath),
      idxFs,
      if (!idxFs.exists(ip)) Seq.empty
      else idxFs.listStatus(ip).toSeq.filter(_.isFile).flatMap(st =>
        EpochLedger.footprintId(st.getPath.getName, allowLeadingDot = true)
          .map(_ -> st.getPath)))
  }

  /** [[recoverRotations]] plus a live-layout footprint sweep: any
    * `<id>=`-prefixed file whose id is neither in the ledger nor has a
    * committed stage pending completion is residue of
    * a rotation that lost its stage after a partial move (the
    * concurrent-recovery state [[rotateEpochBucketed]]'s commit-point
    * guard fails loudly on) — history rows with no index entries,
    * silently invisible to every probe. This form QUARANTINES that
    * residue (moves it under each layout's hidden `_quarantine/<id>/`,
    * never deletes data), so a pipeline RESTART heals the state even
    * when the operator never re-rotates the torn epoch (its id is
    * absent from the ledger, so the documented restart sequence
    * re-rotates it as a fresh epoch — and a completed re-rotation
    * drops its own quarantine; fresh-id re-ingestion leaves the old
    * id's behind, see [[listQuarantined]]). Prefer this overload
    * wherever the index path is known; the single-argument form
    * cannot reach index-side residue.
    *
    * Safety valve: if torn footprints exist but the `_epochs` ledger
    * dir itself is MISSING, this refuses BEFORE mutating anything
    * (stages included) — every layout that ever started a rotation has
    * the dir (created at stage time), so its absence means the ledger
    * was lost (an underscore-blind copy/restore is the usual cause)
    * and "everything is unledgered" would quarantine the whole corpus.
    * The refusal is idempotent: a blind retry refuses again rather
    * than proceeding. Restore `_epochs` (it travels WITH the layouts)
    * and re-run. Names containing '=' at the layout roots are RESERVED
    * for the rotation protocol — don't park foreign files there.
    */
  def recoverRotations(
      spark: org.apache.spark.sql.SparkSession,
      historyPath: String,
      indexPath: String): Unit = {
    val f = fsFor(spark, historyPath)
    val t = pairTriage(f, historyPath, indexPath)
    // every torn footprint file, on its own filesystem, with the
    // quarantine dir it moves to
    val torn =
      t.history.torn.map { case (id, file, pd) =>
        (f, file, s"$historyPath/_quarantine/$id/$pd") } ++
        t.indexTorn.map { case (id, file) =>
          (t.indexFs, file, s"$indexPath/_quarantine/$id") }
    // the ledger-loss valve is judged BEFORE any mutation: completing
    // a committed stage re-creates _epochs for its own entry, so
    // deciding afterwards (or on a retry after a refusal that had
    // completed one) would let a blind re-run pass the valve and
    // quarantine every other epoch. Footprints imply footprint-era
    // code, which creates _epochs at stage time — its absence can
    // only mean external deletion.
    if (torn.nonEmpty)
      require(t.history.ledgerDirExists,
        s"recover: '<id>=' footprint files exist under $historyPath " +
          s"and/or $indexPath but the _epochs ledger dir is missing — " +
          "it was lost (an underscore-blind copy/restore is the usual " +
          "cause). Restore it: it travels WITH the layouts. If it is " +
          "unrecoverable, reconstruct an entry file per epoch known to " +
          "be applied before re-running — an EMPTY ledger would send " +
          "every rotated epoch's data to quarantine. (Foreign " +
          "'='-named files are also possible; that namespace is " +
          "reserved for the rotation protocol.) Refusing to touch the " +
          "corpus.")
    recoverRotations(spark, historyPath)
    torn.foreach { case (fs, file, qDir) =>
      if (file.getName.endsWith(".inflight"))
        // an in-flight temp is a partial COPY by construction (its
        // rename never happened) — never valid data, just drop it
        require(fs.delete(file, false),
          s"recover: cleanup of $file failed")
      else {
        val d = new org.apache.hadoop.fs.Path(qDir)
        fs.mkdirs(d)
        require(fs.rename(file, new org.apache.hadoop.fs.Path(d, file.getName)),
          s"recover: quarantine of $file -> $d failed")
      }
    }
  }

  /** Does the flat index layout at `indexPath` (possibly on a different
    * filesystem — resolved under `f`'s conf) hold a `<id>=` footprint
    * file? The index-side twin of [[EpochLedger.hasFootprints]]; used
    * only by the one-arg recovery's ledger-loss valve — never on the
    * normal path.
    */
  private def anyIndexFootprint(
      f: org.apache.hadoop.fs.FileSystem,
      indexPath: String): Boolean = {
    val ip = new org.apache.hadoop.fs.Path(indexPath)
    val idxFs = ip.getFileSystem(f.getConf)
    idxFs.exists(ip) && idxFs.listStatus(ip).exists(nf =>
      nf.isFile && EpochLedger.footprintId(nf.getPath.getName).isDefined)
  }

  /** The quarantine's operator surface: one `(epochId, files, bytes)`
    * row per quarantined torn epoch, aggregated across both layouts'
    * hidden `_quarantine/<id>/` dirs. A quarantine is dropped
    * automatically only when the SAME epochId later completes a
    * rotation; torn novel data re-ingested under a FRESH id (e.g. the
    * default random UUID) leaves the old id's quarantine behind —
    * monitor with this listing and purge ids that were re-ingested or
    * deliberately abandoned. Listing-only: never reads data files.
    */
  def listQuarantined(
      spark: org.apache.spark.sql.SparkSession,
      historyPath: String,
      indexPath: String): Seq[(String, Long, Long)] =
    listBothLayouts(spark, historyPath, indexPath, "_quarantine")

  /** The RETIRED-quarantine surface: one `(name, files, bytes)` row per
    * `_retired/<epochId>[.n]` dir across both layouts — the quarantines
    * a later completed rotation of the same epochId superseded
    * ([[retireQuarantine]]; the `.2`, `.3`, … suffixes are repeat
    * retirements of one id, each its own row). Retired dirs are outside
    * [[listQuarantined]]'s active listing by design, but "quarantine
    * moves, never deletes" means THEIR storage also lives until an
    * operator purges it — this listing is what makes that purge step
    * monitorable. Listing-only: never reads data files.
    */
  def listRetired(
      spark: org.apache.spark.sql.SparkSession,
      historyPath: String,
      indexPath: String): Seq[(String, Long, Long)] =
    listBothLayouts(spark, historyPath, indexPath, "_retired")

  /** One `(dir-name, files, bytes)` row per child of `root/<sub>` on
    * each layout's own filesystem, summed per name across the pair —
    * the shared scanner behind the quarantine/retired listings.
    */
  private def listBothLayouts(
      spark: org.apache.spark.sql.SparkSession,
      historyPath: String,
      indexPath: String,
      sub: String): Seq[(String, Long, Long)] = {
    val f = fsFor(spark, historyPath)
    val idxFs = new org.apache.hadoop.fs.Path(indexPath)
      .getFileSystem(f.getConf)
    (scanHiddenRoot(f, historyPath, sub) ++
      scanHiddenRoot(idxFs, indexPath, sub))
      .groupBy(_._1).toSeq
      .map { case (id, rows) =>
        (id, rows.map(_._2).sum, rows.map(_._3).sum) }
      .sortBy(_._1)
  }

  /** Delete ONE retired dir by its exact [[listRetired]] name
    * (`<epochId>` or `<epochId>.n`) from whichever of the two layout
    * roots holds it — the deliberate, operator-initiated end of the
    * quarantine lifecycle (tear → quarantine → supersede-retire →
    * monitored purge). Deletion never happens implicitly anywhere in
    * the protocol; this is the only entry, and it takes the exact
    * suffixed name so a purge can never reach more than one
    * retirement. Returns true when something was deleted.
    */
  def purgeRetired(
      spark: org.apache.spark.sql.SparkSession,
      historyPath: String,
      indexPath: String,
      name: String): Boolean = {
    val f = fsFor(spark, historyPath)
    val idxFs = new org.apache.hadoop.fs.Path(indexPath)
      .getFileSystem(f.getConf)
    val a = purgeRetiredDir(f, historyPath, name)
    val b = purgeRetiredDir(idxFs, indexPath, name)
    a || b
  }

  /** Bulk retention-window purge across the dedup layout PAIR — the
    * two-layout twin of [[EpochLedger.purgeRetiredOlderThan]]: every
    * `_retired/<name>` dir under either root whose listing mtime is
    * older than `olderThanMs` is deleted (exact-name single-dir
    * deletes underneath). Returns the deleted names (deduplicated
    * across the pair), in listing order.
    */
  def purgeRetiredOlderThan(
      spark: org.apache.spark.sql.SparkSession,
      historyPath: String,
      indexPath: String,
      olderThanMs: Long,
      now: Long = System.currentTimeMillis): Seq[String] = {
    val f = fsFor(spark, historyPath)
    val idxFs = new org.apache.hadoop.fs.Path(indexPath)
      .getFileSystem(f.getConf)
    (purgeRetiredOlderThanDirs(f, historyPath, olderThanMs, now) ++
      purgeRetiredOlderThanDirs(idxFs, indexPath, olderThanMs, now)).distinct
  }

  /** Single-root retention sweep behind the bulk purges: list
    * `root/_retired`, judge each child dir's age from its listing
    * mtime, and delete the over-age ones via [[purgeRetiredDir]]
    * (exact-name semantics — the age filter only SELECTS names; the
    * deletion path is the same single-dir delete the operator entry
    * uses). A non-positive `olderThanMs` is refused: an accidental 0
    * would silently purge everything, including dirs an in-flight
    * `deferRetire` reader may still be draining from.
    *
    * Object-store caveat handled here: S3A (and friends) report
    * `modificationTime = 0` for DIRECTORY statuses — trusting it would
    * make every retired dir "older than" any window and the very first
    * sweep would delete retirements made seconds ago. A dir whose
    * listing mtime is non-positive is re-judged by the NEWEST file
    * mtime inside it (one recursive listing, paid only on such
    * stores and only for purge candidates); a dir with no readable
    * timestamp at all is SKIPPED — never deleted on missing evidence.
    */
  private[operators] def purgeRetiredOlderThanDirs(
      fs: org.apache.hadoop.fs.FileSystem,
      root: String,
      olderThanMs: Long,
      now: Long): Seq[String] = {
    require(olderThanMs > 0L,
      s"olderThanMs must be positive, got $olderThanMs — an explicit " +
        "retention window is the point of the bulk purge; use " +
        "purgeRetired(name) to delete a specific retirement now")
    def newestFileMtime(d: org.apache.hadoop.fs.Path): Long = {
      val it = fs.listFiles(d, true)
      var newest = 0L
      while (it.hasNext) newest = math.max(newest, it.next().getModificationTime)
      newest
    }
    val p = new org.apache.hadoop.fs.Path(s"$root/_retired")
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).filter(_.isDirectory).toIndexedSeq
      .filter { st =>
        val mtime =
          if (st.getModificationTime > 0L) st.getModificationTime
          else newestFileMtime(st.getPath)
        mtime > 0L && now - mtime > olderThanMs
      }
      .map(_.getPath.getName)
      .map { n => purgeRetiredDir(fs, root, n); n }
  }

  /** Single-root purge behind [[purgeRetired]] and
    * [[EpochLedger.purgeRetired]]: validates `name` is a plain path
    * segment (a '/' or '..' could otherwise walk the delete out of
    * `_retired`), then deletes `root/_retired/<name>` if present.
    */
  private[operators] def purgeRetiredDir(
      fs: org.apache.hadoop.fs.FileSystem,
      root: String,
      name: String): Boolean = {
    require(
      name.nonEmpty && !name.exists(c => c == '/' || c == '\\') &&
        name != "." && name != ".." && !name.startsWith("."),
      s"retired name must be a plain path segment, got '$name'")
    val p = new org.apache.hadoop.fs.Path(s"$root/_retired/$name")
    if (!fs.exists(p)) false
    else {
      require(fs.delete(p, true), s"purge of $p failed")
      true
    }
  }

  /** The number of dirs under `root/sub` — ONE `listStatus`, no
    * descent. The health-read twin of [[scanHiddenRoot]]: a boundary-
    * cadence observable must not pay O(retired corpus) enumeration
    * just to report a count ([[scanHiddenRoot]]'s per-dir file/byte
    * stats remain the purge monitor's shape).
    */
  private[operators] def countHiddenDirs(
      fs: org.apache.hadoop.fs.FileSystem,
      root: String,
      sub: String): Int = {
    val q = new org.apache.hadoop.fs.Path(s"$root/$sub")
    if (!fs.exists(q)) 0
    else fs.listStatus(q).count(_.isDirectory)
  }

  /** One `(dir-name, files, bytes)` row per directory under
    * `root/<sub>`, by recursive listing alone.
    */
  private[operators] def scanHiddenRoot(
      fs: org.apache.hadoop.fs.FileSystem,
      root: String,
      sub: String): Seq[(String, Long, Long)] = {
    val q = new org.apache.hadoop.fs.Path(s"$root/$sub")
    if (!fs.exists(q)) Seq.empty
    else fs.listStatus(q).filter(_.isDirectory).toSeq.map { d =>
      val it = fs.listFiles(d.getPath, true)
      var files = 0L
      var bytes = 0L
      while (it.hasNext) {
        val st = it.next()
        files += 1; bytes += st.getLen
      }
      (d.getPath.getName, files, bytes)
    }
  }

  /** Finish a COMMITTED rotation: move staged files into the live
    * layouts (idempotent — files a previous attempt moved are simply
    * absent from the stage), record the ledger entry, drop the stage.
    *
    * Moved files take an `<epochId>=<staged-name>` name, so an
    * unledgered epoch's footprint in the live layouts is identifiable:
    * that is what lets [[rotateEpochStaged]]'s entry quarantine make
    * a same-epochId retry idempotent even when the stage itself is gone
    * (the concurrent-recovery TOCTOU state the commit-point check
    * below fails loudly on). '=' inside FILE names is inert to Spark —
    * partition discovery parses directory names only.
    */
  private def completeRotation(
      f: org.apache.hadoop.fs.FileSystem,
      stageRoot: org.apache.hadoop.fs.Path,
      historyPath: String,
      indexPath: String,
      epochId: String,
      failpoint: String => Unit): Unit = {
    val histStage = new org.apache.hadoop.fs.Path(stageRoot, "history")
    if (f.exists(histStage))
      f.listStatus(histStage)
        .filter(_.getPath.getName.startsWith("id_bucket=")).foreach { pd =>
          val dst = new org.apache.hadoop.fs.Path(historyPath, pd.getPath.getName)
          f.mkdirs(dst) // idempotent; the move target must exist
          f.listStatus(pd.getPath)
            .filter(_.getPath.getName.endsWith(".parquet")).foreach { nf =>
              val to = new org.apache.hadoop.fs.Path(dst,
                s"$epochId=${nf.getPath.getName}")
              require(f.rename(nf.getPath, to),
                s"rotate: rename ${nf.getPath} -> $to failed")
            }
        }
    failpoint("moved-history")
    val idxStage = new org.apache.hadoop.fs.Path(stageRoot, "index")
    if (f.exists(idxStage)) {
      // the index may live on a DIFFERENT filesystem than the history
      // (the staged files are always on the history's): rename works
      // only within one FS, so a cross-FS layout copies + deletes —
      // still idempotent (a replayed copy overwrites the same target;
      // the source disappears only after a successful copy)
      val idxFs = new org.apache.hadoop.fs.Path(indexPath)
        .getFileSystem(f.getConf)
      val sameFs = idxFs.getUri == f.getUri
      f.listStatus(idxStage)
        .filter(_.getPath.getName.endsWith(".parquet")).foreach { nf =>
          val to = new org.apache.hadoop.fs.Path(indexPath,
            s"$epochId=${nf.getPath.getName}")
          if (sameFs)
            require(f.rename(nf.getPath, to),
              s"rotate: rename ${nf.getPath} -> $to failed")
          else {
            // cross-FS: copy to a dot-hidden temp ON the index fs,
            // then rename WITHIN it — a crash mid-copy leaves only an
            // invisible temp, never a truncated parquet file in the
            // live layout. Replay overwrites a stale temp; a target a
            // previous attempt already renamed skips straight to the
            // source cleanup.
            if (!idxFs.exists(to)) {
              val tmp = new org.apache.hadoop.fs.Path(indexPath,
                s".$epochId=${nf.getPath.getName}.inflight")
              require(
                org.apache.hadoop.fs.FileUtil.copy(
                  f, nf.getPath, idxFs, tmp, false, true, f.getConf),
                s"rotate: copy ${nf.getPath} -> $tmp failed")
              require(idxFs.rename(tmp, to),
                s"rotate: rename $tmp -> $to failed")
            }
            require(f.delete(nf.getPath, false),
              s"rotate: cleanup of staged ${nf.getPath} failed")
          }
        }
    }
    // commit-point verification: the manifest lives until the stage is
    // reclaimed below, so its absence here means a concurrent
    // recoverRotations/rotation deleted the stage mid-completion (the
    // TOCTOU window the pre-commit check cannot close). Fail loudly —
    // ledgering now would record the epoch as applied with whatever
    // subset of rows happened to move, silently and permanently. The
    // layouts may hold a PARTIAL append with no stage left to resume
    // from, but every moved file carries the `<epochId>=` footprint:
    // a same-epochId retry quarantines it at entry and re-applies
    // cleanly.
    // The single-maintenance-writer contract exists so this path is
    // never taken in the first place.
    require(f.exists(new org.apache.hadoop.fs.Path(stageRoot, "_MANIFEST")),
      s"rotate: stage $stageRoot vanished mid-completion — a concurrent " +
        "recoverRotations/rotation ran against these layouts; rotation " +
        "requires a single maintenance writer")
    // kind-tagged like every other protocol on a shared ledger (legacy
    // empty entries remain accepted as kind-unknown): what lets an id
    // collision with a history partition-compaction fail loudly
    // instead of silently no-oping one of the two operations
    EpochLedger.writeLedgerEntry(f, historyPath, epochId, "epoch")
    // the epoch is ledgered: any quarantine from an earlier torn
    // attempt of the SAME epoch is superseded now (the re-rotation
    // just re-applied the full epoch). RETIRE it — move under the
    // hidden `_retired/<id>[.n]` sibling — rather than delete:
    // "quarantine moves, never deletes data" must hold even when an
    // operator re-rotates the same epochId with a DIFFERENT novel set
    // than the torn attempt (e.g. a partially lost spool) — deletion
    // there would permanently destroy the only copy of the first
    // attempt's rows. Retired dirs are outside [[listQuarantined]]'s
    // active listing; purge them once the epoch's content is confirmed
    // superseded. Absent dirs are a no-op.
    retireQuarantine(f, historyPath, epochId)
    retireQuarantine(
      new org.apache.hadoop.fs.Path(indexPath).getFileSystem(f.getConf),
      indexPath, epochId)
    require(f.delete(stageRoot, true),
      s"rotate: cleanup of $stageRoot failed")
  }

  /** Move `root/_quarantine/<epochId>` (if present) under
    * `root/_retired/<epochId>`, suffixing `.2`, `.3`, … when earlier
    * retirements of the same id exist — the completion-time supersede
    * step that keeps the quarantine contract ("moves, never deletes")
    * absolute. One rename per retirement; listing-only otherwise.
    */
  private[operators] def retireQuarantine(
      fs: org.apache.hadoop.fs.FileSystem,
      root: String,
      epochId: String): Unit = {
    val q = new org.apache.hadoop.fs.Path(s"$root/_quarantine/$epochId")
    if (fs.exists(q)) {
      val retiredRoot = new org.apache.hadoop.fs.Path(s"$root/_retired")
      fs.mkdirs(retiredRoot)
      var dst = new org.apache.hadoop.fs.Path(retiredRoot, epochId)
      var n = 1
      while (fs.exists(dst)) {
        n += 1
        dst = new org.apache.hadoop.fs.Path(retiredRoot, s"$epochId.$n")
      }
      require(fs.rename(q, dst),
        s"rotate: retire of quarantine $q -> $dst failed")
    }
  }

  /** Hadoop FileSystem for `path` under the session's Hadoop conf. */
  private[graft] def fsFor(
      spark: org.apache.spark.sql.SparkSession,
      path: String): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Near-dup pairs of a NEW batch against an indexed historical corpus
    * ([[minhashIndex]]): batch docs band locally, candidates come from
    * the (band, key) join against the index — only colliding history is
    * ever touched — and the exact count-based verify re-shingles just
    * the candidate SLIVER of history (left-semi by id; at scale, keep
    * the corpus id-partitioned or behind a point-lookup store so the
    * sliver fetch prunes instead of scanning). Same (k, bands) as the
    * index, or keys won't collide.
    *
    * Batch and history ids are INDEPENDENT spaces: a batch doc that
    * happens to reuse a history id is still a distinct document, so
    * equal-id pairs are KEPT by default. Set `excludeSameId` only when
    * probing a corpus against an index of ITSELF (where an equal id IS
    * the same document and every doc would self-match) — the same
    * opt-in shape as decontamination's flag.
    */
  def minhashProbe(
      batch: DataFrame,
      index: DataFrame,
      history: DataFrame,
      threshold: Double,
      textCol: String = "text",
      k: Int = 8,
      bands: Int = 4,
      excludeSameId: Boolean = false,
      maxBandPop: Option[Int] = Some(Banding.DefaultMaxBandPop)): DataFrame = {
    val shB = shingled(batch, textCol).filter(size(col("shh")) > 0)
    Caching.withCached(shB) {
      val candidates = probeCandidates(shB, index, k, bands, excludeSameId,
        maxBandPop)
      val histSliver = history.join(
        candidates.select(col("hist_id").as("doc_id")),
        Seq("doc_id"), "left_semi")
      probeVerify(shB, candidates, histSliver, threshold, textCol)
    }
  }

  /** (batch_id, hist_id) candidate pairs of a banded batch against a
    * [[minhashIndex]]: the (band, key) equi-join — only longs shuffle.
    *
    * With `maxBandPop` set (the default), the INDEX side of each
    * batch-touched bucket is population-capped: a bucket holding more
    * than the cap of history docs (a boilerplate cluster banded into
    * history) pairs each colliding batch doc with the bucket's ANCHOR
    * history doc (min hist_id) only — |batch∩bucket| pairs instead of
    * |batch∩bucket|·|hist∩bucket|. Population is counted over the
    * TOUCHED buckets only (index ⋈ distinct batch keys — the same
    * colliding sliver the candidate join reads, never a full-index
    * aggregation per probe), so the per-batch cost stays sliver-bounded
    * at any corpus size.
    */
  private def probeCandidates(
      shB: DataFrame,
      index: DataFrame,
      k: Int,
      bands: Int,
      excludeSameId: Boolean,
      maxBandPop: Option[Int] = Some(Banding.DefaultMaxBandPop)): DataFrame = {
    val bb = minhashBuckets(shB, k, bands)
    def finish(pairs: DataFrame): DataFrame =
      (if (excludeSameId) pairs.filter(col("batch_id") =!= col("hist_id"))
       else pairs)
        .distinct()
    maxBandPop match {
      case None =>
        finish(bb.as("a").join(index.as("b"), Seq("band", "key"))
          .select(col("a.doc_id").as("batch_id"), col("b.doc_id").as("hist_id")))
      case Some(cap) =>
        require(cap >= 1, s"maxBandPop must be >= 1, got $cap")
        val touched = index.join(bb.select("band", "key").distinct(),
          Seq("band", "key"))
        val stats = touched.groupBy("band", "key")
          .agg(count(lit(1)).as("pop"), min(col("doc_id")).as("anchor"))
        Caching.withCached(touched, stats) {
          val anyHeavy = stats.filter(col("pop") > cap).limit(1).count() > 0
          if (!anyHeavy)
            finish(bb.as("a").join(touched.as("b"), Seq("band", "key"))
              .select(col("a.doc_id").as("batch_id"),
                col("b.doc_id").as("hist_id")))
          else {
            val tagged = touched.join(stats, Seq("band", "key"))
            val light = bb.as("a")
              .join(tagged.filter(col("pop") <= cap).as("b"), Seq("band", "key"))
              .select(col("a.doc_id").as("batch_id"),
                col("b.doc_id").as("hist_id"))
            val starBase = bb.as("a")
              .join(stats.filter(col("pop") > cap), Seq("band", "key"))
            val star =
              if (!excludeSameId)
                starBase.select(col("a.doc_id").as("batch_id"),
                  col("anchor").as("hist_id"))
              else {
                // self-probe: a batch doc that IS the bucket's anchor
                // would star only to itself and then be filtered by
                // excludeSameId — losing its whole cluster. Route it to
                // the bucket's SECOND-min member instead (a heavy bucket
                // has pop > cap >= 2 members, so it always exists).
                val anchor2 = tagged
                  .filter(col("pop") > cap && col("doc_id") =!= col("anchor"))
                  .groupBy("band", "key")
                  .agg(min(col("doc_id")).as("anchor2"))
                starBase.join(anchor2, Seq("band", "key"))
                  .select(col("a.doc_id").as("batch_id"),
                    when(col("a.doc_id") === col("anchor"), col("anchor2"))
                      .otherwise(col("anchor")).as("hist_id"))
              }
            finish(light.unionByName(star))
          }
        }
    }
  }

  /** Exact count-based verify of probe candidates against the fetched
    * history sliver (the q21/q22 discipline: shingle counts, not arrays,
    * through every shuffle).
    */
  private def probeVerify(
      shB: DataFrame,
      candidates: DataFrame,
      histSliver: DataFrame,
      threshold: Double,
      textCol: String): DataFrame = {
    val shH = shingled(histSliver, textCol)
    val exB = shB.select(col("doc_id").as("batch_id"), explode(col("shh")).as("h"))
    val exH = shH.select(col("doc_id").as("hist_id"), explode(col("shh")).as("h"))
    val shared = candidates
      .join(exB, Seq("batch_id"))
      .join(exH, Seq("hist_id", "h"))
      .groupBy("batch_id", "hist_id").agg(count(lit(1)).as("shared"))
    shared
      .join(shB.select(col("doc_id").as("batch_id"), size(col("shh")).as("n_a")),
        Seq("batch_id"))
      .join(shH.select(col("doc_id").as("hist_id"), size(col("shh")).as("n_b")),
        Seq("hist_id"))
      .withColumn("jaccard", round(col("shared").cast(DoubleType) /
        (col("n_a") + col("n_b") - col("shared")), 6))
      .filter(col("jaccard") >= threshold)
      .select("batch_id", "hist_id", "jaccard")
  }

  /** Default id-bucket count for [[writeHistoryBucketed]]. A probe reads
    * |candidate buckets| / nBuckets of the history at rest, so more
    * buckets prune harder; a real deployment sizes this so one bucket is
    * a few files (thousands of buckets at 100 TB).
    */
  val DefaultHistoryBuckets: Int = 256

  /** Write the historical corpus id-bucketed: `id_bucket = doc_id mod
    * nBuckets` as the parquet partition column — the layout that makes
    * [[minhashProbeBucketed]]'s candidate-sliver fetch PRUNE files
    * instead of scanning all of history (the same move
    * `Similarity.writeIvfPartitioned` makes for ANN probes). The
    * partition value is a PREFIXED STRING (`b<k>`) for the same reasons
    * as the IVF layout: immune to partition-type inference drift, and
    * string equality predicates prune identically. The bucket count
    * rides along in an underscore-prefixed `_meta` sidecar so the probe
    * can't be run with a mismatched modulus.
    */
  def writeHistoryBucketed(
      docs: DataFrame,
      path: String,
      nBuckets: Int = DefaultHistoryBuckets): Unit = {
    require(nBuckets >= 1, s"nBuckets must be >= 1, got $nBuckets")
    guardHistoryOverwrite(docs.sparkSession, path)
    bucketedHistoryRows(docs, nBuckets)
      .write.partitionBy("id_bucket").mode("overwrite")
      // STATIC overwrite semantics regardless of the session default:
      // under dynamic mode a rewrite with a different nBuckets would
      // only replace the partitions the new frame produces, leaving
      // stale id_bucket directories beside the new _meta modulus — a
      // doc would then appear in two buckets and probeVerify would
      // double-count its shingles
      .option("partitionOverwriteMode", "static")
      .parquet(path)
    // written AFTER the main overwrite (which clears the directory),
    // driver-side (TinyParquet) — one scalar needs no Spark job
    TinyParquet.write(docs.sparkSession, s"$path/_meta",
      Seq("n_buckets" -> "int"), Seq(Map("n_buckets" -> nBuckets)))
  }

  /** [[minhashProbe]] against a [[writeHistoryBucketed]] layout: the
    * candidate hist_ids resolve to their id buckets (a tiny driver-side
    * list, bounded by nBuckets — the price of turning the sliver fetch
    * into LITERAL partition predicates), and the verify stage reads ONLY
    * those partitions, pruned before any file is listed. Same results
    * as [[minhashProbe]] over the same corpus.
    */
  def minhashProbeBucketed(
      batch: DataFrame,
      index: DataFrame,
      historyPath: String,
      threshold: Double,
      textCol: String = "text",
      k: Int = 8,
      bands: Int = 4,
      excludeSameId: Boolean = false,
      maxBandPop: Option[Int] = Some(Banding.DefaultMaxBandPop),
      pruneSkipMaxBuckets: Int = DefaultPruneSkipMaxBuckets): DataFrame = {
    val (history, nBuckets) = openHistoryBucketed(batch.sparkSession, historyPath)
    minhashProbeBucketedOn(batch, index, history, nBuckets, threshold,
      textCol, k, bands, excludeSameId, maxBandPop, pruneSkipMaxBuckets)
  }

  /** Resolve a [[writeHistoryBucketed]] layout once: the frame (whose
    * file index is listed at THIS point and reused on every probe
    * against it) plus the layout's bucket modulus. Loops — a streaming
    * ingest probing per micro-batch — must call this once per epoch and
    * reuse the pair; re-opening per batch re-lists the entire layout's
    * files each trigger.
    */
  def openHistoryBucketed(
      spark: org.apache.spark.sql.SparkSession,
      historyPath: String): (DataFrame, Int) = {
    val nBuckets = TinyParquet.row(spark, s"$historyPath/_meta")("n_buckets")
      .asInstanceOf[Int]
    val history = spark.read.parquet(historyPath)
    require(
      history.schema.fieldNames.contains("id_bucket") &&
        history.schema("id_bucket").dataType ==
          org.apache.spark.sql.types.StringType,
      s"$historyPath is not a bucketed history layout — write it with " +
        "writeHistoryBucketed")
    (history, nBuckets)
  }

  /** [[minhashProbeBucketed]] over an [[openHistoryBucketed]]-resolved
    * layout — the per-epoch form for probe loops.
    */
  def minhashProbeBucketedOn(
      batch: DataFrame,
      index: DataFrame,
      history: DataFrame,
      nBuckets: Int,
      threshold: Double,
      textCol: String = "text",
      k: Int = 8,
      bands: Int = 4,
      excludeSameId: Boolean = false,
      maxBandPop: Option[Int] = Some(Banding.DefaultMaxBandPop),
      pruneSkipMaxBuckets: Int = DefaultPruneSkipMaxBuckets): DataFrame = {
    val shB = shingled(batch, textCol).filter(size(col("shh")) > 0)
    Caching.withCached(shB) {
      val candidates = probeCandidates(shB, index, k, bands, excludeSameId,
        maxBandPop)
      Caching.withCached(candidates) {
        // same gate as the substring probe ([[DefaultPruneSkipMaxBuckets]]):
        // with a ≤64-way modulus the candidates' id set covers most
        // residues, so the driver-side bucket resolution (an extra
        // distinct + collect action on the latency path) would prune
        // nothing; the left-semi sliver join restricts either way. The
        // skip additionally requires a SMALL history scan
        // ([[DefaultPruneSkipMaxBytes]]): a tiny candidate batch against
        // a large small-modulus history genuinely touches few of the 8
        // buckets, and there the resolution job pays for itself
        val histSliverBase =
          if (nBuckets <= pruneSkipMaxBuckets && pruneSkipBytesOk(history))
            history
          else {
            val buckets = candidates
              .select(concat(lit("b"),
                pmod(col("hist_id"), lit(nBuckets.toLong))).as("bk"))
              .distinct().collect().map(_.getString(0)).toSeq
            history.filter(col("id_bucket").isInCollection(buckets))
          }
        val histSliver = histSliverBase
          .join(candidates.select(col("hist_id").as("doc_id")),
            Seq("doc_id"), "left_semi")
        probeVerify(shB, candidates, histSliver, threshold, textCol)
      }
    }
  }

  /** MinHash + LSH banding near-dup pairs, exact-Jaccard-verified.
    *
    * k hashes split into `bands` bands of k/bands rows each; docs sharing
    * any band key become candidates ([[Banding.selfPairs]] — per-bucket
    * population capped at `maxBandPop` by default, so a mega boilerplate
    * cluster colliding in every band stays linear via anchor/star pairing
    * instead of d²/2 candidate pairs; pass None for the exact uncapped
    * join the oracle pins). Verification is exact but COUNT-BASED
    * (the q21 pattern): candidates restrict the exploded (doc, hash) rows,
    * the shared-shingle count is a groupBy over the restricted join, and
    * |A∪B| = n_a + n_b − |A∩B| from per-doc set sizes — only longs cross
    * shuffles; full shingle arrays never ship through a join.
    */
  def minhashLshPairs(
      docs: DataFrame,
      threshold: Double,
      textCol: String = "text",
      k: Int = 8,
      bands: Int = 4,
      maxBandPop: Option[Int] = Some(Banding.DefaultMaxBandPop)): DataFrame = {
    val sh = shingled(docs, textCol).filter(size(col("shh")) > 0)
    Caching.withCached(sh) {
      val buckets = minhashBuckets(sh, k, bands)
      val candidates = Banding.selfPairs(buckets, "doc_id", maxBandPop)
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
      // count-based exact verify over candidate-restricted rows: a pair
      // sharing zero shingles simply drops out of the inner join (its
      // jaccard would be 0 < threshold)
      val ex = sh.select(col("doc_id"), explode(col("shh")).as("h"))
      val sizes = sh.select(col("doc_id"), size(col("shh")).as("n_sh"))
      val shared = candidates
        .join(ex.select(col("doc_id").as("doc_a"), col("h")), Seq("doc_a"))
        .join(ex.select(col("doc_id").as("doc_b"), col("h")), Seq("doc_b", "h"))
        .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("shared"))
      shared
        .join(sizes.select(col("doc_id").as("doc_a"), col("n_sh").as("n_a")),
          Seq("doc_a"))
        .join(sizes.select(col("doc_id").as("doc_b"), col("n_sh").as("n_b")),
          Seq("doc_b"))
        .withColumn("jaccard", round(col("shared").cast(DoubleType) /
          (col("n_a") + col("n_b") - col("shared")), 6))
        .filter(col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    }
  }

  /** Largest symmetrized edge count resolved by the driver-local
    * union-find inside [[components]]. The driver holds the collected
    * edges as `Row`s — boxed, about 100 bytes each with their two
    * `Long`s, so ~100 MB at the default 2^20 — plus the union-find's
    * O(nodes) longs: the bounded-driver budget the collected probe modes
    * also spend. Above it, or when the observed count is missing or
    * unreadable, the Pregel loop runs distributed. The local path does
    * NOT apply `maxRounds`: a small graph whose chains are longer than
    * `maxRounds` hops, which the distributed loop refuses as
    * degenerate, resolves here exactly instead.
    */
  private[operators] val LocalComponentsMaxEdges: Long = 1L << 20

  /** The edge count observed on the edges checkpoint, failing closed:
    * a missing or unreadable metric reads as `Long.MaxValue`, so an
    * unknown size takes the distributed loop, never the driver collect.
    */
  private[operators] def observedEdgeCount(n: Option[Any]): Long = n match {
    case Some(l: java.lang.Long) => l.longValue()
    case _ => Long.MaxValue
  }

  /** Union-find over the COLLECTED edge list: component(v) = min
    * reachable node — the identical fixpoint the distributed min-label
    * loop converges to, computed exactly in one driver pass. Returns
    * None when any endpoint is null (the distributed loop's null
    * semantics — a null node joins nothing — are not worth replicating
    * here; resolve such graphs distributed). One job: the collect over
    * the already-checkpointed edges.
    */
  private def localComponents(
      edges: DataFrame): Option[DataFrame] = {
    val rows = edges.collect()
    if (rows.exists(r => r.isNullAt(0) || r.isNullAt(1))) return None
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    rows.foreach { r =>
      val a = r.getLong(0); val b = r.getLong(1)
      if (!parent.contains(a)) parent(a) = a
      if (!parent.contains(b)) parent(b) = b
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(ra) = rb
    }
    val minOfRoot = scala.collection.mutable.LongMap.empty[Long]
    parent.keys.foreach { v =>
      val r = find(v)
      minOfRoot(r) = math.min(minOfRoot.getOrElse(r, v), v)
    }
    val spark = edges.sparkSession
    import scala.jdk.CollectionConverters._
    val out: java.util.List[org.apache.spark.sql.Row] =
      parent.keys.toSeq.map(v =>
        org.apache.spark.sql.Row(v, minOfRoot(find(v)))).asJava
    Some(spark.createDataFrame(out,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("component",
          org.apache.spark.sql.types.LongType)))))
  }

  /** Connected components over an undirected near-dup pair list — the
    * cluster-resolution step that turns pairwise dedup output into
    * groups (doc → component id = min doc_id reachable), so a keep-list
    * can retain exactly one representative per cluster.
    *
    * Pregel-style min-label propagation: every node starts labeled with
    * itself; each round takes the min of its own and its neighbors'
    * labels; converged when no label changed. Each round is one shuffle
    * keyed on node id (the neighbor-min aggregation is map-side
    * combinable) over frames bounded by |V| + |E| — never the doc
    * corpus — and rounds are bounded by the cluster diameter, which for
    * near-dup graphs (dense clusters, star-pair anchors) is tiny. Each
    * round's labels are checkpointed so lineage stays flat. The driver
    * sees only per-round change COUNTS, never data. `maxRounds` is a
    * runaway backstop, deliberately FAILING LOUDLY: labels truncated
    * mid-propagation would silently split one component into several,
    * and a >200-hop chain means the input graph is degenerate, not that
    * a partial answer should ship.
    *
    * @param checkpointDir when set, per-round checkpoints go to this
    *   reliable directory (HDFS/object store on a cluster) instead of
    *   `localCheckpoint`. Local checkpoint blocks live on executors: fast,
    *   but one lost executor kills a multi-round job with no recovery —
    *   fine on local[*], wrong for a long convergence loop on a real
    *   cluster. Reliable checkpointing re-reads each round from stable
    *   storage, trading per-round write cost for executor-loss tolerance.
    *   The context's checkpoint dir is set for the duration of the call
    *   and restored after (to the prior dir, or to `checkpointDir`
    *   itself when none was set); each round's label checkpoint is
    *   DELETED once the next round's is materialized, and the whole
    *   scratch tree is deleted on failure (Spark never cleans reliable
    *   checkpoints on its own — a 200-round graph would otherwise leave
    *   200 copies of the label frame on stable storage). Only the final
    *   round's files outlive the call, for as long as the caller holds
    *   the result. NOTE `setCheckpointDir` is SparkContext-GLOBAL:
    *   don't run concurrent reliable-checkpoint jobs (this call
    *   included) on one context without coordinating — a concurrent
    *   `df.checkpoint()` could land in a round subdir this loop is
    *   about to delete.
    */
  def components(
      pairs: DataFrame,
      aCol: String = "doc_a",
      bCol: String = "doc_b",
      maxRounds: Int = 200,
      checkpointDir: Option[String] = None): DataFrame = {
    val sc = pairs.sparkSession.sparkContext
    val priorDir = sc.getCheckpointDir
    // each checkpoint goes to its own subdirectory so superseded rounds
    // can be deleted wholesale (the RDD-level checkpoint file is not
    // reachable from the derived DataFrame, but the directory is ours)
    val base = checkpointDir.map(d =>
      s"$d/graft-components-${java.util.UUID.randomUUID()}")
    def ckptIn(sub: String): DataFrame => DataFrame = base match {
      case Some(b) => df =>
        sc.setCheckpointDir(s"$b/$sub")
        df.checkpoint(eager = true)
      case None => df => df.localCheckpoint(eager = true)
    }
    def deleteSub(sub: String): Unit = base.foreach { b =>
      try {
        val p = new org.apache.hadoop.fs.Path(s"$b/$sub")
        p.getFileSystem(sc.hadoopConfiguration).delete(p, true)
      } catch { case _: Throwable => () } // cleanup is best-effort
    }
    try {
      val edgesRaw =
        pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
          .unionByName(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      // DRIVER-LOCAL fast path (the rankCentroids literal-argmax move
      // applied to cluster resolution): the edge count rides the edges
      // checkpoint the loop pays anyway as an Observation — no extra
      // job — and a small graph resolves via union-find on the driver
      // instead of (1 + rounds) checkpoint jobs, each a multi-stage
      // join. Same fixpoint by definition: component(v) = min reachable
      // node, which union-find computes exactly; spec-pinned identical
      // to the distributed loop. Gated on localCheckpoint mode
      // (a reliable checkpointDir signals cluster scale, and its
      // checkpoint re-execution makes observed counts unreliable), on
      // bigint node ids, and on the edge budget — O(|E|) longs, the
      // driver state the literal/collected modes already spend.
      val localProbe = checkpointDir.isEmpty &&
        edgesRaw.schema.fields.forall(_.dataType ==
          org.apache.spark.sql.types.LongType)
      val edgesObs =
        if (localProbe) Some(org.apache.spark.sql.Observation("components-edges"))
        else None
      val edges = ckptIn("edges")(edgesObs.fold(edgesRaw)(o =>
        edgesRaw.observe(o, count(lit(1)).as("n"))))
      val nEdges = edgesObs.map(o => observedEdgeCount(o.get.get("n")))
      val localResult =
        if (nEdges.exists(_ <= LocalComponentsMaxEdges)) localComponents(edges)
        else None // distributed; None also = a null endpoint in the collect
      localResult.getOrElse {
      var labels = ckptIn("r0")(
        edges.select(col("src").as("node")).distinct()
          .withColumn("component", col("node")))
      var prevSub = "r0"
      var round = 0
      var changed = 1L
      while (changed > 0) {
        round += 1
        require(round <= maxRounds, s"components did not converge in $maxRounds rounds")
        val nbrMin = edges.join(labels, col("dst") === col("node"))
          .groupBy(col("src").as("node2")).agg(min("component").as("nbr_min"))
        // the change count rides the checkpoint materialization job as
        // an Observation metric — ONE action per round instead of a
        // checkpoint plus a separate count() over the changed filter
        // (each round of the two most expensive queries, q36/q44, was
        // paying that second job).
        // ONLY the zero/nonzero signal is reliable: under the
        // reliable-checkpoint branch, rdd.checkpoint()+count()
        // re-executes the plan for the checkpoint write, so the
        // accumulator can observe each row twice. Convergence compares
        // to zero (doubled zero is zero); never use the value
        // numerically (round logging, damping) without deduplicating
        // the observation first.
        val obs = org.apache.spark.sql.Observation(s"components-r$round")
        val next = ckptIn(s"r$round")(
          labels.join(nbrMin, col("node") === col("node2"), "left")
            .select(col("node"), col("component"),
              least(col("component"), coalesce(col("nbr_min"), col("component")))
                .as("next_component"))
            .observe(obs, sum(when(col("next_component") < col("component"),
              lit(1L)).otherwise(lit(0L))).as("changed")))
        // the eager checkpoint has completed the action, so get() does
        // not block; sum over zero rows (empty graph) is null
        changed = Option(obs.get("changed")).collect {
          case l: java.lang.Long => l.longValue()
        }.getOrElse(0L)
        // next is safely on stable storage; its predecessor is garbage
        deleteSub(prevSub)
        prevSub = s"r$round"
        labels = next.select(col("node"), col("next_component").as("component"))
      }
      // the edges checkpoint is no longer referenced by the (eagerly
      // materialized) final labels; only the last round's subdir must
      // outlive the call, for as long as the caller holds the result
      deleteSub("edges")
      labels.select(col("node").as("doc_id"), col("component"))
      }
    } catch {
      case t: Throwable =>
        // a failed run's result is never read: drop the WHOLE scratch
        // tree (edges + surviving rounds), not just superseded rounds
        base.foreach { b =>
          try {
            val bp = new org.apache.hadoop.fs.Path(b)
            bp.getFileSystem(sc.hadoopConfiguration).delete(bp, true)
          } catch { case _: Throwable => () }
        }
        throw t
    } finally {
      // leave the context pointing at the caller's prior dir, or at the
      // caller-supplied stable root — never at this call's scratch
      // subtree (a later unrelated df.checkpoint() would otherwise land
      // inside a directory this API documents as deletable)
      if (checkpointDir.isDefined)
        sc.setCheckpointDir(priorDir.getOrElse(checkpointDir.get))
    }
  }

  /** One-representative-per-cluster keep-list: every doc not in any
    * near-dup pair survives; of each pair-connected component, only the
    * min doc_id does. Left-anti join against the non-keeper id set — no
    * broadcast HINT on purpose: with a low dup rate AQE broadcasts it
    * anyway, while a heavily-duplicated corpus (where non-keepers are a
    * large fraction) falls back to a shuffled anti-join instead of
    * OOMing the driver.
    */
  def keepers(
      docs: DataFrame,
      pairs: DataFrame,
      aCol: String = "doc_a",
      bCol: String = "doc_b"): DataFrame = {
    val drop = components(pairs, aCol, bCol)
      .filter(col("doc_id") =!= col("component"))
      .select("doc_id")
    docs.join(drop, Seq("doc_id"), "left_anti")
  }

  /** Benchmark decontamination: for every document, the benchmark item
    * it shares the most n-gram shingles with (ties → min bench_id),
    * reported when the overlap reaches `minShared` shingles — the
    * standard n-gram-overlap contamination check a training corpus runs
    * against its eval sets before training.
    *
    * Same scale mechanics as the dedup family: both sides shingle via
    * the fused codegen expression, candidates come from an exploded
    * join on the shingle hash (only longs cross the shuffle — and only
    * for shingles that actually occur in a benchmark, so the corpus
    * side collapses to its contaminated sliver immediately), overlap
    * counts are map-side-combinable groupBy counts, and the per-doc
    * argmax is one window over doc_id (unskewed key). The benchmark
    * side is eval sets — thousands of rows, not corpus-scale.
    *
    * @param excludeSameId drop pairs whose ids coincide — ONLY for the
    *   case where `bench` is a subset of `docs` itself (a document is
    *   trivially "contaminated" by its own row). Leave false for a real
    *   eval-set table: its id space is independent of the corpus, and a
    *   numeric coincidence must not suppress a genuine match.
    */
  def contaminationReport(
      docs: DataFrame,
      bench: DataFrame,
      minShared: Int = 3,
      textCol: String = "text",
      n: Int = 3,
      excludeSameId: Boolean = false): DataFrame = {
    val dSh = shingled(docs, textCol, n)
    val bSh = shingled(bench.withColumnRenamed("doc_id", "bench_id")
        .select(col("bench_id").as("doc_id"), col(textCol)), textCol, n)
      .select(col("doc_id").as("bench_id"), col("shh"))
    Caching.withCached(dSh, bSh) {
      val dEx = dSh.select(col("doc_id"), explode(col("shh")).as("h"))
      val bEx = bSh.select(col("bench_id"), explode(col("shh")).as("h"))
      val joined = dEx.join(bEx, Seq("h"))
      val shared = (if (excludeSameId)
          joined.filter(col("doc_id") =!= col("bench_id"))
        else joined)
        .groupBy("doc_id", "bench_id")
        .agg(count(lit(1)).as("shared"))
        .filter(col("shared") >= minShared)
      val sizes = dSh.select(col("doc_id"), size(col("shh")).as("n_sh"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id")
        .orderBy(col("shared").desc, col("bench_id"))
      shared
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .join(sizes, Seq("doc_id"))
        .select(col("doc_id"), col("bench_id"), col("shared"),
          round(col("shared").cast(DoubleType) / col("n_sh"), 6)
            .as("overlap_ratio"))
    }
  }

  /** 32-bit SimHash of the distinct 3-gram shingle-hash set. Shingles,
    * not unigram tokens: with a small vocabulary nearly all documents
    * share most tokens, collapsing unigram SimHashes together; 3-gram
    * features keep the signature discriminative.
    */
  def simhashed(docs: DataFrame, textCol: String = "text", bits: Int = 64): DataFrame = {
    val d = shingled(docs, textCol)
    // bit j set iff the majority of shingle hashes have bit-hash_j odd —
    // one compiled pass per document via the codegen'd SimHash expression
    // (bit-identical to the interpreted aggregate-lambda folds and the
    // DuckDB oracle, but independent of cache residency)
    d.select(col("doc_id"),
      graft.functions.SimHash(col("shh"), bits).as("simhash"))
  }

  /** SimHash near-dup pairs: band blocking, then Hamming <= max.
    *
    * Geometry is configurable for the corpus scale, and the DEFAULT is
    * the corpus-scale one: 64 bits in 4×16-bit bands (268M distinct
    * bucket keys; random band collision ~6·10⁻⁵ per pair) — the
    * signature is one long either way and the plan is unchanged.
    * `bits = 32` with 4×8-bit bands gives only 4·256 = 1,024 bucket
    * keys: at 10⁹ docs random collisions alone generate ~n²/256
    * Hamming evaluations (the 8× skew rehearsal measured the
    * consequence: 10.5 s vs 1.3 s, SCALING.md), so the small geometry
    * is only for tiny corpora and the pinned oracle query (q23).
    * Recall for true near-dups follows the banding S-curve at either
    * width — but note `maxHamming` is a distance over `bits` bit
    * positions, so a threshold tuned at 32 bits roughly doubles at 64
    * bits for the same similarity. `bands` must divide `bits`;
    * candidates additionally run through the [[Banding.selfPairs]]
    * population cap (anchor/star pairing for over-cap buckets) so even
    * a degenerate key stays linear — but the cap's DEFAULT is
    * geometry-gated ([[Banding.defaultCapFor]]): band keys of ≤ 8 bits
    * (the 32-bit/4-band geometry) default to uncapped, because random
    * 256-doc key agreements are routine there and anchor/star pairing
    * over a mostly-unrelated bucket drops true near-dup pairs (the
    * recall caveat in [[Banding]]'s docstring, enforced rather than
    * documented). Callers wanting the linear bound at a short-key
    * geometry opt in with an explicit cap.
    */
  def simhashPairs(
      docs: DataFrame,
      maxHamming: Int,
      textCol: String = "text",
      bits: Int = 64,
      bands: Int = 4,
      // `null` = geometry-gated default, resolved against the ACTUAL
      // bits/bands below (a default expression cannot read parameters
      // of its own list): short band keys (bits/bands <= 8) run
      // UNCAPPED — the degenerate-key geometry where the cap costs
      // recall — while the 64-bit default geometry keeps the
      // population cap ([[Banding.defaultCapFor]]). An explicit
      // Some/None always wins.
      maxBandPop: Option[Int] = null): DataFrame = {
    val cap =
      if (maxBandPop eq null) Banding.resolveDefaultCap(bits, bands)
      else maxBandPop
    require(bits >= 1 && bits <= 64, s"bits must be in [1, 64], got $bits")
    require(bands >= 1 && bits % bands == 0,
      s"bands ($bands) must divide bits ($bits)")
    val bitsPerBand = bits / bands
    val mask = if (bitsPerBand == 64) -1L else (1L << bitsPerBand) - 1L
    val sig = simhashed(docs, textCol, bits)
    Caching.withCached(sig) {
      // mask AFTER the shift: shiftright is arithmetic, and a 64-bit
      // signature with bit 63 set is a negative long whose sign
      // extension the mask strips
      val bandKeys = (0 until bands).map(b =>
        struct(lit(b).as("band"),
          shiftright(col("simhash"), b * bitsPerBand).bitwiseAND(lit(mask))
            .as("key")))
      val buckets = sig.select(col("doc_id"), explode(array(bandKeys: _*)).as("bk"))
        .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))
      Banding.selfPairs(buckets, "doc_id", cap)
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
        .join(sig.select(col("doc_id").as("doc_a"), col("simhash").as("sig_a")),
          Seq("doc_a"))
        .join(sig.select(col("doc_id").as("doc_b"), col("simhash").as("sig_b")),
          Seq("doc_b"))
        .select(col("doc_a"), col("doc_b"),
          bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).as("hamming"))
        .filter(col("hamming") <= maxHamming)
    }
  }
}
