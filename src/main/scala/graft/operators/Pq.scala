package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{PqAdc, PqEncode, PqLut}

/** IVF-PQ: a COMPACT standalone ANN index artifact over an embedding
  * corpus — the compression point past IVF-SQ8 on the same curve.
  *
  * The index at `path` is its own small table, derived data like the
  * minhash index (lose it, rebuild it from the corpus):
  *
  *  - one `centroid_id=c<id>/` directory per coarse IVF centroid (the
  *    SAME deterministic assignment as [[Similarity.writeIvfPartitioned]],
  *    so a probe routes with the identical algebra and prunes to
  *    `nprobe / centroidK` of the index before a file is listed);
  *  - rows of `(id, pq, nrm)` where `pq` is `m` bytes — the vector
  *    quantized to one codeword per subspace ([[graft.functions.PqEncode]]).
  *    At dim = 64 and m = 8 that is 8 bytes of codes + 8 of norm per
  *    vector vs 512 for the `array<double>` vec column (~24 B/row with
  *    the id): the candidate stage of a probe scans ~5% of even the
  *    SQ8 layout's q8 width, and ~1.5% of the float corpus width;
  *  - `_centroids` (routing sidecar, [[Similarity]] conventions) and
  *    `_meta` (m, k, dim, the flat codebook) — the index is
  *    self-describing, a probe needs nothing but `path` + the corpus.
  *
  * The codebook is `k` SAMPLE VECTORS chosen by the same deterministic
  * multiplicative-id-hash order as [[Similarity.ivfCentroids]] (so a
  * DuckDB oracle re-derives it with a window sample); subspace j's
  * codeword c is sample c's own slice. The sample is the
  * hash-verifiable default; `trainIters > 0` refines it with a
  * per-subspace Lloyd pass ([[trainCodebook]] — still deterministic,
  * recall-spec'd, inherited through maintenance rotations) for
  * production deployments where the recall knobs (`nprobe`, `rerank`)
  * shouldn't carry the whole quantization-error budget alone.
  * `residual = true` is the other quality knob on the same budget
  * (classic IVFADC): the codes quantize `vec - coarse_centroid`
  * instead of the raw vector — residuals are smaller in magnitude, so
  * the same m*k codewords cover a tighter cloud and the ADC shortlist
  * ranks closer to exact. The probe recovers exactness of the coarse
  * part by adding the per-(query, probed-centroid) `dot(q, c)` term
  * back (dot(q, v) = dot(q, c) + dot(q, v - c)): the LUT stays
  * per-QUERY (it approximates dot(q, v - c) against the residual
  * codebook), the correction is one full-dim dot per probe ROW — on
  * the tiny routing side, never per candidate. The residual CODEBOOK
  * samples the k rows AFTER the centroid prefix of the shared
  * (hash, id) order: a sample row that is itself a coarse centroid
  * assigns to itself, so its residual is the zero vector — an
  * overlapping sample would degenerate the whole codebook to zero
  * codewords and the ADC term to a constant. Both knobs compose;
  * both are stored in `_meta`, inherited by appends/rotations, and
  * hash-verified (q76 pins the residual arc end-to-end).
  *
  * MEASURED win regime (narrower than folk IVFADC lore — the full
  * tables are in SCALING.md, `graft.RecallTable` reproduces them):
  * residual beats raw when ALL of (a) the codeword budget is too
  * small to separate the corpus's cluster bases (k per subspace <<
  * distinct cluster directions), (b) the probe actually covers the
  * true cluster's cell, and (c) `rerank` ≥ the cluster population, so
  * the exact stage can recover the order the residual shortlist
  * surfaces (the PqLifecycleSpec fixture: 0.51 → 1.0). On unclustered
  * corpora residual tracks a few points BELOW raw, and on a clustered
  * corpus whose cluster size EXCEEDS the rerank budget the two
  * encodings tie (neither code resolves within-cluster order — the
  * shortlist is capacity-bound either way). Measure with
  * `pqRecallProbe` on your own data before flipping the knob.
  *
  * Probe = the q68 two-stage shape ([[Similarity.ivfKnnQuantized]]):
  * route queries against the sidecar, scan ONLY the probed partitions'
  * codes, score by ADC — `m` table lookups per candidate against a
  * per-query LUT ([[graft.functions.PqLut]]), cheaper than any dot —
  * keep the top-`rerank`, then rerank those exactly against the SOURCE
  * corpus (the index carries no vectors; the corpus read is an id `IN`
  * pushdown in serving mode, a join in offline mode). Same
  * rounding/tie-breaks as every scorer in [[Similarity]], so with
  * exhaustive `rerank` + full `nprobe` the result is row-identical to
  * [[Similarity.bruteForceKnn]].
  *
  * 100 TB framing: the index for a 25B-vector corpus at these defaults
  * is ~600 GB — small enough to live on fast storage and scan at
  * interactive latency with partition pruning, while the corpus itself
  * is touched only for `|queries| * rerank` rows. Scale knobs are the
  * ones the IVF layouts already carry (centroidK for partition count,
  * `filesPerPartition` for write parallelism).
  */
object Pq {

  /** 8 subspaces at dim 64 → dsub = 8, 8-byte codes. */
  val DefaultM: Int = 8

  /** 16 codewords per subspace: 4 bits of entropy per subspace keeps
    * the fixture-scale oracle joins small; raise toward 256 at corpus
    * scale (codes stay one byte per subspace either way).
    */
  val DefaultK: Int = 16

  final case class PqMeta(m: Int, k: Int, dim: Int, codebook: Array[Double],
      trainIters: Int = 0, residual: Boolean = false)

  /** The deterministic flat codebook AND the coarse-centroid frame,
    * from ONE corpus pass: both samples are prefixes of the same
    * (multiplicative id-hash, id) order — EXACTLY the
    * [[Similarity.ivfCentroids]] algebra — so a single
    * `TakeOrderedAndProject` over `max(k, centroidK)` rows yields the
    * codebook (first `k`, flattened sample-major `cb[c*dim + e]`) and
    * the centroid set (first `centroidK`) without a second corpus
    * scan. Codeword/centroid order is pinned by a driver-side re-sort
    * on the same (hash, id) key, so `c` is stable regardless of
    * collect order; the returned centroid frame is a driver-LOCAL
    * relation (O(centroidK·dim) — the budget the IVF paths already
    * spend), so assignment and the sidecar write never re-derive the
    * sample from the corpus.
    */
  private def codebookAndCentroids(
      all: DataFrame, k: Int, centroidK: Int, idCol: String,
      residual: Boolean)
      : (Array[Double], DataFrame) = {
    val p = graft.functions.TextHash.P
    // residual mode samples its k codebook rows AFTER the centroid
    // prefix: both prefixes share the (hash, id) order, so a sample
    // row that IS a coarse centroid assigns to itself and its
    // residual is exactly the ZERO vector — an overlapping sample
    // would fill the codebook with identical zero codewords and the
    // ADC term would carry no neighbor signal at all
    val lim = if (residual) centroidK + k else math.max(k, centroidK)
    val rows = all
      .select(col(idCol).cast("long").as("sid"), col("vec"), col("nrm"))
      .withColumn("chash", (col("sid") % p) * lit(2654435761L) % p)
      .orderBy(col("chash"), col("sid"))
      .limit(lim)
      .select("sid", "chash", "vec", "nrm")
      .collect()
    require(rows.length >= (if (residual) centroidK + k else k),
      if (residual)
        s"pq residual codebook needs centroidK+k=${centroidK + k} " +
          s"sample vectors (the k codebook rows come AFTER the " +
          s"centroid prefix — a centroid's own residual is the zero " +
          s"vector), corpus has only ${rows.length}; lower k or " +
          "centroidK"
      else
        s"pq codebook needs k=$k sample vectors, corpus has only " +
          s"${rows.length} — a codebook larger than the corpus is " +
          "degenerate; lower k")
    // the same discipline for the coarse side: silently taking fewer
    // centroids than requested would change the partition count (and
    // the probe's nprobe semantics) out from under the caller — the
    // geometry drift the rest of this file loudly refuses. This is
    // DELIBERATELY stricter than writeIvfPartitioned's own sample
    // (which adapts silently): the PQ sample IS the stored geometry
    // the oracle re-derives and appends encode against, while the IVF
    // corpus layout's centroid count is re-trainable state its sidecar
    // records as actuals — and the IVF path would pay an extra corpus
    // count on its hot build path just to warn.
    require(rows.length >= centroidK,
      s"pq coarse routing needs centroidK=$centroidK sample vectors, " +
        s"corpus has only ${rows.length} — building fewer partitions " +
        "than requested is silent geometry drift; lower centroidK")
    val sorted = rows.sortBy(r => (r.getLong(1), r.getLong(0)))
    val dim = sorted(0).getSeq[Double](2).length
    val flat = new Array[Double](k * dim)
    if (!residual) {
      var c = 0
      while (c < k) {
        val v = sorted(c).getSeq[Double](2)
        require(v.length == dim,
          s"pq codebook: mixed dimensions in corpus ($dim vs ${v.length})")
        var i = 0
        while (i < dim) { flat(c * dim + i) = v(i); i += 1 }
        c += 1
      }
    } else {
      // the init codewords are the sample rows' residuals vs their
      // own assigned centroid, computed DRIVER-side from the rows
      // already collected above (no second corpus pass), replicating
      // [[Similarity.rankCentroids]]'s decision rule exactly: max
      // cosine, tie -> min centroid_id, strictly left-to-right dot
      // ([[graft.functions.DotProduct]]'s summation order) — so the
      // init equals what the distributed encode pass subtracts, and
      // what a SQL oracle re-derives
      val centArr = sorted.take(centroidK)
        .map(r => (r.getLong(0), r.getSeq[Double](2), r.getDouble(3)))
        .sortBy(_._1)
      var c = 0
      while (c < k) {
        val row = sorted(centroidK + c)
        val v = row.getSeq[Double](2)
        require(v.length == dim,
          s"pq codebook: mixed dimensions in corpus ($dim vs ${v.length})")
        val nrm = row.getDouble(3)
        var best = Double.NegativeInfinity
        var bv: Seq[Double] = null
        for ((_, cv, cn) <- centArr) {
          var s = 0.0
          var i = 0
          while (i < dim) { s += v(i) * cv(i); i += 1 }
          val cos = s / (nrm * cn)
          if (cos > best) { best = cos; bv = cv }
        }
        var i = 0
        while (i < dim) { flat(c * dim + i) = v(i) - bv(i); i += 1 }
        c += 1
      }
    }
    val spark = all.sparkSession
    import spark.implicits._
    val cents = sorted.take(centroidK).toIndexedSeq
      .map(r => (r.getLong(0), r.getSeq[Double](2), r.getDouble(3)))
      .toDF("centroid_id", "cvec", "cnrm")
    (flat, cents)
  }

  /** `ranked` ([[Similarity.rankCentroids]] output) extended with the
    * `encv` column the PQ kernels encode: the raw vector, or in
    * residual mode the row's residual vs its ASSIGNED centroid from
    * `cent` (`centroid_id`, `cvec`, driver-local, broadcast). ONE
    * definition shared by the build and the append — the two sides
    * must subtract the identical quantity or append-era codes score
    * garbage under the generation's LUT. A dimension mismatch refuses
    * loudly HERE: `zip_with` would silently null-pad the shorter side
    * and surface as a misleading null-element error from the encode
    * kernel, sending an operator hunting for null embeddings instead
    * of the wrong-dimension append. A NULL vector passes through as a
    * null `encv` — the raw path's contract (a null embedding stores a
    * null code; see [[trainCodebook]]'s note), which the dimension
    * guard must not break (and whose null `size` would otherwise
    * reach `raise_error` as a null message).
    */
  private def residualEncode(
      ranked: DataFrame, cent: DataFrame, residual: Boolean): DataFrame =
    if (!residual) ranked.withColumn("encv", col("vec"))
    else ranked
      .join(broadcast(cent.select(col("centroid_id"), col("cvec"))),
        Seq("centroid_id"))
      .withColumn("encv",
        when(col("vec").isNull, lit(null).cast("array<double>"))
        .when(size(col("vec")) === size(col("cvec")),
          zip_with(col("vec"), col("cvec"), (a, b) => a - b))
        .otherwise(raise_error(concat(
          lit("pq residual encode: vector dimension "),
          size(col("vec")).cast("string"),
          lit(" != index dim "),
          size(col("cvec")).cast("string")))))

  /** Per-subspace Lloyd refinement of the sampled codebook — the
    * production-recall option [[writePqIndex]]/[[rotatePq]] expose as
    * `trainIters`: `iters` assign/update rounds over the corpus,
    * initialized from the deterministic sample (so iters = 0 IS the
    * oracle-proven sampled codebook — the hash-verified default).
    * Fully DETERMINISTIC, the [[Similarity.kmeansFit]] discipline:
    * assignment is [[graft.functions.PqEncode]]'s own argmin (ties to
    * the lowest codeword — the exact kernel the build then encodes
    * with), and the update step averages each codeword element in
    * DECIMAL, whose exact, associative addition makes the mean
    * independent of partition/merge order — two trainings of the same
    * corpus produce bit-identical codebooks, which is what lets a
    * maintenance rotation inherit `trainIters` and reproduce the
    * serving codebook instead of silently reverting to the sample.
    * An empty codeword keeps its previous value (never NaN, never a
    * collapse). Cost: `iters` corpus passes, each exploding to
    * corpus×dim `(subspace, code, element, value)` rows for one
    * map-side-combinable average — the shape of any distributed
    * k-means update, O(corpus) with no driver state beyond the
    * k×dim codebook itself.
    */
  private def trainCodebook(
      all: DataFrame,
      init: Array[Double],
      m: Int,
      k: Int,
      iters: Int): Array[Double] = {
    val dim = init.length / k
    val dsub = dim / m
    var cb = init
    var it = 0
    while (it < iters) {
      val cbLit = typedLit(cb.toSeq)
      // byte j of the code word = subspace j's assignment; hex/conv
      // keeps the extraction in builtin (codegen'd) expressions
      val assigned = all
        .select(col("vec"),
          hex(PqEncode(col("vec"), cbLit, m, k)).as("hx"))
        // a null embedding encodes to a null code (PqEncode's
        // null-tolerant contract, same as the untrained build which
        // stores that row with null pq) — it carries no training
        // signal, so it must not reach the update as a null group key
        .filter(col("hx").isNotNull)
        .select(col("vec"), posexplode(expr(
          s"transform(sequence(0, ${m - 1}), " +
            "j -> CAST(conv(substring(hx, j*2+1, 2), 16, 10) AS INT))"))
          .as(Seq("j", "code")))
        .select(col("j"), col("code"),
          posexplode(expr(s"slice(vec, j * $dsub + 1, $dsub)"))
            .as(Seq("e", "v")))
      val means = assigned.groupBy("j", "code", "e")
        .agg(avg(col("v").cast("decimal(38,18)")).cast("double").as("mu"))
        .collect()
      val next = cb.clone()
      means.foreach { r =>
        // under this library's ANSI sessions a value past the decimal
        // range THROWS in the cast (loud, the right outcome for
        // degenerate input); in a non-ANSI session it nulls instead —
        // an all-null group keeps the previous codeword here, like an
        // empty cluster, never NaN, never a crash
        if (!r.isNullAt(3))
          next(r.getInt(1) * dim + r.getInt(0) * dsub + r.getInt(2)) =
            r.getDouble(3)
      }
      cb = next
      it += 1
    }
    cb
  }

  /** Build the index at `path` (overwrite): encode every corpus vector
    * and lay the codes out IVF-partitioned with the routing + geometry
    * sidecars. One sample pass + one encode/write pass over the
    * corpus; the write exchanges on the partition key so the index is
    * born settled (one file per dir — `filesPerPartition` is the
    * write-parallelism salt, the [[Similarity.writeIvfPartitioned]]
    * knob). Refuses to overwrite an existing IVF CORPUS layout at
    * `path` — the overwrite is destructive (codes replace vectors,
    * unrecoverable without the corpus), and a layout root is
    * recognizable by its own sidecars; rebuilding a previous PQ index
    * in place stays allowed.
    */
  def writePqIndex(
      emb: DataFrame,
      path: String,
      m: Int = DefaultM,
      k: Int = DefaultK,
      centroidK: Int = Similarity.DefaultCentroidK,
      idCol: String = "vec_id",
      filesPerPartition: Int = 1,
      trainIters: Int = 0,
      residual: Boolean = false): Unit = {
    val spark = emb.sparkSession
    val fs = Dedup.fsFor(spark, path)
    def existsAt(sub: String) =
      fs.exists(new org.apache.hadoop.fs.Path(s"$path/$sub"))
    // the same guard discipline as writeIvfPartitioned, plus the
    // flat-layout case: an IVF layout holds the corpus VECTORS; a
    // static overwrite here would replace them with 8-byte codes.
    // A PQ index is the one layout that carries BOTH sidecars
    // (_centroids + _meta) — that one may be rebuilt in place.
    require(!existsAt("_current"),
      s"$path is a generational layout (a rotation/compaction " +
        "published a _current pointer) — a flat writePqIndex " +
        "overwrite would write BESIDE its live generation, invisible " +
        "to every pointer-resolving reader (and destroy an IVF " +
        "corpus); re-train a generational PQ index with rotatePq, " +
        "and build over a corpus layout at the index's own path")
    require(!(existsAt("_centroids") && !existsAt("_meta")),
      s"$path is an IVF corpus layout (_centroids sidecar, no PQ " +
        "_meta) — writePqIndex would replace its vectors with codes; " +
        "build the index at its own path")
    // an in-place rebuild of a never-appended PQ index is fine (the
    // index is derived data), but the static overwrite clears the
    // WHOLE path — including an `_epochs` ledger, whose loss would let
    // a replayed appendPqEpoch id re-apply and double-append rows.
    // rotatePq preserves the ledger (and its replay refusals) across
    // re-trains; this path must not silently drop it.
    require(!existsAt("_epochs"),
      s"$path carries an _epochs ledger (appended epochs) — an " +
        "in-place writePqIndex rebuild would destroy the ledger and " +
        "let a replayed epoch id double-append; re-train with rotatePq")
    // the catch-all (shared definition — see
    // [[Similarity.refusePlainDatasetOverwrite]]): a directory with
    // VISIBLE entries that is NEITHER a PQ index (BOTH sidecars —
    // `_meta` alone also marks the dedup-history/MinHash layouts,
    // which a bare-_meta gate would have let the overwrite destroy;
    // a real PQ build writes _centroids before _meta, so a torn build
    // never has _meta without _centroids) NOR a torn PQ build
    // (centroid_id= dirs, crash before the sidecars landed) is
    // someone else's data — most dangerously the raw corpus itself on
    // a typo'd path — and the static overwrite below would replace it
    // with 8-byte codes, unrecoverable.
    if (!(existsAt("_meta") && existsAt("_centroids")))
      Similarity.refusePlainDatasetOverwrite(fs, path, "writePqIndex")
    buildPqInto(emb, path, m, k, centroidK, idCol, filesPerPartition,
      trainIters, residual)
  }

  /** The build itself — encode + settled partitioned write + sidecars
    * into `path`, no overwrite guard: [[writePqIndex]] guards the flat
    * build, [[rotatePq]] stages into a fresh generation dir where the
    * guard is meaningless. One sample pass (+ `trainIters` refinement
    * passes, [[trainCodebook]]) + one encode/write pass.
    */
  private def buildPqInto(
      emb: DataFrame,
      path: String,
      m: Int,
      k: Int,
      centroidK: Int,
      idCol: String,
      filesPerPartition: Int,
      trainIters: Int = 0,
      residual: Boolean = false): Unit = {
    require(filesPerPartition >= 1,
      s"filesPerPartition must be >= 1, got $filesPerPartition")
    require(trainIters >= 0,
      s"trainIters must be >= 0, got $trainIters")
    val spark = emb.sparkSession
    val all = Similarity.asDouble(emb, idCol = idCol)
    val (sampled, centroids) =
      codebookAndCentroids(all, k, centroidK, idCol, residual)
    val dim = sampled.length / k
    require(dim % m == 0,
      s"pq: dim=$dim not divisible into m=$m subspaces — pick m | dim")
    val assigned = Similarity.rankCentroids(all, centroids, 1, idCol)
    // residual mode (classic IVFADC, Jegou et al.): quantize
    // `vec - coarse_centroid` instead of the raw vector — residuals
    // are smaller in magnitude than the vectors themselves, so the
    // same m*k code budget spends its codewords on a tighter cloud
    // and the ADC shortlist ranks closer to the exact order. The
    // probe adds the exact per-(query, probed-centroid) term
    // `dot(q, c)` back (dot(q, v) = dot(q, c) + dot(q, v - c)), so
    // the LUT machinery is unchanged. The coarse ROUTING geometry is
    // identical either way — only what the codes encode changes.
    val enc0 = residualEncode(assigned, centroids, residual)
    // residual TRAINING would re-execute the assignment + broadcast
    // join + subtraction lineage once per Lloyd iteration (plus the
    // final encode): pin it once. Raw training only re-scans the
    // source parquet per round — no join to repeat, not worth a pin.
    val enc =
      if (residual && trainIters > 0) Caching.materialize(enc0)
      else enc0
    // the coarse ROUTING stays the deterministic sample either way:
    // training refines only the product codebook (ADC quality); the
    // partition geometry is the probes' oracle-proven contract
    val flat =
      if (trainIters == 0) sampled
      else trainCodebook(
        if (residual) enc.select(col("encv").as("vec")) else all,
        sampled, m, k, trainIters)
    val cbLit = typedLit(flat.toSeq)
    val rows = enc
      .select(col(idCol),
        PqEncode(col("encv"), cbLit, m, k).as("pq"),
        col("nrm"),
        concat(lit("c"), col("centroid_id")).as("centroid_id"))
    (if (filesPerPartition <= 1) rows.repartition(col("centroid_id"))
     else rows.repartition(col("centroid_id"),
       pmod(xxhash64(col(idCol)), lit(filesPerPartition.toLong))))
      .write.partitionBy("centroid_id").mode("overwrite")
      .option("partitionOverwriteMode", "static")
      .parquet(path)
    // sidecars AFTER the main overwrite (which clears the directory);
    // the centroid frame is the driver-local relation the assignment
    // above used, so sidecar and assignment agree by construction.
    // Both are O(centroidK·dim) / O(m·k·dim) driver-bounded already —
    // written driver-side (TinyParquet), zero Spark jobs instead of
    // two write jobs plus committers per build.
    Similarity.writeCentroidSidecar(spark, path,
      centroids.select("centroid_id", "cvec", "cnrm").collect().toSeq)
    TinyParquet.write(spark, s"$path/_meta",
      Seq("m" -> "int", "k" -> "int", "dim" -> "int",
        "codebook" -> "list<double>", "train_iters" -> "int",
        "residual" -> "boolean"),
      Seq(Map("m" -> m, "k" -> k, "dim" -> dim,
        "codebook" -> flat.toSeq, "train_iters" -> trainIters,
        "residual" -> residual)))
  }

  /** The index's geometry + codebook, from its `_meta` sidecar —
    * resolved through the generation pointer ([[Similarity.ivfDataRoot]]),
    * so a rotated index reads the CURRENT generation's codebook.
    */
  def readPqMeta(spark: SparkSession, path: String): PqMeta =
    readPqMetaAt(spark,
      Similarity.ivfDataRoot(Dedup.fsFor(spark, path), path))

  /** [[readPqMeta]] against an already-RESOLVED data root — the probes
    * resolve the pointer ONCE and read meta, sidecar and codes from
    * the same generation, so a concurrent rotation can never mix one
    * generation's codebook with another's codes.
    */
  private[operators] def readPqMetaAt(
      spark: SparkSession, dataRoot: String): PqMeta = {
    // driver-side sidecar read (TinyParquet) — no Spark job per probe
    val r = graft.operators.TinyParquet.row(spark, s"$dataRoot/_meta")
    PqMeta(r("m").asInstanceOf[Int], r("k").asInstanceOf[Int],
      r("dim").asInstanceOf[Int],
      r("codebook").asInstanceOf[Seq[Any]]
        .map(_.asInstanceOf[Double]).toArray,
      // pre-trainIters sidecars lack the column: those builds were
      // sampled-codebook by definition
      trainIters =
        r.get("train_iters").map(_.asInstanceOf[Int]).getOrElse(0),
      // pre-residual sidecars encoded raw vectors by definition
      residual =
        r.get("residual").map(_.asInstanceOf[Boolean]).getOrElse(false))
  }

  /** ANN top-k for STORED query ids over a [[writePqIndex]] index +
    * its source corpus. `rerank` = 0 means the 4·k default; with
    * `rerank` covering the probed population and `nprobe = centroidK`
    * the result is row-identical to [[Similarity.bruteForceKnn]].
    * `collectShortlist` as in [[Similarity.ivfKnnQuantized]]: `true`
    * (serving) collects the |queries|·rerank shortlist into an id `IN`
    * pushdown for the corpus rerank read; `false` (offline batch)
    * keeps it a DataFrame and reranks via joins — no driver state
    * proportional to the query batch. Both modes are row-identical
    * (spec-pinned, like the SQ8 pair).
    */
  def pqKnn(
      spark: SparkSession,
      indexPath: String,
      emb: DataFrame,
      queryIds: Seq[Long],
      k: Int,
      nprobe: Int = 1,
      rerank: Int = 0,
      idCol: String = "vec_id",
      collectShortlist: Boolean = true,
      shortlistBloomFpp: Double = 0.0): DataFrame =
    Similarity.layoutProbe(spark, indexPath, Similarity.StoredIds(queryIds),
      Similarity.PqStage1(emb, rerank, collectShortlist, shortlistBloomFpp),
      k, nprobe, idCol)

  /** The serving twin for EXTERNAL query vectors (`queryIdCol` +
    * `embedding`): no self-exclusion — external ids are their own
    * namespace ([[Similarity.bruteForceKnnWith]] semantics); queries
    * are routed by centroid RANKING against the sidecar and their LUTs
    * are built on the fly, so the index never needs to have seen them.
    */
  def pqKnnWith(
      spark: SparkSession,
      indexPath: String,
      emb: DataFrame,
      queries: DataFrame,
      k: Int,
      nprobe: Int = 1,
      rerank: Int = 0,
      idCol: String = "vec_id",
      queryIdCol: String = "query_id",
      collectShortlist: Boolean = true,
      shortlistBloomFpp: Double = 0.0): DataFrame =
    Similarity.layoutProbe(spark, indexPath,
      Similarity.ExternalQueries(queries, queryIdCol),
      Similarity.PqStage1(emb, rerank, collectShortlist, shortlistBloomFpp),
      k, nprobe, idCol)

  /** STAGE 1 of the PQ probe: the codes-only candidate frame over the
    * probed index partitions — the scan whose ReadSchema must carry
    * `pq`/`nrm` and can never read a vector column (the index has
    * none: that pruning is structural, not an optimizer favor).
    * Package-private so the probes and the spec share one definition.
    */
  private[operators] def pqCandidates(
      index: DataFrame,
      probes: DataFrame,
      meta: PqMeta,
      probed: Seq[String],
      idCol: String,
      excludeSelf: Boolean,
      broadcastProbes: Boolean): DataFrame = {
    val lut = PqLut(col("vec_q"), typedLit(meta.codebook.toSeq), meta.m, meta.k)
    // residual indexes: the codes encode `v - c`, so ADC approximates
    // dot(q, v - c) and the probe adds the EXACT per-(query, probed
    // centroid) term dot(q, c) back — computed on the tiny probe side
    // (one full-dim dot per probe row) before vec_q is dropped
    val qc = if (meta.residual)
        Seq(graft.functions.DotProduct(col("vec_q"), col("cvec")).as("qc"))
      else Nil
    // the LUT is computed on the (tiny) probe side — k*dim multiplies
    // per query — and rides into the candidate join; each candidate row
    // then costs m lookups + adds (PqAdc), not a dot product
    val probesLut =
      // the driver route: one Project over the LocalRelation, folded
      // without a job
      if (SmallSide.onDriver(probes))
        probes.select(Seq(col("query_id"), col("centroid_id"), lut.as("lut"),
          col("nrm_q")) ++ qc: _*)
      // built on the DISTINCT query set and joined back onto the
      // per-(query, centroid) probe rows, so nprobe > 1 neither
      // recomputes nor ships nprobe copies of a query's m*k-double table
      else probes.select(col("query_id") +: col("centroid_id") +: qc: _*)
        .join(probes.select("query_id", "vec_q", "nrm_q").distinct()
          .withColumn("lut", lut).select("query_id", "lut", "nrm_q"),
          Seq("query_id"))
        .select(Seq(col("query_id"), col("centroid_id"), col("lut"),
          col("nrm_q")) ++ (if (meta.residual) Seq(col("qc")) else Nil): _*)
    val cand = SmallSide.withProbes(index
      .filter(col("centroid_id").isInCollection(probed)) // partition prune
      .select(col(idCol).as("neighbor_id"), col("centroid_id"),
        col("pq"), col("nrm").as("nrm_n")),
      probesLut, "centroid_id", broadcastProbes)
    val adc = PqAdc(col("pq"), col("lut"), meta.k)
    (if (excludeSelf) cand.filter(col("neighbor_id") =!= col("query_id"))
     else cand)
      .withColumn("qsim",
        if (meta.residual)
          round((col("qc") + adc) / (col("nrm_q") * col("nrm_n")), 6)
        else round(adc / (col("nrm_q") * col("nrm_n")), 6))
  }

  // ------------------------------------------------------------------
  // Lifecycle: the PQ index is DERIVED data (lose it, rebuild it from
  // the corpus) — but at 25B vectors "rebuild it" is a full corpus
  // encode pass, so the index gets the same maintenance surface as the
  // corpus layouts, on the same EpochLedger protocols: O(novel) epoch
  // APPENDS (new corpus rows encoded with the CURRENT codebook — no
  // retrain), reader-atomic ROTATION (retrain codebook + coarse
  // centroids from the source corpus, published as a _gen-<N>
  // generation via one atomic _current pointer-entry create),
  // partition-scoped COMPACTION of append fragmentation, a CLOSED-LOOP
  // pqMaintain policy with the shared recall circuit breaker, and a
  // READ-ONLY pqFsck doctor. One structural difference from the IVF
  // corpus layouts: rotation takes the SOURCE corpus as input (the
  // index stores no vectors to re-train from).
  // ------------------------------------------------------------------

  /** O(novel) crash-safe epoch append: encode `novel` corpus rows with
    * the index's CURRENT generation's codebook, route them against its
    * `_centroids` sidecar (the identical assignment algebra the build
    * used), and land one file per touched `centroid_id=` dir through
    * the [[EpochLedger]] stage→manifest→footprint→ledger protocol —
    * same guarantees as [[Similarity.appendIvfEpoch]]: same-`epochId`
    * retry idempotent (returns false on a replay), torn states heal at
    * the next entry, stage-lost partials quarantine. The codebook is
    * NEVER retrained here — append keeps the generation's geometry, so
    * appended codes and built codes score identically under one LUT;
    * drift from a stale codebook is [[pqRecallProbe]]'s observable and
    * [[rotatePq]]'s job. Appending a vector of the wrong dimension
    * refuses loudly (the codegen kernels check geometry per row).
    */
  def appendPqEpoch(
      novel: DataFrame,
      indexPath: String,
      epochId: String,
      idCol: String = "vec_id"): Boolean =
    appendPqEpochStaged(novel, indexPath, epochId, idCol, _ => ())

  /** [[appendPqEpoch]] with the crash-injection hook exposed for
    * specs — fired at "staged", "committed", "move-file", "moved".
    */
  private[operators] def appendPqEpochStaged(
      novel: DataFrame,
      indexPath: String,
      epochId: String,
      idCol: String,
      failpoint: String => Unit): Boolean = {
    val spark = novel.sparkSession
    // heal a torn rotation first (an unfinished generation publish
    // would leave resolution on the superseded root), then resolve —
    // the append must land in the settled current generation
    EpochLedger.recoverRetrainStages(spark, indexPath, "centroid_id=")
    val dataRoot =
      Similarity.ivfDataRoot(Dedup.fsFor(spark, indexPath), indexPath)
    val meta = readPqMetaAt(spark, dataRoot)
    EpochLedger.commitEpoch(spark, indexPath, epochId,
      partPrefix = "centroid_id=",
      stageWrite = stageDir =>
        encodeForLayout(novel, dataRoot, meta, idCol)
          .repartition(col("centroid_id"))
          .write.partitionBy("centroid_id").parquet(stageDir),
      failpoint = failpoint,
      dataRoot = Some(dataRoot))
  }

  /** `novel` encoded into the layout's schema with its OWN stored
    * codebook and routed against its `_centroids` sidecar — the
    * sidecar IS the layout's identity; missing means `dataRoot` is not
    * a PQ index, and the read fails loudly before any write.
    */
  private[operators] def encodeForLayout(
      novel: DataFrame,
      dataRoot: String,
      meta: PqMeta,
      idCol: String): DataFrame = {
    val spark = novel.sparkSession
    val cent = Similarity.readCentroidSidecar(spark, dataRoot)
      .select(expr("CAST(substring(centroid_id, 2) AS BIGINT)")
          .as("centroid_id"),
        col("cvec"), col("cnrm"))
    val all = Similarity.asDouble(novel, idCol = idCol)
    val cbLit = typedLit(meta.codebook.toSeq)
    val ranked = Similarity.rankCentroids(all, cent, 1, idCol)
    // a residual index's appends must encode the SAME quantity the
    // build did — the row's residual vs its assigned centroid (from
    // the sidecar, the stored geometry), never the raw vector: a raw
    // encode would score garbage under the generation's residual LUT
    val enc = residualEncode(ranked, cent, meta.residual)
    enc.select(col(idCol),
        PqEncode(col("encv"), cbLit, meta.m, meta.k).as("pq"),
        col("nrm"),
        concat(lit("c"), col("centroid_id")).as("centroid_id"))
  }

  /** Record `epochId` on the index's OWN ledger WITHOUT appending any
    * rows — the ADOPTION case of
    * [[graft.streaming.StreamingSimilarity.applySpooledEpoch]]: the
    * epoch's rows are already encoded inside the index because it was
    * built from a corpus state that contained them, so the ledger must
    * say "applied" (the same way [[rotatePq]] keeps prior epoch ids
    * ledgered across a rebuild). Without the entry the on-disk state is
    * indistinguishable from a crash between the corpus append and the
    * index append, and a runbook-following operator would hand-run
    * [[appendPqEpoch]] and double-serve every one of the epoch's rows;
    * with it, that replay is a ledger hit (returns false, appends
    * nothing). Kind-tagged "epoch" to match [[appendPqEpoch]]'s own
    * entries, so the cross-protocol collision check keeps working.
    */
  private[graft] def adoptPqEpoch(
      spark: SparkSession,
      indexPath: String,
      epochId: String): Unit = {
    EpochLedger.requireEpochId(epochId)
    EpochLedger.writeLedgerEntry(Dedup.fsFor(spark, indexPath), indexPath,
      epochId, "epoch")
  }

  /** Re-train and rebuild the PQ index at `indexPath` IN PLACE as one
    * crash-safe, READER-ATOMIC generation publish — the
    * [[Similarity.rotateIvf]] protocol verbatim (staged build →
    * `_MANIFEST` commit → `_gen-<N>` move → one atomic `_current`
    * pointer-entry create → retire), with the PQ build as the staged
    * work: a fresh deterministic codebook + coarse-centroid sample
    * over `emb` — the SOURCE corpus, which must be passed in because
    * the index stores no vectors — encoded and written settled with
    * both sidecars. A probe concurrent with any point of the rotation
    * reads old-codebook-with-old-codes or new-with-new, never a mix
    * (each probe resolves the pointer once). The first rotation of a
    * flat [[writePqIndex]] index migrates it to generational; prior
    * epoch ids REMAIN ledgered (their rows are inside the rebuilt
    * index), so a replayed old epoch still refuses after rotation.
    * `deferRetire` as in [[Similarity.rotateIvf]] — the
    * retention-window variant for always-on probe traffic, swept by
    * [[Similarity.retireSupersededGenerations]]. Cost: one corpus
    * sample pass + one corpus encode pass, O(corpus READ) but only
    * O(index) write — the cost [[appendPqEpoch]] amortizes away
    * between re-trains. Returns true when applied now.
    */
  def rotatePq(
      spark: SparkSession,
      indexPath: String,
      rotationId: String,
      emb: DataFrame,
      m: Int = DefaultM,
      k: Int = DefaultK,
      centroidK: Int = Similarity.DefaultCentroidK,
      idCol: String = "vec_id",
      filesPerPartition: Int = 1,
      deferRetire: Boolean = false,
      trainIters: Int = 0,
      residual: Boolean = false): Boolean =
    rotatePqStaged(spark, indexPath, rotationId, emb, m, k, centroidK,
      idCol, filesPerPartition, deferRetire, _ => (), trainIters,
      residual)

  /** [[rotatePq]] with the crash-injection hook exposed for specs —
    * [[Similarity.stageGeneration]]'s failpoints ("staged",
    * "committed", "gen-move", "gen-moved", "published", "retire-dir",
    * "retired").
    */
  private[operators] def rotatePqStaged(
      spark: SparkSession,
      indexPath: String,
      rotationId: String,
      emb: DataFrame,
      m: Int,
      k: Int,
      centroidK: Int,
      idCol: String,
      filesPerPartition: Int,
      deferRetire: Boolean,
      failpoint: String => Unit,
      trainIters: Int = 0,
      residual: Boolean = false): Boolean =
    Similarity.stageGeneration(spark, indexPath, rotationId, "pq-rotate",
      failpoint, deferRetire) { (_, stageData) =>
      buildPqInto(emb, stageData, m, k, centroidK, idCol,
        filesPerPartition, trainIters, residual)
    }

  /** Partition-scoped compaction of append fragmentation: rewrite ONLY
    * the over-threshold `centroid_id=` dirs of the CURRENT generation
    * in place — [[EpochLedger.compactPartitionsStaged]] with an
    * identity row healer (codes are the data; there is nothing to
    * re-derive), so it is pure file coalescing: O(fragmented), per-dir
    * idempotent swaps, probe answers row-identical. Returns the number
    * of dirs rewritten.
    */
  def compactPqPartitions(
      spark: SparkSession,
      indexPath: String,
      compactionId: String,
      maxFilesPerPartition: Int = 1,
      maxRecordsPerFile: Long = 0L,
      filesPerPartition: Int = 1): Int =
    compactPqPartitionsStaged(spark, indexPath, compactionId,
      maxFilesPerPartition, maxRecordsPerFile, _ => (),
      filesPerPartition)

  /** [[compactPqPartitions]] with the crash-injection hook exposed for
    * specs — [[EpochLedger.compactPartitionsStaged]]'s failpoints.
    */
  private[operators] def compactPqPartitionsStaged(
      spark: SparkSession,
      indexPath: String,
      compactionId: String,
      maxFilesPerPartition: Int,
      maxRecordsPerFile: Long,
      failpoint: String => Unit,
      filesPerPartition: Int = 1): Int =
    EpochLedger.compactLayoutPartitions(spark, indexPath, PqCompaction,
      compactionId, maxFilesPerPartition, maxRecordsPerFile, failpoint,
      filesPerPartition)

  /** The PQ index's compaction kind: codes are the data, there is
    * nothing to re-derive. */
  private val PqCompaction = EpochLedger.LayoutCompaction("centroid_id")

  /** Measured recall@k of the PQ probe against brute-force exact
    * top-k — [[Similarity.ivfRecallProbe]]'s twin for the quantized
    * index, with `emb` (the source corpus) supplying both the query
    * vectors and the exact side. Stored mode samples `sampleN` corpus
    * ids by the deterministic id-hash order; `queryVectors` switches
    * to SERVING-shaped held-out recall ([[pqKnnWith]] vs
    * [[Similarity.bruteForceKnnWith]], no self-exclusion either side).
    * `rerank` is the PQ shortlist budget (0 = the probe's 4·k
    * default) — recall decays BOTH when routing misses a partition
    * (nprobe) and when the ADC shortlist starves out a true neighbor
    * (rerank); this measures the served combination. Cost: one corpus
    * scan scoring the sample both ways, O(sampleN·k) driver state.
    */
  def pqRecallProbe(
      spark: SparkSession,
      indexPath: String,
      emb: DataFrame,
      sampleN: Int = 64,
      k: Int = 10,
      nprobe: Int = 1,
      rerank: Int = 0,
      idCol: String = "vec_id",
      queryVectors: Option[DataFrame] = None): Similarity.IvfRecall =
    // a deterministic id-hash sample like ivfCentroids', but under a
    // DIFFERENT odd multiplier: the codebook and coarse centroids are
    // the PREFIX of the 2654435761-hash order, so sampling the probe
    // queries from that same order would measure recall on the
    // training vectors themselves — codewords encode to themselves
    // with ~zero quantization error and route to their own partition,
    // scoring near-perfect recall regardless of drift
    CentroidLayout.recallProbe(emb, 2246822519L, "the 4*k default",
      sampleN, k, nprobe, rerank, idCol, queryVectors)(source =>
      Similarity.layoutProbe(spark, indexPath, source,
        Similarity.PqStage1(emb, rerank, collectShortlist = true, 0.0), k,
        nprobe, idCol))

  /** One-call health snapshot of the index — LISTING-ONLY by default
    * ([[Similarity.ivfHealth]]'s twin: partition stats, skew,
    * generation, quarantine/retired dir counts); `recallSampleN > 0`
    * or `queryVectors` adds the corpus-scan [[pqRecallProbe]], which
    * needs `emb` (the source corpus).
    */
  def pqHealth(
      spark: SparkSession,
      indexPath: String,
      emb: DataFrame,
      recallSampleN: Int = 0,
      k: Int = 10,
      nprobe: Int = 1,
      rerank: Int = 0,
      idCol: String = "vec_id",
      queryVectors: Option[DataFrame] = None): Similarity.IvfHealth = {
    CentroidLayout.requireRerank("rerank", "the 4*k default", rerank, k)
    CentroidLayout.health(spark, indexPath,
      if (recallSampleN > 0 || queryVectors.isDefined)
        Some(pqRecallProbe(spark, indexPath, emb, recallSampleN.max(1), k,
          nprobe, rerank, idCol, queryVectors))
      else None)
  }

  /** [[pqMaintain]]'s thresholds as one value — field meanings are its
    * parameters of the same names ([[Similarity.IvfMaintainPolicy]]'s
    * shape with the PQ training knobs `m`/`codebookK`/`trainIters`/
    * `residual` in place of `sampleFrac`). The training knobs are `Option`s
    * defaulting to INHERIT: a rotate arm firing from a cron'd default
    * policy must keep the index's own stored geometry (`_meta`'s
    * m/k/train_iters, the sidecar's centroid count), not silently
    * rewrite an m=4/k=8 deployment to the compile-time defaults or
    * revert a Lloyd-trained codebook to the sample — every code byte,
    * the codebook, and the partition count would change out from under
    * the operator. Set them explicitly to MIGRATE the geometry through
    * maintenance.
    */
  final case class PqMaintainPolicy(
      maxFilesPerPartition: Int = 64,
      skewThreshold: Double = 4.0,
      recallFloor: Option[Double] = None,
      recallSampleN: Int = 64,
      k: Int = 10,
      nprobe: Int = 1,
      rerank: Int = 0,
      ledgerTailMax: Int = 256,
      m: Option[Int] = None,
      codebookK: Option[Int] = None,
      centroidK: Option[Int] = None,
      trainIters: Option[Int] = None,
      residual: Option[Boolean] = None,
      deferRetire: Boolean = false,
      queryVectors: Option[DataFrame] = None,
      purgeRetiredOlderThanMs: Option[Long] = None,
      filesPerPartition: Int = 1) extends CentroidLayout.Policy

  /** The closed-loop maintenance policy for the PQ index — the shared
    * [[CentroidLayout.maintain]] engine behind [[Similarity.ivfMaintain]],
    * with [[rotatePq]] as the re-train arm (which needs `emb`, the
    * source corpus) and
    * the shared circuit breakers ([[RecallBreaker]] — keyed to the
    * effective training knobs m/codebookK/centroidK, the arm's own
    * config and the layout's data-state token): skew past
    * `skewThreshold` or measured recall below `recallFloor` →
    * [[rotatePq]]; otherwise files past `maxFilesPerPartition` →
    * [[compactPqPartitions]]; ledger tail past `ledgerTailMax` →
    * [[EpochLedger.compactLedger]]; retired dirs older than an
    * EXPLICIT `purgeRetiredOlderThanMs` window → purge (the only
    * deleting arm). The rotation INHERITS the index's stored geometry
    * unless the policy overrides it (see [[PqMaintainPolicy]]).
    * EITHER rotation trigger must prove it helped: a rotation that
    * still misses its threshold arms that arm's breaker — skipped
    * with a loud action until the index's data or the config changes.
    * The skew fence matters doubly here: rotatePq's deterministic
    * id-hash centroid sample reproduces the identical centroid set on
    * an unchanged corpus id set, so an unfixable skew would otherwise
    * re-fire an O(corpus) encode EVERY tick forever. A healthy index
    * is a LISTING-only no-op after the entry healing pass. Single
    * maintenance writer.
    */
  def pqMaintain(
      spark: SparkSession,
      indexPath: String,
      id: String,
      emb: DataFrame,
      policy: PqMaintainPolicy = PqMaintainPolicy(),
      idCol: String = "vec_id"): CentroidLayout.Maintenance = {
    import policy._
    // the rotate arm's training geometry: inherit the index's own
    // stored geometry unless the policy overrides (see the policy
    // doc). Lazy — healthy ticks never pay the meta/sidecar read.
    lazy val storedMeta: PqMeta = readPqMeta(spark, indexPath)
    lazy val mEff: Int = m.getOrElse(storedMeta.m)
    lazy val codebookKEff: Int = codebookK.getOrElse(storedMeta.k)
    lazy val centroidKEff: Int = centroidK.getOrElse {
      val dr = Similarity.ivfDataRoot(spark, indexPath)
      // driver-side sidecar row count (O(centroidK) rows) — the Spark
      // count() form scheduled two jobs for a number this small
      TinyParquet.rows(spark, s"$dr/_centroids").size
    }
    // trainIters inherits like the rest of the geometry: a cron'd
    // default policy rotating a Lloyd-trained deployment must
    // reproduce the trained codebook (deterministic — see
    // trainCodebook), not silently revert it to the sample
    lazy val trainItersEff: Int = trainIters.getOrElse(storedMeta.trainIters)
    // residual inherits like the rest of the geometry: a cron'd
    // default policy rotating a residual deployment must keep encoding
    // residuals, not silently revert every code byte to raw-vector
    // quantization
    lazy val residualEff: Boolean = residual.getOrElse(storedMeta.residual)
    CentroidLayout.maintain(spark, indexPath, id, policy,
      new CentroidLayout.Kind {
        val noun = "index"
        // rotatePq's id-hash centroid sample reproduces the IDENTICAL
        // centroid set on an unchanged corpus id set, so a skew the
        // re-train did not move provably never moves until the data
        // changes — the skew fence is what stops a full corpus encode
        // every tick
        val retrain = "deterministic re-train"
        val rerankParam = "rerank"
        val rerankZero = "the 4*k default"
        val trainingKeys: Seq[(String, () => String)] = Seq(
          "m" -> (() => mEff.toString),
          "codebookK" -> (() => codebookKEff.toString),
          "centroidK" -> (() => centroidKEff.toString),
          "trainIters" -> (() => trainItersEff.toString),
          "residual" -> (() => residualEff.toString))
        // manifests armed before the trainIters/residual knobs existed
        // lack their keys: treat absent as the values those builds ran
        // with, so deployed fences survive the upgrade (and re-arm the
        // moment a knob is set)
        override val legacyDefaults: Map[String, String] =
          Map("trainIters" -> "0", "residual" -> "false")
        def recall(): Similarity.IvfRecall =
          pqRecallProbe(spark, indexPath, emb, recallSampleN.max(1), k,
            nprobe, rerank, idCol, queryVectors)
        def rotate(rotationId: String): Boolean =
          rotatePq(spark, indexPath, rotationId, emb,
            m = mEff, k = codebookKEff, centroidK = centroidKEff,
            idCol = idCol,
            filesPerPartition = filesPerPartition,
            deferRetire = deferRetire,
            trainIters = trainItersEff,
            residual = residualEff)
        def compactPartitions(compactionId: String): Int =
          EpochLedger.compactSettledPartitions(spark, indexPath,
            PqCompaction, compactionId, maxFilesPerPartition, 0L, _ => (),
            filesPerPartition)
      })
  }

  /** READ-ONLY diagnosis of the PQ index — [[CentroidLayout.fsck]]'s
    * shared preamble (generation-pointer integrity, the `_centroids`
    * sidecar) and [[EpochLedger.fsck]]'s generic protocol checks, plus
    * the index's own invariants: the `_meta` sidecar's presence and
    * GEOMETRY (m | dim,
    * codebook length = k·dim — a hand-restored meta that disagrees
    * with the codes makes every probe score garbage). `deepCodes`
    * adds the value-level scan: rows whose `pq` byte length differs
    * from `_meta`'s m, or null codes/norms — the states a
    * wrong-generation file restore produces. Mutates NOTHING; safe
    * as the first command against an index another writer owns.
    * Empty result = clean.
    */
  def pqFsck(
      spark: SparkSession,
      indexPath: String,
      deepCodes: Boolean = false): Seq[EpochLedger.FsckFinding] =
    CentroidLayout.fsck(spark, indexPath, "routing and epoch appends",
        "rotatePq/writePqIndex") { (f, dataRoot, partDirs) =>
      val out = scala.collection.mutable.ArrayBuffer
        .empty[EpochLedger.FsckFinding]
      val metaP = new org.apache.hadoop.fs.Path(s"$dataRoot/_meta")
      if (partDirs.nonEmpty && !f.exists(metaP))
        out += EpochLedger.FsckFinding("meta-missing", "fatal",
          s"$dataRoot/_meta",
          "partition dirs exist but the _meta geometry/codebook sidecar " +
            "is missing — every probe and append fails; rebuild with " +
            "rotatePq/writePqIndex (the index is derived data)")
      val meta: Option[PqMeta] =
        if (!f.exists(metaP)) None
        else
          try Some(readPqMetaAt(spark, dataRoot))
          catch {
            case scala.util.control.NonFatal(e) =>
              out += EpochLedger.FsckFinding("meta-unreadable", "fatal",
                s"$dataRoot/_meta",
                s"the _meta sidecar exists but cannot be read " +
                  s"(${e.getClass.getSimpleName}) — rebuild with " +
                  "rotatePq/writePqIndex")
              None
          }
      meta.foreach { mt =>
        if (mt.m < 1 || mt.k < 1 || mt.dim < 1 || mt.dim % mt.m != 0 ||
            mt.codebook.length != mt.k * mt.dim)
          out += EpochLedger.FsckFinding("meta-geometry", "fatal",
            s"$dataRoot/_meta",
            s"inconsistent geometry: m=${mt.m} k=${mt.k} dim=${mt.dim} " +
              s"codebook=${mt.codebook.length} doubles (want k*dim=" +
              s"${mt.k.toLong * mt.dim}, m | dim) — a probe would score " +
              "garbage or refuse; restore the matching _meta or rebuild " +
              "with rotatePq")
      }
      if (deepCodes && partDirs.nonEmpty) meta.foreach { mt =>
        // value-level, opt-in: one narrow (pq, nrm) scan — the damage a
        // wrong-generation or foreign-index file restore produces is
        // per-ROW (code width from a different m), invisible to any
        // footer check because the schema is binary either way. The
        // doctor must REPORT, never throw: a restored file with a
        // conflicting column TYPE (pq as string from a foreign layout,
        // a missing column) makes the scan itself fail — exactly the
        // damage class this mode diagnoses, so it lands as a finding.
        try {
          val idx = spark.read.option("mergeSchema", "true")
            .parquet(dataRoot)
          val bad = idx.select(
              sum(when(col("pq").isNull.or(length(col("pq")) =!= mt.m), 1L)
                .otherwise(0L)).as("badpq"),
              sum(when(col("nrm").isNull, 1L).otherwise(0L)).as("badnrm"))
            .head()
          val badPq = if (bad.isNullAt(0)) 0L else bad.getLong(0)
          val badNrm = if (bad.isNullAt(1)) 0L else bad.getLong(1)
          if (badPq > 0)
            out += EpochLedger.FsckFinding("code-width", "fatal", dataRoot,
              s"$badPq row(s) carry a null pq or a code width != m=${mt.m} " +
                "bytes — a restore from a different geometry's index; ADC " +
                "refuses these loudly at probe time. Rebuild with rotatePq")
          if (badNrm > 0)
            out += EpochLedger.FsckFinding("null-nrm", "warn", dataRoot,
              s"$badNrm row(s) carry a null nrm — their qsim reads null " +
                "and the row silently never enters a shortlist; rebuild " +
                "with rotatePq")
        } catch {
          case scala.util.control.NonFatal(e) =>
            out += EpochLedger.FsckFinding("codes-unreadable", "fatal",
              dataRoot,
              s"the value-level code scan itself failed " +
                s"(${e.getClass.getSimpleName}) — a restored file with a " +
                "conflicting schema or corrupt pages; every probe fails " +
                "the same way. Rebuild with rotatePq")
        }
      }
      out.toSeq
    }
}
