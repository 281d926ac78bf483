package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Scale design (100 TB framing):
  *  - brute-force top-k broadcasts the (small) query set and computes
  *    dot products inside codegen'd higher-order functions — a single
  *    narrow map over the corpus, then a per-query top-k (tiny shuffle of
  *    k rows per query per partition under AQE).
  *  - the sublinear paths bucket the corpus once (SRP-LSH signs or IVF
  *    coarse centroids) and probe only matching buckets — the bucketing
  *    column doubles as the table's partition/cluster key at scale.
  *
  * Arithmetic notes: float embeddings are cast to double BEFORE any math,
  * and dot products fold strictly left-to-right (`aggregate`), making
  * results bit-reproducible and DuckDB-oracle-comparable.
  */
object Similarity {

  /** Embeddings with the float vector cast to double once and the L2
    * norm precomputed per vector — pairing operators then pay ONE dot
    * product per pair instead of three. Repartitions ONLY when the
    * input has fewer partitions than cores (tiny local fixtures would
    * otherwise put all vector math in one task); at scale the scan's
    * own partitioning is used as-is.
    */
  def asDouble(
      emb: DataFrame,
      vecCol: String = "embedding",
      idCol: String = "vec_id"): DataFrame = {
    val cores = emb.sparkSession.sparkContext.defaultParallelism
    // NOTE the probe is `.rdd`-based on purpose, MEASURED (r21): under
    // AQE it executes upstream shuffle stages to resolve the final
    // plan, which looks like a throwaway job — but gating it on an
    // exchange-free plan (and skipping the repartition otherwise) was
    // tried and REGRESSED 2-5× on the encode-heavy PQ paths, whose
    // inputs end in a narrow final stage (window/limit below the
    // exchange) that genuinely needs the spread.
    withVec(
      if (emb.rdd.getNumPartitions >= cores) emb else emb.repartition(cores),
      vecCol)
  }

  /** [[asDouble]]'s columns without its spread: `vec` and `nrm`. */
  private def withVec(
      emb: DataFrame,
      vecCol: String = "embedding"): DataFrame =
    emb
      // native array Cast: codegen'd, bit-identical to the per-element
      // transform lambda (same widening Cast expression element-wise)
      .withColumn("vec", col(vecCol).cast("array<double>"))
      .withColumn("nrm", norm("vec"))

  /** Strict left-to-right dot product of two double-array columns —
    * the codegen'd [[graft.functions.DotProduct]] Catalyst expression
    * (bit-identical to the interpreted `aggregate(zip_with(...))` fold,
    * ~100× faster on all-pairs workloads).
    */
  def dot(a: String, b: String): Column =
    graft.functions.DotProduct(col(a), col(b))

  def norm(a: String): Column = sqrt(dot(a, a))

  def cosine(a: String, b: String): Column =
    dot(a, b) / (norm(a) * norm(b))

  /** Add the IVF-SQ8 storage columns to layout rows carrying `vec`:
    * `qscale` (the per-vector int8 scale, [[quantizeInt8]]'s exact
    * oracle-proven algebra) and `q8` (the rounded ints packed to ONE
    * BYTE per dimension by [[graft.functions.PackInt8]] — pure
    * narrowing, no second rounding to drift). At rest the q8 column is
    * ~1/8th the width of the `array<double>` vec column, which is what
    * the quantized probe's candidate scan reads instead of vec — the
    * 100 TB scan-width lever ([[ivfKnnQuantized]]).
    */
  private def withQuantizedCols(df: DataFrame): DataFrame =
    df.withColumn("qscale", int8Scale)
      .withColumn("q8", graft.functions.PackInt8(int8Ints("qscale")))

  /** The int8 quantization algebra — ONE definition shared by
    * [[quantizeInt8]] (the q41 oracle-proven function) and the
    * layout's stored columns ([[withQuantizedCols]]), so the at-rest
    * q8 can never silently drift from the oracle-verified rounding.
    */
  private def int8Scale: Column =
    expr("aggregate(vec, 0D, (m, x) -> greatest(m, abs(x)))") / 127.0

  private def int8Ints(scaleCol: String): Column =
    expr(s"CASE WHEN $scaleCol = 0D THEN transform(vec, x -> 0) " +
      s"ELSE transform(vec, x -> CAST(round(x / $scaleCol, 0) AS INT)) " +
      "END")

  /** Brute-force cosine top-k: every query (by id) against the whole
    * corpus, excluding self. Deterministic tie-break on neighbor id.
    */
  def bruteForceKnn(
      emb: DataFrame,
      queryIds: Seq[Long],
      k: Int,
      idCol: String = "vec_id"): DataFrame = {
    val v = asDouble(emb, idCol = idCol)
    val corpus = v.select(col(idCol).as("neighbor_id"),
      col("vec").as("vec_n"), col("nrm").as("nrm_n"))
    val queries = v.filter(col(idCol).isInCollection(queryIds))
      .select(col(idCol).as("query_id"), col("vec").as("vec_q"),
        col("nrm").as("nrm_q"))
    topK(corpus.join(broadcast(queries), col("neighbor_id") =!= col("query_id")),
      k)
  }

  /** The final ranking every exact scorer here ends on: cosine rounded
    * to 6 places, ranked per query by (sim desc, neighbor id) — the
    * deterministic, engine-portable tie-break the oracles hash-pin —
    * and cut at `k`. `scored` carries `query_id`, `neighbor_id`,
    * `vec_q`/`nrm_q` and `vec_n`/`nrm_n`.
    */
  private def topK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id"))
    scored
      .withColumn("sim",
        round(dot("vec_q", "vec_n") / (col("nrm_q") * col("nrm_n")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "sim")
  }

  /** Default IVF centroid count — FIXED, independent of corpus size: the
    * broadcast of the centroid set is O(k·dim) and the assignment join is
    * O(n·k), so the plan survives a 100× corpus without replanning. (A
    * corpus-proportional centroid set — e.g. every m-th vector — blows the
    * broadcast limit and degrades assignment to O(n²/m).)
    */
  val DefaultCentroidK: Int = 16

  /** The deterministic fixed-k centroid sample: the `k` vectors whose ids
    * have the smallest multiplicative hash (tie-break on id). A top-k over
    * ids — `TakeOrderedAndProject`, per-partition heaps + one k-row merge
    * at the driver, never a global sort — so centroid selection itself is
    * scale-safe. The hash (not `id < k`) decorrelates the sample from any
    * id-assignment order; determinism keeps it DuckDB-oracle-checkable.
    */
  def ivfCentroids(v: DataFrame, k: Int, idCol: String = "vec_id"): DataFrame =
    v.select(col(idCol), col("vec"), col("nrm"))
      .withColumn("chash",
        (col(idCol) % graft.functions.TextHash.P) * lit(2654435761L)
          % graft.functions.TextHash.P)
      .orderBy(col("chash"), col(idCol))
      .limit(k)
      .select(col(idCol).as("centroid_id"), col("vec").as("cvec"),
        col("nrm").as("cnrm"))

  /** Top-`nprobe` centroids per vector by cosine (tie-break on centroid
    * id): the shared coarse-ranking step of assignment (nprobe = 1) and
    * multi-probe query routing (nprobe > 1).
    *
    * nprobe = 1 — the hot path (every corpus-side assignment in q34 /
    * semantic dedup / the IVF layout write) — is a PURE PROJECTION: the
    * k×dim centroid set is collected once (bounded driver state, the
    * same O(k·dim) budget the multi-probe sidecar and [[kmeansFit]]
    * already spend) and rides into the executors as literals in one
    * codegen'd argmax expression. The corpus is never row-multiplied
    * and never shuffled; the previous window formulation exploded n·k
    * rows and exchanged them TWICE (partition + WindowGroupLimit) just
    * to keep rank 1. nprobe > 1 keeps the window form on the (small)
    * query side where top-n genuinely needs ranking. Tie-break matches
    * the window exactly: the centroid literals are laid out in
    * ascending centroid_id order and the first index attaining the max
    * wins.
    */
  /** Largest centroid count assigned via the literal-argmax projection.
    * Beyond it the k-literal expression tree (k typedLit arrays + a
    * k-branch CaseWhen) stops being a reasonable plan, and assignment
    * switches to a broadcast join + max-struct aggregation — still no
    * window: the n·k scored rows partial-aggregate to n per task before
    * the one exchange. Both paths implement the identical
    * (max cosine, tie → min centroid_id) rule, spec-asserted.
    */
  private[operators] val LiteralAssignMaxK: Int = 256

  private[operators] def rankCentroids(
      v: DataFrame,
      centroids: DataFrame,
      nprobe: Int,
      idCol: String): DataFrame = {
    if (nprobe == 1) {
      // ONE action decides the tier AND fetches the literals: collect
      // limit(max + 1) — an overflow row proves k > max without counting
      // the full set, and the common small-k case never executes the
      // centroid plan twice (count() + collect() re-ran the default
      // ivfCentroids TakeOrdered over the uncached corpus per call).
      // coalesce(1) pins the collect to ONE scheduled job: a bare
      // limit().collect() is executeTake, which escalates 1 → 4 → 16
      // partitions and was costing three jobs per assignment here; the
      // single task reads at most (max+1) rows per input partition
      // (LocalLimit below the coalesce), and the frame is O(k·dim)
      // driver-bounded by this method's own contract anyway. A
      // driver-LOCAL centroid frame (trained centroids built with
      // createDataFrame, sidecar reads) collapses to LocalRelation and
      // collects with ZERO jobs — inserting the coalesce there would
      // CREATE the very job it exists to avoid, so it is gated on
      // isLocal.
      val centSel = centroids.select("centroid_id", "cvec", "cnrm")
        .limit(LiteralAssignMaxK + 1)
      val cents0 =
        (if (centroids.isLocal) centSel else centSel.coalesce(1)).collect()
      // empty corpus -> empty centroid set -> empty assignment (the
      // graceful degenerate the window form produced). But an empty
      // centroid set against a NON-empty corpus is a caller bug (an
      // accidentally-empty trainedCentroids frame) — assigning nothing
      // would silently drop the whole corpus; fail loudly instead.
      if (cents0.isEmpty) {
        require(v.isEmpty,
          "empty centroid set over a non-empty corpus — was an empty " +
            "trainedCentroids frame passed?")
        return v.select(col(idCol), lit(null).cast("bigint").as("centroid_id"),
          col("vec"), col("nrm")).limit(0)
      }
      if (cents0.length > LiteralAssignMaxK)
        return assignByJoin(v, centroids, idCol)
      val cents = cents0.sortBy(_.getLong(0))
      val cos = cents.map { r =>
        graft.functions.DotProduct(col("vec"), typedLit(r.getSeq[Double](1))) /
          (col("nrm") * lit(r.getDouble(2)))
      }.toSeq
      val m = array_max(col("carr"))
      val cid = cents.indices.tail.foldLeft(
          when(element_at(col("carr"), 1) === m, lit(cents(0).getLong(0)))) {
        (acc, j) =>
          acc.when(element_at(col("carr"), j + 1) === m, lit(cents(j).getLong(0)))
      }.otherwise(lit(cents(0).getLong(0)))
      v.select(col(idCol), col("vec"), col("nrm"))
        .withColumn("carr", array(cos: _*))
        .select(col(idCol), cid.as("centroid_id"), col("vec"), col("nrm"))
    } else {
      val w = Window.partitionBy(idCol)
        .orderBy(col("csim").desc, col("centroid_id"))
      v.select(col(idCol), col("vec"), col("nrm"))
        .join(broadcast(centroids))
        .withColumn("csim", dot("vec", "cvec") / (col("nrm") * col("cnrm")))
        .withColumn("crank", row_number().over(w))
        .filter(col("crank") <= nprobe)
        .select(col(idCol), col("centroid_id"), col("vec"), col("nrm"))
    }
  }

  /** Large-k assignment: broadcast the centroid frame, score the n·k
    * cross join, and keep each vector's (max csim, tie → min
    * centroid_id) via ONE map-side-combinable max-struct aggregation —
    * the n·k scored rows collapse back to n within each task, so the
    * single exchange carries n rows (the window formulation exchanged
    * all n·k). `-centroid_id` inside the struct turns the tie rule into
    * a plain max (ids are non-negative vec_ids, so negation is safe).
    *
    * Grouped on a per-input-row SURROGATE (not `idCol`): the k scored
    * copies of one input row are born in one task (the broadcast join
    * multiplies locally), so the partial aggregation still collapses
    * n·k → n map-side, and both assignment tiers agree on PER-ROW
    * semantics — a corpus with duplicate ids gets one output row per
    * input row on either side of [[LiteralAssignMaxK]], and every
    * `first(...)` reads a group built from a single input row, so
    * nothing is nondeterministic even when duplicate ids carry
    * different vectors.
    *
    * Precondition, ENFORCED: the surrogate is positional, so the input
    * must have deterministic per-partition row order. A scan or a
    * projection/filter over one qualifies (every call site here); any
    * other shape — anything downstream of an exchange, where reducers
    * fetch map outputs in arrival order — could be re-numbered by a
    * partial stage retry after other reducers already aggregated, so
    * it is eagerly materialized first, pinning the order the surrogate
    * numbers. The guard is an allowlist over the optimized logical
    * plan: unknown operators are treated as order-unstable.
    */
  private def assignByJoin(
      v: DataFrame,
      centroids: DataFrame,
      idCol: String): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical
    def scanDerived(p: logical.LogicalPlan): Boolean = p match {
      case _: logical.LeafNode => true
      case prj: logical.Project => scanDerived(prj.child)
      case flt: logical.Filter => scanDerived(flt.child)
      case _ => false
    }
    val sel = v.select(col(idCol), col("vec"), col("nrm"))
    val stable =
      if (scanDerived(sel.queryExecution.optimizedPlan)) sel
      else Caching.materialize(sel)
    stable
      .withColumn("__row", monotonically_increasing_id())
      .join(broadcast(centroids.select("centroid_id", "cvec", "cnrm")))
      .withColumn("csim", dot("vec", "cvec") / (col("nrm") * col("cnrm")))
      .groupBy(col("__row"))
      .agg(
        max(struct(col("csim"), (-col("centroid_id")).as("ncid"))).as("m"),
        first(col(idCol)).as(idCol),
        first(col("vec")).as("vec"),
        first(col("nrm")).as("nrm"))
      .select(col(idCol), (-col("m.ncid")).as("centroid_id"),
        col("vec"), col("nrm"))
  }

  /** IVF-style coarse quantization: assign every vector to its nearest
    * centroid (deterministic fixed-k centroid sample, [[ivfCentroids]]).
    * Returns (vec_id, centroid_id, vec, nrm).
    */
  def ivfAssign(
      emb: DataFrame,
      centroidK: Int = DefaultCentroidK,
      idCol: String = "vec_id"): DataFrame = {
    val all = asDouble(emb, idCol = idCol)
    rankCentroids(all, ivfCentroids(all, centroidK, idCol), 1, idCol)
  }

  /** IVF ANN top-k: each query searches the buckets of its `nprobe`
    * nearest centroids (exact rerank inside them). nprobe is the standard
    * recall knob a real IVF deployment tunes — probe-1 is the cheapest /
    * lowest-recall point, nprobe = centroidK degenerates to exact search.
    * A neighbor belongs to exactly one bucket, so multi-probe never
    * duplicates a (query, neighbor) pair and needs no distinct.
    * `trainedCentroids` swaps the deterministic id-hash sample for a
    * trained `(centroid_id, cvec, cnrm)` set ([[kmeansFit]]).
    */
  def ivfKnn(
      emb: DataFrame,
      queryIds: Seq[Long],
      k: Int,
      centroidK: Int = DefaultCentroidK,
      nprobe: Int = 1,
      idCol: String = "vec_id",
      trainedCentroids: Option[DataFrame] = None): DataFrame = {
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    val all = asDouble(emb, idCol = idCol)
    val centroids = trainedCentroids.getOrElse(ivfCentroids(all, centroidK, idCol))
    val assigned = rankCentroids(all, centroids, 1, idCol)
    val probes = rankCentroids(
        all.filter(col(idCol).isInCollection(queryIds)), centroids, nprobe, idCol)
      .select(col(idCol).as("query_id"), col("centroid_id"),
        col("vec").as("vec_q"), col("nrm").as("nrm_q"))
    topK(assigned
      .select(col(idCol).as("neighbor_id"), col("centroid_id"),
        col("vec").as("vec_n"), col("nrm").as("nrm_n"))
      .join(broadcast(probes), Seq("centroid_id"))
      .filter(col("neighbor_id") =!= col("query_id")), k)
  }

  /** Write the corpus IVF-partitioned: one directory per coarse
    * centroid (`centroid_id` as the parquet partition column, with the
    * vector, its norm, and the id inside). This is the layout the 100 TB
    * probe path reads — a query touches only its centroid's directory,
    * pruned BEFORE any file is listed. The partition value is the
    * centroid's id as a PREFIXED STRING (`c<id>`): centroid ids are
    * arbitrary vec_ids, so a numeric partition column would be exposed
    * to partition-type inference (int for small fixtures, long for
    * 64-bit ids — schema instability) and, under a narrowing cast, to
    * overflow; string equality predicates prune identically.
    * `trainedCentroids` writes the layout around a trained
    * ([[kmeansFit]]) centroid set instead of the id-hash sample — its
    * ids become the partition values and the sidecar contents.
    */
  def writeIvfPartitioned(
      emb: DataFrame,
      path: String,
      centroidK: Int = DefaultCentroidK,
      idCol: String = "vec_id",
      trainedCentroids: Option[DataFrame] = None,
      filesPerPartition: Int = 1): Unit = {
    require(filesPerPartition >= 1,
      s"filesPerPartition must be >= 1, got $filesPerPartition")
    // a generational layout's live data lives under its published
    // gen dir — a flat overwrite here would write BESIDE it, invisible
    // to every pointer-resolving reader; re-train in place with
    // rotateIvf instead
    require(!Dedup.fsFor(emb.sparkSession, path)
        .exists(new org.apache.hadoop.fs.Path(s"$path/_current")),
      s"$path is a generational IVF layout (a rotation/compaction " +
        "published a _current pointer) — rebuild it with rotateIvf, " +
        "not a flat writeIvfPartitioned overwrite")
    // the same guard family as writePqIndex's flat build (one shared
    // discipline for the destructive static overwrite): a flat layout
    // that has LEDGERED epochs must not lose its ledger to a rebuild
    // (a replayed epoch id would double-append); a PQ INDEX (both
    // sidecars) is a different artifact — replacing its codes with
    // corpus vectors on a swapped-paths call is writePqIndex's
    // IVF-corpus refusal mirrored; and a directory with VISIBLE
    // entries that is no recognizable layout — most dangerously a
    // plain dataset on a typo'd path — is someone else's data.
    // Hidden-only residue (a build that died during the partitioned
    // write leaves just _temporary) stays retryable, and rebuilding a
    // previous never-appended layout in place stays the supported
    // refresh.
    val fsG = Dedup.fsFor(emb.sparkSession, path)
    def existsG(sub: String) =
      fsG.exists(new org.apache.hadoop.fs.Path(s"$path/$sub"))
    require(!existsG("_epochs"),
      s"$path carries an _epochs ledger (appended epochs) — a flat " +
        "writeIvfPartitioned rebuild would destroy the ledger and let " +
        "a replayed epoch id double-append; re-train with rotateIvf")
    require(!(existsG("_centroids") && existsG("_meta")),
      s"$path is a PQ index (_centroids + _meta sidecars) — " +
        "writeIvfPartitioned would destroy its codes; build the " +
        "corpus layout at its own path")
    if (!existsG("_centroids"))
      refusePlainDatasetOverwrite(fsG, path, "writeIvfPartitioned")
    val all = asDouble(emb, idCol = idCol)
    // materialize the centroid set driver-side ONCE (one coalesced job
    // for a distributed frame, zero for a LocalRelation — the
    // rankCentroids collect idiom): the assignment below then collects
    // a LocalRelation for free instead of re-executing the centroid
    // plan, and the sidecar is written driver-side from the same rows
    // (TinyParquet.write, no Spark job) — previously the sidecar
    // coalesce(1) write re-ran the TakeOrdered a second time
    val centroids0 = trainedCentroids
      .getOrElse(ivfCentroids(all, centroidK, idCol))
      .select("centroid_id", "cvec", "cnrm")
    val centRows =
      (if (centroids0.isLocal) centroids0 else centroids0.coalesce(1)).collect()
    val spark = emb.sparkSession
    val centroids = {
      import scala.jdk.CollectionConverters._
      spark.createDataFrame(centRows.toSeq.asJava, centroids0.schema)
    }
    val assigned = withQuantizedCols(rankCentroids(all, centroids, 1, idCol)
      .select(col(idCol), col("vec"), col("nrm"),
        concat(lit("c"), col("centroid_id")).as("centroid_id")))
    // hash-exchange on the partition key so the layout is born SETTLED
    // (the append/compaction idiom): without it a partitioned write
    // emits one file per TASK per dir — O(tasks × k) files a
    // compactIvf would immediately have to rewrite, a second full
    // corpus write for nothing. `filesPerPartition > 1` adds an
    // id-hash salt to the exchange: each dir's rows spread over that
    // many tasks — the write-parallelism/tail knob for corpus-scale
    // builds where one task per hot dir is too slow — at the cost of
    // that many files per dir.
    (if (filesPerPartition <= 1) assigned.repartition(col("centroid_id"))
     else assigned.repartition(col("centroid_id"),
       pmod(xxhash64(col(idCol)), lit(filesPerPartition.toLong))))
      .write.partitionBy("centroid_id").mode("overwrite")
      // STATIC overwrite regardless of the session default: a rewrite
      // with a different centroid set must replace the WHOLE layout
      // atomically with its _centroids sidecar — dynamic mode would
      // leave stale centroid directories from the previous layout
      .option("partitionOverwriteMode", "static")
      .parquet(path)
    // centroid sidecar: what makes the layout a self-contained IVF index —
    // multi-probe query routing ranks against it without re-deriving
    // centroids from the corpus. The underscore prefix keeps Spark's file
    // index from reading it as corpus data. Written AFTER the main
    // overwrite (which clears the directory), driver-side from the rows
    // already collected for the assignment — zero Spark jobs.
    writeCentroidSidecar(spark, path, centRows.toIndexedSeq)
    // every writeIvfPartitioned root is quantized (withQuantizedCols
    // above) — persist the O(1) schema-version marker the append path
    // reads instead of walking footers
    writeSq8Marker(Dedup.fsFor(emb.sparkSession, path), path)
  }

  /** The live DATA ROOT of the IVF layout at `path`: `path` itself for
    * a flat [[writeIvfPartitioned]] layout, or `path/_gen-<N>` — the
    * generation named by the highest-numbered `_current/` pointer
    * entry — once a [[rotateIvf]]/[[compactIvf]] has published one.
    * Generation dirs are UNDERSCORE-prefixed so a flat-root read never
    * sees a staged-but-unpublished generation (Spark's file index
    * ignores underscore dirs unless they ARE the read root — the same
    * convention that hides the `_centroids` sidecar).
    * Every reader and the append path resolve through this, which is
    * what makes a rotation READER-ATOMIC: the new generation is built
    * complete off to the side, then ONE atomic pointer-entry create
    * switches every subsequent resolution from the old layout to the
    * new — no partial-layout window. (A reader that resolved the OLD
    * root just before its retirement fails fast on the vanished dir —
    * never a partial answer; the bytes live on under `_retired/`.)
    */
  def ivfDataRoot(
      spark: org.apache.spark.sql.SparkSession,
      path: String): String =
    ivfDataRoot(Dedup.fsFor(spark, path), path)

  /** The shared plain-dataset catch-all for the flat layout builders'
    * destructive static overwrite ([[writeIvfPartitioned]],
    * [[Pq.writePqIndex]], and the dedup pair's
    * [[Dedup.writeHistoryBucketed]]/[[Dedup.writeMinhashIndex]] — ONE
    * definition so the guard family cannot drift): refuse when `path`
    * has VISIBLE entries but no `partPrefix` partition dirs (the
    * caller's own layout shape) — that is someone else's data, most
    * dangerously the raw corpus itself on a typo'd path, and the
    * static overwrite would destroy it. Hidden-only residue (the
    * committer's `_temporary` of a build that died mid-write) stays
    * retryable. Callers check their OWN sidecars first — a path
    * recognized as the caller's own layout never reaches this.
    */
  private[operators] def refusePlainDatasetOverwrite(
      f: org.apache.hadoop.fs.FileSystem,
      path: String,
      what: String,
      partPrefix: String = "centroid_id="): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    if (f.exists(p)) {
      val entries = f.listStatus(p)
      val visible = entries.filter { st =>
        val n = st.getPath.getName
        !n.startsWith("_") && !n.startsWith(".")
      }
      require(visible.isEmpty || entries.exists(st => st.isDirectory &&
          st.getPath.getName.startsWith(partPrefix)),
        s"$path exists, is non-empty, and carries neither a recognized " +
          s"layout sidecar nor $partPrefix partition dirs — it looks " +
          "like a plain dataset (possibly the source corpus itself), " +
          s"which this $what overwrite would destroy; build at an " +
          "empty path, or delete the directory explicitly first")
    }
  }

  private[operators] def ivfDataRoot(
      f: org.apache.hadoop.fs.FileSystem,
      path: String): String =
    currentGenName(f, path).map(g => s"$path/$g").getOrElse(path)

  /** The published generation name (`_gen-<N>`, largest N) of the
    * layout at `path`, or None for a flat layout. Resolution is by
    * pointer-entry NAME alone — no content read — so a reader can
    * never observe a half-written pointer: an entry appears atomically
    * (tmp + rename) and superseded entries are pruned only after a
    * newer one exists (deleting a non-max entry cannot change the max).
    */
  private[operators] def currentGenName(
      f: org.apache.hadoop.fs.FileSystem,
      path: String): Option[String] = {
    val cur = new org.apache.hadoop.fs.Path(s"$path/_current")
    if (!f.exists(cur)) return None
    val gens = f.listStatus(cur).map(_.getPath.getName).flatMap(genNumber)
    if (gens.isEmpty) None else Some(s"_gen-${gens.max}")
  }

  private def genNumber(name: String): Option[Long] =
    if (name.startsWith("_gen-"))
      scala.util.Try(name.stripPrefix("_gen-").toLong).toOption
    else None

  /** Next generation number for the layout at `path`: one past the
    * largest existing `_gen-<N>` dir or pointer entry. Computed once at
    * commit time and recorded in the stage `_MANIFEST`, so a resumed
    * completion publishes the SAME generation the crash interrupted.
    */
  private def nextGenName(
      f: org.apache.hadoop.fs.FileSystem,
      path: String): String = {
    val root = new org.apache.hadoop.fs.Path(path)
    val dirs =
      if (f.exists(root))
        f.listStatus(root).map(_.getPath.getName).flatMap(genNumber)
      else Array.empty[Long]
    val cur = new org.apache.hadoop.fs.Path(s"$path/_current")
    val entries =
      if (f.exists(cur))
        f.listStatus(cur).map(_.getPath.getName).flatMap(genNumber)
      else Array.empty[Long]
    s"_gen-${((dirs ++ entries) :+ 0L).max + 1L}"
  }

  /** The `_centroids` routing sidecar's fixed schema — what both the
    * IVF and PQ builders write ([[writeIvfPartitioned]],
    * [[Pq.writePqIndex]]: prefixed string id, centroid vector, norm).
    */
  private[operators] val CentroidSidecarSchema:
      org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("centroid_id", StringType),
      StructField("cvec", ArrayType(DoubleType)),
      StructField("cnrm", DoubleType)))
  }

  /** Copy a tiny sidecar directory byte-for-byte on the driver — the
    * zero-job way to carry an unchanged `_centroids` into a staged
    * generation. Only the parquet data files travel (committer
    * markers like `_SUCCESS` are reader-invisible); the target dir is
    * created fresh by the caller's staging discipline. Fails closed: a
    * source holding no parquet file (a torn write that left only its
    * dot-prefixed tmp) throws, aborting the stage before its publish.
    */
  private[operators] def copySidecar(
      spark: org.apache.spark.sql.SparkSession,
      src: String,
      dst: String): Unit = {
    val f = Dedup.fsFor(spark, src)
    val dstPath = new org.apache.hadoop.fs.Path(dst)
    require(f.mkdirs(dstPath), s"copySidecar: could not create $dst")
    val conf = spark.sparkContext.hadoopConfiguration
    val copied = f.listStatus(new org.apache.hadoop.fs.Path(src)).iterator
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .count { st =>
        org.apache.hadoop.fs.FileUtil.copy(f, st.getPath, f,
          new org.apache.hadoop.fs.Path(dstPath, st.getPath.getName),
          false, conf)
      }
    require(copied > 0,
      s"copySidecar: $src holds no parquet file — a torn or empty " +
        "sidecar; refusing to stage a generation without it")
  }

  /** Write a layout's `_centroids` sidecar driver-side (TinyParquet —
    * no Spark job, no committer) from collected `(centroid_id: Long,
    * cvec, cnrm)` rows, under the PINNED sidecar schema with the
    * builders' `c`-prefixed string id. The content is identical to the
    * `coalesce(1).write.parquet` it replaces (the TinyParquet writer's
    * footer round-trips byte-equivalently through both Spark scans and
    * [[TinyParquet.rows]], spec-pinned), and the frame is O(k·dim) —
    * the same driver budget every sidecar READ already spends.
    */
  private[operators] def writeCentroidSidecar(
      spark: org.apache.spark.sql.SparkSession,
      dataRoot: String,
      centRows: Seq[org.apache.spark.sql.Row]): Unit =
    TinyParquet.write(spark, s"$dataRoot/_centroids",
      Seq("centroid_id" -> "string", "cvec" -> "list<double>",
        "cnrm" -> "double"),
      centRows.map(r => Map(
        "centroid_id" -> ("c" + r.getLong(0)),
        "cvec" -> r.getSeq[Double](1),
        "cnrm" -> r.getDouble(2))))

  /** Read a layout's `_centroids` sidecar into a driver-LOCAL relation
    * under the PINNED sidecar schema. The frame is O(k·dim) — exactly
    * the driver budget its consumers already spend on it (nprobe=1
    * assignment collects it for the literal argmax, routed probes
    * broadcast it) — but a LOCAL relation makes those downstream
    * collect/broadcast steps cost ZERO scheduled jobs, where the
    * previous distributed one-file scan cost one job per assignment
    * and one per routed probe (plus a schema-inference job before the
    * schema was pinned). The footer field check keeps the fail-loudly
    * contract for a path that is not a centroid sidecar; a MISSING
    * sidecar still fails loudly at the listing.
    */
  private[operators] def readCentroidSidecar(
      spark: org.apache.spark.sql.SparkSession,
      dataRoot: String): DataFrame =
    localFrame(spark, centroidSidecarRows(spark, dataRoot), CentroidSidecarSchema)

  /** [[readCentroidSidecar]]'s rows, `(centroid_id, cvec, cnrm)`. */
  private def centroidSidecarRows(
      spark: org.apache.spark.sql.SparkSession,
      dataRoot: String): Seq[Row] = {
    val dir = s"$dataRoot/_centroids"
    val fields = TinyParquet.fieldNames(spark, dir)
    require(
      CentroidSidecarSchema.fieldNames.forall(fields.contains),
      s"$dir is not a centroid sidecar (fields: ${fields.mkString(",")})")
    TinyParquet.rows(spark, dir).map { m =>
      Row(
        m.getOrElse("centroid_id", null),
        m.get("cvec")
          .map(_.asInstanceOf[Seq[Any]].map(_.asInstanceOf[Double])).orNull,
        m.get("cnrm").map(d => Double.box(d.asInstanceOf[Double])).orNull)
    }
  }

  /** Novel vectors assigned against the layout's OWN `_centroids`
    * sidecar, shaped for the layout's partition scheme — the shared
    * front half of [[appendIvfPartitioned]] and [[appendIvfEpoch]].
    * `dataRoot` is the RESOLVED live root ([[ivfDataRoot]]).
    * Assignment depends only on the (vector, centroid set) pair, never
    * on the rest of the corpus, so an append is bit-identical to a
    * full rebuild with the same centroid set.
    */
  private def assignToLayout(
      novel: DataFrame,
      dataRoot: String,
      idCol: String): DataFrame = {
    val spark = novel.sparkSession
    // the sidecar IS the layout's identity — missing means `dataRoot`
    // is not a writeIvfPartitioned layout; fail loudly before any write
    val cent = readCentroidSidecar(spark, dataRoot)
      .select(expr("CAST(substring(centroid_id, 2) AS BIGINT)")
          .as("centroid_id"),
        col("cvec"), col("cnrm"))
    val assigned = rankCentroids(asDouble(novel, idCol = idCol), cent, 1, idCol)
      .select(col(idCol), col("vec"), col("nrm"),
        concat(lit("c"), col("centroid_id")).as("centroid_id"))
    // match the LAYOUT's schema, not this build's: appending q8 files
    // into a pre-quantization layout would leave a mixed-schema dir
    // where a plain read resolves columns from an arbitrary file (the
    // upgrade path for an old layout is compactIvf, which re-derives
    // the quantized columns in place with probe answers row-identical)
    if (layoutHasQ8(spark, dataRoot)) withQuantizedCols(assigned)
    else assigned
  }

  /** One footer probed under a marked root, or None when the marker is
    * absent or the root holds no READABLE data file — shared by the
    * append tripwire and shallow fsck's `marker-stale` heuristic.
    * Unreadable files (a zero-byte stray, a torn write) are SKIPPED,
    * not crashed on — fsck is a doctor for damaged layouts and must
    * survive them, and garbage is reported by its own finding
    * (`footprint-unledgered` / the stage findings); attempts are
    * bounded so a fully-corrupt layout never costs O(files). Returns
    * (probed file, carries q8).
    */
  private def sq8MarkerProbe(
      spark: org.apache.spark.sql.SparkSession,
      dataRoot: String): Option[(org.apache.hadoop.fs.Path, Boolean)] = {
    val f = Dedup.fsFor(spark, dataRoot)
    if (!f.exists(sq8MarkerPath(dataRoot))) return None
    f.listStatus(new org.apache.hadoop.fs.Path(dataRoot)).iterator
      .filter(st => st.isDirectory &&
        st.getPath.getName.startsWith("centroid_id="))
      .flatMap(d => f.listStatus(d.getPath).iterator
        .filter(_.getPath.getName.endsWith(".parquet")))
      .take(3)
      .map(pf => pf.getPath -> scala.util.Try(
        spark.read.parquet(pf.getPath.toString)
          .schema.fieldNames.contains("q8")))
      .collectFirst { case (p, scala.util.Success(h)) => (p, h) }
  }

  /** Append-side tripwire for a STALE `_sq8` marker: [[layoutHasQ8]]
    * trusts the marker unconditionally (the O(1) hot path), so a
    * pre-SQ8 restore under a marked root would make every append write
    * quantized files into a legacy layout — CREATING the mixed state
    * the doctors exist to detect. Before an append commits to the
    * quantized schema, probe ONE data footer: a legacy footer under a
    * marked root proves the marker lies (full restore) or the layout
    * is already mixed; either way growing the quantized side silently
    * is wrong, so refuse loudly. One listing + one footer read per
    * epoch append — noise next to the append's own shuffle+write; a
    * consistent quantized layout never trips. Detection inside an
    * already-mixed layout is best-effort (listing-order) — `ivfFsck
    * --deep-schema`'s per-file walk is the guarantee; this keeps the
    * append path from CAUSING the state it can cheaply see coming.
    */
  private def sq8AppendTripwire(
      spark: org.apache.spark.sql.SparkSession,
      dataRoot: String): Unit =
    sq8MarkerProbe(spark, dataRoot).foreach { case (pf, hasQ8) =>
      require(hasQ8,
        s"the _sq8 marker under $dataRoot is contradicted by a legacy " +
          s"data footer (${pf.getName}): a pre-SQ8 restore under a " +
          "marked root, or an already-mixed layout — appending " +
          "quantized files would grow the damage. Run `ivf fsck " +
          "--deep-schema`; then delete the stale marker (legacy " +
          "layout) or upgrade in place with compactIvf")
    }

  /** The `_sq8` schema-version MARKER of a quantized data root: one
    * empty-ish underscore-prefixed file (invisible to Spark reads,
    * like `_centroids`) written by every path that produces a
    * quantized root — [[writeIvfPartitioned]] (which also builds
    * rotation stages) and [[compactIvf]]'s upgrade rewrite — so
    * append-time schema detection is ONE exists() probe instead of a
    * footer walk whose answer could depend on listing order.
    */
  private[operators] def sq8MarkerPath(
      dataRoot: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(s"$dataRoot/_sq8")

  /** Persist the `_sq8` marker (tmp + rename; idempotent — an already
    * present marker wins). `loud` on the build paths, best-effort from
    * [[layoutHasQ8]]'s self-heal.
    */
  private def writeSq8Marker(
      f: org.apache.hadoop.fs.FileSystem,
      dataRoot: String): Unit = {
    val p = sq8MarkerPath(dataRoot)
    if (f.exists(p)) return
    val tmp = new org.apache.hadoop.fs.Path(s"$dataRoot/._sq8.tmp")
    val out = f.create(tmp, true)
    try out.write("sq8\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    if (!f.rename(tmp, p)) {
      f.delete(tmp, false)
      require(f.exists(p),
        s"sq8 marker rename failed under $dataRoot")
    }
  }

  /** Does the layout at `dataRoot` carry the SQ8 columns ANYWHERE?
    * O(1) fast path: the `_sq8` marker every quantized build since it
    * landed persists — one exists() probe, listing-order-INDEPENDENT,
    * the append-hot-path answer. Marker-less roots (built before the
    * marker, or hand-restored) fall back to one footer per partition
    * dir, SHORT-CIRCUITING at the first q8-bearing file, and on a YES
    * the marker is self-healed (best-effort) so the next append is
    * O(1) again. Judging a single arbitrary footer would
    * nondeterministically read a quantized layout as legacy when a
    * restored legacy file happens to list first. Never a full-layout
    * file index (an every-epoch append must not pay the O(total
    * files) listing the compaction machinery exists to bound); the
    * residual corner — a marker-less MIXED layout where EVERY dir's
    * first-listed file is legacy — is caught by `ivfFsck
    * --deep-schema`'s per-file walk. A layout with no data files at
    * all reads as quantized: its first files define the (modern)
    * schema.
    */
  private def layoutHasQ8(
      spark: org.apache.spark.sql.SparkSession,
      dataRoot: String): Boolean = {
    val f = Dedup.fsFor(spark, dataRoot)
    if (f.exists(sq8MarkerPath(dataRoot))) return true
    val firstFiles = f
      .listStatus(new org.apache.hadoop.fs.Path(dataRoot)).iterator
      .filter(st => st.isDirectory &&
        st.getPath.getName.startsWith("centroid_id="))
      .flatMap(d => f.listStatus(d.getPath)
        .find(_.getPath.getName.endsWith(".parquet")))
    var sawAny = false
    var hasQ8 = false
    while (!hasQ8 && firstFiles.hasNext) {
      sawAny = true
      hasQ8 = spark.read.parquet(firstFiles.next().getPath.toString)
        .schema.fieldNames.contains("q8")
    }
    val result = hasQ8 || !sawAny
    // self-heal the marker — but only onto a root that HAS data files
    // (an empty root reads quantized by convention, yet marking it
    // would bake that answer in before the first real file defines it)
    if (hasQ8)
      try writeSq8Marker(f, dataRoot)
      catch { case scala.util.control.NonFatal(_) => () }
    result
  }

  /** Append novel vectors to an existing [[writeIvfPartitioned]] layout
    * — the O(novel) epoch maintenance a GROWING embedding corpus needs
    * (the full overwrite pays O(corpus) per epoch, exactly the cost
    * `appendHistoryBucketed` eliminated for the dedup history). Each
    * novel vector is assigned to its nearest centroid from the layout's
    * `_centroids` sidecar and appended into that centroid's partition.
    *
    * RAW append: a crashed write can leave a half-appended epoch, and a
    * blind retry double-appends. [[appendIvfEpoch]] is the crash-safe,
    * retry-idempotent entry — this raw form is package-private so the
    * "callers with their own exactly-once spool" contract is
    * compiler-enforced (the spool-guarded streaming path and the specs
    * are the only legitimate callers, both in-package).
    *
    * The centroids are NOT re-trained. As the corpus distribution
    * drifts, partitions skew and probe recall decays; the re-train
    * trigger ([[ivfSkewRatio]], [[ivfRecallProbe]]) forces a
    * [[rotateIvf]] re-train — see SCALING.md.
    */
  private[operators] def appendIvfPartitioned(
      novel: DataFrame,
      path: String,
      idCol: String = "vec_id"): Unit = {
    val dataRoot = ivfDataRoot(Dedup.fsFor(novel.sparkSession, path), path)
    sq8AppendTripwire(novel.sparkSession, dataRoot)
    assignToLayout(novel, dataRoot, idCol)
      // hash-exchange on the partition key before the partitioned
      // write (the compaction paths' idiom): each touched dir gets ONE
      // file per epoch instead of one per TASK holding its rows —
      // fragmentation grows O(epochs), not O(tasks × epochs), and the
      // skew bound is the epoch's hot share, not the corpus's
      .repartition(col("centroid_id"))
      .write.partitionBy("centroid_id").mode("append").parquet(dataRoot)
  }

  /** Crash-safe, idempotent epoch append to a [[writeIvfPartitioned]]
    * layout — [[appendIvfPartitioned]]'s assignment routed through the
    * [[EpochLedger]] stage → manifest → footprint → ledger protocol
    * (the single-layout twin of `Dedup.rotateEpochBucketed`): a crashed
    * epoch either never touched the layout (uncommitted stage,
    * discarded on retry) or completes exactly once on retry, and a
    * blind same-`epochId` retry of a COMPLETED epoch returns false and
    * leaves the layout untouched. `epochId` must be the caller's stable
    * name for this novel batch (a spool/batch id), reused verbatim on
    * every retry. Returns true when the epoch was applied now.
    *
    * SINGLE MAINTENANCE WRITER per layout, like the dedup rotation —
    * see [[EpochLedger.commitEpoch]] for the protocol's invariants and
    * [[recoverIvfEpochs]] for the restart path.
    */
  def appendIvfEpoch(
      novel: DataFrame,
      path: String,
      epochId: String,
      idCol: String = "vec_id"): Boolean =
    appendIvfEpochStaged(novel, path, epochId, idCol, _ => ())

  /** [[appendIvfEpoch]] with the crash-injection hook exposed for
    * specs — fired at "staged", "committed", "move-file", "moved".
    */
  private[operators] def appendIvfEpochStaged(
      novel: DataFrame,
      path: String,
      epochId: String,
      idCol: String,
      failpoint: String => Unit): Boolean = {
    // a torn rotation first: an unfinished generation publish would
    // otherwise leave the resolution pointing at the superseded root —
    // healing here makes restart-after-rotation-crash as self-serve as
    // restart-after-epoch-crash. The data root is resolved AFTER the
    // heal, so the append lands in the settled current generation.
    EpochLedger.recoverRetrainStages(novel.sparkSession, path, "centroid_id=")
    val dataRoot =
      ivfDataRoot(Dedup.fsFor(novel.sparkSession, path), path)
    // refuse a stale-marker/mixed layout BEFORE entering the staged
    // protocol — a tripwire inside the stage write would fire after
    // the stage dir exists and leave crash-shaped residue to heal
    sq8AppendTripwire(novel.sparkSession, dataRoot)
    EpochLedger.commitEpoch(novel.sparkSession, path, epochId,
      partPrefix = "centroid_id=",
      stageWrite = stageDir =>
        // one file per touched dir per epoch (see
        // [[appendIvfPartitioned]]) — which also makes the protocol's
        // per-file footprint moves O(touched dirs), not
        // O(tasks × dirs): at cluster scale the difference between
        // thousands of renames per epoch and |touched centroids|
        assignToLayout(novel, dataRoot, idCol)
          .repartition(col("centroid_id"))
          .write.partitionBy("centroid_id").parquet(stageDir),
      failpoint = failpoint,
      dataRoot = Some(dataRoot))
  }

  /** Resolve any crashed [[appendIvfEpoch]] or [[rotateIvf]] on the
    * layout at `path` — the restart-path entry a pipeline calls before
    * its first append of a session. Torn rotations are healed first
    * (uncommitted rotation stages discarded, committed ones completed
    * through the marker-fenced swap), then epochs: uncommitted stages
    * are discarded, committed ones completed, and stage-lost partial
    * appends QUARANTINED under `path/_quarantine/<epochId>/` (moved,
    * never deleted); footprints with no `_epochs` ledger refuse
    * recovery entirely (see [[EpochLedger.recover]]'s ledger-loss
    * valve). Single maintenance writer: never run concurrently with an
    * append or rotation on the same layout.
    */
  def recoverIvfEpochs(
      spark: org.apache.spark.sql.SparkSession,
      path: String): Unit =
    EpochLedger.recoverLayout(spark, path, "centroid_id=")

  /** Re-train and rebuild the IVF layout at `path` IN PLACE — the
    * runbook [[ivfSkewRatio]]/[[ivfRecallProbe]]'s re-train trigger
    * prescribes, as one crash-safe, READER-ATOMIC operation:
    * [[kmeansFit]] over the layout's own corpus (optionally a
    * `sampleFrac` sample — at 100 TB the trainer needs a
    * representative sample, not every vector), a full
    * [[writeIvfPartitioned]] rebuild STAGED under
    * `path/_retrain/<rotationId>/`, then a GENERATION PUBLISH: the
    * staged layout moves (one rename) to `path/_gen-<N>`, ONE atomic
    * pointer-entry create under `path/_current/` switches every
    * resolver ([[ivfDataRoot]]) to it, and only then is the superseded
    * root RETIRED (moved, never deleted) under
    * `path/_retired/<rotationId>.pre-rotate/`. A probe concurrent with
    * any point of the rotation sees either the old layout or the new
    * one COMPLETE — never a partial mix; no maintenance window needed.
    * O(corpus) once per re-train — the cost [[appendIvfEpoch]]
    * amortizes away between re-trains.
    *
    * Crash-safe like the epoch protocol, with the same ledger:
    * `_MANIFEST` is the commit point (it records the target generation
    * and the superseded root, so a resumed completion publishes the
    * SAME generation; an uncommitted crash leaves the live layout
    * untouched and the stage is discarded on [[recoverIvfEpochs]]),
    * and the rotation id lands in the layout's `_epochs` ledger — a
    * blind same-`rotationId` retry of a COMPLETED rotation returns
    * false and leaves the layout untouched. Prior epoch ids REMAIN
    * ledgered (their rows are inside the rebuilt corpus), so a
    * replayed old epoch still refuses after rotation.
    *
    * The FIRST rotation of a flat [[writeIvfPartitioned]] layout
    * migrates it: the flat partition dirs are what gets retired, and
    * the layout is generational from then on. Flat layouts that never
    * rotate stay flat and fully readable — no migration required.
    *
    * A probe that resolved the OLD root just before the publish reads
    * retired-away dirs and fails fast (never answers partially). For
    * always-on probe traffic, pass `deferRetire = true`: the
    * superseded root stays in place — invisible to resolution — until
    * a [[retireSupersededGenerations]] sweep moves it aside after
    * in-flight readers drain (the retention-window pattern).
    *
    * Returns true when the rotation was applied now.
    */
  def rotateIvf(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      rotationId: String,
      centroidK: Int = DefaultCentroidK,
      sampleFrac: Double = 1.0,
      maxIters: Int = 10,
      idCol: String = "vec_id",
      trainedCentroids: Option[DataFrame] = None,
      deferRetire: Boolean = false,
      filesPerPartition: Int = 1): Boolean =
    rotateIvfStaged(spark, path, rotationId, centroidK, sampleFrac,
      maxIters, idCol, _ => (), trainedCentroids, deferRetire,
      filesPerPartition)

  /** [[rotateIvf]] with the crash-injection hook exposed for specs —
    * fired at "staged", "committed", "gen-move", "gen-moved",
    * "published", "retire-dir", "retired".
    */
  private[operators] def rotateIvfStaged(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      rotationId: String,
      centroidK: Int,
      sampleFrac: Double,
      maxIters: Int,
      idCol: String,
      failpoint: String => Unit,
      // (centroid_id, cvec, cnrm) from an EXTERNAL trainer, replacing
      // the kmeansFit re-train — the deterministic-rotation escape
      // hatch (what lets q60 hash-pin the publish against a DuckDB
      // oracle: kmeansFit is deterministic only up to float summation
      // order, the id-hash sample is exactly reproducible)
      trainedCentroids: Option[DataFrame] = None,
      deferRetire: Boolean = false,
      filesPerPartition: Int = 1): Boolean = {
    require(sampleFrac > 0.0 && sampleFrac <= 1.0,
      s"sampleFrac must be in (0, 1], got $sampleFrac")
    stageGeneration(spark, path, rotationId, "rotation",
      failpoint, deferRetire) { (dataRoot, stageData) =>
      // the corpus read is LAZY and the stage lives under an underscore
      // dir of the layout root — the rebuild streams the live layout
      // into the stage without ever writing into its own input
      val corpus = spark.read.parquet(dataRoot)
        .select(col(idCol), col("vec").as("embedding"))
      val trained = trainedCentroids.getOrElse {
        val trainIn =
          if (sampleFrac < 1.0)
            corpus.sample(withReplacement = false, sampleFrac, seed = 42L)
          else corpus
        kmeansFit(trainIn, centroidK, maxIters, idCol = idCol)
      }
      writeIvfPartitioned(corpus, stageData, centroidK, idCol,
        trainedCentroids = Some(trained),
        filesPerPartition = filesPerPartition)
    }
  }

  /** Compact the IVF layout at `path`: rewrite the corpus into a NEW
    * generation with ONE file per centroid partition (optionally split
    * by `maxRecordsPerFile`), published through the same staged +
    * manifest + pointer + ledger discipline as [[rotateIvf]] —
    * reader-atomic, crash-safe, idempotent under same-`compactionId`
    * retry (a replay returns false). The stored assignment is reused:
    * no re-train and no argmax — the rewrite is IO-shaped, one
    * exchange on the partition key to coalesce files — so probe
    * results over the compacted layout are row-identical to the
    * uncompacted one.
    *
    * Why it exists: [[appendIvfEpoch]] lands one file-set per
    * partition dir per epoch; at hourly cadence a year is ~8.8k
    * file-sets per partition, and scan planning plus the listing-only
    * recovery sweeps degrade with file count. This is `Tsdb.compact`'s
    * move applied to the ANN layout. Pair with
    * [[EpochLedger.compactLedger]] to also roll the `_epochs/` entry
    * tail into one applied-set file. Compaction cadence is weekly-ish,
    * not hourly — the O(corpus) rewrite amortizes the same way the
    * re-train does. `deferRetire` keeps the superseded generation in
    * place for in-flight readers, as on [[rotateIvf]].
    */
  def compactIvf(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      compactionId: String,
      maxRecordsPerFile: Long = 0L,
      deferRetire: Boolean = false): Boolean =
    compactIvfStaged(spark, path, compactionId, maxRecordsPerFile, _ => (),
      deferRetire)

  /** [[compactIvf]] with the crash-injection hook exposed for specs —
    * same failpoints as [[rotateIvfStaged]].
    */
  private[operators] def compactIvfStaged(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      compactionId: String,
      maxRecordsPerFile: Long,
      failpoint: String => Unit,
      deferRetire: Boolean = false): Boolean =
    stageGeneration(spark, path, compactionId, "compaction",
      failpoint, deferRetire) { (dataRoot, stageData) =>
      val raw = spark.read.parquet(dataRoot)
      // compaction doubles as the in-place SQ8 UPGRADE: the rewrite
      // re-derives q8/qscale from the stored vec for every row (the
      // algebra is deterministic, so an already-quantized row gets
      // bit-identical columns back), which turns a pre-quantization
      // layout — or a MIXED one fsck flagged, whose legacy rows read
      // q8 as null — uniformly quantized. The assignment is untouched,
      // so unlike rotateIvf (which re-trains) every probe answer is
      // row-identical before and after.
      val corpus = withQuantizedCols(raw.drop("q8", "qscale"))
      val writer = corpus
        // hash-exchange on the partition key: every centroid's rows
        // land in exactly one task, so each partition dir gets one
        // file (maxRecordsPerFile re-splits oversized ones). A
        // pathologically hot centroid makes that one task heavy — but
        // that layout is already past the ivfSkewRatio re-train
        // trigger: ROTATE it (which re-balances the partitions), then
        // compact; compaction is not the skew remedy
        .repartition(col("centroid_id"))
        .write.partitionBy("centroid_id")
      (if (maxRecordsPerFile > 0L)
         writer.option("maxRecordsPerFile", maxRecordsPerFile)
       else writer)
        .parquet(stageData)
      // the sidecar travels unchanged: same centroid set, same ids —
      // a raw driver-side FILE copy (byte-identical, zero Spark jobs)
      // rather than a decode + re-encode through a Spark write
      copySidecar(spark, s"$dataRoot/_centroids",
        s"$stageData/_centroids")
      // the rewrite quantized every row — mark the new root so the
      // upgraded generation answers schema detection in O(1)
      writeSq8Marker(Dedup.fsFor(spark, stageData), stageData)
    }

  /** Compact ONLY the fragmented partitions of the IVF layout at
    * `path`, in place within the CURRENT generation — the
    * O(fragmented) selective variant of [[compactIvf]]'s O(corpus)
    * whole-layout rewrite. Every `centroid_id=` dir whose file count
    * exceeds `maxFilesPerPartition` is rewritten to one file
    * (`maxRecordsPerFile` re-splits oversized ones) in ONE Spark job
    * that reads only those dirs; untouched partitions are never read,
    * never rewritten, never moved. At 100 TB this is the difference
    * between a weekly whole-corpus rewrite and rewriting the 3% of
    * partitions the append cadence actually fragmented —
    * [[ivfHealth]]'s `maxFilesPerPartition` identifies the offenders
    * and [[ivfMaintain]] drives this with the same threshold.
    *
    * Crash-safe through the shared stage → `_MANIFEST` → ledger
    * discipline ([[EpochLedger]]): an uncommitted crash never touched
    * the live layout (stage discarded on recovery), a committed crash
    * resumes through the per-dir swaps (each idempotent), and a blind
    * same-`compactionId` retry of a COMPLETED compaction is a no-op.
    * Compacted files carry the `<compactionId>=` footprint prefix like
    * epoch-appended files, so ledgered history stays evidenced in the
    * live dirs (the ledger-loss valve keys on those footprints) and a
    * stage-lost partial state remains identifiable. Replaced dirs are
    * RETIRED (moved, never deleted) under
    * `path/_retired/<compactionId>.compact/`.
    *
    * NOT reader-atomic per dir, unlike the generation publish: each
    * target dir's swap is two renames (fragmented dir out to retired,
    * compacted dir in) and a probe whose file listing lands exactly in
    * that sub-millisecond window misses that one partition (one that
    * listed just before fails fast on the vanished files — never a
    * mixed answer, and never doubled rows: the compacted dir only
    * appears after the old one is out). For always-on probe traffic
    * where even that window is unacceptable, use [[compactIvf]]'s
    * pointer-published generation instead — this variant trades that
    * window for not rewriting the unfragmented 97%. Single maintenance
    * writer, like every protocol on the layout.
    *
    * Returns the number of partition dirs compacted now: 0 when
    * nothing exceeds the threshold (nothing staged, nothing ledgered —
    * the id stays reusable) or when `compactionId` was already
    * ledgered (the replay no-op).
    */
  def compactIvfPartitions(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      compactionId: String,
      maxFilesPerPartition: Int = 1,
      maxRecordsPerFile: Long = 0L,
      filesPerPartition: Int = 1): Int =
    compactIvfPartitionsStaged(spark, path, compactionId,
      maxFilesPerPartition, maxRecordsPerFile, _ => (),
      filesPerPartition)

  /** [[compactIvfPartitions]] with the crash-injection hook exposed
    * for specs — fired at "staged", "committed", "swap-retire" (before
    * each dir's retire rename), "swap-in" (before each compacted dir
    * moves in), "swapped".
    */
  private[operators] def compactIvfPartitionsStaged(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      compactionId: String,
      maxFilesPerPartition: Int,
      maxRecordsPerFile: Long,
      failpoint: String => Unit,
      filesPerPartition: Int = 1): Int =
    EpochLedger.compactLayoutPartitions(spark, path, "centroid_id",
      compactionId, maxFilesPerPartition, maxRecordsPerFile, failpoint,
      filesPerPartition, heal = dataRoot => {
        // heal the SQ8 columns through the rewrite, but ONLY on a
        // layout that carries them: re-deriving q8/qscale from vec turns
        // a mixed-schema dir (a restored legacy file beside quantized
        // ones, whose rows would otherwise bake q8 as persisted nulls
        // the quantized probe silently drops) uniformly quantized —
        // while a fully LEGACY layout must stay legacy, or compacting
        // one dir would CREATE the mixed layout this guard exists to
        // prevent. Judged from the layout's first footer OR the rewrite
        // input's own resolved schema: in a mixed layout either probe
        // alone can land on the legacy side, but quantized files
        // anywhere mean the layout is (meant to be) quantized.
        // lazy: the listing/footer walk runs only on ticks that actually
        // rewrite (the heal closure is never invoked on replay or
        // nothing-over-threshold no-ops). The rewrite input is read with
        // mergeSchema, so df.schema alone deterministically detects a
        // mixed TARGET; layoutQ8 covers compacting a pure-legacy dir
        // inside an otherwise quantized layout.
        lazy val layoutQ8 = layoutHasQ8(spark, dataRoot)
        df =>
          if (df.schema.fieldNames.contains("q8") || layoutQ8)
            withQuantizedCols(df.drop("q8", "qscale"))
          else df
      })

  /** Shared staged-generation runner behind [[rotateIvf]] and
    * [[compactIvf]]: heal, replay-check, stage a complete replacement
    * layout via `buildStage(dataRoot, stageDataDir)`, commit a
    * manifest recording the target generation and the superseded root,
    * and publish through [[completeIvfGeneration]]. Returns true when
    * applied now. `private[operators]` so the same protocol publishes
    * [[Pq]] index generations ([[Pq.rotatePq]]) — the manifest/
    * pointer/retire machinery is layout-agnostic.
    */
  private[operators] def stageGeneration(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      id: String,
      kind: String,
      failpoint: String => Unit,
      deferRetire: Boolean = false,
      // the layout's partition-dir prefix: the layout recovery heals
      // through, and recorded in the manifest so a crash-recovery
      // completion retires the right flat dirs on a first (migrating)
      // rotation of a NON-IVF layout and recovery resumes the stage only
      // on a layout of the same prefix (the substring index publishes
      // generations through this same protocol)
      partPrefix: String = "centroid_id=")(
      buildStage: (String, String) => Unit): Boolean = {
    // structural tier first so a LEGACY id's replay can reach the
    // no-op below (EpochLedger.requirePathSafeId's contract); the full
    // rule gates new applications after the ledger miss
    EpochLedger.requirePathSafeId(id)
    // heal torn rotations AND epochs before reading the corpus — a
    // torn prior epoch would otherwise be rebuilt half-appended
    EpochLedger.recoverLayout(spark, path, partPrefix)
    val f = Dedup.fsFor(spark, path)
    // ONE ledger lookup decides replay AND kind: a ledger hit is only a
    // replay when the SAME protocol applied it; an id another protocol
    // ledgered must fail loudly instead of silently skipping the rebuild
    EpochLedger.appliedKind(f, path, id) match {
      case Some(k) =>
        EpochLedger.requireKindMatches(path, id, k, kind)
        return false
      case None => ()
    }
    EpochLedger.requireEpochId(id)
    // ledger dir exists before any data moves (the ledger-loss valve's
    // footprint-era invariant)
    f.mkdirs(new org.apache.hadoop.fs.Path(s"$path/_epochs"))
    val stageRoot = new org.apache.hadoop.fs.Path(s"$path/_retrain/$id")
    val dataRoot = ivfDataRoot(f, path)
    buildStage(dataRoot, s"$stageRoot/data")
    failpoint("staged")
    // single-writer check before committing (narrows the window; the
    // guarantee is the completion-time manifest re-check)
    require(f.exists(new org.apache.hadoop.fs.Path(s"$stageRoot/data")),
      s"$kind: staging for '$id' vanished before commit — a " +
        "concurrent recover/rotation ran against this layout; the " +
        "protocol requires a single maintenance writer")
    val oldRel =
      if (dataRoot == path) "." else dataRoot.substring(path.length + 1)
    EpochLedger.commitManifest(f, stageRoot,
      s"gen:${nextGenName(f, path)}\nold:$oldRel\nkind:$kind" +
        s"\npart:$partPrefix" +
        (if (deferRetire) "\ndefer:true" else ""),
      kind)
    failpoint("committed")
    completeIvfGeneration(f, stageRoot, path, id, failpoint)
    true
  }

  /** Finish a COMMITTED generation publish (rotation or compaction),
    * from the stage's own manifest — every step idempotent under
    * same-id retry:
    *
    *   1. move the staged layout (one rename) to `path/_gen-<N>`;
    *   2. PUBLISH: one atomic pointer-entry create under
    *      `path/_current/` — the reader-visible switch;
    *   3. retire the superseded root (the prior `gen-<M>` dir in one
    *      rename, or each flat-layout dir on the first, migrating
    *      rotation) under `path/_retired/<id>.pre-rotate/`;
    *   4. prune superseded pointer entries, ledger the id, drop the
    *      stage.
    *
    * Steps 3-4 run after the publish, so a crash anywhere leaves
    * readers on a COMPLETE layout (old before step 2, new from step 2
    * on) and recovery resumes exactly where the crash hit.
    */
  private[operators] def completeIvfGeneration(
      f: org.apache.hadoop.fs.FileSystem,
      stageRoot: org.apache.hadoop.fs.Path,
      path: String,
      id: String,
      failpoint: String => Unit): Unit = {
    import org.apache.hadoop.fs.Path
    val mf = EpochLedger.readManifest(f, new Path(stageRoot, "_MANIFEST"))
    require(mf.contains("gen") && mf.contains("old"),
      s"ivf rotation stage $stageRoot carries a PRE-GENERATION " +
        "manifest (the retire-then-swap protocol of an older version). " +
        "Refusing to resume it blindly: complete or discard it with " +
        "the version that created it, or delete the stage dir if the " +
        "live layout is intact (an uncommitted old-protocol crash " +
        "never touched it).")
    val newGen = mf("gen")
    val oldRel = mf("old")
    val kind = mf.getOrElse("kind", "rotation")
    val partPrefix = EpochLedger.stagePart(mf)
    def isLayoutDir(n: String): Boolean =
      n.startsWith(partPrefix) || n == "_centroids" || n == "_meta"
    val genDst = new Path(path, newGen)
    val dataStage = new Path(stageRoot, "data")
    if (f.exists(dataStage)) {
      // both present would mean two writers staged the same generation
      // number — renaming INTO the existing dir would nest it; refuse
      require(!f.exists(genDst),
        s"$kind: both $dataStage and $genDst exist — a concurrent " +
          "rotation ran against this layout; the protocol requires a " +
          "single maintenance writer")
      failpoint("gen-move")
      require(f.rename(dataStage, genDst),
        s"$kind: move $dataStage -> $genDst failed")
    }
    failpoint("gen-moved")
    // THE publish: readers resolve by highest entry name, so this one
    // atomic create switches them all to the complete new generation
    val curDir = new Path(path, "_current")
    f.mkdirs(curDir)
    val entry = new Path(curDir, newGen)
    if (!f.exists(entry)) {
      val tmp = new Path(curDir, s".$newGen.tmp")
      val out = f.create(tmp, true)
      try out.write(newGen.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      require(f.rename(tmp, entry),
        s"$kind: pointer publish $tmp -> $entry failed")
    }
    failpoint("published")
    // retire the superseded root — readers are on the new generation;
    // the bytes are preserved under _retired, never deleted. With
    // defer:true the retire is SKIPPED: the superseded root stays in
    // place (invisible to resolution — the pointer names the max) so
    // probes that resolved it BEFORE the publish can drain, and a
    // later retireSupersededGenerations sweep moves it aside — the
    // retention-window pattern for always-on probe traffic.
    if (!mf.get("defer").contains("true")) {
      val retireDst = new Path(s"$path/_retired/$id.pre-rotate")
      if (oldRel == ".") {
        // first rotation of a flat layout: each flat dir moves
        f.mkdirs(retireDst)
        f.listStatus(new Path(path))
          .filter(st => st.isDirectory && isLayoutDir(st.getPath.getName))
          .foreach { st =>
            failpoint("retire-dir")
            require(
              f.rename(st.getPath, new Path(retireDst, st.getPath.getName)),
              s"$kind: retire ${st.getPath} -> $retireDst failed")
          }
      } else {
        val old = new Path(path, oldRel)
        if (oldRel != newGen && f.exists(old)) {
          f.mkdirs(retireDst)
          failpoint("retire-dir")
          require(f.rename(old, new Path(retireDst, oldRel)),
            s"$kind: retire $old -> $retireDst failed")
        }
      }
    }
    failpoint("retired")
    // prune superseded pointer entries and stale publish temps —
    // resolution ignores them (the newest name wins) but the pointer
    // dir must not grow one entry per rotation forever. Prune is
    // STRICTLY below this publish's generation: a HIGHER-numbered
    // entry means a newer publish already won — deleting it would
    // silently roll the layout back to this one (resolution is by max
    // name); that state is a double-writer violation, so fail loudly
    // like the other single-writer checks instead of "fixing" it.
    val newGenN = genNumber(newGen).get
    f.listStatus(curDir).map(_.getPath)
      .filter(_.getName != newGen)
      .foreach { p =>
        genNumber(p.getName).foreach(n => require(n < newGenN,
          s"$kind: pointer entry ${p.getName} is NEWER than this " +
            s"publish's $newGen — a concurrent rotation published after " +
            "this stage committed; the protocol requires a single " +
            "maintenance writer. Leaving the newer pointer in place."))
        require(f.delete(p, false),
          s"$kind: pointer prune of $p failed")
      }
    // commit-point verification, same as the epoch protocol: a missing
    // manifest here means a concurrent recover deleted the stage
    // mid-completion — ledgering now would record a partial publish
    require(f.exists(new Path(stageRoot, "_MANIFEST")),
      s"$kind: stage $stageRoot vanished mid-completion — a " +
        "concurrent recover/rotation ran against this layout; the " +
        "protocol requires a single maintenance writer")
    EpochLedger.writeLedgerEntry(f, path, id, kind)
    Dedup.retireQuarantine(f, path, id)
    // the ledger entry above fences this teardown: recovery of a
    // ledgered stage only finishes the delete, never re-publishes
    require(f.delete(stageRoot, true),
      s"$kind: cleanup of $stageRoot failed")
  }

  /** Retire every SUPERSEDED root a `deferRetire` rotation/compaction
    * left in place: `_gen-<M>` dirs below the current generation and —
    * when the layout went generational — any flat-era `<partPrefix>*`
    * dirs and `_centroids`/`_meta` sidecars still at the layout root.
    * Moved (never deleted) under `path/_retired/<name>.superseded/`,
    * same lifecycle as the eager retire ([[EpochLedger.listRetired]] /
    * [[EpochLedger.purgeRetired]]). Call it AFTER in-flight probes of the old
    * generation have drained — the retention-window sweep that pairs
    * with `deferRetire`; covers roots from EVERY prior deferred
    * publish, not just the latest. `partPrefix` is the layout family's
    * flat-era partition-dir prefix — `centroid_id=` for IVF/PQ,
    * `wh_bucket=` for the substring index
    * ([[Dedup.retireSupersededSubstringGenerations]] passes it); a
    * sweep run with the wrong prefix would strand the flat dirs
    * invisibly (they are already invisible to resolution), so the
    * substring CLI twin pins its own. Single maintenance writer, like
    * the protocols themselves. Returns the number of roots retired.
    */
  def retireSupersededGenerations(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      name: String,
      partPrefix: String = "centroid_id="): Int = {
    import org.apache.hadoop.fs.Path
    EpochLedger.requireEpochId(name)
    val f = Dedup.fsFor(spark, path)
    val cur = currentGenName(f, path).getOrElse {
      // flat layout: nothing is superseded
      return 0
    }
    val curN = cur.stripPrefix("_gen-").toLong
    val superseded = f.listStatus(new Path(path)).map(_.getPath)
      .filter { p =>
        val n = p.getName
        genNumber(n).exists(_ < curN) ||
          n.startsWith(partPrefix) || n == "_centroids" || n == "_meta"
      }
    if (superseded.isEmpty) return 0
    val dst = new Path(s"$path/_retired/$name.superseded")
    f.mkdirs(dst)
    superseded.foreach { p =>
      require(f.rename(p, new Path(dst, p.getName)),
        s"retire-superseded: $p -> $dst failed")
    }
    superseded.length
  }

  /** Per-centroid storage footprint of a [[writeIvfPartitioned]]
    * layout, from the layout LISTING alone — no Spark query, no data
    * read: one `listStatus` per centroid directory, O(centroids)
    * driver-side work against bounded state (the same budget the
    * `_centroids` sidecar already spends). This is the centroid-drift
    * monitor for an [[appendIvfPartitioned]]-grown corpus: appended
    * epochs land in the partitions their frozen centroids own, so a
    * drifting distribution shows up directly as partition-bytes skew.
    * Returns one `(centroid_id, files, bytes)` row per partition.
    */
  def ivfPartitionStats(
      spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[(String, Int, Long)] = {
    val f = graft.operators.Dedup.fsFor(spark, path)
    // the shared constant-round-trip listing (one root listStatus +
    // one recursive listFiles) — NOT a listStatus per partition dir
    EpochLedger.partitionFileStats(f, ivfDataRoot(f, path), "centroid_id=")
      .map { case (d, n, b) => (d.stripPrefix("centroid_id="), n, b) }
  }

  /** The layout's partition-population skew: max/median partition
    * bytes over [[ivfPartitionStats]]. ~1 for a balanced layout; the
    * SCALING.md re-train trigger fires when it degrades (>~4× is a
    * reasonable default) — rotate with [[rotateIvf]] (the crash-safe
    * staged re-train + swap) and resume appending under the new
    * sidecar. A raw [[writeIvfPartitioned]] overwrite re-trains too
    * but a crash mid-overwrite loses the layout; prefer the rotation.
    */
  def ivfSkewRatio(
      spark: org.apache.spark.sql.SparkSession,
      path: String): Double =
    skewFromStats(ivfPartitionStats(spark, path))

  /** [[ivfSkewRatio]]'s formula over an already-read
    * [[ivfPartitionStats]] result — so one listing can serve both the
    * file-count and the skew observables ([[ivfHealth]] reads stats
    * ONCE and derives both).
    */
  private[operators] def skewFromStats(stats: Seq[(String, Int, Long)]): Double = {
    val bytes = stats.map(_._3).sorted
    if (bytes.isEmpty || bytes.last == 0L) 1.0 // no data anywhere: nothing skewed
    else {
      val median = bytes(bytes.size / 2).toDouble
      // a zero median with nonzero data is MAXIMAL skew (over half the
      // partitions empty while hot ones hold the corpus) — it must trip
      // the re-train trigger, not report as balanced
      if (median == 0.0) Double.PositiveInfinity else bytes.last / median
    }
  }

  /** Result of [[ivfRecallProbe]]: mean recall@k over the sampled
    * queries, with the probe geometry that produced it.
    */
  final case class IvfRecall(
      recallAtK: Double,
      queries: Int,
      k: Int,
      nprobe: Int,
      // 0 = the exact partitioned route; > 0 = the SQ8 quantized route
      // with this shortlist size (measure the route you SERVE)
      rerank: Int = 0)

  /** One-call layout health snapshot — see [[ivfHealth]]. */
  final case class IvfHealth(
      dataRoot: String,
      generation: Option[String],
      partitions: Int,
      files: Long,
      bytes: Long,
      maxFilesPerPartition: Int,
      skewRatio: Double,
      recall: Option[IvfRecall],
      quarantined: Int,
      retired: Int)

  /** The layout runbook's single entry point: every maintenance
    * observable in one call. LISTING-ONLY by default (partition stats,
    * skew, quarantine/retired counts, current generation — no data
    * read); pass `recallSampleN > 0` to also run the corpus-scan
    * [[ivfRecallProbe]]. Read it as: `skewRatio` past ~4× or a recall
    * drop → [[rotateIvf]]; `maxFilesPerPartition` grown past a few
    * hundred → [[compactIvf]] (+ [[EpochLedger.compactLedger]]);
    * `quarantined > 0` → a torn epoch needs investigation
    * ([[EpochLedger.listQuarantined]]); `retired > 0` → confirmed-superseded
    * bytes awaiting [[EpochLedger.purgeRetired]]. `queryVectors` switches the
    * recall observable to the SERVING-shaped held-out mode (see
    * [[ivfRecallProbe]]) — it implies the probe runs even when
    * `recallSampleN` is 0.
    */
  def ivfHealth(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      recallSampleN: Int = 0,
      k: Int = 10,
      nprobe: Int = 1,
      queryVectors: Option[DataFrame] = None,
      recallRerank: Int = 0): IvfHealth = {
    // fail fast, before any listing work (the probe would refuse the
    // same way, but only after the stats read)
    CentroidLayout.requireRerank("recallRerank", "exact route",
      recallRerank, k)
    CentroidLayout.health(spark, path,
      if (recallSampleN > 0 || queryVectors.isDefined)
        Some(ivfRecallProbe(spark, path, recallSampleN.max(1), k, nprobe,
          queryVectors = queryVectors, rerank = recallRerank))
      else None)
  }

  /** Generation-POINTER integrity findings of the layout at `path` —
    * the first part of [[EpochLedger.layoutFsck]], shared by IVF, PQ and
    * the substring index (the pointer protocol is the same
    * [[stageGeneration]] machinery for all).
    */
  private[operators] def pointerFindings(
      f: org.apache.hadoop.fs.FileSystem,
      path: String): Seq[EpochLedger.FsckFinding] = {
    val out = scala.collection.mutable.ArrayBuffer
      .empty[EpochLedger.FsckFinding]
    val gen = currentGenName(f, path)
    val cur = new org.apache.hadoop.fs.Path(s"$path/_current")
    if (f.exists(cur) && gen.isEmpty)
      out += EpochLedger.FsckFinding("pointer-empty", "fatal",
        s"$path/_current",
        "a _current pointer dir exists but holds no _gen-<N> entry — " +
          "readers fall back to the flat root; restore the pointer " +
          "entry or the layout's generation dirs")
    gen.foreach { g =>
      if (!f.exists(new org.apache.hadoop.fs.Path(s"$path/$g")))
        out += EpochLedger.FsckFinding("pointer-dangling", "fatal",
          s"$path/_current -> $g",
          "the published generation pointer names a _gen dir that " +
            "does not exist — every probe of this layout fails; " +
            "restore the generation dir (it travels WITH the layout)")
    }
    out.toSeq
  }

  /** READ-ONLY diagnosis of an IVF layout — [[EpochLedger.fsck]]'s
    * generic protocol checks (torn stages, unledgered footprints, the
    * ledger-loss valve, quarantined/retired bytes) plus the layout's
    * own invariants: generation-pointer integrity (a `_current` entry
    * must resolve to an existing `_gen-<N>` dir) and the `_centroids`
    * routing sidecar's presence ([[CentroidLayout.fsck]]), the `_sq8`
    * marker, and — with `deepSchema` — SQ8 schema
    * uniformity (one parquet footer per partition dir: a layout where
    * some dirs carry `q8` and others don't would resolve columns from
    * an arbitrary file on a plain read). Mutates NOTHING: safe against
    * a layout another writer owns, unlike the recovery entries. Empty
    * result = clean.
    */
  def ivfFsck(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      deepSchema: Boolean = false): Seq[EpochLedger.FsckFinding] =
    CentroidLayout.fsck(spark, path, "multi-probe routing and epoch appends",
        "rotateIvf/writeIvfPartitioned") { (f, dataRoot, partDirs) =>
      val out = scala.collection.mutable.ArrayBuffer
        .empty[EpochLedger.FsckFinding]
      // shallow-mode marker-stale HEURISTIC: the same one-footer probe
      // the append tripwire pays — a legacy footer under a marked root
      // is proof of a stale marker (pre-SQ8 restore) or an existing mix,
      // so the default doctor surfaces it without the deep walk. Deep
      // mode replaces this with the definitive every-footer judgment
      // (and can additionally distinguish stale from mixed).
      if (!deepSchema && partDirs.nonEmpty)
        sq8MarkerProbe(spark, dataRoot).foreach { case (pf, hasQ8) =>
          if (!hasQ8)
            out += EpochLedger.FsckFinding("marker-stale", "warn",
              s"$dataRoot/_sq8",
              s"the _sq8 schema marker is contradicted by a legacy data " +
                s"footer (${pf.getName}) — a pre-SQ8 restore under a " +
                "marked root, or a mixed layout; appends REFUSE on this " +
                "state. Run --deep-schema for the definitive per-file " +
                "judgment; delete the stale marker or upgrade with " +
                "compactIvf")
        }
      if (deepSchema && partDirs.nonEmpty) {
        // EVERY file's footer, not one per dir: an intra-dir mix (a
        // restored pre-SQ8 file beside quantized ones) is exactly the
        // hazard this mode exists to catch, and one-sample-per-dir
        // detection would depend on listing order. Deep mode is the
        // opt-in incident tool — O(files) footer reads by design.
        val byDir: Seq[(String, Set[Boolean])] = partDirs.toSeq.map { d =>
          d.getPath.getName ->
            f.listStatus(d.getPath)
              .filter(_.getPath.getName.endsWith(".parquet"))
              .map(pf => spark.read.parquet(pf.getPath.toString)
                .schema.fieldNames.contains("q8")).toSet
        }.filter(_._2.nonEmpty)
        byDir.filter(_._2.size > 1).foreach { case (d, _) =>
          out += EpochLedger.FsckFinding("schema-mixed", "warn",
            s"$dataRoot/$d",
            "SQ8 and legacy files INSIDE one partition dir — a plain " +
              "read resolves columns from an arbitrary file and the " +
              "quantized probe reads null q8 for the legacy rows; " +
              "compactIvf upgrades it in place, row-identical")
        }
        val uniform = byDir.filter(_._2.size == 1)
          .map { case (d, s) => (d, s.head) }
        val (q8dirs, legacy) = uniform.partition(_._2)
        // the _sq8 marker is what the append hot path trusts for O(1)
        // schema detection — a STALE one (marker present, no quantized
        // file anywhere: a restore from a pre-SQ8 backup under a marked
        // root) would make every append write quantized files into a
        // legacy layout, CREATING the mixed state; flag it before that
        if (f.exists(sq8MarkerPath(dataRoot)) &&
            !byDir.exists(_._2.contains(true)))
          out += EpochLedger.FsckFinding("marker-stale", "warn",
            s"$dataRoot/_sq8",
            "the _sq8 schema marker is present but NO data file carries " +
              "the quantized columns — appends would write quantized " +
              "files into this legacy layout, creating the mixed state; " +
              "delete the marker (and let the footer walk re-judge) or " +
              "upgrade the layout with compactIvf")
        if (q8dirs.nonEmpty && legacy.nonEmpty)
          out += EpochLedger.FsckFinding("schema-mixed", "warn", dataRoot,
            s"${q8dirs.size} partition dir(s) carry the SQ8 columns and " +
              s"${legacy.size} do not (first of each: " +
              s"${q8dirs.head._1} vs ${legacy.head._1}) — a plain read " +
              "resolves columns from an arbitrary file; compactIvf " +
              "upgrades it in place, row-identical")
        // VALUE-level: per-file field presence cannot see nulls a prior
        // rewrite of a then-mixed dir baked into real q8 columns — rows
        // the quantized probe silently drops (null qsim never enters
        // the shortlist). Gate on the per-dir footer results already in
        // hand (NOT an arbitrarily-resolved schema, which would skip
        // nondeterministically in a mixed layout), read with mergeSchema
        // for the same reason, and only when data files exist at all.
        // One narrow (q8, qscale) scan; deep mode is the opt-in
        // incident tool, so the data read is by design.
        if (byDir.exists(_._2.contains(true))) {
          val layout = spark.read.option("mergeSchema", "true")
            .parquet(dataRoot)
          val nulls = layout
            .filter(col("q8").isNull.or(col("qscale").isNull)).count()
          if (nulls > 0)
            out += EpochLedger.FsckFinding("schema-null-q8", "warn",
              dataRoot,
              s"$nulls row(s) carry null q8/qscale — invisible to the " +
                "quantized probe; compactIvf re-derives them in place, " +
                "row-identical")
        }
      }
      out.toSeq
    }

  /** A token of the layout's DATA state: the current generation name
    * (or `flat`) plus an MD5 of the sorted ledgered applied-id set.
    * Identical token ⇒ no append/rotation/compaction protocol has
    * changed the layout since — what arms and re-arms
    * [[ivfMaintain]]'s recall circuit breaker.
    */
  private[operators] def layoutStateToken(
      f: org.apache.hadoop.fs.FileSystem,
      path: String): String = {
    val gen = currentGenName(f, path).getOrElse("flat")
    val ids =
      if (f.exists(new org.apache.hadoop.fs.Path(s"$path/_epochs")))
        EpochLedger.ledgeredIds(f, path).toSeq.sorted.mkString(",")
      else ""
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(ids.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
    s"$gen|$md5"
  }

  /** [[ivfMaintain]]'s thresholds as one value — for callers that
    * schedule the policy rather than invoke it once (the streaming
    * boundary hook, a cron wrapper): hold the knobs in a config, pass
    * it with a fresh id per run. [[ivfMaintain]] documents what each
    * field drives. `queryVectors` rides along for the
    * serving-shaped recall floor; it is a driver-side handle, so a
    * policy value can be built once and reused across runs.
    */
  final case class IvfMaintainPolicy(
      maxFilesPerPartition: Int = 64,
      skewThreshold: Double = 4.0,
      recallFloor: Option[Double] = None,
      recallSampleN: Int = 64,
      k: Int = 10,
      nprobe: Int = 1,
      ledgerTailMax: Int = 256,
      centroidK: Int = DefaultCentroidK,
      sampleFrac: Double = 1.0,
      deferRetire: Boolean = false,
      queryVectors: Option[DataFrame] = None,
      purgeRetiredOlderThanMs: Option[Long] = None,
      filesPerPartition: Int = 1,
      // 0 = judge the exact route's recall; > 0 = judge the SQ8
      // quantized route with this shortlist (the route being served)
      recallRerank: Int = 0) extends CentroidLayout.Policy {
    def rerank: Int = recallRerank
  }

  /** The closed-loop maintenance policy step: read [[ivfHealth]] ONCE,
    * judge it against `policy`'s thresholds, and run the prescribed
    * maintenance — the runbook sentence ("skew past ~4× or a recall
    * drop → rotate; files past a few hundred → compact; ledger tail
    * long → roll it up") as one idempotent entry instead of a human
    * reading a snapshot. Decisions, in order:
    *
    *   - `skewRatio > skewThreshold`, or `recallFloor` is set and the
    *     measured recall@k (probed with `recallSampleN`) is below it →
    *     [[rotateIvf]] under id `<id>-rotate` (a re-train re-balances
    *     AND rewrites every partition, so no compaction is needed on
    *     top). EITHER trigger must prove the rotation helped: one that
    *     still misses its threshold arms that arm's circuit breaker
    *     ([[RecallBreaker]]) and is skipped with a loud action until
    *     the layout's data or the config changes;
    *   - otherwise `maxFilesPerPartition` exceeded →
    *     [[compactIvfPartitions]] under id `<id>-compact` with the
    *     same threshold (O(fragmented), in-generation);
    *   - `filesPerPartition` is the write-parallelism salt for
    *     whichever rewrite fires (rotation rebuild or selective
    *     compaction — see [[writeIvfPartitioned]]): at corpus scale a
    *     hot partition should not rewrite through one task;
    *   - independently, a ledger entry tail longer than
    *     `ledgerTailMax` → [[EpochLedger.compactLedger]];
    *   - independently, when `purgeRetiredOlderThanMs` is set, retired
    *     dirs older than that window →
    *     [[EpochLedger.purgeRetiredOlderThan]] (the only deleting arm,
    *     and only under an EXPLICIT window — unset means retired bytes
    *     are never touched).
    *
    * A healthy layout is a LISTING-ONLY no-op (empty `actions`) —
    * after the entry HEALING pass ([[recoverIvfEpochs]]): the policy
    * is the cron'd one-call, so a torn epoch/rotation/compaction
    * resolves here even when every threshold then reads healthy.
    * Replay-safe like its parts: re-running with the same `id` after a
    * crash resumes/no-ops through each sub-protocol's own ledger.
    * Recall probing only runs when `recallFloor` is set — it is the
    * one corpus-scan observable ([[ivfRecallProbe]]); the rest stay
    * listing-only. With `queryVectors` the floor judges SERVING-shaped
    * recall over the supplied held-out vectors instead of the stored
    * sample — the drift mode stored sampling under-detects. Single
    * maintenance writer, like everything else on the layout; the CLI
    * twin (`ivf maintain --lock-file`) gives that contract process
    * teeth. Runs the shared [[CentroidLayout.maintain]] engine with
    * [[rotateIvf]] as the rotate arm and the centroidK/sampleFrac
    * training knobs in both breakers' keys.
    */
  def ivfMaintain(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      id: String,
      policy: IvfMaintainPolicy): CentroidLayout.Maintenance =
    CentroidLayout.maintain(spark, path, id, policy, new CentroidLayout.Kind {
      val noun = "layout"
      val retrain = "re-train"
      val rerankParam = "recallRerank"
      val rerankZero = "exact route"
      // a different centroidK/sampleFrac trains a different layout. The
      // skew fence matters because kmeansFit is deterministic on the
      // same corpus (farthest-point init): a byte skew the re-train
      // cannot pull under the threshold — a genuinely hot semantic
      // cluster — would re-fire the O(corpus) rotation every tick
      val trainingKeys: Seq[(String, () => String)] = Seq(
        "centroidK" -> (() => policy.centroidK.toString),
        "sampleFrac" -> (() => policy.sampleFrac.toString))
      def recall(): IvfRecall =
        ivfRecallProbe(spark, path, policy.recallSampleN.max(1), policy.k,
          policy.nprobe, queryVectors = policy.queryVectors,
          rerank = policy.recallRerank)
      def rotate(rotationId: String): Boolean =
        rotateIvf(spark, path, rotationId, centroidK = policy.centroidK,
          sampleFrac = policy.sampleFrac, deferRetire = policy.deferRetire,
          filesPerPartition = policy.filesPerPartition)
      def compactPartitions(compactionId: String): Int =
        compactIvfPartitions(spark, path, compactionId,
          maxFilesPerPartition = policy.maxFilesPerPartition,
          filesPerPartition = policy.filesPerPartition)
    })

  /** Measured recall@k of the layout's multi-probe ANN answer against
    * brute-force exact top-k, over a deterministic id-hash sample of
    * `sampleN` stored vectors — the RECALL-side drift monitor next to
    * the bytes-side [[ivfSkewRatio]]: a drifting corpus can hurt probe
    * recall (queries' true neighbors land outside their probed
    * partitions) before it shows as partition-bytes skew, and this
    * makes that decay measurable so the [[rotateIvf]] trigger can key
    * on it. Cost: one full corpus scan scoring `sampleN` broadcast
    * queries both ways — an observability probe run at maintenance
    * cadence, not a serving path. Driver state is O(sampleN·k) id
    * pairs. Both answers use the same rounding and tie-breaks, so
    * recall 1.0 means literally identical top-k sets.
    *
    * `queryVectors` switches to SERVING-shaped recall: the probe runs
    * with the supplied external (`query_id`, `embedding`) vectors —
    * [[ivfKnnPartitionedWith]] vs [[bruteForceKnnWith]], no
    * self-exclusion on either side — instead of sampling stored rows.
    * Stored-vector recall under-detects drift a query workload off the
    * stored distribution DOES feel (a stored vector always probes the
    * partition it lives in; a between-clusters query routes to one
    * partition while its true neighbors span several), so a deployment
    * with a representative held-out query set should monitor this mode
    * next to the stored one. `sampleN` is ignored in this mode — every
    * supplied vector is probed.
    *
    * `rerank > 0` switches the APPROXIMATE side to the SQ8 quantized
    * route ([[ivfKnnQuantized]]/[[ivfKnnQuantizedWith]] with that
    * shortlist size) — measure the route you actually SERVE: quantized
    * serving adds a second recall dimension (a true neighbor whose
    * int8 rank falls below `rerank` is lost even when routing finds
    * its partition), and an exact-route recall floor would miss that
    * decay entirely. The exact brute-force side stays the denominator
    * either way.
    */
  def ivfRecallProbe(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      sampleN: Int = 64,
      k: Int = 10,
      nprobe: Int = 1,
      idCol: String = "vec_id",
      queryVectors: Option[DataFrame] = None,
      rerank: Int = 0): IvfRecall =
    // the ivfCentroids sampling hash, reused: deterministic, id-order
    // decorrelated
    CentroidLayout.recallProbe(
      spark.read.parquet(ivfDataRoot(spark, path))
        .select(col(idCol), col("vec").as("embedding")),
      2654435761L, "exact route", sampleN, k, nprobe, rerank, idCol,
      queryVectors)(source =>
      layoutProbe(spark, path, source,
        if (rerank > 0) Sq8Stage1(rerank, collectShortlist = true, 0.0)
        else ExactStage1, k, nprobe, idCol))

  /** The probed-partition literal of the DISTRIBUTED route (a
    * distributed shortlist, or a batch over the driver budget); the
    * driver route prunes to exactly its routed set, which it holds
    * already. At or below [[Dedup.DefaultPruneSkipMaxBuckets]]
    * centroids AND with a SMALL layout scan
    * ([[Dedup.DefaultPruneSkipMaxBytes]], estimated from `layout`'s
    * plan statistics — no job) the layout's own sidecar id set (`cent`,
    * read once per probe) stands in for the batch's routed set: on that
    * geometry the distinct+collect Spark job costs more than the
    * un-pruned scan it would save, and the stand-in is a SUPERSET
    * filter with row-identical results (every candidate row is
    * restricted by the probe join on centroid_id either way; stored
    * assignments and routed probes both draw from the sidecar's id
    * set). Outside the gate — many partitions, or few partitions of a
    * LARGE corpus where a batch genuinely routes to a fraction of them
    * — the routed set resolves and the literal prunes the scan.
    */
  private[operators] def probedPartitions(
      cent: DataFrame,
      probes: DataFrame,
      layout: DataFrame): Seq[String] = {
    val sidecarIds = cent.select("centroid_id").collect().map(_.getString(0)).toSeq
    if (sidecarIds.length <= Dedup.DefaultPruneSkipMaxBuckets &&
        Dedup.pruneSkipBytesOk(layout)) sidecarIds
    else probes.select("centroid_id").distinct()
      .collect().map(_.getString(0)).toSeq
  }

  /** Rank `queries` (carrying `vec_q`/`nrm_q` plus any extra columns)
    * against the layout's `_centroids` sidecar `cent` and keep each
    * query's top-`nprobe` centroids — THE routing tie-break every probe
    * shares (cosine desc, then the NUMERIC centroid id), the property
    * the q43/q61/q65/q68/q69 oracles hash-pin. [[rankRoutesLocal]] is
    * its driver twin. `keep` is the output column list.
    */
  private[operators] def rankRoutes(
      cent: DataFrame,
      queries: DataFrame,
      nprobe: Int,
      keep: Seq[String]): DataFrame = {
    val w = Window.partitionBy("query_id")
      .orderBy(col("csim").desc,
        expr("CAST(substring(centroid_id, 2) AS BIGINT)"))
    queries.join(broadcast(cent))
      .withColumn("csim", dot("vec_q", "cvec") / (col("nrm_q") * col("cnrm")))
      .withColumn("crank", row_number().over(w))
      .filter(col("crank") <= nprobe)
      .select(keep.map(col): _*)
  }

  /** Spark's `score DESC, id ASC` row order on the driver: nulls last,
    * NaN above every number, -0.0 equal to 0.0 — the order of the
    * routing and stage-1 windows, so the driver route ranks exactly as
    * they do.
    */
  private val ScoreDescThenId: Ordering[(Any, Long)] =
    new Ordering[(Any, Long)] {
      def compare(a: (Any, Long), b: (Any, Long)): Int = {
        val byScore = (a._1, b._1) match {
          case (null, null) => 0
          case (null, _) => 1
          case (_, null) => -1
          case (x: Double, y: Double) =>
            org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles(y, x)
        }
        if (byScore != 0) byScore else java.lang.Long.compare(a._2, b._2)
      }
    }

  /** [[rankRoutes]] over driver-local `queries`: the cosine to every
    * centroid is the same Catalyst expression, one Project over the
    * LocalRelation with the centroids as literals (folded, no job), and
    * each query_id keeps its top-`nprobe` (row, centroid) pairs by
    * [[ScoreDescThenId]] on (cosine, numeric centroid id). Returns the
    * probe rows in `keep` order.
    */
  private def rankRoutesLocal(
      queries: DataFrame,
      cents: Seq[Row],
      nprobe: Int,
      keep: Seq[String]): Seq[Row] = {
    val cid = cents.map(_.getString(0).substring(1).toLong)
    val scored =
      if (cents.isEmpty) Array.empty[Row]
      else queries.withColumn("csim", array(cents.map(c =>
        graft.functions.DotProduct(col("vec_q"), typedLit(c.getSeq[Double](1))) /
          (col("nrm_q") * lit(c.getDouble(2)))): _*)).collect()
    scored.groupBy(_.getAs[Any]("query_id")).valuesIterator
      .flatMap(rows => rows.toSeq.flatMap(r => cents.indices.map(r -> _))
        .sortBy { case (r, j) => (r.getAs[Seq[Any]]("csim")(j), cid(j)) }(
          ScoreDescThenId)
        .take(nprobe))
      .map { case (r, j) => Row.fromSeq(keep.map {
        case "centroid_id" => cents(j).get(0)
        case "cvec" => cents(j).get(1)
        case c => r.getAs[Any](c)
      }) }.toSeq
  }

  /** `rows` under `schema` as a driver-local relation. */
  private[operators] def localFrame(
      spark: org.apache.spark.sql.SparkSession,
      rows: Seq[Row],
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, schema)
  }

  /** Does `df` optimize to a driver-local relation (a Project over a
    * LocalRelation folds into one — ConvertToLocalRelation), so that
    * collecting it runs no job? */
  private[operators] def driverLocal(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]

  /** Values (array elements, 8 bytes of a binary, scalars) a probe side
    * may carry inlined before [[withProbes]] broadcasts it instead. */
  private val InlineProbeMaxValues: Long = 1L << 16

  /** Meet a scan with its probe rows on `key`. A driver-local probe side
    * within [[InlineProbeMaxValues]] rides into the scan as ONE inlined
    * map value (key → its probe rows, exploded per scan row), which
    * costs no job where a broadcast of even a LocalRelation schedules
    * one; any other probe side joins, broadcast when `broadcastProbes`.
    * (A distributed route's probe side that Catalyst proves empty folds
    * to a LocalRelation too, and inlines as an empty map.)
    */
  private[operators] def withProbes(
      scan: DataFrame,
      probes: DataFrame,
      key: String,
      broadcastProbes: Boolean): DataFrame = {
    def values(r: Row): Long = r.toSeq.map {
      case s: Seq[_] => s.size.toLong
      case b: Array[Byte] => b.length / 8L + 1
      case _ => 1L
    }.sum
    val inline =
      if (!driverLocal(probes)) None
      else Some(probes.collect()).filter(_.iterator.map(values).sum <=
        InlineProbeMaxValues)
    inline match {
      case Some(rows) =>
        import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
        val at = probes.schema.fieldIndex(key)
        val byKey = rows.groupBy(_.get(at)).map { case (kv, rs) =>
          kv -> rs.toSeq.map(r =>
            Row.fromSeq(r.toSeq.patch(at, Nil, 1)))
        }
        val inlined = graft.functions.Inlined(byKey,
          MapType(probes.schema(key).dataType,
            ArrayType(StructType(probes.schema.fields.patch(at, Nil, 1)))),
          s"probes[${rows.length} by $key]")
        scan.select(col("*"),
          org.apache.spark.sql.functions.inline(try_element_at(inlined, col(key))))
      case None =>
        scan.join(if (broadcastProbes) broadcast(probes) else probes, Seq(key))
    }
  }

  /** `df`'s rows when there are at most `max` of them, else None — the
    * limit(max + 1) overflow idiom of [[rankCentroids]]: an overflow row
    * proves the bound broken without a count. One job: the coalesce(1)
    * under the limit keeps the collect on one task (a bare limit
    * escalates 1 → 4 → 16 partitions); a driver-local frame runs none.
    */
  private[operators] def collectAtMost(df: DataFrame, max: Long): Option[Array[Row]] = {
    val n = math.min(max, Int.MaxValue - 1L).toInt
    val rows = (if (driverLocal(df)) df else df.coalesce(1)).limit(n + 1).collect()
    if (rows.length > n) None else Some(rows)
  }

  /** Each query's top `m` rows of `rows` (query_id, neighbor_id, score)
    * by [[ScoreDescThenId]]. */
  private def topPerQuery(
      rows: Iterator[(Long, Long, Any)],
      m: Int): Iterator[(Long, Long, Any)] = {
    val byQuery = scala.collection.mutable.HashMap
      .empty[Long, scala.collection.mutable.ArrayBuffer[(Long, Long, Any)]]
    def top(b: Iterable[(Long, Long, Any)]) =
      b.toSeq.sortBy(t => (t._3, t._2))(ScoreDescThenId).take(m)
    rows.foreach { t =>
      val b = byQuery.getOrElseUpdate(t._1, scala.collection.mutable.ArrayBuffer.empty)
      b += t
      if (b.size > 2 * m + 64) { val keep = top(b); b.clear(); b ++= keep }
    }
    byQuery.valuesIterator.flatMap(top)
  }

  /** The stage-1 cut of the driver route — each query's top `m`
    * (query_id, neighbor_id) by (qsim desc, neighbor_id), the ranking
    * the distributed route's window takes — as REPOSE prunes it: every
    * partition keeps its own top `m` per query and the driver merges
    * them, one job and no exchange. */
  private def collectTopM(cand: DataFrame, m: Int): Seq[(Long, Long)] = {
    val perPartition = cand
      .select(col("query_id").cast("long"), col("neighbor_id").cast("long"),
        col("qsim"))
      .rdd.mapPartitions(rows =>
        topPerQuery(rows.map(r => (r.getLong(0), r.getLong(1), r.get(2))), m))
      .collect()
    topPerQuery(perPartition.iterator, m).map(t => (t._1, t._2)).toSeq
  }

  /** The candidate vectors `(neighbor_id: long, vec_n, nrm_n)` of `exact`
    * (`idCol`, `vec`, `nrm`), under an id IN pushdown when `ids` is
    * given. */
  private def exactVecs(
      exact: DataFrame,
      idCol: String,
      ids: Option[Seq[Long]]): DataFrame =
    ids.fold(exact)(ids => exact.filter(col(idCol).isInCollection(ids)))
      .select(col(idCol).cast("long").as("neighbor_id"),
        col("vec").as("vec_n"), col("nrm").as("nrm_n"))

  /** The driver route's stage 2: the exact rerank of a collected
    * shortlist over ONE id IN read of its candidate vectors, with the
    * (query, neighbor) pairs and their query vectors inlined
    * ([[withProbes]]) — [[rerankExact]]'s collected mode without its two
    * broadcast jobs and without re-running the probe side. */
  private def rerankLocal(
      shortlist: Seq[(Long, Long)],
      probes: DataFrame,
      exact: DataFrame,
      idCol: String,
      k: Int): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    // nprobe > 1 carries one probe row per centroid: one per query here
    val qv = probes.select(col("query_id").cast("long"), col("vec_q"), col("nrm_q"))
      .collect().distinct.groupBy(_.getLong(0))
    val pairs = for ((q, n) <- shortlist; v <- qv.getOrElse(q, Array.empty))
      yield Row(n, q, v.get(1), v.get(2))
    val schema = StructType(Seq(StructField("neighbor_id", LongType),
      StructField("query_id", LongType), probes.schema("vec_q"),
      probes.schema("nrm_q")))
    val vecs = exactVecs(exact, idCol, Some(shortlist.map(_._2).distinct))
    // a read of ONE file (the serving case at fixture scale) says it is
    // one partition, and the final window — and a caller's sort — then
    // run on it with no exchange
    topK(withProbes(if (vecs.inputFiles.length == 1) vecs.coalesce(1) else vecs,
      localFrame(probes.sparkSession, pairs, schema), "neighbor_id",
      broadcastProbes = true), k)
  }

  /** Where a [[layoutProbe]]'s queries come from. */
  private[operators] sealed trait QuerySource

  /** Stored rows of the probed corpus, by id: each query excludes its
    * own row, and at `nprobe = 1` routes by its stored assignment where
    * the layout has one (an IVF layout does; a PQ index, whose queries
    * come from the source corpus, does not).
    */
  private[operators] final case class StoredIds(ids: Seq[Long])
      extends QuerySource

  /** External query vectors (`queryIdCol` + `embedding`): routed by
    * centroid ranking, no self-exclusion — external ids are their own
    * namespace (a query equal to a stored vector finds that row at sim
    * 1.0), as on [[bruteForceKnnWith]].
    */
  private[operators] final case class ExternalQueries(queries: DataFrame,
      queryIdCol: String) extends QuerySource

  /** The stage-1 scorer of a [[layoutProbe]]: exact cosine over the
    * probed partitions, or a quantized [[Shortlist]]. */
  private[operators] sealed trait Stage1
  private[operators] case object ExactStage1 extends Stage1

  /** A quantized stage 1 that keeps the top `rerank` candidates per
    * query (0 = the 4·k default) and reranks them exactly through
    * [[rerankExact]], in its collected or distributed mode.
    */
  private[operators] sealed trait Shortlist extends Stage1 {
    def rerank: Int
    def collectShortlist: Boolean
    def shortlistBloomFpp: Double
  }

  /** SQ8: int8 scores over the IVF layout's `q8` column
    * ([[sq8Candidates]]); the rerank reads `vec` from the same probed
    * partitions. */
  private[operators] final case class Sq8Stage1(rerank: Int,
      collectShortlist: Boolean, shortlistBloomFpp: Double) extends Shortlist

  /** PQ: ADC scores over a [[Pq.writePqIndex]] index's codes with a
    * per-query LUT ([[Pq.pqCandidates]]); the index carries no vectors,
    * so stored queries and the rerank read come from the source corpus
    * `emb`. */
  private[operators] final case class PqStage1(emb: DataFrame, rerank: Int,
      collectShortlist: Boolean, shortlistBloomFpp: Double) extends Shortlist

  /** The driver budget of one probe, in doubles: the collected query
    * vectors plus what the driver route derives from them per query
    * (PQ's LUTs, the rerank pairs' query vectors). A batch over it takes
    * the distributed route. */
  private[operators] val DriverProbeMaxDoubles: Long = 1L << 20

  /** THE probe pipeline behind every IVF / SQ8 / PQ serving probe: one
    * query source × one stage-1 scorer. It resolves the generation
    * pointer and reads the `_centroids` sidecar once, checks the
    * layout, and then takes one of two routes.
    *
    * The DRIVER route — a collected stage 1 ([[ExactStage1]], or a
    * shortlist with `collectShortlist`) over a batch within
    * `maxDriverDoubles` ([[DriverProbeMaxDoubles]]; negative: none),
    * tested by one bounded collect of the query rows — settles the
    * probe side once,
    * as LocalRelations: the routes ([[rankRoutesLocal]]), SQ8's
    * `q8_q`, PQ's LUTs and residual `qc`, each the same Catalyst
    * expression folded on the driver. The probed-partition literal is
    * EXACTLY the routed set. Stage 1 scans those partitions against
    * the inlined probe rows ([[withProbes]]); the exact scorer ends in
    * its [[topK]], a shortlist is cut per partition and merged on the
    * driver ([[collectTopM]]) and reranked over one id IN read of its
    * candidate vectors ([[rerankLocal]]).
    *
    * The DISTRIBUTED route — `collectShortlist = false`, which holds no
    * driver state proportional to the batch, or an over-budget batch —
    * keeps the frames of the one-pipeline form: [[rankRoutes]], the
    * [[probedPartitions]] literal with its sidecar stand-in, the
    * stage-1 window and [[rerankExact]]. Both routes are row-identical.
    */
  private[operators] def layoutProbe(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      source: QuerySource,
      stage1: Stage1,
      k: Int,
      nprobe: Int,
      idCol: String,
      maxDriverDoubles: Long = DriverProbeMaxDoubles): DataFrame = {
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    // 0 is RESERVED for the default; a negative rerank (typo, bad
    // config plumb-through) refuses instead of silently becoming the
    // default — the validation the recall probes and health apply too
    stage1 match {
      case s: Shortlist =>
        CentroidLayout.requireRerank("rerank", "the 4*k default", s.rerank, k)
        require(s.shortlistBloomFpp >= 0.0 && s.shortlistBloomFpp < 0.5,
          s"shortlistBloomFpp must be in [0, 0.5), got ${s.shortlistBloomFpp}")
        require(s.shortlistBloomFpp == 0.0 || !s.collectShortlist,
          "shortlistBloomFpp applies to the DISTRIBUTED rerank only — " +
            "collected mode already prunes the exact read with an id IN " +
            "pushdown, a bloom there is pure overhead")
      case ExactStage1 => ()
    }
    // one pointer resolution per probe: the layout scan, the routing
    // sidecar and PQ's codebook all come from the SAME generation, so a
    // concurrent rotation can never mix one generation's assignment or
    // codes with another's centroids
    val dataRoot = ivfDataRoot(Dedup.fsFor(spark, path), path)
    val meta = stage1 match {
      case _: PqStage1 => Some(Pq.readPqMetaAt(spark, dataRoot))
      case _ => None
    }
    val layout = spark.read.parquet(dataRoot)
    if (meta.isEmpty) {
      require(
        layout.schema("centroid_id").dataType ==
          org.apache.spark.sql.types.StringType,
        s"$path is not a current IVF layout (centroid_id must be the " +
          "prefixed-string partition column) — rewrite it with " +
          "writeIvfPartitioned")
      require(stage1 == ExactStage1 || layout.schema.fieldNames.contains("q8"),
        s"$path has no quantized columns (built before SQ8) — compactIvf " +
          "upgrades it in place (row-identical probes); rotateIvf also " +
          "rebuilds but re-trains")
    }
    val cents = centroidSidecarRows(spark, dataRoot)
    // the corpus the exact vectors come from: the IVF layout's own, PQ's
    // source corpus
    val corpus = stage1 match {
      case p: PqStage1 => p.emb
      case _ => layout
    }
    // the query-side columns, each `<c>_q`: SQ8 adds its int8 pair
    val quant = if (stage1.isInstanceOf[Sq8Stage1]) Seq("q8", "qscale") else Nil
    def asQ(cs: Seq[String]): Seq[Column] = cs.map(c => col(c).as(s"${c}_q"))
    val keep = Seq("query_id", "centroid_id") ++
      (quant ++ Seq("vec", "nrm")).map(_ + "_q") ++
      (if (meta.exists(_.residual)) Seq("cvec") else Nil)
    // the query rows before routing: an IVF row carries its vectors and
    // stored assignment; PQ's stored queries (from the source corpus)
    // and external queries carry the embedding
    val raw = source match {
      case StoredIds(ids) if meta.isEmpty =>
        layout.filter(col(idCol).isInCollection(ids))
          .select(Seq(col(idCol).as("query_id"), col("centroid_id")) ++
            asQ(quant ++ Seq("vec", "nrm")): _*)
      case StoredIds(ids) =>
        corpus.filter(col(idCol).isInCollection(ids))
          .select(col(idCol).as("query_id"), col("embedding"))
      case ExternalQueries(queries, queryIdCol) =>
        queries.select(col(queryIdCol).as("query_id"), col("embedding"))
    }
    // the embedding's vector columns, by asDouble's expressions: spread
    // on the distributed route, folded over the LocalRelation on the
    // driver route
    def vectors(q: DataFrame, spread: Boolean): DataFrame =
      if (!q.columns.contains("embedding")) q
      else {
        val v = if (spread) asDouble(q) else withVec(q)
        (if (quant.isEmpty) v else withQuantizedCols(v))
          .select(col("query_id") +: asQ(Seq("vec", "nrm") ++ quant): _*)
      }
    val excludeSelf = source.isInstanceOf[StoredIds]
    stage1 match {
      case _: Shortlist =>
        val name = if (meta.isEmpty) "SQ8" else "PQ"
        requireIntegralId(raw.schema("query_id").dataType, "query_id", name)
        requireIntegralId(corpus.schema(idCol).dataType, idCol, name)
        if (meta.isDefined) requireIntegralId(layout.schema(idCol).dataType,
          s"index $idCol", name)
      case ExactStage1 => ()
    }
    val rerankM = stage1 match {
      case s: Shortlist => if (s.rerank == 0) 4 * k else s.rerank
      case ExactStage1 => 0
    }
    val collected = stage1 match {
      case s: Shortlist => s.collectShortlist
      case ExactStage1 => true
    }
    // the driver doubles one query costs: its vector, PQ's LUT per
    // route, the vector again per rerank pair
    val dim = meta.map(_.dim).orElse(cents.headOption.map(_.getSeq[Double](1).length))
      .getOrElse(1).max(1).toLong
    val perQuery = dim * (1 + rerankM) +
      meta.fold(0L)(m => nprobe.min(cents.length).toLong * m.m * m.k)
    val local =
      if (collected && maxDriverDoubles >= 0)
        collectAtMost(raw, maxDriverDoubles / perQuery)
      else None
    // an IVF stored row routes probe-1 by its own assignment
    val assigned = source.isInstanceOf[StoredIds] && meta.isEmpty && nprobe == 1
    val (probes, probed) = local match {
      case Some(rows) =>
        val (routes, schema) =
          if (assigned) (rows.toSeq, raw.schema)
          else {
            val queries = vectors(localFrame(spark, rows.toSeq, raw.schema),
              spread = false)
            val fields = queries.schema.fields ++ CentroidSidecarSchema.fields
            (rankRoutesLocal(queries, cents, nprobe, keep),
              org.apache.spark.sql.types.StructType(
                keep.map(c => fields.find(_.name == c).get)))
          }
        // exactly the routed set: stage 1 reads routed partitions only
        val at = schema.fieldIndex("centroid_id")
        (localFrame(spark, routes, schema), routes.map(_.getString(at)).distinct)
      case None =>
        val cent = localFrame(spark, cents, CentroidSidecarSchema)
        val queries = vectors(raw, spread = true)
        val p =
          if (assigned) queries
          else rankRoutes(cent, queries.drop("centroid_id"), nprobe, keep)
        // bounded by the layout's centroid count, never by the batch
        (p, probedPartitions(cent, p, layout))
    }
    def pruned = layout.filter(col("centroid_id").isInCollection(probed))
    stage1 match {
      case ExactStage1 =>
        val scored = withProbes(pruned
          .select(col(idCol).as("neighbor_id"), col("centroid_id"),
            col("vec").as("vec_n"), col("nrm").as("nrm_n")),
          probes, "centroid_id", broadcastProbes = true)
        topK(if (excludeSelf) scored.filter(col("neighbor_id") =!= col("query_id"))
          else scored, k)
      case s: Shortlist =>
        val cand = s match {
          case _: Sq8Stage1 => sq8Candidates(layout, probes, probed, idCol,
            excludeSelf, broadcastProbes = s.collectShortlist)
          case _: PqStage1 => Pq.pqCandidates(layout, probes, meta.get, probed,
            idCol, excludeSelf, broadcastProbes = s.collectShortlist)
        }
        // the stage-2 exact source: SQ8's probed partitions (the layout
        // still carries vec), PQ's whole source corpus
        if (local.isDefined)
          rerankLocal(collectTopM(cand, rerankM), probes,
            if (meta.isEmpty) pruned else withVec(corpus), idCol, k)
        else {
          val wq = Window.partitionBy("query_id")
            .orderBy(col("qsim").desc, col("neighbor_id"))
          val ranked = cand.withColumn("qrank", row_number().over(wq))
            .filter(col("qrank") <= rerankM)
          rerankExact(spark, ranked, probes, k, s,
            if (meta.isEmpty) pruned else asDouble(corpus), idCol)
        }
    }
  }

  /** ANN top-k over an [[writeIvfPartitioned]] layout: resolve each
    * query's `nprobe` centroid directories (a tiny driver-side list — the
    * price of turning the probe into LITERAL partition predicates), then
    * scan ONLY those partitions for scoring. Bit-identical results to
    * [[ivfKnn]] on the same corpus at the same nprobe; the difference is
    * the scan reads |probed partitions| / |centroids| of the data.
    * Probe-1 routes by the query row's own stored assignment; nprobe > 1
    * ranks against the layout's centroid sidecar (tie-break on the
    * NUMERIC centroid id, so ordering matches [[ivfKnn]] exactly).
    */
  def ivfKnnPartitioned(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      queryIds: Seq[Long],
      k: Int,
      nprobe: Int = 1,
      idCol: String = "vec_id"): DataFrame =
    layoutProbe(spark, path, StoredIds(queryIds), ExactStage1, k, nprobe, idCol)

  /** IVF-SQ8 ANN top-k over a quantized [[writeIvfPartitioned]]
    * layout: the same routing as [[ivfKnnPartitioned]], but the probed
    * partitions are scored in TWO stages —
    *
    *   1. CANDIDATE scan: reads `(id, q8, qscale, nrm)` — the packed
    *      int8 vectors at ONE byte per dimension instead of the
    *      8-byte-per-dimension `vec` column — 8× the raw-width bound,
    *      5.7× measured compressed at rest (69 vs 396 B/row on the
    *      spec fixture) — on exactly the column that dominates probe
    *      IO at corpus scale. Approximate cosine from the EXACT integer dot
    *      ([[graft.functions.Int8Dot]], order-insensitive long
    *      arithmetic) times the two scales; top `rerank` per query
    *      survive (tie-break on neighbor id, so the shortlist is
    *      deterministic and engine-portable).
    *   2. RERANK scan: the float `vec` column is read back ONLY for
    *      the shortlist ids — pushed down as an `IN` filter so parquet
    *      row-group stats / column-index pruning skip the pages that
    *      hold no candidate — and the final top-k ranks by the same
    *      rounded exact cosine as every other scorer here.
    *
    * With `rerank` >= the probed partitions' population the result is
    * row-identical to [[ivfKnnPartitioned]] (the shortlist keeps
    * everything and the exact cosine decides); at serving settings
    * (`rerank` a small multiple of k) the quantization error only
    * costs recall when a true top-k neighbor's approx rank falls below
    * `rerank` — the standard SQ8 trade.
    *
    * With the default `collectShortlist = true` the shortlist
    * (|queries| × rerank pairs) is collected to the driver to become
    * the stage-2 pushdown filter — bounded by the QUERY batch, never
    * the corpus: the serving trade. For offline batches where that
    * bound bites (a k-NN-graph build, a 10M-query dedup sweep), pass
    * `collectShortlist = false`: the shortlist stays a DataFrame and
    * stage 2 reranks via joins — no driver-side state proportional to
    * the batch anywhere, and the int8 candidate-scan reduction applies
    * at ANY batch size (see [[rerankExact]]). Both modes are
    * row-identical.
    *
    * Requires a quantized layout (built/rotated since the q8 columns
    * landed); a pre-SQ8 layout fails loudly — [[rotateIvf]] rebuilds
    * with the quantized columns.
    */
  def ivfKnnQuantized(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      queryIds: Seq[Long],
      k: Int,
      nprobe: Int = 1,
      rerank: Int = 0,
      idCol: String = "vec_id",
      collectShortlist: Boolean = true,
      shortlistBloomFpp: Double = 0.0): DataFrame =
    layoutProbe(spark, path, StoredIds(queryIds),
      Sq8Stage1(rerank, collectShortlist, shortlistBloomFpp), k, nprobe, idCol)

  /** STAGE 1 of the SQ8 probe: the int8 candidate frame over the
    * probed partitions — the scan whose ReadSchema must carry `q8` and
    * NOT the 8-byte-per-dimension `vec` column (that pruning IS the
    * feature; the spec asserts it on this exact frame). Package-
    * private so both probe variants and the spec share one
    * definition.
    */
  private[operators] def sq8Candidates(
      corpus: DataFrame,
      probes: DataFrame,
      probed: Seq[String],
      idCol: String,
      excludeSelf: Boolean,
      broadcastProbes: Boolean = true): DataFrame = {
    val qsim = (graft.functions.Int8Dot(col("q8_q"), col("q8_n"))
        .cast("double") * col("qscale_q") * col("qscale_n")) /
      (col("nrm_q") * col("nrm_n"))
    // the driver route's local probe side is inlined ([[withProbes]]);
    // the collected mode otherwise pins the broadcast (a query batch small
    // enough to collect a shortlist for is small enough to ship); the
    // distributed mode leaves the strategy to AQE — a 10M-query
    // offline batch must shuffle-join on the centroid key instead of
    // materializing every query's q8 on the driver
    val probesNarrow = probes.select("query_id", "centroid_id", "q8_q",
      "qscale_q", "nrm_q")
    val cand = withProbes(corpus
      .filter(col("centroid_id").isInCollection(probed)) // partition prune
      .select(col(idCol).as("neighbor_id"), col("centroid_id"),
        col("q8").as("q8_n"), col("qscale").as("qscale_n"),
        col("nrm").as("nrm_n")),
      probesNarrow, "centroid_id", broadcastProbes)
    (if (excludeSelf) cand.filter(col("neighbor_id") =!= col("query_id"))
     else cand)
      .withColumn("qsim", round(qsim, 6))
  }

  /** Refuse non-integral id columns on the quantized probe paths. Both
    * rerank modes cast ids to long (the collected mode to build the
    * driver-side pushdown, the distributed mode for output-schema
    * parity with it): an int32 (pandas parquet) upcasts losslessly,
    * but a double/string id would silently merge or null under a
    * blind cast — refuse those loudly instead (the exact probes,
    * which never cast ids, keep arbitrary types).
    */
  private[operators] def requireIntegralId(
      dt: org.apache.spark.sql.types.DataType,
      what: String,
      probe: String): Unit = dt match {
    case org.apache.spark.sql.types.ByteType |
         org.apache.spark.sql.types.ShortType |
         org.apache.spark.sql.types.IntegerType |
         org.apache.spark.sql.types.LongType => ()
    case t => throw new IllegalArgumentException(
      s"$what must be an integral id column for the $probe probe, " +
        s"got ${t.simpleString} — use the exact probe for " +
        "non-integral ids")
  }

  /** STAGE 2 of every two-stage quantized probe (SQ8 and PQ): exact
    * rerank of a stage-1 shortlist, in the two ROW-IDENTICAL modes the
    * probes document. ONE definition, so a fix to the shortlist/rerank
    * contract (the id-cast rule, the tie-break, the empty-shortlist
    * degenerate) cannot drift between quantizers.
    *
    * `ranked` is the stage-1 frame already cut to the rerank budget
    * (`query_id`, `neighbor_id` + scoring columns); `probes` carries
    * `query_id, vec_q, nrm_q` (one row per probed centroid — deduped
    * here); `exact` is the exact-vector source (`idCol`, `vec`, `nrm`)
    * — in collected mode filtered by the candidate ids on its RAW id
    * column, so the predicate reaches the parquet scan as an IN
    * pushdown, in distributed mode joined whole against the
    * shortlist.
    *
    * `shortlistBloomFpp > 0` (distributed mode only) pre-filters that
    * unfiltered exact-vector source with a BROADCAST Bloom filter
    * built over the shortlist's neighbor ids — the [[Dedup]]
    * broadcast-Bloom discipline applied to the one unpruned scan on a
    * declared scale path. Measured behavior this codebase pins: at a
    * small shortlist AQE broadcasts it and the corpus never shuffles,
    * so the bloom only adds overhead — but Spark's own runtime
    * bloom-filter rule NEVER fires on this join (the creation side is
    * a window-ranked frame, not the selective-scan shape
    * InjectRuntimeFilter requires; verified empirically with every
    * threshold forced), so once the query batch outgrows the broadcast
    * threshold the join degrades to sort-merge and the ENTIRE corpus,
    * wide vec column included, shuffles. The bloom drops non-candidate
    * rows right above the scan, before that shuffle — O(bits) driver
    * and broadcast state (sized by the shortlist count, capped by the
    * caller's fpp choice), results row-identical by construction (a
    * Bloom false positive only re-admits a row the join then drops).
    * Costs one materialization of the stage-1 shortlist
    * (localCheckpoint) + one count + one bloom aggregation over it —
    * the narrow frame, never the corpus.
    */
  private[operators] def rerankExact(
      spark: org.apache.spark.sql.SparkSession,
      ranked: DataFrame,
      probes: DataFrame,
      k: Int,
      s: Shortlist,
      exact: DataFrame,
      idCol: String): DataFrame = {
    val shortlistBloomFpp = s.shortlistBloomFpp
    val qv = probes
      .select(col("query_id").cast("long").as("query_id"),
        col("vec_q"), col("nrm_q"))
      .distinct() // nprobe > 1 carries one probe row per centroid
    if (s.collectShortlist) {
      // cast at the driver edge: an int32 id column (pandas-written
      // parquet) would otherwise throw ClassCastException out of
      // getLong
      val shortlist = ranked
        .select(col("query_id").cast("long"), col("neighbor_id").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      // the exact-vector read happens ONLY under the id IN (...)
      // pushdown — parquet row-group stats / column-index pruning skip
      // the pages holding no candidate (an empty shortlist flows
      // through as an empty, correctly-schemed result)
      import spark.implicits._
      val pairs = shortlist.toIndexedSeq.toDF("query_id", "neighbor_id")
      val candIds = shortlist.map(_._2).distinct.toIndexedSeq
      topK(exactVecs(exact, idCol, Some(candIds)).join(broadcast(pairs), Seq("neighbor_id"))
        .join(broadcast(qv), Seq("query_id")), k)
    } else {
      // DISTRIBUTED: the shortlist stays a DataFrame and the exact
      // vectors join against it — no id literal, no driver collect;
      // AQE picks broadcast vs shuffle per side at runtime (and a tiny
      // shortlist still broadcasts). The exact-vector scan covers its
      // source once regardless of the query count — the exact dots are
      // only computed for the joined shortlist pairs.
      val shortlist0 = ranked.select(
        col("query_id").cast("long").as("query_id"),
        col("neighbor_id").cast("long").as("neighbor_id"))
      // with the bloom on, materialize the narrow shortlist ONCE
      // (lineage-truncated) so the count, the bloom aggregation and
      // the join all read the same computed frame instead of
      // re-running stage 1 three times — through Caching.materialize,
      // so a job scoped with Caching.withReliable gets the
      // executor-loss-safe parquet spill instead of local blocks
      val shortlist =
        if (shortlistBloomFpp > 0.0) Caching.materialize(shortlist0)
        else shortlist0
      val vecs =
        if (shortlistBloomFpp == 0.0) exactVecs(exact, idCol, None)
        else {
          // size and build the bloom on the DISTINCT neighbor ids: a
          // popular neighbor shortlisted by many queries would
          // otherwise inflate expectedNumItems by the per-query
          // multiplicity and oversize the broadcast for nothing
          val nids = shortlist.select("neighbor_id").distinct()
          val n = math.max(1L, nids.count())
          val bf = nids.stat
            .bloomFilter("neighbor_id", n, shortlistBloomFpp)
          // the broadcast must outlive this (lazy) frame's execution,
          // so it cannot be destroyed here; Spark's ContextCleaner
          // reclaims it once the returned plan is unreachable
          val bfB = spark.sparkContext.broadcast(bf)
          val mightContain =
            org.apache.spark.sql.functions.udf((id: Long) =>
              bfB.value.mightContainLong(id))
          exactVecs(exact, idCol, None).filter(mightContain(col("neighbor_id")))
        }
      topK(vecs.join(shortlist, Seq("neighbor_id")).join(qv, Seq("query_id")),
        k)
    }
  }

  /** Brute-force cosine top-k for EXTERNAL query vectors: every row of
    * `queries` (`queryIdCol` + `embedding`) against the whole corpus.
    * The external twin of [[bruteForceKnn]] — no self-exclusion,
    * because external query ids are their own namespace (a query equal
    * to a stored vector legitimately finds that row at sim 1.0). Same
    * rounding and tie-breaks as every other scorer here.
    */
  def bruteForceKnnWith(
      emb: DataFrame,
      queries: DataFrame,
      k: Int,
      idCol: String = "vec_id",
      queryIdCol: String = "query_id"): DataFrame = {
    val corpus = asDouble(emb, idCol = idCol)
      .select(col(idCol).as("neighbor_id"), col("vec").as("vec_n"),
        col("nrm").as("nrm_n"))
    val q = asDouble(queries, idCol = queryIdCol)
      .select(col(queryIdCol).as("query_id"), col("vec").as("vec_q"),
        col("nrm").as("nrm_q"))
    topK(corpus.join(broadcast(q)), k)
  }

  /** ANN top-k over a [[writeIvfPartitioned]] layout for EXTERNAL
    * query vectors — the SERVING-shaped probe: queries arrive as a
    * (`queryIdCol`, `embedding`) frame instead of stored-row ids, are
    * routed by ranking against the layout's `_centroids` sidecar
    * (there is no stored assignment for a vector the corpus doesn't
    * hold), and only the routed partitions are scanned — the same
    * literal `PartitionFilters` plan as [[ivfKnnPartitioned]]. No
    * self-exclusion, as on [[bruteForceKnnWith]].
    */
  def ivfKnnPartitionedWith(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      queries: DataFrame,
      k: Int,
      nprobe: Int = 1,
      queryIdCol: String = "query_id",
      idCol: String = "vec_id"): DataFrame =
    layoutProbe(spark, path, ExternalQueries(queries, queryIdCol), ExactStage1,
      k, nprobe, idCol)

  /** [[ivfKnnQuantized]] for EXTERNAL query vectors — the serving
    * route over the SQ8 layout: queries (`queryIdCol` + `embedding`)
    * are quantized on the fly with the layout's own per-vector
    * algebra, routed by centroid RANKING against the sidecar (external
    * vectors have no stored assignment), int8-scored against the
    * probed partitions' one-byte-per-dimension q8 column, and the
    * shortlist reranked by exact cosine under an id IN pushdown. No
    * self-exclusion, like [[ivfKnnPartitionedWith]]: external ids are
    * their own namespace. Same driver-side bound as the stored-query
    * form: the shortlist collect is |queries| × rerank — and the same
    * `collectShortlist = false` escape for offline batches (the
    * shortlist stays a DataFrame, stage 2 reranks via joins,
    * row-identical — see [[rerankExact]]).
    */
  def ivfKnnQuantizedWith(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      queries: DataFrame,
      k: Int,
      nprobe: Int = 1,
      rerank: Int = 0,
      queryIdCol: String = "query_id",
      idCol: String = "vec_id",
      collectShortlist: Boolean = true,
      shortlistBloomFpp: Double = 0.0): DataFrame =
    layoutProbe(spark, path, ExternalQueries(queries, queryIdCol),
      Sq8Stage1(rerank, collectShortlist, shortlistBloomFpp), k, nprobe, idCol)

  /** Embedding-cosine near-duplicate pairs above a threshold.
    * Exact (all-pairs) form; the SRP-LSH bucketing in [[srpBuckets]] is
    * the sublinear candidate generator for corpus-scale runs.
    */
  def cosineDupPairs(
      emb: DataFrame,
      threshold: Double,
      idCol: String = "vec_id"): DataFrame = {
    val v = asDouble(emb, idCol = idCol)
      .select(col(idCol), col("vec"), col("nrm"))
    Caching.withCached(v) {
      v.as("a").join(v.as("b"), col(s"a.$idCol") < col(s"b.$idCol"))
        .select(col(s"a.$idCol").as("vec_a"), col(s"b.$idCol").as("vec_b"),
          round(dot("a.vec", "b.vec") / (col("a.nrm") * col("b.nrm")), 6)
            .as("cos_sim"))
        .filter(col("cos_sim") >= threshold)
    }
  }

  /** Distributed spherical k-means (Lloyd's) over the embedding column —
    * the TRAINED replacement for the deterministic id-hash centroid
    * sample, pluggable wherever a `(centroid_id, cvec, cnrm)` set is
    * consumed ([[semanticDupPairs]], [[ivfKnn]], [[writeIvfPartitioned]]).
    * Spherical — assignment by cosine, centroid = mean of unit vectors —
    * because every consumer in this stack ranks by cosine; plain-L2
    * Lloyd's would train centroids the probe path doesn't use.
    *
    * Scale shape per iteration: the k×dim centroid set rides into the
    * executors as LITERALS inside one codegen'd projection (k dot
    * products per row, no join, no window, no shuffle for assignment);
    * the update is one map-side-combinable `groupBy(cid, pos)` over
    * posexploded unit vectors — k·dim rows back to the driver, O(k·dim)
    * driver state, never corpus-proportional. The corpus is persisted
    * across iterations and unpersisted on exit.
    *
    * Determinism caveat (why oracle queries keep the id-hash sample):
    * the update's floating sums reduce in partition order, so trained
    * centroids are deterministic only up to float summation order —
    * properties (separation, convergence) are stable, bits are not.
    * Zero vectors carry no direction and are excluded from training;
    * a cluster that loses all members keeps its previous centroid.
    */
  def kmeansFit(
      emb: DataFrame,
      k: Int = DefaultCentroidK,
      maxIters: Int = 10,
      tol: Double = 1e-6,
      idCol: String = "vec_id"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxIters >= 0, s"maxIters must be >= 0, got $maxIters")
    val spark = emb.sparkSession
    import spark.implicits._
    val v = asDouble(emb, idCol = idCol)
    val all = v.filter(col("nrm") > 0)
      .select(col(idCol), col("vec"), col("nrm"),
        expr("transform(vec, x -> x / nrm)").as("unit"))
    all.persist()
    try {
      // Deterministic farthest-point init (angular k-center): seed with
      // the smallest-id-hash vector, then greedily add the vector whose
      // max cosine to the chosen set is SMALLEST (tie: smallest id). A
      // plain hash sample can seed one tight direction cluster twice and
      // leave another unseeded — a local minimum Lloyd's cannot escape;
      // farthest-point spreads seeds across separated clusters by
      // construction. The greedy runs over a DETERMINISTIC hash-sample
      // of the corpus (the id-hash top-`initSample`, one TakeOrdered
      // pass), not the corpus itself — init cost is corpus-size-
      // independent, and a few-thousand-row sample still hits every
      // direction cluster of any plausible k. The sample is collected
      // ONCE and the k greedy passes run driver-side: one Spark job
      // instead of k sequential jobs (the loop arithmetic — strict
      // left-to-right dot products, ascending (max-cos, id) selection —
      // is the same IEEE sequence the distributed form ran, so the
      // chosen seeds are bit-identical). O(initSample·dim) driver state
      // during init, O(k·dim) after.
      val initSample = math.max(k * 64, 2048)
      // distinctBy id: duplicate ids (a corpus unioned with itself) must
      // not make the exhaustion check overcount remaining candidates
      val sample = ivfCentroids(all, initSample, idCol).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
        .distinctBy(_._1)
      require(sample.nonEmpty, "kmeansFit needs at least one non-zero vector")
      def dotv(a: Array[Double], b: Array[Double]): Double = {
        val n = math.min(a.length, b.length)
        var s = 0.0
        var i = 0
        while (i < n) { s += a(i) * b(i); i += 1 }
        s
      }
      val P = graft.functions.TextHash.P
      // ivfCentroids returns in (id-hash, id) order, but don't rely on
      // collect preserving it — the seed rule is "smallest id-hash wins"
      val seed = sample.minBy { case (id, _, _) => ((id % P) * 2654435761L % P, id) }
      val chosen = scala.collection.mutable.HashSet(seed._1)
      val init = scala.collection.mutable.ArrayBuffer(seed._2)
      // runningMc(i) = max cosine of sample(i) to the chosen set SO FAR —
      // each pass folds in only the newest centroid, so the greedy is
      // O(k·sample·dim) total instead of O(k²·sample·dim); the fold
      // order over centroids is unchanged (append-only), so every max
      // compares the identical IEEE sequence and picks identical seeds
      val runningMc = Array.fill(sample.length)(Double.MinValue)
      var exhausted = false
      while (init.length < k && !exhausted) {
        val newest = init.last
        val cn = math.sqrt(newest.map(x => x * x).sum)
        var bestIdx = -1
        var i = 0
        while (i < sample.length) {
          val (id, vec, nrm) = sample(i)
          val c = dotv(vec, newest) / (nrm * cn)
          if (c > runningMc(i)) runningMc(i) = c
          if (!chosen.contains(id) &&
              (bestIdx < 0 || runningMc(i) < runningMc(bestIdx) ||
                (runningMc(i) == runningMc(bestIdx) && id < sample(bestIdx)._1)))
            bestIdx = i
          i += 1
        }
        if (bestIdx < 0) exhausted = true // fewer distinct vectors than k
        else {
          chosen += sample(bestIdx)._1
          init += sample(bestIdx)._2
        }
      }
      var cents: Array[Array[Double]] = init.toArray
      val kk = cents.length // < k when the corpus is smaller than k
      var iter = 0
      var converged = false
      while (iter < maxIters && !converged) {
        val cos = cents.map { c =>
          val cn = math.sqrt(c.map(x => x * x).sum)
          graft.functions.DotProduct(col("vec"), typedLit(c.toSeq)) /
            (col("nrm") * lit(cn))
        }
        val withC = all.withColumn("carr", array(cos.toIndexedSeq: _*))
        val m = array_max(col("carr"))
        val cid = (1 until kk).foldLeft(
            when(element_at(col("carr"), 1) === m, 0L)) {
          (acc, j) => acc.when(element_at(col("carr"), j + 1) === m, j.toLong)
        }.otherwise(lit(0L))
        val sums = withC
          .select(cid.as("cid"), posexplode(col("unit")).as(Seq("pos", "x")))
          .groupBy("cid", "pos").agg(sum("x").as("sx"), count(lit(1)).as("n"))
          .collect()
        val dim = cents(0).length
        val sx = Array.fill(kk, dim)(0.0)
        val n = Array.fill(kk)(0L)
        sums.foreach { r =>
          val c = r.getLong(0).toInt
          sx(c)(r.getInt(1)) = r.getDouble(2)
          n(c) = r.getLong(3)
        }
        val next = cents.zipWithIndex.map { case (old, j) =>
          // empty cluster OR exactly-cancelling members (zero mean, e.g.
          // v and -v): keep the previous centroid — a zero-norm centroid
          // would turn every consumer's cosine into NaN, and Spark's
          // NaN-is-greatest ordering would then vacuum the whole corpus
          // into this one degenerate cluster
          val mean = if (n(j) > 0L) sx(j).map(_ / n(j)) else old
          if (n(j) > 0L && mean.exists(_ != 0.0)) mean else old
        }
        val shift = cents.zip(next).map { case (a, b) =>
          math.sqrt(a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum)
        }.max
        cents = next
        converged = shift <= tol
        iter += 1
      }
      cents.zipWithIndex.toSeq
        .map { case (c, j) =>
          (j.toLong, c.toSeq, math.sqrt(c.map(x => x * x).sum))
        }
        .toDF("centroid_id", "cvec", "cnrm")
    } finally all.unpersist()
  }

  /** Default target cluster population for [[semanticDupPairs]]' derived
    * centroid count: k ≈ n / target keeps the per-cluster pair join at
    * ~target²/2 candidates NO MATTER the corpus size — a fixed k would
    * let clusters grow linearly with the corpus and the pair cost
    * quadratically (a 100× scale-up costing ~10,000×).
    */
  val DefaultTargetClusterSize: Long = 1024L

  /** Ceiling on any single cluster's population in [[semanticDupPairs]]:
    * clusters beyond it switch from all-pairs to anchor (star) pairing —
    * the [[graft.operators.Dedup.DefaultMaxShingleDf]] move. Deriving k
    * balances the AVERAGE cluster, but a degenerate direction mass (a
    * boilerplate embedding repeated millions of times) lands in ONE
    * cluster regardless of k; the cap bounds that worst case at linear
    * cost while the anchor still chains every duplicate to one keeper.
    */
  val DefaultMaxClusterSize: Int = 4096

  /** Ceiling on the DERIVED centroid count: the centroid frame must stay
    * broadcastable (k·dim doubles — 65536 × 768-dim ≈ 400 MB, inside the
    * broadcast limit) and the centroid SAMPLE (a TakeOrdered of k rows)
    * must stay driver-bounded. Beyond n ≈ cap·target (~67M vectors at
    * the defaults) the average cluster grows past the target again and
    * [[DefaultMaxClusterSize]]'s anchor pairing bounds the worst case;
    * corpora that far up should pass trained centroids at an explicit k
    * (assignment handles large k via [[assignByJoin]]).
    */
  val DefaultMaxDerivedK: Int = 65536

  /** Centroid count for a corpus of `n` vectors at a target cluster
    * population — never below [[DefaultCentroidK]] (tiny corpora keep
    * the fixed-k behavior the oracle pins), never above
    * [[DefaultMaxDerivedK]] (the centroid set itself must not become
    * corpus-proportional — the failure [[DefaultCentroidK]]'s docstring
    * warns about).
    */
  def deriveCentroidK(
      n: Long,
      targetClusterSize: Long = DefaultTargetClusterSize): Int = {
    require(targetClusterSize >= 1, "targetClusterSize must be >= 1")
    math.min(
      math.max(DefaultCentroidK.toLong,
        (n + targetClusterSize - 1) / targetClusterSize),
      DefaultMaxDerivedK.toLong).toInt
  }

  /** SemDeDup-style semantic dedup: coarse-cluster the corpus (IVF
    * assignment against a centroid set), then compute exact cosine
    * near-dup pairs WITHIN clusters only — the third candidate
    * generator next to [[cosineDupPairs]] (exact, quadratic) and
    * [[srpDupPairs]] (LSH banding). Clustering makes the quadratic term
    * Σ|cluster|² instead of n², and the cluster key doubles as the
    * corpus partition key at rest ([[semanticDupPairsPartitioned]] runs
    * over a [[writeIvfPartitioned]] layout reusing its stored
    * assignment — the whole coarse-quantization stage disappears).
    *
    * The DEFAULT call is scale-safe twice over: `centroidK = 0` derives
    * k from the corpus size (one cheap metadata-weight count;
    * [[deriveCentroidK]]) so the average cluster stays ~[[DefaultTargetClusterSize]]
    * at any corpus size, and `maxClusterSize` caps the worst single
    * cluster — members of a cluster beyond the cap pair with the
    * cluster's ANCHOR (min id) only, linear instead of quadratic, with
    * exact cosines and the same keeper-chaining guarantee as the heavy-
    * shingle star pairs in `Dedup.ngramJaccardPairs`. The cap probe is
    * one map-side-combined aggregation over the (cached) assignment; a
    * corpus with no oversized cluster runs the plain all-pairs plan
    * untouched. Non-anchor pairs WITHIN an oversized cluster are the
    * only pairs not examined (pass `maxClusterSize = None` for fully
    * exact within-cluster output).
    *
    * Trade-off vs LSH: near-dups straddling a cluster boundary are
    * missed (the SemDeDup paper accepts this — near-identical vectors
    * overwhelmingly co-assign); recall rises with fewer/larger clusters,
    * cost falls with more/smaller ones. Pass [[kmeansFit]] output as
    * `centroids` when trained clusters should replace the deterministic
    * id-hash sample.
    *
    * @param centroidK explicit centroid count; 0 (the default) derives
    *   it from the corpus size via [[deriveCentroidK]]
    */
  def semanticDupPairs(
      emb: DataFrame,
      threshold: Double,
      centroidK: Int = 0,
      centroids: Option[DataFrame] = None,
      maxClusterSize: Option[Int] = Some(DefaultMaxClusterSize),
      idCol: String = "vec_id"): DataFrame = {
    val all = asDouble(emb, idCol = idCol)
    val cent = centroids.getOrElse {
      val k = if (centroidK > 0) centroidK else deriveCentroidK(emb.count())
      ivfCentroids(all, k, idCol)
    }
    clusterPairs(rankCentroids(all, cent, 1, idCol), threshold,
      maxClusterSize, idCol)
  }

  /** The heavy/light cluster-size-cap skeleton shared by the float and
    * SQ8 pairing strategies: per-cluster population + anchor in one
    * map-side-combinable agg, heavy-cluster ids as literal predicates,
    * anchor/star pairing for over-cap clusters. `allPairsF` produces
    * the verified `(vec_a, vec_b, cos_sim)` pairs within a (sub)set of
    * clusters; `starPairsF` receives the heavy rows TAGGED with their
    * own cluster's anchor id and produces the verified anchor/star
    * pairs. Each F also receives the LITERAL `centroid_id` predicate
    * its frame was restricted by (None = all clusters), so a strategy
    * whose verify stage re-reads the layout can partition-prune that
    * read to the clusters actually in play.
    */
  private def clusterPairsCore(
      assigned: DataFrame,
      maxClusterSize: Option[Int],
      idCol: String,
      allPairsF: (DataFrame, Option[Column]) => DataFrame,
      starPairsF: (DataFrame, Option[Column]) => DataFrame): DataFrame =
    Caching.withCached(assigned) {
      maxClusterSize match {
        case None => allPairsF(assigned, None)
        case Some(cap) =>
          require(cap >= 2, s"maxClusterSize must be >= 2, got $cap")
          // per-cluster population + anchor: one map-side-combinable agg
          // over the cached assignment, COLLECTED once — O(k) rows,
          // bounded by DefaultMaxDerivedK, the same driver budget the
          // centroid set itself spends. The heavy/light split is then a
          // driver-side decision: the no-skew corpus pays exactly one
          // extra action (this collect — no separate limit(1) probe),
          // and the skewed corpus gets its heavy-cluster ids and anchor
          // ids as LITERAL predicates instead of a broadcast re-join of
          // the csizes frame.
          val csFrame = assigned.groupBy("centroid_id")
            .agg(count(lit(1)).as("csize"), min(col(idCol)).as("anchor"))
          val cs = csFrame.collect()
          val heavyRows = cs.filter(_.getLong(1) > cap)
          // centroid_id is long from rankCentroids but STRING ("c<id>")
          // from the partitioned layout — keep it untyped
          val heavyIds: Seq[Any] = heavyRows.map(_.get(0)).toSeq
          if (heavyIds.isEmpty) allPairsF(assigned, None)
          else {
            val spark = assigned.sparkSession
            // the collected heavy rows as a LOCAL relation (no recompute,
            // broadcast-joined): each heavy-cluster row is matched to its
            // OWN cluster's anchor. A global anchor-id literal set would
            // misfire on duplicate-id corpora — an unrelated row whose id
            // coincides with ANOTHER cluster's anchor must not become an
            // impostor anchor here
            val heavyAnchors = broadcast(spark.createDataFrame(
              java.util.Arrays.asList(heavyRows: _*), csFrame.schema)
              .select(col("centroid_id"), col("anchor")))
            // the F's receive the LITERAL cluster predicate their
            // frame was filtered by, so a strategy that re-reads the
            // layout (the SQ8 route's exact-verify joins) can prune
            // the same partitions instead of scanning the corpus
            val light = allPairsF(
              assigned.filter(!col("centroid_id").isInCollection(heavyIds)),
              Some(!col("centroid_id").isInCollection(heavyIds)))
            // every heavy row carries its cluster's anchor id after the
            // broadcast join; anchor = cluster min id, so vec_a < vec_b
            val tagged = assigned
              .filter(col("centroid_id").isInCollection(heavyIds))
              .join(heavyAnchors, Seq("centroid_id"))
            light.unionByName(starPairsF(tagged,
              Some(col("centroid_id").isInCollection(heavyIds))))
          }
      }
    }

  /** Within-cluster exact-cosine pairing over an assignment frame
    * `(idCol, centroid_id, vec, nrm)` — the shared back half of
    * [[semanticDupPairs]] and [[semanticDupPairsPartitioned]]'s float
    * route, with the cluster-size cap / anchor-pairing machinery.
    */
  private def clusterPairs(
      assigned: DataFrame,
      threshold: Double,
      maxClusterSize: Option[Int],
      idCol: String): DataFrame = {

    def allPairs(a: DataFrame): DataFrame =
      a.as("a").join(a.as("b"),
          col("a.centroid_id") === col("b.centroid_id") &&
            col(s"a.$idCol") < col(s"b.$idCol"))
        .select(col(s"a.$idCol").as("vec_a"), col(s"b.$idCol").as("vec_b"),
          round(dot("a.vec", "b.vec") / (col("a.nrm") * col("b.nrm")), 6)
            .as("cos_sim"))
        .filter(col("cos_sim") >= threshold)

    def star(tagged: DataFrame): DataFrame = {
      val anchors = tagged.filter(col(idCol) === col("anchor"))
        .select(col("centroid_id"), col("vec").as("avec"),
          col("nrm").as("anrm"))
      tagged.filter(col(idCol) =!= col("anchor"))
        .join(broadcast(anchors), Seq("centroid_id"))
        .select(col("anchor").as("vec_a"), col(idCol).as("vec_b"),
          round(dot("avec", "vec") / (col("anrm") * col("nrm")), 6)
            .as("cos_sim"))
        .filter(col("cos_sim") >= threshold)
    }

    // the float route computes cosines from the columns already in the
    // frame — no layout re-read, so the cluster predicate is unused
    clusterPairsCore(assigned, maxClusterSize, idCol,
      (a, _) => allPairs(a), (t, _) => star(t))
  }

  /** [[clusterPairs]] with SQ8 CANDIDATE GENERATION — the 100 TB move
    * for the semantic-dedup quadratic term: the within-cluster pair
    * join (the only O(cluster²) work in SemDeDup) runs over the packed
    * int8 `q8` column at ONE byte per dimension instead of the
    * 8-byte-per-dimension `vec`, and the float `vec` is joined back
    * ONLY for the candidate pairs that survive a provably LOSSLESS
    * prefilter. Soundness: with â = q8·qscale the per-element
    * quantization error is ≤ qscale/2, so ‖a − â‖₂ ≤ eps_a =
    * qscale_a·√d/2 and
    *
    *   |qsim − cos| = |dot(â,b̂) − dot(a,b)| / (nrm_a·nrm_b)
    *               ≤ (eps_a·(nrm_b + eps_b) + nrm_a·eps_b)
    *                 / (nrm_a·nrm_b)  =  slack(a, b).
    *
    * Any pair the float route keeps (round(cos, 6) ≥ threshold, i.e.
    * cos ≥ threshold − 5e-7) therefore has qsim ≥ threshold − slack −
    * 5e-7; the prefilter keeps qsim ≥ threshold − slack − 1e-6, so the
    * verified output is ROW-IDENTICAL to [[clusterPairs]] — the exact
    * verify recomputes the float route's rounded cosine verbatim. The
    * slack is per-PAIR from stored scalars only (qscale, nrm, the q8
    * byte length); for well-spread embeddings eps/nrm ≈ 1e-2, so a
    * dedup threshold prunes the overwhelming non-dup mass before any
    * vec byte moves.
    *
    * Two hardening properties beyond the bound:
    *   - rows whose `q8` is NULL (a MIXED layout — legacy files
    *     restored beside quantized ones) SKIP the prefilter and go
    *     straight to exact verify, so the route stays lossless on a
    *     damaged layout instead of silently dropping its pairs (cost
    *     degrades toward the float route for exactly the legacy rows);
    *   - the verify joins are keyed on (id, centroid_id), not bare id,
    *     so an unrelated row whose id collides with a candidate's in
    *     ANOTHER cluster can never supply the verification vector (the
    *     same impostor hazard [[clusterPairsCore]]'s anchor join
    *     defends), and the cluster predicate from the heavy/light
    *     split partition-prunes the verify scans to the clusters in
    *     play. Duplicate ids WITHIN one cluster remain out of contract
    *     (the float route's own a.id < b.id pair join cannot
    *     distinguish the copies either).
    */
  private def clusterPairsSq8(
      corpus: DataFrame,
      threshold: Double,
      maxClusterSize: Option[Int],
      idCol: String): DataFrame = {
    val narrow = corpus.select(col(idCol), col("centroid_id"),
      col("q8"), col("qscale"), col("nrm"))
    val vecs = corpus.select(col(idCol), col("centroid_id"), col("vec"),
      col("nrm"))

    def slack(sa: Column, na: Column, sb: Column, nb: Column,
        d: Column): Column = {
      val epsA = sa * sqrt(d.cast("double")) / 2
      val epsB = sb * sqrt(d.cast("double")) / 2
      (epsA * (nb + epsB) + na * epsB) / (na * nb)
    }

    // null q8 on either side (mixed layout) keeps the pair — the exact
    // verify is the judge; a null qsim would otherwise three-valued-
    // logic the pair out of existence
    def keep(aQ8: Column, bQ8: Column, prefilter: Column): Column =
      aQ8.isNull || bQ8.isNull || prefilter

    def verify(cand: DataFrame, clusters: Option[Column]): DataFrame = {
      val v = clusters.map(vecs.filter).getOrElse(vecs)
      cand
        .join(v.select(col(idCol).as("vec_a"), col("centroid_id"),
          col("vec").as("va"), col("nrm").as("na")),
          Seq("vec_a", "centroid_id"))
        .join(v.select(col(idCol).as("vec_b"), col("centroid_id"),
          col("vec").as("vb"), col("nrm").as("nb")),
          Seq("vec_b", "centroid_id"))
        .select(col("vec_a"), col("vec_b"),
          round(dot("va", "vb") / (col("na") * col("nb")), 6).as("cos_sim"))
        .filter(col("cos_sim") >= threshold)
    }

    def candAllPairs(a: DataFrame): DataFrame = {
      val qsim = (graft.functions.Int8Dot(col("a.q8"), col("b.q8"))
          .cast("double") * col("a.qscale") * col("b.qscale")) /
        (col("a.nrm") * col("b.nrm"))
      a.as("a").join(a.as("b"),
          col("a.centroid_id") === col("b.centroid_id") &&
            col(s"a.$idCol") < col(s"b.$idCol"))
        .filter(keep(col("a.q8"), col("b.q8"),
          qsim + slack(col("a.qscale"), col("a.nrm"),
            col("b.qscale"), col("b.nrm"),
            expr("octet_length(a.q8)")) >= threshold - 1e-6))
        .select(col(s"a.$idCol").as("vec_a"), col(s"b.$idCol").as("vec_b"),
          col("a.centroid_id").as("centroid_id"))
    }

    def candStar(tagged: DataFrame): DataFrame = {
      val anchors = tagged.filter(col(idCol) === col("anchor"))
        .select(col("centroid_id"), col("q8").as("aq8"),
          col("qscale").as("aqscale"), col("nrm").as("anrm"))
      val qsim = (graft.functions.Int8Dot(col("aq8"), col("q8"))
          .cast("double") * col("aqscale") * col("qscale")) /
        (col("anrm") * col("nrm"))
      tagged.filter(col(idCol) =!= col("anchor"))
        .join(broadcast(anchors), Seq("centroid_id"))
        .filter(keep(col("aq8"), col("q8"),
          qsim + slack(col("aqscale"), col("anrm"),
            col("qscale"), col("nrm"),
            expr("octet_length(q8)")) >= threshold - 1e-6))
        .select(col("anchor").as("vec_a"), col(idCol).as("vec_b"),
          col("centroid_id"))
    }

    clusterPairsCore(narrow, maxClusterSize, idCol,
      (a, p) => verify(candAllPairs(a), p),
      (t, p) => verify(candStar(t), p))
  }

  /** [[semanticDupPairs]] over a [[writeIvfPartitioned]] layout: the
    * layout's STORED assignment is the clustering — no centroid collect,
    * no argmax projection, no corpus count. What remains is the
    * within-cluster pair join itself, exchanged once on the cluster key
    * (the layout's directory structure keeps each cluster's files
    * contiguous, so that exchange moves already-co-located data and AQE
    * coalesces it; Spark's parquet reader does not expose directory
    * partitioning as a `Partitioning` guarantee, so the exchange cannot
    * be elided outright without bucketed-table metadata). Identical
    * results to [[semanticDupPairs]] with the layout's centroid set.
    *
    * On a quantized layout the quadratic candidate join runs over the
    * int8 `q8` column through a provably lossless prefilter
    * ([[clusterPairsSq8]] — row-identical by the quantization error
    * bound; vec is joined back only for surviving candidates); pass
    * `quantizedCandidates = false` to force the float-wide join.
    * Pre-SQ8 layouts run the float join either way. Unlike
    * [[ivfKnnQuantized]]'s probe, a MIXED layout (legacy files
    * restored beside quantized ones) loses nothing here: null-q8 rows
    * bypass the prefilter into the exact verify, and the route choice
    * consults the layout's own judgment ([[layoutHasQ8]] +
    * mergeSchema) rather than an arbitrary footer's schema resolution
    * — `ivfFsck --deep-schema` still reports the state, `compactIvf`
    * still heals it (and restores the prefilter's cost win).
    */
  def semanticDupPairsPartitioned(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      threshold: Double,
      maxClusterSize: Option[Int] = Some(DefaultMaxClusterSize),
      idCol: String = "vec_id",
      quantizedCandidates: Boolean = true): DataFrame = {
    val dataRoot = ivfDataRoot(Dedup.fsFor(spark, path), path)
    val corpus = spark.read.parquet(dataRoot)
    require(
      corpus.schema.fieldNames.contains("centroid_id") &&
        corpus.schema("centroid_id").dataType ==
          org.apache.spark.sql.types.StringType,
      s"$path is not a current IVF layout (centroid_id must be the " +
        "prefixed-string partition column) — rewrite it with writeIvfPartitioned")
    // route choice is DETERMINISTIC, never an arbitrary footer's
    // schema resolution: a uniform quantized layout resolves q8 from
    // any footer; a MIXED one (legacy files restored beside quantized)
    // may or may not, so the marker/footer-walk judgment breaks the
    // tie, and when resolution missed q8 the read is retried with
    // mergeSchema so the quantized columns are visible — the legacy
    // rows then carry null q8 and [[clusterPairsSq8]] exact-verifies
    // them, keeping the route lossless on the damaged state
    val resolvedQ8 = corpus.schema.fieldNames.contains("q8")
    if (quantizedCandidates && (resolvedQ8 || layoutHasQ8(spark, dataRoot)))
      clusterPairsSq8(
        if (resolvedQ8) corpus
        else spark.read.option("mergeSchema", "true").parquet(dataRoot),
        threshold, maxClusterSize, idCol)
    else
      clusterPairs(
        corpus.select(col(idCol), col("centroid_id"), col("vec"), col("nrm")),
        threshold, maxClusterSize, idCol)
  }

  /** Symmetric per-vector int8 scalar quantization — the serving-side
    * compression step of an ANN index (4× smaller than float32, 8×
    * smaller than the double pipeline): `scale = max|x| / 127`,
    * `q_i = round(x_i / scale)` ∈ [−127, 127], plus the max absolute
    * reconstruction error per vector so a recall budget can be checked
    * offline. Pure per-row arithmetic (no shuffle); every step is a
    * fixed expression tree over the same doubles in any engine, so the
    * output is bit-reproducible and oracle-checkable. All-zero vectors
    * quantize to zeros with scale 0. The emitted scale is the FULL
    * double — the one the q values and the error bound were computed
    * with; a rounded scale would let reconstruction error exceed
    * `max_abs_err` by up to 127·|Δscale|.
    */
  def quantizeInt8(
      emb: DataFrame,
      vecCol: String = "embedding",
      idCol: String = "vec_id"): DataFrame =
    asDouble(emb, vecCol, idCol)
      .withColumn("scale", int8Scale)
      .withColumn("qvec", int8Ints("scale"))
      .select(
        col(idCol),
        col("scale"),
        col("qvec"),
        // error from the ALREADY-computed qvec (one round() per element,
        // not two); int→double of |q| ≤ 127 is exact
        round(expr(
          "aggregate(zip_with(vec, qvec, " +
            "(x, q) -> abs(CAST(q AS DOUBLE) * scale - x)), " +
            "0D, (m, e) -> greatest(m, e))"), 6)
          .as("max_abs_err"))

  /** Signed-random-projection LSH bucket key (`nBits` sign bits) with a
    * deterministic ±1 hyperplane pattern, portable across engines —
    * computed by the codegen'd [[graft.functions.SrpKey]] expression
    * (bit-identical to the interpreted `aggregate(zip_with(...))` folds
    * and the DuckDB oracle fragment).
    */
  def srpBuckets(emb: DataFrame, nBits: Int = 16, idCol: String = "vec_id"): DataFrame =
    asDouble(emb, idCol = idCol).select(col(idCol),
      graft.functions.SrpKey(col("vec"), 0, nBits).as("srp_bucket"))

  /** Embedding near-dup pairs via SRP-LSH banding + exact cosine verify —
    * the sublinear composition of [[srpBuckets]] and [[cosineDupPairs]]'s
    * verify step, and the 100 TB path that replaces the all-pairs join.
    *
    * `bands` independent 8-ish-bit band keys (standard b×r banding): two
    * vectors are candidates iff they agree on ALL `rowsPerBand` sign bits
    * of at least one band; candidates — and only candidates — get the
    * exact cosine. A pair at angle θ collides per band with
    * `(1 − θ/π)^rowsPerBand`, so recall follows the usual LSH S-curve:
    * steep for true near-dups, tunable via (bands, rowsPerBand) for a
    * given threshold. The candidate join ships only (band, key, id)
    * longs; vectors are fetched once per surviving candidate. The
    * per-bucket population cap ([[graft.operators.Banding.selfPairs]])
    * keeps a repeated boilerplate embedding — which collides in ALL
    * bands — at linear anchor/star cost instead of d²/2 candidates;
    * the oracle query pins `maxBandPop = None`. The DEFAULT resolves
    * through the SAME geometry gate as [[Dedup.simhashPairs]]
    * ([[Banding.resolveDefaultCap]]): the default 12×8 geometry has
    * 8-bit band keys, exactly the short-key shape where random
    * full-bucket agreements are routine at corpus scale and
    * anchor/star pairing over mostly-unrelated buckets drops true
    * near-dup pairs — so it runs UNCAPPED with the loud O(N²/2^8)
    * hazard warning, and an explicit Some/None always wins.
    *
    * BEHAVIOR CHANGE (round 18): the default previously resolved to
    * `Some(Banding.DefaultMaxBandPop)` for every geometry. Defaulted
    * callers on the 12×8 geometry now get the uncapped join — correct
    * recall, but O(N²/2^8) candidates at corpus scale; pass an
    * explicit `maxBandPop = Some(...)` to restore the bound, accepting
    * the short-key recall trade knowingly.
    */
  def srpDupPairs(
      emb: DataFrame,
      threshold: Double,
      bands: Int = 12,
      rowsPerBand: Int = 8,
      idCol: String = "vec_id",
      // `null` = geometry-gated default, resolved against the ACTUAL
      // bands/rowsPerBand below (a default expression cannot read
      // parameters of its own list) — the simhashPairs idiom
      maxBandPop: Option[Int] = null): DataFrame = {
    val cap =
      if (maxBandPop eq null)
        Banding.resolveDefaultCap(bands * rowsPerBand, bands)
      else maxBandPop
    val v = asDouble(emb, idCol = idCol)
      .select(col(idCol), col("vec"), col("nrm"))
    Caching.withCached(v) {
      val bandKeys = (0 until bands).map { b =>
        struct(lit(b).as("band"),
          graft.functions.SrpKey(col("vec"), b * rowsPerBand, rowsPerBand).as("key"))
      }
      val buckets = v.select(col(idCol), explode(array(bandKeys: _*)).as("bk"))
        .select(col(idCol), col("bk.band").as("band"), col("bk.key").as("key"))
      val candidates = Banding.selfPairs(buckets, idCol, cap)
        .select(col("id_a").as("vec_a"), col("id_b").as("vec_b"))
      candidates
        .join(v.select(col(idCol).as("vec_a"), col("vec").as("va"),
          col("nrm").as("na")), Seq("vec_a"))
        .join(v.select(col(idCol).as("vec_b"), col("vec").as("vb"),
          col("nrm").as("nb")), Seq("vec_b"))
        .select(col("vec_a"), col("vec_b"),
          round(dot("va", "vb") / (col("na") * col("nb")), 6).as("cos_sim"))
        .filter(col("cos_sim") >= threshold)
    }
  }
}
