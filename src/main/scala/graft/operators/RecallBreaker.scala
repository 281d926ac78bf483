package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, count, lit, sum, xxhash64}

/** The rotate-arm CIRCUIT BREAKERS of the shared maintain engine
  * ([[CentroidLayout.maintain]], behind [[Similarity.ivfMaintain]] and
  * [[Pq.pqMaintain]]) — ONE definition of the arm/disarm/match rules,
  * consulted from one policy body. Two instances of the same
  * machinery, distinguished by `file`/`valueKey`:
  *
  *  - `recall-breaker` (the default): a rotation repairs ROUTING-drift
  *    recall, but a floor the route cannot reach at the configured
  *    nprobe/rerank (shortlist starvation, quantization error) would
  *    fire a full corpus-scale rewrite EVERY maintenance tick forever.
  *  - `skew-breaker`: a rotation re-trains the coarse centroids, but a
  *    corpus whose re-train reproduces the same hot partition (PQ's
  *    deterministic id-hash sample on an unchanged id set ALWAYS does;
  *    IVF's k-means may, when a semantic cluster is genuinely hot)
  *    would likewise rewrite the corpus every tick without moving the
  *    observable.
  *
  * After a rotation that still misses its arm's threshold, the policy
  * records the attempt keyed to the layout's exact DATA state
  * (generation + ledgered-id set — [[Similarity.layoutStateToken]])
  * and the FULL relevant config; while neither changes, re-rotating is
  * provably futile and that rotate arm is skipped with a loud action.
  * Appends, rotations and knob changes re-arm it (the state token or a
  * config value moves). Advisory state under the single maintenance
  * writer: a torn or garbage breaker file reads as absent and only
  * costs one more measured attempt.
  *
  * `config` is an ORDERED key list; values are thunks so a mismatch on
  * an early knob short-circuits before later (possibly effectful)
  * values — the query-workload digest — are computed.
  */
private[operators] object RecallBreaker {

  def breakerPath(
      layoutPath: String,
      file: String = "recall-breaker"): Path =
    new Path(s"$layoutPath/_maintain/$file")

  /** Content-sensitive digest of the recall WORKLOAD: swapping the
    * held-out query set (same path with new contents, or a different
    * frame entirely) changes what "the floor is unreachable" was
    * measured against, so it must re-arm the rotate arm. Row count
    * plus an order-insensitive wrapping SUM of per-row hashes over ALL
    * query columns (sum, not XOR: xor cancels rows duplicated an even
    * number of times, so {A,A,B} and {C,C,B} would share a digest) —
    * computed distributed with O(1) driver state. The sum runs in
    * decimal(38,0): ANSI mode makes a long sum THROW on overflow, and
    * per-row xxhash64 values span the full long range; 38 digits
    * absorbs ~2^63 rows before decimal overflow. The driver wraps back
    * to 64 bits (BigInteger low-bits), keeping the digest fixed-width.
    */
  def queryWorkloadDigest(queryVectors: Option[DataFrame]): String =
    queryVectors match {
      case None => "stored"
      case Some(q) =>
        val r = q
          .select(xxhash64(q.columns.toIndexedSeq.map(c => col(c)): _*)
            .as("h"))
          .agg(count(lit(1)).as("n"),
            sum(col("h").cast("decimal(38,0)")).as("x"))
          .collect()(0)
        val wrapped =
          if (r.isNullAt(1)) 0L
          else r.getDecimal(1).toBigInteger.longValue
        s"${r.getLong(0)}|$wrapped"
    }

  /** The recorded post-rotation observable, when the stored attempt
    * matches this exact config AND layout data state — `None` is
    * "not armed, the rotate arm may fire". Any read error reads as
    * absent (advisory state; see the class doc).
    *
    * `legacyDefaults`: when a NEW config key is added to a policy, a
    * manifest armed by an older build lacks it — without a declared
    * default every deployed fence would read as disarmed on upgrade
    * and re-fire one provably-futile corpus-scale rotation per armed
    * index. A key listed here treats "absent in the stored manifest"
    * as that default value: the fence survives the upgrade exactly
    * when the new knob still sits at the behavior the old build had
    * (and re-arms the moment it is set to anything else). `arm`
    * always writes the full current key set, so the map only ever
    * matters for pre-upgrade manifests.
    */
  def armed(
      fsys: FileSystem,
      layoutPath: String,
      config: Seq[(String, () => String)],
      state: => String,
      file: String = "recall-breaker",
      valueKey: String = "recall",
      legacyDefaults: Map[String, String] = Map.empty): Option[String] =
    try {
      val p = breakerPath(layoutPath, file)
      if (!fsys.exists(p)) None
      else {
        val m = EpochLedger.readManifest(fsys, p)
        val matches =
          config.forall { case (key, v) =>
            m.get(key).orElse(legacyDefaults.get(key)).contains(v())
          } && m.get("state").contains(state)
        if (matches) m.get(valueKey) else None
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Record a measured-and-missed rotation attempt — tmp + rename, the
    * manifest discipline every other metadata write on these layouts
    * uses: the contract is advisory either way (torn state reads as
    * absent), but there is no reason for this one file to be the
    * exception. The delete→rename hop can only expose "absent", never
    * a torn file.
    */
  def arm(
      fsys: FileSystem,
      layoutPath: String,
      config: Seq[(String, () => String)],
      state: String,
      after: Double,
      file: String = "recall-breaker",
      valueKey: String = "recall"): Unit = {
    val p = breakerPath(layoutPath, file)
    fsys.mkdirs(p.getParent)
    val tmp = new Path(p.getParent, s".$file.tmp")
    val out = fsys.create(tmp, true)
    try out.write(
      (config.map { case (key, v) => s"$key:${v()}" }.mkString("\n") +
        s"\nstate:$state\n" + f"$valueKey:$after%.4f")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    if (fsys.exists(p)) fsys.delete(p, false)
    require(fsys.rename(tmp, p),
      s"$file: rename failed under $p")
  }

  /** Drop the breaker (its threshold was met again, or a measured
    * rotation is about to re-judge).
    */
  def disarm(
      fsys: FileSystem,
      layoutPath: String,
      file: String = "recall-breaker"): Unit = {
    val p = breakerPath(layoutPath, file)
    if (fsys.exists(p)) fsys.delete(p, false)
  }
}
