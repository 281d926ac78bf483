package graft

import org.apache.spark.sql.functions.col

import graft.operators.{Dedup, Similarity}

/** Skewed-fixture rehearsal main (SCALING.md): runs the candidate-
  * generating dedup family with its DEFAULT scale guards (band-bucket
  * population caps, shingle-df cap, cluster-size cap) against a fixture
  * carrying a deliberate boilerplate cluster
  * (`tools/make_scale_fixture.py --skew`), and reports seconds + OUTPUT
  * ROWS per operator. Rows are the deterministic linearity evidence:
  * a d-member cluster must cost d−1 anchor pairs under the caps (8×
  * data ⇒ ~8× rows), not d²/2 (8× ⇒ 64×). `--uncapped` runs the same
  * operators with every cap disabled — the quadratic contrast, only
  * sensible at small scale.
  *
  * Not part of the driver contract (Bench is); invoked manually:
  * `runMain graft.SkewBench <fixtureDir> [--uncapped]`.
  */
object SkewBench {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val uncapped = args.contains("--uncapped")
    val spark = LocalSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)

    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val history = docs.filter(col("doc_id") % 5 =!= 0)
    val batch = docs.filter(col("doc_id") % 5 === 0)

    val bandCap =
      if (uncapped) None else Some(graft.operators.Banding.DefaultMaxBandPop)
    val dfCap = if (uncapped) None else Some(Dedup.DefaultMaxShingleDf)
    // the cluster cap scaled to the rehearsal corpus (the default 4096
    // is sized for 100 TB cluster populations; a 5k–40k-vector fixture
    // needs the same cap-to-corpus ratio to exercise the guard)
    val clusterCap = if (uncapped) None else Some(256)

    val ops: Seq[(String, () => Long)] = Seq(
      "q21_jaccard" -> (() =>
        Dedup.ngramJaccardPairs(docs, 0.8, maxShingleDf = dfCap).count()),
      "q22_minhash" -> (() =>
        Dedup.minhashLshPairs(docs, 0.8, maxBandPop = bandCap).count()),
      // geometry pinned to 32-bit: since round 8 the OPERATOR default
      // is the 64-bit geometry, and this row exists precisely to keep
      // measuring the narrow bucket space the rehearsal showed
      // saturating (10.5 s vs 1.28 s at 8×)
      "q23_simhash" -> (() =>
        Dedup.simhashPairs(docs, 3, bits = 32, bands = 4,
          maxBandPop = bandCap).count()),
      // the 64-bit / 4×16-bit geometry (now the default): at 8× the
      // 1,024-key 32-bit bucket space saturates (avg pop > the cap, so
      // the guard star-pairs most buckets); the wide geometry keeps
      // random collisions rare and the guard disengaged
      "q23_simhash64" -> (() =>
        Dedup.simhashPairs(docs, 3, bits = 64, bands = 4,
          maxBandPop = bandCap).count()),
      "q35_srp" -> (() =>
        Similarity.srpDupPairs(emb, 0.9, maxBandPop = bandCap).count()),
      "q49_semantic" -> (() =>
        Similarity.semanticDupPairs(emb, 0.9, maxClusterSize = clusterCap)
          .count()),
      "q52_probe" -> (() =>
        Dedup.minhashProbe(batch, Dedup.minhashIndex(history), history, 0.8,
          maxBandPop = bandCap).count())
    )

    val results = ops.map { case (name, run) =>
      spark.catalog.clearCache()
      System.gc()
      run() // warm-up
      var rows = 0L
      val times = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        rows = run()
        (System.nanoTime() - t0) / 1e9
      }
      System.err.println(f"[skewbench] $name min=${times.min}%.2f rows=$rows")
      (name, times.min, rows)
    }
    val qs = results.map { case (k, s, r) =>
      "\"" + k + "\":{\"sec\":" + s + ",\"rows\":" + r + "}"
    }.mkString("{", ",", "}")
    val mode = if (uncapped) "uncapped" else "capped"
    println(s"""SKEWBENCH_JSON: {"sf":"$dir","mode":"$mode","queries":$qs}""")
    spark.stop()
  }
}
