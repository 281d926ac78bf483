package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Pq, Similarity}

/** Diagnostic main: the PQ tier's recall@k table at matched knobs across
  * encodings — raw vs residual (IVFADC), sampled vs Lloyd-trained
  * codebooks — over `SPARK_GRAFT_SF_DIR`'s embeddings fixture. Prints one
  * markdown table (stored-sample and held-out modes per encoding) so the
  * SCALING.md compression-curve record can carry a measured recall axis
  * for every encoding knob, not just the raw tier.
  *
  * Query constructions match the recorded SQ8/PQ table: 64 stored-sample
  * queries ([[Pq.pqRecallProbe]]'s own decorrelated hash sample) and the
  * deterministic off-corpus midpoints of consecutive stored pairs at
  * ids ≡ 0 (mod 16) — the q65/q74 serving-shape without the small-table
  * cap, ~32 queries on the 500-vector fixture.
  *
  * A second table measures the SAME encodings over a deterministic
  * MIXTURE-OF-CENTROIDS transform of the fixture — residual's claimed
  * win regime (clusters > per-subspace codewords, coarse geometry
  * resolving the clusters): vector i becomes
  * `anchor(i mod C) + 0.25·v_i` with the C lowest-id fixture vectors
  * as anchors, so within-cluster spread is a quarter of the
  * between-cluster scale. Held-out queries there are midpoints of
  * SAME-CLUSTER pairs (ids i, i+C at i ≡ 0 mod C−1, spreading the
  * query set across clusters).
  */
object RecallTable {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)

    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val heldOut = {
      val a = emb.select(col("vec_id"),
        col("embedding").cast("array<double>").as("va"))
      val b = emb.select((col("vec_id") - 1).as("vec_id"),
        col("embedding").cast("array<double>").as("vb"))
      a.join(b, "vec_id")
        .filter(col("vec_id") % 16 === 0)
        .select(col("vec_id").as("query_id"),
          zip_with(col("va"), col("vb"),
            (x, y) => (x + y) / lit(2.0)).as("embedding"))
    }

    val scratch = java.nio.file.Files
      .createTempDirectory("graft-recall-table").toString
    val encodings = Seq(
      ("raw", false, 0), ("raw+train4", false, 4),
      ("residual", true, 0), ("residual+train4", true, 4))
    val knobs = for (np <- Seq(1, 2, 4); rr <- Seq(20, 40)) yield (np, rr)

    def table(tag: String, corpus: DataFrame, held: DataFrame,
        centroidK: Int, codebookK: Int = Pq.DefaultK,
        knobGrid: Seq[(Int, Int)] = knobs): Unit = {
      encodings.foreach { case (name, residual, iters) =>
        Pq.writePqIndex(corpus, s"$scratch/$tag-$name", k = codebookK,
          centroidK = centroidK, trainIters = iters, residual = residual)
      }
      println("| nprobe | rerank | " + encodings.map(_._1).flatMap(n =>
        Seq(s"$n stored", s"$n held-out")).mkString(" | ") + " |")
      println("|---|---|" + ("---|" * (encodings.size * 2)))
      knobGrid.foreach { case (np, rr) =>
        val cells = encodings.flatMap { case (name, _, _) =>
          val stored = Pq.pqRecallProbe(spark, s"$scratch/$tag-$name",
            corpus, sampleN = 64, k = 10, nprobe = np, rerank = rr)
            .recallAtK
          val ho = Pq.pqRecallProbe(spark, s"$scratch/$tag-$name", corpus,
            sampleN = 1, k = 10, nprobe = np, rerank = rr,
            queryVectors = Some(held)).recallAtK
          Seq(f"$stored%.3f", f"$ho%.3f")
        }
        println(s"| $np | $rr | " + cells.mkString(" | ") + " |")
      }
    }

    println(s"### unclustered fixture ($sfDir)")
    table("flat", emb, heldOut, Similarity.DefaultCentroidK)

    // the mixture-of-centroids transform: C tight clusters whose
    // anchors are real fixture vectors — residual's win regime
    // (C clusters > k=16 codewords per subspace; coarse centroidK = C
    // so the coarse side can resolve the bases)
    val cC = 64
    val anchors = emb.filter(col("vec_id") < cC)
      .select(col("vec_id").as("cl"),
        col("embedding").cast("array<double>").as("ctr"))
    val clustered = emb
      .select(col("vec_id"), (col("vec_id") % cC).as("cl"),
        col("embedding").cast("array<double>").as("v"))
      .join(broadcast(anchors), "cl")
      .select(col("vec_id"),
        zip_with(col("ctr"), col("v"), (c, x) => c + x * lit(0.25))
          .cast("array<float>").as("embedding"))
    val heldClustered = {
      val a = clustered.select(col("vec_id"),
        col("embedding").cast("array<double>").as("va"))
      val b = clustered.select((col("vec_id") - cC).as("vec_id"),
        col("embedding").cast("array<double>").as("vb"))
      // same-cluster pairs (i, i+C); i ≡ 0 (mod C−1) walks the residues
      a.join(b, "vec_id")
        .filter(col("vec_id") % (cC - 1) === 0)
        .select(col("vec_id").as("query_id"),
          zip_with(col("va"), col("vb"),
            (x, y) => (x + y) / lit(2.0)).as("embedding"))
    }
    println()
    println(s"### mixture-of-centroids transform (C=$cC clusters, " +
      s"noise 0.25, centroidK=$cC, default k=16 codewords)")
    table("clus", clustered, heldClustered, cC)
    // the codeword-STARVED point (k=4 per subspace << C cluster bases):
    // the IVFADC claim's exact regime — raw codes must describe C base
    // directions with 4 codewords; residuals only describe the small
    // within-cluster offsets the coarse quantizer already removed
    println()
    println(s"### same transform, codeword-starved (k=4 codewords per " +
      s"subspace, C=$cC clusters)")
    table("clus4", clustered, heldClustered, cC, codebookK = 4)
    // the ROUTING-RESOLVED sweep: the first two clustered tables showed
    // recall dominated by which cells the probe covers (nprobe 1–4 of
    // 64 sampled centroids) and rescued wholesale once rerank ≥ the
    // ~31-member cluster size — so hold rerank BELOW cluster size and
    // raise nprobe until routing stops being the bottleneck; this is
    // where code precision (raw vs residual) decides the shortlist
    println()
    println(s"### same starved transform, routing-resolved knobs " +
      s"(rerank < cluster size)")
    table("clus4r", clustered, heldClustered, cC, codebookK = 4,
      knobGrid = for (np <- Seq(8, 32, 64); rr <- Seq(12, 20))
        yield (np, rr))
    spark.stop()
  }
}
