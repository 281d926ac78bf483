package graft

/** Prints the physical plans of the judge-relevant queries so pushdown /
  * pruning / broadcast / codegen decisions can be audited (dev tool; the
  * distilled findings live in PLANS.md).
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession(4)
    spark.sparkContext.setLogLevel("ERROR")
    // show operator interiors instead of the checkpointed RDD scan
    graft.operators.Caching.passthrough = true
    val dir = "/root/testdata/sf0.001"

    val interesting = Seq(
      "q05_get_metric", "q07_hwm_join", "q08_sync_final_range",
      "q25_knn_brute", "q22_dedup_minhash", "q02_agg_tensecond",
      "q21_dedup_ngram_jaccard", "q43_knn_ivf_multiprobe",
      "q46_text_repetition", "q48_mix_to_target", "q49_dedup_semantic",
      "q52_dedup_incremental_probe", "q54_text_perplexity",
      "q55_text_perplexity_bigram", "q65_ivf_serving_probe",
      "q71_semantic_dedup_sq8", "q72_ivfpq_probe",
      "q73_pq_maintained_probe", "q74_pq_serving_probe",
      "q77_substring_dup", "q78_substring_spans", "q79_substring_cut",
      "q80_substring_probe")
    for (name <- interesting) {
      println(s"\n======== $name ========")
      SparkEntry.queries(name)(spark, dir).explain("formatted")
    }

    // direct getMetric on a materialized table: scan-level pushdown
    println("\n======== getMetric on materialized period table ========")
    val root = java.nio.file.Files.createTempDirectory("plan-audit").toString
    val tsdb = new Tsdb(spark, root, materialized = true, tail = 60, now = () => 1e9)
    tsdb.insert(Seq(("one", 1.0, 1.0), ("one", 12.0, 2.0), ("two", 3.0, 4.0)))
    tsdb.sync()
    tsdb.getMetric("one", "tensecond", "p50", (0.0, 100.0)).explain("formatted")
    spark.stop()
  }
}
