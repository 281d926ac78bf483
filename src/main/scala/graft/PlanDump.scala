package graft

/** Write each selected query's `.explain("formatted")` to a file (dev
  * tool) — the committed-plan evidence for the optimization rounds
  * (`plans/r<N>/<query>_{before,after}.txt`).
  *
  * Usage: sbt "runMain graft.PlanDump <outDir> <suffix> [q77,...]"
  * (no query list = every declared query). Runs with
  * `Caching.passthrough` so operator interiors show instead of the
  * checkpointed `Scan ExistingRDD`.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanDump <outDir> <suffix> [names]")
    val outDir = args(0)
    val suffix = args(1)
    val only = args.lift(2).map(_.split(",").map(_.trim).toSet)
    val spark = LocalSession(4)
    spark.sparkContext.setLogLevel("ERROR")
    graft.operators.Caching.passthrough = true
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (name, fn) =>
        try {
          val df = fn(spark, dir)
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"), plan)
          println(s"[plandump] wrote $name")
        } catch {
          case e: Throwable =>
            println(s"[plandump] FAILED $name: ${e.getMessage}")
        }
      }
    spark.stop()
  }
}
