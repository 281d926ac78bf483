package graft

import org.apache.spark.sql.SparkSession

/** The local SparkSession of the dev and driver mains (`Bench`,
  * `Verify`, `JobProfile`, `SkewBench`, `RecallTable`, `PlanDump`,
  * `PlanAudit`): `local[cpus]` with `cpus` shuffle partitions, UTC,
  * nanosecond parquet timestamps read as longs (the fixtures' `ts`),
  * 4m pages (64m default pages stall on fresh-page faults, and small
  * partitions never need them), shuffle files on tmpfs, no UI, and the
  * engine's SQL functions registered ([[GraftExtensions.register]]).
  * `conf` adds settings at build time.
  */
object LocalSession {
  def apply(cpus: Int, conf: Map[String, String] = Map.empty): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.buffer.pageSize", "4m")
      .config("spark.local.dir", "/dev/shm/spark-local")
      .config("spark.ui.enabled", "false")
      .config(conf)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftExtensions.register(spark)
    spark
  }
}
