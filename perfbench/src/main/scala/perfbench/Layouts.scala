package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

import graft.SparkEntry

/** `layouts`: crash-safe layouts (the substring index, IVF-PQ) on the
  * read-only fixture.
  *
  * The lifecycle row rebuilds, appends to and maintains its layout on
  * every call, then probes it. The serving row probes a standing layout,
  * which set-up memoizes (the engine keeps it per fixture directory for
  * the process). Set-up probes once, to memoize, and calls every
  * lifecycle row once, so that no timed call is the first of its code
  * paths. The timed phase runs at least [[MinPasses]] passes over the
  * lifecycle rows, each in an order the seed permutes, then a block of
  * [[ServingCalls]] probes.
  *
  * A call's second and third runs are still faster than the one before
  * (the JIT is still compiling), and the host's speed varies from second
  * to second, so the run reports medians of several calls. What fits the benchmark's time budget is one lifecycle row
  * beside the probe: the cold start of each row costs more than a warm
  * call of it.
  */
object Layouts {
  /** Lifecycle rows and their kind: q82 runs the substring index's
    * build, two appends, the health → maintain step and a probe. PQ is
    * built in set-up and probed by the serving row.
    */
  val lifecycle: Seq[(String, String)] = Seq(
    "q82_substring_maintained_probe" -> "substring")

  /** The standing-layout probe: q72, the IVF-PQ probe over a memoized
    * layout. The first probe after a lifecycle row ran up to 1.5× slower
    * than a probe after a probe, and the next few still got faster, so the
    * probes run as one block and its median is a probe of the warm
    * standing layout.
    */
  val serving: Seq[(String, String)] = Seq("q72_ivfpq_probe" -> "pq")
  val ServingCalls = 5

  /** Timed lifecycle passes per run, at least; more if `--seconds` has
    * not passed.
    */
  val MinPasses = 3

  val Tables = Seq("documents", "embeddings")

  /** Order-insensitive digest of a result: row count and a sum of row hashes. */
  def digest(rows: Array[Row]): (Long, Long) =
    (rows.length.toLong, rows.iterator.map(r =>
      MurmurHash3.stringHash(r.toSeq.map(String.valueOf).mkString("\u0001")).toLong).sum)

  def run(ctx: Ctx): Outcome = {
    import ctx.{rec, spark}
    /** One call: the rows it returns and their schema. */
    def call(name: String, dir: String): (Array[Row], StructType) = {
      spark.catalog.clearCache()
      val df = SparkEntry.queries(name)(spark, dir)
      (df.collect(), df.schema)
    }

    val verify = s"${ctx.work}/verify"
    Files.createDirectories(Paths.get(verify))
    val oracle = SparkEntry.oracleSql
    val expected = mutable.LinkedHashMap.empty[String, (Long, Long)]
    var attempted, failed = 0L
    /** The first call of a row sets its expected digest and saves its
      * output for the DuckDB oracle; every later call must match it.
      */
    def check(name: String, result: (Array[Row], StructType)): Unit = {
      val (rows, schema) = result
      attempted += 1
      expected.get(name) match {
        case Some(d) if d != digest(rows) =>
          failed += 1
          System.err.println(s"[perfbench] $name: result differs from its first call")
        case Some(_) =>
        case None =>
          expected(name) = digest(rows)
          if (oracle.contains(name))
            spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 1), schema)
              .write.mode("overwrite").parquet(s"$verify/$name")
      }
    }

    // ---- set-up: memoize the standing layout with one probe, then warm
    // every lifecycle row up once; each row's first call is checked by
    // the oracle ----
    def layoutBytes(): Long = Files.list(Paths.get(sys.props("java.io.tmpdir"))).toArray
      .map(_.toString).filter(_.matches(".*/graft-.*-probe.*")).map(Main.du(_)._1).sum
    val dir = ctx.fixture
    val first = rec.span("setup")((serving ++ lifecycle).map { case (name, _) =>
      name -> rec.span(s"setup.$name")(call(name, dir))
    })
    val setupS = rec.last.seconds
    val bytes = layoutBytes()
    first.foreach { case (name, result) => check(name, result) }
    val inputRows = Tables.map(t => spark.read.parquet(s"$dir/$t.parquet").count()).sum

    // ---- timed: lifecycle passes, each in a seeded order, then one
    // block of probes ----
    def timedCall(name: String): Double = {
      System.gc()
      val result = rec.span(name)(call(name, dir))
      val s = rec.last.seconds
      check(name, result)
      s
    }
    val rnd = new scala.util.Random(ctx.seed)
    val passLifecycle = mutable.ArrayBuffer.empty[Double]
    val serveMs = mutable.ArrayBuffer.empty[Double]
    val t1 = System.nanoTime()
    rec.span("timed") {
      while (passLifecycle.size < MinPasses || ctx.elapsedSince(t1) < ctx.seconds)
        passLifecycle += rnd.shuffle(lifecycle).map { case (name, _) => timedCall(name) }.sum
      for (_ <- 1 to ServingCalls; (name, _) <- serving) serveMs += timedCall(name) * 1000
    }
    Files.writeString(Paths.get(s"$verify/oracle_sql.json"),
      Json.obj(expected.keys.toSeq.filter(oracle.contains).map(n => n -> Json.str(oracle(n)))))
    val e2e = Seq(
      ("write_s", Main.median(passLifecycle.toSeq), "s"),
      ("read_ms_p50", Main.median(serveMs.toSeq), "ms"),
      ("stored_bytes_per_point", bytes.toDouble / inputRows, "B"))
    Outcome(attempted, failed, setupS, e2e,
      ctx.tracer.fold(Seq.empty[(String, Double, String)])(t =>
        Layers.layouts(ctx, t, e2e, passLifecycle.size)),
      Seq("passes" -> passLifecycle.size.toString,
        "lifecycle_s_per_pass" -> passLifecycle.map(x => f"$x%.3f").mkString(","),
        "serve_ms" -> serveMs.map(x => f"$x%.0f").mkString(","),
        "verify_dir" -> verify))
  }
}
