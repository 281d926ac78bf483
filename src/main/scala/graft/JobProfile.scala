package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Per-query job/stage/task profile (dev tool, guide §1: measure first).
  *
  * Runs each selected query once after a per-query warm-up run and
  * reports wall seconds, Spark JOB count, stage count, task count and
  * summed task time — the fixed-overhead picture `Bench`'s single wall
  * number hides. At the bench's fixture scale (MBs of input) a query's
  * wall time is dominated by how many actions/stages it schedules, not
  * by bytes; this tool is how that is measured rather than guessed.
  *
  * Usage: SPARK_GRAFT_PROFILE_ONLY=q82_substring_maintained_probe,...
  *        sbt "runMain graft.JobProfile"
  * Env mirrors Bench: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS.
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // extra confs for A/B runs: SPARK_GRAFT_PROFILE_CONF="k=v;k=v"
    val conf = sys.env.get("SPARK_GRAFT_PROFILE_CONF").toSeq
      .flatMap(_.split(";")).filter(_.contains("=")).map { kv =>
        val Array(k, v) = kv.split("=", 2)
        k.trim -> v.trim
      }.toMap
    val spark = LocalSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt, conf)

    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0
    @volatile var taskMs = 0L
    // verbose mode prints per-job offsets from this epoch so DRIVER-side
    // gaps BETWEEN jobs (planning, FS protocol work, footer reads) are
    // attributable — the job durations alone hid ~40% of q75's wall
    @volatile var clock0 = System.nanoTime()
    val verbose = sys.env.get("SPARK_GRAFT_PROFILE_VERBOSE").contains("1")
    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    // SQL executionId -> first line of the execution description (the
    // DataFrame action's call site) — job callSite properties are blank
    // for SQL actions, this is where the attribution actually lives
    val execDesc = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    val listener = new SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        e match {
          case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
            execDesc.put(s.executionId, s.description.linesIterator.next())
          case _ => ()
        }
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs += 1
        if (verbose) {
          val cs = Option(j.properties).flatMap { p =>
            Option(p.getProperty("spark.sql.execution.id"))
              .flatMap(id => Option(execDesc.get(id.toLong)))
              .orElse(Option(p.getProperty("callSite.short")))
          }.getOrElse("?")
          jobStart.put(j.jobId, (System.nanoTime(), cs))
        }
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        if (verbose) Option(jobStart.remove(j.jobId)).foreach {
          case (t0, cs) =>
            val now = System.nanoTime()
            System.err.println(
              f"[job] ${j.jobId}%4d ${(now - t0) / 1e9}%6.3f " +
                f"@${(t0 - clock0) / 1e9}%7.3f..${(now - clock0) / 1e9}%7.3f  $cs")
        }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages += 1
        tasks += s.stageInfo.numTasks
        if (verbose) {
          val si = s.stageInfo
          val ms = (for (a <- si.completionTime; b <- si.submissionTime)
            yield a - b).getOrElse(-1L)
          System.err.println(
            f"[stage] ${si.stageId}%4d ${ms / 1e3}%6.3f ${si.numTasks}%4dt  ${si.name}")
        }
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskInfo != null) taskMs += t.taskInfo.duration
    }
    spark.sparkContext.addSparkListener(listener)

    val only = sys.env.get("SPARK_GRAFT_PROFILE_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val items = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    println(f"${"query"}%-34s ${"sec"}%7s ${"jobs"}%5s ${"stages"}%7s ${"tasks"}%6s ${"taskSec"}%8s")
    items.foreach { case (name, fn) =>
      fn(spark, sfDir).count() // warm-up (codegen, listing, page cache)
      spark.catalog.clearCache()
      System.gc()
      Thread.sleep(200) // let the async listener bus drain the warm-up events
      jobs = 0; stages = 0; tasks = 0; taskMs = 0L
      val t0 = System.nanoTime()
      clock0 = t0
      fn(spark, sfDir).count()
      val sec = (System.nanoTime() - t0) / 1e9
      Thread.sleep(200)
      println(f"$name%-34s $sec%7.2f $jobs%5d $stages%7d $tasks%6d ${taskMs / 1e3}%8.2f")
    }
    spark.stop()
  }
}
