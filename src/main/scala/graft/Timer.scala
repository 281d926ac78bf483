package graft

import scala.collection.mutable.ArrayBuffer

/** Self-metrics instrumentation (reference timer.py:16-121 + the
  * emit_metrics loops at tsdb.py:315-337 / daemon.py:176-198): timing a
  * block produces ordinary `(path, timestamp, value)` datapoints that are
  * appended back into `incoming` — the database measures itself with
  * itself.
  *
  * Like the reference's callback clocks, a timed block snapshots every
  * registered clock at entry and exit and emits `<name>.<clock>` deltas;
  * the wall clock (`<name>.time`) is always present, and the default
  * callbacks add the psutil-parity process clocks (user/system CPU
  * seconds, I/O call counts and bytes) when the platform exposes them.
  */
final class Timer(
    prefix: String,
    now: () => Double,
    callbacks: Seq[() => Seq[(String, Double)]] = Timer.defaultCallbacks) {
  private val points = ArrayBuffer.empty[(String, Double, Double)]

  /** Record `value` under `prefix.name` at the current clock. */
  def emit(name: String, value: Double): Unit =
    points += ((s"$prefix.$name", now(), value))

  /** Time a block; emits `<name>.time` seconds plus one
    * `<name>.<clock>` delta per callback clock (timer.py:73-91).
    */
  def timed[T](name: String)(f: => T): T = {
    val starts = callbacks.flatMap(_()).toMap
    val t0 = System.nanoTime()
    try f
    finally {
      emit(s"$name.time", (System.nanoTime() - t0) / 1e9)
      callbacks.flatMap(_()).foreach { case (clock, end) =>
        starts.get(clock).foreach(s => emit(s"$name.$clock", end - s))
      }
    }
  }

  def drain(): Seq[(String, Double, Double)] = {
    val out = points.toSeq
    points.clear()
    out
  }
}

object Timer {

  /** psutil-parity process clocks (timer.py:106-117): `user`/`system`
    * CPU seconds from `/proc/self/stat` (fields 14/15, USER_HZ=100 —
    * the Linux default the JVM has no portable sysconf for), and
    * `read_count`/`write_count`/`read_bytes`/`write_bytes` from
    * `/proc/self/io` (syscr/syscw are what psutil reports as counts).
    * Empty when procfs is absent — the same graceful degradation as the
    * reference's optional psutil import.
    */
  def procTimings(): Seq[(String, Double)] = {
    def read(p: String): Option[String] =
      try Some(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(p)), java.nio.charset.StandardCharsets.UTF_8))
      catch { case _: Throwable => None }
    val cpu = read("/proc/self/stat").toSeq.flatMap { stat =>
      // comm (field 2) may contain spaces/parens; fields resume after
      // the LAST ')' with field 3, so utime/stime are tokens 11/12 there
      val rest = stat.substring(stat.lastIndexOf(')') + 1).trim
        .split("\\s+")
      if (rest.length < 13) Seq.empty
      else Seq("user" -> rest(11).toDouble / 100.0,
        "system" -> rest(12).toDouble / 100.0)
    }
    val ioNames = Map("syscr" -> "read_count", "syscw" -> "write_count",
      "read_bytes" -> "read_bytes", "write_bytes" -> "write_bytes")
    val io = read("/proc/self/io").toSeq.flatMap { text =>
      text.linesIterator.flatMap { line =>
        line.split(":\\s*") match {
          case Array(k, v) if ioNames.contains(k) =>
            Some(ioNames(k) -> v.trim.toDouble)
          case _ => None
        }
      }.toSeq
    }
    cpu ++ io
  }

  val defaultCallbacks: Seq[() => Seq[(String, Double)]] =
    Seq(() => procTimings())

  /** Run a full instrumented sync: times the whole sync (every period's
    * finalization plus retention, which run as one pass) as `total`, then
    * appends the timings as ordinary datapoints (the reference's
    * `(2 + 6·(2 + m))·7`-point self-metrics loop, tsdb.py:318-336,
    * collapsed to the one span this engine's set-oriented sync has).
    */
  def instrumentedSync(tsdb: Tsdb, prefix: String = "graft.sync"): Unit = {
    val t = new Timer(prefix, tsdb.now)
    t.timed("total")(tsdb.sync())
    val pts = t.drain()
    if (pts.nonEmpty) tsdb.insert(pts)
  }
}
