package perfbench

import scala.collection.mutable

import org.apache.spark.sql.Row

/** The TSDB's expected output computed in plain Scala, with no Spark: the
  * eight stats of every (path, bucket) of one period, with exact linearly
  * interpolated percentiles (numpy's default, and Spark's `percentile`).
  */
object Oracle {
  final case class Bucket(
      n: Double, min: Double, max: Double, avg: Double, sum: Double,
      p50: Double, p90: Double, p99: Double) {
    def stat(name: String): Double = name match {
      case "n" => n
      case "min" => min
      case "max" => max
      case "avg" => avg
      case "sum" => sum
      case "p50" => p50
      case "p90" => p90
      case "p99" => p99
    }
  }

  val stats: Seq[String] = Seq("n", "min", "max", "avg", "sum", "p50", "p90", "p99")

  /** Percentile `p` of ascending `v`: position p·(n−1), linear between the
    * two neighbouring values.
    */
  def percentile(v: Array[Double], p: Double): Double = {
    val pos = (v.length - 1) * p
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    if (lo == hi || v(lo) == v(hi)) v(lo)
    else (hi - pos) * v(lo) + (pos - lo) * v(hi)
  }

  def close(a: Double, b: Double): Boolean =
    a == b || math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))

  /** FIXTURES A2's golden bucket: [1, 5] has p90 = 4.6 and p99 = 4.96. */
  def selfTest(): Unit = {
    val v = Array(1.0, 5.0)
    require(close(percentile(v, 0.9), 4.6) && close(percentile(v, 0.99), 4.96),
      "oracle self-test failed: percentiles of [1, 5]")
  }

  /** One path's points, ascending by timestamp. */
  final case class Series(ts: Array[Double], value: Array[Double])

  /** Every bucket of one period whose start is below `finalEnd`, keyed by
    * bucket start. Bucketing is the engine's: truncate the timestamp to
    * whole seconds, then floor to the period.
    */
  def aggregate(s: Series, seconds: Long, finalEnd: Double): mutable.LinkedHashMap[Double, Bucket] = {
    val out = mutable.LinkedHashMap.empty[Double, Bucket]
    var i = 0
    while (i < s.ts.length) {
      val b = bucket(s.ts(i), seconds)
      var j = i
      while (j < s.ts.length && bucket(s.ts(j), seconds) == b) j += 1
      if (b < finalEnd) {
        val v = java.util.Arrays.copyOfRange(s.value, i, j)
        java.util.Arrays.sort(v)
        val sum = v.sum
        out(b) = Bucket(v.length.toDouble, v.head, v.last, sum / v.length, sum,
          percentile(v, 0.5), percentile(v, 0.9), percentile(v, 0.99))
      }
      i = j
    }
    out
  }

  def bucket(ts: Double, seconds: Long): Double =
    (Math.floorDiv(ts.toLong, seconds) * seconds).toDouble

  /** Count the buckets of a period table that differ from `expected`
    * (path -> bucket start -> stats): missing, extra or unequal rows.
    * Rows are (path, timestamp, n, min, max, avg, sum, p50, p90, p99).
    */
  def mismatches(
      expected: collection.Map[String, collection.Map[Double, Bucket]],
      rows: Iterator[Row]): Long = {
    var bad = 0L
    var seen = 0L
    rows.foreach { r =>
      val e = expected.get(r.getString(0)).flatMap(_.get(r.getDouble(1)))
      val ok = e.exists { b =>
        stats.zipWithIndex.forall { case (st, k) =>
          !r.isNullAt(k + 2) && close(r.getDouble(k + 2), b.stat(st))
        }
      }
      if (ok) seen += 1 else bad += 1
    }
    bad + (expected.valuesIterator.map(_.size.toLong).sum - seen)
  }
}
