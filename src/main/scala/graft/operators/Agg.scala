package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.core.Period

/** The one aggregation shape of the engine, instantiated per period or
  * for every period at once, grouped by period (reference: the `select
  * path, cast(timestamp as integer)/S*S, count, min, max, avg, sum,
  * quantile(.5/.9/.99) … group by path, agg_ts` SQL at tsdb.py:183-198
  * and tsdb.py:388-410).
  *
  * Spark-first design notes (SURVEY.md §2.4):
  *  - one `groupBy(path, bucket)` (or `(period, path, bucket)`) → Catalyst
  *    plans a partial (map-side) + final aggregation with one shuffle on
  *    the group key.
  *  - exact percentiles use the built-in Catalyst `Percentile`
  *    (`TypedImperativeAggregate`) in its array form — the group's values are
  *    buffered ONCE for all three quantiles, fixing the reference's own
  *    documented 3×-buffering complaint (tsdb.py:32-34).
  *  - `percentile_approx` is deliberately NOT used: the reference pins exact
  *    numpy-style linear interpolation (p90 of [1,5] = 4.6,
  *    tests/test_smalltsdb.py:78-82) and Spark's exact `percentile` matches
  *    it bit-for-bit.
  */
object Agg {

  /** Floor a double epoch-seconds timestamp to its bucket start.
    *
    * The reference computes `cast(timestamp as integer) / S * S` in SQLite
    * (tsdb.py:187): truncate the fractional part toward zero, then integer
    * floor-divide. For the supported domain (timestamp ≥ 0) truncation ==
    * floor, so `cast(LongType)` followed by `floor(/S)*S` is bit-identical
    * (SURVEY.md §2.9 Q5). Stays inside whole-stage codegen.
    */
  def bucket(ts: Column, seconds: Long): Column = bucket(ts, lit(seconds))

  /** [[bucket]] with a per-row period length (e.g. one row per period). */
  def bucket(ts: Column, seconds: Column): Column =
    (floor(ts.cast(LongType) / seconds) * seconds).cast(DoubleType)

  /** All eight stats over one period, producing the period-table schema
    * `(path, timestamp, n, min, max, avg, sum, p50, p90, p99)`.
    *
    * `n` is integral-valued but typed Double for storage parity with the
    * reference's REAL columns (SURVEY.md §2.9 Q4).
    */
  def aggregate(incoming: DataFrame, period: Period): DataFrame =
    aggregateSeconds(incoming, period.seconds)

  def aggregateSeconds(incoming: DataFrame, seconds: Long): DataFrame =
    aggregateBy(incoming,
      col("path"), bucket(col("timestamp"), seconds).as("timestamp"))

  /** The eight stats of `value` per group of `keys`: the key columns,
    * then `n, min, max, avg, sum, p50, p90, p99`.
    */
  def aggregateBy(rows: DataFrame, keys: Column*): DataFrame = {
    val g = rows
      .groupBy(keys: _*)
      .agg(
        count(col("value")).cast(DoubleType).as("n"),
        min(col("value")).as("min"),
        max(col("value")).as("max"),
        avg(col("value")).as("avg"),
        sum(col("value")).as("sum"),
        percentile(col("value"), array(lit(0.5), lit(0.9), lit(0.99))).as("_ps"))
    g.select(g.columns.filter(_ != "_ps").map(col).toIndexedSeq ++ Seq(
      col("_ps").getItem(0).as("p50"),
      col("_ps").getItem(1).as("p90"),
      col("_ps").getItem(2).as("p99")): _*)
  }
}
