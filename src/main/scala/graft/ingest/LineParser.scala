package graft.ingest

import scala.util.Try

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Graphite/statsd-style line-protocol decode (reference daemon.py:16-30).
  *
  * Wire format is `"path value timestamp"` — note the wire order is
  * (path, VALUE, TIMESTAMP); the parser reorders to the storage order
  * (path, timestamp, value). Both numerics are parsed as doubles.
  */
object LineParser {

  class ParseException(msg: String) extends IllegalArgumentException(msg)

  /** Lenient columnar parse: malformed lines yield null fields.
    * Whitespace-splitting matches Python's argless `str.split()`
    * (daemon.py:24: split on any whitespace run, ignore leading/trailing
    * whitespace OF ANY KIND — Spark's `trim` strips only spaces, so a
    * CRLF-terminated line would keep its '\r', split into a trailing
    * empty field, and read as malformed; under the strict ingest mode
    * that one '\r' would drop the whole batch). `try_cast` (not `cast`)
    * so a bad numeric nulls the field instead of throwing under Spark
    * 4's default ANSI mode.
    *
    * Non-finite numerics (NaN/Infinity, which `try_cast` parses) are
    * REJECTED as malformed — a deliberate deviation from the reference,
    * whose SQLite layer quietly turns an inserted NaN into NULL: here a
    * NaN timestamp would crash the ANSI `cast(LongType)` in the
    * day-partitioning insert (dropping every good line in its batch)
    * or, stored unpartitioned, crash EVERY subsequent sync's bucket
    * cast before retention could purge it — a permanent poison row.
    */
  def parse(lines: DataFrame, lineCol: String = "line"): DataFrame = {
    val f = split(stripAll(col(lineCol)), "\\s+")
    def finite(c: Column): Column =
      when(!isnan(c) && abs(c) =!= Double.PositiveInfinity, c)
    lines.select(f.as("_f"))
      .select(
        when(size(col("_f")) === 3, col("_f").getItem(0)).as("path"),
        when(size(col("_f")) === 3,
          finite(expr("try_cast(_f[2] AS DOUBLE)"))).as("timestamp"),
        when(size(col("_f")) === 3,
          finite(expr("try_cast(_f[1] AS DOUBLE)"))).as("value"))
  }

  /** Leading/trailing whitespace of ANY kind removed — Python's
    * `str.strip()`, where Spark's `trim` is spaces-only.
    */
  private def stripAll(c: Column): Column =
    regexp_replace(c, "^\\s+|\\s+$", "")

  /** A parsed micro-batch with its per-batch counts, gathered in ONE
    * parse pass: the parsed rows are materialized once
    * (`localCheckpoint`), and the counts ride that job as observed
    * metrics (`Dataset.observe`) — the parse never runs twice and
    * counting costs no job of its own. The metrics are read from the
    * checkpoint's own query execution as soon as it returns, not through
    * an `Observation`, which completes later on the listener bus.
    *
    * Fails closed: if the observed counts are missing or unreadable, a
    * count job over the materialization recounts them — `bad` never
    * defaults to 0, which would store a malformed batch.
    *
    * @param nonSelf good rows whose path does NOT start with the
    *                daemon's self-metric prefix (all good rows when no
    *                prefix) — the reference's `non_self_count`
    *                (daemon.py:176-178).
    */
  final case class ParsedBatch(rows: DataFrame, total: Long, bad: Long, nonSelf: Long)

  def parseCounted(
      lines: DataFrame,
      lineCol: String = "line",
      selfPrefix: Option[String] = None): ParsedBatch = {
    val exploded = lines
      .select(explode(split(col(lineCol), "\n")).as("line"))
      // any-whitespace blank filter: a bare '\r' keepalive (CRLF
      // senders) is a BLANK line, not a malformed one that would
      // batch-drop real data under the strict mode
      .filter(stripAll(col("line")) =!= "")
    val isBad =
      col("path").isNull || col("timestamp").isNull || col("value").isNull
    val isSelf = selfPrefix match {
      case Some(p) => col("path").startsWith(p + ".")
      case None => lit(false)
    }
    val counts = Seq(
      count(lit(1)).as("total"),
      count_if(isBad).as("bad"),
      count_if(!isBad && !isSelf).as("non_self"))
    val observed = parse(exploded).observe("parse_counts", counts.head, counts.tail: _*)
    val parsed = observed.localCheckpoint(true)
    val (total, bad, nonSelf) =
      countsOf(observed.queryExecution.observedMetrics.get("parse_counts")).getOrElse {
        val r = parsed.select(counts: _*).head()
        (r.getLong(0), r.getLong(1), r.getLong(2))
      }
    ParsedBatch(parsed, total, bad, nonSelf)
  }

  /** (total, bad, non_self) of an observed metrics row; None when the
    * row or any count is missing or not a long.
    */
  private[ingest] def countsOf(metrics: Option[Row]): Option[(Long, Long, Long)] =
    metrics.flatMap { row =>
      def long(name: String): Option[Long] =
        Try(row.getAs[Any](name)).toOption.collect { case l: java.lang.Long => l.longValue }
      for (t <- long("total"); b <- long("bad"); n <- long("non_self")) yield (t, b, n)
    }

  /** Batch-atomic parse (SURVEY.md §2.9 Q3): the reference drops the WHOLE
    * datagram/connection batch when any one line fails to parse
    * (daemon.py:39-47, ValueError caught per-request). Throwing here from
    * inside `foreachBatch` reproduces that: the batch is rejected as a
    * unit.
    */
  def parseStrict(lines: DataFrame, lineCol: String = "line"): DataFrame = {
    val pb = parseCounted(lines, lineCol)
    if (pb.bad > 0)
      throw new ParseException("malformed line(s) in batch; batch dropped")
    pb.rows
  }
}
