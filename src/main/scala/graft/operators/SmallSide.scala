package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, try_element_at}
import org.apache.spark.sql.types.StructType

/** The driver-side small-side step every route shares: a frame that is
  * known or proven small is collected once, settled on the driver, and
  * handed back to the plan as a local relation or an inlined value —
  * the one-process settlement of the reference, taken only within one
  * driver budget and falling back to the distributed frames above it.
  *
  *  - [[onDriver]]: the one test for a frame that is already
  *    driver-local (collecting it runs no job);
  *  - [[collectWithin]] / [[collectAll]]: the one collect — one job on
  *    one task, none for a driver-local frame;
  *  - [[frame]]: collected or driver-made rows as a local relation;
  *  - [[withProbes]]: a scan meeting its probe rows, inlined when they
  *    are driver-local and few;
  *  - [[MaxDriverBytes]] with [[rowBytes]] and [[maxRows]]: the one
  *    budget, in bytes, and the rows of a given shape it holds.
  */
private[operators] object SmallSide {

  /** The driver heap one small-side step may hold: 64 MiB, a sixteenth
    * of Spark's default 1 GiB driver, estimated by [[rowBytes]]. Every
    * driver route (the layout probe's query batch, the substring
    * probe's positions and history sliver, the components edge list)
    * spends it; a step over it takes the distributed route. */
  val MaxDriverBytes: Long = 1L << 26

  /** Driver bytes of a collected `Row`, excluding its values: the Row
    * and its value array, its slot in the collected array and the
    * UnsafeRow it was decoded from. */
  private val RowBytes = 48L

  /** Driver bytes of one value (a scalar or one array element) of a
    * collected `Row`: a 16-byte box, its reference and its 8 bytes in
    * the UnsafeRow. */
  private val ValueBytes = 24L

  /** The estimated driver bytes of one collected `Row` of `values`
    * values, array elements counted one by one: about 100 bytes for a
    * two-long row, 48 + 24·dim for a `dim`-double vector. */
  def rowBytes(values: Long): Long = RowBytes + ValueBytes * values

  /** How many rows of `rowBytes` each fit `maxBytes`; negative when the
    * budget is (no driver step at all). */
  def maxRows(rowBytes: Long, maxBytes: Long = MaxDriverBytes): Long =
    if (maxBytes < 0) -1L else maxBytes / rowBytes.max(1L)

  /** Does `df` optimize to a driver-local relation (a Project over a
    * LocalRelation folds into one — ConvertToLocalRelation), so that
    * collecting it runs no job? */
  def onDriver(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]

  /** `df` on one partition for a collect: a bare collect runs one task
    * per partition, a bare `limit(n).collect()` escalates 1 → 4 → 16
    * partitions over several jobs; a driver-local frame runs none, and
    * a coalesce there would create the very job it avoids. */
  private def onePartition(df: DataFrame): DataFrame =
    if (onDriver(df)) df else df.coalesce(1)

  /** `df`'s rows when there are at most `maxRows` of them, else None
    * (also, without a job, when `maxRows` is negative): an overflow row
    * of the `limit(maxRows + 1)` proves the bound broken without a
    * count. One job, none for a driver-local frame. */
  def collectWithin(df: DataFrame, maxRows: Long): Option[Array[Row]] =
    if (maxRows < 0) None
    else {
      val n = math.min(maxRows, Int.MaxValue - 1L).toInt
      val rows = onePartition(df).limit(n + 1).collect()
      if (rows.length > n) None else Some(rows)
    }

  /** Every row of a frame bounded by its caller's own contract (a
    * centroid set of `k` rows) — one job, none for a driver-local
    * frame. */
  def collectAll(df: DataFrame): Array[Row] = onePartition(df).collect()

  /** `rows` under `schema` as a driver-local relation. */
  def frame(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, schema)
  }

  /** Values (array elements, 8 bytes of a binary, scalars) a probe side
    * may carry inlined before [[withProbes]] broadcasts it instead. */
  private val InlineProbeMaxValues: Long = 1L << 16

  /** Meet a scan with its probe rows on `key`. A driver-local probe side
    * within [[InlineProbeMaxValues]] rides into the scan as ONE inlined
    * map value (key → its probe rows, exploded per scan row), which
    * costs no job where a broadcast of even a LocalRelation schedules
    * one; any other probe side joins, broadcast when `broadcastProbes`.
    * (A distributed route's probe side that Catalyst proves empty folds
    * to a LocalRelation too, and inlines as an empty map.)
    */
  def withProbes(
      scan: DataFrame,
      probes: DataFrame,
      key: String,
      broadcastProbes: Boolean): DataFrame = {
    def values(r: Row): Long = r.toSeq.map {
      case s: Seq[_] => s.size.toLong
      case b: Array[Byte] => b.length / 8L + 1
      case _ => 1L
    }.sum
    val inline =
      if (!onDriver(probes)) None
      else Some(probes.collect()).filter(_.iterator.map(values).sum <=
        InlineProbeMaxValues)
    inline match {
      case Some(rows) =>
        import org.apache.spark.sql.types.{ArrayType, MapType}
        val at = probes.schema.fieldIndex(key)
        val byKey = rows.groupBy(_.get(at)).map { case (kv, rs) =>
          kv -> rs.toSeq.map(r =>
            Row.fromSeq(r.toSeq.patch(at, Nil, 1)))
        }
        val inlined = graft.functions.Inlined(byKey,
          MapType(probes.schema(key).dataType,
            ArrayType(StructType(probes.schema.fields.patch(at, Nil, 1)))),
          s"probes[${rows.length} by $key]")
        scan.select(col("*"),
          org.apache.spark.sql.functions.inline(try_element_at(inlined, col(key))))
      case None =>
        scan.join(if (broadcastProbes) broadcast(probes) else probes, Seq(key))
    }
  }
}
