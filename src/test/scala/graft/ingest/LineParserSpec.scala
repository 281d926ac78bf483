package graft.ingest

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class LineParserSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("wire order (path, value, timestamp) reorders to (path, timestamp, value)") {
    val got = LineParser.parse(Seq("one 1 1", "two 2.5 99.5").toDF("line"))
      .collect().toSeq.map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    assert(got == Seq(("one", 1.0, 1.0), ("two", 99.5, 2.5)))
  }

  test("whitespace runs and surrounding blanks are tolerated (str.split parity)") {
    val got = LineParser.parse(Seq("  one   1\t12  ").toDF("line"))
      .collect().toSeq.map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    assert(got == Seq(("one", 12.0, 1.0)))
  }

  test("lenient parse nulls malformed lines") {
    val got = LineParser.parse(Seq("one 1", "one x 2", "ok 3 4").toDF("line"))
      .collect()
    assert(got.count(_.isNullAt(0)) == 1)     // "one 1": wrong arity
    assert(got.count(r => !r.isNullAt(0) && r.isNullAt(2)) == 1) // bad float
  }

  test("strict parse is batch-atomic: one bad line rejects the whole batch (Q3)") {
    val bad = Seq("one 1 1\ntwo x 5").toDF("line")
    intercept[LineParser.ParseException] {
      LineParser.parseStrict(bad).collect()
    }
    val good = Seq("one 1 1\ntwo 2 5", "three 3 6\n").toDF("line")
    assert(LineParser.parseStrict(good).count() == 3)
  }

  test("CRLF senders parse clean: trailing \\r strips like Python's " +
    "strip(), a bare \\r keepalive is a BLANK line not a batch-dropping " +
    "bad one, and tab indentation tolerates") {
    val got = LineParser.parseStrict(
      Seq("one 1 2\r\ntwo 3 4\r\n\r\n\tthree 5 6\r").toDF("line"))
      .collect().toSeq.map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
      .sorted
    assert(got == Seq(("one", 2.0, 1.0), ("three", 6.0, 5.0),
      ("two", 4.0, 3.0)))
  }

  test("non-finite numerics are MALFORMED: a NaN timestamp would " +
    "poison the partitioned insert's ANSI day cast (or crash-loop " +
    "every later sync), so the line refuses at the parse") {
    for (line <- Seq("one 1 NaN", "one 1 Infinity", "one NaN 2",
        "one -Infinity 2")) {
      val pb = LineParser.parseCounted(Seq(line).toDF("line"))
      assert(pb.bad == 1L, line)
    }
    // ordinary extreme doubles still parse
    assert(LineParser.parseCounted(
      Seq("one 1e300 2").toDF("line")).bad == 0L)
  }

  test("counts ride the parse checkpoint as observed metrics: one job " +
    "per batch, exact for mixed, empty and all-malformed batches") {
    val cases = Seq(
      Seq("one 1 1\ntwo x 5", "graft.d.insert 3 4\n", "three 2") -> (4L, 2L, 1L),
      Seq.empty[String] -> (0L, 0L, 0L),
      Seq("x", "y 1", "z 1 q\nNaN") -> (4L, 4L, 0L))
    for ((lines, (total, bad, nonSelf)) <- cases) {
      val (pb, jobs) = org.apache.spark.JobCounter(spark.sparkContext)(
        LineParser.parseCounted(lines.toDF("line"), selfPrefix = Some("graft.d")))
      assert((pb.total, pb.bad, pb.nonSelf) == ((total, bad, nonSelf)), lines)
      assert(jobs <= 1, s"$lines: the counts must not run a job of their own")
    }
  }

  test("observed counts fail closed: missing or null metrics read as " +
    "unknown, never as zero bad lines") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
    import org.apache.spark.sql.types._
    val schema = StructType(Seq("total", "bad", "non_self")
      .map(StructField(_, LongType)))
    assert(LineParser.countsOf(None).isEmpty)
    assert(LineParser.countsOf(Some(
      new GenericRowWithSchema(Array[Any](3L, null, 3L), schema))).isEmpty)
    assert(LineParser.countsOf(Some(Row(3L, 1L, 2L))).isEmpty) // no field names
    assert(LineParser.countsOf(Some(
      new GenericRowWithSchema(Array[Any](3L, 1L, 2L), schema))) == Some((3L, 1L, 2L)))
  }
}
