package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{DotProduct, Int8Dot, MarkerCount, MinHashes, PackInt8, PolyHash, ShingleHashes, SimHash, SrpKey, TokenStats, TokenSuccessors, WindowPolyHashes}

/** Session extension registering the engine's custom codegen expressions
  * as SQL functions, so `spark.sql` users get them too:
  *
  * {{{
  * SparkSession.builder().withExtensions(new GraftExtensions).getOrCreate()
  * spark.sql("SELECT poly_hash(text), dot_product(a, b) FROM t")
  * }}}
  *
  * Registered via the public `injectFunction` extension point — the same
  * mechanism a packaged Spark library would use on a real cluster
  * (`spark.sql.extensions=graft.GraftExtensions`). An already-running
  * session takes the same functions through [[GraftExtensions.register]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.Functions.foreach { case (name, usage, build) =>
      ext.injectFunction(
        (FunctionIdentifier(name), new ExpressionInfo("graft", name, usage), build))
    }
}

object GraftExtensions {

  /** One SQL function: `name`, its usage line, and its builder, which
    * refuses any other argument count than `arity`. */
  private def fn(
      name: String,
      usage: String,
      arity: Int,
      build: Seq[Expression] => Expression) = (
    name,
    usage,
    (exprs: Seq[Expression]) => {
      require(exprs.length == arity, s"$name expects $arity argument(s)")
      build(exprs)
    })

  /** Every function the extension registers. */
  private val Functions: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    fn("poly_hash",
      "poly_hash(str) - portable polynomial rolling hash (mod 1e9+7)",
      1, es => PolyHash(es.head)),
    fn("dot_product",
      "dot_product(a, b) - strict left-to-right dot product of two array<double>",
      2, es => DotProduct(es(0), es(1))),
    fn("simhash",
      "simhash(arr, bits) - SimHash signature of an array<bigint> feature-hash set",
      2, es => SimHash(es(0), litInt(es(1), "simhash bits"))),
    fn("srp_key",
      "srp_key(vec, startBit, rows) - packed SRP-LSH sign bits of an array<double>",
      3, es => SrpKey(es(0), litInt(es(1), "srp_key startBit"),
        litInt(es(2), "srp_key rows"))),
    fn("shingle_hashes",
      "shingle_hashes(text, n) - distinct poly-hashes of word n-gram shingles",
      2, es => ShingleHashes(es(0), litInt(es(1), "shingle_hashes n"))),
    fn("min_hashes",
      "min_hashes(arr, k) - the k universal-hash minima of an array<bigint>",
      2, es => MinHashes(es(0), litInt(es(1), "min_hashes k"))),
    fn("token_stats",
      "token_stats(text) - struct(n_tokens, sum_len, n_distinct) of whitespace tokens",
      1, es => TokenStats(es.head)),
    fn("token_successors",
      "token_successors(arr) - array of (prev, cur) successor-pair structs; the last element's cur is NULL",
      1, es => TokenSuccessors(es.head)),
    fn("marker_count",
      "marker_count(text, array('w', ...)) - whitespace tokens that are members of the constant word set",
      2, es => MarkerCount(es(0), litStrings(es(1), "marker_count words"))),
    fn("pack_int8",
      "pack_int8(array<int>) - pack int8-range ints into a binary, failing loudly on overflow",
      1, es => PackInt8(es.head)),
    fn("int8_dot",
      "int8_dot(a, b) - exact integer dot product of two binary int8 vectors, as bigint",
      2, es => Int8Dot(es(0), es(1))),
    fn("window_poly_hashes",
      "window_poly_hashes(toks, w) - rolling hash of every length-w stride-1 token window (per-token poly_hash folded with base 1000003 mod 1e9+7)",
      2, es => WindowPolyHashes(es(0),
        litInt(es(1), "window_poly_hashes window"))))

  /** The integer value of a constant argument (SQL-surface params like
    * simhash's bit width must be compile-time constants). Any FOLDABLE
    * integral expression is accepted — `32`, `32L`, `CAST(32 AS INT)`,
    * `8 * 4` — and resolution failures surface as AnalysisException like
    * every other function-resolution error.
    */
  private[graft] def litInt(e: Expression, what: String): Int = {
    def fail(): Nothing = throw new org.apache.spark.sql.AnalysisException(
      "USER_RAISED_EXCEPTION",
      Map("errorMessage" -> s"$what must be an integer constant, got ${e.sql}"))
    if (!e.foldable) fail()
    e.eval() match {
      case i: Int => i
      case l: Long if l.isValidInt => l.toInt
      case s: Short => s.toInt
      case b: Byte => b.toInt
      case _ => fail()
    }
  }

  /** The string elements of a constant array argument (lexicons on the
    * SQL surface must be compile-time constants, like litInt's params).
    */
  private[graft] def litStrings(e: Expression, what: String): Seq[String] = {
    def fail(): Nothing = throw new org.apache.spark.sql.AnalysisException(
      "USER_RAISED_EXCEPTION",
      Map("errorMessage" -> s"$what must be a constant array of strings, got ${e.sql}"))
    if (!e.foldable) fail()
    e.eval() match {
      case a: org.apache.spark.sql.catalyst.util.ArrayData =>
        e.dataType match {
          case org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.StringType, _) =>
            (0 until a.numElements()).map { i =>
              if (a.isNullAt(i)) fail()
              else a.getUTF8String(i).toString
            }
          case _ => fail()
        }
      case _ => fail()
    }
  }

  /** Imperative registration for an already-running session
    * (`withExtensions` only applies at session creation). Idempotent:
    * a function the session already has is left as it is.
    */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    Functions.foreach { case (name, _, build) =>
      org.apache.spark.sql.graftglue.Glue.registerFunction(spark, name, build)
    }
}
