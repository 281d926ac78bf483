package perfbench

/** Minimal JSON: a writer for the result line and a reader for the
  * engine's `/graph` and `/` responses. No JSON library ships with the
  * engine's dependency set.
  */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")

  /** Parse a JSON text into Map / Vector / String / Double / Boolean / null. */
  def parse(s: String): Any = {
    var i = 0
    def ws(): Unit = while (i < s.length && s(i).isWhitespace) i += 1
    def value(): Any = {
      ws()
      s(i) match {
        case '{' =>
          i += 1; ws()
          val m = scala.collection.mutable.LinkedHashMap.empty[String, Any]
          if (s(i) == '}') i += 1
          else {
            var more = true
            while (more) {
              ws(); val k = string(); ws(); expect(':')
              m(k) = value(); ws()
              if (s(i) == ',') i += 1 else { expect('}'); more = false }
            }
          }
          m.toMap
        case '[' =>
          i += 1; ws()
          val b = Vector.newBuilder[Any]
          if (s(i) == ']') i += 1
          else {
            var more = true
            while (more) {
              b += value(); ws()
              if (s(i) == ',') i += 1 else { expect(']'); more = false }
            }
          }
          b.result()
        case '"' => string()
        case 't' => i += 4; true
        case 'f' => i += 5; false
        case 'n' => i += 4; null
        case _ =>
          val st = i
          while (i < s.length && "+-0123456789.eE".indexOf(s(i)) >= 0) i += 1
          s.substring(st, i).toDouble
      }
    }
    def expect(c: Char): Unit = {
      require(s(i) == c, s"JSON: expected '$c' at $i")
      i += 1
    }
    def string(): String = {
      expect('"')
      val b = new StringBuilder
      while (s(i) != '"') {
        if (s(i) == '\\') {
          i += 1
          s(i) match {
            case 'n' => b += '\n'
            case 'r' => b += '\r'
            case 't' => b += '\t'
            case 'u' => b += Integer.parseInt(s.substring(i + 1, i + 5), 16).toChar; i += 4
            case c => b += c
          }
        } else b += s(i)
        i += 1
      }
      i += 1
      b.toString
    }
    val v = value()
    ws()
    require(i == s.length, "JSON: trailing text")
    v
  }
}
