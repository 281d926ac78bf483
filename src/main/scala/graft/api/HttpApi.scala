package graft.api

import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets.UTF_8

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}

import graft.Tsdb

/** Thin JSON read endpoint over the engine API — the reference's Flask
  * app surface (app/__init__.py:169-232, wsgi.py:1-18) minus the Bokeh
  * rendering, which SURVEY §3.3 scopes out of the engine:
  *
  *  - `GET /graph?metrics.0.name=…&metrics.0.period=…&…` — the /graph
  *    route (app/__init__.py:169-210): [[Graph.parseRequest]] decodes the
  *    flattened query string, [[Graph.graphData]] reads every requested
  *    metric in one Spark query (one job on a materialized store) and
  *    orders each series on the driver, and the response is the series
  *    list as JSON instead of a rendered Bokeh page. A bad stat or period
  *    in any position is a 400 before any Spark work.
  *  - `GET /` — the metrics index (app/__init__.py:213-227): list of all
  *    known metric paths, with optional echoed start/end.
  *
  * JDK-builtin `com.sun.net.httpserver` only — no web framework exists in
  * the dependency set, and the reference's own server is equally thin
  * (Flask dev server / wsgi.py). The default `threads = 1` serves one
  * Spark-driving request at a time — the intended interactive load, same
  * as the reference's dev server. `threads > 1` adds a small fixed pool
  * so a cheap request (the `/` index) isn't stuck behind a slow `/graph`
  * query; Spark's scheduler handles the concurrent jobs (FIFO), so the
  * knob trades head-of-line latency, not correctness.
  */
final class HttpApi(
    tsdb: Tsdb,
    host: String = "127.0.0.1",
    port: Int = 0,
    threads: Int = 1)
    extends AutoCloseable {
  require(threads >= 1, s"threads must be >= 1, got $threads")

  private val server = HttpServer.create(new InetSocketAddress(host, port), 0)
  // null executor = the server's dispatcher thread serves requests one at
  // a time (reference-parity); a pool makes requests independent
  private val pool: Option[java.util.concurrent.ExecutorService] =
    if (threads > 1)
      Some(java.util.concurrent.Executors.newFixedThreadPool(threads))
    else None
  pool.foreach(server.setExecutor)
  server.createContext("/graph", handler(graphRoute))
  server.createContext("/", handler(indexRoute))

  /** The actually-bound port (pass port=0 for an ephemeral one in tests). */
  def boundPort: Int = server.getAddress.getPort

  def start(): HttpApi = { server.start(); this }

  override def close(): Unit = {
    server.stop(0)
    pool.foreach(_.shutdownNow())
  }

  // ---------------------------------------------------------------- routes

  /** /graph: query string → parseRequest → graphData → JSON. */
  private def graphRoute(query: Map[String, String]): String = {
    val req = Graph.parseRequest(query, tsdb.now())
    val series = Graph.graphData(tsdb, req.metrics, req.interval)
    val items = series.map { s =>
      obj(
        "label" -> str(s.label),
        "timestamps_ms" -> arr(s.timestampsMs.map(num)),
        "values" -> arr(s.values.map(_.fold("null")(num))))
    }
    obj(
      "title" -> req.title.fold("null")(str),
      "label" -> req.label.fold("null")(str),
      "points" -> req.points.toString,
      "start" -> num(req.interval._1),
      "end" -> num(req.interval._2),
      "series" -> arr(items))
  }

  /** /: the metrics index — every known path, optional echoed window
    * (app/__init__.py:213-227; start/end are parsed but only echoed).
    */
  private def indexRoute(query: Map[String, String]): String =
    obj(
      "metrics" -> arr(
        tsdb.listMetrics().collect().map(r => str(r.getString(0))).toSeq),
      "start" -> query.get("start").map(Datetimes.parse).fold("null")(num),
      "end" -> query.get("end").map(Datetimes.parse).fold("null")(num))

  // ------------------------------------------------------------- plumbing

  private def handler(route: Map[String, String] => String): HttpHandler =
    new HttpHandler {
      def handle(ex: HttpExchange): Unit =
        try {
          // the index context ("/") is the server's catch-all: anything
          // that isn't exactly / or /graph is a 404, like Flask's router
          val path = ex.getRequestURI.getPath
          if (path != "/" && path != "/graph")
            respond(ex, 404, obj("error" -> str(s"no route: $path")))
          else if (ex.getRequestMethod != "GET")
            respond(ex, 405, obj("error" -> str("GET only")))
          else respond(ex, 200, route(parseQuery(ex.getRequestURI.getRawQuery)))
        } catch {
          // a failure AFTER the headers went out (a client that
          // disconnected mid-body) cannot be answered again:
          // sendResponseHeaders on the same exchange throws
          // IllegalStateException out of handle(), masking the benign
          // disconnect with a misleading stack trace — swallow the
          // second respond's failure
          case e: IllegalArgumentException =>
            try respond(ex, 400,
              obj("error" -> str(String.valueOf(e.getMessage))))
            catch { case _: Exception => () }
          case e: Throwable =>
            try respond(ex, 500, obj("error" -> str(e.toString)))
            catch { case _: Exception => () }
        } finally ex.close()
    }

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json; charset=utf-8")
    ex.sendResponseHeaders(code, bytes.length.toLong)
    ex.getResponseBody.write(bytes)
  }

  /** Decode `a=1&b=2`; first occurrence wins, matching Flask's
    * `request.args` MultiDict reads in the reference routes.
    */
  private[api] def parseQuery(raw: String): Map[String, String] =
    if (raw == null || raw.isEmpty) Map.empty
    else raw.split("&").iterator.filter(_.nonEmpty).foldLeft(Map.empty[String, String]) {
      (acc, pair) =>
        val (k, v) = pair.split("=", 2) match {
          case Array(k, v) => (dec(k), dec(v))
          case Array(k) => (dec(k), "")
        }
        if (acc.contains(k)) acc else acc + (k -> v)
    }

  private def dec(s: String): String = URLDecoder.decode(s, UTF_8)

  // Minimal JSON writers — the payload is flat enough that a dependency
  // (none is available offline anyway) would be overkill.
  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  private def arr(items: Seq[String]): String = items.mkString("[", ",", "]")

  private def obj(fields: (String, String)*): String =
    fields.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
