package graft.api

import graft.Tsdb

/** The web UI's graph-data preparation — reference `make_graph`'s data
  * path (app/__init__.py:85-155) minus the Bokeh rendering, exposed as
  * an engine API so any front end (or a JSON endpoint) can serve the
  * reference's `/graph` route.
  *
  * One request is one Spark query: every metric tuple (name, period,
  * stat) becomes one leg of a single [[Tsdb.getMetrics]] read over the
  * closed interval, collected once and ordered by timestamp on the
  * driver (the reference calls get_metric per metric,
  * app/__init__.py:116). Per series:
  *  - an empty series becomes the `[[0],[0]]` placeholder so the graph
  *    "looks right" with at least one point (app/__init__.py:118-121);
  *  - timestamps are scaled ×1000 — the consumer (Bokeh, and most JS
  *    plotting libs) treats datetime axes as milliseconds
  *    (app/__init__.py:122-123);
  *  - the legend label is the metric's short name: `make_short_names`
  *    keeps exactly the tuple positions whose value varies across the
  *    requested metrics, space-joined, position 0 when nothing varies
  *    (app/__init__.py:72-82).
  *
  * The collect is intentional: this is the interactive read endpoint —
  * a bounded time window of pre-aggregated buckets for one page, not a
  * data-scale pipeline stage.
  */
object Graph {

  /** One metric reference as the /graph route names it. */
  final case class MetricSpec(name: String, period: String, stat: String)

  /** One prepared series: legend label, millisecond timestamps, values.
    * A value is None when the stored stat is NULL for that bucket.
    */
  final case class Series(
      label: String,
      timestampsMs: Seq[Double],
      values: Seq[Option[Double]])

  /** Reference make_short_names (app/__init__.py:72-82), on any tuples:
    * keep the positions that vary across tuples (position 0 if none),
    * space-join the kept parts.
    */
  def shortNames(tuples: Seq[Seq[String]]): Seq[String] = {
    require(tuples.nonEmpty, "shortNames of no tuples")
    val keep = varyingPositions(tuples)
    tuples.map(t => keep.map(t(_)).mkString(" "))
  }

  /** The keep-varying-positions core of make_short_names — ONE
    * definition shared with [[Flat.shortenLabels]] (the dotted-string
    * convenience form), so a fix to the reference semantics can never
    * reach one shortener and not the other.
    */
  private[api] def varyingPositions(tuples: Seq[Seq[String]]): Seq[Int] = {
    val tlen = tuples.head.size
    val varying = (0 until tlen).filter(i => tuples.map(_(i)).distinct.size != 1)
    if (varying.isEmpty) Seq(0) else varying
  }

  /** The /graph route's metric filter: drop entries whose name is blank
    * (app/__init__.py:174).
    */
  def nonBlank(metrics: Seq[MetricSpec]): Seq[MetricSpec] =
    metrics.filter(_.name.trim.nonEmpty)

  /** The parsed /graph request: everything the route extracts from its
    * query string before rendering (app/__init__.py:170-197).
    */
  final case class GraphRequest(
      metrics: Seq[MetricSpec],
      interval: (Double, Double),
      title: Option[String],
      label: Option[String],
      points: Boolean)

  /** Parse a flat query-string map the way the /graph route does:
    * [[Flat.unflatten]] rebuilds `metrics.N.name/period/stat` into the
    * metric list (blank names dropped), start/end parse via
    * [[Datetimes.parse]] with the default last-hour window ending at
    * `now` truncated to the minute, and `points` is truthy-string
    * (app/__init__.py:172-196). A thin HTTP layer need only call this
    * and [[graphData]].
    */
  def parseRequest(query: Map[String, String], now: Double): GraphRequest = {
    val nested = Flat.unflatten(query) match {
      case m: Map[_, _] => m.asInstanceOf[Map[String, Any]]
      case _ => Map.empty[String, Any]
    }
    // only STRING leaves count: a key nesting below name/period/stat
    // (e.g. metrics.0.name.x=1) yields a non-string there, which must
    // read as "missing" — an erased cast would surface later as an
    // undiagnosable ClassCastException instead of a blank-name drop
    def str(m: Map[_, _], k: String): String =
      m.asInstanceOf[Map[String, Any]].get(k) match {
        case Some(s: String) => s
        case _ => ""
      }
    val metrics = nested.getOrElse("metrics", Seq.empty) match {
      case s: Seq[_] => s.collect { case m: Map[_, _] =>
        MetricSpec(str(m, "name"), str(m, "period"), str(m, "stat"))
      }
      case _ => Seq.empty[MetricSpec]
    }
    val (defStart, defEnd) = Datetimes.defaultInterval(now)
    GraphRequest(
      nonBlank(metrics),
      (query.get("start").map(Datetimes.parse).getOrElse(defStart),
        query.get("end").map(Datetimes.parse).getOrElse(defEnd)),
      query.get("title"),
      query.get("label"),
      points = query.get("points").exists(_.nonEmpty))
  }

  /** Prepare every requested series for plotting, in request order,
    * from one [[Tsdb.getMetrics]] read. An empty metric list yields an
    * empty graph (no series) — [[parseRequest]] legitimately produces it
    * for a bare /graph request, and a 500 (what the reference does via
    * make_short_names' tuples[0]) helps nobody.
    */
  def graphData(
      tsdb: Tsdb,
      metrics: Seq[MetricSpec],
      interval: (Double, Double)): Seq[Series] = {
    if (metrics.isEmpty) return Seq.empty
    val labels = shortNames(metrics.map(m => Seq(m.name, m.period, m.stat)))
    val series =
      tsdb.getMetrics(metrics.map(m => (m.name, m.period, m.stat)), interval)
    labels.zip(series).map { case (label, rows) =>
      if (rows.isEmpty) Series(label, Seq(0.0), Seq(Some(0.0)))
      else Series(
        label,
        rows.map(_.getDouble(0) * 1000),
        rows.map(r => if (r.isNullAt(1)) None else Some(r.getDouble(1))))
    }
  }
}
