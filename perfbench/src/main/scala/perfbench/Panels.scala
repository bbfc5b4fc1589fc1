package perfbench

import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods.{compact, render}

/** The two dashboards and the saved log search the dashboard workloads
  * load, as exported-dashboard ndjson lines, plus an independent SQL
  * formulation of every panel that checks what the engine returns.
  *
  * Together the panels use the whole aggregation vocabulary of the
  * reference's data-skew export: cardinality, sum, max, avg,
  * percentiles, a range over the four skew buckets, a 3-level top-5
  * terms tree, auto `date_histogram` with a saved `now-6M` range, kuery
  * filters, and the dashboards' `match_phrase` filter on appName.
  */
object Panels {
  final case class Index(id: String, title: String, timeField: String,
      table: String)
  val StageIdx = Index("ip-stage", "spark-stage-agg-metrics*", "metricTime",
    "spark-stage-agg-metrics")
  val TaskIdx = Index("ip-task", "spark-task-metrics*", "metricTime",
    "spark-task-metrics")
  val LogIdx = Index("ip-logs", "spark-logs*", "logTime", "spark-logs")
  val Indexes = Seq(StageIdx, TaskIdx, LogIdx)

  final case class Metric(id: String, kind: String, field: String,
      label: String, percents: Seq[Int] = Nil)
  final case class Bucket(kind: String, field: String, size: Int = 5,
      orderBy: String = "_count", ranges: Seq[(Double, Double)] = Nil)
  /** `kuery` is the saved query and `sql` the same predicate in SQL. */
  final case class Filter(kuery: String, sql: String)
  final case class Panel(id: String, title: String, idx: Index,
      filter: Option[Filter], metrics: Seq[Metric], buckets: Seq[Bucket])
  final case class Search(id: String, title: String, idx: Index,
      filter: Filter, columns: Seq[String], sortField: String)
  final case class Dashboard(id: String, title: String, members: Seq[String])

  val SkewRanges = Seq((0.0, 0.1), (0.1, 0.5), (0.5, 0.8), (0.8, 1.01))
  /** `now-6M` over at most 50 buckets resolves to the 1-week rung. */
  val SixMonthRungMs: Long = 7L * 86400000L
  val SixMonths = "6 months"

  val panels: Seq[Panel] = Seq(
    Panel("a1", "Applications", StageIdx, None,
      Seq(Metric("1", "cardinality", "appId.keyword", "Applications")), Nil),
    Panel("a2", "Input skew buckets", StageIdx, None,
      Seq(Metric("1", "count", "", "Stages")),
      Seq(Bucket("range", "inputBytesReadSkewness", ranges = SkewRanges))),
    Panel("a4", "Top skewed stages", StageIdx, None,
      Seq(Metric("1", "max", "inputBytesReadSkewness", "Max skew")),
      Seq(Bucket("terms", "appId.keyword", orderBy = "1"),
        Bucket("terms", "jobId.keyword", orderBy = "1"),
        Bucket("terms", "stageId", orderBy = "1"))),
    Panel("a5", "Skew over time", StageIdx, None,
      Seq(Metric("1", "avg", "inputBytesReadSkewness", "Avg skew")),
      Seq(Bucket("date_histogram", "metricTime"))),
    Panel("a6", "Highly skewed apps", StageIdx,
      Some(Filter("inputBytesReadSkewness >= 0.8", "inputBytesReadSkewness >= 0.8")),
      Seq(Metric("1", "count", "", "Stages")),
      Seq(Bucket("terms", "appId.keyword"))),
    Panel("b1", "Run time percentiles", TaskIdx, None,
      Seq(Metric("1", "percentiles", "runTime", "Run time", Seq(50, 90, 99))), Nil),
    Panel("b2", "Executors by input", TaskIdx, None,
      Seq(Metric("1", "sum", "inputBytesRead", "Input bytes"),
        Metric("2", "max", "shuffleBytesRead", "Max shuffle read")),
      Seq(Bucket("terms", "executorId.keyword", orderBy = "1"))),
    Panel("b4", "CPU by app", TaskIdx, None,
      Seq(Metric("1", "percentiles", "executorCpuTime", "CPU", Seq(50, 95))),
      Seq(Bucket("terms", "appId.keyword"))),
    Panel("b6", "Error loggers", LogIdx,
      Some(Filter("level.name: ERROR", "level.name LIKE '%ERROR%'")),
      Seq(Metric("1", "count", "", "Errors")),
      Seq(Bucket("terms", "loggerName.keyword"))))

  val logSearch = Search("s1", "Spark Logs", LogIdx,
    Filter("level.name: ERROR or level.name: WARN",
      "(level.name LIKE '%ERROR%' OR level.name LIKE '%WARN%')"),
    Seq("logTime", "loggerName", "message", "thrownName"), "logTime")

  val dashboards = Seq(
    Dashboard("d-skew", "Spark Data Skew",
      panels.filter(_.idx == StageIdx).map(_.id)),
    Dashboard("d-tasks", "Spark Task Metrics",
      panels.filter(_.idx != StageIdx).map(_.id) :+ logSearch.id))

  /** Rows searched out by one saved-search op. */
  val SearchLimit = 50

  // ------------------------------------------------------------ ndjson

  private def line(v: JValue): String = compact(render(v))

  private def sourceJson(kuery: String): String = line(
    ("query" -> (("query" -> kuery) ~ ("language" -> "kuery"))) ~
      ("filter" -> JArray(Nil)))

  private def indexRef(idx: Index): JValue = JArray(List(
    ("id" -> idx.id) ~ ("name" -> "kibanaSavedObjectMeta.searchSourceJSON.index") ~
      ("type" -> "index-pattern")))

  def indexLine(idx: Index): String = line(
    ("type" -> "index-pattern") ~ ("id" -> idx.id) ~
      ("attributes" -> (("title" -> idx.title) ~ ("timeFieldName" -> idx.timeField))))

  def panelLine(p: Panel): String = {
    val metrics = p.metrics.map { m =>
      val params: JObject = ("field" -> m.field) ~ ("customLabel" -> m.label)
      ("id" -> m.id) ~ ("enabled" -> true) ~ ("type" -> m.kind) ~
        ("params" -> (if (m.percents.isEmpty) params
          else params ~ ("percents" -> m.percents))) ~ ("schema" -> "metric")
    }
    val buckets = p.buckets.zipWithIndex.map { case (b, i) =>
      val params: JObject = b.kind match {
        case "terms" => ("field" -> b.field) ~ ("size" -> b.size) ~
          ("orderBy" -> b.orderBy) ~ ("order" -> "desc")
        case "range" => ("field" -> b.field) ~ ("ranges" -> b.ranges.map {
          case (lo, hi) => ("from" -> lo) ~ ("to" -> hi) })
        case "date_histogram" => ("field" -> b.field) ~ ("interval" -> "auto") ~
          ("timeRange" -> (("from" -> "now-6M") ~ ("to" -> "now")))
      }
      ("id" -> s"b$i") ~ ("enabled" -> true) ~ ("type" -> b.kind) ~
        ("params" -> params) ~ ("schema" -> (if (i == 0) "segment" else "bucket"))
    }
    val vis = line(("type" -> "table") ~ ("title" -> p.title) ~
      ("aggs" -> JArray((metrics ++ buckets).toList)))
    line(("type" -> "visualization") ~ ("id" -> p.id) ~
      ("attributes" -> (("title" -> p.title) ~ ("visState" -> vis) ~
        ("kibanaSavedObjectMeta" -> ("searchSourceJSON" ->
          sourceJson(p.filter.fold("")(_.kuery)))))) ~
      ("references" -> indexRef(p.idx)))
  }

  def searchLine(s: Search): String = line(
    ("type" -> "search") ~ ("id" -> s.id) ~
      ("attributes" -> (("title" -> s.title) ~ ("columns" -> s.columns) ~
        ("sort" -> JArray(List(JArray(List(JString(s.sortField), JString("desc")))))) ~
        ("kibanaSavedObjectMeta" -> ("searchSourceJSON" -> sourceJson(s.filter.kuery))))) ~
      ("references" -> indexRef(s.idx)))

  /** A dashboard line scoped by the export's appName phrase filter. */
  def dashboardLine(d: Dashboard, members: Seq[String]): String = {
    val filter = line(
      ("query" -> (("query" -> "") ~ ("language" -> "kuery"))) ~
        ("filter" -> JArray(List(
          ("meta" -> (("negate" -> false) ~ ("disabled" -> false))) ~
            ("query" -> ("match_phrase" -> ("appName.keyword" -> Fleet.DashboardApp)))))))
    line(("type" -> "dashboard") ~ ("id" -> d.id) ~
      ("attributes" -> (("title" -> d.title) ~
        ("kibanaSavedObjectMeta" -> ("searchSourceJSON" -> filter)))) ~
      ("references" -> JArray(members.zipWithIndex.map { case (m, i) =>
        ("id" -> m) ~ ("name" -> s"panel_$i") ~
          ("type" -> (if (m == logSearch.id) "search" else "visualization"))
      }.toList)))
  }

  /** The full export a user would import. */
  def exportLines: Seq[String] =
    Indexes.map(indexLine) ++ panels.map(panelLine) ++ Seq(searchLine(logSearch)) ++
      dashboards.map(d => dashboardLine(d, d.members))

  /** The export cut down to one dashboard member: what one panel op
    * hands to the engine.
    */
  def memberLines(d: Dashboard, member: String): Seq[String] =
    Indexes.map(indexLine) ++
      panels.filter(_.id == member).map(panelLine) ++
      (if (member == logSearch.id) Seq(searchLine(logSearch)) else Nil) :+
      dashboardLine(d, Seq(member))

  // --------------------------------------------------- independent SQL

  /** The rows every member of a dashboard sees: the appName phrase
    * filter and the global time picker on the index's time field.
    */
  def scopeSql(view: String, idx: Index, nowMs: Long, range: String): String =
    s"SELECT * FROM $view WHERE appName = '${Fleet.DashboardApp}' AND " +
      timeCut(idx.timeField, nowMs, range)

  private def timeCut(field: String, nowMs: Long, range: String): String =
    s"$field >= timestamp_millis($nowMs) - INTERVAL $range AND " +
      s"$field <= timestamp_millis($nowMs)"

  private def colOf(field: String): String = field.stripSuffix(".keyword")
  private def cents(field: String): String =
    s"CAST(FLOOR(${colOf(field)} * 100) AS BIGINT)"

  private def fmt(d: Double): String =
    if (d == math.floor(d)) d.toLong.toString else d.toString

  private def label(b: Bucket): String = b.kind match {
    case "terms" => s"CAST(${colOf(b.field)} AS STRING)"
    case "range" =>
      b.ranges.map { case (lo, hi) =>
        s"WHEN ${b.field} >= $lo AND ${b.field} < $hi THEN '${fmt(lo)}-${fmt(hi)}'"
      }.mkString("CASE ", " ", " END")
    case "date_histogram" =>
      s"CAST(CAST(FLOOR(unix_millis(${b.field}) / $SixMonthRungMs) AS BIGINT) AS STRING)"
  }

  private def metricAgg(m: Metric): String = m.kind match {
    case "count" => "COUNT(*)"
    case "sum" => s"COALESCE(SUM(${cents(m.field)}), 0)"
    case "max" => s"COALESCE(MAX(${cents(m.field)}), 0)"
    case "avg" => s"CASE WHEN COUNT(${colOf(m.field)}) > 0 THEN " +
      s"SUM(${cents(m.field)}) DIV COUNT(${colOf(m.field)}) ELSE 0 END"
    case "cardinality" => s"COUNT(DISTINCT ${colOf(m.field)})"
  }

  private def orderAgg(p: Panel, b: Bucket): String =
    if (b.orderBy == "_count") "COUNT(*)"
    else metricAgg(p.metrics.find(_.id == b.orderBy).get)

  /** (bucket, metric, val) rows the panel must return, as one query. */
  def panelSql(p: Panel, scope: String, nowMs: Long): String = {
    val bs = p.buckets.indices.map(i => s"b$i")
    val where = (p.filter.map(_.sql).toSeq ++
      (if (p.buckets.exists(_.kind == "date_histogram"))
        Seq(timeCut(p.buckets.find(_.kind == "date_histogram").get.field,
          nowMs, SixMonths)) else Nil) ++
      bs.map(b => s"$b IS NOT NULL")).map(c => s"($c)")
    val labeled =
      s"SELECT * FROM (SELECT *${p.buckets.zip(bs).map { case (b, n) =>
        s", ${label(b)} AS $n" }.mkString} FROM ($scope) s0) s1" +
        (if (where.isEmpty) "" else where.mkString(" WHERE ", " AND ", ""))
    // survivors of each terms level, outermost first
    val survivors = p.buckets.indices.foldLeft(Option.empty[String]) { (prev, i) =>
      val b = p.buckets(i)
      val prefix = bs.take(i + 1)
      val parent = bs.take(i)
      val grouped = s"SELECT ${prefix.mkString(", ")}, ${orderAgg(p, b)} AS o " +
        s"FROM lab GROUP BY ${prefix.mkString(", ")}"
      val scoped = prev.fold(grouped)(s =>
        s"SELECT g.* FROM ($grouped) g LEFT SEMI JOIN ($s) s ON " +
          parent.map(c => s"g.$c = s.$c").mkString(" AND "))
      if (b.kind == "terms") {
        val part = if (parent.isEmpty) "" else parent.mkString("PARTITION BY ", ", ", " ")
        Some(s"SELECT ${prefix.mkString(", ")} FROM (SELECT *, ROW_NUMBER() OVER " +
          s"($part ORDER BY o DESC, b$i ASC) AS rk FROM ($scoped) x) y WHERE rk <= ${b.size}")
      } else prev.map(_ => s"SELECT ${prefix.mkString(", ")} FROM ($scoped) z")
    }
    val kept = survivors.fold("lab")(s =>
      s"(SELECT l.* FROM lab l LEFT SEMI JOIN ($s) k ON " +
        bs.map(c => s"l.$c = k.$c").mkString(" AND ") + ")")
    val bucket = if (bs.isEmpty) "'all'" else bs.mkString("concat_ws('/', ", ", ", ")")
    val groupBy = if (bs.isEmpty) "" else bs.mkString(" GROUP BY ", ", ", "")
    val plain = p.metrics.filter(_.kind != "percentiles").map { m =>
      s"SELECT $bucket AS bucket, '${m.label}' AS metric, " +
        s"CAST(${metricAgg(m)} AS BIGINT) AS val FROM $kept k$groupBy"
    }
    val pct = p.metrics.filter(_.kind == "percentiles").map { m =>
      val keys = bs.mkString(", ")
      val kp = if (bs.isEmpty) "" else s"$keys, "
      val part = if (bs.isEmpty) "" else s"PARTITION BY $keys "
      s"SELECT $bucket AS bucket, concat('${m.label} p', CAST(p AS STRING)) AS metric, " +
        s"MIN(CASE WHEN cumw >= (p * t + 99) DIV 100 THEN v END) AS val FROM (" +
        s"SELECT ${kp}v, SUM(c) OVER (${part}ORDER BY v ROWS UNBOUNDED PRECEDING) AS cumw, " +
        s"SUM(c) OVER ($part) AS t FROM (SELECT ${kp}${cents(m.field)} AS v, COUNT(*) AS c " +
        s"FROM $kept k WHERE ${colOf(m.field)} IS NOT NULL GROUP BY ${kp}v) c) w " +
        s"CROSS JOIN (SELECT explode(array(${m.percents.mkString(", ")})) AS p) ps " +
        s"GROUP BY ${kp}p"
    }
    s"WITH lab AS ($labeled) " + (plain ++ pct).mkString(" UNION ALL ")
  }

  /** Hit count of the saved search, as a dashboard member. */
  def searchHitsSql(s: Search, scope: String): String =
    s"SELECT 'all' AS bucket, 'hits' AS metric, COUNT(*) AS val FROM ($scope) s0 " +
      s"WHERE ${s.filter.sql}"

  /** The saved search's docs table, newest first. */
  def searchRowsSql(s: Search, scope: String): String =
    s"SELECT ${s.columns.mkString(", ")} FROM ($scope) s0 WHERE ${s.filter.sql} " +
      s"ORDER BY ${s.sortField} DESC"
}
