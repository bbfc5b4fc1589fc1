package perfbench

import scala.collection.mutable
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.search.{Kuery, SavedObjects}

/** Dashboard loads: every member of both dashboards as its own op
  * through `SavedObjects.runExportDashboards`, plus the saved log
  * search's docs table through `runSearch`. Each op is checked against
  * the independent SQL in [[Panels]] over the same table snapshot.
  */
final class Dash(spark: SparkSession, tracer: Tracer) {
  import Dash._

  /** First checked result per (op, range), for loads of unchanged tables. */
  private val reference = mutable.Map.empty[(String, String), Seq[String]]
  private var views = 0

  /** Load both dashboards once. Ops alternate between the two picker
    * ranges, starting at `offset`, so every load has the same mix.
    */
  def load(loadId: String, snap: Map[String, DataFrame], nowMs: Long,
      ranges: Seq[Range], offset: Int, traced: Boolean,
      keepGoing: () => Boolean = () => true): LoadResult = {
    val now = new java.sql.Timestamp(nowMs)
    val members = for (d <- Panels.dashboards; m <- d.members) yield (d, m)
    def rangeOf(i: Int) = ranges((i + offset) % ranges.size)
    val t0 = System.nanoTime()
    val results = members.zipWithIndex.takeWhile(_ => keepGoing()).map { case ((d, m), i) =>
      val range = rangeOf(i)
      runOp(s"$loadId:${d.id}/$m", d.title, m, range, traced) {
        val lines = Panels.memberLines(d, m)
        if (traced) parseAndKuery(lines, snap, m)
        val (df, cleanup) = tracer.span("search.plan", "") {
          val r = SavedObjects.runExportDashboardsManaged(snap, lines, now = Some(now),
            globalRange = Some((range.picker, "now")))
          r._1.queryExecution.executedPlan
          r
        }
        val rows = tracer.span("search.exec", "") { df.collect() }
          .map(r => s"${r.getString(0)}|${r.getString(1)}|${r.getString(2)}|${r.getLong(3)}").toSeq
        (df, rows, cleanup)
      }
    }
    val range = rangeOf(members.size)
    val search = if (!keepGoing()) Nil else Seq(runOp(s"$loadId:search/${Panels.logSearch.id}", "", "docs", range, traced) {
      val s = SavedObjects.parseSearchLine(Panels.searchLine(Panels.logSearch)).get
      val logs = snap(Panels.LogIdx.table)
      val scope = col("appName") === Fleet.DashboardApp &&
        graft.queries.Dashboards.relativeTimeFilter(col(Panels.LogIdx.timeField),
          now, range.sql)
      val df = tracer.span("search.plan", "") {
        val r = SavedObjects.runSearch(logs, s, limit = Some(Panels.SearchLimit),
          extraFilter = Some(scope))
        r.queryExecution.executedPlan
        r
      }
      val rows = tracer.span("search.exec", "") { df.collect() }
        .map(r => s"${r.get(0)}|${r.getString(1)}|${r.getString(2)}|${r.getString(3)}").toSeq
      (df, rows, () => ())
    })
    val wallMs = (System.nanoTime() - t0) / 1e6
    LoadResult(loadId, snap, nowMs, results ++ search, wallMs)
  }

  private def parseAndKuery(lines: Seq[String], snap: Map[String, DataFrame],
      member: String): Unit = {
    tracer.span("search.parse", "") {
      SavedObjects.parseIndexPatterns(lines)
      SavedObjects.parseNdjson(lines)
      lines.foreach(SavedObjects.parseDashboardLine)
      lines.foreach(SavedObjects.parseSearchLine)
    }
    val filter = Panels.panels.find(_.id == member).map(p => (p.idx, p.filter))
      .getOrElse((Panels.logSearch.idx, Some(Panels.logSearch.filter)))
    filter._2.foreach { f =>
      tracer.span("search.kuery", "") { Kuery.predicate(snap(filter._1.table), f.kuery) }
    }
  }

  private def runOp(op: String, dashTitle: String, member: String, range: Range,
      traced: Boolean)(
      body: => (DataFrame, Seq[String], () => Unit)): OpResult = {
    val t0 = System.nanoTime()
    val out = try {
      Right(tracer.span("search.op", op) { Probe.withOp(spark, op)(body) })
    } catch { case e: Exception => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    val t1 = System.nanoTime()
    out match {
      case Right((df, rows, cleanup)) =>
        val plan = if (traced) Probe.planCounts(df) else Map.empty[String, Long]
        cleanup()
        OpResult(op, dashTitle, member, range, t0, t1, rows, plan, None)
      case Left(err) =>
        OpResult(op, dashTitle, member, range, t0, t1, Nil, Map.empty, Some(err))
    }
  }

  /** Check every op of a load; a load of tables already checked under
    * the same range compares against that first result instead of
    * re-running SQL. The SQL runs concurrently, after the load's timing.
    * Returns the failed ops' descriptions.
    */
  def check(load: LoadResult, tablesChanged: Boolean): Seq[String] = {
    lazy val v = {
      views += 1
      val prefix = s"chk$views"
      load.snap.foreach { case (t, df) => df.createOrReplaceTempView(s"${prefix}_${t.replace('-', '_')}") }
      prefix
    }
    def scope(range: Range)(idx: Panels.Index) =
      Panels.scopeSql(s"${v}_${idx.table.replace('-', '_')}", idx, load.nowMs, range.sql)
    def key(op: OpResult) = (s"${op.dashTitle}/${op.member}", op.range.picker)
    val wanted = load.ops.map { op =>
      if (op.error.nonEmpty || (!tablesChanged && reference.contains(key(op))))
        Future.successful(Nil)
      else {
        val scoped: Panels.Index => String = scope(op.range)
        Future(Probe.withOp(spark, "check") { expected(op, scoped, load.nowMs) })
      }
    }
    load.ops.zip(wanted.map(Await.result(_, Duration.Inf))).flatMap { case (op, computed) =>
      op.error.map(e => s"${op.op}: $e").orElse {
        val got = op.rows.sorted
        val want = if (!tablesChanged && reference.contains(key(op))) reference(key(op))
          else computed
        if (!tablesChanged) reference.getOrElseUpdate(key(op), want)
        if (op.member == "docs") docsMismatch(op.rows, want).map(m => s"${op.op}: $m")
        else if (got != want) Some(s"${op.op}: ${diff(got, want)}")
        else None
      }
    }
  }

  private def expected(op: OpResult, scope: Panels.Index => String,
      nowMs: Long): Seq[String] =
    if (op.member == "docs") {
      val s = Panels.logSearch
      spark.sql(Panels.searchRowsSql(s, scope(s.idx))).collect()
        .map(r => s"${r.get(0)}|${r.getString(1)}|${r.getString(2)}|${r.getString(3)}").toSeq
    } else {
      val title = s"${op.dashTitle}/"
      val sql = Panels.panels.find(_.id == op.member) match {
        case Some(p) => Panels.panelSql(p, scope(p.idx), nowMs)
        case None => Panels.searchHitsSql(Panels.logSearch, scope(Panels.logSearch.idx))
      }
      val name = Panels.panels.find(_.id == op.member).map(_.title)
        .getOrElse(Panels.logSearch.title)
      spark.sql(sql).collect()
        .map(r => s"$title$name|${r.getString(0)}|${r.getString(1)}|${r.getLong(2)}")
        .toSeq.sorted
    }

  /** The docs table: rows newest first, and the same rows the full SQL
    * ordering yields down to the last timestamp the limit keeps (ties at
    * that timestamp may be cut either way).
    */
  private def docsMismatch(got: Seq[String], want: Seq[String]): Option[String] = {
    val ts = got.map(_.split('|')(0))
    if (got.size != math.min(Panels.SearchLimit, want.size))
      Some(s"docs rows ${got.size} != ${math.min(Panels.SearchLimit, want.size)}")
    else if (ts != ts.sorted.reverse) Some("docs rows not newest-first")
    else if (got.isEmpty) None
    else {
      val cut = ts.last
      val sure = want.filter(_.split('|')(0) > cut).sorted
      val mine = got.filter(_.split('|')(0) > cut).sorted
      if (sure != mine) Some("docs rows differ from SQL")
      else if (!got.forall(want.contains)) Some("docs row not in SQL result")
      else None
    }
  }

  private def diff(got: Seq[String], want: Seq[String]): String = {
    val g = got.toSet; val w = want.toSet
    s"missing ${(w -- g).take(3).mkString(", ")}; unexpected ${(g -- w).take(3).mkString(", ")}"
  }
}

object Dash {
  /** A global time-picker window, as the picker and as SQL. */
  final case class Range(picker: String, sql: String)

  final case class OpResult(op: String, dashTitle: String, member: String,
      range: Range, startNs: Long, endNs: Long, rows: Seq[String], plan: Map[String, Long],
      error: Option[String]) {
    def ms: Double = (endNs - startNs) / 1e6
  }
  final case class LoadResult(loadId: String, snap: Map[String, DataFrame],
      nowMs: Long, ops: Seq[OpResult], wallMs: Double)
}
