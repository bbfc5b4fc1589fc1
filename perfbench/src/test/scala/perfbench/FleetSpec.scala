package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.search.SavedObjects

class FleetSpec extends AnyFunSuite {

  private def spoolContents(spec: Fleet.Spec): Seq[String] = {
    Files.createDirectories(Paths.get("target"))
    val dir = Files.createTempDirectory(Paths.get("target"), "fleet-spool")
    Fleet.spool(spec, dir.toString, new Tracer(false))
    val w = Files.walk(dir)
    // file names carry a per-collector random token; contents must not
    try w.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => new String(Files.readAllBytes(p), "UTF-8")).toSeq.sorted
    finally { w.close(); Run.deleteTree(dir.toString) }
  }

  test("the same seed gives byte-identical input, another seed different input") {
    val a = Fleet.generate(7, 3000)
    val b = Fleet.generate(7, 3000)
    val c = Fleet.generate(8, 3000)
    assert(a.canonical.sameElements(b.canonical))
    assert(!a.canonical.sameElements(c.canonical))
    assert(spoolContents(a) == spoolContents(b))
    assert(spoolContents(a) != spoolContents(c))
  }

  test("the fleet has the shape the dashboards need") {
    val f = Fleet.generate(3, 8000)
    assert(f.tasks.size == 8000)
    val dashApps = f.apps.indices.filter(f.apps(_).name == Fleet.DashboardApp)
    assert(dashApps.size >= 6, "top-5 over apps must truncate")
    val jobs = f.events.collect { case j: Fleet.JobStart if dashApps.contains(j.app) => j }
    assert(jobs.groupBy(_.app).values.forall(_.size == Fleet.TpcdsQueries))
    // top-5 over a job's stages truncates too
    assert(jobs.groupBy(_.app).values.forall(_.exists(_.stages.size >= 6)))
    // the executor pool grows from the initial 20 to the cap of 100
    val execs = f.tasks.groupBy(_.app).values.map(_.map(_.executorId.toInt))
    assert(execs.forall(e => e.max <= Fleet.MaxExecutors && e.distinct.size > Fleet.InitialExecutors))
    val firstJobStages = f.events.collect { case j: Fleet.JobStart if j.jobId == 0 =>
      j.app -> j.stages.map(_._1).toSet }.toMap
    assert(f.tasks.filter(t => firstJobStages(t.app)(t.stageId))
      .forall(_.executorId.toInt <= Fleet.InitialExecutors))
    // per-stage skew under the engine's formula lands in every bucket
    // the formula can reach
    val skews = f.tasks.groupBy(t => (t.app, t.stageId)).values.map { ts =>
      val xs = ts.map(_.v.inputBytes.toDouble)
      val (mx, mn, avg) = (xs.max, xs.min, xs.sum / xs.size)
      math.max(mx - avg, avg - mn) / (if (mx == mn) 1.0 else mx - mn)
    }
    assert(skews.exists(_ < 0.1))
    assert(skews.exists(s => s >= 0.5 && s < 0.8))
    assert(skews.exists(_ >= 0.8))
    assert(f.logs.exists(_.mdcTask != null) && f.logs.exists(_.mdcTask == null))
    assert(f.logs.exists(l => l.level == "ERROR" && l.thrown != null))
    assert(f.logs.count(_.level == "ERROR") < f.logs.size / 10)
  }

  test("the carried export parses to every declared panel, search and dashboard") {
    val lines = Panels.exportLines
    assert(SavedObjects.parseNdjson(lines).map(_.id.get) == Panels.panels.map(_.id))
    assert(lines.flatMap(SavedObjects.parseSearchLine).map(_.id.get) ==
      Seq(Panels.logSearch.id))
    val dashes = lines.flatMap(SavedObjects.parseDashboardLine)
    assert(dashes.map(_.panelIds) == Panels.dashboards.map(_.members))
    assert(dashes.forall(_.filters.map(_.value) == Seq(Fleet.DashboardApp)))
  }
}
