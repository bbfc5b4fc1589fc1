package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.{Duration, DurationInt}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods.{compact, render}

/** One benchmark run: one workload, one seed, one JVM. Prints the
  * result object as the last line of standard output and writes the
  * full record (and, traced, the spans) under the results directory.
  */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: String, results: String, runId: String,
      commit: String, cores: Int, heap: String)

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toInt,
      kv("trace") == "1", kv("work"), kv("results"), kv("run-id"),
      kv.getOrElse("commit", "unknown"), kv("cores").toInt, kv.getOrElse("heap", "?"))
    val spark = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val line = try new Run(spark, o).run()
    finally spark.stop()
    println(line)
  }
}

final class Run(spark: SparkSession, o: Main.Opts) {
  import Run._

  private val tracer = new Tracer(o.trace)
  private val probe = new Probe(spark)
  private val dash = new Dash(spark, tracer)
  private val work = o.work

  private var attempted = 0L
  private var failed = 0L
  private val failures = mutable.ArrayBuffer.empty[String]
  private def fail(msg: String, n: Long = 1L): Unit = {
    failed += n
    if (failures.size < 40) failures += msg
  }

  // what each workload measures, for the metric assembly
  /** Set-up time, once per repetition of the workload's set-up: the
    * collectors spooling the backlog (backfill), the pipelines starting
    * until each has run a batch (live). Spark's start and the warm-up run
    * once and are not part of it.
    */
  private val setupTimes = mutable.ArrayBuffer.empty[Double]
  private def timedSetup[T](body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    setupTimes += since(t0)
    r
  }

  /** Per drain (or per live window): rows/s, freshness p50 and p90. */
  private val ingestSamples = mutable.ArrayBuffer.empty[(Double, Double, Double)]
  private def addIngestSample(ps: Seq[StreamingQueryProgress], rowQs: Set[String],
      freshness: Seq[Double]): Unit = {
    val busy = Ingest.busyMs(ps)
    val rows = Ingest.committedRows(ps, rowQs)
    ingestSamples += ((if (busy > 0) rows / (busy / 1000.0) else Double.NaN,
      Ingest.pct(freshness, 50), Ingest.pct(freshness, 90)))
  }
  private val batches = mutable.ArrayBuffer.empty[StreamingQueryProgress]
  private var rowQueries = Set.empty[String]
  private var derivedQueries = Set.empty[String]
  private val loads = mutable.ArrayBuffer.empty[Dash.LoadResult]
  private var collectors: Option[Fleet.Collectors] = None
  private var spoolDir = ""
  private var sink: (Long, Long) = (0L, 0L)
  private val lateMs = mutable.ArrayBuffer.empty[Double]
  // traced runs trace loads 0 and 3 of every 4 and not 1 and 2, so both
  // picker orders run both ways and a trend over the run (live tables
  // grow) weighs on both alike: (traced?, load time)
  private val overheadSamples = mutable.ArrayBuffer.empty[(Boolean, Double)]
  private def tracedLoad(k: Int): Boolean = k % 4 == 0 || k % 4 == 3
  /** Traced runs time at least two pairs of loads, one traced and one not. */
  private def minLoads(untraced: Int): Int = if (o.trace) math.max(untraced, 4) else untraced

  def run(): String = {
    o.workload match {
      case "backfill" => backfill()
      case "live" => live()
      case w => throw new IllegalArgumentException(s"unknown workload '$w'")
    }
    probe.drain()
    finish()
  }

  private val born = System.nanoTime()
  /** Progress notes on stderr, with seconds since the run began. */
  private def note(msg: String): Unit =
    System.err.println(f"[perfbench ${since(born)}%7.2fs] $msg")

  private def secondsNs: Long = o.seconds * 1000000000L
  private def since(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  // ---------------------------------------------------------- backfill

  /** Two phases, each timed for `seconds`: drains of the spooled backlog
    * into fresh tables, then one closed-loop client loading both
    * dashboards over the last drain's tables. An untimed first load of
    * those tables runs beside the ingest check.
    */
  private def backfill(): Unit = {
    val fleet = Fleet.generate(o.seed, BackfillTasks)
    spoolDir = s"$work/spool"
    (0 until SetupRuns).foreach { _ =>
      deleteTree(spoolDir)
      collectors = Some(timedSetup { Fleet.spool(fleet, spoolDir, tracer) })
    }
    deleteTree(warmDrain().root)

    var t0 = System.nanoTime()
    var k = 0
    var last: Ingest = null
    while (k < MinDrains || System.nanoTime() - t0 < secondsNs) {
      if (last != null) deleteTree(last.root)
      last = drain(fleet, spoolDir, s"c$k", measured = true)
      k += 1
    }
    tracer.enabled = o.trace
    attempted += fleet.events.size
    val snap = last.snapshot()
    val warmLoad = Future(dash.load("warm", snap, Fleet.Now, FleetRanges, 0, traced = false))
    checkIngest(last, fleet, _ => true)
    Await.result(warmLoad, Duration.Inf)
    sink = last.sinkFiles

    t0 = System.nanoTime()
    k = 0
    while (k < minLoads(MinLoads) || System.nanoTime() - t0 < secondsNs) {
      if (o.trace) tracer.enabled = tracedLoad(k)
      // a `now` of its own, as a dashboard's moves from load to load, so
      // every load plans and compiles its queries afresh
      val load = dash.load(s"load:$k", snap, Fleet.Now + 1 + k, FleetRanges, k,
        traced = tracer.enabled)
      loads += load
      overheadSamples += ((tracer.enabled, load.wallMs))
      checkLoad(load, tablesChanged = false)
      k += 1
    }
    tracer.enabled = o.trace
    note("measured")
  }

  /** Untimed: drain a small fleet, so timed drains and micro-batches run
    * on loaded classes and JIT-compiled code. Returns its ingest.
    */
  private def warmDrain(): Ingest = {
    val fleet = Fleet.generate(o.seed, WarmTasks, jobsPerApp = WarmJobs)
    Fleet.spool(fleet, s"$work/warm-spool", new Tracer(false))
    val ing = drain(fleet, s"$work/warm-spool", "warm", measured = false)
    note("warmed up")
    ing
  }

  /** Drain one spooled backlog into fresh tables with availableNow;
    * every row the drain commits must be counted by its progress.
    */
  private def drain(fleet: Fleet.Spec, spool: String, id: String,
      measured: Boolean): Ingest = {
    val ing = new Ingest(spark, spool, s"$work/$id", availableNow = true, 1.second)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    tracer.span("ingest.drain", s"drain:$id") {
      ing.start()
      try ing.awaitAll()
      catch { case e: Exception => fail(s"drain $id: ${e.getMessage}") }
    }
    val drainS = since(t0)
    note(f"drain $id took $drainS%.2fs")
    probe.drain()
    val ps = probe.progressOf(ing.ids)
    val rows = Ingest.committedRows(ps, Set(ing.taskQuery.id.toString, ing.logsQuery.id.toString))
    attempted += ps.size
    if (rows != fleet.tasks.size + fleet.logs.size)
      fail(s"drain $id committed $rows rows of ${fleet.tasks.size + fleet.logs.size}")
    if (measured) {
      collect(ing, ps)
      addIngestSample(ps, rowQueries,
        ing.commitTimesByKey().values.map(c => (c - startMs).toDouble).toSeq)
    }
    ing
  }

  private def collect(ing: Ingest, ps: Seq[StreamingQueryProgress]): Unit = {
    batches ++= ps
    rowQueries ++= Set(ing.taskQuery.id.toString, ing.logsQuery.id.toString)
    derivedQueries += ing.derivedQuery.id.toString
  }

  private def checkIngest(ing: Ingest, fleet: Fleet.Spec, emitted: Int => Boolean): Unit = {
    attempted += 1
    ing.queries.flatMap(_.exception).foreach(e => fail(s"pipeline: ${e.getMessage}"))
    Probe.withOp(spark, "check") {
      val snap = ing.snapshot()
      val (lost, dup) = Ingest.accounting(spark, snap, fleet, emitted)
      if (lost + dup > 0) fail(s"accounting: $lost lost, $dup duplicated", lost + dup)
      if (snap(Panels.StageIdx.table).isEmpty)
        fail("stage agg: no window closed, the derived table is empty")
      val bad = Ingest.stageAggMismatches(spark, snap, ing.derivedWatermarkMs(),
        ing.stageWindow, "agg")
      if (bad > 0) fail(s"stage agg: $bad rows differ from the SQL recompute")
    }
    note("checked ingest")
  }

  private def checkLoad(load: Dash.LoadResult, tablesChanged: Boolean): Unit = {
    attempted += load.ops.size
    val t0 = System.nanoTime()
    dash.check(load, tablesChanged).foreach(m => fail(m))
    note(f"load ${load.loadId} took ${load.wallMs / 1000}%.2fs, its check ${since(t0)}%.2fs")
  }

  // -------------------------------------------------------------- live

  private def live(): Unit = {
    // untimed: the warm drain's tables loaded once, so the reader's timed
    // loads run on JIT-compiled code
    val warm = warmDrain()
    dash.load("warm", warm.snapshot(), Fleet.Now, FleetRanges, 0, traced = false)
    deleteTree(warm.root)
    spoolDir = s"$work/live-spool"
    var ing: Ingest = null
    (0 until SetupRuns).foreach { i =>
      if (ing != null) { ing.stop(); deleteTree(ing.root) }
      // windows short enough that the watermark closes many in a run
      ing = new Ingest(spark, spoolDir, s"$work/live$i", availableNow = false, LiveTrigger,
        _.copy(stageWindow = LiveStageWindow, watermarkDelay = LiveWatermarkDelay))
      timedSetup {
        ing.start()
        while (ing.queries.exists(q => q.recentProgress.isEmpty && q.isActive))
          Thread.sleep(10)
      }
    }
    val fleet = Fleet.generate(o.seed, LiveRate * (LiveMaxWarmupS + o.seconds),
      Fleet.LiveAppNames, LiveJobs)
    val c = new Fleet.Collectors(fleet, spoolDir, () => System.currentTimeMillis())
    collectors = Some(c)
    // the data events in fleet order, each with its index in tasks ++ logs
    val taskIdx = fleet.tasks.zipWithIndex.toMap
    val logIdx = fleet.logs.zipWithIndex.toMap
    val sched = mutable.Map.empty[String, Long]
    val emitted = mutable.BitSet.empty
    val startMs = System.currentTimeMillis() + 200
    // the measured window opens once the feed has run LiveWarmupS, and
    // the reader's loads start then
    val measureFrom = startMs + LiveWarmupS * 1000L
    @volatile var measureTo = Long.MaxValue
    @volatile var feeding = true
    // it closes after --seconds and at least LiveMinLoads loads
    def closeWindow(): Unit = measureTo = System.currentTimeMillis()

    val generator = new Thread(() => {
      var k = 0
      val it = fleet.events.iterator
      while (it.hasNext && feeding) {
        val e = it.next()
        val isData = e.isInstanceOf[Fleet.TaskEnd] || e.isInstanceOf[Fleet.Log]
        val due = startMs + (k * 1000L / LiveRate)
        if (isData) {
          if (due >= measureTo) feeding = false
          else {
            val wait = due - System.currentTimeMillis()
            if (wait > 0) LockSupport.parkNanos(wait * 1000000L)
            val at = System.currentTimeMillis()
            if (due >= measureFrom) lateMs += (at - due).toDouble
            e match {
              case t: Fleet.TaskEnd =>
                sched(Ingest.taskKey(fleet.apps(t.app).id, t.stageId,
                  s"${t.index}.${t.attempt}")) = due
                emitted += taskIdx(t)
              case l: Fleet.Log =>
                sched(Ingest.logKey(l.message)) = due
                emitted += fleet.tasks.size + logIdx(l)
              case _ => ()
            }
            c.feed(e, at, tracer, s"collector:$k")
            k += 1
          }
        } else c.feed(e, System.currentTimeMillis(), tracer, "collector")
      }
      feeding = false
    }, "perfbench-generator")

    // one closed-loop client; its loads are checked after the feed
    val reader = new Thread(() => {
      var k = 0
      val wait = measureFrom - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      while (feeding) {
        val nowMs = System.currentTimeMillis()
        if (o.trace) tracer.enabled = tracedLoad(k)
        val load = dash.load(s"live:$k", ing.snapshot(), nowMs, LiveRanges, k,
          traced = tracer.enabled, keepGoing = () => feeding)
        if (load.ops.nonEmpty) {
          loads += load
          overheadSamples += ((tracer.enabled, load.wallMs))
        }
        if (loads.size >= minLoads(LiveMinLoads) &&
            System.currentTimeMillis() >= measureFrom + o.seconds * 1000L) closeWindow()
        k += 1
      }
    }, "perfbench-reader")

    generator.start(); reader.start()
    generator.join(); reader.join()
    tracer.enabled = o.trace
    c.flushAll()
    // let the pipelines commit the tail, then stop them
    val want = emitted.size
    val deadline = System.currentTimeMillis() + LiveDrainTimeoutMs
    var committed = ing.commitTimesByKey()
    while (committed.size < want && System.currentTimeMillis() < deadline) {
      Thread.sleep(250)
      committed = ing.commitTimesByKey()
    }
    ing.stop()
    if (measureTo == Long.MaxValue) fail("live: the measured window never closed")
    probe.drain()
    val ps = probe.progressOf(ing.ids)
    collect(ing, ps.filter { p =>
      val s = java.time.Instant.parse(p.timestamp).toEpochMilli
      s >= measureFrom && s < measureTo
    })
    addIngestSample(batches.toSeq, rowQueries, sched.collect {
      case (k, due) if due >= measureFrom && due < measureTo && committed.contains(k) =>
        (committed(k) - due).toDouble
    }.toSeq)
    attempted += emitted.size
    checkIngest(ing, fleet, emitted.contains)
    loads.foreach(l => checkLoad(l, tablesChanged = true))
    sink = ing.sinkFiles
  }

  // ----------------------------------------------------------- metrics

  private def finish(): String = {
    batches.foreach { p =>
      val s = java.time.Instant.parse(p.timestamp).toEpochMilli
      tracer.record("pipelines.batch", s"batch:${p.id}#${p.batchId}", s,
        s + p.durationMs.getOrDefault("triggerExecution", 0L))
    }
    val panelOps = loads.flatMap(_.ops)
    val rss = peakRssMb()
    val e2e = Seq(
      ("setup_s", median(setupTimes.toSeq), "s"),
      ("ingest_rows_per_s", median(ingestSamples.map(_._1).toSeq), "rows/s"),
      ("freshness_p50_ms", median(ingestSamples.map(_._2).toSeq), "ms"),
      ("freshness_p90_ms", median(ingestSamples.map(_._3).toSeq), "ms"),
      ("panel_ms", geomean(memberMedians(panelOps.toSeq).toSeq), "ms"),
      ("dashboard_load_s", loadSeconds(panelOps.toSeq), "s"),
      ("peak_rss_mb", rss, "MB"))
    val layers = if (o.trace) layerMetrics(panelOps.toSeq) else Nil
    val metrics = if (o.trace) layers else e2e
    val result = ("correct" -> (failed == 0)) ~ ("attempted" -> math.max(1L, attempted)) ~
      ("failed" -> failed) ~ ("metrics" -> metricsJson(metrics))
    writeRecord(e2e, layers, panelOps.toSeq, result)
    compact(render(result))
  }

  /** One full load of both dashboards, from every timed op: the sum
    * over dashboard members of each member's median latency. Partial
    * loads still count, which matters when a load takes most of a run.
    */
  private def loadSeconds(ops: Seq[Dash.OpResult]): Double =
    if (ops.isEmpty) Double.NaN else memberMedians(ops).sum / 1000.0

  /** Median latency (ms) of each dashboard member over the timed ops. */
  private def memberMedians(ops: Seq[Dash.OpResult]): Iterable[Double] =
    ops.groupBy(o => (o.dashTitle, o.member)).values.map(g => median(g.map(_.ms)))

  private def layerMetrics(panelOps: Seq[Dash.OpResult]): Seq[(String, Double, String)] = {
    val ps = batches.toSeq
    val withData = ps.filter(_.numInputRows > 0)
    def dur(p: StreamingQueryProgress, k: String) =
      p.durationMs.getOrDefault(k, 0L).toDouble
    def meanOf(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    val state = ps.filter(p => derivedQueries.contains(p.id.toString))
      .flatMap(_.stateOperators.headOption)
    val spans = tracer.all
    def spanUs(name: String) = {
      val s = spans.filter(_.name == name).map(x => (x.endNs - x.startNs) / 1e3)
      meanOf(s)
    }
    val c = collectors
    val spool = treeStats(spoolDir)
    // spark.* per op: the panels, searches and micro-batches measured
    val opIds = panelOps.map(_.op).toSet ++
      ps.map(p => s"batch:${p.id}#${p.batchId}")
    val stats = probe.ops.asScala.filter { case (k, _) => opIds.contains(k) }.values.toSeq
    val nOps = math.max(1, opIds.size).toDouble
    def perOp(f: Probe.OpStats => Double) = stats.map(f).sum / nOps
    val driverMs = meanOf(panelOps.map { op =>
      val iv = Option(probe.ops.get(op.op)).map(_.taskIntervals.toSeq).getOrElse(Nil)
        .map { case (s, e) => (s * 1000000L, e * 1000000L) }
      val wallNs = op.endNs - op.startNs
      val startEpochNs = System.currentTimeMillis() * 1000000L -
        (System.nanoTime() - op.startNs)
      val clipped = iv.map { case (s, e) =>
        (math.max(s, startEpochNs), math.min(e, startEpochNs + wallNs)) }
      (wallNs - Tracer.unionNs(clipped)) / 1e6
    })
    val planned = panelOps.filter(_.plan.nonEmpty)
    def planMean(k: String) = meanOf(planned.map(_.plan.getOrElse(k, 0L).toDouble))
    val self = tracer.selfTimeMs
    val traced = overheadSamples.filter(_._1).map(_._2).toSeq
    val untraced = overheadSamples.filterNot(_._1).map(_._2).toSeq
    val overhead =
      if (traced.isEmpty || untraced.isEmpty) 0.0
      else (median(traced) - median(untraced)) / median(untraced) * 100.0
    Seq(
      ("collector.task_end_us", c.map(x => x.taskEndNs / 1e3 / math.max(1L, x.taskEnds)).getOrElse(0.0), "us"),
      ("collector.append_us", c.map(x => x.appendNs / 1e3 / math.max(1L, x.appends)).getOrElse(0.0), "us"),
      ("collector.spool_files", spool._1.toDouble, "count"),
      ("collector.spool_bytes", spool._2.toDouble, "bytes"),
      ("live.generator_late_ms", if (lateMs.isEmpty) 0.0 else Ingest.pct(lateMs.toSeq, 99), "ms"),
      ("pipelines.batches", withData.size.toDouble, "count"),
      ("pipelines.batch_ms_p50", Ingest.pct(withData.map(dur(_, "triggerExecution")), 50), "ms"),
      ("pipelines.latest_offset_ms", meanOf(withData.map(dur(_, "latestOffset"))), "ms"),
      ("pipelines.query_planning_ms", meanOf(withData.map(dur(_, "queryPlanning"))), "ms"),
      ("pipelines.wal_commit_ms", meanOf(withData.map(dur(_, "walCommit"))), "ms"),
      ("pipelines.add_batch_ms", meanOf(withData.map(dur(_, "addBatch"))), "ms"),
      ("pipelines.input_rows", Ingest.committedRows(ps, rowQueries).toDouble, "rows"),
      ("state.commit_ms", meanOf(state.map(_.commitTimeMs.toDouble)), "ms"),
      ("state.rows_total", state.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0), "rows"),
      ("state.memory_bytes", state.lastOption.map(_.memoryUsedBytes.toDouble).getOrElse(0.0), "bytes"),
      ("state.rows_dropped_by_watermark", state.map(_.numRowsDroppedByWatermark.toDouble).sum, "rows"),
      ("sink.files", sink._1.toDouble, "count"),
      ("sink.bytes_per_file", if (sink._1 == 0) 0.0 else sink._2.toDouble / sink._1, "bytes"),
      ("search.parse_us", spanUs("search.parse"), "us"),
      ("search.kuery_us", spanUs("search.kuery"), "us"),
      ("search.plan_ms", spanUs("search.plan") / 1e3, "ms"),
      ("search.exec_ms", spanUs("search.exec") / 1e3, "ms"),
      ("spark.jobs", perOp(_.jobs.toDouble), "count"),
      ("spark.stages", perOp(_.stages.toDouble), "count"),
      ("spark.tasks", perOp(_.tasks.toDouble), "count"),
      ("spark.driver_ms", driverMs, "ms"),
      ("spark.task_cpu_ms", perOp(_.cpuNs / 1e6), "ms"),
      ("spark.gc_ms", perOp(_.gcMs.toDouble), "ms"),
      ("spark.sched_delay_ms", perOp(_.schedDelayMs.toDouble), "ms"),
      ("spark.shuffle_write_bytes", perOp(_.shuffleWriteBytes.toDouble), "bytes"),
      ("spark.shuffle_fetch_wait_ms", perOp(_.fetchWaitMs.toDouble), "ms"),
      ("spark.spill_bytes", perOp(_.spillBytes.toDouble), "bytes"),
      ("spark.input_bytes", perOp(_.inputBytes.toDouble), "bytes"),
      ("spark.files_read", planMean("spark.files_read"), "count")) ++
      Probe.PlanKeys.map(k => (k, planMean(k), "count")) ++ Seq(
      ("self.collector_ms", self.getOrElse("collector", 0.0), "ms"),
      ("self.pipelines_ms", self.getOrElse("pipelines", 0.0), "ms"),
      ("self.search_ms", self.getOrElse("search", 0.0), "ms"),
      ("self.ingest_ms", self.getOrElse("ingest", 0.0), "ms"),
      ("trace.overhead_pct", overhead, "%"),
      ("ops_failed_ratio", failed.toDouble / math.max(1L, attempted), "failed/attempted"))
  }

  private def writeRecord(e2e: Seq[(String, Double, String)],
      layers: Seq[(String, Double, String)], panelOps: Seq[Dash.OpResult],
      result: JObject): Unit = {
    val dir = Paths.get(o.results)
    Files.createDirectories(dir)
    val planVectors = JObject(panelOps.filter(_.plan.nonEmpty).map { op =>
      op.op -> JObject(op.plan.toSeq.sorted.map { case (k, v) => k -> JLong(v) }: _*)
    }: _*)
    val record = ("workload" -> o.workload) ~ ("run_id" -> o.runId) ~
      ("seed" -> o.seed) ~ ("seconds" -> o.seconds) ~ ("trace" -> o.trace) ~
      ("nproc" -> o.cores) ~ ("heap" -> o.heap) ~ ("commit" -> o.commit) ~
      ("spark" -> spark.version) ~
      ("end_to_end" -> metricsJson(e2e)) ~ ("per_layer" -> metricsJson(layers)) ~
      ("self_time_ms" -> JObject(tracer.selfTimeMs.toSeq.sorted.map { case (k, v) =>
        k -> num(v) }: _*)) ~
      ("plan_per_op" -> planVectors) ~ ("failures" -> failures.toList) ~
      ("result" -> result)
    Files.writeString(dir.resolve(s"${o.runId}.json"), compact(render(record)) + "\n")
    if (o.trace) tracer.writeJsonl(dir.resolve(s"${o.runId}.spans.jsonl"))
  }
}

object Run {
  /** Set-up runs this often; `setup_s` is the median. */
  val SetupRuns = 3
  /** Backfill reports the median over at least this many drains. */
  val MinDrains = 1
  /** Backfill times every dashboard member at least this often, half
    * under each picker range.
    */
  val MinLoads = 2
  val LiveMinLoads = 2
  /** Task events in one fleet (log events add about a third). */
  val BackfillTasks = 6000
  val WarmTasks = 300
  val WarmJobs = 2
  /** Live: data events per second, open loop, and the pipeline trigger. */
  val LiveRate = 50
  val LiveTrigger = 100.millis
  /** Live: the derived stage agg's window and watermark delay. */
  val LiveStageWindow = "5 seconds"
  val LiveWatermarkDelay = "2 seconds"
  val LiveWarmupS = 4
  /** Live: jobs per app. The collectors flush at every job end, and the
    * feed replays an app far faster than the reference's 30-minute runs;
    * with fewer jobs, a job still ends every second or so rather than
    * every few events.
    */
  val LiveJobs = 8
  /** The fleet is sized so the feed outlasts slow loads. */
  val LiveMaxWarmupS = 60
  val LiveDrainTimeoutMs = 30000L

  /** Global time-picker ranges: narrow (one app's data) and full. */
  val FleetRanges = Seq(Dash.Range("now-1d", "1 day"), Dash.Range("now-1y", "1 year"))
  val LiveRanges = Seq(Dash.Range("now-5s", "5 seconds"), Dash.Range("now-1d", "1 day"))

  /** A measured value as JSON; a metric with no samples is null. */
  def num(d: Double): JValue = if (d.isNaN || d.isInfinite) JNull else JDouble(d)

  def metricsJson(xs: Seq[(String, Double, String)]): JObject =
    JObject(xs.map { case (k, v, u) => k -> (("value" -> num(v)) ~ ("unit" -> u)) }: _*)

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(math.log).sum / xs.size)

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double =
    scala.util.Try {
      Files.readAllLines(Paths.get("/proc/self/status")).asScala
        .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
        .getOrElse(Double.NaN)
    }.getOrElse(Double.NaN)

  /** Walk a directory tree, if there is one, and apply `f` to its paths
    * (the root first, every directory before what it holds).
    */
  private def walk[T](root: String)(f: Seq[Path] => T): Option[T] = {
    val p = Paths.get(root)
    if (root.isEmpty || !Files.exists(p)) None
    else {
      val w = Files.walk(p)
      try Some(f(w.iterator().asScala.toSeq)) finally w.close()
    }
  }

  def deleteTree(root: String): Unit =
    walk(root)(_.reverse.foreach(Files.deleteIfExists))

  /** Regular files under `root` that `keep` accepts: count and bytes. */
  def treeStats(root: String, keep: Path => Boolean = _ => true): (Long, Long) =
    walk(root) { ps =>
      val sizes = ps.filter(p => Files.isRegularFile(p) && keep(p)).map(Files.size)
      (sizes.size.toLong, sizes.sum)
    }.getOrElse((0L, 0L))
}
