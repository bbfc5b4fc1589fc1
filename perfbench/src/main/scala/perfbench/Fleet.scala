package perfbench

import java.nio.charset.StandardCharsets
import java.util.SplittableRandom

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.impl.Log4jLogEvent
import org.apache.logging.log4j.message.SimpleMessage
import org.apache.logging.log4j.util.SortedArrayStringMap

import graft.ingest.{CollectorAppender, CollectorListener}
import org.apache.spark.perfbench.SyntheticEvents
import org.apache.spark.perfbench.SyntheticEvents.TaskValues

/** Seeded synthetic Spark fleet shaped like the reference's TPC-DS 3 TB
  * demo runs, scaled down in total size: apps × jobs × stages × tasks,
  * Zipf-distributed tasks per stage, stages whose input and shuffle reads
  * are planted at chosen skews, and driver/executor logs with and without
  * an MDC task name, a small ERROR share of which carries a throwable.
  * README.md lists the source of each shape parameter, or that it has
  * none.
  *
  * The fleet is a time-ordered list of listener and log events. Nothing
  * in it depends on anything but the seed and the size.
  */
object Fleet {
  val DashboardApp = "TPCDS SQL Benchmark 3000 GB"
  /** Six of seven apps match the dashboards' appName filter, so a top-5
    * terms level over apps truncates and the filter still drops rows.
    * Apps run one after another in this order; the last one matches.
    */
  val AppNames: Vector[String] =
    "TPCDS Data Generation 3000 GB" +: Vector.fill(6)(DashboardApp)
  /** A live feed only reaches the first few apps; with the dashboard apps
    * first, the rows the dashboards see grow at the feed rate whatever the
    * seed.
    */
  val LiveAppNames: Vector[String] = AppNames.tail :+ AppNames.head
  /** Jobs per app: one per query of the reference's 104-query run. */
  val TpcdsQueries = 104
  /** The executor pool grows from the reference's initial 20 executors
    * to its autoscaling cap of 100 over an app's jobs.
    */
  val InitialExecutors = 20
  val MaxExecutors = 100
  val T0: Long = 1767225600000L // 2026-01-01T00:00:00Z
  /** Apps start 12 h apart: two TPC-DS runs a day. */
  val AppGapMs: Long = 43200000L
  /** Dashboards over a generated fleet are anchored here, half a day
    * after the last app's slot starts: a one-day picker holds that app
    * only.
    */
  val Now: Long = T0 + AppNames.size * AppGapMs + AppGapMs / 2

  /** How a collector batches records into spool files: at most `records`
    * per file, and a flush once `thresholdMs` has passed.
    */
  final case class Batching(records: Int, thresholdMs: Long)
  /** The collectors' defaults. */
  val DefaultBatching = Batching(100, 10000L)
  /** The reference's TPC-DS demo configuration, metrics and logs. */
  val DemoMetricsBatching = Batching(400, 60000L)
  val DemoLogsBatching = Batching(200, 10000L)

  sealed trait Ev { def tMs: Long; def app: Int }
  final case class AppStart(tMs: Long, app: Int) extends Ev
  final case class JobStart(tMs: Long, app: Int, jobId: Int,
      stages: Vector[(Int, Int)]) extends Ev
  final case class TaskEnd(tMs: Long, app: Int, stageId: Int, taskId: Long,
      index: Int, attempt: Int, executorId: String, launchMs: Long,
      v: TaskValues) extends Ev
  final case class StageDone(tMs: Long, app: Int, stageId: Int,
      numTasks: Int) extends Ev
  final case class JobEnd(tMs: Long, app: Int, jobId: Int) extends Ev
  final case class Log(tMs: Long, app: Int, level: String, logger: String,
      thread: String, message: String, mdcTask: String, thrown: String)
      extends Ev
  final case class AppEnd(tMs: Long, app: Int) extends Ev

  final case class App(name: String, id: String)

  final case class Spec(apps: Vector[App], events: Vector[Ev]) {
    lazy val tasks: Vector[TaskEnd] = events.collect { case t: TaskEnd => t }
    lazy val logs: Vector[Log] = events.collect { case l: Log => l }
    /** The fleet as bytes: what "same seed, same input" is checked on. */
    def canonical: Array[Byte] =
      events.mkString("\n").getBytes(StandardCharsets.UTF_8)
  }

  /** CDF of a discrete Zipf(s) over k = 1..n. */
  private def zipfCdf(n: Int, s: Double): Array[Double] = {
    val w = (1 to n).map(k => math.pow(k.toDouble, -s))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }
  private def draw(r: SplittableRandom, cdf: Array[Double]): Int = {
    val u = r.nextDouble()
    cdf.indexWhere(_ >= u) match { case -1 => cdf.length; case i => i + 1 }
  }
  private val stagesPerJobCdf = zipfCdf(8, 2.0)
  private val taskWeightCdf = zipfCdf(64, 1.2)

  /** Tasks per stage for `stages` stages summing to `budget`: one each,
    * and the rest shared in proportion to Zipf(s = 1.2) draws.
    */
  private def stageSizes(r: SplittableRandom, stages: Int, budget: Int): Vector[Int] = {
    require(budget >= stages, s"$budget tasks cannot fill $stages stages")
    val ks = Vector.fill(stages)(draw(r, taskWeightCdf).toLong)
    val spare = (budget - stages).toLong
    val base = ks.map(k => 1 + (spare * k / ks.sum).toInt)
    val left = budget - base.sum
    base.zipWithIndex.map { case (n, i) => if (i < left) n + 1 else n }
  }
  /** Per-task values for one stage whose max/min/avg put the engine's
    * skew, greatest(max − avg, avg − min) / (max − min), near `target`.
    * Target 0, or fewer than three tasks, plants a uniform stage (range
    * 0 ⇒ skew 0).
    */
  private def plant(r: SplittableRandom, n: Int, target: Double,
      scale: Long): Vector[Long] =
    if (target == 0.0 || n < 3) Vector.fill(n)(scale)
    else {
      val lo = scale / 4
      val hi = scale * 4
      val avg = lo + (1.0 - target) * (hi - lo)
      val mid = ((n * avg - hi - lo) / (n - 2)).toLong
      val jitter = math.max(1L, math.min(mid - lo, hi - mid) / 50)
      hi +: lo +: Vector.fill(n - 2)(
        math.max(lo, math.min(hi, mid + r.nextLong(-jitter, jitter + 1))))
    }

  /** A seeded permutation of 0 until n (Fisher-Yates). */
  private def shuffle(r: SplittableRandom, n: Int): Vector[Int] = {
    val a = Array.range(0, n)
    (n - 1 to 1 by -1).foreach { i =>
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toVector
  }

  /** Skew targets: uniform, and the upper half the formula can reach
    * (it never goes below 0.5 unless the range is 0).
    */
  private val targets = Vector(0.0, 0.55, 0.7, 0.92)

  private val loggers = Vector(
    "org.apache.spark.executor.Executor",
    "org.apache.spark.scheduler.TaskSetManager",
    "org.apache.spark.storage.BlockManager",
    "org.apache.spark.sql.execution.datasources.FileScanRDD",
    "org.apache.spark.shuffle.sort.SortShuffleWriter",
    "org.apache.spark.scheduler.DAGScheduler")

  def generate(seed: Long, targetTasks: Int,
      appNames: Vector[String] = AppNames, jobsPerApp: Int = TpcdsQueries): Spec = {
    val r = new SplittableRandom(seed)
    val nApps = appNames.size
    val apps = appNames.zipWithIndex.map { case (n, i) =>
      App(n, f"application_${1767225600000L + seed}%d_${i + 1}%04d")
    }
    val perApp = math.max(1, targetTasks / nApps)
    val events = Vector.newBuilder[Ev]
    var logSeq = 0L
    apps.indices.foreach { a =>
      var t = T0 + a * AppGapMs + r.nextLong(3600000L)
      events += AppStart(t, a)
      val stagesPerJob = Vector.fill(jobsPerApp)(draw(r, stagesPerJobCdf))
      // the last app takes the remainder, so the fleet's total is exact
      val budget = if (a == nApps - 1) targetTasks - perApp * (nApps - 1) else perApp
      val sizes = stageSizes(r, stagesPerJob.sum, budget).iterator
      var stageId = 0
      var taskId = 0L
      def log(at: Long, level: String, logger: String, thread: String,
          msg: String, mdc: String, thrown: String): Unit = {
        logSeq += 1
        events += Log(at, a, level, logger, thread, s"$msg [e$a-$logSeq]",
          mdc, thrown)
      }
      stagesPerJob.zipWithIndex.foreach { case (nStages, jobId) =>
        val stages = Vector.fill(nStages) {
          val s = stageId; stageId += 1; (s, sizes.next())
        }
        val pool = InitialExecutors +
          (MaxExecutors - InitialExecutors) * jobId / math.max(1, jobsPerApp - 1)
        events += JobStart(t, a, jobId, stages)
        log(t, "INFO", "org.apache.spark.scheduler.DAGScheduler", "main",
          s"Got job $jobId with ${stages.size} output partitions", null, null)
        stages.foreach { case (sid, n) =>
          val durMs = 300L + n * 20L + r.nextLong(600L)
          val inTarget = targets(r.nextInt(targets.size))
          val shTarget = targets(r.nextInt(targets.size))
          val inScale = (16L << 20) + r.nextLong(256L << 20)
          val shScale = if (r.nextInt(3) == 0) 0L else (4L << 20) + r.nextLong(64L << 20)
          val ins = plant(r, n, inTarget, inScale)
          val shs = if (shScale == 0L) Vector.fill(n)(0L)
            else plant(r, n, shTarget, shScale)
          val order = shuffle(r, n)
          order.zipWithIndex.foreach { case (idx, k) =>
            val end = t + (k + 1) * durMs / n
            val runTime = 200L + r.nextLong(if (r.nextInt(10) == 0) 60000L else 8000L)
            val attempt = if (r.nextInt(200) == 0) 1 else 0
            val exec = (1 + r.nextInt(pool)).toString
            val v = TaskValues(
              inputBytes = ins(idx), inputRecords = ins(idx) / 100,
              runTimeMs = runTime, cpuNs = runTime * 700000L + r.nextLong(1000000L),
              peakMemory = r.nextLong(512L << 20),
              outputRecords = r.nextLong(10000L), outputBytes = r.nextLong(8L << 20),
              shuffleReadRecords = shs(idx) / 120, shuffleReadBytes = shs(idx),
              shuffleWriteRecords = r.nextLong(20000L),
              shuffleWriteBytes = r.nextLong(32L << 20))
            taskId += 1
            events += TaskEnd(end, a, sid, taskId, idx, attempt, exec,
              end - runTime, v)
            val taskName = s"task $idx.$attempt in stage $sid.0 (TID $taskId)"
            if (k % 4 == 0) {
              val roll = r.nextInt(100)
              val logger = loggers(r.nextInt(loggers.size))
              val thread = s"Executor task launch worker for $taskName"
              if (roll < 3)
                log(end, "ERROR", logger, thread,
                  s"Exception in $taskName", taskName,
                  s"Failed to fetch shuffle block shuffle_${sid}_$idx")
              else if (roll < 10)
                log(end, "WARN", logger, thread,
                  s"Slow task: $taskName took ${runTime}ms", taskName, null)
              else if (roll < 80)
                log(end, "INFO", logger, thread,
                  s"Finished $taskName. ${v.outputBytes} bytes result sent to driver",
                  taskName, null)
              else
                log(end, "INFO", "org.apache.spark.storage.memory.MemoryStore",
                  "dispatcher-BlockManagerMaster",
                  s"Block broadcast_$sid stored as values in memory", null, null)
            }
          }
          t += durMs
          events += StageDone(t, a, sid, n)
        }
        events += JobEnd(t, a, jobId)
        t += 200L + r.nextLong(1000L)
      }
      events += AppEnd(t, a)
    }
    val all = events.result()
    // one interleaved, time-ordered stream; ties keep generation order
    Spec(apps, all.zipWithIndex.sortBy { case (e, i) => (e.tMs, i) }.map(_._1))
  }

  def logEvent(l: Log, atMs: Long): Log4jLogEvent = {
    val b = Log4jLogEvent.newBuilder()
      .setLoggerName(l.logger)
      .setLevel(Level.toLevel(l.level))
      .setMessage(new SimpleMessage(l.message))
      .setThreadName(l.thread)
      .setTimeMillis(atMs)
    if (l.mdcTask != null) {
      val mdc = new SortedArrayStringMap()
      mdc.putValue("taskName", l.mdcTask)
      b.setContextData(mdc)
    }
    if (l.thrown != null) b.setThrown(new java.io.IOException(l.thrown))
    b.build()
  }

  /** One collector pair per app, spooling to `<root>/metrics` and
    * `<root>/logs` with the given batching. `clock` drives the
    * collectors' time trigger and the task rows' metricTime; a log
    * event's time is what the feeder passes in.
    */
  final class Collectors(spec: Spec, root: String, clock: () => Long,
      metrics: Batching = DefaultBatching, logs: Batching = DefaultBatching) {
    val metricsDir = s"$root/metrics"
    val logsDir = s"$root/logs"
    private val listeners = spec.apps.map(a =>
      new CollectorListener(metricsDir, a.name, a.id, batchSize = metrics.records,
        timeThresholdMs = metrics.thresholdMs, clock = clock))
    private val appenders = spec.apps.map { a =>
      val ap = new CollectorAppender(logsDir, batchSize = logs.records,
        timeThresholdMs = logs.thresholdMs, appName = a.name, appId = a.id, clock = clock)
      ap.start()
      ap
    }
    var taskEndNs = 0L
    var taskEnds = 0L
    var appendNs = 0L
    var appends = 0L

    /** Hand one event to its app's collector; `atMs` is the event's
      * emit time.
      */
    def feed(e: Ev, atMs: Long, tracer: Tracer, op: String): Unit = e match {
      case AppStart(_, a) =>
        listeners(a).onApplicationStart(
          SyntheticEvents.applicationStart(spec.apps(a).name, spec.apps(a).id, atMs))
      case JobStart(_, a, id, stages) =>
        listeners(a).onJobStart(SyntheticEvents.jobStart(id, atMs, stages))
      case t: TaskEnd =>
        val ev = SyntheticEvents.taskEnd(t.stageId, t.taskId, t.index,
          t.attempt, t.executorId, t.launchMs, t.v)
        val t0 = System.nanoTime()
        tracer.span("collector.task_end", op) {
          listeners(t.app).onTaskEnd(ev)
        }
        taskEndNs += System.nanoTime() - t0
        taskEnds += 1
      case StageDone(_, a, sid, n) =>
        listeners(a).onStageCompleted(SyntheticEvents.stageCompleted(sid, n))
      case JobEnd(_, a, id) =>
        listeners(a).onJobEnd(SyntheticEvents.jobEnd(id, atMs))
      case l: Log =>
        val ev = logEvent(l, atMs)
        val t0 = System.nanoTime()
        tracer.span("collector.append", op) { appenders(l.app).append(ev) }
        appendNs += System.nanoTime() - t0
        appends += 1
      case AppEnd(_, a) =>
        listeners(a).onApplicationEnd(SyntheticEvents.applicationEnd(atMs))
        appenders(a).flush()
    }

    /** Flush every buffer, as an application end does. */
    def flushAll(): Unit = {
      listeners.foreach(_.flush())
      appenders.foreach(_.flush())
    }

    def close(): Unit = { flushAll(); appenders.foreach(_.stop()) }
  }

  /** Spool the whole fleet as a backlog, batched as in the reference's
    * TPC-DS demo: every collector sees the fleet's own timestamps, so
    * time-triggered flushes and metricTime follow the fleet's clock, not
    * the wall clock.
    */
  def spool(spec: Spec, root: String, tracer: Tracer): Collectors = {
    var now = T0
    val c = new Collectors(spec, root, () => now, DemoMetricsBatching, DemoLogsBatching)
    spec.events.foreach { e =>
      now = e.tMs
      c.feed(e, e.tMs, tracer, "setup")
    }
    c.close()
    c
  }
}
