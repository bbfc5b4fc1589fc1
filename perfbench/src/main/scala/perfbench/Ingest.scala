package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.concurrent.duration.FiniteDuration
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import org.apache.spark.sql.types.StructType

import graft.ingest.{Pipelines, Transforms}
import graft.model.Schemas

/** One set of ingest pipelines (the default `startMetrics` plus
  * `startLogs`) over one spool, and what can be read back from their
  * checkpoints and sinks afterwards. `tune` adjusts the pipelines'
  * config, such as the derived stage agg's window and watermark delay.
  */
final class Ingest(spark: SparkSession, spoolRoot: String, val root: String,
    availableNow: Boolean, trigger: FiniteDuration,
    tune: Pipelines.Config => Pipelines.Config = identity) {
  val tablesRoot = s"$root/tables"
  private val metricsConf = tune(Pipelines.Config(
    sourceDir = s"$spoolRoot/metrics", sinkRoot = tablesRoot,
    checkpointRoot = s"$root/ckpt/metrics", availableNow = availableNow,
    timeThreshold = trigger))
  def stageWindow: String = metricsConf.stageWindow
  private val logsConf = metricsConf.copy(sourceDir = s"$spoolRoot/logs",
    checkpointRoot = s"$root/ckpt/logs")

  var queries: Seq[StreamingQuery] = Nil
  def taskQuery: StreamingQuery = queries.head
  def derivedQuery: StreamingQuery = queries(2)
  def logsQuery: StreamingQuery = queries(3)

  def start(): Unit = {
    Files.createDirectories(Paths.get(spoolRoot, "metrics"))
    Files.createDirectories(Paths.get(spoolRoot, "logs"))
    queries = Pipelines.startMetrics(spark, metricsConf) :+
      Pipelines.startLogs(spark, logsConf)
  }

  def awaitAll(): Unit = queries.foreach(_.awaitTermination())

  def stop(): Unit = queries.foreach(q => if (q.isActive) q.stop())

  def ids: Set[String] = queries.map(_.id.toString).toSet

  def taskPath: String = metricsConf.tablePath(Schemas.TaskMetricsTable)
  def logsPath: String = logsConf.tablePath(Schemas.LogsTable)
  def derivedPath: String =
    metricsConf.tablePath(Schemas.StageAggMetricsTable + "_derived")

  /** The three dashboard tables as they stand now: each read pins the
    * sink's committed file list, so one snapshot answers a panel and its
    * check alike.
    */
  def snapshot(): Map[String, DataFrame] = Map(
    Panels.TaskIdx.table -> Ingest.read(spark, taskPath, Ingest.taskSchema(spark)),
    Panels.LogIdx.table -> Ingest.read(spark, logsPath, Ingest.logSchema(spark)),
    Panels.StageIdx.table -> Ingest.read(spark, derivedPath, Ingest.derivedSchema(spark)))

  /** Parquet part files and bytes across the sinks. */
  def sinkFiles: (Long, Long) =
    Run.treeStats(tablesRoot, _.getFileName.toString.endsWith(".parquet"))

  /** The watermark the derived stage agg's last sink batch ran under:
    * that batch's `batchWatermarkMs` in the query's offset log. Windows
    * it closed are in the sink; no others are.
    */
  def derivedWatermarkMs(): Long = {
    val meta = Paths.get(derivedPath, "_spark_metadata")
    val last = if (!Files.exists(meta)) None
      else Ingest.list(meta).flatMap(_.getFileName.toString.stripSuffix(".compact")
        .toLongOption).maxOption
    last.fold(0L) { b =>
      val offsets = Paths.get(metricsConf.checkpointRoot, "stage_agg_derived", "offsets",
        b.toString)
      Ingest.WatermarkRx.findFirstMatchIn(Files.readString(offsets))
        .fold(0L)(_.group(1).toLong)
    }
  }

  /** Spool file name → micro-batch id, from one query's source log. */
  private def sourceBatches(ckpt: String): Map[String, Long] = {
    val dir = Paths.get(ckpt, "sources", "0")
    if (!Files.exists(dir)) Map.empty
    else Ingest.list(dir).flatMap { f =>
      Files.readAllLines(f).asScala.drop(1).flatMap { l =>
        val path = Ingest.PathRx.findFirstMatchIn(l).map(_.group(1))
        val batch = Ingest.BatchRx.findFirstMatchIn(l).map(_.group(1).toLong)
        for (p <- path; b <- batch) yield p.split('/').last -> b
      }
    }.toMap
  }

  /** Micro-batch id → commit time (epoch ms) from one query's commit log. */
  private def commitTimes(ckpt: String): Map[Long, Long] = {
    val dir = Paths.get(ckpt, "commits")
    if (!Files.exists(dir)) Map.empty
    else Ingest.list(dir).flatMap { f =>
      f.getFileName.toString.toLongOption.map(
        _ -> Files.getLastModifiedTime(f).toMillis)
    }.toMap
  }

  /** Commit time of every spool line that a committed micro-batch
    * holds, keyed by the line's event key; lines not yet committed are
    * absent.
    */
  def commitTimesByKey(): Map[String, Long] = {
    def side(ckpt: String, spool: String, key: org.apache.spark.sql.Column)
        : Map[String, Long] = {
      val batch = sourceBatches(ckpt)
      val commit = commitTimes(ckpt)
      if (!Files.exists(Paths.get(spool)) || Ingest.list(Paths.get(spool)).isEmpty) Map.empty
      else spark.read.text(spool)
        .select(key.as("k"), element_at(split(input_file_name(), "/"), -1).as("f"))
        .collect().flatMap { r =>
          batch.get(r.getString(1)).flatMap(commit.get).map(r.getString(0) -> _)
        }.toMap
    }
    side(metricsConf.checkpointRoot + "/" + Schemas.TaskMetricsTable,
      metricsConf.sourceDir, Ingest.taskKeyFromJson) ++
      side(logsConf.checkpointRoot + "/" + Schemas.LogsTable,
        logsConf.sourceDir, Ingest.logKeyOf(get_json_object(col("value"), "$.message")))
  }
}

object Ingest {
  private val PathRx = "\"path\":\"([^\"]+)\"".r
  private val BatchRx = "\"batchId\":(\\d+)".r
  private val WatermarkRx = "\"batchWatermarkMs\":(\\d+)".r

  private def list(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.filter(p => !p.getFileName.toString.startsWith(".")).toSeq
    finally s.close()
  }

  /** A task row's key: app, stage and the listener's task id. */
  def taskKey(appId: String, stageId: Int, taskId: String): String =
    s"$appId/$stageId/$taskId"
  private def taskKeyFromJson = concat_ws("/",
    get_json_object(col("value"), "$.appId"),
    get_json_object(col("value"), "$.stageId"),
    get_json_object(col("value"), "$.taskId"))
  private def taskKeyOfRow = concat_ws("/", col("appId"), col("stageId").cast("string"),
    col("taskId"))
  /** A log row's key: the sequence tag the generator puts in each message. */
  def logKeyOf(message: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_extract(message, "\\[e(\\d+-\\d+)\\]$", 1)
  def logKey(message: String): String =
    message.substring(message.lastIndexOf("[e") + 2, message.length - 1)

  private def rawEmpty(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
  def taskSchema(spark: SparkSession): StructType = Transforms.withDt(
    Transforms.projectTaskMetrics(rawEmpty(spark, Transforms.rawMetricSchema)),
    "metricTime").schema
  def logSchema(spark: SparkSession): StructType = Transforms.withDt(
    Transforms.projectLogRecords(rawEmpty(spark, Transforms.rawLogSchema)),
    "logTime").schema
  def derivedSchema(spark: SparkSession): StructType = Transforms.withDt(
    Pipelines.windowedStageAgg(
      Transforms.projectTaskMetrics(rawEmpty(spark, Transforms.rawMetricSchema)),
      Pipelines.Config("", "", "")).drop("windowStart"),
    "metricTime").schema

  def read(spark: SparkSession, path: String, schema: StructType): DataFrame =
    if (Files.exists(Paths.get(path, "_spark_metadata")))
      spark.read.schema(schema).parquet(path)
    else rawEmpty(spark, schema)

  // ------------------------------------------------------------ checks

  /** Exactly-once accounting: every generated event is committed once.
    * Returns (lost, duplicated) counts over task and log rows together.
    */
  def accounting(spark: SparkSession, snap: Map[String, DataFrame],
      fleet: Fleet.Spec, emitted: Int => Boolean): (Long, Long) = {
    import spark.implicits._
    val wantTasks = fleet.tasks.zipWithIndex.collect {
      case (t, i) if emitted(i) =>
        taskKey(fleet.apps(t.app).id, t.stageId, s"${t.index}.${t.attempt}")
    }
    val wantLogs = fleet.logs.zipWithIndex.collect {
      case (l, i) if emitted(fleet.tasks.size + i) => logKey(l.message)
    }
    val want = (wantTasks ++ wantLogs).toDF("k")
    val got = snap(Panels.TaskIdx.table).select(taskKeyOfRow.as("k"))
      .union(snap(Panels.LogIdx.table).select(logKeyOf(col("message")).as("k")))
    val counts = got.groupBy("k").count()
    val lost = want.join(counts, Seq("k"), "left_anti").count()
    val dup = counts.filter(col("count") > 1).agg(coalesce(sum(col("count") - 1), lit(0L)))
      .head().getLong(0)
    val extra = counts.join(want, Seq("k"), "left_anti").count()
    (lost, dup + extra)
  }

  /** The derived stage aggregation against an independent SQL recompute
    * of the skew formula over the committed task rows, in windows of
    * `window`: windows the final watermark closed must match exactly
    * (skews to 1e-9), and nothing else may be emitted. Returns the number
    * of mismatched rows.
    */
  def stageAggMismatches(spark: SparkSession, snap: Map[String, DataFrame],
      watermarkMs: Long, window: String, view: String): Long = {
    snap(Panels.TaskIdx.table).createOrReplaceTempView(s"${view}_t")
    snap(Panels.StageIdx.table).createOrReplaceTempView(s"${view}_s")
    val expected = spark.sql(
      s"""SELECT appId, jobId, stageId, mt AS metricTime, mxi AS maxInputBytesRead,
         |  mxs AS maxShuffleBytesRead,
         |  GREATEST(mxi - avi, avi - mni) / (CASE WHEN mxi = mni THEN 1.0 ELSE mxi - mni END) AS si,
         |  GREATEST(mxs - avs, avs - mns) / (CASE WHEN mxs = mns THEN 1.0 ELSE mxs - mns END) AS ss
         |FROM (SELECT appId, jobId, stageId, window(metricTime, '$window') AS w,
         |  MAX(metricTime) AS mt, MAX(inputBytesRead) AS mxi, MIN(inputBytesRead) AS mni,
         |  AVG(inputBytesRead) AS avi, MAX(shuffleBytesRead) AS mxs,
         |  MIN(shuffleBytesRead) AS mns, AVG(shuffleBytesRead) AS avs
         |  FROM ${view}_t GROUP BY appName, appId, jobId, stageId, window(metricTime, '$window'))
         |WHERE unix_millis(w.end) <= $watermarkMs""".stripMargin)
    val got = spark.table(s"${view}_s").select(col("appId"), col("jobId"),
      col("stageId"), col("metricTime"), col("maxInputBytesRead"),
      col("maxShuffleBytesRead"), col("inputBytesReadSkewness").as("gi"),
      col("shuffleBytesReadSkewness").as("gs"))
    val keys = Seq("appId", "jobId", "stageId", "metricTime",
      "maxInputBytesRead", "maxShuffleBytesRead")
    val joined = expected.join(got, keys, "full_outer")
    joined.filter(col("si").isNull || col("gi").isNull ||
      abs(col("si") - col("gi")) > 1e-9 || abs(col("ss") - col("gs")) > 1e-9).count()
  }

  /** Percentile (nearest rank) of a sample; NaN when empty. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1))
    }

  /** Union of the micro-batches' busy intervals, in ms. */
  def busyMs(ps: Seq[StreamingQueryProgress]): Double = {
    val iv = ps.map { p =>
      val s = java.time.Instant.parse(p.timestamp).toEpochMilli
      (s * 1000000L, (s + p.durationMs.getOrDefault("triggerExecution", 0L)) * 1000000L)
    }
    Tracer.unionNs(iv) / 1e6
  }

  /** Rows that entered the task and log tables in these batches. */
  def committedRows(ps: Seq[StreamingQueryProgress], rowQueries: Set[String]): Long =
    ps.filter(p => rowQueries.contains(p.id.toString)).map(_.numInputRows).sum
}
