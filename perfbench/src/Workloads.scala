package perfbench

import graft.functions.Normalize
import graft.model.Schemas
import graft.operators.Merges
import graft.pipeline.JobPipeline
import graft.pipeline.JobPipeline.{FilterConfig, MergeUpsert, RegionConfig, Scd1}
import graft.streaming.StreamingIngest
import java.nio.file.{Files, Path}
import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import scala.collection.mutable

/** What one timed operation did: poll entries ingested, rows enriched
  * and merged back, seconds from its start until its result tables were
  * complete, and the operations it attempted and failed.
  */
final case class OpResult(entries: Long, rows: Long, resultS: Double, attempted: Int,
    failed: Int)

/** A workload: set-up, one repeatable timed operation, the per-layer
  * numbers of a traced operation, and ground-truth checks.
  */
trait Workload {
  /** Generates inputs under `dir` and seeds tables. */
  def setup(spark: SparkSession, dir: Path): Unit
  /** One untimed operation after the last set-up pass: it loads and
    * compiles what the timed operations run.
    */
  def warmUp(): Unit
  /** Untimed preparation of operation `i`: removing the previous
    * operation's outputs, landing a round's poll files.
    */
  def prepare(i: Int, trace: Trace): Unit
  /** One timed unit of work: a backfill run or a cron round. */
  def op(i: Int, trace: Trace): OpResult
  /** Per-layer numbers of the operation just traced, plus replays. */
  def layers(i: Int, stats: OpStats): Map[String, Double]
  /** Checks the outputs of operation `i`: (checks attempted, checks failed). */
  def check(i: Int): (Int, Int)
  /** Checks run once after the last operation. */
  def finalCheck(): (Int, Int) = (0, 0)
}

object Workload {
  /** Every per-layer metric of the traced run; a layer a workload does
    * not run reports 0.
    */
  val PerLayer: Seq[String] = Seq(
    "feed.files", "feed.entries", "feed.files_empty", "feed.parse_s",
    "feed.scan_tasks_per_file", "normalize.s",
    "etl.s", "etl.jobs", "filter.s", "filter.rows_in", "filter.rows_out", "load.s",
    "orchestrator.regions_failed",
    "merge.history_rows", "merge.batch_rows", "merge.rows_written",
    "merge.write_amplification",
    "stream.query_start_s", "stream.planning_s", "stream.add_batch_s",
    "stream.wal_commit_s", "stream.input_rows", "stream.state_rows", "stream.state_mb",
    "stream.dup_dropped",
    "enrich.skills_s", "enrich.tfidf_s", "enrich.score_s", "enrich.merge_s",
    "enrich.scorer_calls", "enrich.scorer_retries", "enrich.scorer_gave_up",
    "enrich.scorer_wait_s",
    "spark.jobs", "spark.tasks", "spark.task_s", "spark.gc_s", "spark.shuffle_write_mb",
    "spark.shuffle_read_mb", "spark.spill_mb", "spark.output_mb", "spark.failed_tasks",
    "catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s",
    "jvm.heap_peak_mb")

  val FeedFormat = "graft.sources.feed.FeedDataSource"
  val Filter = FilterConfig(daysBack = Times.DaysBack,
    keywordExclusions = Map("entry_title" -> Seq(Vocab.TitleExclusion),
      "summary" -> Seq(Vocab.SummaryExclusion)))
  def ts(epochSec: Long): Timestamp = new Timestamp(epochSec * 1000L)
  private val Fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
    .withZone(java.time.ZoneOffset.UTC)
  def fmt(epochSec: Long): String = Fmt.format(java.time.Instant.ofEpochSecond(epochSec))

  def apply(name: String, seed: Long): Workload = name match {
    case "backfill" => new BackfillWorkload(seed)
    case "cron"     => new CronWorkload(seed)
    case other      => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** Mismatches between a stage-shaped table and the expected revisions:
    * key set, title, normalized publish time, and a summary that is
    * blank exactly when expected and free of markup.
    */
  def stageMismatches(df: DataFrame, expected: Map[String, Rev]): Long = {
    val rows = df.select("link", "entry_title", "published", "summary").collect()
    val keys = rows.map(_.getString(0))
    val dupKeys = keys.length - keys.distinct.length
    val keyMismatch = (keys.toSet -- expected.keySet).size + (expected.keySet -- keys.toSet).size
    val bad = rows.count { r =>
      expected.get(r.getString(0)).exists { e =>
        val s = Option(r.getString(3)).getOrElse("")
        r.getString(1) != e.title || r.getString(2) != fmt(e.pub) ||
          s.trim.isEmpty != e.blank || s.contains("<") || s.contains("&nbsp;")
      }
    }
    dupKeys.toLong + keyMismatch + bad
  }

  def failures(mismatches: Long): Int = if (mismatches == 0) 0 else 1

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Engine-level per-layer numbers shared by every workload. */
  def engine(st: OpStats): Map[String, Double] = Map(
    "spark.jobs" -> st.jobs.toDouble, "spark.tasks" -> st.tasks.toDouble,
    "spark.task_s" -> st.taskS, "spark.gc_s" -> st.gcS,
    "spark.shuffle_write_mb" -> st.shuffleWriteMb, "spark.shuffle_read_mb" -> st.shuffleReadMb,
    "spark.spill_mb" -> st.spillMb, "spark.output_mb" -> st.outputMb,
    "spark.failed_tasks" -> st.failedTasks.toDouble,
    "catalyst.analysis_s" -> st.catalyst(_.analysisS),
    "catalyst.optimization_s" -> st.catalyst(_.optimizationS),
    "catalyst.planning_s" -> st.catalyst(_.planningS),
    "jvm.heap_peak_mb" -> st.heapPeakMb)

  def observed(st: OpStats, name: String, field: String): Double =
    st.qes.flatMap(_.observed.get(name)).map(_.getOrElse(field, 0L)).sum.toDouble

  def writesTo(st: OpStats, part: String): Vector[Exec] =
    st.execs.filter(_.writePath.exists(_.contains(part)))

  def recordsWritten(st: OpStats, execs: Vector[Exec]): Double =
    execs.map(e => st.recordsWrittenByExec.getOrElse(e.id, 0L)).sum.toDouble

  /** Parse and normalize replays over a directory of poll files. */
  def feedReplays(spark: SparkSession, dir: String): Map[String, Double] = {
    val raw = spark.read.format(FeedFormat).option("path", dir).load()
    val files = raw.rdd.getNumPartitions
    val perFile = raw.groupBy("source_file").count().collect()
    val parse = Enrich.forced(raw)
    val norm = Enrich.forced(JobPipeline.normalizeEntries(raw, ts(Times.T0)))
    Map("feed.files" -> files.toDouble,
      "feed.entries" -> perFile.map(_.getLong(1)).sum.toDouble,
      "feed.files_empty" -> (files - perFile.length).toDouble,
      "feed.parse_s" -> parse, "normalize.s" -> (norm - parse))
  }

  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.delete(x))
      finally s.close()
    }
}

import Workload._

/** Cold start: every region's poll files through `runRegions` into empty
  * tables, then enrichment of the filtered rows, merged back into the
  * stage rows of both regions (update-heavy: every enriched key exists).
  */
final class BackfillWorkload(seed: Long) extends Workload {
  val FilesPerRegion = 21
  val PerPoll = 40
  private var spark: SparkSession = _
  private var dir: Path = _
  private var regions: Vector[Backfill.Region] = _
  private var lastResults: Seq[JobPipeline.RegionResult] = Nil
  private var lastCounters: ScorerCounters = _
  private var lastOp = -1

  private def opDir(i: Int): Path = dir.resolve(s"op-$i")
  private def stage(i: Int, r: String) = opDir(i).resolve(s"stage-$r").toString
  private def result(i: Int, r: String) = opDir(i).resolve(s"result-$r").toString

  def setup(s: SparkSession, d: Path): Unit = {
    spark = s; dir = d
    regions = Backfill.generate(seed, dir.resolve("polls"), FilesPerRegion, PerPoll)
  }

  /** A run over the same input. */
  def warmUp(): Unit = {
    run(-1, regions, new Trace(spark))
    delete(opDir(-1))
  }

  private def run(i: Int, rs: Vector[Backfill.Region], trace: Trace): OpResult = {
    val t0 = System.nanoTime()
    val configs = rs.zip(Seq(Scd1, MergeUpsert)).map { case (r, strategy) =>
      RegionConfig(r.name, spark.read.format(FeedFormat).option("path", r.dir.toString).load(),
        stage(i, r.name), result(i, r.name), strategy, Filter)
    }
    val (results, _) = trace.span("JobPipeline.runRegions")(
      JobPipeline.runRegions(spark, configs, ts(Times.T0)))
    val resultS = (System.nanoTime() - t0) / 1e9
    lastResults = results
    val enrichFailed =
      try {
        lastCounters = Enrich.pass(spark, filtered(i, rs), widenedStage(i, rs),
          opDir(i).resolve("enriched").toString, seed, trace)
        0
      } catch { case scala.util.control.NonFatal(e) => e.printStackTrace(); 1 }
    OpResult(rs.map(_.expected.entries).sum, results.map(_.rows).sum, resultS,
      attempted = results.size + 1, failed = results.count(!_.success) + enrichFailed)
  }

  /** The filtered rows of every region's result table. */
  private def filtered(i: Int, rs: Vector[Backfill.Region]): DataFrame =
    rs.map(r => spark.read.parquet(result(i, r.name) + "_next")
      .select(Schemas.FeedEntryCols.map(col): _*)).reduce(_ unionByName _)

  /** Every region's stage rows with empty enrichment columns. */
  private def widenedStage(i: Int, rs: Vector[Backfill.Region]): DataFrame =
    rs.map(r => spark.read.parquet(stage(i, r.name))).reduce(_ unionByName _)
      .select(Schemas.FeedEntryCols.map(col) ++
        Enrich.Added.map(f => lit(null).cast(f.dataType).as(f.name)): _*)

  def prepare(i: Int, trace: Trace): Unit = delete(opDir(i - 1))

  def op(i: Int, trace: Trace): OpResult = {
    lastOp = i
    run(i, regions, trace)
  }

  /** Every operation rebuilds the same tables from the same files, so the
    * last one's outputs are checked.
    */
  def check(i: Int): (Int, Int) = (0, 0)

  override def finalCheck(): (Int, Int) = {
    val i = lastOp
    var failed = 0
    for (r <- regions) {
      val st = spark.read.parquet(stage(i, r.name))
      failed += failures(stageMismatches(st, r.expected.stage))
      failed += failures(st.filter(col("link").isin(r.malformedOnlyKeys.toSeq: _*)).count() +
        (if (r.malformedOnlyKeys.isEmpty) 1 else 0))
      failed += failures(stageMismatches(spark.read.parquet(result(i, r.name) + "_next"),
        r.expected.result))
    }
    val expected = regions.flatMap(_.expected.result).map { case (k, v) => k -> v.skills }.toMap
    val enriched = spark.read.parquet(opDir(i).resolve("enriched").toString)
    failed += failures(math.abs(enriched.count() - regions.map(_.expected.stage.size).sum) +
      Enrich.check(enriched, expected, lastCounters.gaveUpTexts))
    (regions.size * 3 + 1, failed)
  }

  def layers(i: Int, st: OpStats): Map[String, Double] = {
    val feed = regions.map(r => feedReplays(spark, r.dir.toString))
      .reduce((a, b) => a.map { case (k, v) => k -> (v + b(k)) })
    val etl = st.execs.filter(_.readsFeed)
    val stageRows = regions.map(r => spark.read.parquet(stage(i, r.name)).count()).sum.toDouble
    val enrichedRows = regions.map(_.expected.result.size).sum.toDouble
    val written = recordsWritten(st, writesTo(st, "/enriched"))
    val filterS = regions.map(r => Enrich.forced(JobPipeline.filterStage(
      spark.read.parquet(stage(i, r.name)), Filter, ts(Times.T0)))).sum
    feed ++ engine(st) ++ Map(
      "feed.scan_tasks_per_file" -> st.feedScanTasks / feed("feed.files"),
      "etl.s" -> etl.map(_.seconds).sum,
      "etl.jobs" -> etl.map(e => st.jobsByExec.getOrElse(e.id, 0L)).sum.toDouble,
      "filter.s" -> filterS,
      "filter.rows_in" -> observed(st, "filter_stage", "rows_in"),
      "filter.rows_out" -> observed(st, "filter_stage", "rows_out"),
      "load.s" -> writesTo(st, "/result-").map(_.seconds).sum,
      "orchestrator.regions_failed" -> lastResults.count(!_.success).toDouble,
      "merge.history_rows" -> stageRows,
      "merge.batch_rows" -> enrichedRows,
      "merge.rows_written" -> written,
      "merge.write_amplification" -> written / math.max(1.0, enrichedRows)) ++
      Enrich.replays(spark, filtered(i, regions), widenedStage(i, regions),
        opDir(i).resolve("replay-widened").toString, seed, lastCounters)
  }
}

/** The paper's cadence: one streaming round per 15-minute poll into a
  * large SCD2 history, then filter, load and enrichment of the round's
  * new versions.
  */
final class CronWorkload(seed: Long) extends Workload {
  val HistoryPerFeed = 700
  private var spark: SparkSession = _
  private var dir: Path = _
  private var model: Cron = _
  private var lastBatchTs = Times.T0
  private var resultPath: Option[String] = None
  private var enrichedPath: Option[String] = None
  private val gaveUp = mutable.Set.empty[Int]
  private var lastCounters: ScorerCounters = _
  private var roundFiles: Vector[Poll] = Vector.empty
  private var roundStart = 0L
  private var newRows: DataFrame = _
  private var roundEnriched: DataFrame = _
  private var before: (Long, Long) = (0L, 0L)
  private var jobsInStream = 0L

  private def pollDir = dir.resolve("polls")
  private def table = dir.resolve("history").toString
  private def ckpt = dir.resolve("checkpoint").toString
  /** SCD2 rows as the sink writes them: `link` first, then the other
    * normalized columns, then the version columns.
    */
  private val HistorySchema = org.apache.spark.sql.types.StructType(
    (Enrich.StageSchema("link") +: Enrich.StageSchema.fields.filterNot(_.name == "link")) ++
      Schemas.Scd2Schema.fields.takeRight(3))
  /** Version timestamp of micro-batch `id`: a pure function of the id. */
  private def batchTs(id: Long): Timestamp = ts(Times.T0 + 1 + id)

  def setup(s: SparkSession, d: Path): Unit = {
    spark = s; dir = d
    model = new Cron(seed, HistoryPerFeed)
    Files.createDirectories(pollDir)
    val rows = model.history.map { case (feed, link, r) =>
      Row(link, "", r.title, fmt(r.pub), feed, "", "", r.html, "", ts(Times.T0), null, 1)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 8), HistorySchema)
      .write.parquet(table)
  }

  /** Round 1: the first batch of a fresh checkpoint, before the
    * watermark exists.
    */
  def warmUp(): Unit = {
    val t = new Trace(spark)
    prepare(-1, t)
    op(-1, t)
  }

  private def readOrEmpty(p: Option[String], schema: org.apache.spark.sql.types.StructType) =
    p.map(spark.read.parquet).getOrElse(Enrich.empty(spark, schema))

  /** Generates the next round and lands its poll files. */
  def prepare(i: Int, trace: Trace): Unit = {
    roundFiles = model.next()
    if (trace.enabled) {
      val h = spark.read.parquet(table)
      before = (h.count(), h.filter(col(Schemas.CurrentFlag) === 0).count())
    }
    model.write(pollDir, roundFiles)
  }

  def op(i: Int, trace: Trace): OpResult = {
    val asOf = ts(Cron.poll(model.round))
    val t0 = System.nanoTime()
    roundStart = System.currentTimeMillis()
    var failed = 0
    // ingest: poll files -> normalize -> dedup by key -> SCD2 sink
    val q = trace.span("StreamingIngest.scd2Sink") {
      val raw = spark.readStream.format(FeedFormat).option("path", pollDir.toString).load()
      val norm = JobPipeline.normalizeEntries(raw, asOf)
        .withColumn("_evt", Normalize.tsParse(col("published")))
      val deduped = StreamingIngest.dedupStreamByKey(norm, "link", "_evt", "1 minute")
        .drop("_evt")
      StreamingIngest.scd2Sink(deduped, table, ckpt, "link", Schemas.CompareCols,
        id => batchTs(id), trigger = Trigger.AvailableNow()).start()
    }
    trace.span("stream.await")(q.awaitTermination())
    if (q.exception.isDefined) failed += 1
    val ids = q.recentProgress.map(_.batchId)
    val since = lastBatchTs
    if (ids.nonEmpty) lastBatchTs = batchTs(ids.max).getTime / 1000
    if (trace.enabled) jobsInStream = trace.jobsSoFar()
    // filter + load the round's new versions
    val resultSchema = org.apache.spark.sql.types.StructType(Enrich.StageSchema.fields :+
      org.apache.spark.sql.types.StructField("AS_OF_DT", org.apache.spark.sql.types.StringType))
    newRows = spark.read.parquet(table)
      .filter(col(Schemas.CurrentFlag) === 1 && col(Schemas.EffectiveStart) > lit(ts(since)))
      .select(Schemas.FeedEntryCols.map(col): _*)
    val out = dir.resolve(s"results/$i").toString
    val loadFailed =
      try {
        trace.span("JobPipeline.loadResult") {
          val filtered = trace.span("JobPipeline.filterStage")(JobPipeline.filterStage(newRows, Filter, asOf))
          JobPipeline.loadResult(readOrEmpty(resultPath, resultSchema), filtered, Filter)
            .write.parquet(out)
        }
        resultPath.foreach(p => delete(java.nio.file.Paths.get(p)))
        resultPath = Some(out)
        0
      } catch { case scala.util.control.NonFatal(e) => e.printStackTrace(); 1 }
    val resultS = (System.nanoTime() - t0) / 1e9
    // enrich the rows this round loaded
    val enrichOut = dir.resolve(s"enriched/$i").toString
    val enrichFailed =
      try {
        roundEnriched = spark.read.parquet(out)
          .filter(col("AS_OF_DT") === Normalize.tsFormat(lit(asOf)))
          .select(Schemas.FeedEntryCols.map(col): _*)
        lastCounters = Enrich.pass(spark, roundEnriched,
          readOrEmpty(enrichedPath, Enrich.Schema), enrichOut, seed, trace)
        gaveUp ++= lastCounters.gaveUpTexts
        enrichedPath.foreach(p => delete(java.nio.file.Paths.get(p)))
        enrichedPath = Some(enrichOut)
        0
      } catch { case scala.util.control.NonFatal(e) => e.printStackTrace(); 1 }
    val rows = model.result.values.count(r => r.pub > Cron.poll(model.round - 1))
    OpResult(roundFiles.map(_.entries.size.toLong).sum, rows.toLong, resultS,
      attempted = 3, failed = failed + loadFailed + enrichFailed)
  }

  def check(i: Int): (Int, Int) =
    (1, resultPath.fold(1)(p => failures(math.abs(spark.read.parquet(p).count() - model.result.size))))

  override def finalCheck(): (Int, Int) =
    if (resultPath.isEmpty || enrichedPath.isEmpty) (3, 3) else {
    val h = spark.read.parquet(table)
    val current = h.filter(col(Schemas.CurrentFlag) === 1)
    val total = h.count()
    val scd2 = stageMismatches(current, model.latest.toMap) +
      math.abs(total - model.versions)
    val result = stageMismatches(spark.read.parquet(resultPath.get), model.result.toMap)
    val enriched = Enrich.check(spark.read.parquet(enrichedPath.get),
      model.result.map { case (k, v) => k -> v.skills }.toMap, gaveUp.toSet)
    (3, failures(scd2) + failures(result) + failures(enriched))
    }

  def layers(i: Int, st: OpStats): Map[String, Double] = {
    val replayDir = dir.resolve(s"replay-$i")
    Files.createDirectories(replayDir)
    roundFiles.foreach(p => Files.copy(pollDir.resolve(p.name), replayDir.resolve(p.name)))
    val feed = feedReplays(spark, replayDir.toString)
    val ps = st.progress.map(_.progress)
    def dur(k: String) = ps.map(p => Option(p.durationMs.get(k)).map(_.toLong).getOrElse(0L)).sum / 1000.0
    val ops = ps.flatMap(_.stateOperators.headOption)
    val dropped = ops.map(o => Option(o.customMetrics.get("numDroppedDuplicateRows"))
      .map(_.toLong).getOrElse(0L) + o.numRowsDroppedByWatermark).sum.toDouble
    val input = ps.map(_.numInputRows).sum.toDouble
    val h = spark.read.parquet(table)
    val (after, expiredAfter) = (h.count(), h.filter(col(Schemas.CurrentFlag) === 0).count())
    val inserted = after - before._1
    val changed = inserted + (expiredAfter - before._2)
    val written = recordsWritten(st, writesTo(st, "history_tmp"))
    val firstTrigger = ps.headOption.map(p => java.time.Instant.parse(p.timestamp).toEpochMilli)
    feed ++ engine(st) ++ Map(
      "feed.files" -> roundFiles.size.toDouble,
      "feed.entries" -> input,
      "feed.scan_tasks_per_file" -> st.feedScanTasks / roundFiles.size.toDouble,
      "etl.s" -> dur("triggerExecution"),
      "etl.jobs" -> jobsInStream.toDouble,
      "filter.s" -> Enrich.forced(JobPipeline.filterStage(newRows, Filter,
        ts(Cron.poll(model.round)))),
      "filter.rows_in" -> observed(st, "filter_stage", "rows_in"),
      "filter.rows_out" -> observed(st, "filter_stage", "rows_out"),
      "load.s" -> writesTo(st, "/results/").map(_.seconds).sum,
      "merge.history_rows" -> before._1.toDouble,
      "merge.batch_rows" -> inserted.toDouble,
      "merge.rows_written" -> written,
      "merge.write_amplification" -> written / math.max(1.0, changed.toDouble),
      "stream.query_start_s" -> firstTrigger.map(t => (t - roundStart) / 1000.0).getOrElse(0.0),
      "stream.planning_s" -> dur("queryPlanning"),
      "stream.add_batch_s" -> dur("addBatch"),
      "stream.wal_commit_s" -> (dur("walCommit") + dur("commitOffsets")),
      "stream.input_rows" -> input,
      "stream.state_rows" -> ops.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0),
      "stream.state_mb" -> ops.lastOption.map(_.memoryUsedBytes / 1048576.0).getOrElse(0.0),
      "stream.dup_dropped" -> dropped) ++
      Enrich.replays(spark, roundEnriched,
        spark.read.parquet(enrichedPath.get), replayDir.resolve("widened").toString,
        seed, lastCounters)
  }
}
