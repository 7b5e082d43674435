package graft.pipeline

import graft.functions.{HtmlToText, Normalize}
import graft.model.Schemas
import graft.operators.{Filters, Merges}
import graft.sources.Tables
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Observation, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import java.util.concurrent.{Callable, ExecutionException, Executors}
import scala.concurrent.Await
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._
import scala.util.Try
import scala.util.control.NonFatal

/** The reference's pipeline wiring (SURVEY.md §3) as one lazy plan per
  * stage, parameterized by config — the Spark shape of
  * run_etl.py + run_job_filter.py + run_job_pipelines.py.
  *
  * Stages communicate through stored tables exactly like the reference
  * (worksheet ↔ parquet directory); each stage is itself a single
  * Catalyst plan, so the reference's step-by-step full-copy pandas
  * execution (df.copy() per filter) collapses into one fused
  * scan → filter → project → merge → write.
  */
object JobPipeline {

  /** Filter-stage config (reference: config/config.yaml:82-183). */
  final case class FilterConfig(
      daysBack: Int = 30,
      requiredCols: Seq[String] = Seq("entry_title", "summary"),
      keywordExclusions: Map[String, Seq[String]] = Map.empty,
      caseSensitive: Boolean = false,
      loadingMode: String = "append" // append | overwrite
  )

  /** Merge-strategy config (reference: run_etl.py:218-229). */
  sealed trait Strategy
  case object Scd1 extends Strategy
  case object Scd2 extends Strategy
  case object MergeUpsert extends Strategy

  /** Ingest normalization (reference: core/etl.py:108-169): raw feed
    * entries → canonical 9-col schema with cleaned summary, parsed
    * published (missing → batch time), blank notes.
    */
  def normalizeEntries(raw: DataFrame, batchTs: java.sql.Timestamp,
      displayTz: String = "UTC"): DataFrame = {
    val withCols = raw
      .withColumn("summary",
        HtmlToText.htmlToText(Normalize.nullToEmpty(col("summary"))))
      // C11: the published string is emitted in the configured display
      // timezone, matching the reference's parse → tz_convert → format
      // on every ingest (src/rss_feed_etl/core/etl.py:127-133, default
      // US/Central). Default UTC keeps the oracle-pinned outputs.
      .withColumn("published",
        Normalize.tsFormat(Normalize.toDisplayTz(Normalize.tsOrBatch(
          Normalize.tsParse(col("published").cast("string")), batchTs), displayTz)))
      .withColumn("notes",
        if (raw.columns.contains("notes")) Normalize.nullToEmpty(col("notes"))
        else lit(""))
    Normalize.canonicalSelect(withCols, Schemas.FeedEntryCols)
  }

  /** ETL stage (reference: core/etl.py:228-287): new batch → dedup
    * keep-latest within batch → strategy merge into the stage table.
    *
    * Lazy, like every other stage: nothing runs until the caller writes
    * the merged frame. The deduped batch is observed in that same pass
    * as `etl_stage` (`rows_in`, `invalid_pk`: null or blank `key`,
    * `rows_out`), and invalid rows are left out of the merge. The
    * reference rejects a frame with invalid keys
    * (src/etl/scd1_manager.py:179-215), so the caller must check
    * `invalid_pk` after the write and before committing it —
    * [[runRegion]] writes to `_tmp` and swaps only a clean merge in.
    * Returns (merged, its `etl_stage` observation).
    */
  def etlStage(history: DataFrame, batch: DataFrame, strategy: Strategy,
      batchTs: java.sql.Timestamp, key: String = Schemas.PrimaryKey,
      compareCols: Seq[String] = Schemas.CompareCols): (DataFrame, Observation) = {
    val invalid = Filters.invalidKey(key)
    val stats = Observation("etl_stage")
    val valid = Merges.dedupKeepLatest(batch, key,
        Seq(Normalize.tsParse(col("published"))))
      .observe(stats,
        count(lit(1)).as("rows_in"),
        count_if(invalid).as("invalid_pk"),
        count_if(!invalid).as("rows_out"))
      .filter(!invalid)
    val merged = strategy match {
      case Scd1        => Merges.scd1(history, valid, key, compareCols)
      case Scd2        => Merges.scd2(history, valid, key, compareCols, batchTs)
      case MergeUpsert => Merges.mergeUpsert(history, valid, key, compareCols)
    }
    (merged, stats)
  }

  /** Filter stage (reference: run_job_filter.py:257-410): one fused
    * predicate + audit column; Catalyst combines the three filters and
    * prunes columns into the scan. The reference logs removed-row
    * counts per step (run_job_filter.py:145-146,199-201,229-236) —
    * that observable surface is provided as `observe` metrics
    * (`filter_stage`: rows_in / rows_date_ok / rows_content_ok /
    * rows_out) computed in the SAME pass, not as extra count() jobs.
    */
  def filterStage(staged: DataFrame, cfg: FilterConfig,
      asOf: java.sql.Timestamp): DataFrame = {
    val dateOk = Filters.dateRange(Normalize.tsParse(col("published")),
      cfg.daysBack, asOf)
    val contentOk = Filters.nonEmptyContent(cfg.requiredCols)
    val keywordOk = Filters.keywordExclusion(cfg.keywordExclusions,
      cfg.caseSensitive)
    staged
      .observe("filter_stage",
        count(lit(1)).as("rows_in"),
        sum(when(dateOk, 1L).otherwise(0L)).as("rows_date_ok"),
        sum(when(dateOk && contentOk, 1L).otherwise(0L)).as("rows_content_ok"),
        sum(when(dateOk && contentOk && keywordOk, 1L).otherwise(0L))
          .as("rows_out"))
      .filter(dateOk && contentOk && keywordOk)
      .withColumn("AS_OF_DT", Normalize.tsFormat(lit(asOf)))
  }

  /** Result-table load (reference: run_job_filter.py:350-382). */
  def loadResult(existing: DataFrame, filtered: DataFrame, cfg: FilterConfig,
      key: String = Schemas.PrimaryKey): DataFrame =
    cfg.loadingMode match {
      case "append" => Merges.appendDedupNewWins(existing, filtered, key)
      case _        => filtered
    }

  /** One regional pipeline end-to-end over parquet tables (the Spark
    * analogue of run_job_pipelines.py:64-109). Returns the filtered
    * result; writes both stage + result tables.
    *
    * One scan of `rawBatch` and two writes. The merged stage goes to
    * `<stagePath>_tmp`; when its `etl_stage` observation counts an
    * invalid key the `_tmp` is deleted and the region fails with the
    * reference's rejection, leaving the live stage untouched. Otherwise
    * the `_tmp` replaces the stage through the crash-safe
    * [[Tables.swapTable]]. The result goes to `<resultPath>_next`. Both
    * re-reads take the schema of the frame just written, so neither
    * runs a footer-inference job.
    */
  def runRegion(spark: SparkSession, rawBatch: DataFrame, stagePath: String,
      resultPath: String, strategy: Strategy, cfg: FilterConfig,
      batchTs: java.sql.Timestamp, displayTz: String = "UTC"): DataFrame =
    region(spark, rawBatch, stagePath, resultPath, strategy, cfg, batchTs,
      displayTz)._1

  /** [[runRegion]] plus the result's row count, observed on its write. */
  private def region(spark: SparkSession, rawBatch: DataFrame,
      stagePath: String, resultPath: String, strategy: Strategy,
      cfg: FilterConfig, batchTs: java.sql.Timestamp,
      displayTz: String): (DataFrame, Long) = {
    val history = Tables.readCommitted(spark, stagePath, Schemas.FeedEntrySchema)
    val (merged, stats) = etlStage(history,
      normalizeEntries(rawBatch, batchTs, displayTz), strategy, batchTs)
    val tmp = stagePath + "_tmp"
    try {
      merged.write.mode(SaveMode.Overwrite).parquet(tmp)
      val invalid = observed(stats).getAs[Long]("invalid_pk")
      require(invalid == 0,
        s"$invalid rows with null/blank primary key '${Schemas.PrimaryKey}'")
    } catch {
      case NonFatal(e) =>
        val p = new Path(tmp)
        p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
        throw e
    }
    Tables.swapTable(spark, stagePath)

    val staged = spark.read.schema(merged.schema).parquet(stagePath)
    val filtered = filterStage(staged, cfg, batchTs)
    val existing = Tables.readCommitted(spark, resultPath,
      StructType(Schemas.FeedEntrySchema.fields :+
        StructField("AS_OF_DT", StringType)))
    val result = loadResult(existing, filtered, cfg)
    val written = Observation("region_result")
    result.observe(written, count(lit(1)).as("rows"))
      .write.mode(SaveMode.Overwrite).parquet(resultPath + "_next")
    (spark.read.schema(result.schema).parquet(resultPath + "_next"),
      observed(written).getAs[Long]("rows"))
  }

  /** `obs`'s metrics once the action it observes has run. They arrive
    * through the listener bus, so the wait is bounded.
    */
  private def observed(obs: Observation): Row =
    Await.result(obs.future, 5.minutes)

  /** One region's configuration for the multi-region orchestrator. */
  final case class RegionConfig(
      name: String,
      rawBatch: DataFrame,
      stagePath: String,
      resultPath: String,
      strategy: Strategy,
      filter: FilterConfig,
      displayTz: String = "UTC")

  /** Per-region outcome for the run summary (A2 at orchestrator level). */
  final case class RegionResult(
      name: String, success: Boolean, rows: Long, error: Option[String])

  /** Orchestrator parity with run_job_pipelines.py:169-244: run every
    * configured region (the reference's texas/us/both dispatch), keep
    * going when one fails (the reference loops all requested jobs and
    * aggregates statuses), and fold per-region success + result rows
    * into one summary. Returns (per-region results, all-succeeded) —
    * the boolean is the reference's exit code.
    *
    * Regions run concurrently: their jobs are small and mostly
    * coalesced to a task or two, so one region alone leaves most cores
    * idle. Regions that share a stage or result path form one lane and
    * run in config order, so a later one merges over the earlier one as
    * in a serial loop; lanes run on a pool of
    * `min(lanes, defaultParallelism)` threads. Results come back in
    * config order. A region's non-fatal failure is its own
    * `success = false` and leaves the other regions alone; any other
    * throwable reaches the caller once every lane has stopped.
    *
    * The pool is created on the calling thread for this call only, so
    * its threads inherit the caller's Spark local properties (job
    * group, scheduler pool, job tags) and active session.
    */
  def runRegions(spark: SparkSession, regions: Seq[RegionConfig],
      batchTs: java.sql.Timestamp): (Seq[RegionResult], Boolean) = {
    def run(i: Int): (Int, RegionResult) = {
      val r = regions(i)
      i -> (try {
        val (_, rows) = region(spark, r.rawBatch, r.stagePath, r.resultPath,
          r.strategy, r.filter, batchTs, r.displayTz)
        RegionResult(r.name, success = true, rows, None)
      } catch {
        case NonFatal(e) =>
          RegionResult(r.name, success = false, 0L, Option(e.getMessage))
      })
    }
    val ls = lanes(spark, regions)
    val pool = Executors.newFixedThreadPool(
      math.max(1, math.min(ls.size, spark.sparkContext.defaultParallelism)))
    val outcomes = try {
      // invokeAll returns once every lane is done; a FutureTask completes
      // on any throwable, so a fatal error cannot leave it waiting
      pool.invokeAll(ls.map { lane =>
        (() => lane.map(run)): Callable[Seq[(Int, RegionResult)]]
      }.asJava).asScala.toSeq
    } finally pool.shutdownNow()
    val results = outcomes.flatMap { f =>
      try f.get() catch { case e: ExecutionException => throw e.getCause }
    }.sortBy(_._1).map(_._2)
    (results, results.nonEmpty && results.forall(_.success))
  }

  /** `regions`' indices grouped into lanes: regions that share a stage or
    * result path, directly or through another region, are one lane, in
    * config order; lanes are ordered by their first region. Paths are
    * compared fully qualified, so `/x` and `file:/x` are one table; a
    * path that cannot be qualified is compared as written (its region
    * fails on its own).
    */
  private def lanes(spark: SparkSession,
      regions: Seq[RegionConfig]): Seq[Seq[Int]] = {
    val conf = spark.sparkContext.hadoopConfiguration
    def table(p: String): String = Try {
      val path = new Path(p)
      path.getFileSystem(conf).makeQualified(path).toString
    }.getOrElse(p)
    regions.indices.foldLeft(Vector.empty[(Set[String], Vector[Int])]) {
      (lanes, i) =>
        val tables = Set(regions(i).stagePath, regions(i).resultPath).map(table)
        val (shared, apart) = lanes.partition(_._1.exists(tables))
        apart :+ ((tables ++ shared.flatMap(_._1),
          shared.flatMap(_._2).sorted :+ i))
    }.map(_._2).sortBy(_.head)
  }
}
