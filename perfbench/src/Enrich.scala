package perfbench

import graft.model.Schemas
import graft.operators.{Enrichment, Merges, TfIdf}
import graft.operators.Enrichment.RetryingScorer
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The enrichment job every workload ends with (the reference's
  * run_ats_enrichment.py): skills columns, TF-IDF similarity to the
  * resume, the batched LLM score through `RetryingScorer` over the stub
  * transport, the sink projection, and an SCD1 merge into the enriched
  * table.
  */
object Enrich {
  val MaxRetries = 3
  val BatchSize = 5
  /** Small enough that a batch of five ~150-word descriptions is halved. */
  val MaxTokens = 1000L
  val DelayNanos = 200000L

  /** Columns the enrichment adds, as the merged table stores them. */
  val Added: Seq[StructField] = Seq(
    StructField("job_skills", StringType), StructField("matched_skills", StringType),
    StructField("missing_skills", StringType), StructField("match_percentage", DoubleType),
    StructField("sim", DoubleType), StructField("llm_score", DoubleType))

  /** Stage columns as `normalizeEntries` produces them: all strings. */
  val StageSchema: StructType =
    StructType(Schemas.FeedEntryCols.map(StructField(_, StringType)))

  val Schema: StructType = StructType(StageSchema.fields ++ Added)

  def empty(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

  def scorer(spark: SparkSession, seed: Long): (RetryingScorer, ScorerCounters) = {
    val c = new ScorerCounters(spark.sparkContext)
    val t = new StubTransport(seed, MaxRetries, pRateLimited = 0.04, pTransient = 0.04,
      DelayNanos, c)
    (new RetryingScorer(t, MaxRetries, retryDelaySec = 2L, maxTokens = MaxTokens,
      clock = new StubClock(c)), c)
  }

  def skills(in: DataFrame): DataFrame =
    Enrichment.withSkillsColumns(in, "summary", Vocab.Resume)

  def similarity(in: DataFrame): DataFrame =
    TfIdf.similarity(in, "link", "summary", Vocab.Resume)

  def score(in: DataFrame, s: RetryingScorer): DataFrame =
    Enrichment.withLlmScoreBatched(in, "summary", Vocab.Resume, s, BatchSize)

  /** Enriches `in` (stage columns) and merges it into `hist`, writing
    * the merged table to `out`. Returns the scorer's counters.
    */
  def pass(spark: SparkSession, in: DataFrame, hist: DataFrame, out: String,
      seed: Long, trace: Trace): ScorerCounters = {
    val (s, counters) = scorer(spark, seed)
    val widened = trace.span("enrich.build") {
      val withSkills = trace.span("Enrichment.withSkillsColumns")(skills(in))
      val sim = trace.span("TfIdf.similarity")(similarity(in))
      val scored = trace.span("Enrichment.withLlmScoreBatched")(
        score(withSkills.join(sim, Seq("link")), s))
      trace.span("Enrichment.toSinkColumns")(Enrichment.toSinkColumns(scored))
    }
    val merged = trace.span("Merges.scd1")(
      Merges.scd1(hist, widened.select(hist.columns.map(col).toIndexedSeq: _*), "link",
        Schemas.CompareCols))
    trace.span("enrich.write")(merged.write.parquet(out))
    counters
  }

  /** Seconds to run `df` to completion into the no-op sink. */
  def forced(df: DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** Per-layer replays for the traced run: each public enrichment call
    * alone over the same input, forced into the no-op sink. The merge
    * replay reads a materialized copy of the widened rows so that only
    * the merge is timed.
    */
  def replays(spark: SparkSession, in: DataFrame, hist: DataFrame, scratch: String,
      seed: Long, c: ScorerCounters): Map[String, Double] = {
    val (s, _) = scorer(spark, seed)
    val skillsS = forced(skills(in))
    val tfidfS = forced(similarity(in))
    val scoreS = forced(score(in, s))
    Enrichment.toSinkColumns(score(skills(in).join(similarity(in), Seq("link")), s))
      .select(hist.columns.map(col).toIndexedSeq: _*).write.parquet(scratch)
    val mergeS = forced(Merges.scd1(hist, spark.read.parquet(scratch), "link",
      Schemas.CompareCols))
    val gaveUp = c.gaveUpBatches.value.toDouble
    Map("enrich.skills_s" -> skillsS, "enrich.tfidf_s" -> tfidfS,
      "enrich.score_s" -> scoreS, "enrich.merge_s" -> mergeS,
      "enrich.scorer_calls" -> c.calls.value.toDouble,
      "enrich.scorer_retries" -> (c.faults.value - gaveUp),
      "enrich.scorer_gave_up" -> gaveUp,
      "enrich.scorer_wait_s" -> c.waitSec.value.toDouble)
  }

  /** Compares the enriched rows of `table` for the keys in `expected`
    * with the model: skills JSON, match percentage, LLM score (0 when
    * the stub gave up on the row's batch) and a similarity in [0, 1].
    * Returns the mismatch count.
    */
  def check(table: DataFrame, expected: Map[String, Set[String]],
      gaveUp: Set[Int]): Long = {
    val rows = table.filter(col("match_percentage").isNotNull)
      .select("link", "summary", "job_skills", "match_percentage", "sim", "llm_score")
      .collect()
    val seen = rows.map(_.getString(0)).toSet
    val keyMismatch = (seen -- expected.keySet).size + (expected.keySet -- seen).size
    val bad = rows.count { r =>
      expected.get(r.getString(0)) match {
        case None => false
        case Some(skills) =>
          val pct = Vocab.matchPct(skills)
          val llm = if (gaveUp(StubTransport.textHash(r.getString(1)))) 0.0 else pct
          val sim = r.getDouble(4)
          r.getString(2) != Vocab.skillsJson(skills) || r.getDouble(3) != pct ||
            r.getDouble(5) != llm || sim < 0 || sim > 1
      }
    }
    keyMismatch.toLong + bad
  }
}
