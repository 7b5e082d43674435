package graft.operators

import graft.functions.{Normalize, Skills}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The enrichment stage (reference: run_ats_enrichment.py:543-1023):
  * per-row skills extraction, match scoring against a resume side-input,
  * and an LLM scorer boundary.
  *
  * The LLM call is the one non-relational, side-effecting operator in
  * the reference (OpenRouter chat API with batching / recursive token
  * splitting / retry, run_ats_enrichment.py:219-496). It is isolated
  * behind the `Scorer` trait and executed with `mapPartitions`, so:
  *  - tests and the correctness oracle use `DeterministicScorer`
  *    (pure function of the row — stable output, no network);
  *  - a production HTTP scorer would batch `grouped(batchSize)` inside
  *    each partition, halving batches that exceed the token budget
  *    (the reference's 60k-token recursive split) — per-partition, so
  *    1000 executors each run their own rate-limited client.
  */
object Enrichment {

  /** Pluggable match scorer: (jobText, resumeText) → 0-100 score. */
  trait Scorer extends Serializable {
    def score(jobText: String, resumeText: String): Double
  }

  /** Deterministic stub: dictionary-skills overlap percentage — exactly
    * the reference's spaCy fallback formula (skills_extractor.py:172-190).
    */
  final class DeterministicScorer(dict: Seq[String] = Skills.DefaultSkills)
      extends Scorer {
    def score(jobText: String, resumeText: String): Double = {
      val job = dict.filter(jobText.toLowerCase.contains(_)).toSet
      if (job.isEmpty) 0.0
      else {
        val res = dict.filter(resumeText.toLowerCase.contains(_)).toSet
        val pct = (job & res).size.toDouble / job.size * 100
        math.round(pct * 100).toDouble / 100
      }
    }
  }

  // ------------------------------------------------------------------
  // C22 production plumbing: retry/backoff/rate-limit + token-budget
  // batch halving (reference: run_ats_enrichment.py:219-286 retry loop
  // honoring Retry-After; 672-760 recursive 60k-token split;
  // src/utils/api_utils.py:12-53). Network-free and deterministic: the
  // transport and the clock are injected, so specs drive failures and
  // observe sleeps exactly.
  // ------------------------------------------------------------------

  /** One remote batched scoring call (the reference's
    * `analyze_job_batch` API boundary). Implementations throw
    * [[ScoreRateLimited]] on 429-style responses, [[ScoreFatalError]]
    * for don't-retry failures (invalid key, the reference's 401 path),
    * and anything else for transient failures.
    */
  trait BatchTransport extends Serializable {
    def scoreBatch(jobTexts: Seq[String], resumeText: String): Seq[Double]
  }

  /** 429 with an optional Retry-After (seconds). */
  final case class ScoreRateLimited(retryAfterSec: Option[Long])
      extends RuntimeException("rate limited")

  /** Don't-retry failure — the reference returns immediately on 401. */
  final case class ScoreFatalError(msg: String) extends RuntimeException(msg)

  /** Injectable sleep so retry timing is testable without waiting. */
  trait Clock extends Serializable { def sleep(seconds: Long): Unit }
  object SystemClock extends Clock {
    def sleep(seconds: Long): Unit = Thread.sleep(seconds * 1000L)
  }

  /** Batched scorer with the reference's full failure policy:
    *  - batches whose estimated prompt tokens exceed `maxTokens` are
    *    recursively halved before any call is made
    *    (run_ats_enrichment.py:672-700);
    *  - each call retries up to `maxRetries`, sleeping `retryDelaySec`
    *    between attempts, or the server's Retry-After on rate limits
    *    (run_ats_enrichment.py:263-270);
    *  - fatal errors skip retries; exhausted retries score the batch
    *    0.0 — the reference keeps match_percentage at 0 when the API
    *    gives up (run_ats_enrichment.py:286,784-800).
    * Runs per partition inside `withLlmScoreBatched`, so 1000 executors
    * each run their own independently rate-limited client.
    */
  final class RetryingScorer(
      transport: BatchTransport,
      maxRetries: Int = 3,
      retryDelaySec: Long = 5L,
      maxTokens: Long = 60000L,
      clock: Clock = SystemClock) extends Serializable {

    /** chars/4 token heuristic (run_ats_enrichment.py:674-676). */
    def tokenEstimate(s: String): Long = (s.length.toLong + 3) / 4

    def scoreBatch(jobTexts: Seq[String], resumeText: String): Seq[Double] = {
      val total = tokenEstimate(resumeText) + jobTexts.map(tokenEstimate).sum
      if (total > maxTokens && jobTexts.length > 1) {
        val (first, second) = jobTexts.splitAt(jobTexts.length / 2)
        scoreBatch(first, resumeText) ++ scoreBatch(second, resumeText)
      } else callWithRetry(jobTexts, resumeText)
    }

    private def callWithRetry(jobTexts: Seq[String], resumeText: String): Seq[Double] = {
      var attempt = 0
      while (attempt < maxRetries) {
        try return transport.scoreBatch(jobTexts, resumeText)
        catch {
          case ScoreRateLimited(retryAfter) =>
            clock.sleep(retryAfter.getOrElse(retryDelaySec)); attempt += 1
          case _: ScoreFatalError =>
            return Seq.fill(jobTexts.size)(0.0)
          case scala.util.control.NonFatal(_) =>
            clock.sleep(retryDelaySec); attempt += 1
        }
      }
      Seq.fill(jobTexts.size)(0.0)
    }
  }

  /** `BatchTransport` over `java.net.http` with the reference's wire
    * contract (OpenRouter chat completions,
    * run_ats_enrichment.py:219-286 status policy, 320-345 request
    * shape): POST `{model, messages:[system, user(resume + numbered
    * jobs)]}` with a Bearer key and Content-Type json; a 200 parses
    * `choices[0].message.content` for the embedded JSON list of
    * `{job_number, match_percentage}`; 401 is fatal — same key would
    * fail again (py:263-265); 429 raises [[ScoreRateLimited]] with the
    * server's Retry-After (py:266-269); any other status or a
    * non-JSON body is transient, left to [[RetryingScorer]]'s backoff
    * (py:270-283). The HttpClient and ObjectMapper are @transient
    * lazy: the transport ships to executors as configuration and each
    * task builds its own client — 1000 executors, 1000 independent
    * rate-limited clients, exactly the `mapPartitions` boundary the
    * SURVEY prescribes.
    *
    * Prompt-shape deltas from run_ats_enrichment.py:331,344: the
    * few-shot `like this: [...]` example is reproduced verbatim (it is
    * what keeps the model's reply machine-parseable — without it an
    * unparseable reply silently scores the whole batch 0.0), but the
    * per-job `Title:/Description:` framing is not — scoreBatch receives
    * each job as ONE pre-joined text (the column the operator scores),
    * so there is no separate title field to frame.
    */
  final class HttpBatchTransport(
      apiUrl: String,
      apiKey: String,
      model: String,
      timeoutSec: Long = 30L) extends BatchTransport {

    @transient private lazy val http: java.net.http.HttpClient =
      java.net.http.HttpClient.newBuilder()
        .connectTimeout(java.time.Duration.ofSeconds(timeoutSec))
        .build()
    @transient private lazy val mapper =
      new com.fasterxml.jackson.databind.ObjectMapper()

    def scoreBatch(jobTexts: Seq[String], resumeText: String): Seq[Double] = {
      // missing key: the reference refuses before any call (py:221-223)
      if (apiKey == null || apiKey.isEmpty)
        throw ScoreFatalError("API key is missing")
      val jobsText = jobTexts.zipWithIndex
        .map { case (t, i) => s"JOB #${i + 1}:\n$t" }.mkString("\n\n")
      val root = mapper.createObjectNode()
      root.put("model", model)
      val msgs = root.putArray("messages")
      val sys = msgs.addObject()
      sys.put("role", "system")
      sys.put("content", "You are an ATS (Applicant Tracking System) " +
        "expert. Analyze the resume against multiple job descriptions " +
        "and provide match percentages.")
      val user = msgs.addObject()
      user.put("role", "user")
      user.put("content",
        s"Resume:\n$resumeText\n\nJob Descriptions:\n$jobsText\n\n" +
        "For each job, calculate the percentage match between this " +
        "resume and the job description as an ATS would. Return the " +
        "results in JSON format as a list of objects with job_number " +
        "and match_percentage, like this: " +
        "[{'job_number': 1, 'match_percentage': 85}, " +
        "{'job_number': 2, 'match_percentage': 72}]")
      val req = java.net.http.HttpRequest
        .newBuilder(java.net.URI.create(apiUrl))
        .timeout(java.time.Duration.ofSeconds(timeoutSec))
        .header("Authorization", s"Bearer $apiKey")
        .header("Content-Type", "application/json")
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString(
          mapper.writeValueAsString(root)))
        .build()
      val resp =
        http.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
      resp.statusCode() match {
        case 200 => parseScores(resp.body(), jobTexts.size)
        case 401 => throw ScoreFatalError("API key is invalid or expired")
        case 429 =>
          val after = resp.headers().firstValue("Retry-After")
          throw ScoreRateLimited(
            if (after.isPresent) after.get.toLongOption else None)
        case other =>
          throw new RuntimeException(
            s"API request failed with status code $other")
      }
    }

    /** 200-body policy (py:248-262, 359-392): a body that isn't JSON
      * or lacks the `choices[0].message.content` structure is
      * TRANSIENT (the reference sleeps and retries it); a content
      * string whose embedded JSON list won't parse scores the batch
      * 0.0 with no retry (the reference's JSONDecodeError path).
      * Scores map to jobs by list position, like the reference's
      * `enumerate(batch_results)`.
      */
    private def parseScores(body: String, n: Int): Seq[Double] = {
      val tree =
        try mapper.readTree(body)
        catch { case scala.util.control.NonFatal(_) =>
          throw new RuntimeException("API response is not JSON")
        }
      val content = tree.path("choices").path(0).path("message").path("content")
      if (!content.isTextual)
        throw new RuntimeException("API response missing 'choices' structure")
      val text = content.asText.trim
      val start = text.indexOf('[')
      val end = text.lastIndexOf(']') + 1
      val out = Array.fill(n)(0.0)
      if (start >= 0 && end > start) {
        try {
          val arr = mapper.readTree(text.substring(start, end))
          var i = 0
          while (i < arr.size() && i < n) {
            out(i) = arr.get(i).path("match_percentage").asDouble(0.0)
            i += 1
          }
        } catch { case scala.util.control.NonFatal(_) => () } // zeros
      }
      out.toSeq
    }
  }

  /** `withLlmScore` for the batched production path: one transport call
    * per `batchSize` rows (after any token-budget halving inside the
    * scorer), per partition.
    */
  def withLlmScoreBatched(df: DataFrame, textCol: String, resumeText: String,
      scorer: RetryingScorer, batchSize: Int = 5): DataFrame =
    scoreBatches(df, textCol, batchSize)(scorer.scoreBatch(_, resumeText))

  /** Appends `llm_score` to every row: each partition is cut into
    * `batchSize`-row batches and `scoreBatch` maps a batch's texts (null
    * as "") to one score per row, in order.
    */
  private def scoreBatches(df: DataFrame, textCol: String, batchSize: Int)(
      scoreBatch: Seq[String] => Seq[Double]): DataFrame = {
    val outSchema = StructType(df.schema.fields :+
      StructField("llm_score", DoubleType, nullable = false))
    val textIdx = df.schema.fieldIndex(textCol)
    val scored = df.rdd.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        val texts = batch.map(r => Option(r.get(textIdx)).fold("")(_.toString))
        batch.lazyZip(scoreBatch(texts)).map {
          (row, s) => Row.fromSeq(row.toSeq :+ s)
        }
      }
    }
    df.sparkSession.createDataFrame(scored, outSchema)
  }

  /** Declarative part of the enrichment: skills columns + match pct via
    * pure expressions (no UDF). `resumeText` is a scalar side input —
    * folded in as a literal (the Spark analogue of the reference reading
    * one resume file, S7).
    */
  def withSkillsColumns(df: DataFrame, textCol: String, resumeText: String,
      dict: Seq[String] = Skills.DefaultSkills,
      asOf: Option[java.sql.Timestamp] = None): DataFrame = {
    val resumeSkills = Skills.extractSkills(lit(resumeText), dict)
    val jobSkills = Skills.extractSkills(col(textCol), dict)
    val base = df
      .withColumn("job_skills", jobSkills)
      .withColumn("matched_skills", Skills.matchedSkills(col("job_skills"), resumeSkills))
      .withColumn("missing_skills", Skills.missingSkills(col("job_skills"), resumeSkills))
      .withColumn("match_percentage",
        Skills.matchPercentage(col("job_skills"), resumeSkills))
    asOf.fold(base)(ts =>
      base.withColumn("as_of_dt", Normalize.tsFormat(lit(ts))))
  }

  /** C16: sink-boundary projection — skills arrays become JSON strings,
    * exactly the reference's `json.dumps(skills)` at write time
    * (run_ats_enrichment.py:905-906). Arrays stay native until here.
    */
  def toSinkColumns(df: DataFrame): DataFrame = {
    val arrayCols = df.schema.fields.collect {
      case f if f.dataType.isInstanceOf[ArrayType] => f.name
    }
    arrayCols.foldLeft(df)((d, c) => d.withColumn(c, to_json(col(c))))
  }

  /** C17: parse an LLM response into a (match_percentage, matched,
    * missing) struct — `from_json` against the expected schema with a
    * regexp_extract fallback for percent-only free text, clamped to
    * [0,100] (reference: run_ats_enrichment.py:360-393,784-876).
    */
  def parseLlmResponse(response: Column): Column = {
    val schema = StructType(Seq(
      StructField("match_percentage", DoubleType),
      StructField("matched_skills", ArrayType(StringType)),
      StructField("missing_skills", ArrayType(StringType))))
    val parsed = from_json(response, schema)
    val pctFallback = regexp_extract(response, "(\\d{1,3}(?:\\.\\d+)?)\\s*%", 1)
      .cast(DoubleType)
    val pct = graft.functions.Normalize.clampPct(
      coalesce(parsed.getField("match_percentage"), pctFallback))
    struct(
      pct.as("match_percentage"),
      coalesce(parsed.getField("matched_skills"),
        array().cast(ArrayType(StringType))).as("matched_skills"),
      coalesce(parsed.getField("missing_skills"),
        array().cast(ArrayType(StringType))).as("missing_skills"))
  }

  /** The imperative scorer boundary: adds `llm_score` by calling the
    * scorer per row, batched per partition. Kept off the declarative
    * path; everything before/after remains Catalyst-optimizable.
    */
  def withLlmScore(df: DataFrame, textCol: String, resumeText: String,
      scorer: Scorer, batchSize: Int = 5): DataFrame =
    scoreBatches(df, textCol, batchSize)(_.map(scorer.score(_, resumeText)))
}
