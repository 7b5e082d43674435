package graft

import graft.operators.{Enrichment, TfIdf}
import graft.sources.ConfigSource
import org.apache.spark.sql.functions._

/** Config-sheet source (S3), TF-IDF similarity (C20) and the JSON sink
  * / LLM-response boundaries (C16/C17).
  */
class EnrichmentBoundarySpec extends SparkSpec {
  import spark.implicits._

  test("config source validates, drops blank keys, defaults job_title") {
    val raw = Seq(
      ("Feed A", "rss.app", "15min", "http://a", "SheetA", "Engineer"),
      ("Feed B", "rss.app", "15min", "", "SheetB", ""),     // blank url → drop
      ("Feed C", "rss.app", "15min", "http://c", "  ", ""), // blank ws → drop
      ("Feed D", "rss.app", "daily", "http://d", "SheetD", "")
    ).toDF("Title ", "reader", "time", "url", "worksheet_name", "job_title")
    val configs = ConfigSource.readFeedConfigs(raw).collect()
    assert(configs.length == 2)
    val d = configs.find(_.title == "Feed D").get
    assert(d.job_title == "Feed D") // defaulted from title
    assert(d.time_window == "daily")

    val missing = raw.drop("url")
    val e = intercept[IllegalArgumentException](
      ConfigSource.readFeedConfigs(missing))
    assert(e.getMessage.contains("url"))
  }

  test("tf-idf similarity ranks overlapping docs above disjoint ones") {
    val docs = Seq(
      (1L, "spark sql engine tuning and spark joins"),
      (2L, "gardening tips for tomato plants"),
      (3L, "sql query engine internals")
    ).toDF("doc_id", "text")
    val sims = TfIdf.similarity(docs, "doc_id", "text", "spark sql engine")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(sims(1L) > sims(2L))
    assert(sims(3L) > sims(2L))
    assert(sims(2L) == 0.0)
    assert(sims.values.forall(s => s >= 0.0 && s <= 1.0))
  }

  test("tf-idf similarity scores token-less, null and disjoint docs exactly 0") {
    val docs = Seq[(Long, String)](
      (1L, "spark sql"),            // the query's own vector: cosine 1
      (2L, "!!! --- ..."),          // no tokens, no postings
      (3L, null),                   // null text, no postings
      (4L, "gardening tips")        // postings, none shared with the query
    ).toDF("doc_id", "text")
    val sims = TfIdf.similarity(docs, "doc_id", "text", "spark sql")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(sims == Map(1L -> 1.0, 2L -> 0.0, 3L -> 0.0, 4L -> 0.0))
  }

  test("bm25 saturates tf, normalizes length, zeroes disjoint docs") {
    val docs = Seq(
      (1L, "spark sql spark sql spark sql spark sql"), // high tf, short
      (2L, "spark sql"),                               // tf=1, shortest
      (3L, "spark sql " + Seq.fill(40)("filler").mkString(" ")), // long doc
      (4L, "gardening tips for tomato plants")          // no overlap
    ).toDF("doc_id", "text")
    val got = TfIdf.bm25(docs, "doc_id", "text", "spark sql")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got(4L) == 0.0)                    // disjoint → exactly zero
    assert(got.values.forall(_ >= 0.0))       // idf variant is positive
    // tf saturation: doc 1 has 4× the tf of doc 2 but scores < 4× it
    assert(got(1L) > got(2L) && got(1L) < 4 * got(2L))
    // length normalization: same query tf as doc 2 but 21× the length
    assert(got(3L) < got(2L))
    // k1=0 removes tf sensitivity entirely: with b=0 every matching doc
    // collapses to idf-only scoring regardless of tf or length
    val flat = TfIdf.bm25(docs, "doc_id", "text", "spark sql",
        k1 = 0.0, b = 0.0)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(flat(1L) == flat(2L) && flat(2L) == flat(3L))
  }

  test("tfidf topTerms weighs tf against idf, k-bounded, map-side pruned") {
    // N=3; idf(shared, df=3) = ln(4/4)+1 = 1.0; idf(df=1) = ln 2 + 1 ≈ 1.693
    val docs = Seq(
      (1L, "spark spark spark shared"),   // spark 3·1.693 ≈ 5.08 > shared 1.0
      (2L, "unique shared shared"),       // shared 2·1.0 = 2.0 > unique 1.693
      (3L, "shared")                      // one term → one row
    ).toDF("doc_id", "text")
    val top = TfIdf.topTerms(docs, "doc_id", "text", k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(top == Set(
      (1L, 1L, "spark"), (1L, 2L, "shared"),
      (2L, 1L, "shared"), (2L, 2L, "unique"),
      (3L, 1L, "shared")))
    // rank filter must map-side prune (WindowGroupLimit), not full-sort
    val plan = TfIdf.topTerms(docs, "doc_id", "text", k = 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"))
    // r17: the df branch references _tf (sum(least(_tf,1)) ≡ count(1))
    // precisely so both tf consumers stay canonically equal below the
    // (_id,_t) shuffle and the whole scan→tokenize→explode→partial-agg
    // pipeline runs ONCE. Pin the reuse: after execution the adaptive
    // plan must contain a reused tf exchange (a regression re-plans
    // the corpus subtree twice and silently doubles the tokenize).
    val q = TfIdf.topTerms(docs, "doc_id", "text", k = 2)
    q.collect()
    val finalPlan = q.queryExecution.executedPlan.toString
    assert(finalPlan.contains("ShuffleQueryStage") &&
      finalPlan.contains("ReusedExchange"),
      s"tf exchange not reused:\n$finalPlan")
  }

  test("llm response parsing: json, percent fallback, junk") {
    val df = Seq(
      """{"match_percentage": 72.5, "matched_skills": ["python"], "missing_skills": ["go"]}""",
      "I estimate the match at 45% overall",
      "no signal here",
      """{"match_percentage": 250}"""
    ).toDF("resp")
    val out = df.select(Enrichment.parseLlmResponse($"resp").as("p"))
      .select("p.match_percentage", "p.matched_skills").collect()
    assert(out(0).getDouble(0) == 72.5)
    assert(out(0).getAs[scala.collection.Seq[String]](1).toSeq == Seq("python"))
    assert(out(1).getDouble(0) == 45.0)
    assert(out(2).getDouble(0) == 0.0)
    assert(out(3).getDouble(0) == 0.0) // out of range → clamped to 0
  }

  private class RecordingClock extends Enrichment.Clock {
    val sleeps = scala.collection.mutable.Buffer[Long]()
    def sleep(seconds: Long): Unit = sleeps += seconds
  }

  test("retrying scorer: transient failures back off and then succeed") {
    val clock = new RecordingClock
    var calls = 0
    val transport = new Enrichment.BatchTransport {
      def scoreBatch(jobs: Seq[String], resume: String): Seq[Double] = {
        calls += 1
        if (calls <= 2) throw new RuntimeException("connection reset")
        jobs.map(_ => 42.0)
      }
    }
    val scorer = new Enrichment.RetryingScorer(transport, maxRetries = 3,
      retryDelaySec = 5L, clock = clock)
    assert(scorer.scoreBatch(Seq("a", "b"), "resume") == Seq(42.0, 42.0))
    assert(calls == 3)
    assert(clock.sleeps.toSeq == Seq(5L, 5L))
  }

  test("retrying scorer honors Retry-After on rate limits") {
    val clock = new RecordingClock
    var calls = 0
    val transport = new Enrichment.BatchTransport {
      def scoreBatch(jobs: Seq[String], resume: String): Seq[Double] = {
        calls += 1
        if (calls == 1) throw Enrichment.ScoreRateLimited(Some(7L))
        jobs.map(_ => 1.0)
      }
    }
    val scorer = new Enrichment.RetryingScorer(transport, maxRetries = 3,
      retryDelaySec = 5L, clock = clock)
    assert(scorer.scoreBatch(Seq("x"), "resume") == Seq(1.0))
    assert(clock.sleeps.toSeq == Seq(7L)) // server's value, not the default
  }

  test("retrying scorer: fatal errors skip retries; exhaustion scores 0") {
    val clock = new RecordingClock
    var fatalCalls = 0
    val fatal = new Enrichment.BatchTransport {
      def scoreBatch(jobs: Seq[String], resume: String): Seq[Double] = {
        fatalCalls += 1; throw Enrichment.ScoreFatalError("invalid api key")
      }
    }
    assert(new Enrichment.RetryingScorer(fatal, clock = clock)
      .scoreBatch(Seq("a", "b"), "r") == Seq(0.0, 0.0))
    assert(fatalCalls == 1 && clock.sleeps.isEmpty) // the reference's 401 path

    var downCalls = 0
    val down = new Enrichment.BatchTransport {
      def scoreBatch(jobs: Seq[String], resume: String): Seq[Double] = {
        downCalls += 1; throw new RuntimeException("500")
      }
    }
    assert(new Enrichment.RetryingScorer(down, maxRetries = 3,
      retryDelaySec = 2L, clock = clock).scoreBatch(Seq("a"), "r") == Seq(0.0))
    assert(downCalls == 3)
  }

  test("token budget recursively halves oversized batches") {
    val sizes = scala.collection.mutable.Buffer[Int]()
    val transport = new Enrichment.BatchTransport {
      def scoreBatch(jobs: Seq[String], resume: String): Seq[Double] = {
        sizes += jobs.size
        jobs.map(_.length.toDouble)
      }
    }
    // 4 jobs × 100 tokens (400-char texts) against a 150-token budget:
    // 4 → 2+2 → each still over → 1+1+1+1 single-job calls, like the
    // reference's recursive split down to individual jobs.
    val jobs = (1 to 4).map(i => i.toString * 400)
    val scorer = new Enrichment.RetryingScorer(transport, maxTokens = 150L,
      clock = new RecordingClock)
    val out = scorer.scoreBatch(jobs, "")
    assert(sizes.toSeq == Seq(1, 1, 1, 1))
    assert(out == jobs.map(_.length.toDouble)) // order preserved
  }

  test("batched llm scoring runs through mapPartitions groups") {
    val docs = Seq((1L, "aaaa"), (2L, "bbbbbbbb"), (3L, "")).toDF("doc_id", "text")
    val transport = new Enrichment.BatchTransport {
      def scoreBatch(jobs: Seq[String], resume: String): Seq[Double] =
        jobs.map(_.length.toDouble)
    }
    val out = Enrichment.withLlmScoreBatched(docs, "text", "resume",
      new Enrichment.RetryingScorer(transport), batchSize = 2)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("llm_score"))
      .toMap
    assert(out == Map(1L -> 4.0, 2L -> 8.0, 3L -> 0.0))
  }

  // ------------------------------------------------------------------
  // HttpBatchTransport against a throwaway local HTTP server — the
  // real java.net.http stack end-to-end, fully offline.
  // ------------------------------------------------------------------

  private def chatBody(content: String): String = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.createObjectNode()
    val msg = root.putArray("choices").addObject().putObject("message")
    msg.put("role", "assistant")
    msg.put("content", content)
    mapper.writeValueAsString(root)
  }

  private def withServer(
      handler: com.sun.net.httpserver.HttpExchange => (Int, String, Map[String, String]))(
      body: String => Unit): Unit = {
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/api/v1/chat/completions",
      (ex: com.sun.net.httpserver.HttpExchange) => {
        val (status, respBody, headers) = handler(ex)
        headers.foreach { case (k, v) => ex.getResponseHeaders.add(k, v) }
        val bytes = respBody.getBytes("UTF-8")
        ex.sendResponseHeaders(status, if (bytes.isEmpty) -1 else bytes.length)
        if (bytes.nonEmpty) ex.getResponseBody.write(bytes)
        ex.close()
      })
    server.start()
    try body(
      s"http://127.0.0.1:${server.getAddress.getPort}/api/v1/chat/completions")
    finally server.stop(0)
  }

  test("http transport: 200 round-trip carries auth, model, and batch order") {
    val seen = scala.collection.mutable.Buffer[(String, String)]()
    withServer { ex =>
      val auth = ex.getRequestHeaders.getFirst("Authorization")
      val reqBody = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
      seen += ((auth, reqBody))
      (200, chatBody("Here are the results: " +
        """[{"job_number": 1, "match_percentage": 85},""" +
        """ {"job_number": 2, "match_percentage": 72.5}]"""),
        Map("Content-Type" -> "application/json"))
    } { url =>
      val t = new Enrichment.HttpBatchTransport(url, "sk-test", "test/model")
      assert(t.scoreBatch(Seq("job one text", "job two text"), "resume text")
        == Seq(85.0, 72.5))
    }
    val (auth, reqBody) = seen.head
    assert(auth == "Bearer sk-test")
    assert(reqBody.contains(""""model":"test/model""""))
    assert(reqBody.contains("Resume:\\nresume text"))
    assert(reqBody.contains("JOB #1:\\njob one text"))
    assert(reqBody.contains("JOB #2:\\njob two text"))
  }

  test("http transport: 429 Retry-After then 200 through the retrying scorer") {
    val clock = new RecordingClock
    var calls = 0
    withServer { ex =>
      ex.getRequestBody.readAllBytes()
      calls += 1
      if (calls == 1) (429, "slow down", Map("Retry-After" -> "7"))
      else (200, chatBody("""[{"job_number": 1, "match_percentage": 60}]"""),
        Map.empty[String, String])
    } { url =>
      val t = new Enrichment.HttpBatchTransport(url, "sk-test", "m")
      val scorer = new Enrichment.RetryingScorer(t, maxRetries = 3,
        retryDelaySec = 5L, clock = clock)
      assert(scorer.scoreBatch(Seq("j"), "r") == Seq(60.0))
    }
    assert(calls == 2)
    assert(clock.sleeps.toSeq == Seq(7L)) // the header's value, not default
  }

  test("http transport: 401 is fatal (one call, zeros); 500 retries; junk content zeros") {
    val clock = new RecordingClock
    var calls = 0
    withServer { ex =>
      ex.getRequestBody.readAllBytes(); calls += 1
      (401, "bad key", Map.empty[String, String])
    } { url =>
      val t = new Enrichment.HttpBatchTransport(url, "sk-bad", "m")
      val scorer = new Enrichment.RetryingScorer(t, maxRetries = 3, clock = clock)
      assert(scorer.scoreBatch(Seq("a", "b"), "r") == Seq(0.0, 0.0))
    }
    assert(calls == 1 && clock.sleeps.isEmpty) // py:263-265 — no retry

    var calls500 = 0
    withServer { ex =>
      ex.getRequestBody.readAllBytes(); calls500 += 1
      (500, "boom", Map.empty[String, String])
    } { url =>
      val t = new Enrichment.HttpBatchTransport(url, "sk", "m")
      val scorer = new Enrichment.RetryingScorer(t, maxRetries = 2,
        retryDelaySec = 3L, clock = clock)
      assert(scorer.scoreBatch(Seq("a"), "r") == Seq(0.0))
    }
    assert(calls500 == 2 && clock.sleeps.toSeq == Seq(3L, 3L))

    // a 200 whose content has no parseable JSON list → zeros, no retry
    var callsJunk = 0
    withServer { ex =>
      ex.getRequestBody.readAllBytes(); callsJunk += 1
      (200, chatBody("I cannot answer that."), Map.empty[String, String])
    } { url =>
      val t = new Enrichment.HttpBatchTransport(url, "sk", "m")
      assert(t.scoreBatch(Seq("a", "b"), "r") == Seq(0.0, 0.0))
    }
    assert(callsJunk == 1)

    // an empty api key refuses before any HTTP call (py:221-223)
    var callsKey = 0
    withServer { ex => callsKey += 1; (200, "{}", Map.empty[String, String]) } { url =>
      val t = new Enrichment.HttpBatchTransport(url, "", "m")
      intercept[Enrichment.ScoreFatalError](t.scoreBatch(Seq("a"), "r"))
    }
    assert(callsKey == 0)
  }

  test("sink projection serializes array columns to JSON strings") {
    val df = Seq((1L, Seq("a", "b"), "keep")).toDF("id", "skills", "s")
    val out = Enrichment.toSinkColumns(df)
    assert(out.schema("skills").dataType ==
      org.apache.spark.sql.types.StringType)
    assert(out.collect()(0).getAs[String]("skills") == """["a","b"]""")
    assert(out.collect()(0).getAs[String]("s") == "keep")
  }
}
