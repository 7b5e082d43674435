package graft

import graft.functions.{HtmlToText, Normalize, Skills, TextAnalysis}
import graft.operators._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2 (+ the training-data-pipeline operators), each with an
  * ANSI-SQL oracle the driver runs in DuckDB over the same parquet.
  *
  * Cross-engine determinism rules used throughout (so hash compare is
  * exact, not approximate):
  *  - double SUMs go through DECIMAL(18,4) (exact, associative) and are
  *    cast back to double at the end;
  *  - double divisions happen in double on both sides, in the same
  *    operand order, then round(·, k);
  *  - hashes that must match outside the JVM derive from md5 (hex →
  *    15-char prefix → 60-bit int), not xxhash64;
  *  - every top-k / dedup has a total-order tie-break;
  *  - timestamps are compared against fixed literals (one batch `now`,
  *    like the reference — never wall-clock) and emitted as formatted
  *    strings.
  */
object SparkEntry {
  import graft.fixtures.FixtureBytes._

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Graft.table(s, dir, n)

  /** Fixed per-JVM scratch root for round-trip queries (q40 CSV, q109
    * JSONL): wiped and recreated on first use, so repeated Verify/Bench
    * invocations reuse ONE directory instead of littering a fresh
    * `Files.createTempDirectory` per call (VERDICT r3 #6). Within a
    * run the sinks write SaveMode.Overwrite, so reuse is safe. Assumes
    * one graft main per working directory at a time — the harness (and
    * this box) runs Verify/Bench sequentially; concurrent processes
    * should set distinct CWDs.
    */
  private lazy val scratchRoot: java.nio.file.Path = {
    val root = java.nio.file.Paths.get("target", "graft-scratch")
    if (java.nio.file.Files.exists(root)) {
      val stream = java.nio.file.Files.walk(root)
      try {
        import scala.jdk.CollectionConverters._
        stream.iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.deleteIfExists(_))
      } finally stream.close()
    }
    java.nio.file.Files.createDirectories(root)
    root
  }

  private def scratch(name: String): String =
    java.nio.file.Files.createDirectories(scratchRoot.resolve(name)).toString

  /** Rebalanced read for queries whose FIRST stage does expensive
    * per-row work (shingling, winnowing, per-term explosion): the
    * harness tables are single-row-group files, so without this that
    * stage runs on one core (see Graft.tableParallel).
    */
  private def tp(s: SparkSession, dir: String, n: String): DataFrame =
    Graft.tableParallel(s, dir, n)

  /** Shared q152/q153 media construction: each doc PAIR (group
    * g = doc_id/2) yields two binary-PPM images from one pixel
    * formula V(k) = (g·37 + y·31 + j·13) mod 251; the odd-id variant
    * adds +4 to every 23rd channel byte — a small L1 edit whose block
    * means mostly survive integer flooring, i.e. a planted perceptual
    * near-dup. Groups with g ≡ 3 (mod 7) become text bytes (the
    * undecodable-triage rows). Deterministic arithmetic end-to-end so
    * both DuckDB oracles replay it.
    */
  private def ppmContent(id: Column, text: Column): Column = {
    val g = shiftright(id, 1)
    val v = pmod(id, lit(2L))
    val wC = (g % 8 + 9).cast(IntegerType)
    val hC = (g % 6 + 7).cast(IntegerType)
    val stride = wC * 3
    val n = stride * hC
    // r16: byte packing via graft_pack_bytes over the long array — the
    // same per-pixel values, one binary write instead of the per-byte
    // lpad∘hex string pipeline (byte-identical; ~40 % of the fixture
    // stage's allocation was hex-string garbage)
    val bytes = call_function(graft.expr.PackBytes.FunctionName,
      transform(sequence(lit(0), n - 1), k => {
        val y = (k / stride).cast(IntegerType)
        val j = pmod(k, stride)
        val base = pmod(g * 37 + y * 31 + j * 13, lit(251L))
        base +
          when(v === 1 && pmod(k, lit(23)) === 0, lit(4L)).otherwise(lit(0L))
      }), lit(1), lit(0))
    val header = encode(concat(lit("P6\n"), wC.cast(StringType), lit(" "),
      hC.cast(StringType), lit("\n255\n")), "UTF-8").cast(BinaryType)
    when(pmod(g, lit(7L)) === 3,
        encode(concat(lit("txt:"), coalesce(text, lit(""))), "UTF-8")
          .cast(BinaryType))
      .otherwise(concat(header, bytes))
  }

  /** The DuckDB replay of [[ppmContent]]'s decoded BLOCK MEANS (9×7
    * grid) + aHash — the shared CTE prefix of the q152/q153 oracles.
    */
  private def gridSigOracleCtes: String =
    """d AS (SELECT doc_id AS id, doc_id // 2 AS g, doc_id % 2 AS v
            FROM documents),
       dims AS (SELECT id, g, v,
                  CAST(g % 8 + 9 AS INTEGER) AS w,
                  CAST(g % 6 + 7 AS INTEGER) AS h
                FROM d WHERE g % 7 <> 3),
       px AS (SELECT id, w, h,
                ((g*37 + (k // (w*3))*31 + (k % (w*3))*13) % 251)
                  + CASE WHEN v = 1 AND k % 23 = 0 THEN 4 ELSE 0 END AS val,
                (((k // (w*3)) * 7) // h) * 9
                  + ((((k % (w*3)) // 3) * 9) // w) AS blk
              FROM dims CROSS JOIN range(0, 576) r(k)
              WHERE k < w*h*3),
       bm AS (SELECT id, ANY_VALUE(w) AS w, ANY_VALUE(h) AS h, blk,
                CAST(SUM(val) // COUNT(*) AS BIGINT) AS m
              FROM px GROUP BY id, blk),
       mn AS (SELECT id, SUM(m) // 63 AS mean FROM bm GROUP BY id),
       sig AS (SELECT bm.id, ANY_VALUE(bm.w) AS w, ANY_VALUE(bm.h) AS h,
                 string_agg(CAST(m AS VARCHAR), ',' ORDER BY blk) AS sig,
                 CAST(SUM(CASE WHEN m > mean
                   THEN (CAST(1 AS BIGINT) << blk) ELSE 0 END) AS BIGINT)
                   AS ahash
               FROM bm JOIN mn ON bm.id = mn.id GROUP BY bm.id),
       sigd AS (SELECT b1.id,
                  CAST(COALESCE(SUM(CASE WHEN b2.m > b1.m
                    THEN (CAST(1 AS BIGINT)
                          << ((b1.blk // 9) * 8 + (b1.blk % 9)))
                    ELSE 0 END), 0) AS BIGINT) AS dhash
                FROM bm b1 JOIN bm b2
                  ON b1.id = b2.id AND b2.blk = b1.blk + 1
                     AND b1.blk % 9 < 8
                GROUP BY b1.id)"""

  private def ts(s: String): java.sql.Timestamp = {
    java.util.TimeZone.setDefault(java.util.TimeZone.getTimeZone("UTC"))
    java.sql.Timestamp.valueOf(s)
  }

  private val dec: DataType = DecimalType(18, 4)
  private def dsum(c: Column): Column = sum(c.cast(dec)).cast(DoubleType)

  // ----- event snapshot frames shared by the merge-family queries -----
  // "history" = latest event per (user,event_type) in the first half of
  // January (signup excluded); "new batch" = same for the second half
  // (error excluded) with blank notes. The exclusions guarantee all
  // merge classes appear: signup keys insert, error keys preserve/
  // remove, the rest update/unchange.

  private val W1Lo = "2024-01-01 00:00:00"
  private val W1Hi = "2024-01-15 00:00:00"
  private val W2Hi = "2024-01-31 00:00:00"
  private val BatchTs = "2024-02-01 00:00:00"
  private val CmpCols = Seq("value", "published")

  private def eventSnapshot(s: SparkSession, dir: String, lo: String, hi: String,
      excludeType: String, blankNotes: Boolean, withId: Boolean = false): DataFrame = {
    val ev = t(s, dir, "events")
      .transform(Graft.withTs2)
      .filter(col("ts2") >= lit(ts(lo)) && col("ts2") < lit(ts(hi)) &&
        col("event_type") =!= excludeType)
      .withColumn("uk", concat(col("user_id").cast(StringType), lit("|"),
        col("event_type")))
    val latest = Merges.dedupKeepLatest(ev, "uk", Seq(col("ts2"), col("event_id")))
    val base = latest.select(col("uk"), col("value"),
      Normalize.tsFormat(col("ts2")).as("published"),
      (if (blankNotes) lit("") else col("props")).as("notes"),
      col("event_id"))
    if (withId) base else base.drop("event_id")
  }

  private def hist(s: SparkSession, dir: String, withId: Boolean = false) =
    eventSnapshot(s, dir, W1Lo, W1Hi, "signup", blankNotes = false, withId)
  private def nw(s: SparkSession, dir: String, withId: Boolean = false) =
    eventSnapshot(s, dir, W1Hi, W2Hi, "error", blankNotes = true, withId)

  private def snapshotSql(lo: String, hi: String, excl: String,
      blankNotes: Boolean, withId: Boolean = false): String = {
    val notes = if (blankNotes) "''" else "props"
    val idCol = if (withId) ", event_id" else ""
    s"""SELECT CAST(user_id AS VARCHAR) || '|' || event_type AS uk, value,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS published, $notes AS notes$idCol
       FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                      ORDER BY ts DESC, event_id DESC) AS rn
             FROM events
             WHERE ts >= TIMESTAMP '$lo' AND ts < TIMESTAMP '$hi'
               AND event_type <> '$excl')
       WHERE rn = 1"""
  }
  private def histSql(withId: Boolean = false) =
    snapshotSql(W1Lo, W1Hi, "signup", blankNotes = false, withId)
  private def nwSql(withId: Boolean = false) =
    snapshotSql(W1Hi, W2Hi, "error", blankNotes = true, withId)

  // SQL fragments shared by merge oracles
  private val ChangedSql =
    "(n.value IS DISTINCT FROM h.value OR n.published IS DISTINCT FROM h.published)"

  // SemDeDup oracle — shared by q124 (full verdict table) and q126
  // (the SQL-TVF form filtered to dropped rows)
  private val SemDedupOracle =
    """WITH c AS (SELECT vec_id AS centroid_id, embedding AS cv FROM embeddings
                  WHERE vec_id < 8),
       cells AS (
         SELECT vec_id, centroid_id, embedding, csim FROM (
           SELECT e.vec_id, centroid_id, e.embedding,
                  ROUND(CASE WHEN n1 * n2 > 0 THEN d / (n1 * n2) ELSE 0 END, 6) AS csim,
                  row_number() OVER (PARTITION BY e.vec_id
                    ORDER BY ROUND(CASE WHEN n1 * n2 > 0 THEN d / (n1 * n2) ELSE 0 END, 6) DESC,
                             centroid_id) AS rn
           FROM (SELECT e.vec_id, centroid_id, e.embedding,
                        list_sum([cv[i]::DOUBLE * e.embedding[i]::DOUBLE FOR i IN range(1, 65)]) AS d,
                        sqrt(list_sum([cv[i]::DOUBLE * cv[i]::DOUBLE FOR i IN range(1, 65)])) AS n1,
                        sqrt(list_sum([e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE FOR i IN range(1, 65)])) AS n2
                 FROM embeddings e CROSS JOIN c) e)
         WHERE rn = 1),
       pairs AS (
         SELECT a.vec_id, a.centroid_id, a.csim, b.vec_id AS nid, b.csim AS ncs,
                list_sum([a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE FOR i IN range(1, 65)]) AS d,
                sqrt(list_sum([a.embedding[i]::DOUBLE * a.embedding[i]::DOUBLE FOR i IN range(1, 65)])) AS n1,
                sqrt(list_sum([b.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE FOR i IN range(1, 65)])) AS n2
         FROM cells a LEFT JOIN cells b
           ON a.centroid_id = b.centroid_id AND a.vec_id <> b.vec_id)
     SELECT vec_id, centroid_id, csim AS centroid_sim,
            CAST(MAX(CASE WHEN nid IS NOT NULL
                           AND ROUND(CASE WHEN n1 * n2 > 0 THEN d / (n1 * n2) ELSE 0 END, 6) >= 0.45
                           AND (ncs < csim OR (ncs = csim AND nid < vec_id))
                      THEN 1 ELSE 0 END) = 0 AS INT) AS kept
     FROM pairs GROUP BY 1, 2, 3"""

  // ----- the skills dictionary / resume used by q21 + q33 -----
  private val DictQ: Seq[String] = Seq(
    "batch", "column", "filter", "hash", "join", "merge", "query",
    "scan", "spark", "sql", "stream", "vector", "window").sorted
  private val ResumeQ =
    "staff engineer: spark sql pipelines, stream processing, hash join tuning, window queries"
  private def dictValuesSql: String =
    DictQ.map(d => s"('$d')").mkString("VALUES ", ", ", "")

  /** Per-doc language + quality + token count over ONE materialized
    * token array. The tokens come through `explode(array(tokens))` — a
    * single-row Generate — deliberately: a plain Project alias gets
    * re-inlined by predicate pushdown (the consumer's filter is
    * substituted below the projection, duplicating the tokenizer regex
    * ~12× per row in the pushed predicate), but predicates referencing
    * a GENERATOR output cannot push through Generate, so the tokenizer
    * provably runs once per row regardless of what the caller stacks
    * on top. Measured 3× on the q42 filter shape at sf0.1.
    */
  private def scoredDocs(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("text"),
        explode(array(TextAnalysis.tokens(coalesce(col("text"), lit("")))))
          .as("_toks"))
      .select(col("doc_id"),
        TextAnalysis.langIdFromTokens(col("_toks")).as("pred_lang"),
        TextAnalysis.qualityScoreFromTokens(col("text"), col("_toks"))
          .as("quality_score"),
        size(col("_toks")).cast(LongType).as("n_tokens"))

  /** Flagship query (driver smoke-checks rows > 0 on sf0.001): the
    * reference's regional pipeline shape — ingest snapshot, SCD1 merge
    * into history, filter stage, audit column (SURVEY §3.1-3.3).
    */
  def entry(spark: SparkSession): DataFrame = {
    Graft.tune(spark)
    val dir = "/root/testdata/sf0.001"
    val merged = Merges.scd1(hist(spark, dir), nw(spark, dir), "uk", CmpCols)
    merged
      .filter(Filters.dateRange(Normalize.tsParse(col("published")), 45, ts(BatchTs)))
      .filter(Filters.nonEmptyContent(Seq("uk", "published")))
      .filter(Filters.keywordExclusion(Map("uk" -> Seq("totally-absent-keyword"))))
      .withColumn("AS_OF_DT", Normalize.tsFormat(lit(ts(BatchTs))))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---------------- core relational (SURVEY §2.2-§2.7) ----------------
    "q01_pricing_summary" -> ((s, dir) => {
      Graft.tune(s)
      val li = t(s, dir, "lineitem")
        .filter(col("l_shipdate").cast(TimestampType) <= lit(ts("1998-09-02 00:00:00")))
      li.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base"),
          // round the scale-8 decimal to 4dp BEFORE the double cast:
          // at sf0.1 the raw sum's scaled integer (~2.7e17) exceeds
          // 2^53, where DuckDB's decimal→double conversion
          // double-rounds one ulp away from BigDecimal's single
          // rounding; at scale 4 the scaled integer is exact in double
          round(sum(col("l_extendedprice").cast(dec) *
            (lit(1).cast(dec) - col("l_discount").cast(dec))), 4)
            .cast(DoubleType).as("sum_disc"),
          count(lit(1)).as("n_rows"))
        .withColumn("avg_qty", round(col("sum_qty") / col("n_rows"), 6))
    }),

    "q02_filter_project" -> ((s, dir) => {
      Graft.tune(s)
      t(s, dir, "lineitem")
        .filter(col("l_shipdate").cast(TimestampType)
          .between(lit(ts("1996-01-01 00:00:00")), lit(ts("1996-03-31 00:00:00"))) &&
          col("l_quantity") < 10)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_returnflag"))
    }),

    "q03_join_agg" -> ((s, dir) => {
      Graft.tune(s)
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(dsum(col("o_totalprice")).as("revenue"),
          count(lit(1)).as("n_orders"),
          countDistinct(col("c_custkey")).as("n_cust"))
    }),

    "q04_topk" -> ((s, dir) => {
      Graft.tune(s)
      t(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(100)
        .select(col("o_orderkey"), col("o_totalprice"),
          Normalize.tsFormat(col("o_orderdate").cast(TimestampType)).as("order_date"))
    }),

    "q05_latest_per_user" -> ((s, dir) => {
      Graft.tune(s)
      val ev = t(s, dir, "events").transform(Graft.withTs2)
      Merges.dedupKeepLatest(ev, "user_id", Seq(col("ts2"), col("event_id")))
        .select(col("user_id"), col("event_id"), col("event_type"),
          Normalize.tsFormat(col("ts2")).as("event_ts"), col("value"))
    }),

    "q06_union_tagged" -> ((s, dir) => {
      Graft.tune(s)
      val o = t(s, dir, "orders")
      val urgent = o.filter(col("o_orderpriority") === "1-URGENT")
        .select(lit("urgent").as("src"), col("o_totalprice"))
      val high = o.filter(col("o_totalprice") > 300000)
        .select(lit("high_value").as("src"), col("o_totalprice"))
      urgent.unionByName(high)
        .groupBy(col("src"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
    }),

    "q07_semi_join" -> ((s, dir) => {
      Graft.tune(s)
      t(s, dir, "customer")
        .join(t(s, dir, "orders"),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
    }),

    "q08_anti_join" -> ((s, dir) => {
      Graft.tune(s)
      t(s, dir, "customer")
        .join(t(s, dir, "orders"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
    }),

    "q09_full_outer_indicator" -> ((s, dir) => {
      Graft.tune(s)
      val o = t(s, dir, "orders")
        .withColumn("od", col("o_orderdate").cast(TimestampType))
      val a = o.filter(col("od") >= lit(ts("1995-01-01 00:00:00")) &&
          col("od") < lit(ts("1996-01-01 00:00:00")))
        .groupBy(col("o_custkey").as("custkey")).agg(count(lit(1)).as("n_a"))
      val b = o.filter(col("od") >= lit(ts("1996-01-01 00:00:00")) &&
          col("od") < lit(ts("1997-01-01 00:00:00")))
        .groupBy(col("o_custkey").as("custkey")).agg(count(lit(1)).as("n_b"))
      a.join(b, Seq("custkey"), "full_outer")
        .select(col("custkey"),
          coalesce(col("n_a"), lit(0L)).as("n_a"),
          coalesce(col("n_b"), lit(0L)).as("n_b"),
          when(col("n_a").isNotNull && col("n_b").isNotNull, "both")
            .when(col("n_a").isNotNull, "left_only")
            .otherwise("right_only").as("indicator"))
    }),

    "q10_change_detect" -> ((s, dir) => {
      Graft.tune(s)
      val ev = t(s, dir, "events").transform(Graft.withTs2)
      def half(lo: String, hi: String) = ev
        .filter(col("ts2") >= lit(ts(lo)) && col("ts2") < lit(ts(hi)))
        .groupBy(col("user_id"), col("event_type")).agg(count(lit(1)).as("n"))
      val a = half(W1Lo, W1Hi).withColumnRenamed("n", "n_a")
      val b = half(W1Hi, W2Hi).withColumnRenamed("n", "n_b")
      a.join(b, Seq("user_id", "event_type"), "full_outer")
        .select(col("user_id"), col("event_type"),
          coalesce(col("n_a"), lit(0L)).as("n_a"),
          coalesce(col("n_b"), lit(0L)).as("n_b"),
          when(col("n_a").isNull, "new")
            .when(col("n_b").isNull, "removed")
            .when(col("n_a") === col("n_b"), "unchanged")
            .otherwise("changed").as("status"))
    }),

    // ---------------- merge family (SURVEY §2.9) ----------------
    "q11_scd1_merge" -> ((s, dir) => {
      Graft.tune(s)
      Merges.scd1(hist(s, dir), nw(s, dir), "uk", CmpCols)
    }),

    "q12_scd2_merge" -> ((s, dir) => {
      Graft.tune(s)
      val h = hist(s, dir)
        .withColumn("effective_start", lit(ts(W1Hi)))
        .withColumn("effective_end", lit(null).cast(TimestampType))
        .withColumn("current_flag", lit(1))
      val merged = Merges.scd2(h, nw(s, dir), "uk", CmpCols, ts(BatchTs),
        dropStatus = false)
      merged.select(col("uk"), col("value"), col("published"), col("notes"),
        Normalize.tsFormat(col("effective_start")).as("eff_start"),
        Normalize.tsFormat(col("effective_end")).as("eff_end"),
        col("current_flag"), col("_status"))
    }),

    "q13_merge_upsert" -> ((s, dir) => {
      Graft.tune(s)
      Merges.mergeUpsert(hist(s, dir), nw(s, dir), "uk", CmpCols,
        preserveNotesOnlyWhenChanged = true, dropStatus = false)
    }),

    "q14_append_dedup" -> ((s, dir) => {
      Graft.tune(s)
      val existing = hist(s, dir, withId = true).drop("value", "notes")
      val incoming = nw(s, dir, withId = true).drop("value", "notes")
      Merges.appendDedupNewWins(existing, incoming, "uk", Seq(col("event_id")))
        .select(col("uk"), col("event_id"), col("published"))
    }),

    // ---------------- filter stage (SURVEY §2.2) ----------------
    "q15_date_filter" -> ((s, dir) => {
      Graft.tune(s)
      t(s, dir, "orders")
        .filter(Filters.dateRange(col("o_orderdate").cast(TimestampType), 365,
          ts("1998-08-02 00:00:00")))
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
    }),

    "q16_content_filter" -> ((s, dir) => {
      Graft.tune(s)
      t(s, dir, "documents")
        .filter(Filters.nonEmptyContent(Seq("text", "lang")))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("total_chars"))
    }),

    "q17_keyword_filter" -> ((s, dir) => {
      Graft.tune(s)
      t(s, dir, "documents")
        .filter(Filters.keywordExclusion(Map("text" -> Seq("stream", "vector"))))
        .groupBy(col("source")).agg(count(lit(1)).as("n"))
    }),

    // ---------------- scalar functions (SURVEY §2.8) ----------------
    "q18_normalize" -> ((s, dir) => {
      Graft.tune(s)
      t(s, dir, "documents")
        .select(col("doc_id"),
          substring(Normalize.collapseWs(lower(col("text"))), 1, 60).as("norm_text"))
    }),

    "q19_html_to_text" -> ((s, dir) => {
      Graft.tune(s)
      val html = concat(lit("<div><p>"), col("text"),
        lit("</p><script>var x = 1;</script><br/>&amp;&nbsp;end</div>"))
      t(s, dir, "documents")
        .select(col("doc_id"),
          substring(HtmlToText.htmlToText(html), 1, 100).as("clean_text"))
    }),

    "q20_ts_bucket" -> ((s, dir) => {
      Graft.tune(s)
      t(s, dir, "events")
        .transform(Graft.withTs2)
        .filter(col("event_type") === "purchase")
        .select(col("event_id"),
          date_format(col("ts2"), "yyyy-MM-dd HH:00:00")
            .as("hour_bucket"),
          col("value"))
    }),

    "q21_skills_match" -> ((s, dir) => {
      Graft.tune(s)
      val resumeSkills = Skills.extractSkills(lit(ResumeQ), DictQ)
      t(s, dir, "documents")
        .withColumn("job_skills", Skills.extractSkills(col("text"), DictQ))
        .select(col("doc_id"),
          array_join(col("job_skills"), ",").as("job_skills"),
          array_join(Skills.matchedSkills(col("job_skills"), resumeSkills), ",")
            .as("matched_skills"),
          array_join(Skills.missingSkills(col("job_skills"), resumeSkills), ",")
            .as("missing_skills"),
          Skills.matchPercentage(col("job_skills"), resumeSkills)
            .as("match_percentage"))
    }),

    // ------------- dedup / text analysis (training-data ops) -------------
    "q22_dedup_exact" -> ((s, dir) =>
      Dedup.exactGroups(Graft.tune(s).read
        .parquet(s"$dir/documents.parquet"), "doc_id", "text")),

    // maxDocFreq=100 switches on the posting-list skew cap (the 100 TB
    // guard against one ultra-common shingle exploding a posting list
    // quadratically). Provably output-neutral on this corpus: max
    // shingle doc-freq is 7 at sf0.01 / 25 at sf0.1, so the anti-join
    // prunes nothing here and the uncapped oracle still matches.
    "q23_jaccard_pairs" -> ((s, dir) => {
      Graft.tune(s)
      Dedup.jaccardPairs(tp(s, dir, "documents"), "doc_id", "text",
        n = 3, threshold = 0.5, maxDocFreq = 100L)
    }),

    "q24_minhash_pairs" -> ((s, dir) => {
      Graft.tune(s)
      Dedup.minhashDedupPairs(tp(s, dir, "documents"), "doc_id", "text",
        n = 3, threshold = 0.8, numHashes = 128, bands = 32)
    }),

    // near-dup clusters: jaccard pairs → connected components → every
    // doc labeled with its cluster canonical (min doc id)
    "q41_dedup_clusters" -> ((s, dir) => {
      Graft.tune(s)
      Dedup.nearDupClusters(tp(s, dir, "documents"), "doc_id", "text",
        n = 3, threshold = 0.5, maxDocFreq = 100L)
    }),

    "q25_simhash" -> ((s, dir) => {
      Graft.tune(s)
      Dedup.withSimhash(t(s, dir, "documents"), "doc_id", "text")
    }),

    // banding is pigeonhole-complete for hamming ≤ 3, so the LSH output
    // EQUALS exact all-pairs — oracle-checkable end to end.
    "q37_simhash_pairs" -> ((s, dir) => {
      Graft.tune(s)
      // tp: the tokenize+simhash projection runs below the band
      // exchange — parallelize the scan stage (r16)
      Dedup.simhashPairs(tp(s, dir, "documents"), "doc_id", "text", maxHamming = 3)
        .select(col("id1"), col("id2"), col("hamming").cast(LongType).as("hamming"))
    }),

    // the curation composite: language + quality gates fused into one
    // scan, the filter shape of a training-data cleaning pass
    "q42_quality_filter" -> ((s, dir) => {
      Graft.tune(s)
      scoredDocs(t(s, dir, "documents"))
        .filter(col("pred_lang") === "en" && col("quality_score") >= 0.3 &&
          col("n_tokens").between(5, 10000))
        .select(col("doc_id"), col("pred_lang"), col("quality_score"),
          col("n_tokens"))
    }),

    // corpus-level curation report: per detected language, doc count,
    // token mass and mean quality — the dataset card numbers
    "q43_corpus_stats" -> ((s, dir) => {
      Graft.tune(s)
      scoredDocs(t(s, dir, "documents"))
        .groupBy(col("pred_lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"),
          // quality_score is exact at 4dp → decimal sum is exact and
          // order-independent; divide in double like the oracle
          round(dsum(col("quality_score")) / count(lit(1)), 4)
            .as("mean_quality"))
    }),

    "q26_lang_id" -> ((s, dir) => {
      Graft.tune(s)
      t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.langId(col("text")).as("pred_lang"))
    }),

    // WIDE language ID: 134 languages + und with a confidence column —
    // script-tier codepoint evidence (26 scripts) refined by
    // distinctive-letter counts inside 5 shared scripts, over a
    // 57-language Latin stopword argmax; the router breadth a real
    // multilingual crawl needs (q26 keeps the minimal 4-way form)
    "q151_lang_id_wide" -> ((s, dir) => {
      Graft.tune(s)
      val pred = TextAnalysis.langIdWide(col("text"))
      t(s, dir, "documents").select(col("doc_id"),
        pred.getField("lang").as("pred_lang"),
        pred.getField("confidence").as("confidence"))
    }),

    "q27_text_stats" -> ((s, dir) => {
      Graft.tune(s)
      val f = TextAnalysis.qualityFeatures(col("text"))
      t(s, dir, "documents").select(
        col("doc_id"),
        f.getField("n_chars").cast(LongType).as("n_chars"),
        f.getField("n_tokens").cast(LongType).as("n_tokens"),
        TextAnalysis.tokenEstimate(col("text")).as("token_estimate"),
        f.getField("punct_ratio").as("punct_ratio"),
        f.getField("stop_ratio").as("stop_ratio"),
        f.getField("mean_tok_len").as("mean_tok_len"),
        TextAnalysis.qualityScore(col("text")).as("quality_score"))
    }),

    "q28_fingerprint_groups" -> ((s, dir) => {
      Graft.tune(s)
      t(s, dir, "documents")
        .groupBy(TextAnalysis.fingerprint(col("text")).as("fingerprint"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("canonical_id"))
    }),

    // ------------- similarity search (training-data ops) -------------
    "q29_ann_topk" -> ((s, dir) => {
      Graft.tune(s)
      val e = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(
        e.filter(col("vec_id") < 16), e, "vec_id", "embedding", k = 5)
    }),

    "q30_ivf_assign" -> ((s, dir) => {
      Graft.tune(s)
      val e = t(s, dir, "embeddings")
      Similarity.ivfAssign(e, e.filter(col("vec_id") < 8), "vec_id", "embedding")
        .select(col("vec_id"), col("centroid_id"))
    }),

    // retrieval eval: MRR/NDCG@5 of the brute-force ANN ranking
    // against label-match relevance — the eval harness next to q77's
    // recall@k; exact decimal discount accumulation
    "q129_ranking_eval" -> ((s, dir) => {
      Graft.tune(s)
      val e = t(s, dir, "embeddings")
      val preds = Similarity.bruteForceTopK(
        e.filter(col("vec_id") < 8), e, "vec_id", "embedding", k = 5)
      val lab = e.select(col("vec_id"), col("label"))
      val truth = lab.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("label").as("_ql"))
        .join(lab.select(col("vec_id").as("neighbor_id"), col("label")),
          col("_ql") === col("label") && col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"), lit(1.0).as("rel"))
      Similarity.rankingMetrics(preds, truth, "sim", k = 5)
    }),

    // deterministic 80/10/10 train/val/test split: md5-bucketed, so
    // splits are disjoint, exhaustive, and a row's split never changes
    // as the corpus grows — pure projection, no shuffle, no RNG state
    "q130_split_assign" -> ((s, dir) => {
      Graft.tune(s)
      t(s, dir, "documents").select(col("doc_id"),
        Filters.splitAssign(col("doc_id"),
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)).as("split"))
    }),

    // per-source token-budget cap: the md5-ordered prefix of each
    // source that fits 800 tokens — one shuffle on source, per-group
    // cumulative-sum window, nothing driver-side
    "q131_token_budget" -> ((s, dir) => {
      Graft.tune(s)
      Corpus.tokenBudgetCap(t(s, dir, "documents"), "doc_id", "source",
          TextAnalysis.tokenCount(col("text")), budget = 800)
        .select(col("doc_id"), col("source"), col("n_tokens"),
          col("cum_tokens"))
    }),

    // edit-distance verified near-dup: inverted-index candidates at a
    // low jaccard bar, confirmed by character-level Levenshtein
    // similarity — the order-sensitive verifier the set-based family
    // lacks. The quadratic DP runs only on candidate pairs.
    "q132_edit_neardup" -> ((s, dir) => {
      Graft.tune(s)
      Dedup.editSimilarityPairs(tp(s, dir, "documents"), "doc_id", "text",
        n = 3, candThreshold = 0.35, simThreshold = 0.4, maxDocFreq = 100L)
    }),

    // BPE tokenizer training: 8 byte-pair merges learned from the
    // corpus word histogram. The distributed part is the histogram
    // pass; the merge loop is driver-side over the vocabulary-bounded
    // frame. Oracle unrolls the full loop (pair counts → best pair →
    // merge application) per rank in SQL.
    "q133_bpe_train" -> ((s, dir) => {
      Graft.tune(s)
      Corpus.bpeTrain(t(s, dir, "documents"), "text", numMerges = 8)
    }),

    // train → apply → account: per-document token count under the
    // learned 8-merge tokenizer (the compression-ratio metric a
    // tokenizer sweep optimizes). The apply side segments each
    // DISTINCT word once (vocabulary-sized frame, broadcast) through
    // the NATIVE encoder (graft_bpe_encode: broadcast rank table +
    // lowest-rank-first loop); the oracle replays the rank-order
    // replace CHAIN in SQL, so the hash gate re-proves the two
    // algorithms' equivalence on a real trained table every round.
    "q134_bpe_encode" -> ((s, dir) => {
      Graft.tune(s)
      val docs = t(s, dir, "documents")
      val merges = Corpus.bpeTrain(docs, "text", numMerges = 8)
        .orderBy("rank").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      val wsym = Corpus.bpeWordHistogram(docs, "text")
        .select(col("word"),
          size(Corpus.bpeEncodeCol(col("word"), merges)).as("n_sym"))
      docs.select(col("doc_id"),
          explode(TextAnalysis.tokens(col("text"))).as("word"))
        .join(broadcast(wsym), "word")
        .groupBy("doc_id")
        .agg(sum(col("n_sym")).cast(LongType).as("n_bpe_tokens"))
    }),

    // URL canonicalization: the dedup key a crawl pipeline computes
    // before any content hashing. The fixture column decorates each
    // page key with five raw variants (tracking params, case/WWW
    // noise, default ports, fragments); normalize collapses the
    // semantically-equal ones. Pure codegen'd regexp chains.
    "q135_url_normalize" -> ((s, dir) => {
      Graft.tune(s)
      t(s, dir, "documents").select(col("doc_id"),
        graft.functions.Urls.normalizeUrl(messyUrl).as("url_norm"),
        graft.functions.Urls.registrableDomain(messyUrl).as("domain"))
    }),

    // canonical-URL dedup groups: raw tracking-param variants collapse
    // onto one canonical id per normalized URL — exact dedup on the
    // derived key (one hash-groupBy, the web-scale URL-dedup shape)
    "q136_url_dedup" -> ((s, dir) => {
      Graft.tune(s)
      t(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.Urls.normalizeUrl(messyUrl).as("url_norm"))
        .groupBy("url_norm")
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("canonical_id"))
    }),

    // within-doc repetition removal: first occurrence of each
    // normalized segment survives, order preserved — the transform
    // next to the repetition scores. Token granularity here (the
    // synthetic corpus has no line structure); real corpora pass a
    // line/sentence separator.
    "q137_dedup_within_doc" -> ((s, dir) => {
      Graft.tune(s)
      Corpus.dedupSegmentsWithinDoc(t(s, dir, "documents"), "doc_id", "text",
        sepRegex = "\\s+", sepOut = " ")
    }),

    // trainable quality classifier: logistic regression over hashed
    // bag-of-words, full-batch GD with exact-decimal gradients — the
    // whole 4-iteration training loop hash-matches the oracle's
    // unrolled SQL. Label: does the doc mention 'data'.
    "q139_lr_train" -> ((s, dir) => {
      Graft.tune(s)
      val docs = t(s, dir, "documents")
        .withColumn("label",
          when(col("text").contains("data"), 1L).otherwise(0L))
      Classifier.trainLrClassifier(docs, "doc_id", "text", "label",
        dim = 16, iters = 4)
    }),

    // train → score: the curation gate (keep docs the classifier
    // likes). Model is dim-sized → broadcast; one feature pass.
    "q140_lr_score" -> ((s, dir) => {
      Graft.tune(s)
      val docs = t(s, dir, "documents")
        .withColumn("label",
          when(col("text").contains("data"), 1L).otherwise(0L))
      val model = Classifier.trainLrClassifier(docs, "doc_id", "text",
        "label", dim = 16, iters = 4)
      Classifier.scoreLr(docs, "doc_id", "text", model, dim = 16)
    }),

    // Gopher-style quality rule bundle (Rae et al. 2021, A1.1): the
    // standard pre-training corpus filter as one map-only projection;
    // rule verdicts compare the 4dp-rounded ratios so the boundary
    // cases are engine-exact
    "q141_gopher_rules" -> ((s, dir) => {
      Graft.tune(s)
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.gopherRules(col("text"), minWords = 10).as("_g"))
        .select(col("doc_id"), col("_g.*"))
    }),

    // deterministic quantile sketch: per-source percentiles from the
    // KMV value sample (native mergeable graft_kmvq — one pass, no
    // per-key sort; selection deterministic by md5, so it oracles
    // bit-for-bit, which merge-order-sensitive t-digest/KLL cannot)
    "q147_sketch_quantiles" -> ((s, dir) => {
      Graft.tune(s)
      Sketches.sampledQuantiles(t(s, dir, "documents"), Seq("source"),
        "doc_id", col("n_chars"), k = 64, ps = Seq(0.5, 0.9, 0.99))
    }),

    // exact-substring span removal (Lee et al. 2022 ExactSubstr,
    // k-gram approximated at token granularity): any ≥5-token run
    // shared across documents vanishes from all of them — q123's
    // cross-doc dedup without the separator assumption
    "q146_remove_dup_spans" -> ((s, dir) => {
      Graft.tune(s)
      Corpus.removeDuplicatedSpans(t(s, dir, "documents"), "doc_id", "text",
        k = 5)
    }),

    // deterministic export order: global md5 shuffle → shard + rank,
    // the step before writing training shards; epoch reshuffle = salt
    // bump. One shard-keyed shuffle, per-shard sort window.
    "q138_training_shards" -> ((s, dir) => {
      Graft.tune(s)
      Corpus.trainingShards(t(s, dir, "documents"), "doc_id", numShards = 8)
        .select(col("doc_id"), col("shard"), col("rank_in_shard"))
    }),

    // Declared through the IVF-bucketed branch (pairs only within a
    // cell) — the scale path: the exact all-pairs branch is a
    // broadcast-nested-loop that dies at 100×. Oracle mirrors the
    // same within-cell semantics.
    "q32_embedding_neardup" -> ((s, dir) => {
      Graft.tune(s)
      val e = t(s, dir, "embeddings")
      Similarity.nearDupPairs(e, "vec_id", "embedding",
        threshold = 0.45, centroids = Some(e.filter(col("vec_id") < 8)))
    }),

    // IVF centroid training: one k-means refinement (assign → exact
    // decimal per-dimension means → re-assign); the step that turns
    // the seeded IVF index into a data-fitted one
    "q48_kmeans_refine" -> ((s, dir) => {
      Graft.tune(s)
      val e = t(s, dir, "embeddings")
      Similarity.kmeansRefineAssign(e, e.filter(col("vec_id") < 8),
        "vec_id", "embedding")
    }),

    // IVF centroid training FROM SCRATCH: deterministic hash-ordered
    // seed sample (TakeOrdered k, no full sort) + one exact-decimal
    // refinement round — the auto-k path that keeps semanticDedup in
    // its safe k~sqrt(N) regime; long-form output for the oracle
    "q128_train_centroids" -> ((s, dir) => {
      Graft.tune(s)
      val cents = Similarity.trainCentroids(t(s, dir, "embeddings"),
        "vec_id", "embedding", k = Some(8), rounds = 1)
      cents.select(col("vec_id").as("centroid_id"),
          posexplode(col("embedding")))
        .select(col("centroid_id"), col("pos").cast(LongType).as("dim"),
          round(col("col"), 6).as("v"))
    }),

    // product quantization codebooks (m=4 subspaces × 8 codes over the
    // 64-dim embeddings, one L2 k-means refinement round): the 100 TB
    // ANN memory play — a 256 B float vector compresses to m codes.
    // Deterministic md5-ordered seeds, exact-decimal means (the q128
    // arithmetic contract, per subspace)
    "q142_pq_codebooks" -> ((s, dir) => {
      Graft.tune(s)
      Similarity.pqTrainCodebooks(t(s, dir, "embeddings"), "vec_id",
          "embedding", dim = 64, m = 4, k = 8, rounds = 1)
        .select(col("sub"), col("code"), posexplode(col("cw")))
        .select(col("sub"), col("code"), col("pos").cast(LongType).as("dim"),
          col("col").as("v"))
    }),

    // PQ encoding: each vector → m codeword ids (argmin of 6dp-rounded
    // squared L2 per subspace, as an aggregate over the broadcast-join
    // expansion — the SCALE.md argmin rule, never a window)
    "q143_pq_encode" -> ((s, dir) => {
      Graft.tune(s)
      val e = t(s, dir, "embeddings")
      val cb = Similarity.pqTrainCodebooks(e, "vec_id", "embedding",
        dim = 64, m = 4, k = 8, rounds = 1)
      Similarity.pqEncode(e, cb, "vec_id", "embedding", dim = 64, m = 4)
    }),

    // ADC top-k search over the PQ-encoded corpus: per-query LUT of
    // subspace dot products (broadcast), DECIMAL-exact m-entry sums —
    // the corpus side never touches vectors, only (id, sub, code)
    "q144_pq_topk" -> ((s, dir) => {
      Graft.tune(s)
      val e = t(s, dir, "embeddings")
      Similarity.pqSearch(e, e.filter(col("vec_id") < 16), "vec_id",
        "embedding", k = 8, dim = 64, m = 4, codebookSize = 8, rounds = 1)
    }),

    // IVF+PQ search — the FAISS-style production ANN shape: one
    // map-only pass builds (id, cell, sub, code), queries probe
    // nProbe cells and ADC-score only those cells' index rows
    // (vector-free scan; cell-partitioned storage would prune it)
    "q145_ivfpq_topk" -> ((s, dir) => {
      Graft.tune(s)
      val e = t(s, dir, "embeddings")
      val cents = e.filter(col("vec_id") < 8)
      val cb = graft.Caches.own(Similarity.pqTrainCodebooks(e, "vec_id",
        "embedding", dim = 64, m = 4, k = 8, rounds = 1))
      val idx = Similarity.pqIndex(e, cents, cb, "vec_id", "embedding",
        dim = 64, m = 4)
      Similarity.ivfPqTopK(e.filter(col("vec_id") < 16), idx, cents, cb,
        "vec_id", "embedding", k = 3, nProbe = 2, dim = 64, m = 4)
    }),

    // SemDeDup semantic dedup: q32's IVF cells, but an end-to-end
    // KEPT/DROPPED verdict per vector rather than a pair list — within
    // each cell the duplicate farthest from the centroid survives
    // (dominance prune, single pass, no connected components)
    "q124_semantic_dedup" -> ((s, dir) => {
      Graft.tune(s)
      val e = t(s, dir, "embeddings")
      Similarity.semanticDedup(e, e.filter(col("vec_id") < 8),
        "vec_id", "embedding", threshold = 0.45)
    }),

    // test-set decontamination: corpus docs sharing any word-3-gram
    // with the benchmark slice (source='src0'); benchmark shingles are
    // broadcast, so the corpus never shuffles — only matched pairs do
    "q49_decontaminate" -> ((s, dir) => {
      Graft.tune(s)
      val docs = tp(s, dir, "documents")
      Corpus.contaminationReport(
        docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"),
        "doc_id", "text", n = 3)
    }),

    // token-budget sequence packing via the block-hierarchical prefix
    // sum — bin = floor(exclusive-cumsum / budget), per-bin stats
    "q50_pack_sequences" -> ((s, dir) => {
      Graft.tune(s)
      Corpus.packSequences(t(s, dir, "documents"), "doc_id",
        TextAnalysis.tokenCount(col("text")), budget = 1024)
    }),

    // Gopher-style repetition signals: duplicate-token ratio and
    // top-bigram mass, computed relationally (no per-row mode lambdas)
    "q51_repetition" -> ((s, dir) => {
      Graft.tune(s)
      Corpus.repetitionStats(tp(s, dir, "documents"), "doc_id", "text")
    }),

    // stratified sampling: per-language md5-threshold fractions
    // (upsample low-resource languages) — deterministic, shuffle-free
    "q53_stratified_sample" -> ((s, dir) => {
      Graft.tune(s)
      Corpus.stratifiedSample(t(s, dir, "documents"), "doc_id", "lang",
        rates = Map("en" -> 0.05, "zh" -> 0.5, "fr" -> 0.5,
          "de" -> 0.5, "es" -> 0.5))
        .select(col("doc_id"), col("lang"), col("source"))
    }),

    // PII scrub: email + digit-run redaction with an audit count —
    // pure regexp column expressions, engine-portable patterns
    "q52_pii_redact" -> ((s, dir) => {
      Graft.tune(s)
      t(s, dir, "events").select(
        col("event_id"),
        graft.functions.Redact.scrub(col("props")).as("props_clean"),
        graft.functions.Redact.matchCount(col("props"),
          graft.functions.Redact.digitsRe(2)).cast(LongType).as("n_redacted"))
    }),

    // as-of (point-in-time) join: each purchase gets the most recent
    // prior view of the same user — tagged union + one shuffle + an
    // ordered window, never a ts-inequality theta join (which plans as
    // a nested loop and dies at scale)
    "q54_asof_join" -> ((s, dir) => {
      Graft.tune(s)
      val ev = t(s, dir, "events").transform(Graft.withTs2)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts2"), col("value"))
      val views = Joins.latestPerKeyTs(
        ev.filter(col("event_type") === "view")
          .withColumnRenamed("value", "view_value"),
        "user_id", "ts2", "event_id", Seq("view_value"))
      Joins.asofJoin(purchases, views, "user_id", "ts2", Seq("view_value"))
        .select(col("event_id"), col("user_id"),
          Normalize.tsFormat(col("ts2")).as("purchase_ts"), col("value"),
          Normalize.tsFormat(col("asof_ts")).as("view_ts"), col("view_value"))
    }),

    // The Multimodal.thumbnails OPERATOR surface (q188 gates the
    // underlying expression; this gates the operator row shape and
    // its NULL-triage contract): image rows thumbnail to 2×2, junk
    // rows keep a NULL thumb — never an error, never a dropped row.
    // This also retires the board's long-standing q55 numbering gap.
    "q55_thumbnails_operator" -> ((s, dir) => {
      Graft.tune(s)
      import graft.operators.Multimodal
      val id = col("doc_id")
      val m = id % 2
      def pix(x: Column, y: Column, c: Column): Column = {
        val hh = id * 59 + x.cast(LongType) * 19 + y.cast(LongType) * 31 +
          c.cast(LongType) * 11
        pmod(shiftright(pmod(hh * hh, lit(1000003L)) * 48271, 8), lit(251L))
      }
      val ppm = concat(
        lit("P6\n3 2\n255\n".getBytes("ISO-8859-1")),
        unhex(array_join(transform(sequence(lit(0), lit(1)), y =>
          array_join(transform(sequence(lit(0), lit(2)), x =>
            array_join(transform(sequence(lit(0), lit(2)), c =>
              byteHex(pix(x, y, c))), "")), "")), "")))
      val content = when(m === 0, ppm)
        .otherwise(encode(concat(lit("junk:"),
          coalesce(col("text"), lit(""))), "UTF-8").cast(BinaryType))
      val media = tp(s, dir, "documents").select(id.as("media_id"),
        lit("image").as("kind"), content.as("content"))
      val th = Multimodal.thumbnails(media, 2, 2)
      val st = call_function(graft.expr.PixelStats.FunctionName,
        col("thumb"))
      th.select(col("media_id"), col("kind"),
          coalesce(length(col("thumb")), lit(0)).cast(LongType)
            .as("n_bytes"), st.as("_m"))
        .select(col("media_id"), col("kind"), col("n_bytes"),
          col("_m.sum").as("sum"), col("_m.pmin").as("pmin"),
          col("_m.pmax").as("pmax"))
    }),

    // key-skew report for the join planner: distinct keys, heaviest
    // key's share, Shannon entropy — decide salting BEFORE shuffling
    "q111_skew_report" -> ((s, dir) => {
      Graft.tune(s)
      Stats.keySkewReport(t(s, dir, "events"), "user_id")
    }),

    // one-scan null/blank profile of the string columns — the
    // data-profiling generalization of the q69 expectations report
    "q112_null_profile" -> ((s, dir) => {
      Graft.tune(s)
      Stats.nullProfile(t(s, dir, "documents"), Seq("text", "lang", "source"))
    }),

    // equal-frequency binning: per-language length quartiles (the
    // curriculum/stratification feature) — histogram percentile
    // bounds broadcast back, no ntile full-sort
    "q113_quantile_bins" -> ((s, dir) => {
      Graft.tune(s)
      Stats.quantileBins(t(s, dir, "documents"), "lang", "n_chars",
          Seq(0.25, 0.5, 0.75))
        .select(col("doc_id"), col("lang"), col("n_chars"),
          col("bin").cast(LongType).as("bin"))
    }),

    // Okapi BM25 against the resume query — the lexical first-stage
    // retriever next to the embedding ANN path; saturated tf (k1) and
    // length normalization (b) with decimal-exact accumulation
    // tp: bm25's per-term occurrence projection is evaluated twice (the
    // one-row stats aggregate + the scorer) in the scan stage — a
    // single-row-group file would run both serially (r16 StageProf)
    "q119_bm25" -> ((s, dir) => {
      Graft.tune(s)
      TfIdf.bm25(tp(s, dir, "documents"), "doc_id", "text", ResumeQ)
    }),

    // SQL surface for the temporal family: the as-of join runs as a
    // TVF in a pure-SQL statement — the builder splices the operator's
    // tagged-union-window plan into the query at analysis time, so the
    // outer projection optimizes as one Catalyst tree
    "q120_sql_asof" -> ((s, dir) => {
      Graft.tune(s)
      val ev = t(s, dir, "events").transform(Graft.withTs2)
      ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts2"), col("value"))
        .createOrReplaceTempView("purchases_v")
      Joins.latestPerKeyTs(
          ev.filter(col("event_type") === "view")
            .withColumnRenamed("value", "view_value"),
          "user_id", "ts2", "event_id", Seq("view_value"))
        .createOrReplaceTempView("views_v")
      s.sql("""
        SELECT event_id, user_id,
               date_format(ts2, 'yyyy-MM-dd HH:mm:ss') AS purchase_ts, value,
               date_format(asof_ts, 'yyyy-MM-dd HH:mm:ss') AS view_ts,
               view_value
        FROM graft_asof_join('purchases_v', 'views_v', 'user_id', 'ts2',
                             'view_value')""")
    }),

    // SQL surface for the interval family: binned range join as a TVF
    "q121_sql_range" -> ((s, dir) => {
      Graft.tune(s)
      t(s, dir, "events").createOrReplaceTempView("events_range_v")
      s.range(0, 7).select(col("id").as("band_id"),
          (col("id") * 75).cast(DoubleType).as("lo"),
          ((col("id") + 1) * 75).cast(DoubleType).as("hi"))
        .createOrReplaceTempView("bands_v")
      s.sql("""
        SELECT band_id, COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
        FROM graft_range_join('events_range_v', 'value', 'bands_v',
                              'lo', 'hi', 50.0D)
        GROUP BY band_id""")
    }),

    // CCNet/RefinedWeb-style cross-document segment removal: fragments
    // (here delimited by the stopword 'the' — the fixture has no
    // punctuation) seen in >1 distinct doc are dropped from every doc,
    // survivors reassembled in order. The exact-duplicate documents in
    // the fixture lose their shared fragments from BOTH copies.
    "q123_remove_dup_segments" -> ((s, dir) => {
      Graft.tune(s)
      Corpus.removeDuplicatedSegments(t(s, dir, "documents"), "doc_id", "text",
        sepRegex = "\\bthe\\b", sepOut = "the", maxDocFreq = 1L)
    }),

    // SQL surface for the retrieval family: BM25 as a TVF
    "q122_sql_bm25" -> ((s, dir) => {
      Graft.tune(s)
      t(s, dir, "documents").createOrReplaceTempView("docs_bm25_v")
      s.sql(s"""
        SELECT doc_id, bm25
        FROM graft_bm25('docs_bm25_v', 'doc_id', 'text', '$ResumeQ')""")
    }),

    // the SQL form of q124: the TVF splices semanticDedup's plan at
    // analysis time, so the WHERE on the verdict optimizes into the
    // operator's dataflow like any Catalyst predicate
    "q126_sql_semdedup" -> ((s, dir) => {
      Graft.tune(s)
      val e = t(s, dir, "embeddings")
      e.createOrReplaceTempView("vecs_sd_v")
      e.filter(col("vec_id") < 8).createOrReplaceTempView("cents_sd_v")
      s.sql("""
        SELECT vec_id, centroid_id, centroid_sim
        FROM graft_semantic_dedup('vecs_sd_v', 'cents_sd_v',
                                  'vec_id', 'embedding', 0.45)
        WHERE kept = 0""")
    }),

    // audience-overlap matrix: |users(A) ∩ users(B)| and Jaccard for
    // every event-type pair — the segment-overlap analytics staple;
    // the distinct user×type table self-joins on user (bounded by
    // distinct pairs, never raw events × events)
    "q118_audience_overlap" -> ((s, dir) => {
      Graft.tune(s)
      val ut = t(s, dir, "events")
        .select(col("user_id"), col("event_type")).distinct()
      val sizes = ut.groupBy(col("event_type")).agg(count(lit(1)).as("_n"))
      val common = ut.as("a").join(ut.as("b"),
          col("a.user_id") === col("b.user_id") &&
            col("a.event_type") < col("b.event_type"))
        .groupBy(col("a.event_type").as("type_a"),
          col("b.event_type").as("type_b"))
        .agg(count(lit(1)).as("n_common"))
      common
        .join(broadcast(sizes.select(col("event_type").as("type_a"),
          col("_n").as("_na"))), "type_a")
        .join(broadcast(sizes.select(col("event_type").as("type_b"),
          col("_n").as("_nb"))), "type_b")
        .select(col("type_a"), col("type_b"), col("n_common"),
          round(col("n_common").cast(DoubleType) /
            (col("_na") + col("_nb") - col("n_common")), 6).as("jaccard"))
    }),

    // language-ID confusion matrix: predicted vs labeled language with
    // per-cell counts — the classifier-evaluation query every heuristic
    // (and model) gate needs before it filters a corpus. Round 8:
    // evaluated against the WIDE 167-language predictor (q151's label
    // space) — the honest matrix now also shows which labels leak into
    // the 28 languages the old 4-way form could never emit
    "q117_lang_confusion" -> ((s, dir) => {
      Graft.tune(s)
      t(s, dir, "documents")
        .select(col("lang"),
          TextAnalysis.langIdWide(col("text")).getField("lang").as("pred_lang"))
        .groupBy(col("lang"), col("pred_lang"))
        .agg(count(lit(1)).as("n"))
    }),

    // join-cardinality estimate from two CMS sketches (the AMS inner
    // product): plan-time |orders ⋈ customer| without shuffling either
    // side by key; exact from the bounded key histograms for the error
    "q116_join_cardinality" -> ((s, dir) => {
      Graft.tune(s)
      Sketches.cmsJoinCardinality(
        t(s, dir, "orders"), "o_custkey",
        t(s, dir, "customer"), "c_custkey",
        depth = 4, width = 2048)
    }),

    // bigram LM quality score: mean ln P(w|prev) with add-one
    // smoothing — catches locally incoherent text the unigram model
    // (q80) scores identically
    "q115_bigram_lm" -> ((s, dir) => {
      Graft.tune(s)
      Corpus.bigramLmScore(tp(s, dir, "documents"), "doc_id", "text")
    }),

    // per-source exact-duplicate rate: which sources ship copy-paste —
    // the source-level curation triage signal; one hash-groupBy
    "q114_source_dup_rate" -> ((s, dir) => {
      Graft.tune(s)
      t(s, dir, "documents")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(TextAnalysis.fingerprint(col("text"))).as("n_distinct"))
        .select(col("source"), col("n_docs"), col("n_distinct"),
          round((col("n_docs") - col("n_distinct")).cast(DoubleType) /
            col("n_docs"), 6).as("dup_rate"))
    }),

    // as-of join with max-staleness tolerance (feature-store
    // point-in-time contract): a view older than 1h at purchase time
    // is NO match — stale features null out, plan unchanged
    "q110_asof_tolerant" -> ((s, dir) => {
      Graft.tune(s)
      val ev = t(s, dir, "events").transform(Graft.withTs2)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts2"), col("value"))
      val views = Joins.latestPerKeyTs(
        ev.filter(col("event_type") === "view")
          .withColumnRenamed("value", "view_value"),
        "user_id", "ts2", "event_id", Seq("view_value"))
      Joins.asofJoinTolerant(purchases, views, "user_id", "ts2",
          Seq("view_value"), toleranceSeconds = 3600L)
        .select(col("event_id"), col("user_id"),
          Normalize.tsFormat(col("ts2")).as("purchase_ts"), col("value"),
          Normalize.tsFormat(col("asof_ts")).as("view_ts"), col("view_value"))
    }),

    // strict ordered funnel: view → click → purchase, first-touch
    // semantics; one conditional min-agg pass per stage, no self-joins
    "q56_funnel" -> ((s, dir) => {
      Graft.tune(s)
      val ev = t(s, dir, "events").transform(Graft.withTs2)
      Sessions.funnel(ev, "user_id", "ts2", "event_type",
        Seq("view", "click", "purchase"))
    }),

    // interval/range join by binning: value bands replicate to the
    // fixed-width bins they overlap, the join runs as an EQUI-join on
    // the bin + residual range predicate — no nested loop
    "q57_range_join" -> ((s, dir) => {
      Graft.tune(s)
      val bands = s.range(0, 7).select(col("id").as("band_id"),
        (col("id") * 75).cast(DoubleType).as("lo"),
        ((col("id") + 1) * 75).cast(DoubleType).as("hi"))
      Joins.rangeJoinBinned(t(s, dir, "events"), "value", bands,
          "lo", "hi", binWidth = 50.0)
        .groupBy("band_id")
        .agg(count(lit(1)).as("n_events"),
          dsum(col("value")).as("total_value"))
    }),

    // exact per-language length percentiles — relational histogram +
    // cumulative ranges, NOT the value-buffering percentile aggregate
    "q58_percentiles" -> ((s, dir) => {
      Graft.tune(s)
      Stats.percentiles(t(s, dir, "documents"), "lang", "n_chars",
        Seq("p25" -> 0.25, "p50" -> 0.5, "p90" -> 0.9, "p99" -> 0.99))
    }),

    // BPE-ish tokenization: GPT-2-flavored pre-tokenizer regex count
    // next to the chars/4 estimate — both pure codegen'd expressions
    "q59_bpe_tokens" -> ((s, dir) => {
      Graft.tune(s)
      t(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"),
          TextAnalysis.bpeTokenCount(col("text")).cast(LongType)
            .as("n_bpe_tokens"))
        .withColumn("chars_per_token",
          when(col("n_bpe_tokens") > 0,
            round(col("n_chars").cast(DoubleType) / col("n_bpe_tokens"), 4)))
    }),

    // winnowing fingerprints (MOSS): char-8-gram md5 hashes, window-4
    // minima, distinct — the position-free plagiarism sketch; one
    // native linear pass per row, no corpus-chars-sized shuffle
    "q60_winnow" -> ((s, dir) => {
      Graft.tune(s)
      tp(s, dir, "documents").select(col("doc_id"),
        explode(call_function(graft.expr.WinnowFingerprints.FunctionName,
          col("text"), lit(8), lit(4))).as("fingerprint"))
    }),

    // sampled winnow near-dup audit: character-level fingerprint
    // overlap pairs over a deterministic 20% hash sample — the
    // compose-operators pattern (hashSample → winnowPairs)
    "q61_winnow_pairs" -> ((s, dir) => {
      Graft.tune(s)
      Dedup.winnowPairs(
        tp(s, dir, "documents").filter(Filters.hashSample(col("doc_id"), 0.2)),
        "doc_id", "text", k = 8, w = 4, minShared = 20)
    }),

    // native session_window sessionization (batch form of the
    // streaming primitive; merge-on-gap semantics, new session when
    // the gap is >= 30 min — cross-checked against the relational
    // sessionizer in StreamingSpec)
    "q62_session_window" -> ((s, dir) => {
      Graft.tune(s)
      val ev = t(s, dir, "events").transform(Graft.withTs2)
      graft.streaming.StreamingIngest
        .sessionWindowStats(ev, "ts2", "user_id", "30 minutes", None)
        .select(col("user_id"), col("n_events"),
          Normalize.tsFormat(col("session_start")).as("session_start"),
          Normalize.tsFormat(col("session_end")).as("session_end"))
    }),

    // semi-structured extraction: JSON props → typed column feeding a
    // relational aggregate (schema-on-read without a UDF)
    "q63_json_extract" -> ((s, dir) => {
      Graft.tune(s)
      t(s, dir, "events")
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast(IntegerType).as("k"))
        .groupBy("event_type")
        .agg(count(col("k")).as("n"),
          sum(col("k").cast(LongType)).as("sum_k"),
          round(sum(col("k").cast(dec)).cast(DoubleType) / count(col("k")), 4)
            .as("avg_k"))
    }),

    // pivot: per-user event-type counts as columns (the wide-table
    // reshape; missing combinations coalesced to 0 like the oracle)
    "q64_pivot" -> ((s, dir) => {
      Graft.tune(s)
      val types = Seq("click", "error", "purchase", "signup", "view")
      val p = t(s, dir, "events")
        .groupBy("user_id")
        .pivot("event_type", types)
        .agg(count(lit(1)))
      p.select(col("user_id") +:
        types.map(tp => coalesce(col(tp), lit(0L)).as(tp)): _*)
    }),

    // rollup: per-type revenue plus the grand-total grouping row in
    // one pass (grouping sets, decimal-exact sums)
    "q65_rollup" -> ((s, dir) => {
      Graft.tune(s)
      t(s, dir, "events")
        .rollup(col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
    }),

    // unpivot/melt: wide numeric columns → (metric, val) long form
    "q66_unpivot" -> ((s, dir) => {
      Graft.tune(s)
      t(s, dir, "events")
        .select(col("event_id"), col("value"),
          get_json_object(col("props"), "$.k").cast(DoubleType).as("k"))
        .unpivot(Array(col("event_id")), Array(col("value"), col("k")),
          "metric", "val")
    }),

    // ranking window surface: top-3 docs per language by quality with
    // dense_rank and a total-order tie-break (WindowGroupLimit prunes
    // per-key rows map-side before the exchange)
    "q67_ranked_topk" -> ((s, dir) => {
      Graft.tune(s)
      val scored = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          TextAnalysis.qualityScore(col("text")).as("quality_score"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang"))
        .orderBy(col("quality_score").desc, col("doc_id"))
      scored
        .withColumn("rnk", dense_rank().over(w))
        .filter(col("rnk") <= 3)
        .select("lang", "rnk", "doc_id", "quality_score")
    }),

    // retention cohorts: users grouped by first-activity week × weeks
    // since — two aggregations and an equi-join, the classic product
    // analytics matrix kept fully relational
    "q68_retention" -> ((s, dir) => {
      Graft.tune(s)
      val ev = t(s, dir, "events")
        .transform(Graft.withTs2)
        .select(col("user_id"),
          date_trunc("week", col("ts2")).as("wk"))
        .distinct()
      val cohort = ev.groupBy("user_id").agg(min(col("wk")).as("cohort_wk"))
      ev.join(cohort, "user_id")
        .groupBy(col("cohort_wk"),
          floor(datediff(col("wk"), col("cohort_wk")) / 7).cast(IntegerType)
            .as("week_offset"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .select(Normalize.tsFormat(col("cohort_wk")).as("cohort_week"),
          col("week_offset"), col("n_users"))
    }),

    // data-quality report: expectations-style violation counts in ONE
    // scan (conditional sums) — the generalization of the reference's
    // PK validation (F6) to a whole-table contract
    "q69_dq_report" -> ((s, dir) => {
      Graft.tune(s)
      val knownTypes = Seq("click", "error", "purchase", "signup", "view")
      t(s, dir, "events").agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("event_id").isNull, 1L).otherwise(0L)).as("null_ids"),
        sum(when(col("ts").isNull, 1L).otherwise(0L)).as("null_ts"),
        sum(when(col("value") < 0, 1L).otherwise(0L)).as("negative_values"),
        sum(when(!col("event_type").isin(knownTypes: _*), 1L).otherwise(0L))
          .as("unknown_types"),
        sum(when(get_json_object(col("props"), "$.k").isNull, 1L)
          .otherwise(0L)).as("bad_props"),
        countDistinct(col("event_id")).as("distinct_ids"))
    }),

    // KMV distinct-count sketch: deterministic (md5-order) k-minimum-
    // values estimate, cross-checkable exactly — unlike HLL registers
    "q70_kmv_distinct" -> ((s, dir) => {
      Graft.tune(s)
      Sketches.kmvDistinct(t(s, dir, "events"), "event_type", "user_id", k = 64)
    }),

    // the end-to-end curation pipeline: token gate → test-set
    // decontamination → exact dedup → sequence packing, each stage the
    // already-verified operator, composed — what a user actually runs
    // stays on t (NOT tp — measured r16): the composite's many small
    // stages overlap; tp's repartition exchange + extra AQE boundaries
    // regressed the bench 1.86 → 2.27 s
    "q71_curation_pipeline" -> ((s, dir) => {
      Graft.tune(s)
      val docs = t(s, dir, "documents")
      // token-count gate behind an explode(array(...)) Generate barrier:
      // as a plain filter, between() re-runs the tokenizer once per
      // conjunct (the r17 before-plan shows the split+lower pipeline
      // TWICE in each of the two corpus Filters — decontaminate plans
      // the gated corpus on both sides of its anti-join). Behind the
      // barrier each subtree tokenizes once; rows kept are identical.
      // Not repartitioned after the gate either: that measured WORSE
      // r17 (same-JVM min 0.93 vs 0.75, med 1.02 vs 0.91), the exchange
      // + AQE boundary costing more than the warm single-task chain.
      val gated = docs.filter(col("source") =!= "src0")
        .select(col("doc_id"), col("text"),
          explode(array(TextAnalysis.tokenCount(col("text")))).as("_tc"))
        .filter(col("_tc").between(5, 10000))
        .select(col("doc_id"), col("text"))
      val clean = Corpus.decontaminate(gated,
        docs.filter(col("source") === "src0"), "doc_id", "text", n = 3)
      val deduped = Dedup.exactDedup(clean, "doc_id", "text")
      Corpus.packSequences(deduped, "doc_id",
        TextAnalysis.tokenCount(col("text")), budget = 1024)
    }),

    // vocabulary building: frequency-ranked contiguous term ids (the
    // string-indexer step of a tokenizer pipeline); total-order ties
    // by term so ids are engine-reproducible
    "q72_vocab_build" -> ((s, dir) => {
      Graft.tune(s)
      val counts = t(s, dir, "documents")
        .select(explode(TextAnalysis.tokens(col("text"))).as("term"))
        .groupBy("term").agg(count(lit(1)).as("term_freq"))
        .filter(col("term_freq") >= 5)
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("term_freq").desc, col("term"))
      // the ranking window is global but runs over the VOCABULARY
      // (distinct terms surviving the min-count cut), not the corpus —
      // bounded input by construction, like the prefix-sum block table
      counts.withColumn("term_id",
        (row_number().over(w) - 1).cast(LongType))
    }),

    // cube grouping sets: all four (returnflag × linestatus) grouping
    // combinations in one pass — rollup's big sibling, decimal-exact
    "q73_cube" -> ((s, dir) => {
      Graft.tune(s)
      t(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
    }),

    // time-series window frames: per-user 4-row moving average (decimal
    // sum / window count) + lag delta, ordered by (ts, event_id) — one
    // shuffle on user, both windows share the same sort
    "q74_moving_avg" -> ((s, dir) => {
      Graft.tune(s)
      val w1 = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts2"), col("event_id"))
      val w2 = w1.rowsBetween(-3, org.apache.spark.sql.expressions.Window.currentRow)
      t(s, dir, "events")
        .transform(Graft.withTs2)
        .select(col("user_id"), col("event_id"),
          Normalize.tsFormat(col("ts2")).as("ts_s"),
          round(sum(col("value").cast(dec)).over(w2).cast(DoubleType) /
            count(lit(1)).over(w2), 6).as("moving_avg"),
          round(col("value") - lag(col("value"), 1).over(w1), 6).as("delta"))
    }),

    // growth accounting: each user's first active day → daily new-user
    // counts → running cumulative total. The running window is global
    // but over the DAILY table (rows = distinct days), not the events
    "q75_cumulative_users" -> ((s, dir) => {
      Graft.tune(s)
      val firstDay = t(s, dir, "events")
        .transform(Graft.withTs2)
        .groupBy("user_id")
        .agg(min(date_trunc("day", col("ts2"))).as("_day"))
      val daily = firstDay.groupBy("_day").agg(count(lit(1)).as("n_new"))
      val w = org.apache.spark.sql.expressions.Window.orderBy("_day")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      daily.select(Normalize.tsFormat(col("_day")).as("day"), col("n_new"),
        sum(col("n_new")).over(w).as("cum_users"))
    }),

    // overlapping token-window chunking (64-token chunks every 48):
    // the retrieval/embedding context-window splitter, zero-shuffle
    "q76_chunk_docs" -> ((s, dir) => {
      Graft.tune(s)
      Corpus.chunkDocuments(t(s, dir, "documents"), "doc_id", "text",
        chunkSize = 64, stride = 48)
    }),

    // ANN quality evaluation: recall@3 of the IVF probe search against
    // exact brute-force ground truth, per query — the metric that
    // decides nProbe/centroid count at scale
    "q77_ivf_recall" -> ((s, dir) => {
      Graft.tune(s)
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 16)
      val truth = Similarity.bruteForceTopK(q, e, "vec_id", "embedding", k = 3)
      val centroids = e.filter(col("vec_id") < 8)
      val assigned = Similarity.ivfAssign(e, centroids, "vec_id", "embedding")
      val approx = Similarity.ivfTopK(q, assigned, centroids,
        "vec_id", "embedding", k = 3, nProbe = 2)
      Similarity.recallAtK(truth, approx, k = 3)
    }),

    // decontamination via Bloom pre-probe: identical output to q49 but
    // the corpus postings are pruned by a ~10-bits/key filter inside
    // the scan before the exact verify join (the benchmark-set-too-big-
    // to-broadcast-a-hash-set scale path)
    "q78_bloom_decontaminate" -> ((s, dir) => {
      Graft.tune(s)
      val docs = tp(s, dir, "documents")
      Corpus.contaminationReportBloom(
        docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"),
        "doc_id", "text", n = 3)
    }),

    // symmetric per-vector int8 quantization codes in long form — every
    // code an exact integer, scale = max|component|
    "q79_quantize_int8" -> ((s, dir) => {
      Graft.tune(s)
      Similarity.quantizeInt8(t(s, dir, "embeddings"), "vec_id", "embedding")
    }),

    // unigram LM quality score: mean token log-prob under the corpus's
    // own add-one-smoothed unigram model — the cross-entropy proxy for
    // ranking text quality; vocabulary broadcast, two corpus scans
    "q80_lm_score" -> ((s, dir) => {
      Graft.tune(s)
      Corpus.unigramLmScore(tp(s, dir, "documents"), "doc_id", "text")
    }),

    // daily resample + forward fill: last observation per (user, day),
    // densified over each user's active range with gaps carried
    // forward — grid output bounded by users × days, not event volume
    "q81_gap_fill" -> ((s, dir) => {
      Graft.tune(s)
      operators.Sessions.gapFillDaily(
        t(s, dir, "events").transform(Graft.withTs2),
        "user_id", "ts2", "event_id", "value", Normalize.tsFormat)
    }),

    // fixed-width histogram: distribution EDA whose output is bounded
    // by the value range over the bucket width, never the row count
    "q82_histogram" -> ((s, dir) => {
      Graft.tune(s)
      Stats.fixedWidthHistogram(t(s, dir, "documents"), "n_chars", width = 500)
    }),

    // deterministic weighted sampling without replacement (A-ES top-k
    // by ln(u)/w): longer docs proportionally likelier, md5-uniform u,
    // engine-reproducible selection
    "q83_weighted_sample" -> ((s, dir) => {
      Graft.tune(s)
      Filters.weightedSampleTopK(t(s, dir, "documents"), "doc_id",
          col("n_chars"), k = 20)
        .select(col("doc_id"), col("n_chars"), col("sample_key"))
    }),

    // PMI collocations: top adjacent-bigram phrases by pointwise
    // mutual information — the phrase-mining signal for tokenizer
    // merges; hapax bigrams cut by min-count before the join
    "q84_pmi_bigrams" -> ((s, dir) => {
      Graft.tune(s)
      Corpus.pmiBigrams(tp(s, dir, "documents"), "doc_id", "text",
        minCount = 25, k = 20)
    }),

    // the KMV sketch as a NATIVE mergeable aggregate: bounded k-minima
    // buffer per group per partition (≤ k longs cross the exchange),
    // bit-identical estimates to the relational q70 form
    "q85_kmv_agg" -> ((s, dir) => {
      Graft.tune(s)
      Sketches.kmvDistinctAgg(t(s, dir, "events"), "event_type", "user_id",
        k = 64)
    }),

    // first-order Markov transitions between event types per user:
    // P(next | current) from adjacent pairs; the normalizing window
    // runs over the type×type matrix, never the events
    "q86_transitions" -> ((s, dir) => {
      Graft.tune(s)
      operators.Sessions.transitionMatrix(
        t(s, dir, "events").transform(Graft.withTs2),
        "user_id", "ts2", "event_id", "event_type")
    }),

    // paragraph-level duplication: the boilerplate/template signal
    // document-level dedup can't see — normalized-fragment md5s
    // counted across documents, per-doc dup ratio
    "q87_paragraph_dup" -> ((s, dir) => {
      Graft.tune(s)
      Corpus.paragraphDupStats(tp(s, dir, "documents"), "doc_id", "text")
    }),

    // the AQP rewrite end-to-end: plain COUNT(DISTINCT) code, the
    // opt-in optimizer rule swaps in the KMV sketch at planning time.
    // Runs on its own newSession() so the conf cannot leak into other
    // queries' countDistincts (the rule reads SQLConf lazily, at
    // optimization time)
    "q88_approx_distinct" -> ((s, dir) => {
      val s2 = Graft.tune(s.newSession())
      s2.conf.set(graft.plans.ApproxCountDistinctRewrite.ConfKey, "true")
      t(s2, dir, "events")
        .groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("approx_users"))
    }),

    // cross-corpus incremental dedup: benchmark slice vs the rest of
    // the corpus — two posting tables meet in ONE shingle-hash
    // equi-join (no pair expansion), combined-df skew cap
    "q89_cross_dedup" -> ((s, dir) => {
      Graft.tune(s)
      val docs = tp(s, dir, "documents")
      Dedup.crossJaccardPairs(
        docs.filter(col("source") === "src0"),
        docs.filter(col("source") =!= "src0"),
        "doc_id", "text", n = 3, threshold = 0.5, maxDocFreq = 100L)
    }),

    // deterministic negative sampling for contrastive training: per
    // anchor, 4 md5-drawn partner ids from the dense pool, partner
    // rows materialized by the caller-owned equi-join
    "q90_negative_sample" -> ((s, dir) => {
      Graft.tune(s)
      val docs = t(s, dir, "documents")
      val pool = docs.count()
      Corpus.negativeSamples(docs.select("doc_id"), "doc_id", k = 4,
          poolSize = pool)
        .join(docs.select(col("doc_id").as("neg_id"), col("lang").as("neg_lang")),
          "neg_id")
        .select(col("doc_id"), col("neg_slot").cast(LongType).as("neg_slot"),
          col("neg_id"), col("neg_lang"))
    }),

    // the dedup pipeline in PURE SQL over the registered native
    // kernels (graft_shingles + graft_pairs): what a spark-sql /
    // thrift-server user writes with zero Scala — same inverted-index
    // shape as q23, on a bounded slice
    "q91_sql_jaccard" -> ((s, dir) => {
      Graft.tune(s)
      t(s, dir, "documents").filter(col("doc_id") < 200)
        .createOrReplaceTempView("docs_sql")
      s.sql("""
        WITH sets AS (SELECT doc_id, graft_shingles(text, 3) AS sh FROM docs_sql),
          sizes AS (SELECT doc_id, size(sh) AS n FROM sets),
          postings AS (SELECT doc_id, explode(sh) AS s FROM sets),
          lists AS (SELECT s, sort_array(collect_list(doc_id)) AS ids
                    FROM postings GROUP BY s),
          pairs AS (SELECT p.id1 AS id1, p.id2 AS id2, COUNT(*) AS c
                    FROM (SELECT ids FROM lists WHERE size(ids) > 1)
                    LATERAL VIEW explode(graft_pairs(ids)) ex AS p
                    GROUP BY 1, 2)
        SELECT id1, id2,
               ROUND(CAST(c AS DOUBLE) / (s1.n + s2.n - c), 6) AS jaccard
        FROM pairs
        JOIN sizes s1 ON id1 = s1.doc_id
        JOIN sizes s2 ON id2 = s2.doc_id
        WHERE ROUND(CAST(c AS DOUBLE) / (s1.n + s2.n - c), 6) >= 0.5""")
    }),

    // per-group Pearson correlation + covariance with exact decimal
    // moment sums (the built-in corr's streaming double accumulation
    // is partition-order dependent — this one is reproducible)
    "q92_correlation" -> ((s, dir) => {
      Graft.tune(s)
      val ev = t(s, dir, "events").select(col("event_type"), col("value"),
        get_json_object(col("props"), "$.k").cast(DoubleType).as("k"))
      Stats.correlation(ev, "event_type", "value", "k")
    }),

    // deterministic hash sampling: the reproducible train-split /
    // subsample primitive — md5-based keep decision, no RNG state
    "q46_hash_sample" -> ((s, dir) => {
      Graft.tune(s)
      t(s, dir, "documents")
        .filter(Filters.hashSample(col("doc_id"), 0.1))
        .select(col("doc_id"), col("lang"), col("source"))
    }),

    // gap-based sessionization of the event stream (30-min gap):
    // one shuffle on user, per-user ordered window, total-order ties
    "q47_sessionize" -> ((s, dir) => {
      Graft.tune(s)
      val ev = t(s, dir, "events").transform(Graft.withTs2)
      Sessions.sessionStats(ev, "user_id", "ts2", "event_id",
        gapSeconds = 1800, tsFormat = Normalize.tsFormat)
    }),

    // feature hashing: sparse (doc, bucket, tf) term-frequency vectors
    // with engine-portable md5 buckets — the HashingTF feature
    // extraction of a training-data pipeline, kept relational
    "q45_feature_hashing" -> ((s, dir) => {
      Graft.tune(s)
      TextAnalysis.hashingTf(t(s, dir, "documents"), "doc_id", "text",
        numFeatures = 64)
    }),

    // SRP-LSH cosine near-dup: the hyperplane-signature scale path
    // (sign bits via the native cosine kernel, band collisions only,
    // exact-cosine verify). Deterministic hyperplanes → the oracle
    // embeds the identical ±1 constants.
    "q44_srp_neardup" -> ((s, dir) => {
      Graft.tune(s)
      Similarity.srpNearDupPairs(tp(s, dir, "embeddings"), "vec_id", "embedding",
        threshold = 0.45, dim = 64)
    }),

    // SQL surface: same engine through spark.sql over registered views,
    // including the native cosine expression by its SQL name.
    "q35_sql_surface" -> ((s, dir) => {
      Graft.tune(s)
      t(s, dir, "orders").createOrReplaceTempView("orders_v")
      t(s, dir, "embeddings").createOrReplaceTempView("embeddings_v")
      s.sql("""
        SELECT o_orderstatus,
               COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total,
               (SELECT ROUND(graft_cosine_sim(a.embedding, b.embedding), 6)
                FROM embeddings_v a JOIN embeddings_v b
                  ON a.vec_id = 0 AND b.vec_id = 1) AS sim01
        FROM orders_v GROUP BY o_orderstatus""")
    }),

    // CSV sink+source round-trip (S4/S5): write a slice as CSV, read it
    // back through the CSV source with schema + blank-drop — the oracle
    // reads the same slice straight from parquet.
    "q40_csv_roundtrip" -> ((s, dir) => {
      Graft.tune(s)
      val slice = t(s, dir, "documents")
        .filter(col("doc_id") < 100)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      val tmp = scratch("csv-q40")
      graft.sources.Tables.writeCsv(slice, s"$tmp/docs")
      graft.sources.Tables.readCsv(s, s"$tmp/docs",
        requireNonBlank = Some("lang"),
        schema = Some(StructType(Seq(
          StructField("doc_id", LongType),
          StructField("lang", StringType),
          StructField("source", StringType),
          StructField("n_chars", LongType)))))
    }),

    "q38_ivf_topk" -> ((s, dir) => {
      Graft.tune(s)
      val e = t(s, dir, "embeddings")
      val centroids = e.filter(col("vec_id") < 8)
      val assigned = Similarity.ivfAssign(e, centroids, "vec_id", "embedding")
      Similarity.ivfTopK(e.filter(col("vec_id") < 16), assigned, centroids,
        "vec_id", "embedding", k = 3, nProbe = 2)
    }),

    "q39_frame_sample" -> ((s, dir) => {
      Graft.tune(s)
      val media = t(s, dir, "documents").select(
        col("doc_id").as("media_id"), lit("video").as("kind"),
        (col("n_chars") * 10).cast(LongType).as("duration_ms"))
      Multimodal.frameSamplePlan(media, everyMs = 1000)
    }),

    // stays on t (NOT tp — measured r16): the three tokenize consumers
    // run as independent single-task stages that overlap in time,
    // while tp's repartition added an exchange + AQE boundaries and
    // regressed the bench 1.33 → 1.96 s
    "q36_tfidf_similarity" -> ((s, dir) => {
      Graft.tune(s)
      TfIdf.similarity(t(s, dir, "documents"), "doc_id", "text", ResumeQ)
    }),

    // ------------- streaming-equivalent windowed agg (§2.10) -------------
    "q31_windowed_counts" -> ((s, dir) => {
      Graft.tune(s)
      t(s, dir, "events")
        .transform(Graft.withTs2)
        .groupBy(window(col("ts2"), "1 day").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
        .select(Normalize.tsFormat(col("w.start")).as("day"),
          col("event_type"), col("n"), col("total_value"))
    }),

    // ------------- enrichment + multimodal (rows-only where noted) -------------
    "q33_enrich_scored" -> ((s, dir) => {
      Graft.tune(s)
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      Enrichment.withLlmScore(docs, "text", ResumeQ,
          new Enrichment.DeterministicScorer(DictQ), batchSize = 5)
        .select(col("doc_id"), col("llm_score"))
    }),

    // imperative media decode via the mapPartitions boundary; the stub
    // decoder's integer-checksum arithmetic is reproduced exactly by
    // the SQL oracle from hex(bytes)
    "q34_multimodal_features" -> ((s, dir) => {
      Graft.tune(s)
      val media = t(s, dir, "documents").select(
        col("doc_id").as("media_id"),
        when(col("doc_id") % 2 === 0, "image").otherwise("audio").as("kind"),
        encode(col("text"), "UTF-8").cast(BinaryType).as("content"),
        lit("application/octet-stream").as("mime"),
        lit(null).cast(IntegerType).as("width"),
        lit(null).cast(IntegerType).as("height"),
        lit(null).cast(LongType).as("duration_ms"))
      Multimodal.extractFeatures(media, dim = 8)
        .select(col("media_id"), col("kind"), col("n_bytes"),
          round(element_at(col("feature"), 1).cast(DoubleType), 4).as("f0"))
    }),

    // canonical-doc selection per near-dup cluster: jaccard clusters →
    // keep the highest-quality member (one max(struct) aggregation,
    // no per-cluster sort window) + cluster size
    "q93_cluster_pick" -> ((s, dir) => {
      Graft.tune(s)
      val docs = t(s, dir, "documents")
      val clusters = Dedup.nearDupClusters(tp(s, dir, "documents"),
        "doc_id", "text", n = 3, threshold = 0.5, maxDocFreq = 100L)
      Dedup.clusterRepresentatives(clusters,
        scoredDocs(docs).select(col("doc_id"), col("quality_score")),
        "doc_id", "quality_score")
    }),

    // per-source frequency cap (the "at most N docs per domain" web
    // curation gate): deterministic md5 pick order, WindowGroupLimit
    // pre-prunes each map task to N rows per key before the shuffle
    "q94_source_cap" -> ((s, dir) => {
      Graft.tune(s)
      Filters.perKeyCap(t(s, dir, "documents"), "source", "doc_id", n = 50)
        .select(col("doc_id"), col("source"),
          col("pick_order").cast(LongType).as("pick_order"))
    }),

    // per-type z-score outliers with exact decimal moment sums: one
    // aggregation + broadcast stats join back — no window shuffle
    "q95_outliers" -> ((s, dir) => {
      Graft.tune(s)
      val ev = t(s, dir, "events").select(col("event_id"), col("event_type"),
        col("value"))
      Stats.zscoreOutliers(ev, "event_type", "event_id", "value", z = 3.0)
    }),

    // Unicode NFC canonicalization via the native codegen'd expression
    // (graft_nfc): decomposed combining marks re-compose, so visually
    // identical docs fingerprint identically before dedup
    "q96_unicode_nfc" -> ((s, dir) => {
      Graft.tune(s)
      val raw = coalesce(col("text"), lit(""))
      val decomp = regexp_replace(raw, "e", "e\u0301")
      val nfc = call_function(graft.expr.NfcNormalize.FunctionName, decomp)
      t(s, dir, "documents").select(col("doc_id"),
        length(decomp).cast(LongType).as("n_decomposed"),
        length(nfc).cast(LongType).as("n_nfc"),
        (nfc === regexp_replace(raw, "e", "\u00e9")).as("roundtrip_ok"))
    }),

    // top-k TF-IDF terms per document (keyword surfacing): postings →
    // tf/df aggs → weight join → WindowGroupLimit-pruned per-doc top-k
    "q97_tfidf_terms" -> ((s, dir) => {
      Graft.tune(s)
      TfIdf.topTerms(tp(s, dir, "documents"), "doc_id", "text", k = 3)
    }),

    // count-min heavy hitters: ONE bounded 4×64 sketch over all events
    // (native mergeable aggregate — d·w longs per partition cross the
    // exchange, not per-key state), broadcast back, probe each user
    "q98_cms_heavy" -> ((s, dir) => {
      Graft.tune(s)
      Sketches.cmsHeavyHitters(t(s, dir, "events"), "user_id",
          depth = 4, width = 64, threshold = 75L)
        .select(col("user_id"), col("n_exact"), col("cms_estimate"))
    }),

    // out-of-vocabulary rate per doc against the min-count vocabulary
    // (q72's): the tokenizer-coverage gate of a training pipeline —
    // vocab is bounded → broadcast; docs with no tokens rate 0
    "q99_oov_rate" -> ((s, dir) => {
      Graft.tune(s)
      val docs = t(s, dir, "documents")
      val toks = docs.select(col("doc_id"),
        explode(TextAnalysis.tokens(col("text"))).as("_t"))
      val vocab = toks.groupBy("_t").agg(count(lit(1)).as("_f"))
        .filter(col("_f") >= 5).select(col("_t"), lit(1).as("_in"))
      val per = toks.join(broadcast(vocab), Seq("_t"), "left_outer")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("_in").isNull, 1L).otherwise(0L)).as("n_oov"))
      docs.select(col("doc_id"))
        .join(per, Seq("doc_id"), "left_outer")
        .select(col("doc_id"),
          coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
          coalesce(col("n_oov"), lit(0L)).as("n_oov"),
          when(col("n_tokens").isNull, 0.0)
            .otherwise(round(col("n_oov").cast(DoubleType) /
              col("n_tokens"), 6)).as("oov_rate"))
    }),

    // robust (median/MAD) outliers per event type — the heavy-tail-safe
    // sibling of q95: same data, median/MAD instead of mean/stddev
    "q100_mad_outliers" -> ((s, dir) => {
      Graft.tune(s)
      val ev = t(s, dir, "events").select(col("event_id"), col("event_type"),
        col("value"))
      Stats.madOutliers(ev, "event_type", "event_id", "value", z = 3.5)
    }),

    // ordered event-type trajectory per user (first 10 events): the
    // sequence-model input; WindowGroupLimit bounds the collected group
    "q101_event_paths" -> ((s, dir) => {
      Graft.tune(s)
      val ev = t(s, dir, "events").transform(Graft.withTs2)
      Sessions.eventPaths(ev, "user_id", "ts2", "event_id", "event_type",
        maxEvents = 10)
    }),

    // quantile normalization of quality scores WITHIN each language:
    // percent_rank calibrates scores across languages whose raw
    // distributions differ — the cross-lingual sampling-weight input.
    // The window sorts per language group: the honest cost of exact
    // ranks; ties share a rank so the output is engine-deterministic
    "q102_quality_calibrated" -> ((s, dir) => {
      Graft.tune(s)
      val docs = t(s, dir, "documents")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang")).orderBy(col("quality_score"))
      docs.select(col("doc_id"), col("lang"))
        .join(scoredDocs(docs).select(col("doc_id"), col("quality_score")),
          "doc_id")
        .withColumn("quality_pct", round(percent_rank().over(w), 6))
    }),

    // near-subset detection: containment |A∩B| / min(|A|,|B|) catches a
    // short doc quoted inside a long one, which jaccard's union term
    // dilutes — the quote/boilerplate-absorption curation signal
    "q103_containment_pairs" -> ((s, dir) => {
      Graft.tune(s)
      Dedup.containmentPairs(tp(s, dir, "documents"), "doc_id", "text",
        n = 3, threshold = 0.6, maxDocFreq = 100L)
    }),

    // temperature (α=0.3) multilingual rebalancing: the XLM-R/mT5
    // sampling scheme — α-smoothed shares induce per-language keep
    // rates (largest boost keeps 100%), deterministic md5 draw per doc
    "q104_temperature_sample" -> ((s, dir) => {
      Graft.tune(s)
      Corpus.temperatureSample(t(s, dir, "documents"), "doc_id", "lang",
        alpha = 0.3)
    }),

    // source-mixing weights against a uniform token target: the
    // mixture-table complement of q104 (token-level importance weights
    // rather than an α curve over doc counts); one corpus aggregation,
    // weights derive on the sources-sized frame
    "q125_mix_weights" -> ((s, dir) => {
      Graft.tune(s)
      Corpus.sourceMixWeights(t(s, dir, "documents"), "source", "text")
    }),

    // REAL image-container decode: each doc becomes a genuine PNG /
    // JPEG / GIF byte stream (full signature + header structure built
    // with doc_id-derived dimensions) or non-image bytes, and the
    // native graft_image_meta expression parses format, dimensions,
    // channels and bit depth back out of the bytes. The oracle
    // recomputes the same metadata from the construction arithmetic —
    // so a parser that didn't actually read the byte layout would
    // hash-mismatch. Garbage rows decode to NULL, never error.
    "q127_image_meta" -> ((s, dir) => {
      Graft.tune(s)
      import graft.operators.Multimodal
      val pngHead = lit(Array[Byte](0x89.toByte, 'P', 'N', 'G',
        0x0D, 0x0A, 0x1A, 0x0A, 0, 0, 0, 13, 'I', 'H', 'D', 'R'))
      val pngTail = lit(Array[Byte](0, 0, 0, // compression/filter/interlace
        0x12, 0x34, 0x56, 0x78, // CRC (unchecked by header decode)
        0, 0, 0, 0, 'I', 'E', 'N', 'D', 0xAE.toByte, 0x42, 0x60, 0x82.toByte))
      // SOI + full APP0/JFIF segment (exercises marker skipping) + SOF0
      val jpegHead = lit(Array[Byte](0xFF.toByte, 0xD8.toByte,
        0xFF.toByte, 0xE0.toByte, 0x00, 0x10,
        'J', 'F', 'I', 'F', 0x00, 0x01, 0x01, 0x00, 0x00, 0x01, 0x00,
        0x01, 0x00, 0x00,
        0xFF.toByte, 0xC0.toByte, 0x00, 0x11, 0x08))
      val jpegComps = lit(Array[Byte](0x03,
        0x01, 0x11, 0x00, 0x02, 0x11, 0x01, 0x03, 0x11, 0x01))
      val gifHead = lit("GIF89a".getBytes("ISO-8859-1"))
      val gifTail = lit(Array[Byte](0xF7.toByte, 0x00, 0x00))
      val id = col("doc_id")
      val content =
        when(id % 3 === 0, // PNG: depth 8, RGB for even ids / gray for odd
          concat(pngHead, be(id % 300 + 1, 8), be(id % 200 + 1, 8),
            lit(Array[Byte](8)),
            when(id % 2 === 0, lit(Array[Byte](2)))
              .otherwise(lit(Array[Byte](0))), pngTail))
        .when(id % 3 === 1, // JPEG: SOF0 carries height first, then width
          concat(jpegHead, be(id % 150 + 1, 4), be(id % 250 + 1, 4), jpegComps))
        .when(id % 6 === 2, // GIF: 16-bit LITTLE-endian screen descriptor
          concat(gifHead, le16(id % 500 + 1), le16(id % 400 + 1), gifTail))
        .otherwise(encode(concat(lit("txt:"), coalesce(col("text"), lit(""))),
          "UTF-8").cast(BinaryType))
      val media = t(s, dir, "documents").select(id.as("media_id"),
        lit("image").as("kind"), content.as("content"))
      Multimodal.imageMeta(media)
        .select(col("media_id"), col("format"), col("width"), col("height"),
          col("channels"), col("bit_depth"))
    }),

    // audio-container metadata: real WAV (RIFF chunk walk) and FLAC
    // (STREAMINFO bit unpacking) headers constructed in-plan from
    // deterministic arithmetic, decoded by the native graft_audio_meta
    // expression — the audio sibling of q127's image decode; the
    // oracle replays the construction arithmetic
    "q148_audio_meta" -> ((s, dir) => {
      Graft.tune(s)
      import graft.operators.Multimodal
      val id = col("doc_id")
      // WAV: ch = id%2+1, rate = (id%4+1)*11025, 16-bit PCM,
      // n_frames = id%1000+1
      val ch = id % 2 + 1
      val rate = (id % 4 + 1) * 11025
      val blockAlign = ch * 2
      val nFrames = id % 1000 + 1
      val dataSize = blockAlign * nFrames
      val wav = concat(asciiLit("RIFF"), le32(dataSize + 36), asciiLit("WAVE"),
        asciiLit("fmt "), le32(lit(16)), le16(lit(1)), le16(ch), le32(rate),
        le32(rate * blockAlign), le16(blockAlign), le16(lit(16)),
        asciiLit("data"), le32(dataSize))
      // FLAC: STREAMINFO with rate = (id%5+1)*8000, same ch, 16-bit,
      // total samples = id%5000+1; 34-byte body = 10 fixed + 8 packed
      // (20-bit rate | 3-bit ch-1 | 5-bit bits-1 | 36-bit total) + 16
      // zero md5 bytes
      val fRate = (id % 5 + 1) * 8000
      val fTotal = id % 5000 + 1
      val packed = shiftleft(fRate.cast(LongType), 44) +
        shiftleft((ch - 1).cast(LongType), 41) +
        shiftleft(lit(15L), 36) + fTotal.cast(LongType)
      val flac = concat(asciiLit("fLaC"),
        lit(Array[Byte](0x80.toByte, 0, 0, 34)),
        be(lit(4096), 4), be(lit(4096), 4), be(lit(0), 6), be(lit(0), 6),
        be(packed, 16), lit(Array.fill[Byte](16)(0)))
      val content = when(id % 3 === 0, wav)
        .when(id % 3 === 1, flac)
        .otherwise(encode(concat(lit("txt:"), coalesce(col("text"), lit(""))),
          "UTF-8").cast(BinaryType))
      val media = t(s, dir, "documents").select(id.as("media_id"),
        lit("audio").as("kind"), content.as("content"))
      Multimodal.audioMeta(media)
        .select(col("media_id"), col("format"), col("channels"),
          col("sample_rate"), col("bit_depth"), col("n_frames"))
    }),

    // COMPRESSED-audio metadata: genuine MP3 frame headers (MPEG-1
    // and MPEG-2 Layer III against the public ISO 11172-3 bitrate/
    // samplerate tables, optionally behind an ID3v2 tag with a
    // syncsafe size) and genuine OGG page walks (BOS identification
    // packet dispatching Vorbis vs Opus, final granule from the EOS
    // page) — constructed in-plan, decoded by the native
    // graft_audio_meta header walk. The oracle replays the table
    // lookups, the CBR frame-count estimate ((bytes ÷ frame length) ×
    // samples/frame, all integer) and the granule arithmetic
    // (granule − pre-skip for Opus per RFC 7845). id%9==5 docs are
    // text (triage: NULL meta)
    "q161_audio_meta_wide" -> ((s, dir) => {
      Graft.tune(s)
      import graft.operators.Multimodal
      def byte1(c: Column): Column = unhex(lpad(hex(c), 2, "0"))
      val id = col("doc_id")
      val grp = call_function("div", id, lit(4L))
      // ---- MP3, MPEG-1 Layer III: brIdx 1..14, srIdx 0..2, optional
      // ID3v2 tag of grp%64 body bytes, (grp%50+5)*100 filler bytes
      val brIdx = (grp % 14 + 1).cast(IntegerType)
      val srIdx = (grp % 3).cast(IntegerType)
      val fill = ((grp % 50 + 5) * 100).cast(IntegerType)
      val filler = unhex(repeat(lit("55"), fill))
      val h2 = byte1(shiftleft(brIdx, 4) + shiftleft(srIdx, 2))
      val stereo = grp % 2 === 0
      val h3 = when(stereo, lit(Array[Byte](0x40)))
        .otherwise(lit(Array[Byte](0xC0.toByte)))
      val id3 = when(grp % 3 === 0,
          concat(asciiLit("ID3"), lit(Array[Byte](4, 0, 0, 0, 0, 0)),
            byte1(grp % 64), unhex(repeat(lit("00"),
              (grp % 64).cast(IntegerType)))))
        .otherwise(lit(Array.emptyByteArray))
      val mp3v1 = concat(id3,
        lit(Array[Byte](0xFF.toByte, 0xFB.toByte)), h2, h3, filler)
      // ---- MP3, MPEG-2 Layer III mono (the low-rate table + 576 spf)
      val mp3v2 = concat(lit(Array[Byte](0xFF.toByte, 0xF3.toByte)),
        h2, lit(Array[Byte](0xC0.toByte)), filler)
      // ---- OGG pages: 27-byte header + 1-entry segment table
      def page(typ: Int, granule: Column, payload: Column,
          plen: Column): Column =
        concat(asciiLit("OggS"), lit(Array[Byte](0, typ.toByte)),
          le64(granule), le32(lit(7777)), le32(lit(0)), le32(lit(0)),
          lit(Array[Byte](1)), byte1(plen), payload)
      val oggCh = (grp % 2 + 1).cast(IntegerType)
      val vRate = ((grp % 5 + 1) * 8000).cast(IntegerType)
      val vFrames = (grp % 100000 + 1).cast(LongType)
      val vorbId = concat(lit(Array[Byte](1)), asciiLit("vorbis"),
        le32(lit(0)), byte1(oggCh), le32(vRate),
        unhex(repeat(lit("00"), lit(14))))
      val dataPayload = unhex(repeat(lit("09"), lit(10)))
      val oggVorbis = concat(page(2, lit(-1L), vorbId, lit(30)),
        page(4, vFrames, dataPayload, lit(10)))
      val preskip = (grp % 1000).cast(IntegerType)
      val oFrames = (grp % 50000 + 1).cast(LongType)
      val opusId = concat(asciiLit("OpusHead"), lit(Array[Byte](1)),
        byte1(oggCh), le16(preskip), le32(lit(12345)),
        unhex(repeat(lit("00"), lit(5))))
      val oggOpus = concat(page(2, lit(-1L), opusId, lit(21)),
        page(4, preskip.cast(LongType) + oFrames, dataPayload, lit(10)))
      val content = when(pmod(id, lit(9L)) === 5,
          encode(concat(lit("txt:"), coalesce(col("text"), lit(""))),
            "UTF-8").cast(BinaryType))
        .when(id % 4 === 0, mp3v1)
        .when(id % 4 === 1, mp3v2)
        .when(id % 4 === 2, oggVorbis)
        .otherwise(oggOpus)
      val media = t(s, dir, "documents").select(id.as("media_id"),
        lit("audio").as("kind"), content.as("content"))
      Multimodal.audioMeta(media)
        .select(col("media_id"), col("format"), col("channels"),
          col("sample_rate"), col("bit_depth"), col("n_frames"))
    }),

    // wide video-container metadata: genuine AVI MainAVIHeaders
    // (µs/frame, total frames, dims — constructed in-plan, oracle
    // replays the duration/fps arithmetic) and animated GIFs (frame
    // count × graphic-control delays through the block walk; built
    // by the GifBuild fixture encoder, oracle replays Σdelay·10).
    // Completes videoMeta's coverage of all three containers the
    // frame tier extracts. id%3==2 docs are text (triage: NULL meta)
    "q165_video_meta_wide" -> ((s, dir) => {
      Graft.tune(s)
      val id = col("doc_id")
      // AVI: µs/frame (10–59 ms), frames 1–500, dims from id
      val usf = ((id % 50 + 10) * 1000).cast(IntegerType)
      val nf = (id % 500 + 1).cast(IntegerType)
      val aw = (id % 320 + 16).cast(IntegerType)
      val ah = (id % 240 + 16).cast(IntegerType)
      val avihHex = concat(le32hex(usf), lit("00" * 12), le32hex(nf),
        lit("00" * 12), le32hex(aw), le32hex(ah), lit("00" * 16))
      val hdrlLen = lit(4 + 8 + 56)
      val aviHex = concat(lit(hexOf("RIFF")), le32hex(hdrlLen + 12),
        lit(hexOf("AVI ")), lit(hexOf("LIST")), le32hex(hdrlLen),
        lit(hexOf("hdrl")), lit(hexOf("avih")), le32hex(lit(56)), avihHex)
      // GIF: dims + frame count from id, delay 4 cs per frame
      val gifGen = udf { (idv: Long) =>
        val w = (idv % 40 + 2).toInt
        val h = (idv % 30 + 2).toInt
        val n = (idv % 5 + 1).toInt
        graft.expr.GifBuild.animated(w, h,
          Seq.fill(n)(Array.fill[Byte](w * h)(9)))
      }
      val content = when(id % 3 === 0, unhex(aviHex))
        .when(id % 3 === 1, gifGen(id))
        .otherwise(encode(concat(lit("txt:"), coalesce(col("text"), lit(""))),
          "UTF-8").cast(BinaryType))
      val m = call_function(graft.expr.VideoMeta.FunctionName, content)
      t(s, dir, "documents").select(id.as("media_id"),
        m.getField("format").as("format"),
        m.getField("width").as("width"),
        m.getField("height").as("height"),
        m.getField("duration_ms").as("duration_ms"),
        m.getField("timescale").as("timescale"))
    }),

    // animated-GIF frame decode end-to-end — the first REAL
    // inter-frame codec under the oracle gate: q157's frame-content
    // formula planted as gray-palette indices, encoded by the
    // deterministic GifBuild fixture encoder (the public
    // "uncompressed LZW" technique — a builder UDF, since LZW bit
    // packing is not expressible relationally), decoded through the
    // JDK's INDEPENDENT ImageIO LZW decoder inside graft_gif_frames,
    // composited to PPM frames, and pixel-decoded by the existing
    // tier. GIF is lossless, so the oracle replays the planted
    // formula exactly — a decode or compositing error anywhere in
    // the chain cannot reproduce the sums. id%9==5 docs are text
    // (triage: no rows)
    "q164_gif_video_stats" -> ((s, dir) => {
      Graft.tune(s)
      import graft.operators.Multimodal
      val gen = udf { (id: Long) =>
        val w = (id % 5 + 6).toInt
        val h = (id % 4 + 5).toInt
        val n = (id % 3 + 2).toInt
        graft.expr.GifBuild.animated(w, h, (0 until n).map(f =>
          Array.tabulate(w * h)(k =>
            ((id * 37 + f * 101 + k * 13) % 251).toByte)))
      }
      val id = col("doc_id")
      val content = when(pmod(id, lit(9L)) === 5,
          encode(concat(lit("txt:"), coalesce(col("text"), lit(""))),
            "UTF-8").cast(BinaryType))
        .otherwise(gen(id))
      val media = tp(s, dir, "documents")
        .select(id.as("media_id"), lit("video").as("kind"),
          content.as("content"))
      Multimodal.videoFrameStats(media, maxFrames = 8)
    }),

    // wide image-container metadata: genuine TIFF IFDs in BOTH byte
    // orders (inline left-justified SHORT values and full-field LONG
    // values per TIFF 6.0 §2), BMP BITMAPINFOHEADERs and netpbm
    // ASCII headers — constructed in-plan, decoded by the native
    // graft_image_meta dispatch. The oracle replays the dimension
    // arithmetic; a walk that misread the byte order, the
    // left-justification or the IFD entry stride cannot reproduce
    // the dims. id%9==5 docs are text (triage: NULL meta)
    "q163_image_meta_wide" -> ((s, dir) => {
      Graft.tune(s)
      def be16hex(c: Column): Column = lpad(hex(c), 4, "0")
      def be32hex(c: Column): Column = lpad(hex(c), 8, "0")
      def le16hex(c: Column): Column = {
        val h = lpad(hex(c), 4, "0")
        concat(substring(h, 3, 2), substring(h, 1, 2))
      }
      val id = col("doc_id")
      // TIFF little-endian: two inline-SHORT dim entries
      val w1 = (id % 500 + 1).cast(IntegerType)
      val h1 = (id % 300 + 1).cast(IntegerType)
      def leEntryShort(tag: Int, v: Column): Column =
        concat(le16hex(lit(tag)), le16hex(lit(3)), le32hex(lit(1)),
          le16hex(v), lit("0000"))
      val tiffLe = concat(lit(hexOf("II")), lit("2A00"), le32hex(lit(8)),
        le16hex(lit(2)), leEntryShort(256, w1), leEntryShort(257, h1),
        le32hex(lit(0)))
      // TIFF big-endian: LONG dims + an inline-SHORT BitsPerSample 16
      val w2 = (id % 700 + 2).cast(IntegerType)
      val h2 = (id % 400 + 2).cast(IntegerType)
      def beEntryLong(tag: Int, v: Column): Column =
        concat(be16hex(lit(tag)), be16hex(lit(4)), be32hex(lit(1)),
          be32hex(v))
      val tiffBe = concat(lit(hexOf("MM")), lit("002A"), be32hex(lit(8)),
        be16hex(lit(3)), beEntryLong(256, w2), beEntryLong(257, h2),
        concat(be16hex(lit(258)), be16hex(lit(3)), be32hex(lit(1)),
          be16hex(lit(16)), lit("0000")),
        be32hex(lit(0)))
      // BMP: 24bpp BITMAPINFOHEADER
      val w3 = (id % 400 + 1).cast(IntegerType)
      val h3 = (id % 200 + 1).cast(IntegerType)
      val bmp = concat(lit(hexOf("BM")), le32hex(lit(0)), le32hex(lit(0)),
        le32hex(lit(54)), le32hex(lit(40)), le32hex(w3), le32hex(h3),
        le16hex(lit(1)), le16hex(lit(24)), lit("00" * 8))
      val content = when(pmod(id, lit(9L)) === 5,
          encode(concat(lit("txt:"), coalesce(col("text"), lit(""))),
            "UTF-8").cast(BinaryType))
        .when(id % 4 === 0, unhex(tiffLe))
        .when(id % 4 === 1, unhex(tiffBe))
        .when(id % 4 === 2, unhex(bmp))
        .otherwise(concat(lit("P6\n"), (id % 100 + 1).cast(StringType),
          lit(" "), (id % 50 + 1).cast(StringType), lit("\n255\n"))
          .cast(BinaryType))
      val m = call_function(graft.expr.ImageMeta.FunctionName, content)
      t(s, dir, "documents").select(id.as("media_id"),
        m.getField("format").as("format"),
        m.getField("width").as("width"),
        m.getField("height").as("height"),
        m.getField("channels").as("channels"),
        m.getField("bit_depth").as("bit_depth"))
    }),

    // WARC ingestion end-to-end (the Common Crawl shape): genuine
    // ISO 28500 records — warcinfo + HTTP response with real
    // Content-Length framing — constructed in-plan, walked by the
    // native graft_warc_records extraction, HTTP payload split and
    // the HTML body reduced to text through the SHARED HtmlToText
    // chain. ASCII-only bodies keep Content-Length = char count so
    // the whole construction replays as plain string SQL. id%9==5
    // files are junk (triage: no rows)
    "q162_warc_html_docs" -> ((s, dir) => {
      Graft.tune(s)
      val id = col("doc_id")
      val body = concat(lit("<html><head><title>Doc "), id,
        lit("</title></head><body><h1>Doc "), id,
        lit("</h1><p>alpha beta gamma "), pmod(id, lit(7L)),
        lit(" delta</p></body></html>"))
      val http = concat(
        lit("HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n\r\n"),
        body)
      def record(headers: Column, payload: Column): Column =
        concat(lit("WARC/1.0\r\n"), headers,
          lit("Content-Length: "), length(payload), lit("\r\n\r\n"),
          payload, lit("\r\n\r\n"))
      val info = record(
        lit("WARC-Type: warcinfo\r\nWARC-Date: 2026-01-01T00:00:00Z\r\n"),
        lit("software: graft\r\n"))
      val resp = record(concat(
          lit("WARC-Type: response\r\nWARC-Target-URI: http://example.com/doc/"),
          id, lit("\r\nWARC-Date: 2026-01-01T00:00:00Z\r\n" +
            "Content-Type: application/http; msgtype=response\r\n")),
        http)
      val content = when(pmod(id, lit(9L)) === 5,
          lit("junk, not a warc").cast(BinaryType))
        .otherwise(concat(info, resp).cast(BinaryType))
      val files = tp(s, dir, "documents")
        .select(id.as("file_id"), content.as("content"))
      graft.operators.Warc.htmlDocuments(files)
    }),

    // video-container metadata: real MP4 (ISO BMFF) box trees —
    // ftyp + moov[mvhd + trak[tkhd]] — constructed in-plan and decoded
    // by the native graft_video_meta box walk; completes the
    // image/audio/video metadata triad. Oracle replays the arithmetic
    "q149_video_meta" -> ((s, dir) => {
      Graft.tune(s)
      import graft.operators.Multimodal
      def zeros(n: Int): Column = lit(Array.fill[Byte](n)(0))
      val id = col("doc_id")
      val ts = (id % 4 + 1) * 600
      val durUnits = (id % 300 + 1) * ts // duration_ms = (id%300+1)*1000
      val w = id % 1024 + 16
      val h = id % 768 + 16
      // mvhd v0: 8 hdr + 100 payload (ver/flags, ctime, mtime,
      // timescale@12, duration@16, 80 trailing bytes the walk skips)
      val mvhd = concat(be(lit(108), 8), asciiLit("mvhd"), zeros(12),
        be(ts, 8), be(durUnits, 8), zeros(80))
      // tkhd v0: 8 hdr + 84 payload (width@76, height@80 as 16.16)
      val tkhd = concat(be(lit(92), 8), asciiLit("tkhd"), zeros(76),
        be(w * 65536L, 8), be(h * 65536L, 8))
      val trak = concat(be(lit(100), 8), asciiLit("trak"), tkhd)
      val moov = concat(be(lit(216), 8), asciiLit("moov"), mvhd, trak)
      val ftyp = concat(be(lit(16), 8), asciiLit("ftyp"), asciiLit("isom"),
        zeros(4))
      val content = when(id % 3 === 0, concat(ftyp, moov))
        .otherwise(encode(concat(lit("txt:"), coalesce(col("text"), lit(""))),
          "UTF-8").cast(BinaryType))
      val media = t(s, dir, "documents").select(id.as("media_id"),
        lit("video").as("kind"), content.as("content"))
      Multimodal.videoMeta(media)
        .select(col("media_id"), col("format"), col("width"), col("height"),
          col("duration_ms"), col("timescale"))
    }),

    // REAL pixel decode end-to-end: each doc becomes a genuine PNG —
    // stored-deflate zlib stream with a REAL adler32 checksum,
    // scanlines filtered with types 0-3 (None/Sub/Up/Average) per the
    // PNG spec — or a binary PPM, all built in-plan from deterministic
    // arithmetic; the native graft_pixel_stats expression inflates,
    // unfilters and aggregates the pixels back out. The oracle replays
    // the pixel formula directly, so a decoder that didn't invert the
    // zlib framing AND the filter recursions cannot reproduce the
    // exact integer sums. (Paeth, palette, BMP and real-Deflater
    // streams are exercised in ExprConfigSpec.)
    "q150_pixel_stats" -> ((s, dir) => {
      Graft.tune(s)
      import graft.operators.Multimodal
      val fakeCrc = Array[Byte](0x12, 0x34, 0x56, 0x78)
      val id = col("doc_id")
      val m = id % 4
      val wC = (id % 13 + 4).cast(IntegerType)
      val hC = (id % 11 + 4).cast(IntegerType)
      val chC = when(m === 0, lit(1)).otherwise(lit(3))
      val stride = wC * chC
      def V(y: Column, j: Column): Column =
        pmod(id * 7 + y * 31 + j * 13, lit(256L))
      // filtered scanlines, f(y) = y%4: filt = raw − predictor (mod
      // 256), exactly the spec §9 forward direction the decoder undoes
      val rawValsExpr = flatten(transform(sequence(lit(0), hC - 1), y => {
        val f = pmod(y, lit(4))
        concat(array(f.cast(LongType)),
          transform(sequence(lit(0), stride - 1), j => {
            val v = V(y, j)
            val a = when(j >= chC, V(y, j - chC)).otherwise(lit(0L))
            val b = when(y > 0, V(y - 1, j)).otherwise(lit(0L))
            when(f === 0, v)
              .when(f === 1, pmod(v - a, lit(256L)))
              .when(f === 2, pmod(v - b, lit(256L)))
              .otherwise(pmod(v - floor((a + b) / 2).cast(LongType), lit(256L)))
          }))
      }))
      // r16: the scanline array feeds THREE consumers (bytes, adler32
      // s1, adler32 s2) — materialize it once per row through an
      // explode(array(...)) Generate barrier (computed only for the
      // PNG arms; the projection-collapse rules would otherwise inline
      // the whole nested-transform tree into each consumer)
      val withRv = tp(s, dir, "documents").select(id, col("text"),
        explode(array(when(m <= 1, rawValsExpr))).as("_rv"))
      val rawVals = col("_rv")
      val rawBytes = call_function(graft.expr.PackBytes.FunctionName,
        rawVals, lit(1), lit(0))
      val len = hC * (stride + 1)
      // real adler32 over the raw stream: s1 = 1+Σb, s2 = L+Σ(L−i)·b_i
      val s1 = pmod(aggregate(rawVals, lit(1L), (acc, x) => acc + x),
        lit(65521L))
      val s2 = pmod(aggregate(
        zip_with(rawVals, sequence(len.cast(LongType), lit(1L), lit(-1L)),
          (b, wgt) => b * wgt),
        len.cast(LongType), (acc, x) => acc + x), lit(65521L))
      // zlib: 0x78 0x01, one stored block (BFINAL|BTYPE=00), LEN/NLEN
      // little-endian, raw bytes, adler32 big-endian
      val zlib = concat(lit(Array[Byte](0x78, 0x01, 0x01)),
        le16(len), le16(lit(65535) - len), rawBytes,
        be(s2 * 65536L + s1, 8))
      val png = concat(
        lit(Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A,
          0, 0, 0, 13, 'I', 'H', 'D', 'R')),
        be(wC, 8), be(hC, 8), lit(Array[Byte](8)),
        when(m === 0, lit(Array[Byte](0))).otherwise(lit(Array[Byte](2))),
        lit(Array[Byte](0, 0, 0) ++ fakeCrc),
        be(len + 11, 8), lit("IDAT".getBytes("ISO-8859-1")), zlib,
        lit(fakeCrc),
        lit(Array[Byte](0, 0, 0, 0, 'I', 'E', 'N', 'D') ++ fakeCrc))
      // PPM: ASCII header + the same pixel stream unfiltered (ch = 3)
      val ppmHeader = encode(concat(lit("P6\n"), wC.cast(StringType),
        lit(" "), hC.cast(StringType), lit("\n255\n")), "UTF-8")
        .cast(BinaryType)
      val ppm = concat(ppmHeader, call_function(
        graft.expr.PackBytes.FunctionName,
        transform(sequence(lit(0), wC * hC * 3 - 1), k =>
          V((k / stride).cast(IntegerType), pmod(k, stride))),
        lit(1), lit(0)))
      val content = when(m <= 1, png)
        .when(m === 2, ppm)
        .otherwise(encode(concat(lit("txt:"), coalesce(col("text"), lit(""))),
          "UTF-8").cast(BinaryType))
      val media = withRv.select(id.as("media_id"),
        lit("image").as("kind"), content.as("content"))
      Multimodal.pixelStats(media)
        .select(col("media_id"), col("format"), col("width"), col("height"),
          col("channels"), col("n_pixels"), col("sum"), col("sumsq"),
          col("pmin"), col("pmax"), col("constant"), col("mean"),
          col("variance"))
    }),

    // perceptual grid signature over REAL decoded pixels: every doc
    // pair (group g = doc_id/2) becomes two PPM images from one pixel
    // formula, the variant copy perturbed by +4 on every 23rd channel
    // byte — a small L1 edit that leaves the aHash mostly intact.
    // graft_pixel_grid_sig decodes and aggregates the 9×7 block means
    // + 63-bit aHash; the oracle replays the construction arithmetic
    // per block, so a signature not derived from the actual decoded
    // pixels hash-mismatches
    "q152_pixel_grid_sig" -> ((s, dir) => {
      Graft.tune(s)
      import graft.operators.Multimodal
      val media = tp(s, dir, "documents")
        .select(col("doc_id").as("media_id"),
          ppmContent(col("doc_id"), col("text")).as("content"))
      Multimodal.imageSignatures(media, gx = 9, gy = 7)
        .select(col("media_id"), col("format"), col("width"), col("height"),
          col("sig"), col("ahash"), col("dhash"))
    }),

    // thumbnail near-dup pairs over the same constructed corpus: band
    // the 63-bit aHash 4×16 bits, candidates from band collisions
    // (posting-list expansion, no self-join), verify by total L1 over
    // the grid signatures — the planted variant pairs (2g, 2g+1) must
    // surface; the oracle replays banding + verification relationally.
    // The constructed corpus is deliberately self-similar (one pixel
    // formula family ⇒ clustered block means ⇒ ~283k band candidates
    // for ~2.1k true pairs at sf0.1) — an adversarial 130:1 stress of
    // the L1 verify stage that a diverse real corpus never reaches
    "q153_image_neardup" -> ((s, dir) => {
      Graft.tune(s)
      import graft.operators.Multimodal
      val media = tp(s, dir, "documents")
        .select(col("doc_id").as("media_id"),
          ppmContent(col("doc_id"), col("text")).as("content"))
      Multimodal.imageNearDup(media, gx = 9, gy = 7, maxL1 = 126L)
    }),

    // the dHash near-dup path over the same constructed corpus: band
    // the gradient-sign fingerprint over its 56 LIVE bits (4×14 — a
    // fixed 4×16 split leaves band 3 with 256 possible keys and goes
    // quadratic at corpus scale), verify by HAMMING distance
    // (bit_count of xor — integer-exact, oracle-replayable).
    // Complements q153's aHash+L1 pipeline: dhash survives uniform
    // brightness shifts that blow past any sig-L1 threshold (the
    // brightness-invariance case is spec-gated in ExprConfigSpec)
    "q155_image_neardup_dhash" -> ((s, dir) => {
      Graft.tune(s)
      import graft.operators.Multimodal
      val media = tp(s, dir, "documents")
        .select(col("doc_id").as("media_id"),
          ppmContent(col("doc_id"), col("text")).as("content"))
      Multimodal.imageNearDupDhash(media, gx = 9, gy = 7, maxHamming = 6)
    }),

    // perceptual AUDIO near-dup over real decoded PCM — the audio
    // member of the near-dup triad (text LSH / image grid-sig /
    // audio envelope-sig). Each doc PAIR (group g = doc_id/2) becomes
    // two genuine 16-bit mono WAVs built in-plan: the even member
    // carries samples (g*37 + k*7919) % 8191 − 4095, the odd member
    // the SAME samples at 2× gain — byte-different files whose
    // envelope gradient signs are identical, so every pair must
    // surface at hamming 0. g%13 groups are digital silence, which
    // the fingerprint NULLs at the source (no ehash-0 clique); the
    // oracle replays env windows (integer boundary rule), gradient
    // signs, 4×16 live-bit banding and Hamming relationally
    "q156_audio_neardup" -> ((s, dir) => {
      Graft.tune(s)
      import graft.operators.Multimodal
      val id = col("doc_id")
      val g = (id / 2).cast(LongType)
      val gain = when(pmod(id, lit(2L)) === 1, lit(2L)).otherwise(lit(1L))
      val n = (g % 32 + 64).cast(IntegerType) // frames; same for the pair
      // r16: 16-bit LE sample packing via graft_pack_bytes — same raw
      // values, one binary write instead of two lpad∘hex strings per
      // sample (byte-identical)
      val data = call_function(graft.expr.PackBytes.FunctionName,
        transform(sequence(lit(0), n - 1), k => {
          // silence groups: all-zero samples (the expression must NULL
          // them); others: gain*((g*37 + k*7919) % 8191 - 4095), well
          // inside 16-bit at 2x gain — no clipping, signs exact
          val v = when(pmod(g, lit(13L)) === 0, lit(0L))
            .otherwise(gain *
              (pmod(g * 37 + k.cast(LongType) * 7919, lit(8191L)) - 4095))
          pmod(v, lit(65536L)) // two's complement 16-bit
        }), lit(2), lit(0))
      val ds = (n * 2).cast(IntegerType)
      val wav = concat(asciiLit("RIFF"), le32(ds + 36), asciiLit("WAVE"),
        asciiLit("fmt "), le32(lit(16)), le16(lit(1)), le16(lit(1)),
        le32(lit(16000)), le32(lit(32000)), le16(lit(2)), le16(lit(16)),
        asciiLit("data"), le32(ds), data)
      val media = tp(s, dir, "documents")
        .select(id.as("media_id"), lit("audio").as("kind"),
          wav.as("content"))
      Multimodal.audioNearDup(media, nFrames = 64, maxHamming = 6)
    }),

    // REAL video frame extraction end-to-end: each doc becomes a
    // genuine RIFF/AVI container — LIST movi with n 00dc frame
    // chunks (word-aligned padding exercised whenever a frame's byte
    // count is odd), each frame a complete binary PPM from one
    // deterministic pixel formula — built in-plan; graft_avi_frames
    // walks the container, posexplode gives (media_id, frame_idx),
    // and the EXISTING pixel decode produces per-frame content stats.
    // The oracle replays the per-frame pixel arithmetic, so a walk
    // that misread chunk offsets, sizes or padding hands the decoder
    // wrong bytes and cannot reproduce the sums. id%9==5 docs are
    // text bytes (triage: no rows)
    "q157_video_frame_stats" -> ((s, dir) => {
      Graft.tune(s)
      import graft.operators.Multimodal
      val id = col("doc_id")
      val w = (id % 5 + 6).cast(IntegerType)
      val h = (id % 4 + 5).cast(IntegerType)
      val nFr = (id % 3 + 2).cast(IntegerType)
      val pixCount = w * h * 3
      val headerBin = encode(concat(lit("P6\n"), w.cast(StringType), lit(" "),
        h.cast(StringType), lit("\n255\n")), "UTF-8").cast(BinaryType)
      val headerHex = hex(headerBin)
      val frameSize = length(headerBin) + pixCount
      val pad = pmod(frameSize, lit(2))
      val chunksHex = array_join(
        transform(sequence(lit(0), nFr - 1), f => {
          // r16: per-pixel bytes packed natively, then one hex() —
          // identical string to the per-byte lpad∘hex join
          val pixHex = hex(call_function(graft.expr.PackBytes.FunctionName,
            transform(sequence(lit(0), pixCount - 1), k =>
              pmod(id * 37 + f.cast(LongType) * 101 +
                k.cast(LongType) * 13, lit(251L))), lit(1), lit(0)))
          concat(lit(hexOf("00dc")), le32hex(frameSize), headerHex, pixHex,
            when(pad === 1, lit("00")).otherwise(lit("")))
        }), "")
      val moviSize = lit(4) + nFr * (lit(8) + frameSize + pad)
      val riffSize = lit(12) + moviSize // "AVI " + LIST hdr + payload
      val avi = unhex(concat(lit(hexOf("RIFF")), le32hex(riffSize),
        lit(hexOf("AVI ")), lit(hexOf("LIST")), le32hex(moviSize),
        lit(hexOf("movi")), chunksHex))
      val content = when(pmod(id, lit(9L)) === 5,
          encode(concat(lit("txt:"), coalesce(col("text"), lit(""))),
            "UTF-8").cast(BinaryType))
        .otherwise(avi)
      val media = tp(s, dir, "documents")
        .select(id.as("media_id"), lit("video").as("kind"),
          content.as("content"))
      Multimodal.videoFrameStats(media, maxFrames = 8)
    }),

    // VideoDecoder seam end-to-end under the oracle gate: q157's
    // frame-content formula re-encoded in the synthetic GKEY/GDLT
    // INTER-FRAME format (frame 0 = keyframe carrying the full PPM,
    // frames 1+ = byte deltas vs the previous frame, mod 256), packed
    // in real AVI containers — the chunk walk extracts payloads no
    // pixel decoder can read, Multimodal.DeltaStubDecoder
    // reconstructs the PPMs through the videoFramesVia seam, and the
    // EXISTING pixel tier produces the stats. Because the delta
    // encode/decode round-trips exactly (byte arithmetic mod 256),
    // the decoded ground truth is q157's pixel formula — the oracle
    // replays it, plus the NULL rows of the foreign-codec docs
    // (id%7==3: payloads with no keyframe → the decoder NULLs every
    // frame WITH its index, the seam's NULL-propagation contract
    // under the hash gate). id%9==5 docs are text (triage: no rows)
    "q160_video_decoder_stats" -> ((s, dir) => {
      Graft.tune(s)
      import graft.operators.Multimodal
      val id = col("doc_id")
      val w = (id % 5 + 6).cast(IntegerType)
      val h = (id % 4 + 5).cast(IntegerType)
      val nFr = (id % 3 + 2).cast(IntegerType)
      val pixCount = w * h * 3
      val headerBin = encode(concat(lit("P6\n"), w.cast(StringType), lit(" "),
        h.cast(StringType), lit("\n255\n")), "UTF-8").cast(BinaryType)
      val headerHex = hex(headerBin)
      def pix(f: Column, k: Column): Column =
        pmod(id * 37 + f.cast(LongType) * 101 + k.cast(LongType) * 13,
          lit(251L))
      // payloads are uniform size: 4-byte tag + headerLen + pixCount
      val payloadSize = lit(4) + length(headerBin) + pixCount
      val pad = pmod(payloadSize, lit(2))
      val chunksHex = array_join(
        transform(sequence(lit(0), nFr - 1), f => {
          // r16: per-pixel bytes packed natively, then one hex() —
          // identical strings to the per-byte lpad∘hex joins
          val body = when(f === 0,
            // keyframe: GKEY + the complete PPM
            concat(lit(hexOf("GKEY")), headerHex,
              hex(call_function(graft.expr.PackBytes.FunctionName,
                transform(sequence(lit(0), pixCount - 1), k => pix(f, k)),
                lit(1), lit(0)))))
            .otherwise(
              // delta: GDLT + zero bytes over the header region +
              // per-byte pixel deltas vs the previous frame (mod 256)
              concat(lit(hexOf("GDLT")),
                repeat(lit("00"), length(headerBin)),
                hex(call_function(graft.expr.PackBytes.FunctionName,
                  transform(sequence(lit(0), pixCount - 1), k =>
                    pmod(pix(f, k) - pix(f - 1, k), lit(256L))),
                  lit(1), lit(0)))))
          concat(lit(hexOf("00dc")), le32hex(payloadSize), body,
            when(pad === 1, lit("00")).otherwise(lit("")))
        }), "")
      // foreign-codec clip: same frame count, 8-byte XCDC payloads
      // the stub decoder cannot decode (no keyframe → all NULL)
      val foreignChunksHex = array_join(
        transform(sequence(lit(0), nFr - 1), _ =>
          concat(lit(hexOf("00dc")), le32hex(lit(8)),
            lit(hexOf("XCDC")), lit("00000000"))), "")
      val isForeign = pmod(id, lit(7L)) === 3
      val bodyHex = when(isForeign, foreignChunksHex).otherwise(chunksHex)
      val moviSize = lit(4) +
        when(isForeign, nFr * lit(16))
          .otherwise(nFr * (lit(8) + payloadSize + pad))
      val avi = unhex(concat(lit(hexOf("RIFF")), le32hex(lit(12) + moviSize),
        lit(hexOf("AVI ")), lit(hexOf("LIST")), le32hex(moviSize),
        lit(hexOf("movi")), bodyHex))
      val content = when(pmod(id, lit(9L)) === 5,
          encode(concat(lit("txt:"), coalesce(col("text"), lit(""))),
            "UTF-8").cast(BinaryType))
        .otherwise(avi)
      val media = tp(s, dir, "documents")
        .select(id.as("media_id"), lit("video").as("kind"),
          content.as("content"))
      Multimodal.videoFrameStatsOf(
        Multimodal.videoFramesVia(media, new Multimodal.DeltaStubDecoder,
          maxFrames = 8))
    }),

    // MP4 (ISO BMFF) frame extraction end-to-end: q157's corpus with
    // the CONTAINER dispatched by parity — even ids build RIFF/AVI
    // movi chunks, odd ids build a genuine MP4 (ftyp + mdat holding
    // the raw PPM samples + moov/trak/mdia/hdlr(vide)/minf/stbl with
    // real fixed-size stsz, single-run stsc and an absolute stco
    // chunk offset into mdat) — all in-plan. Frame CONTENT follows
    // one formula, so ONE oracle replays both halves: a sample-table
    // walk that misread stsz/stsc/stco arithmetic hands the pixel
    // decoder wrong bytes and cannot reproduce the sums. id%9==5
    // docs are text (triage: no rows)
    "q159_video_mp4_stats" -> ((s, dir) => {
      Graft.tune(s)
      import graft.operators.Multimodal
      def be32hex(c: Column): Column = lpad(hex(c), 8, "0")
      val id = col("doc_id")
      val w = (id % 5 + 6).cast(IntegerType)
      val h = (id % 4 + 5).cast(IntegerType)
      val nFr = (id % 3 + 2).cast(IntegerType)
      val pixCount = w * h * 3
      val headerBin = encode(concat(lit("P6\n"), w.cast(StringType), lit(" "),
        h.cast(StringType), lit("\n255\n")), "UTF-8").cast(BinaryType)
      val headerHex = hex(headerBin)
      val frameSize = length(headerBin) + pixCount
      // r16: per-pixel bytes packed natively, then one hex() —
      // identical string to the per-byte lpad∘hex join
      def pixHex(f: Column): Column =
        hex(call_function(graft.expr.PackBytes.FunctionName,
          transform(sequence(lit(0), pixCount - 1), k =>
            pmod(id * 37 + f.cast(LongType) * 101 +
              k.cast(LongType) * 13, lit(251L))), lit(1), lit(0)))
      // --- AVI half (q157's construction)
      val pad = pmod(frameSize, lit(2))
      val chunksHex = array_join(
        transform(sequence(lit(0), nFr - 1), f =>
          concat(lit(hexOf("00dc")), le32hex(frameSize), headerHex,
            pixHex(f), when(pad === 1, lit("00")).otherwise(lit("")))), "")
      val moviSize = lit(4) + nFr * (lit(8) + frameSize + pad)
      val avi = unhex(concat(lit(hexOf("RIFF")), le32hex(lit(12) + moviSize),
        lit(hexOf("AVI ")), lit(hexOf("LIST")), le32hex(moviSize),
        lit(hexOf("movi")), chunksHex))
      // --- MP4 half: ftyp(16) + mdat(8 + nFr*frameSize) + moov(140)
      val framesHex = array_join(
        transform(sequence(lit(0), nFr - 1), f =>
          concat(headerHex, pixHex(f))), "")
      val mdatHex = concat(be32hex(lit(8) + nFr * frameSize),
        lit(hexOf("mdat")), framesHex)
      // hdlr box (32 B): ver/flags + pre_defined + 'vide' + 12 reserved
      val hdlrHex = concat(be32hex(lit(32)),
        lit(hexOf("hdlr") + "00000000" + "00000000" + hexOf("vide") +
          "00" * 12))
      val stszHex = concat(be32hex(lit(20)), lit(hexOf("stsz") + "00000000"),
        be32hex(frameSize), be32hex(nFr))
      val stscHex = concat(be32hex(lit(28)), lit(hexOf("stsc") + "00000000"),
        be32hex(lit(1)), be32hex(lit(1)), be32hex(nFr), be32hex(lit(1)))
      val stcoHex = concat(be32hex(lit(20)), lit(hexOf("stco") + "00000000"),
        be32hex(lit(1)), be32hex(lit(24))) // mdat payload starts at 24
      val stblHex = concat(be32hex(lit(76)), lit(hexOf("stbl")),
        stszHex, stscHex, stcoHex)
      val minfHex = concat(be32hex(lit(84)), lit(hexOf("minf")), stblHex)
      val mdiaHex = concat(be32hex(lit(124)), lit(hexOf("mdia")),
        hdlrHex, minfHex)
      val trakHex = concat(be32hex(lit(132)), lit(hexOf("trak")), mdiaHex)
      val moovHex = concat(be32hex(lit(140)), lit(hexOf("moov")), trakHex)
      val ftypHex = concat(be32hex(lit(16)),
        lit(hexOf("ftypisom") + "00000000"))
      val mp4 = unhex(concat(ftypHex, mdatHex, moovHex))
      val content = when(pmod(id, lit(9L)) === 5,
          encode(concat(lit("txt:"), coalesce(col("text"), lit(""))),
            "UTF-8").cast(BinaryType))
        .when(pmod(id, lit(2L)) === 0, avi)
        .otherwise(mp4)
      val media = tp(s, dir, "documents")
        .select(id.as("media_id"), lit("video").as("kind"),
          content.as("content"))
      Multimodal.videoFrameStats(media, maxFrames = 8)
    }),

    // Perceptual VIDEO near-dup end-to-end, completing the triad: doc
    // pairs (2g, 2g+1) become two AVI encodes of one clip — same
    // constant-color 8x6 PPM frame sequence, the odd variant uniformly
    // +16 brighter (no clamp: values stay <= 221) — so their temporal
    // luminance profiles differ everywhere byte-wise yet share every
    // window-gradient sign; the thash pairs them at Hamming 0.
    // g%13==0 docs are CONSTANT clips (every frame one value) — the
    // degenerate class the all-equal-envelope rule must drop; id%37==3
    // docs are text bytes (triage: no frames). Frame counts 36..64 all
    // exceed nWin=32, so W=32, live bits 31 -> 2 bands of 16 bits
    // (the key-space floor rule).
    // The oracle replays frame means -> window means (integer div) ->
    // gradient thash -> banding -> Hamming relationally
    "q158_video_neardup" -> ((s, dir) => {
      Graft.tune(s)
      import graft.operators.Multimodal
      val id = col("doc_id")
      val g = (id / 2).cast(LongType)
      val variant = pmod(id, lit(2L))
      val nFr = (pmod(g, lit(29L)) + 36).cast(IntegerType)
      // 8x6 P6 frame, header "P6\n8 6\n255\n" = 11 bytes, 144 pixel
      // bytes -> frameSize 155 (odd: every chunk exercises RIFF pad)
      val headerHex = hexOf("P6\n8 6\n255\n")
      val frameSize = 155
      val chunksHex = array_join(
        transform(sequence(lit(0), nFr - 1), f => {
          val fe = when(pmod(g, lit(13L)) === 0, lit(0L))
            .otherwise(f.cast(LongType))
          val v = pmod(g * 53 + fe * 97 + fe * fe * 31, lit(180L)) +
            10 + variant * 16
          concat(lit(hexOf("00dc")), le32hex(lit(frameSize)),
            lit(headerHex), repeat(lpad(hex(v), 2, "0"), 144), lit("00"))
        }), "")
      val moviSize = lit(4) + nFr * (8 + frameSize + 1)
      val riffSize = lit(12) + moviSize
      val avi = unhex(concat(lit(hexOf("RIFF")), le32hex(riffSize),
        lit(hexOf("AVI ")), lit(hexOf("LIST")), le32hex(moviSize),
        lit(hexOf("movi")), chunksHex))
      val content = when(pmod(id, lit(37L)) === 3,
          encode(concat(lit("txt:"), coalesce(col("text"), lit(""))),
            "UTF-8").cast(BinaryType))
        .otherwise(avi)
      val media = tp(s, dir, "documents")
        .select(id.as("media_id"), lit("video").as("kind"),
          content.as("content"))
      Multimodal.videoNearDup(media, nWin = 32, maxFrames = 64,
        maxHamming = 4)
    }),

    // REAL audio sample decode end-to-end (the q150 pattern for
    // audio): each doc becomes a genuine WAV — 16-bit signed LE PCM
    // (mono/stereo) or 8-bit unsigned mono — with samples from one
    // deterministic formula, built in-plan; graft_audio_stats walks
    // the chunks and re-aggregates the samples as exact integers
    // (sums, per-channel sumsq/peak, clipping counts, silence flag —
    // id%11 docs are planted all-zero), and the oracle replays the
    // sample arithmetic, so a decoder that didn't read the actual PCM
    // bytes at the right width/signedness cannot reproduce the sums
    "q154_audio_stats" -> ((s, dir) => {
      Graft.tune(s)
      import graft.operators.Multimodal
      val id = col("doc_id")
      val m = id % 3
      // 16-bit PCM: ch = id%2+1, rate = (id%4+1)*8000, frames =
      // id%40+5; sample k raw = (id*31 + k*7919) % 65536 (signed via
      // two's complement), except id%11 docs: all-zero (silence)
      val ch16 = id % 2 + 1
      val rate16 = (id % 4 + 1) * 8000
      val n16 = id % 40 + 5
      val ba16 = ch16 * 2
      val ds16 = ba16 * n16
      // r16: 16-bit LE packing via graft_pack_bytes (byte-identical)
      val data16 = call_function(graft.expr.PackBytes.FunctionName,
        transform(sequence(lit(0), (n16 * ch16 - 1).cast(IntegerType)), k =>
          when(pmod(id, lit(11L)) === 0, lit(0L))
            .otherwise(pmod(id * 31 + k.cast(LongType) * 7919, lit(65536L)))),
        lit(2), lit(0))
      val wav16 = concat(asciiLit("RIFF"), le32(ds16 + 36), asciiLit("WAVE"),
        asciiLit("fmt "), le32(lit(16)), le16(lit(1)), le16(ch16), le32(rate16),
        le32(rate16 * ba16), le16(ba16), le16(lit(16)),
        asciiLit("data"), le32(ds16), data16)
      // 8-bit unsigned mono: rate = (id%3+1)*11025, frames = id%60+10;
      // byte k = (id*13 + k*101) % 256 (recentered by -128 at decode)
      val rate8 = (id % 3 + 1) * 11025
      val n8 = id % 60 + 10
      val data8 = call_function(graft.expr.PackBytes.FunctionName,
        transform(sequence(lit(0), (n8 - 1).cast(IntegerType)), k =>
          pmod(id * 13 + k.cast(LongType) * 101, lit(256L))),
        lit(1), lit(0))
      val wav8 = concat(asciiLit("RIFF"), le32(n8 + 36), asciiLit("WAVE"),
        asciiLit("fmt "), le32(lit(16)), le16(lit(1)), le16(lit(1)),
        le32(rate8), le32(rate8), le16(lit(1)), le16(lit(8)),
        asciiLit("data"), le32(n8), data8)
      val content = when(m === 0, wav16)
        .when(m === 1, wav8)
        .otherwise(encode(concat(lit("txt:"), coalesce(col("text"), lit(""))),
          "UTF-8").cast(BinaryType))
      val media = tp(s, dir, "documents").select(id.as("media_id"),
        lit("audio").as("kind"), content.as("content"))
      Multimodal.audioStats(media)
        .select(col("media_id"), col("format"), col("channels"),
          col("sample_rate"), col("bit_depth"), col("n_frames"),
          col("n_samples"), col("sum"), col("sumsq"), col("peak"),
          col("n_clipped"), col("silent"), col("rms"), col("clip_rate"),
          col("ch_sumsq"), col("ch_peak"))
    }),

    // AudioDecoder seam end-to-end under the oracle gate — q160's
    // pattern for audio: each doc becomes a synthetic-lossy GAUD clip
    // (8-bit signed quantized samples + rate) that no native walk
    // reads; Multimodal.LossyStubDecoder re-expands it to PCM16 WAV
    // through the audioSamplesVia seam and the EXISTING AudioStats
    // tier produces the stats. The 16→8→16 quantization is exact
    // arithmetic (sample = signed byte << 8), so the oracle replays
    // the formula; id%11 docs are planted silence; m=1 docs carry a
    // foreign-codec payload and m=2 docs text — both must keep their
    // rows with NULL stats (the seam's NULL-propagation contract
    // under the hash gate)
    "q178_audio_decoder_stats" -> ((s, dir) => {
      Graft.tune(s)
      import graft.operators.Multimodal
      val id = col("doc_id")
      val m = id % 3
      val rate = ((id % 4 + 1) * 8000).cast(IntegerType)
      val n = (id % 50 + 5).cast(IntegerType)
      val data = call_function(graft.expr.PackBytes.FunctionName,
        transform(sequence(lit(0), n - 1), k =>
          when(pmod(id, lit(11L)) === 0, lit(0L))
            .otherwise(pmod(id * 31 + k.cast(LongType) * 7919, lit(256L)))),
        lit(1), lit(0))
      val gaud = concat(asciiLit("GAUD"), le32(rate), data)
      val foreign = concat(asciiLit("MPGA"),
        encode(id.cast(StringType), "UTF-8").cast(BinaryType))
      val content = when(m === 0, gaud)
        .when(m === 1, foreign)
        .otherwise(encode(concat(lit("txt:"), coalesce(col("text"), lit(""))),
          "UTF-8").cast(BinaryType))
      val media = tp(s, dir, "documents").select(id.as("media_id"),
        lit("audio").as("kind"), content.as("content"))
      Multimodal.audioStatsVia(media, new Multimodal.LossyStubDecoder)
        .select(col("media_id"), col("n_bytes"), col("format"),
          col("channels"), col("sample_rate"), col("bit_depth"),
          col("n_frames"), col("n_samples"), col("sum"), col("sumsq"),
          col("peak"), col("n_clipped"), col("silent"), col("rms"),
          col("clip_rate"), col("ch_sumsq"), col("ch_peak"))
    }),

    // Crawl → DOCUMENT extraction composition (q174's sibling for
    // binary bodies): a crawl's PDFs arrive as application/pdf HTTP
    // responses inside WARC files — records walk → graft_http_body
    // (binary body split, no charset machinery) → content-type route
    // → distributed PdfText, ONE relational plan. Each archive also
    // carries a text/html response the content-type filter must drop.
    // The oracle replays the PDF construction (q176's raw arm).
    "q180_crawl_documents" -> ((s, dir) => {
      Graft.tune(s)
      import graft.operators.Warc
      def bin(c: Column): Column = encode(c, "ISO-8859-1")
      val id = col("doc_id")
      val safe = substring(
        regexp_replace(regexp_replace(regexp_replace(
          coalesce(col("text"), lit("")),
          "[^ -~]", " "), "[()\\\\]", " "), "stream|endobj|beginbf", " "),
        1, 80)
      val pdf = concat(
        asciiLit("%PDF-1.4\n4 0 obj << /Length 0 >>\nstream\nBT (Doc "),
        bin(safe),
        asciiLit(") Tj 0 -14 Td (page "), bin(id.cast(StringType)),
        asciiLit(") Tj ET\nendstream\nendobj\n%%EOF\n"))
      val httpPdf = concat(
        asciiLit("HTTP/1.1 200 OK\r\nContent-Type: application/pdf\r\n\r\n"),
        pdf)
      val httpHtml = asciiLit("HTTP/1.1 200 OK\r\nContent-Type: text/html" +
        "\r\n\r\n<p>markup the pdf route must drop</p>")
      def rec(uri: Column, http: Column): Column = concat(
        asciiLit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: "),
        bin(uri),
        asciiLit("\r\nContent-Type: application/http; msgtype=response" +
          "\r\nContent-Length: "),
        bin(length(http).cast(StringType)), asciiLit("\r\n\r\n"),
        http, asciiLit("\r\n\r\n"))
      val warc = concat(
        rec(concat(lit("http://example.com/doc/"), id.cast(StringType)),
          httpPdf),
        rec(concat(lit("http://example.com/page/"), id.cast(StringType)),
          httpHtml))
      val files = tp(s, dir, "documents")
        .select(id.as("file_id"), warc.as("content"))
      Warc.binaryDocuments(files, contentTypes = Seq("application/pdf"))
        .select(col("file_id"), col("url"), col("http_status"),
          col("http_content_type").as("content_type"),
          substring(call_function(graft.expr.PdfText.FunctionName,
            col("body")), 1, 160).as("pdf_text"))
    }),

    // Exif orientation over binary columns: the rotation flag that
    // makes two uploads of one photo perceptually different — a
    // curation pipeline groups on (signature, orientation-normalized)
    // or routes rotated candidates to a transform stage. Three
    // decode arms (JPEG APP1 little-endian, JPEG APP1 big-endian,
    // bare TIFF) + a no-Exif arm that must NULL; the oracle replays
    // the construction
    "q182_exif_orientation" -> ((s, dir) => {
      Graft.tune(s)
      val id = col("doc_id")
      val m = id % 4
      val vv = lpad(hex(id % 8 + 1), 2, "0")
      val jpegLe = concat(lit("FFD8" + "FFE10022" + "457869660000" +
        "49492A00" + "08000000" + "0100" + "1201" + "0300" + "01000000"),
        vv, lit("000000" + "00000000" + "FFD9"))
      val jpegBe = concat(lit("FFD8" + "FFE10022" + "457869660000" +
        "4D4D002A" + "00000008" + "0001" + "0112" + "0003" + "00000001" +
        "00"), vv, lit("0000" + "00000000" + "FFD9"))
      val tiffLe = concat(lit("49492A00" + "08000000" + "0100" + "1201" +
        "0300" + "01000000"), vv, lit("000000" + "00000000"))
      val none = lit("FFD8" + "FFE00010" +
        "4A46494600010100000100010000" + "FFD9")
      val content = unhex(when(m === 0, jpegLe).when(m === 1, jpegBe)
        .when(m === 2, tiffLe).otherwise(none))
      tp(s, dir, "documents").select(id.as("media_id"),
        call_function(graft.expr.ExifOrientation.FunctionName, content)
          .as("orientation"))
    }),

    // REAL JPEG decode under the ORACLE gate (q150's pattern for the
    // lossy format): lossy pixel values are normally the codec's, not
    // a formula's — but DC-ONLY blocks are: with a crafted one-code
    // Huffman table each block is exactly one byte (DC category-4
    // code '00' + 4 diff bits + EOB '00'), and a DC-only block IDCTs
    // to the flat value 128 + dc·q/8 EXACTLY in every conforming
    // decoder. Each doc becomes a bw×bh-block grayscale baseline
    // JPEG built in-plan; the oracle replays the marker arithmetic
    // (cumulative DC diffs → flat block values → channel-replicated
    // stats). A decoder that misreads the Huffman table, the EXTEND
    // sign rule, dequantization or the MCU raster order cannot
    // reproduce the sums.
    "q179_jpeg_decode" -> ((s, dir) => {
      Graft.tune(s)
      val id = col("doc_id")
      val bw = (id % 3 + 1).cast(IntegerType)
      val bh = (id % 2 + 1).cast(IntegerType)
      val n = bw * bh
      // block k's category-4 DC diff: even k positive (v4 in [8,15]),
      // odd k negative (v4 in [0,7] → v4 - 15)
      def v4(k: Column): Column =
        when(pmod(k, lit(2)) === 0, pmod(id * 7 + k.cast(LongType) * 3,
          lit(8L)) + 8)
          .otherwise(pmod(id * 5 + k.cast(LongType), lit(8L)))
      val entropyHex = array_join(
        transform(sequence(lit(0), n - 1), k =>
          lpad(hex(v4(k) * 4), 2, "0")), "")
      val jpegHex = concat(
        lit("FFD8"), // SOI
        lit("FFDB0043" + "00" + "10" * 64), // DQT: all-16 table 0
        lit("FFC0000B08"), be16(bh * 8), be16(bw * 8),
        lit("010111" + "00"), // 1 comp, 1x1 sampling, table 0
        lit("FFC40014" + "00" + "0001" + "00" * 14 + "04"), // DC: cat 4
        lit("FFC40014" + "10" + "0001" + "00" * 14 + "00"), // AC: EOB
        lit("FFDA0008" + "01" + "0100" + "00" + "3F" + "00"), // SOS
        entropyHex,
        lit("FFD9")) // EOI
      val m = call_function(graft.expr.PixelStats.FunctionName,
        unhex(jpegHex))
      tp(s, dir, "documents").select(id.as("media_id"), m.as("_m"))
        .select(col("media_id"),
          col("_m.format").as("format"), col("_m.width").as("width"),
          col("_m.height").as("height"), col("_m.channels").as("channels"),
          col("_m.n_pixels").as("n_pixels"), col("_m.sum").as("sum"),
          col("_m.sumsq").as("sumsq"), col("_m.pmin").as("pmin"),
          col("_m.pmax").as("pmax"), col("_m.constant").as("constant"))
    }),

    // REAL compressed-audio decode (q154's codec/width tier): G.711
    // μ-law / A-law per-byte expansion, the IMA ADPCM block state
    // machine and the 24/32-bit PCM top-two-byte reads all decode
    // natively with exact-integer outputs, so the oracle replays the
    // byte-construction formulas through the SAME public codec
    // arithmetic — the A-law/μ-law segment expansion inline, the
    // ADPCM predictor walk as a recursive CTE over the step table,
    // the wide-PCM arms as plain signed 16-bit reads of the top half
    "q166_audio_codec_stats" -> ((s, dir) => {
      Graft.tune(s)
      import graft.operators.Multimodal
      val id = col("doc_id")
      val m = id % 5
      // μ-law mono: rate (id%4+1)*8000, n = id%50+8, byte k =
      // (id*17 + k*131) % 256
      val rateU = (id % 4 + 1) * 8000
      val nU = id % 50 + 8
      val dataU = array_join(
        transform(sequence(lit(0), (nU - 1).cast(IntegerType)), k =>
          byteHex(pmod(id * 17 + k.cast(LongType) * 131, lit(256L)))), "")
      val wavU = concat(asciiLit("RIFF"), le32(nU + 36), asciiLit("WAVE"),
        asciiLit("fmt "), le32(lit(16)), le16(lit(7)), le16(lit(1)),
        le32(rateU), le32(rateU), le16(lit(1)), le16(lit(8)),
        asciiLit("data"), le32(nU), unhex(dataU))
      // A-law stereo: rate 8000, frames n = id%40+6, byte k over 2n =
      // (id*23 + k*89) % 256
      val nA = id % 40 + 6
      val dataA = array_join(
        transform(sequence(lit(0), (nA * 2 - 1).cast(IntegerType)), k =>
          byteHex(pmod(id * 23 + k.cast(LongType) * 89, lit(256L)))), "")
      val wavA = concat(asciiLit("RIFF"), le32(nA * 2 + 36), asciiLit("WAVE"),
        asciiLit("fmt "), le32(lit(16)), le16(lit(6)), le16(lit(2)),
        le32(lit(8000)), le32(lit(16000)), le16(lit(2)), le16(lit(8)),
        asciiLit("data"), le32(nA * 2), unhex(dataA))
      // IMA ADPCM mono: blockAlign 12 (8 data bytes = 16 nibbles,
      // spb 17), blocks = id%2+1; block b: pred = s16((id*47 +
      // b*1009) % 65536), index = (id + b*37) % 89, nibble j =
      // (id*7 + b*11 + j*3) % 16, packed low-nibble-first
      val nBlk = (id % 2 + 1).cast(IntegerType)
      val blockHex = transform(sequence(lit(0), nBlk - 1), b => {
        val bl = b.cast(LongType)
        val p = pmod(id * 47 + bl * 1009, lit(65536L))
        val predHex = concat(byteHex(pmod(p, lit(256L))),
          byteHex(shiftright(p.cast(IntegerType), 8)))
        val idxHex = concat(byteHex(pmod(id + bl * 37, lit(89L))), lit("00"))
        val dataHex = array_join(
          transform(sequence(lit(0), lit(7)), t => {
            val tl = t.cast(LongType)
            val lo = pmod(id * 7 + bl * 11 + tl * 2 * 3, lit(16L))
            val hi = pmod(id * 7 + bl * 11 + (tl * 2 + 1) * 3, lit(16L))
            byteHex(lo + hi * 16)
          }), "")
        concat(predHex, idxHex, dataHex)
      })
      val imaBytes = nBlk * 12
      val wavI = concat(asciiLit("RIFF"), le32(imaBytes + 40), asciiLit("WAVE"),
        asciiLit("fmt "), le32(lit(20)), le16(lit(17)), le16(lit(1)),
        le32(lit(22050)), le32(lit(11025)), le16(lit(12)), le16(lit(4)),
        le16(lit(2)), le16(lit(17)),
        asciiLit("data"), le32(imaBytes), unhex(array_join(blockHex, "")))
      // 24-bit PCM mono: the stats read each sample's TOP TWO bytes,
      // so the oracle replays only t_k = (id*29 + k*4099) % 65536
      // (signed) — the low byte (id*5 + k*13) % 256 must not matter
      val n24 = id % 30 + 4
      val data24 = array_join(
        transform(sequence(lit(0), (n24 - 1).cast(IntegerType)), k => {
          val kl = k.cast(LongType)
          val t = pmod(id * 29 + kl * 4099, lit(65536L))
          concat(byteHex(pmod(id * 5 + kl * 13, lit(256L))),
            byteHex(pmod(t, lit(256L))),
            byteHex(shiftright(t.cast(IntegerType), 8)))
        }), "")
      val wav24 = concat(asciiLit("RIFF"), le32(n24 * 3 + 36), asciiLit("WAVE"),
        asciiLit("fmt "), le32(lit(16)), le16(lit(1)), le16(lit(1)),
        le32(lit(16000)), le32(lit(48000)), le16(lit(3)), le16(lit(24)),
        asciiLit("data"), le32(n24 * 3), unhex(data24))
      // 32-bit PCM stereo: sample s over 2n, low half (id*3 + s*17)
      // % 65536 ignored, top half t_s = (id*41 + s*257) % 65536 signed
      val n32 = id % 20 + 3
      val data32 = array_join(
        transform(sequence(lit(0), (n32 * 2 - 1).cast(IntegerType)), sIdx => {
          val sl = sIdx.cast(LongType)
          val lo = pmod(id * 3 + sl * 17, lit(65536L))
          val t = pmod(id * 41 + sl * 257, lit(65536L))
          concat(byteHex(pmod(lo, lit(256L))),
            byteHex(shiftright(lo.cast(IntegerType), 8)),
            byteHex(pmod(t, lit(256L))),
            byteHex(shiftright(t.cast(IntegerType), 8)))
        }), "")
      val wav32 = concat(asciiLit("RIFF"), le32(n32 * 8 + 36), asciiLit("WAVE"),
        asciiLit("fmt "), le32(lit(16)), le16(lit(1)), le16(lit(2)),
        le32(lit(44100)), le32(lit(352800)), le16(lit(8)), le16(lit(32)),
        asciiLit("data"), le32(n32 * 8), unhex(data32))
      val content = when(m === 0, wavU).when(m === 1, wavA)
        .when(m === 2, wavI).when(m === 3, wav24).otherwise(wav32)
      val media = tp(s, dir, "documents").select(id.as("media_id"),
        lit("audio").as("kind"), content.as("content"))
      Multimodal.audioStats(media)
        .select(col("media_id"), col("format"), col("channels"),
          col("sample_rate"), col("bit_depth"), col("n_frames"),
          col("n_samples"), col("sum"), col("sumsq"), col("peak"),
          col("n_clipped"), col("silent"), col("rms"), col("clip_rate"),
          col("ch_sumsq"), col("ch_peak"))
    }),

    // MS-ADPCM (WAV format 2), q166's two-tap sibling: per-channel
    // headers carry a coefficient-pair index + delta + the first two
    // samples; nibbles run HIGH-first alternating channels. The
    // fixture writes the STANDARD seven coefficient pairs into the
    // fmt extension (the decode reads whatever table the file
    // carries); the oracle replays the predictor recurrence as a
    // recursive CTE over those same constants — per-channel state is
    // independent, so the recursion keys on (doc, channel)
    "q167_msadpcm_stats" -> ((s, dir) => {
      Graft.tune(s)
      import graft.operators.Multimodal
      def le16Hex(c: Column): Column =
        concat(byteHex(pmod(c, lit(256L))),
          byteHex(shiftright(pmod(c, lit(65536L)).cast(IntegerType), 8)))
      val id = col("doc_id")
      val m = id % 2
      // standard coefficient table as literal fmt-extension bytes
      val coefBytes = graft.expr.AudioStats.MsStdCoef1
        .zip(graft.expr.AudioStats.MsStdCoef2)
        .flatMap { case (a, b) => Array(
          (a & 0xFF).toByte, ((a >> 8) & 0xFF).toByte,
          (b & 0xFF).toByte, ((b >> 8) & 0xFF).toByte) }
      def fmtExt(spb: Int): Column =
        concat(le16(lit(32)), le16(lit(spb)), le16(lit(7)), lit(coefBytes))
      def nib(j: Column): Column = pmod(id * 11 + j * 5, lit(16L))
      // mono: blockAlign 16 (9 data bytes, 18 nibbles, spb 20)
      val hdrM = concat(byteHex(id % 7),
        le16Hex(pmod(id * 13, lit(2000L)) + 16),
        le16Hex(pmod(id * 57, lit(65536L))),
        le16Hex(pmod(id * 91, lit(65536L))))
      val dataM = array_join(
        transform(sequence(lit(0), lit(8)), t => {
          val tl = t.cast(LongType)
          byteHex(nib(lit(2L) * tl) * 16 + nib(lit(2L) * tl + 1))
        }), "")
      val wavM = concat(asciiLit("RIFF"), le32(lit(16 + 20 + 50)),
        asciiLit("WAVE"), asciiLit("fmt "), le32(lit(50)), le16(lit(2)),
        le16(lit(1)),
        le32(lit(11025)), le32(lit(11025)), le16(lit(16)), le16(lit(4)),
        fmtExt(20),
        asciiLit("data"), le32(lit(16)), unhex(concat(hdrM, dataM)))
      // stereo: blockAlign 24 (10 data bytes, 20 nibbles, spb 12);
      // channel c header fields offset by c in the formulas
      def pi(c: Int): Column = pmod(id + c, lit(7L))
      def dlt(c: Int): Column = pmod(id * 13 + c * 71, lit(2000L)) + 16
      def s1f(c: Int): Column = pmod(id * 57 + c * 1237, lit(65536L))
      def s2f(c: Int): Column = pmod(id * 91 + c * 3001, lit(65536L))
      val hdrS = concat(byteHex(pi(0)), byteHex(pi(1)),
        le16Hex(dlt(0)), le16Hex(dlt(1)),
        le16Hex(s1f(0)), le16Hex(s1f(1)),
        le16Hex(s2f(0)), le16Hex(s2f(1)))
      val dataS = array_join(
        transform(sequence(lit(0), lit(9)), t => {
          val tl = t.cast(LongType)
          byteHex(nib(lit(2L) * tl) * 16 + nib(lit(2L) * tl + 1))
        }), "")
      val wavS = concat(asciiLit("RIFF"), le32(lit(24 + 20 + 50)),
        asciiLit("WAVE"), asciiLit("fmt "), le32(lit(50)), le16(lit(2)),
        le16(lit(2)),
        le32(lit(11025)), le32(lit(22050)), le16(lit(24)), le16(lit(4)),
        fmtExt(12),
        asciiLit("data"), le32(lit(24)), unhex(concat(hdrS, dataS)))
      val content = when(m === 0, wavM).otherwise(wavS)
      val media = tp(s, dir, "documents").select(id.as("media_id"),
        lit("audio").as("kind"), content.as("content"))
      Multimodal.audioStats(media)
        .select(col("media_id"), col("format"), col("channels"),
          col("sample_rate"), col("bit_depth"), col("n_frames"),
          col("n_samples"), col("sum"), col("sumsq"), col("peak"),
          col("n_clipped"), col("silent"), col("rms"), col("clip_rate"),
          col("ch_sumsq"), col("ch_peak"))
    }),

    // CROSS-CODEC audio near-dup — the payoff of routing the
    // fingerprint through the stats tier's shared decoder: each doc
    // becomes TWO clips of the same linear signal, one 16-bit PCM and
    // one G.711 μ-law (the PCM samples are the μ-law expansion
    // computed in-plan, so the decoded sequences are IDENTICAL), and
    // the envelope near-dup pairs them at hamming 0 even though the
    // containers share almost no bytes. Oracle replays envelope,
    // ehash, banding and verification exactly as q156's does
    "q168_crosscodec_neardup" -> ((s, dir) => {
      Graft.tune(s)
      import graft.operators.Multimodal
      val g = col("doc_id")
      val n = (g % 32 + 64).cast(IntegerType) // ≥ 64 frames for nFrames=64
      // quadratic (g,k) mixing: any LINEAR formula makes every doc's
      // code sequence a shift/rotation of one base cycle (mod-256
      // arithmetic), so envelopes near-collide corpus-wide and the
      // pair list grows quadratically; squaring the mixed index
      // breaks the rotation structure and leaves only the intended
      // per-doc twins
      def code(k: Column): Column = {
        val h = g * 31 + k.cast(LongType)
        pmod(shiftright(pmod(h * h, lit(1000003L)) * 48271, 8), lit(256L))
      }
      // the μ-law expansion as columns (exact integers; shiftleft by a
      // column isn't available, so the 8 segment scales enumerate)
      def ulawLin(c: Column): Column = {
        val uc = lit(255L) - c
        val base = uc.bitwiseAND(lit(15L)) * 8 + 132
        val seg = shiftright(uc.cast(IntegerType), 4).bitwiseAND(lit(7))
        val t = (1 to 7).foldLeft(when(seg === 0, base)) { (acc, e) =>
          acc.when(seg === e, base * (1L << e))
        }.otherwise(lit(0L))
        when(uc.bitwiseAND(lit(128L)) =!= 0, lit(132L) - t)
          .otherwise(t - lit(132L))
      }
      val dataU = array_join(
        transform(sequence(lit(0), n - 1), k => byteHex(code(k))), "")
      val wavU = concat(asciiLit("RIFF"), le32(n + 36), asciiLit("WAVE"),
        asciiLit("fmt "), le32(lit(16)), le16(lit(7)), le16(lit(1)),
        le32(lit(8000)), le32(lit(8000)), le16(lit(1)), le16(lit(8)),
        asciiLit("data"), le32(n), unhex(dataU))
      val dataP = array_join(
        transform(sequence(lit(0), n - 1), k => {
          val v = pmod(ulawLin(code(k)), lit(65536L)) // two's complement
          concat(byteHex(pmod(v, lit(256L))),
            byteHex(shiftright(v.cast(IntegerType), 8)))
        }), "")
      val wavP = concat(asciiLit("RIFF"), le32(n * 2 + 36), asciiLit("WAVE"),
        asciiLit("fmt "), le32(lit(16)), le16(lit(1)), le16(lit(1)),
        le32(lit(8000)), le32(lit(16000)), le16(lit(2)), le16(lit(16)),
        asciiLit("data"), le32(n * 2), unhex(dataP))
      val media = tp(s, dir, "documents")
        .select(explode(array(
          struct((g * 2).as("media_id"), wavP.as("content")),
          struct((g * 2 + 1).as("media_id"), wavU.as("content")))).as("m"))
        .select(col("m.media_id").as("media_id"), lit("audio").as("kind"),
          col("m.content").as("content"))
      Multimodal.audioNearDup(media)
    }),

    // CROSS-FORMAT image near-dup — q168's image sibling, made free
    // by the tier's architecture: [[PixelGridSig]] fingerprints the
    // DECODED pixels via the shared PixelStats.decode, so a PPM and a
    // BMP of the same image land on one signature. Each doc becomes
    // two clips of identical pixel content (the BMP stores the same
    // rows bottom-up with 4-byte padding, exactly what the decoder
    // undoes); the quadratic index mix keeps fixture structure from
    // minting rotation near-collisions (the q168 lesson)
    "q169_crossformat_neardup" -> ((s, dir) => {
      Graft.tune(s)
      import graft.operators.Multimodal
      val g = col("doc_id")
      val wC = (g % 8 + 9).cast(IntegerType)
      val hC = (g % 6 + 7).cast(IntegerType)
      val stride = wC * 3
      def pix(y: Column, j: Column): Column = {
        val hh = g * 53 + y.cast(LongType) * 977 + j.cast(LongType) * 13
        pmod(shiftright(pmod(hh * hh, lit(1000003L)) * 48271, 8), lit(251L))
      }
      def rowHex(y: Column): Column = array_join(
        transform(sequence(lit(0), stride - 1), j => byteHex(pix(y, j))), "")
      val ppm = concat(
        encode(concat(lit("P6\n"), wC.cast(StringType), lit(" "),
          hC.cast(StringType), lit("\n255\n")), "UTF-8").cast(BinaryType),
        unhex(array_join(
          transform(sequence(lit(0), hC - 1), y => rowHex(y)), "")))
      val pad = pmod(lit(4) - pmod(stride, lit(4)), lit(4))
      val padHex = lit("000000").substr(lit(1), pad * 2)
      val rowSize = stride + pad
      val bmp = concat(asciiLit("BM"), le32(rowSize * hC + 54),
        le32(lit(0)), le32(lit(54)),
        le32(lit(40)), le32(wC), le32(hC), le16(lit(1)), le16(lit(24)),
        le32(lit(0)), le32(rowSize * hC), le32(lit(0)), le32(lit(0)),
        le32(lit(0)), le32(lit(0)),
        unhex(array_join(
          transform(sequence(lit(0), hC - 1), yy =>
            concat(rowHex(hC - 1 - yy), padHex)), "")))
      val media = tp(s, dir, "documents")
        .select(explode(array(
          struct((g * 2).as("media_id"), ppm.as("content")),
          struct((g * 2 + 1).as("media_id"), bmp.as("content")))).as("m"))
        .select(col("m.media_id").as("media_id"), lit("image").as("kind"),
          col("m.content").as("content"))
      Multimodal.imageNearDup(media)
    }),

    // ORIENTATION-NORMALIZED near-dup: the rotated re-upload case the
    // raw perceptual tier misses — q169's noise image shipped once in
    // display orientation and once PHYSICALLY ROTATED 90° with the
    // Exif flag (orientation 6) that says so. graft_orient_pixels
    // normalizes both through the shared decode before signing, so
    // the twins pair at L1 0 with no new kernels; the oracle is
    // q169's replay (both arms normalize to the SAME pixel grid)
    "q183_orientation_neardup" -> ((s, dir) => {
      Graft.tune(s)
      import graft.operators.Multimodal
      val g = col("doc_id")
      val wC = (g % 8 + 9).cast(IntegerType)
      val hC = (g % 6 + 7).cast(IntegerType)
      val stride = wC * 3
      def pix(y: Column, j: Column): Column = {
        val hh = g * 53 + y.cast(LongType) * 977 + j.cast(LongType) * 13
        pmod(shiftright(pmod(hh * hh, lit(1000003L)) * 48271, 8), lit(251L))
      }
      def header(wcol: Column, hcol: Column): Column =
        encode(concat(lit("P6\n"), wcol.cast(StringType), lit(" "),
          hcol.cast(StringType), lit("\n255\n")), "UTF-8").cast(BinaryType)
      // arm A: the display-oriented image (orientation 1)
      val ppmA = concat(header(wC, hC),
        unhex(array_join(transform(sequence(lit(0), hC - 1), y =>
          array_join(transform(sequence(lit(0), stride - 1), j =>
            byteHex(pix(y, j))), "")), "")))
      // arm B: the SAME image stored rotated (dims swapped), pixel
      // (u, v) = A(wC-1-v, u) — exactly what Exif orientation 6
      // ("rotate stored 90° CW to display") undoes
      val ppmB = concat(header(hC, wC),
        unhex(array_join(transform(sequence(lit(0), wC - 1), v =>
          array_join(transform(sequence(lit(0), hC - 1), u =>
            array_join(transform(sequence(lit(0), lit(2)), ch =>
              byteHex(pix(u, (wC - 1 - v) * 3 + ch))), "")), "")), "")))
      val normA = call_function(graft.expr.OrientPixels.FunctionName,
        ppmA, lit(1))
      val normB = call_function(graft.expr.OrientPixels.FunctionName,
        ppmB, lit(6))
      val media = tp(s, dir, "documents")
        .select(explode(array(
          struct((g * 2).as("media_id"), normA.as("content")),
          struct((g * 2 + 1).as("media_id"), normB.as("content")))).as("m"))
        .select(col("m.media_id").as("media_id"), lit("image").as("kind"),
          col("m.content").as("content"))
      Multimodal.imageNearDup(media)
    }),

    // REAL MP3 decode under the ORACLE gate (q179's pattern for the
    // lossy AUDIO codec): a silence frame — header + all-zero side
    // info + zero fill — decodes to exact zeros in EVERY conforming
    // Layer III decoder, so the whole frame walk (the
    // 144·bitrate/rate + padding step across all 14 bitrate indices,
    // 3 sample rates and both padding states, 1152 samples/frame)
    // replays relationally. m=1 docs carry a foreign container and
    // m=2 docs text — the seam's NULL-propagation contract under the
    // hash gate, as in q178.
    "q184_mp3_decoder_stats" -> ((s, dir) => {
      Graft.tune(s)
      import graft.operators.Multimodal
      val id = col("doc_id")
      val m = id % 3
      val brIdx = (id % 14 + 1).cast(IntegerType)
      // decoupled from the arm selector m = id % 3: id % 3 here would
      // pin every ACTUAL MP3 row (m = 0) to srIdx 0 and the other two
      // rates' frame-length paths would never reach the decoder
      val srIdx = (pmod(id, lit(9L)) / lit(3)).cast(IntegerType)
      val pad = (id % 2).cast(IntegerType)
      val kbps = element_at(array(Seq(32, 40, 48, 56, 64, 80, 96, 112,
        128, 160, 192, 224, 256, 320).map(lit): _*), brIdx)
      val rate = element_at(array(lit(44100), lit(48000), lit(32000)),
        srIdx + 1)
      val frameLen = (lit(144000) * kbps / rate).cast(IntegerType) + pad
      val headerHex = concat(lit("FFFB"),
        lpad(hex(brIdx * 16 + srIdx * 4 + pad * 2), 2, "0"), lit("C0"))
      val frameHex = concat(headerHex,
        call_function("repeat", lit("00"), frameLen - 4))
      val nF = (id % 4 + 2).cast(IntegerType)
      val mp3 = unhex(array_join(
        transform(sequence(lit(1), nF), _ => frameHex), ""))
      val foreign = concat(lit("OggS".getBytes("ISO-8859-1")),
        encode(id.cast(StringType), "UTF-8").cast(BinaryType))
      val content = when(m === 0, mp3)
        .when(m === 1, foreign)
        .otherwise(encode(concat(lit("txt:"), coalesce(col("text"), lit(""))),
          "UTF-8").cast(BinaryType))
      val media = tp(s, dir, "documents").select(id.as("media_id"),
        lit("audio").as("kind"), content.as("content"))
      Multimodal.audioStatsVia(media, new Multimodal.Mp3Decoder)
        .select(col("media_id"), col("n_bytes"), col("format"),
          col("channels"), col("sample_rate"), col("bit_depth"),
          col("n_frames"), col("n_samples"), col("sum"), col("sumsq"),
          col("peak"), col("n_clipped"), col("silent"), col("rms"),
          col("clip_rate"), col("ch_sumsq"), col("ch_peak"))
    }),

    // Cross-codec near-dup across the LOSSY AUDIO boundary — q168
    // extended to MP3↔PCM twins through the REAL Layer III decoder.
    // Lossy waveforms aren't construction-replayable, but envelope
    // GRADIENT SIGNS are when the construction pins them: each doc's
    // MP3 arm is 64 four-granule windows, loud windows carrying one
    // count1-coded granule whose output support is bounded inside
    // its window (IMDCT overlap ≤ 1 granule + the 16-deep synthesis
    // FIFO tail < 512 samples — the lemma Mp3Spec proves exactly),
    // quiet windows EXACT zeros; the PCM twin is a 4-sample-per-
    // window sketch with the same loud/quiet pattern. Both arms'
    // ehash = the pattern's gradient bits — exact integers — so the
    // oracle replays fingerprints, banding, bucket rule and Hamming
    // verify relationally, q168's shape. No two loud windows are
    // ever adjacent (odd windows always quiet), so AudioEnvSig never
    // compares two codec-float windows. Quadratic (g,w) mixing keeps
    // patterns from minting congruence collisions (the q168 lesson);
    // the forced window 2·(g%32) keeps every envelope non-silent.
    "q185_mp3_crosscodec_neardup" -> ((s, dir) => {
      Graft.tune(s)
      import graft.operators.Multimodal
      val g = col("doc_id")
      def loud(w: Column): Column = {
        val h = g * 64 + w.cast(LongType)
        (pmod(w.cast(LongType), lit(2L)) === 0) && (
          pmod(shiftright(pmod(h * h, lit(1000003L)) * 48271, 8),
            lit(2L)) === 1 ||
          w.cast(LongType) === (g % 32) * 2)
      }
      // 104-byte 32 kbps/44.1 kHz mono frames; the loud variant's
      // side info (part2_3 = 16, global_gain = 200, count1 table B)
      // and two-zero-byte main data are byte-pinned by Mp3Spec
      // against the independent test-side frame builder
      val loudFrameHex = lit("FFFB10C0" + "00000040019000000008" +
        "00" * 7 + "0000" + "00" * 81)
      val silentFrameHex = lit("FFFB10C0" + "00" * 100)
      val mp3 = unhex(array_join(
        transform(sequence(lit(0), lit(63)), w =>
          concat(when(loud(w), loudFrameHex).otherwise(silentFrameHex),
            silentFrameHex)), ""))
      val dataHex = array_join(
        transform(sequence(lit(0), lit(255)), k =>
          when(loud(shiftright(k, 2)), lit("E803")).otherwise(lit("0000"))),
        "")
      val wavP = concat(asciiLit("RIFF"), le32(lit(512 + 36)), asciiLit("WAVE"),
        asciiLit("fmt "), le32(lit(16)), le16(lit(1)), le16(lit(1)),
        le32(lit(44100)), le32(lit(88200)), le16(lit(2)), le16(lit(16)),
        asciiLit("data"), le32(lit(512)), unhex(dataHex))
      val media = tp(s, dir, "documents")
        .select(explode(array(
          struct((g * 2).as("media_id"), mp3.as("content")),
          struct((g * 2 + 1).as("media_id"), wavP.as("content")))).as("m"))
        .select(col("m.media_id").as("media_id"), lit("audio").as("kind"),
          col("m.content").as("content"))
      val decoded = Multimodal.audioSamplesVia(media,
        new Multimodal.Mp3Decoder)
      Multimodal.audioNearDup(decoded)
    }),

    // CMYK / YCCK (Adobe 4-component) JPEG decode under the ORACLE
    // gate — q179's DC-only construction widened to four channels:
    // each channel's blocks are flat 128 + 2·cumsum(cat-4 DC diffs),
    // exact in every conforming decoder; the Adobe-inverted color
    // step (optional YCCK BT.601 inversion, then
    // RGB = ⌊(inv·invK+127)/255⌋) is exact integer arithmetic the
    // oracle replays. Both transform arms (id parity) exercise both
    // decode routes. The JDK codec cannot read() CMYK at all, so
    // this construction can ONLY pass through the hand decoder.
    "q186_jpeg_cmyk_decode" -> ((s, dir) => {
      Graft.tune(s)
      val id = col("doc_id")
      val bw = (id % 3 + 1).cast(IntegerType)
      val n = bw
      val xform = (id % 2) * 2 // 0 = CMYK, 2 = YCCK
      // channel c, block k: even k positive (v4 in [8,15]), odd
      // negative (v4 in [0,7] → v4 − 15); per-channel mixes
      def v4(c: Int, k: Column): Column =
        when(pmod(k, lit(2)) === 0,
          pmod(id * 7 + lit(c) * 19 + k.cast(LongType) * 3, lit(8L)) + 8)
          .otherwise(pmod(id * 5 + lit(c) * 11 + k.cast(LongType), lit(8L)))
      val entropyHex = array_join(
        transform(sequence(lit(0), n - 1), k =>
          concat((0 until 4).map(c => lpad(hex(v4(c, k) * 4), 2, "0")): _*)),
        "")
      val jpegHex = concat(
        lit("FFD8"),
        lit("FFEE000E" + "41646F6265" + "0064" + "0000" + "0000"),
        lpad(hex(xform), 2, "0"), // APP14 transform byte
        lit("FFDB0043" + "00" + "10" * 64),
        lit("FFC00014" + "08" + "0008"), be16(bw * 8),
        lit("04" + "011100" + "021100" + "031100" + "041100"),
        lit("FFC40014" + "00" + "0001" + "00" * 14 + "04"),
        lit("FFC40014" + "10" + "0001" + "00" * 14 + "00"),
        lit("FFDA000E" + "04" + "0100" + "0200" + "0300" + "0400" +
          "00" + "3F" + "00"),
        entropyHex,
        lit("FFD9"))
      val m = call_function(graft.expr.PixelStats.FunctionName,
        unhex(jpegHex))
      tp(s, dir, "documents").select(id.as("media_id"), m.as("_m"))
        .select(col("media_id"),
          col("_m.format").as("format"), col("_m.width").as("width"),
          col("_m.height").as("height"), col("_m.channels").as("channels"),
          col("_m.n_pixels").as("n_pixels"), col("_m.sum").as("sum"),
          col("_m.sumsq").as("sumsq"), col("_m.pmin").as("pmin"),
          col("_m.pmax").as("pmax"), col("_m.constant").as("constant"))
    }),

    // MPEG-2/2.5 LSF decode under the ORACLE gate — q184 extended
    // across the OTHER two MPEG versions (the podcast/voice tier:
    // 22.05/24/16 and 11.025/12/8 kHz): the 72·bitrate/rate + padding
    // frame step, ONE granule (576 samples) per frame, and the LSF
    // side-info layout all replay relationally on silence frames;
    // foreign and text arms keep the NULL-triage contract
    "q189_mp3_lsf_stats" -> ((s, dir) => {
      Graft.tune(s)
      import graft.operators.Multimodal
      val id = col("doc_id")
      val m = id % 3
      val ver = when(id % 2 === 0, 2).otherwise(0) // MPEG-2 / MPEG-2.5
      val brIdx = (id % 14 + 1).cast(IntegerType)
      // decoupled from the arm selector (see q184's note)
      val srIdx = (pmod(id, lit(9L)) / lit(3)).cast(IntegerType)
      val pad = (pmod(id, lit(4L)) / 2).cast(IntegerType) // decouple from ver
      val kbps = element_at(array(Seq(8, 16, 24, 32, 40, 48, 56, 64,
        80, 96, 112, 128, 144, 160).map(lit): _*), brIdx)
      val rate = element_at(
        when(ver === 2, array(lit(22050), lit(24000), lit(16000)))
          .otherwise(array(lit(11025), lit(12000), lit(8000))),
        srIdx + 1)
      val frameLen = (lit(72000) * kbps / rate).cast(IntegerType) + pad
      val b1 = lit(0xE0) + ver * 8 + lit(3) // layer III, no CRC
      val headerHex = concat(lit("FF"), lpad(hex(b1), 2, "0"),
        lpad(hex(brIdx * 16 + srIdx * 4 + pad * 2), 2, "0"), lit("C0"))
      val frameHex = concat(headerHex,
        call_function("repeat", lit("00"), frameLen - 4))
      val nF = (id % 5 + 2).cast(IntegerType)
      val mp3 = unhex(array_join(
        transform(sequence(lit(1), nF), _ => frameHex), ""))
      val content = when(m === 0, mp3)
        .when(m === 1, concat(lit("fLaC".getBytes("ISO-8859-1")),
          encode(id.cast(StringType), "UTF-8").cast(BinaryType)))
        .otherwise(encode(concat(lit("txt:"), coalesce(col("text"), lit(""))),
          "UTF-8").cast(BinaryType))
      val media = tp(s, dir, "documents").select(id.as("media_id"),
        lit("audio").as("kind"), content.as("content"))
      Multimodal.audioStatsVia(media, new Multimodal.Mp3Decoder)
        .select(col("media_id"), col("n_bytes"), col("format"),
          col("channels"), col("sample_rate"), col("bit_depth"),
          col("n_frames"), col("n_samples"), col("sum"), col("sumsq"),
          col("peak"), col("n_clipped"), col("silent"), col("rms"),
          col("clip_rate"), col("ch_sumsq"), col("ch_peak"))
    }),

    // Crawl → IMAGE → THUMBNAIL composition (q180's sibling for the
    // image route): a crawl's images arrive as image/jpeg HTTP
    // responses inside WARC files — records walk → binary body split
    // → content-type route → hand JPEG decode → materialized resize,
    // ONE relational plan, the full binary-media path a curation
    // pipeline runs. Each archive also carries a text/html response
    // the route must drop. JPEGs are q179 one-block DC-only
    // constructions (flat value 128 + 2·extend(v4) — exact in every
    // conforming decoder), so the 4×4 thumbnail is the SAME flat
    // value everywhere and the whole chain replays relationally.
    "q191_crawl_thumbnails" -> ((s, dir) => {
      Graft.tune(s)
      import graft.operators.Warc
      def bin(c: Column): Column = encode(c, "ISO-8859-1")
      val id = col("doc_id")
      def v4(slot: Int): Column =
        pmod(id * 7 + lit(slot) * 13, lit(8L)) + 8 // positive cat-4 diffs
      def jpegHex(slot: Int): Column = concat(
        lit("FFD8" + "FFDB0043" + "00" + "10" * 64 +
          "FFC0000B08" + "0008" + "0008" + "010111" + "00" +
          "FFC40014" + "00" + "0001" + "00" * 14 + "04" +
          "FFC40014" + "10" + "0001" + "00" * 14 + "00" +
          "FFDA0008" + "01" + "0100" + "00" + "3F" + "00"),
        lpad(hex(v4(slot) * 4), 2, "0"),
        lit("FFD9"))
      def rec(uri: Column, http: Column): Column = concat(
        asciiLit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: "),
        bin(uri),
        asciiLit("\r\nContent-Type: application/http; msgtype=response" +
          "\r\nContent-Length: "),
        bin(length(http).cast(StringType)), asciiLit("\r\n\r\n"),
        http, asciiLit("\r\n\r\n"))
      def httpJpeg(slot: Int): Column = concat(
        asciiLit("HTTP/1.1 200 OK\r\nContent-Type: image/jpeg\r\n\r\n"),
        unhex(jpegHex(slot)))
      val httpHtml = asciiLit("HTTP/1.1 200 OK\r\nContent-Type: text/html" +
        "\r\n\r\n<p>markup the image route must drop</p>")
      val warc = concat(
        rec(concat(lit("http://example.com/img/"), id.cast(StringType),
          lit("/0")), httpJpeg(0)),
        rec(concat(lit("http://example.com/img/"), id.cast(StringType),
          lit("/1")), httpJpeg(1)),
        rec(concat(lit("http://example.com/page/"), id.cast(StringType)),
          httpHtml))
      val files = tp(s, dir, "documents")
        .select(id.as("file_id"), warc.as("content"))
      val thumb = call_function(graft.expr.ResizePixels.FunctionName,
        col("body"), lit(4), lit(4))
      val m = call_function(graft.expr.PixelStats.FunctionName, thumb)
      Warc.binaryDocuments(files, contentTypes = Seq("image/jpeg"))
        .select(col("file_id"), col("url"), m.as("_m"))
        .select(col("file_id"), col("url"),
          col("_m.format").as("format"), col("_m.width").as("width"),
          col("_m.height").as("height"), col("_m.n_pixels").as("n_pixels"),
          col("_m.sum").as("sum"), col("_m.pmin").as("pmin"),
          col("_m.pmax").as("pmax"), col("_m.constant").as("constant"))
    }),

    // Audio RESAMPLE under the ORACLE gate (ResizePixels' time-axis
    // sibling): 16-bit PCM at 8 kHz box-mean-decimated to 3 kHz —
    // dn = ⌊3n/8⌋ output frames, each the TRUNCATING mean of its
    // source box (signed samples make truncate-vs-floor observable —
    // the construction pinned exactly that divergence during
    // development), then re-ingested through audioStats. The oracle
    // replays boxes, truncating means and the stats relationally.
    "q190_resample_pcm" -> ((s, dir) => {
      Graft.tune(s)
      val id = col("doc_id")
      val n = (id % 40 + 16).cast(IntegerType)
      val dataHex = array_join(
        transform(sequence(lit(0), n - 1), k => {
          val t = pmod(id * 29 + k.cast(LongType) * 4099, lit(65536L))
          concat(byteHex(pmod(t, lit(256L))),
            byteHex(shiftright(t.cast(IntegerType), 8)))
        }), "")
      val wav = concat(asciiLit("RIFF"), le32(n * 2 + 36), asciiLit("WAVE"),
        asciiLit("fmt "), le32(lit(16)), le16(lit(1)), le16(lit(1)),
        le32(lit(8000)), le32(lit(16000)), le16(lit(2)), le16(lit(16)),
        asciiLit("data"), le32(n * 2), unhex(dataHex))
      val res = call_function(graft.expr.ResamplePcm.FunctionName,
        wav, lit(3000))
      val m = call_function(graft.expr.AudioStats.FunctionName, res)
      tp(s, dir, "documents").select(id.as("media_id"), m.as("_m"))
        .select(col("media_id"),
          col("_m.format").as("format"), col("_m.channels").as("channels"),
          col("_m.sample_rate").as("sample_rate"),
          col("_m.bit_depth").as("bit_depth"),
          col("_m.n_frames").as("n_frames"),
          col("_m.n_samples").as("n_samples"), col("_m.sum").as("sum"),
          col("_m.sumsq").as("sumsq"), col("_m.peak").as("peak"),
          col("_m.n_clipped").as("n_clipped"), col("_m.silent").as("silent"))
    }),

    // MP3 BIG-VALUES region under the ORACLE gate — q184's frame
    // walk extended to the Huffman-coded spectrum tier. Each doc
    // selects one shipped 6+-dim big-values table (7,8,9,10,12 by
    // doc_id % 5) and carries TWO codings of the SAME lines 0–7 = +1
    // spectrum: the count1-quad coding (q185's loud granule) and the
    // table's big-values pair coding ((1,1)×4, in-plan literals the
    // Mp3Spec builder pins byte-for-byte). Identical spectra through
    // the real decoder must yield bit-identical PCM, so the arms'
    // integer stats must be EQUAL — the oracle replays the equality
    // flags, geometry and non-silence relationally. A wrong codeword
    // → symbol mapping in ANY of the five independently-entered
    // tables breaks arms_equal.
    "q192_mp3_bigvalues" -> ((s, dir) => {
      Graft.tune(s)
      import graft.operators.Multimodal
      val id = col("doc_id")
      val silentF = "FFFB10C0" + "00" * 100
      val count1F = "FFFB10C0" + "00000040019000000008" + "00" * 7 +
        "0000" + "00" * 81
      def bigF(si10: String, md: String, pad: Int): String =
        "FFFB10C0" + si10 + "00" * 7 + md + "00" * pad
      val bigHex = element_at(array(
        lit(bigF("00000060099003" + "9CE008", "30C30C", 80)),
        lit(bigF("00000040099004" + "210008", "4444", 81)),
        lit(bigF("00000050099004" + "A52008", "8421", 81)),
        lit(bigF("00000060099005" + "294008", "30C30C", 80)),
        lit(bigF("00000050099006" + "318008", "A52940", 80))),
        (pmod(id, lit(5L)) + 1).cast(IntegerType))
      val armA = unhex(concat(lit(count1F), lit(silentF)))
      val armB = unhex(concat(bigHex, lit(silentF)))
      val media = tp(s, dir, "documents")
        .select(explode(array(
          struct((id * 2).as("media_id"), armA.as("content")),
          struct((id * 2 + 1).as("media_id"), armB.as("content"))))
          .as("_a"))
        .select(col("_a.media_id").as("media_id"),
          lit("audio").as("kind"), col("_a.content").as("content"))
      val st = Multimodal.audioStatsVia(media, new Multimodal.Mp3Decoder)
      def arm(n: Int, c: String) =
        max(when(pmod(col("media_id"), lit(2L)) === n, col(c)))
      st.groupBy(shiftright(col("media_id"), 1).as("doc_id"))
        .agg(arm(0, "sum").as("_sa"), arm(1, "sum").as("_sb"),
          arm(0, "sumsq").as("_qa"), arm(1, "sumsq").as("_qb"),
          arm(0, "peak").as("_pa"), arm(1, "peak").as("_pb"),
          arm(0, "n_samples").as("_na"), arm(1, "n_samples").as("_nb"),
          arm(0, "silent").as("_silA"))
        .select(col("doc_id"),
          element_at(array(Seq(7, 8, 9, 10, 12).map(lit): _*),
            (pmod(col("doc_id"), lit(5L)) + 1).cast(IntegerType))
            .as("table_id"),
          col("_na").cast(LongType).as("n_samples"),
          (col("_sa") === col("_sb") && col("_qa") === col("_qb") &&
            col("_pa") === col("_pb") && col("_na") === col("_nb"))
            .as("arms_equal"),
          (col("_silA") === 0).as("nonsilent")) // silent is an INT flag
    }),

    // AAC (ADTS) metadata under the ORACLE gate — the crawl's other
    // lossy audio half through [[graft.expr.AudioMeta]]'s REAL frame
    // walk (every header re-validated, frame_length-advanced; no CBR
    // estimate). The construction sweeps the full geometry space —
    // all 13 sampling_frequency_index rates × channel configs 1–7
    // (7 → 7.1 = 8ch) × 1–4 frames × varying payload sizes — and the
    // oracle replays the rate table, the channel rule and
    // 1024-samples-per-frame relationally.
    "q193_adts_meta" -> ((s, dir) => {
      Graft.tune(s)
      val id = col("doc_id")
      val srIdx = pmod(id, lit(13L)).cast(IntegerType)
      val chCfg = (pmod(id, lit(7L)) + 1).cast(IntegerType)
      val nF = (pmod(id, lit(4L)) + 1).cast(IntegerType)
      val pay = pmod(id * 3, lit(9L)).cast(IntegerType)
      val frameLen = lit(7) + pay
      def bh(c: Column) = lpad(hex(c), 2, "0")
      val hdr = concat(lit("FFF1"),
        bh(lit(0x40) + srIdx * 4 + shiftright(chCfg, 2)),
        bh(pmod(chCfg, lit(4)) * 64 + shiftright(frameLen, 11)),
        bh(pmod(shiftright(frameLen, 3), lit(256))),
        bh(pmod(frameLen, lit(8)) * 32 + 31),
        lit("FC"))
      val frameHex = concat(hdr, call_function("repeat", lit("5A"), pay))
      val adts = unhex(array_join(
        transform(sequence(lit(1), nF), _ => frameHex), ""))
      val m = call_function(graft.expr.AudioMeta.FunctionName, adts)
      tp(s, dir, "documents").select(id, m.as("_m"))
        .select(col("doc_id"),
          col("_m.format").as("format"),
          col("_m.channels").as("channels"),
          col("_m.sample_rate").as("sample_rate"),
          col("_m.bit_depth").as("bit_depth"),
          col("_m.n_frames").as("n_frames"))
    }),

    // WEBP (VP8L lossless) pixel decode under the ORACLE gate — the
    // modern web's image format through the hand decoder
    // ([[graft.expr.Vp8lDecode]]). Five stream arms per doc: flat
    // color (zero-bit trees), two-tone literals, a 4-entry palette
    // with sub-byte packing, an LZ77 row copy through the 2D
    // distance map, and the subtract-green transform. VP8L is
    // LOSSLESS, so the oracle replays the planted formulas exactly —
    // a wrong canonical code, packing width, distance map entry or
    // transform inverse cannot reproduce the sums. Fixtures come
    // from the independent Vp8lBuild encoder (a builder UDF —
    // LSB-first bit packing is not expressible relationally, the
    // q164 GifBuild argument). id%11==7 docs are text (triage: NULL
    // stats).
    "q194_webp_pixels" -> ((s, dir) => {
      Graft.tune(s)
      import graft.expr.Vp8lBuild
      val gen = udf { (id: Long) =>
        val w = (id % 4 + 4).toInt
        val h = (id % 3 + 3).toInt
        def gray(v: Int) = 0xff000000 | (v << 16) | (v << 8) | v
        val vp8l = (id % 5).toInt match {
          case 0 =>
            val v0 = ((id * 37) % 256).toInt
            Vp8lBuild.literal(w, h, Array.fill(w * h)(gray(v0)))
          case 1 =>
            val vA = (10 + (id * 13) % 200).toInt
            Vp8lBuild.literal(w, h, Array.tabulate(w * h)(i =>
              if ((i % w + i / w) % 2 == 0) gray(vA) else gray(vA + 40)))
          case 2 =>
            Vp8lBuild.palette(w, h,
              Array.tabulate(4)(k => gray(20 + 50 * k)),
              Array.tabulate(w * h)(_ % 4))
          case 3 =>
            Vp8lBuild.rowCopy(w, h,
              Array.tabulate(w)(x => gray(30 + 20 * x)))
          case _ =>
            Vp8lBuild.subtractGreen(w, h, Array.tabulate(w * h)(i =>
              if ((i % w + i / w) % 2 == 0) 0xff285a8c // (40, 90, 140)
              else 0xffc89664)) // (200, 150, 100)
        }
        Vp8lBuild.container(vp8l)
      }
      val id = col("doc_id")
      val content = when(pmod(id, lit(11L)) === 7,
          encode(concat(lit("txt:"), coalesce(col("text"), lit(""))),
            "UTF-8").cast(BinaryType))
        .otherwise(gen(id))
      val m = call_function(graft.expr.PixelStats.FunctionName, content)
      tp(s, dir, "documents").select(id.as("media_id"), m.as("_m"))
        .select(col("media_id"),
          col("_m.format").as("format"), col("_m.width").as("width"),
          col("_m.height").as("height"),
          col("_m.n_pixels").as("n_pixels"), col("_m.sum").as("sum"),
          col("_m.pmin").as("pmin"), col("_m.pmax").as("pmax"),
          col("_m.constant").as("constant"))
    }),

    // H.264 metadata under the ORACLE gate — dims from the SPS
    // (cropping arithmetic included), the elementary stream's no-clock
    // contract (duration/timescale 0), and the per-NAL frame walk
    // (n_frames = the graft_h264_frames array size). The construction
    // sweeps MB dims × crop offsets × frame counts; id%9==5 docs are
    // text (triage: NULL columns).
    "q196_h264_meta" -> ((s, dir) => {
      Graft.tune(s)
      val gen = udf { (id: Long) =>
        val wm = (id % 3 + 1).toInt
        val hm = (id % 2 + 1).toInt
        val nf = (id % 4 + 1).toInt
        graft.expr.H264Build.grayStream(wm, hm,
          (0 until nf).map(f => Array.fill[Byte](wm * 16 * hm * 16)(
            ((id + f * 19) % 256).toByte)),
          cropL = (id % 2).toInt, cropR = ((id % 5) % 2).toInt,
          cropT = ((id % 7) % 2).toInt)
      }
      val id = col("doc_id")
      val content = when(pmod(id, lit(9L)) === 5,
          encode(concat(lit("txt:"), coalesce(col("text"), lit(""))),
            "UTF-8").cast(BinaryType))
        .otherwise(gen(id))
      val m = call_function(graft.expr.VideoMeta.FunctionName, content)
      // explicit null guard: size(NULL) is conf-dependent (-1 under
      // legacy sizeOfNull) and the text arm must yield NULL
      val fsArr = call_function(graft.expr.H264Frames.FunctionName,
        content, lit(8))
      val nF = when(fsArr.isNull, lit(null).cast(IntegerType))
        .otherwise(size(fsArr))
      tp(s, dir, "documents").select(id, m.as("_m"), nF.as("_n"))
        .select(col("doc_id"),
          col("_m.format").as("format"), col("_m.width").as("width"),
          col("_m.height").as("height"),
          col("_m.duration_ms").as("duration_ms"),
          col("_m.timescale").as("timescale"),
          col("_n").as("n_frames"))
    }),

    // H.264 I_PCM pixel decode under the ORACLE gate — all-I_PCM IDR
    // frames are the format's one entropy-free macroblock type, so
    // the planted constant-gray frames decode BIT-EXACTLY through
    // videoFrames' standard dispatch (graft_h264_frames → PPM →
    // PixelStats): per-frame sums, extrema, exact mean and zero
    // variance all replay relationally. id%9==5 docs are text
    // (triage: no rows — the frames array is NULL).
    "q197_h264_ipcm_stats" -> ((s, dir) => {
      Graft.tune(s)
      import graft.operators.Multimodal
      val gen = udf { (id: Long) =>
        val wm = (id % 2 + 1).toInt
        val nf = (id % 3 + 1).toInt
        graft.expr.H264Build.grayStream(wm, 1,
          (0 until nf).map(f => Array.fill[Byte](wm * 16 * 16)(
            ((id * 31 + f * 47) % 256).toByte)))
      }
      val id = col("doc_id")
      val content = when(pmod(id, lit(9L)) === 5,
          encode(concat(lit("txt:"), coalesce(col("text"), lit(""))),
            "UTF-8").cast(BinaryType))
        .otherwise(gen(id))
      val media = tp(s, dir, "documents")
        .select(id.as("media_id"), lit("video").as("kind"),
          content.as("content"))
      Multimodal.videoFrameStats(media, maxFrames = 8)
    }),

    // FLAC decode under the ORACLE gate — the LOSSLESS audio codec
    // through the hand decoder ([[graft.expr.FlacDecode]]). Unlike
    // MP3 (exactly-decodable subset constructions), FLAC decodes
    // ARBITRARY planted samples bit-exactly, so the oracle replays
    // the full loudness stats from the sample formula itself.
    // Fixtures come from the independent FlacBuild encoder (builder
    // UDF — MSB-first bit packing + Rice coding aren't expressible
    // relationally, the q164/q194 argument), sweeping subframe modes
    // × stereo decorrelations × partition orders × block-size and
    // rate codes — none of which may change the decoded samples:
    // losslessness IS the gate, so a wrong Rice unmap, predictor
    // inverse, stereo reconstruction or CRC cannot reproduce the
    // sums. id%7==3 docs are text (NULL triage through the seam).
    "q198_flac_decoder_stats" -> ((s, dir) => {
      Graft.tune(s)
      import graft.operators.Multimodal
      val gen = udf { (g: Long) =>
        val n = (g % 48 + 80).toInt
        val nch = (g % 2 + 1).toInt
        val rate = (g % 3) match {
          case 0 => 8000; case 1 => 44100; case _ => 12000
        }
        def v(k: Int, c: Int): Int = {
          val h = g * 64 + k * 2 + c
          (((((h * h) % 1000003L) * 48271L) >> 8) % 60001L - 30000L).toInt
        }
        val samples = Array.tabulate(nch)(c => Array.tabulate(n)(k => v(k, c)))
        val mode = Seq("fixed2", "lpc", "verbatim", "escape",
          "fixed1")((g % 5).toInt)
        val stereo =
          if (nch == 2) Seq("indep", "left_side", "right_side",
            "mid_side")(((g / 2) % 4).toInt)
          else "indep"
        val bs = Seq(192, 64, 256, 100)((g % 4).toInt)
        graft.expr.FlacBuild.encode(samples, rate, 16, bs, stereo, mode,
          partOrder = (g % 2).toInt)
      }
      val id = col("doc_id")
      val content = when(pmod(id, lit(7L)) === 3,
          encode(concat(lit("txt:"), coalesce(col("text"), lit(""))),
            "UTF-8").cast(BinaryType))
        .otherwise(gen(id))
      val media = tp(s, dir, "documents").select(id.as("media_id"),
        lit("audio").as("kind"), content.as("content"))
      Multimodal.audioStatsVia(media, new Multimodal.FlacDecoder)
        .select(col("media_id"), col("n_bytes"), col("format"),
          col("channels"), col("sample_rate"), col("bit_depth"),
          col("n_frames"), col("n_samples"), col("sum"), col("sumsq"),
          col("peak"), col("n_clipped"), col("silent"), col("rms"),
          col("clip_rate"), col("ch_sumsq"), col("ch_peak"))
    }),

    // Cross-codec near-dup across the LOSSLESS boundary — q185's
    // FLAC sibling with EXACT twins: each doc ships once as raw PCM
    // WAV (q168's relational construction) and once as a FLAC encode
    // of the SAME samples (builder UDF). FLAC is lossless, so both
    // arms decode to identical PCM through one FlacDecoder seam hop
    // and the full fingerprint→banding→bucket→Hamming pipeline
    // replays relationally from the sample formula — no
    // envelope-bounding lemmas needed. Quadratic (g,k) mixing keeps
    // fixture structure from minting congruence collisions (the q168
    // lesson).
    "q199_flac_crosscodec_neardup" -> ((s, dir) => {
      Graft.tune(s)
      import graft.operators.Multimodal
      val g = col("doc_id")
      val n = (g % 32 + 64).cast(IntegerType) // ≥ 64 frames for nFrames=64
      def sval(k: Column): Column = {
        val h = g * 37 + k.cast(LongType)
        pmod(shiftright(pmod(h * h, lit(1000003L)) * 48271, 8),
          lit(4001L)) - 2000
      }
      val dataP = array_join(
        transform(sequence(lit(0), n - 1), k => {
          val v = pmod(sval(k), lit(65536L)) // two's complement
          concat(byteHex(pmod(v, lit(256L))),
            byteHex(shiftright(v.cast(IntegerType), 8)))
        }), "")
      val wavP = concat(asciiLit("RIFF"), le32(n * 2 + 36), asciiLit("WAVE"),
        asciiLit("fmt "), le32(lit(16)), le16(lit(1)), le16(lit(1)),
        le32(lit(8000)), le32(lit(16000)), le16(lit(2)), le16(lit(16)),
        asciiLit("data"), le32(n * 2), unhex(dataP))
      val genFlac = udf { (gid: Long) =>
        val nS = (gid % 32 + 64).toInt
        def v(k: Int): Int = {
          val h = gid * 37 + k
          (((((h * h) % 1000003L) * 48271L) >> 8) % 4001L - 2000L).toInt
        }
        val mode = Seq("fixed2", "lpc", "verbatim", "escape",
          "fixed0")((gid % 5).toInt)
        graft.expr.FlacBuild.encode(Array(Array.tabulate(nS)(v)), 8000,
          16, 64, "indep", mode, partOrder = (gid % 2).toInt)
      }
      val media = tp(s, dir, "documents")
        .select(explode(array(
          struct((g * 2).as("media_id"), wavP.as("content")),
          struct((g * 2 + 1).as("media_id"), genFlac(g).as("content"))))
          .as("m"))
        .select(col("m.media_id").as("media_id"), lit("audio").as("kind"),
          col("m.content").as("content"))
      val decoded = Multimodal.audioSamplesVia(media,
        new Multimodal.FlacDecoder)
      Multimodal.audioNearDup(decoded)
    }),

    // OGG/Vorbis through the REAL clean-room decoder — the q184
    // shape for the xiph lossy family. Silence constructions are
    // spec-FORCED exact zeros (a floor flagged unused renders IEEE
    // zero in every conforming decoder, independent of any decoder
    // constant), so the oracle replays the stats relationally; the
    // sample-count arithmetic pins the full OGG page walk, header
    // parse and lap geometry ((prevN+curN)/4 per packet transition,
    // nothing from the first packet — 128/transition for all-short
    // streams, 192 for alternating short/long, the mixed arm
    // exercising the long-window slope machinery end to end).
    "q200_vorbis_decoder_stats" -> ((s, dir) => {
      Graft.tune(s)
      import graft.operators.Multimodal
      val gen = udf { (g: Long) =>
        val ch = (g % 2 + 1).toInt
        val rate = (g % 3) match {
          case 0 => 8000; case 1 => 44100; case _ => 12000
        }
        val k = (g % 5 + 3).toInt
        graft.expr.VorbisBuild.silence(ch, rate, k,
          mixedBlocks = (g / 2) % 2 == 0)
      }
      val id = col("doc_id")
      val content = when(pmod(id, lit(7L)) === 3,
          encode(concat(lit("txt:"), coalesce(col("text"), lit(""))),
            "UTF-8").cast(BinaryType))
        .otherwise(gen(id))
      val media = tp(s, dir, "documents").select(id.as("media_id"),
        lit("audio").as("kind"), content.as("content"))
      Multimodal.audioStatsVia(media, new Multimodal.VorbisDecoder)
        .select(col("media_id"), col("n_bytes"), col("format"),
          col("channels"), col("sample_rate"), col("bit_depth"),
          col("n_frames"), col("n_samples"), col("sum"), col("sumsq"),
          col("peak"), col("n_clipped"), col("silent"), col("rms"),
          col("clip_rate"), col("ch_sumsq"), col("ch_peak"))
    }),

    // Cross-codec near-dup across the OGG boundary — q185's Vorbis
    // sibling. Lossy waveforms aren't construction-replayable, but
    // envelope GRADIENT SIGNS are when the construction pins them:
    // the Vorbis arm is 129 short-block packets = 128 output
    // segments of 128 samples; loud window w carries one nonzero
    // floor+residue packet at index 2w+1, whose output support is
    // confined to segments 2w and 2w+1 (its own return region plus
    // its overlap tail — the lap-algebra lemma VorbisSpec pins
    // exactly), i.e. entirely inside envelope window w; quiet
    // windows are spec-forced EXACT zeros. The PCM twin is a
    // 4-sample-per-window sketch with the same loud/quiet pattern.
    // Both arms' ehash = the pattern's gradient bits — exact
    // integers — so fingerprints, banding, bucket rule and Hamming
    // verify replay relationally, q168's shape. No two loud windows
    // are ever adjacent (odd windows always quiet), so AudioEnvSig
    // never compares two codec-float windows; the forced window
    // 2·(g%32) keeps every envelope non-silent.
    "q201_vorbis_crosscodec_neardup" -> ((s, dir) => {
      Graft.tune(s)
      import graft.operators.Multimodal
      val g = col("doc_id")
      def loud(w: Column): Column = {
        val h = g * 64 + w.cast(LongType)
        (pmod(w.cast(LongType), lit(2L)) === 0) && (
          pmod(shiftright(pmod(h * h, lit(1000003L)) * 48271, 8),
            lit(2L)) === 1 ||
          w.cast(LongType) === (g % 32) * 2)
      }
      val genOgg = udf { (gid: Long) =>
        def isLoud(w: Int): Boolean = {
          val h = gid * 64 + w
          w % 2 == 0 && ((((h * h) % 1000003L) * 48271L >> 8) % 2L == 1L ||
            w == (gid % 32) * 2)
        }
        graft.expr.VorbisBuild.pattern(8000, 64, isLoud, seed = gid)
      }
      val dataHex = array_join(
        transform(sequence(lit(0), lit(255)), k =>
          when(loud(shiftright(k, 2)), lit("E803")).otherwise(lit("0000"))),
        "")
      val wavP = concat(asciiLit("RIFF"), le32(lit(512 + 36)), asciiLit("WAVE"),
        asciiLit("fmt "), le32(lit(16)), le16(lit(1)), le16(lit(1)),
        le32(lit(8000)), le32(lit(16000)), le16(lit(2)), le16(lit(16)),
        asciiLit("data"), le32(lit(512)), unhex(dataHex))
      val media = tp(s, dir, "documents")
        .select(explode(array(
          struct((g * 2).as("media_id"), genOgg(g).as("content")),
          struct((g * 2 + 1).as("media_id"), wavP.as("content")))).as("m"))
        .select(col("m.media_id").as("media_id"), lit("audio").as("kind"),
          col("m.content").as("content"))
      val decoded = Multimodal.audioSamplesVia(media,
        new Multimodal.VorbisDecoder)
      Multimodal.audioNearDup(decoded)
    }),

    // Crawl → AUDIO composition (q191's audio sibling) through the
    // native `graft_audio_decode` EXPRESSION — the seam's SQL-surface
    // form, magic-dispatching WAV/FLAC/OGG/MP3 inside one
    // whole-stage projection: WARC record walk → http split → audio
    // content-type route → codec decode → native stats, ONE plan,
    // one decode per payload, no seam hop and no UDF in the route.
    // Two audio records per file: an OGG/Vorbis silence stream (the
    // q200 construction — stats and lap-geometry counts replay
    // relationally) and a PCM WAV whose samples are a relational
    // formula (full loudness stats replay); an HTML record the route
    // must drop.
    "q202_crawl_audio_stats" -> ((s, dir) => {
      Graft.tune(s)
      import graft.operators.Warc
      def bin(c: Column): Column = encode(c, "ISO-8859-1")
      val id = col("doc_id")
      val genOgg = udf { (g: Long) =>
        val ch = (g % 2 + 1).toInt
        val rate = (g % 3) match {
          case 0 => 8000; case 1 => 44100; case _ => 12000
        }
        graft.expr.VorbisBuild.silence(ch, rate, (g % 5 + 3).toInt,
          mixedBlocks = (g / 2) % 2 == 0)
      }
      val n = (id % 40 + 16).cast(IntegerType)
      def sval(k: Column): Column = {
        val h = id * 64 + k.cast(LongType) * 2
        pmod(shiftright(pmod(h * h, lit(1000003L)) * 48271, 8),
          lit(60001L)) - 30000
      }
      val dataHex = array_join(
        transform(sequence(lit(0), n - 1), k => {
          val v = pmod(sval(k), lit(65536L))
          concat(byteHex(pmod(v, lit(256L))),
            byteHex(shiftright(v.cast(IntegerType), 8)))
        }), "")
      val wavP = concat(asciiLit("RIFF"), le32(n * 2 + 36), asciiLit("WAVE"),
        asciiLit("fmt "), le32(lit(16)), le16(lit(1)), le16(lit(1)),
        le32(lit(8000)), le32(lit(16000)), le16(lit(2)), le16(lit(16)),
        asciiLit("data"), le32(n * 2), unhex(dataHex))
      def rec(uri: Column, http: Column): Column = concat(
        asciiLit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: "),
        bin(uri),
        asciiLit("\r\nContent-Type: application/http; msgtype=response" +
          "\r\nContent-Length: "),
        bin(length(http).cast(StringType)), asciiLit("\r\n\r\n"),
        http, asciiLit("\r\n\r\n"))
      val httpOgg = concat(
        asciiLit("HTTP/1.1 200 OK\r\nContent-Type: audio/ogg\r\n\r\n"),
        genOgg(id))
      val httpWav = concat(
        asciiLit("HTTP/1.1 200 OK\r\nContent-Type: audio/wav\r\n\r\n"),
        wavP)
      val httpHtml = asciiLit("HTTP/1.1 200 OK\r\nContent-Type: text/html" +
        "\r\n\r\n<p>markup the audio route must drop</p>")
      val warc = concat(
        rec(concat(lit("http://example.com/audio/"), id.cast(StringType),
          lit("/ogg")), httpOgg),
        rec(concat(lit("http://example.com/audio/"), id.cast(StringType),
          lit("/wav")), httpWav),
        rec(concat(lit("http://example.com/page/"), id.cast(StringType)),
          httpHtml))
      val files = tp(s, dir, "documents")
        .select(id.as("file_id"), warc.as("content"))
      val m = call_function(graft.expr.AudioStats.FunctionName,
        call_function(graft.expr.AudioDecodeExpr.FunctionName, col("body")))
      Warc.binaryDocuments(files,
          contentTypes = Seq("audio/ogg", "audio/wav"))
        .select(col("file_id"), col("url"), m.as("_m"))
        .select(col("file_id"), col("url"),
          col("_m.format").as("format"),
          col("_m.channels").as("channels"),
          col("_m.sample_rate").as("sample_rate"),
          col("_m.bit_depth").as("bit_depth"),
          col("_m.n_frames").as("n_frames"),
          col("_m.n_samples").as("n_samples"), col("_m.sum").as("sum"),
          col("_m.sumsq").as("sumsq"), col("_m.peak").as("peak"),
          col("_m.silent").as("silent"))
    }),

    // Container-tag extraction across ALL FOUR audio tag systems
    // (ID3v2.3 text frames, FLAC VORBIS_COMMENT, OGG Vorbis comment
    // packet, RIFF LIST/INFO) through the native graft_audio_tags
    // expression, exploded to (key, value) rows the oracle replays
    // relationally — the metadata filter/dedup-key feed of a crawl
    // audio pipeline (group re-uploads by title, artist blocklists).
    "q203_audio_tags" -> ((s, dir) => {
      Graft.tune(s)
      val gen = udf { (g: Long) =>
        def syncsafe(v: Int) = Array[Byte](((v >> 21) & 0x7f).toByte,
          ((v >> 14) & 0x7f).toByte, ((v >> 7) & 0x7f).toByte,
          (v & 0x7f).toByte)
        def a(x: String) = x.getBytes("ISO-8859-1")
        val title = s"T$g"
        val artist = s"A${g % 7}"
        def comments(vendor: String): Array[Byte] = {
          val out = new java.io.ByteArrayOutputStream()
          out.write(le32(vendor.length)); out.write(a(vendor))
          out.write(le32(2))
          Seq(s"TITLE=$title", s"ARTIST=$artist").foreach { kv =>
            out.write(le32(kv.length)); out.write(a(kv))
          }
          out.toByteArray
        }
        (g % 4) match {
          case 0 =>
            def frame(fid: String, v: String) =
              a(fid) ++ be32(v.length + 1) ++ Array[Byte](0, 0, 0) ++ a(v)
            val frames = frame("TIT2", title) ++ frame("TPE1", artist)
            a("ID3") ++ Array[Byte](3, 0, 0) ++
              syncsafe(frames.length) ++ frames
          case 1 =>
            val base = graft.expr.FlacBuild.encode(
              Array(Array.tabulate(64)(k => (k % 7) - 3)), 8000, 16, 64,
              "indep", "fixed1", partOrder = 0)
            base(4) = (base(4) & 0x7f).toByte
            val cb = comments("gv")
            val block = Array[Byte](0x84.toByte,
              ((cb.length >> 16) & 0xff).toByte,
              ((cb.length >> 8) & 0xff).toByte,
              (cb.length & 0xff).toByte) ++ cb
            base.take(42) ++ block ++ base.drop(42)
          case 2 =>
            val commentPkt = Array[Byte](3) ++ a("vorbis") ++
              comments("ov") ++ Array[Byte](1)
            graft.expr.VorbisBuild.page(7, 0, 0, 0x02,
                Seq(graft.expr.VorbisBuild.idHeader(1, 8000))) ++
              graft.expr.VorbisBuild.page(7, 1, 0, 0, Seq(commentPkt))
          case _ =>
            def info(iid: String, v: String) = {
              val vb = a(v) ++ Array[Byte](0)
              a(iid) ++ le32(vb.length) ++ vb ++
                (if (vb.length % 2 == 1) Array[Byte](0)
                 else Array.emptyByteArray)
            }
            val infoBody = a("INFO") ++ info("INAM", title) ++
              info("IART", artist)
            val fmt = a("fmt ") ++ le32(16) ++
              Array[Byte](1, 0, 1, 0) ++ le32(8000) ++ le32(16000) ++
              Array[Byte](2, 0, 16, 0)
            val data = a("data") ++ le32(2) ++ Array[Byte](0, 0)
            val body = a("WAVE") ++ fmt ++
              a("LIST") ++ le32(infoBody.length) ++ infoBody ++ data
            a("RIFF") ++ le32(body.length) ++ body
        }
      }
      val id = col("doc_id")
      tp(s, dir, "documents")
        .select(id.as("media_id"),
          explode(call_function(graft.expr.AudioTags.FunctionName,
            gen(id))).as(Seq("tag_key", "tag_value")))
    }),

    // Image-container tag extraction across all four tag systems
    // (JPEG Exif APP1 + COM, PNG tEXt/zTXt, GIF comment extension,
    // WEBP EXIF chunk) through graft_image_tags — q203's image
    // sibling; the zTXt arm round-trips java.util.zip deflate so the
    // oracle replays VALUES while the bytes stay codec-private.
    "q204_image_tags" -> ((s, dir) => {
      Graft.tune(s)
      val gen = udf { (g: Long) =>
        def a(x: String) = x.getBytes("ISO-8859-1")
        val make = s"M${g % 7}"
        val model = s"X$g"
        val comment = s"C${g % 5}"
        def tiffLE: Array[Byte] = {
          // two ASCII entries; values inline when ≤4 incl. NUL, else
          // in the data area after the IFD
          val out = new java.io.ByteArrayOutputStream()
          val mk = a(make) :+ 0.toByte
          val md = a(model) :+ 0.toByte
          val dataOff = 8 + 2 + 2 * 12 + 4
          out.write(a("II")); out.write(Array[Byte](42, 0))
          out.write(le32(8))
          out.write(le16(2))
          val blobs = new java.io.ByteArrayOutputStream()
          Seq(0x010f -> mk, 0x0110 -> md).foreach { case (tag, vb) =>
            out.write(le16(tag)); out.write(le16(2))
            out.write(le32(vb.length))
            if (vb.length <= 4) {
              out.write(vb)
              var i = vb.length
              while (i < 4) { out.write(0); i += 1 }
            } else {
              out.write(le32(dataOff + blobs.size()))
              blobs.write(vb)
            }
          }
          out.write(le32(0))
          out.write(blobs.toByteArray)
          out.toByteArray
        }
        (g % 4) match {
          case 0 =>
            def chunk(typ: String, data: Array[Byte]) =
              be32(data.length) ++ a(typ) ++ data ++ be32(0)
            def deflate(sb: Array[Byte]) = {
              val d = new java.util.zip.Deflater()
              d.setInput(sb); d.finish()
              val o = new java.io.ByteArrayOutputStream()
              val buf = new Array[Byte](256)
              while (!d.finished()) o.write(buf, 0, d.deflate(buf))
              d.end(); o.toByteArray
            }
            Array[Byte](0x89.toByte) ++ a("PNG\r\n") ++
              Array[Byte](0x1a, 0x0a) ++
              chunk("IHDR", be32(1) ++ be32(1) ++
                Array[Byte](8, 0, 0, 0, 0)) ++
              chunk("tEXt", a("Title") ++ Array[Byte](0) ++ a(model)) ++
              chunk("zTXt", a("Author") ++ Array[Byte](0, 0) ++
                deflate(a(make))) ++
              chunk("IEND", Array.emptyByteArray)
          case 1 =>
            val exif = a("Exif") ++ Array[Byte](0, 0) ++ tiffLE
            val com = a(comment)
            Array[Byte](0xff.toByte, 0xd8.toByte) ++
              Array[Byte](0xff.toByte, 0xe1.toByte,
                ((exif.length + 2) >> 8).toByte,
                ((exif.length + 2) & 0xff).toByte) ++ exif ++
              Array[Byte](0xff.toByte, 0xfe.toByte, 0,
                (com.length + 2).toByte) ++ com ++
              Array[Byte](0xff.toByte, 0xd9.toByte)
          case 2 =>
            a("GIF89a") ++ le16(1) ++ le16(1) ++ Array[Byte](0, 0, 0) ++
              Array[Byte](0x21, 0xfe.toByte, comment.length.toByte) ++
              a(comment) ++ Array[Byte](0, 0x3b)
          case _ =>
            val exif = a("EXIF") ++ le32(tiffLE.length) ++ tiffLE ++
              (if (tiffLE.length % 2 == 1) Array[Byte](0)
               else Array.emptyByteArray)
            a("RIFF") ++ le32(4 + exif.length) ++ a("WEBP") ++ exif
        }
      }
      val id = col("doc_id")
      tp(s, dir, "documents")
        .select(id.as("media_id"),
          explode(call_function(graft.expr.ImageTags.FunctionName,
            gen(id))).as(Seq("tag_key", "tag_value")))
    }),

    // Video-container tag extraction (MP4 iTunes-style ilst + AVI
    // RIFF INFO) through graft_video_tags — the tag trilogy's video
    // leg, q203/q204's sibling with the same explode shape.
    "q205_video_tags" -> ((s, dir) => {
      Graft.tune(s)
      val gen = udf { (g: Long) =>
        def a(x: String) = x.getBytes("ISO-8859-1")
        def boxB(typ: Array[Byte], payload: Array[Byte]) =
          be32(8 + payload.length) ++ typ ++ payload
        def box(typ: String, payload: Array[Byte]) = boxB(a(typ), payload)
        def dataBox(text: String) = {
          val tb = text.getBytes("UTF-8")
          be32(16 + tb.length) ++ a("data") ++ be32(1) ++ be32(0) ++ tb
        }
        val title = s"T$g"
        val artist = s"A${g % 7}"
        if (g % 2 == 0) {
          val nam = Array(0xA9.toByte) ++ a("nam")
          val art = Array(0xA9.toByte) ++ a("ART")
          val ilst = box("ilst", boxB(nam, dataBox(title)) ++
            boxB(art, dataBox(artist)))
          val meta = box("meta", be32(0) ++ ilst)
          box("ftyp", a("isom") ++ be32(0) ++ a("isomiso2")) ++
            box("moov", box("udta", meta))
        } else {
          def info(iid: String, v: String) = {
            val vb = a(v) :+ 0.toByte
            a(iid) ++ le32(vb.length) ++ vb ++
              (if (vb.length % 2 == 1) Array[Byte](0)
               else Array.emptyByteArray)
          }
          val infoBody = a("INFO") ++ info("INAM", title) ++
            info("IART", artist)
          val body = a("AVI ") ++
            a("LIST") ++ le32(infoBody.length) ++ infoBody
          a("RIFF") ++ le32(body.length) ++ body
        }
      }
      val id = col("doc_id")
      tp(s, dir, "documents")
        .select(id.as("media_id"),
          explode(call_function(graft.expr.VideoTags.FunctionName,
            gen(id))).as(Seq("tag_key", "tag_value")))
    }),

    // TAR archive → per-file document rows through graft_tar_entries
    // (WarcRecords' archive sibling): each doc ships a source-dump
    // tar — plain on even ids, gzip'd on odd — carrying K text files,
    // a directory entry the walk skips and a GNU long-name file; the
    // explode yields the document tier's input rows, all relational.
    "q206_tar_documents" -> ((s, dir) => {
      Graft.tune(s)
      val gen = udf { (g: Long) =>
        def file(name: String, c: Array[Byte]): Array[Byte] = {
          val pad = (512 - c.length % 512) % 512
          tarHeader(name, c.length, '0') ++ c ++ new Array[Byte](pad)
        }
        val out = new java.io.ByteArrayOutputStream()
        val k = (g % 4 + 2).toInt
        var j = 0
        while (j < k) {
          out.write(file(s"src/f$j.txt", s"c${g}_$j".getBytes("UTF-8")))
          j += 1
        }
        out.write(tarHeader("src/sub/", 0, '5')) // directory: skipped
        val longName = "long/" + ("p" * 120) + g
        val nb = longName.getBytes("UTF-8")
        val pad = (512 - nb.length % 512) % 512
        out.write(tarHeader("././@LongLink", nb.length, 'L'))
        out.write(nb); out.write(new Array[Byte](pad))
        out.write(file("short", s"L$g".getBytes("UTF-8")))
        out.write(new Array[Byte](1024))
        val plain = out.toByteArray
        if (g % 2 == 1) {
          val bos = new java.io.ByteArrayOutputStream()
          val z = new java.util.zip.GZIPOutputStream(bos)
          z.write(plain); z.close(); bos.toByteArray
        } else plain
      }
      val id = col("doc_id")
      tp(s, dir, "documents")
        .select(id.as("file_id"),
          explode(call_function(graft.expr.TarEntries.FunctionName,
            gen(id), lit(64))).as("e"))
        .select(col("file_id"), col("e.path").as("path"),
          col("e.size").as("size"),
          decode(col("e.content"), "UTF-8").as("text"))
    }),

    // ZIP archive → per-file document rows through graft_zip_entries
    // — q206's zip sibling over the SAME oracle shape; the fixture
    // is written by the JDK's zip encoder, so the gate doubles as an
    // independent-writer differential for the hand local-header walk.
    "q207_zip_documents" -> ((s, dir) => {
      Graft.tune(s)
      val gen = udf { (g: Long) =>
        val bos = new java.io.ByteArrayOutputStream()
        val z = new java.util.zip.ZipOutputStream(bos)
        val k = (g % 4 + 2).toInt
        var j = 0
        while (j < k) {
          z.putNextEntry(new java.util.zip.ZipEntry(s"src/f$j.txt"))
          z.write(s"c${g}_$j".getBytes("UTF-8"))
          z.closeEntry()
          j += 1
        }
        z.putNextEntry(new java.util.zip.ZipEntry("src/sub/"))
        z.closeEntry() // directory: skipped by the walk
        z.close()
        bos.toByteArray
      }
      val id = col("doc_id")
      tp(s, dir, "documents")
        .select(id.as("file_id"),
          explode(call_function(graft.expr.ZipEntries.FunctionName,
            gen(id))).as("e"))
        .select(col("file_id"), col("e.path").as("path"),
          col("e.size").as("size"),
          decode(col("e.content"), "UTF-8").as("text"))
    }),

    // tar.bz2 → per-file documents: q206's bzip2 arm through the
    // CLEAN-ROOM bzip2 decoder (auto-detected by TarEntries' magic
    // dispatch) — the source-dump format trifecta (tar, tar.gz,
    // tar.bz2) all landing on one explode shape.
    "q208_tar_bz2_documents" -> ((s, dir) => {
      Graft.tune(s)
      val gen = udf { (g: Long) =>
        val out = new java.io.ByteArrayOutputStream()
        val k = (g % 4 + 2).toInt
        var j = 0
        while (j < k) {
          val c = s"c${g}_$j".getBytes("UTF-8")
          val pad = (512 - c.length % 512) % 512
          out.write(tarHeader(s"src/f$j.txt", c.length, '0'))
          out.write(c); out.write(new Array[Byte](pad))
          j += 1
        }
        out.write(new Array[Byte](1024))
        graft.expr.Bzip2Build.encode(out.toByteArray, 1)
      }
      val id = col("doc_id")
      tp(s, dir, "documents")
        .select(id.as("file_id"),
          explode(call_function(graft.expr.TarEntries.FunctionName,
            gen(id), lit(64))).as("e"))
        .select(col("file_id"), col("e.path").as("path"),
          col("e.size").as("size"),
          decode(col("e.content"), "UTF-8").as("text"))
    }),

    // Wikipedia-dump-style ingestion: a bz2-compressed text payload
    // per doc through graft_bunzip2 — the standalone expression gate
    // (q208 covers the tar composition; this one the raw dump shape).
    "q209_bz2_text" -> ((s, dir) => {
      Graft.tune(s)
      val gen = udf { (g: Long) =>
        val text = s"<page><title>P$g</title><text>" +
          (s"w${g % 97} " * ((g % 5).toInt + 1)) + "</text></page>"
        graft.expr.Bzip2Build.encode(text.getBytes("UTF-8"), 1)
      }
      val id = col("doc_id")
      tp(s, dir, "documents")
        .select(id.as("doc_id2"),
          decode(call_function(graft.expr.Bunzip2Expr.FunctionName,
            gen(id)), "UTF-8").as("text"))
        .select(col("doc_id2").as("doc_id"), col("text"),
          length(col("text")).as("n_chars"))
    }),

    // tar.xz → per-file documents: the compression trifecta's third
    // leg through the clean-room XZ/LZMA2 decoder (TarEntries magic
    // dispatch; the fixture writer stores uncompressed LZMA2 chunks
    // in a full container — reference `xz -t` accepts it — while the
    // compressed LZMA path is pinned by XzSpec's real-tool streams).
    "q210_tar_xz_documents" -> ((s, dir) => {
      Graft.tune(s)
      val gen = udf { (g: Long) =>
        val out = new java.io.ByteArrayOutputStream()
        val k = (g % 4 + 2).toInt
        var j = 0
        while (j < k) {
          val c = s"c${g}_$j".getBytes("UTF-8")
          val pad = (512 - c.length % 512) % 512
          out.write(tarHeader(s"src/f$j.txt", c.length))
          out.write(c); out.write(new Array[Byte](pad))
          j += 1
        }
        out.write(new Array[Byte](1024))
        graft.expr.XzBuild.store(out.toByteArray)
      }
      val id = col("doc_id")
      tp(s, dir, "documents")
        .select(id.as("file_id"),
          explode(call_function(graft.expr.TarEntries.FunctionName,
            gen(id), lit(64))).as("e"))
        .select(col("file_id"), col("e.path").as("path"),
          col("e.size").as("size"),
          decode(col("e.content"), "UTF-8").as("text"))
    }),

    // tar.zst → per-file documents: the archive tier's fourth
    // compression arm through the clean-room Zstandard decoder
    // (TarEntries magic dispatch; the fixture writer stores raw
    // blocks in a full frame with declared content size + xxh64
    // checksum — both verified by the decoder — while the
    // FSE/Huffman compressed paths are pinned by ZstdSpec's
    // real-tool streams at levels 1–19).
    "q211_tar_zst_documents" -> ((s, dir) => {
      Graft.tune(s)
      val gen = udf { (g: Long) =>
        val out = new java.io.ByteArrayOutputStream()
        val k = (g % 4 + 2).toInt
        var j = 0
        while (j < k) {
          val c = s"c${g}_$j".getBytes("UTF-8")
          val pad = (512 - c.length % 512) % 512
          out.write(tarHeader(s"src/f$j.txt", c.length))
          out.write(c); out.write(new Array[Byte](pad))
          j += 1
        }
        out.write(new Array[Byte](1024))
        graft.expr.ZstdBuild.store(out.toByteArray)
      }
      val id = col("doc_id")
      tp(s, dir, "documents")
        .select(id.as("file_id"),
          explode(call_function(graft.expr.TarEntries.FunctionName,
            gen(id), lit(64))).as("e"))
        .select(col("file_id"), col("e.path").as("path"),
          col("e.size").as("size"),
          decode(col("e.content"), "UTF-8").as("text"))
    }),

    // Mixed document dump: one corpus, TEN formats (PDF, DOCX, RTF,
    // EPUB, legacy .doc, PPTX, XLSX, legacy .xls, legacy .ppt, ODF
    // odt) through ONE magic-dispatched graft_document_text — the
    // extraction analogue of q216's decompress dispatch.
    // Whitespace-normalized so the extractors' newline/tab
    // conventions collapse to one oracle form.
    "q218_documents_mixed" -> ((s, dir) => {
      Graft.tune(s)
      val gen = udf { (g: Long, safe: String) =>
        def zipOf(entries: (String, String)*): Array[Byte] = {
          val bos = new java.io.ByteArrayOutputStream()
          val z = new java.util.zip.ZipOutputStream(bos)
          entries.foreach { case (n, c) =>
            z.putNextEntry(new java.util.zip.ZipEntry(n))
            z.write(c.getBytes("UTF-8")); z.closeEntry()
          }
          z.close(); bos.toByteArray
        }
        (g % 10).toInt match {
          case 0 => // PDF: raw content stream, two text lines
            val content = s"BT /F1 12 Tf ($safe) Tj T* (page $g) Tj ET"
            ascii("%PDF-1.4\n" +
              s"4 0 obj << /Length ${content.length} >> stream\n" +
              content + "\nendstream endobj\n" +
              "trailer << /Root 1 0 R >>\n%%EOF\n")
          case 7 => // legacy BIFF8 .xls: two shared-string rows
            graft.expr.LegacyOfficeBuild.xls(Seq(Seq(
              Seq(graft.expr.LegacyOfficeBuild.S(safe)),
              Seq(graft.expr.LegacyOfficeBuild.S(s"page $g")))))
          case 8 => // legacy PowerPoint 97: two paragraphs
            graft.expr.LegacyOfficeBuild.ppt(Seq(Seq(safe, s"page $g")))
          case 9 => // ODF odt: two paragraphs, stored mimetype
            val O = "urn:oasis:names:tc:opendocument:xmlns:office:1.0"
            val T = "urn:oasis:names:tc:opendocument:xmlns:text:1.0"
            val bos = new java.io.ByteArrayOutputStream()
            val z = new java.util.zip.ZipOutputStream(bos)
            val mb = "application/vnd.oasis.opendocument.text"
              .getBytes("UTF-8")
            val e = new java.util.zip.ZipEntry("mimetype")
            e.setMethod(java.util.zip.ZipEntry.STORED)
            e.setSize(mb.length); e.setCompressedSize(mb.length)
            val crc = new java.util.zip.CRC32(); crc.update(mb)
            e.setCrc(crc.getValue)
            z.putNextEntry(e); z.write(mb); z.closeEntry()
            z.putNextEntry(new java.util.zip.ZipEntry("content.xml"))
            z.write((s"""<office:document-content xmlns:office="$O"""" +
              s""" xmlns:text="$T"><office:body><office:text>""" +
              s"<text:p>$safe</text:p><text:p>page $g</text:p>" +
              "</office:text></office:body></office:document-content>")
              .getBytes("UTF-8"))
            z.closeEntry(); z.close(); bos.toByteArray
          case 1 => // DOCX: OPC zip, two paragraphs
            zipOf("word/document.xml" ->
              ("<w:document xmlns:w=\"http://schemas.openxmlformats.org" +
                s"/wordprocessingml/2006/main\"><w:body><w:p><w:r><w:t>" +
                s"$safe</w:t></w:r></w:p><w:p><w:r><w:t>page $g</w:t>" +
                "</w:r></w:p></w:body></w:document>"))
          case 2 => // RTF
            ascii(s"{\\rtf1 $safe\\par page $g\\par}")
          case 3 => // EPUB: container -> OPF -> one chapter
            zipOf(
              "mimetype" -> "application/epub+zip",
              "META-INF/container.xml" ->
                ("<container><rootfiles><rootfile full-path=\"content.opf\"" +
                  " media-type=\"application/oebps-package+xml\"/>" +
                  "</rootfiles></container>"),
              "content.opf" ->
                ("<package><manifest><item id=\"c1\" href=\"ch1.xhtml\"" +
                  " media-type=\"application/xhtml+xml\"/></manifest>" +
                  "<spine><itemref idref=\"c1\"/></spine></package>"),
              "ch1.xhtml" ->
                s"<html><body><p>$safe</p><p>page $g</p></body></html>")
          case 4 => // legacy .doc
            graft.expr.DocBuild.doc(Seq((s"$safe\rpage $g\r", true)))
          case 5 => // PPTX: one slide, two paragraphs
            val a = "http://schemas.openxmlformats.org/drawingml/2006/main"
            zipOf("ppt/slides/slide1.xml" ->
              (s"<p:sld xmlns:p=\"x:p\" xmlns:a=\"$a\"><p:txBody>" +
                s"<a:p><a:r><a:t>$safe</a:t></a:r></a:p>" +
                s"<a:p><a:r><a:t>page $g</a:t></a:r></a:p>" +
                "</p:txBody></p:sld>"))
          case _ => // XLSX: two rows of inline strings
            val sx =
              "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
            zipOf("xl/worksheets/sheet1.xml" ->
              (s"<worksheet xmlns=\"$sx\"><sheetData>" +
                s"<row><c t=\"inlineStr\"><is><t>$safe</t></is></c></row>" +
                s"<row><c t=\"inlineStr\"><is><t>page $g</t></is></c>" +
                "</row></sheetData></worksheet>"))
        }
      }
      val id = col("doc_id")
      // lowercase alnum+space only: safe in PDF strings, RTF groups,
      // XML text and CP1252 pieces alike
      val safe = substring(regexp_replace(
        lower(coalesce(col("text"), lit(""))), "[^a-z0-9 ]", " "), 1, 80)
      val extracted = call_function(graft.expr.DocumentText.FunctionName,
        gen(id, safe))
      tp(s, dir, "documents").select(id.as("doc_id"),
        substring(trim(regexp_replace(extracted, "\\s+", " ")), 1, 160)
          .as("doc_text"))
    }),

    // Archive-of-documents composition: a .tar.zst whose members are
    // THEMSELVES documents (PDF / DOCX / RTF), the real shape of a
    // source-dump drop — clean-room zstd → tar walk → explode →
    // magic-dispatched extraction, three round-15 tiers in ONE
    // single-scan plan with no join-back.
    "q219_archived_documents" -> ((s, dir) => {
      Graft.tune(s)
      val gen = udf { (g: Long, safe: String) =>
        def rtfDoc(line: String): Array[Byte] =
          ascii(s"{\\rtf1 $line\\par}")
        val out = new java.io.ByteArrayOutputStream()
        Seq("a.pdf" -> pdfDoc(s"$safe pdf $g"),
          "b.docx" -> docxDoc(s"$safe docx $g"),
          "c.rtf" -> rtfDoc(s"$safe rtf $g")).foreach { case (n, c) =>
          out.write(tarHeader(s"docs/$n", c.length))
          out.write(c)
          out.write(new Array[Byte]((512 - c.length % 512) % 512))
        }
        out.write(new Array[Byte](1024))
        graft.expr.ZstdBuild.store(out.toByteArray)
      }
      val id = col("doc_id")
      val safe = substring(regexp_replace(
        lower(coalesce(col("text"), lit(""))), "[^a-z0-9 ]", " "), 1, 40)
      tp(s, dir, "documents")
        .select(id.as("file_id"),
          explode(call_function(graft.expr.TarEntries.FunctionName,
            gen(id, safe), lit(16))).as("e"))
        .select(col("file_id"), col("e.path").as("path"),
          substring(trim(regexp_replace(
            call_function(graft.expr.DocumentText.FunctionName,
              col("e.content")), "\\s+", " ")), 1, 120).as("doc_text"))
    }),

    // Legacy-office corpus: BIFF8 .xls (SST shared strings spilling
    // into CONTINUE, RK-packed ints, IEEE NUMBER cells, multi-sheet)
    // and PowerPoint-97 .ppt (TextBytesAtom/TextCharsAtom) built by
    // the independent LegacyOfficeBuild writer, all through the ONE
    // magic-dispatched graft_document_text — the CFB arm routes by
    // directory-entry name. The oracle replays each arm's text
    // construction relationally (row/tab and paragraph conventions).
    "q220_legacy_office" -> ((s, dir) => {
      Graft.tune(s)
      import graft.expr.LegacyOfficeBuild.{FNum, FStr, I, N, S => LS}
      val gen = udf { (g: Long, safe: String) =>
        (g % 5).toInt match {
          case 0 => // .xls: shared strings + RK int + NUMBER (x.5)
            graft.expr.LegacyOfficeBuild.xls(Seq(Seq(
              Seq(LS(safe), I((g % 89).toInt)),
              Seq(LS("total"), N((g % 13).toDouble + 0.5)))),
              maxSstData = 64)
          case 1 => // .ppt: two paragraphs, one per line
            graft.expr.LegacyOfficeBuild.ppt(Seq(Seq(safe, s"slide $g")))
          case 2 => // .xls multi-sheet with a UTF-16 SST tail
            graft.expr.LegacyOfficeBuild.xls(Seq(
              Seq(Seq(LS(safe))),
              Seq(Seq(LS("unicode é中 tail"), I((g % 7).toInt)))),
              maxSstData = 64)
          case 3 => // BIFF5 Book stream with FORMULA cached results
            graft.expr.LegacyOfficeBuild.xls5(Seq(Seq(
              Seq(LS(safe), FNum((g % 89).toDouble)),
              Seq(LS("total"), FStr(s"f${g % 7}")))))
          case _ => // incrementally-saved .ppt: the stale slide text
            // stays in the stream; only the live edit may extract
            graft.expr.LegacyOfficeBuild.pptIncremental(Seq(
              Seq(2 -> Seq("stale draft title")),
              Seq(2 -> Seq(safe), 3 -> Seq(s"slide $g"))))
        }
      }
      val id = col("doc_id")
      val safe = concat(lit("body "), substring(regexp_replace(
        lower(coalesce(col("text"), lit(""))), "[^a-z0-9 ]", " "), 1, 60))
      val extracted = call_function(graft.expr.DocumentText.FunctionName,
        gen(id, safe))
      tp(s, dir, "documents").select(id.as("doc_id"),
        substring(extracted, 1, 200).as("office_text"))
    }),

    // arXiv-style source bundles: per-paper .tar.gz of TeX sources +
    // figure binaries — the tar walk explodes, the ONE dispatch
    // routes .tex through the LaTeX prose extractor (sections line,
    // math/references drop, wrappers unwrap) while the figure binary
    // triages NULL and filters in-plan. The normalization wrapper
    // (ws-collapse) is applied on BOTH sides as in every document
    // query, so the oracle replays the prose relationally.
    "q235_arxiv_bundles" -> ((s, dir) => {
      Graft.tune(s)
      val gen = udf { (g: Long, safe: String) =>
        val tex = "\\documentclass{article}\n" +
          "% generated fixture\n" +
          "\\usepackage{amsmath}\n" +
          "\\begin{document}\n" +
          s"\\section{Intro ${g % 7}}\n" +
          s"We \\emph{note} that $$x_$g > 0$$ always: $safe end $g.\n" +
          "\\end{document}\n"
        gz(tarOf(Seq(
          s"paper$g/main.tex" -> ascii(tex),
          s"paper$g/fig1.png" -> Array[Byte](1, 2, 3, 4, 5, 6, 7, 8))))
      }
      val id = col("doc_id")
      val safe = substring(regexp_replace(
        lower(coalesce(col("text"), lit(""))), "[^a-z0-9 ]", " "), 1, 40)
      tp(s, dir, "documents")
        .select(id.as("file_id"),
          explode(call_function(graft.expr.TarEntries.FunctionName,
            gen(id, safe), lit(16))).as("e"))
        .select(col("file_id"), col("e.path").as("path"),
          substring(trim(regexp_replace(
            call_function(graft.expr.DocumentText.FunctionName,
              col("e.content")), "\\s+", " ")), 1, 160).as("tex_text"))
        .where(col("tex_text").isNotNull)
    }),

    // .tar.Z — Unix compress, the LAST classic member of the
    // decompress dispatch: old source dumps still ship it. The LZW
    // writer here is the independent CompressBuild (its output is
    // ALSO accepted by the real uncompress in LzwSpec; the read
    // direction is pinned by real libarchive .tar.Z fixtures);
    // periodic CLEAR codes exercise the eight-code realign in-plan.
    "q234_tar_z_documents" -> ((s, dir) => {
      Graft.tune(s)
      val gen = udf { (g: Long, safe: String) =>
        val tar = tarOf(Seq(
          "old/a.rtf" -> ascii(s"{\\rtf1 $safe rtf $g\\par}"),
          "old/b.rtf" -> ascii(s"{\\rtf1 second $g\\par}")))
        graft.expr.CompressBuild.compress(tar,
          clearEvery = if (g % 2 == 0) 0 else 192)
      }
      val id = col("doc_id")
      val safe = substring(regexp_replace(
        lower(coalesce(col("text"), lit(""))), "[^a-z0-9 ]", " "), 1, 40)
      tp(s, dir, "documents")
        .select(id.as("file_id"),
          explode(call_function(graft.expr.TarEntries.FunctionName,
            gen(id, safe), lit(16))).as("e"))
        .select(col("file_id"), col("e.path").as("path"),
          substring(trim(regexp_replace(
            call_function(graft.expr.DocumentText.FunctionName,
              col("e.content")), "\\s+", " ")), 1, 120).as("doc_text"))
    }),

    // Debian packages: .deb = ar(debian-binary, control.tar.*,
    // data.tar.*) — the ar walk surfaces the members, the data tar
    // front-decompresses through the shared tar dispatch, and the
    // payload documents extract: package → ar → tar.gz → document in
    // one single-scan plan (source-dump corpora carry .deb files
    // directly; the ar walk itself is pinned against real
    // binutils/dpkg-deb output in ArCpioSpec).
    "q232_deb_documents" -> ((s, dir) => {
      Graft.tune(s)
      val gen = udf { (g: Long, safe: String) =>
        val control = tarOf(Seq("./control" ->
          ascii(s"Package: p$g\nVersion: 1.0\n")))
        val data = tarOf(Seq(
          "./usr/share/doc/readme.rtf" ->
            ascii(s"{\\rtf1 $safe rtf $g\\par}"),
          "./usr/share/doc/spec.pdf" -> pdfDoc(s"p $safe $g")))
        graft.expr.ArBuild.ar(Seq(
          "debian-binary" -> ascii("2.0\n"),
          "control.tar.gz" -> gz(control),
          "data.tar.gz" -> gz(data)))
      }
      val id = col("doc_id")
      val safe = substring(regexp_replace(
        lower(coalesce(col("text"), lit(""))), "[^a-z0-9 ]", " "), 1, 40)
      tp(s, dir, "documents")
        .select(id.as("file_id"),
          explode(call_function(graft.expr.ArEntries.FunctionName,
            gen(id, safe), lit(8))).as("m"))
        .where(col("m.path").startsWith("data.tar"))
        .select(col("file_id"),
          explode(call_function(graft.expr.TarEntries.FunctionName,
            col("m.content"), lit(16))).as("e"))
        .select(col("file_id"), col("e.path").as("path"),
          substring(trim(regexp_replace(
            call_function(graft.expr.DocumentText.FunctionName,
              col("e.content")), "\\s+", " ")), 1, 120).as("doc_text"))
    }),

    // RPM-payload-style cpio shards: newc archives (gzipped, the
    // rpm2cpio convention) alternate with crc-form archives whose
    // per-file byte sums the walk VERIFIES in-plan; payload
    // documents extract through the dispatch. Pinned against real
    // bsdtar newc/odc output in ArCpioSpec.
    "q233_cpio_documents" -> ((s, dir) => {
      Graft.tune(s)
      val gen = udf { (g: Long, safe: String) =>
        val entries = Seq(
          "docs/a.rtf" -> ascii(s"{\\rtf1 $safe rtf $g\\par}"),
          "docs/b.docx" -> {
            val bos = new java.io.ByteArrayOutputStream()
            val z = new java.util.zip.ZipOutputStream(bos)
            z.putNextEntry(new java.util.zip.ZipEntry("word/document.xml"))
            z.write(("<w:document xmlns:w=\"http://schemas.openxml" +
              "formats.org/wordprocessingml/2006/main\"><w:body><w:p>" +
              s"<w:r><w:t>d $safe $g</w:t></w:r></w:p></w:body>" +
              "</w:document>").getBytes("UTF-8"))
            z.closeEntry(); z.close(); bos.toByteArray
          })
        if (g % 2 == 0)
          gz(graft.expr.ArBuild.cpio(entries))
        else graft.expr.ArBuild.cpio(entries, crcForm = true)
      }
      val id = col("doc_id")
      val safe = substring(regexp_replace(
        lower(coalesce(col("text"), lit(""))), "[^a-z0-9 ]", " "), 1, 40)
      tp(s, dir, "documents")
        .select(id.as("file_id"),
          explode(call_function(graft.expr.CpioEntries.FunctionName,
            gen(id, safe), lit(16))).as("e"))
        .select(col("file_id"), col("e.path").as("path"),
          substring(trim(regexp_replace(
            call_function(graft.expr.DocumentText.FunctionName,
              col("e.content")), "\\s+", " ")), 1, 120).as("doc_text"))
    }),

    // Contact/calendar corpus: vCard exports (single and multi-card)
    // and iCalendar files through the ONE magic-dispatched
    // graft_document_text — the content-line tier next to mail. All
    // construction RELATIONAL (Column-only, no udf): the fixtures
    // are the wire text itself, so the oracle replays the extraction
    // conventions (property whitelist in document order, blank line
    // between cards/components) directly.
    "q231_contact_calendar" -> ((s, dir) => {
      Graft.tune(s)
      val id = col("doc_id")
      val idB = encode(id.cast("string"), "UTF-8").cast(BinaryType)
      val safe = substring(regexp_replace(
        lower(coalesce(col("text"), lit(""))), "[^a-z0-9 ]", " "), 1, 40)
      val safeB = encode(safe, "UTF-8").cast(BinaryType)
      val m7 = encode((id % 7).cast("string"), "UTF-8").cast(BinaryType)
      val m5 = encode((id % 5).cast("string"), "UTF-8").cast(BinaryType)
      val vcardSingle = concat(
        asciiLit("BEGIN:VCARD\nVERSION:3.0\nFN:user "), idB,
        asciiLit("\nORG:o "), safeB, asciiLit(" e\nEMAIL:u"), idB,
        asciiLit("@example.org\nPHOTO;ENCODING=b:AAAA\nEND:VCARD\n"))
      val vcardMulti = concat(
        asciiLit("BEGIN:VCARD\nFN:first "), idB,
        asciiLit("\nEND:VCARD\nBEGIN:VCARD\nFN:second "), m7,
        asciiLit("\nNOTE:n "), safeB, asciiLit(" e\nEND:VCARD\n"))
      val ics = concat(
        asciiLit("BEGIN:VCALENDAR\nVERSION:2.0\nBEGIN:VEVENT\nUID:u@x\n" +
          "DTSTART:20260817T090000Z\nSUMMARY:ev "), m7,
        asciiLit("\nDESCRIPTION:d "), safeB, asciiLit(" e\nLOCATION:room "),
        m5, asciiLit("\nEND:VEVENT\nEND:VCALENDAR\n"))
      val blob = when(id % 3 === 0, vcardSingle)
        .when(id % 3 === 1, vcardMulti)
        .otherwise(ics)
      tp(s, dir, "documents")
        .select(id.as("file_id"),
          substring(call_function(graft.expr.DocumentText.FunctionName,
            blob), 1, 200).as("card_text"))
    }),

    // .snappy shards, BOTH wire shapes: framed files (the hadoop
    // convention, stream-identifier magic) dispatch through
    // graft_decompress; RAW snappy payloads (the parquet-page shape,
    // NO magic) fall through to graft_unsnappy — the
    // coalesce(decompress, unsnappy) composition is exactly how a
    // mixed drop reads. The decoder is differentially pinned against
    // snappy-java (Spark's own parquet codec) in SnappySpec.
    "q230_jsonl_snappy_text" -> ((s, dir) => {
      Graft.tune(s)
      val gen = udf { (g: Long) =>
        val k = (g % 3 + 1).toInt
        val sb = new StringBuilder
        var j = 0
        while (j < k) {
          sb.append(s"""{"rec":$j,"text":"w${(g + j) % 97} sz end"}""")
          sb.append('\n')
          j += 1
        }
        val raw = sb.toString.getBytes("UTF-8")
        if (g % 2 == 0) graft.expr.SnappyBuild.framed(raw)
        else graft.expr.SnappyBuild.raw(raw)
      }
      val id = col("doc_id")
      val blob = gen(id)
      tp(s, dir, "documents")
        .select(id.as("file_id"),
          decode(coalesce(
            call_function(graft.expr.Decompress.FunctionName, blob),
            call_function(graft.expr.UnSnappyExpr.FunctionName, blob)),
            "UTF-8").as("raw"))
        .select(col("file_id"),
          explode(split(rtrim(col("raw"), "\n"), "\n")).as("line"))
        .select(col("file_id"),
          get_json_object(col("line"), "$.rec").cast("long").as("rec"),
          get_json_object(col("line"), "$.text").as("text"))
    }),

    // .jsonl.lz4 shards: the parquet/kafka-ecosystem light packaging,
    // rotating the three real wire shapes by row — a standard frame,
    // a frame with block checksums + declared content size (both
    // verified in-plan), and the legacy format — all through the ONE
    // magic-dispatched graft_decompress (q216's lz4 sibling; the
    // decoder itself is pinned against real lz4-1.9.4 streams in
    // Lz4Spec). The shard body repeats tokens so blocks carry real
    // matches, not literal-only runs.
    "q229_jsonl_lz4_text" -> ((s, dir) => {
      Graft.tune(s)
      val gen = udf { (g: Long) =>
        val k = (g % 3 + 1).toInt
        val sb = new StringBuilder
        var j = 0
        while (j < k) {
          sb.append(s"""{"rec":$j,"text":"w${(g + j) % 97} lz4 end"}""")
          sb.append('\n')
          j += 1
        }
        val raw = sb.toString.getBytes("UTF-8")
        (g % 3).toInt match {
          case 0 => graft.expr.Lz4Build.frame(raw)
          case 1 => graft.expr.Lz4Build.frame(raw, blockCk = true,
            contentSize = true)
          case _ => graft.expr.Lz4Build.legacy(raw)
        }
      }
      val id = col("doc_id")
      tp(s, dir, "documents")
        .select(id.as("file_id"),
          decode(call_function(graft.expr.Decompress.FunctionName,
            gen(id)), "UTF-8").as("raw"))
        .select(col("file_id"),
          explode(split(rtrim(col("raw"), "\n"), "\n")).as("line"))
        .select(col("file_id"),
          get_json_object(col("line"), "$.rec").cast("long").as("rec"),
          get_json_object(col("line"), "$.text").as("text"))
    }),

    // Exchange-mail composition: messages whose documents ride INSIDE
    // winmail.dat — an RFC-5322 message carries an application/ms-tnef
    // part; graft_eml_attachments surfaces it, graft_tnef_text reads
    // the encapsulated subject/body (alternating the plain-attribute
    // and MAPI-property encodings by row parity — extraction must be
    // identical), and graft_tnef_attachments surfaces the PDF (by
    // value, MAPI long-name preferred over the 8.3 title) and RTF
    // (a MAPI PidTagAttachDataBinary value), each extracted by
    // graft_document_text: mail → tnef → document in one plan.
    "q228_tnef_mail" -> ((s, dir) => {
      Graft.tune(s)
      val gen = udf { (g: Long, safe: String) =>
        val tnef = graft.expr.TnefBuild.tnef(s"tnef ${g % 7}",
          s"inner note $safe $g", viaMapi = g % 2 == 0,
          atts = Seq(
            graft.expr.TnefBuild.Attach("REPORT~1.PDF",
              longName = "report.pdf", mime = "application/pdf",
              content = pdfDoc(s"p $safe $g")),
            graft.expr.TnefBuild.Attach("readme.rtf",
              mime = "application/rtf",
              content = ascii(s"{\\rtf1 $safe rtf $g\\par}"),
              byValue = false)))
        val b64 = java.util.Base64.getMimeEncoder(60,
          "\n".getBytes("ISO-8859-1"))
        ascii(s"From: exch@example.com\nSubject: exch $g\n" +
          "MIME-Version: 1.0\n" +
          "Content-Type: multipart/mixed; boundary=tt\n\n" +
          s"--tt\nContent-Type: text/plain\n\ncover $g\n" +
          "--tt\nContent-Type: application/ms-tnef\n" +
          "Content-Disposition: attachment; filename=winmail.dat\n" +
          "Content-Transfer-Encoding: base64\n\n" +
          b64.encodeToString(tnef) + "\n--tt--\n")
      }
      val id = col("doc_id")
      val safe = substring(regexp_replace(
        lower(coalesce(col("text"), lit(""))), "[^a-z0-9 ]", " "), 1, 40)
      tp(s, dir, "documents")
        .select(id.as("file_id"),
          explode(call_function(graft.expr.EmlText.AttachmentsName,
            gen(id, safe), lit(8))).as("w"))
        .where(col("w.name") === "winmail.dat")
        .select(col("file_id"),
          substring(call_function(graft.expr.Tnef.FunctionName,
            col("w.content")), 1, 160).as("tnef_text"),
          explode(call_function(graft.expr.Tnef.AttachmentsName,
            col("w.content"), lit(8))).as("a"))
        .select(col("file_id"), col("tnef_text"),
          col("a.name").as("name"), col("a.mime").as("mime"),
          substring(trim(regexp_replace(
            call_function(graft.expr.DocumentText.FunctionName,
              col("a.content")), "\\s+", " ")), 1, 120).as("att_text"))
    }),

    // Outlook .msg corpus: compound-file messages (the [MS-OXMSG]
    // __substg1.0_ property streams + attachment storages MsgBuild
    // writes independently) — graft_document_text routes the CFB msg
    // arm for the message text (outer subject/body, then the embedded
    // message's, the rfc822 convention), and graft_msg_attachments
    // surfaces the by-value PDF plus the embedded message's DOCX
    // (nesting recursion), each extracted by graft_document_text:
    // msg → attachment → document in one single-scan plan. The CFB
    // directory-tree walk is load-bearing here — the two attachment
    // storages repeat their substream names.
    "q227_msg_corpus" -> ((s, dir) => {
      Graft.tune(s)
      val gen = udf { (g: Long, safe: String) =>
        val inner = graft.expr.MsgBuild.msgEntries(s"fwd ${g % 5}",
          s"inner $g",
          atts = Seq(("deep.docx", "application/vnd.openxmlformats-" +
            "officedocument.wordprocessingml.document",
            docxDoc(s"d $safe $g"))))
        graft.expr.MsgBuild.msg(s"msg ${g % 7}", s"note $safe end $g",
          atts = Seq(("report.pdf", "application/pdf",
            pdfDoc(s"p $safe $g"))),
          embedded = Seq(inner))
      }
      val id = col("doc_id")
      val safe = substring(regexp_replace(
        lower(coalesce(col("text"), lit(""))), "[^a-z0-9 ]", " "), 1, 40)
      val msgBytes = gen(id, safe)
      tp(s, dir, "documents")
        .select(id.as("file_id"),
          substring(call_function(graft.expr.DocumentText.FunctionName,
            msgBytes), 1, 160).as("msg_text"),
          explode(call_function(graft.expr.MsgText.AttachmentsName,
            msgBytes, lit(8))).as("a"))
        .select(col("file_id"), col("msg_text"),
          col("a.name").as("name"), col("a.mime").as("mime"),
          substring(trim(regexp_replace(
            call_function(graft.expr.DocumentText.FunctionName,
              col("a.content")), "\\s+", " ")), 1, 120).as("att_text"))
    }),

    // mboxcl mail dumps: qmail-style archives declare Content-Length
    // instead of escaping body "From " lines. The first message's
    // body carries a hostile unescaped "From " line after a blank
    // line — exactly where delimiter scanning would tear it — so the
    // counted split must win and keep the body verbatim. All
    // construction relational; the transport layer is transparent.
    "q226_mboxcl_corpus" -> ((s, dir) => {
      Graft.tune(s)
      val id = col("doc_id")
      val idB = encode(id.cast("string"), "UTF-8").cast(BinaryType)
      val body1 = concat(asciiLit("quote follows\n\nFrom the archive of "),
        idB, asciiLit("\nend quote\n"))
      val msg1 = concat(
        asciiLit("From: a@example.com\nSubject: cl "), idB,
        asciiLit("\nContent-Length: "),
        encode(length(body1.cast("string")).cast("string"), "UTF-8")
          .cast(BinaryType),
        asciiLit("\n\n"), body1)
      val msg2 = concat(asciiLit("From: b@example.com\nSubject: plain "),
        encode((id % 7).cast("string"), "UTF-8").cast(BinaryType),
        asciiLit("\n\nclosing body "), idB, asciiLit("\n"))
      val mbox = concat(asciiLit("From a Mon Jan  1 00:00:00 2026\n"), msg1,
        asciiLit("From b Mon Jan  1 00:01:00 2026\n"), msg2)
      tp(s, dir, "documents")
        .select(id.as("file_id"), posexplode(call_function(
          graft.expr.EmlText.MboxName, mbox, lit(8))))
        .select(col("file_id"), col("pos"),
          substring(call_function(graft.expr.EmlText.FunctionName,
            col("col")), 1, 160).as("mail_text"))
    }),

    // Mail-attachment composition: messages carry their documents —
    // a base64 PDF and DOCX as MIME attachment parts, plus a
    // pre-MIME uuencoded RTF block inside the inline text body.
    // graft_eml_attachments surfaces all three, graft_document_text
    // extracts each: mail → attachment → document in one single-scan
    // plan. The fixture uuencoder is independent of the decoder
    // (which is ALSO pinned against CPython binascii in EmlSpec);
    // the MIME/uuencode layers are transparent to the oracle.
    "q225_mail_attachments" -> ((s, dir) => {
      Graft.tune(s)
      val gen = udf { (g: Long, safe: String) =>
        // fixture-side uuencoder (backtick variant), independent of
        // the decode direction
        def uuencode(name: String, data: Array[Byte]): String = {
          def ch(v: Int): Char = if (v == 0) '`' else (0x20 + v).toChar
          val sb = new StringBuilder(s"begin 644 $name\n")
          var i = 0
          while (i < data.length) {
            val n = math.min(45, data.length - i)
            sb.append(ch(n))
            var j = 0
            while (j < n) {
              val b0 = data(i + j) & 0xff
              val b1 = if (j + 1 < n) data(i + j + 1) & 0xff else 0
              val b2 = if (j + 2 < n) data(i + j + 2) & 0xff else 0
              val w = (b0 << 16) | (b1 << 8) | b2
              sb.append(ch((w >> 18) & 0x3f)).append(ch((w >> 12) & 0x3f))
                .append(ch((w >> 6) & 0x3f)).append(ch(w & 0x3f))
              j += 3
            }
            sb.append('\n')
            i += n
          }
          sb.append("`\nend")
          sb.toString
        }
        val b64 = java.util.Base64.getMimeEncoder(60,
          "\n".getBytes("ISO-8859-1"))
        ascii(s"From: corpus@example.com\nSubject: docs $g\n" +
          "MIME-Version: 1.0\n" +
          "Content-Type: multipart/mixed; boundary=bb\n\n" +
          s"--bb\nContent-Type: text/plain\n\ncover note $g\n" +
          uuencode("note.rtf", ascii(s"{\\rtf1 $safe rtf $g\\par}")) +
          "\n--bb\nContent-Type: application/pdf\n" +
          "Content-Disposition: attachment; filename=report.pdf\n" +
          "Content-Transfer-Encoding: base64\n\n" +
          b64.encodeToString(pdfDoc(s"$safe pdf $g")) +
          "\n--bb\nContent-Type: application/vnd.openxmlformats-" +
          "officedocument.wordprocessingml.document\n" +
          "Content-Disposition: attachment; filename=memo.docx\n" +
          "Content-Transfer-Encoding: base64\n\n" +
          b64.encodeToString(docxDoc(s"$safe docx $g")) +
          "\n--bb--\n")
      }
      val id = col("doc_id")
      val safe = substring(regexp_replace(
        lower(coalesce(col("text"), lit(""))), "[^a-z0-9 ]", " "), 1, 40)
      tp(s, dir, "documents")
        .select(id.as("file_id"),
          explode(call_function(graft.expr.EmlText.AttachmentsName,
            gen(id, safe), lit(16))).as("a"))
        .select(col("file_id"), col("a.name").as("name"),
          col("a.mime").as("mime"),
          substring(trim(regexp_replace(
            call_function(graft.expr.DocumentText.FunctionName,
              col("a.content")), "\\s+", " ")), 1, 120).as("doc_text"))
    }),

    // Mail-dump corpus: mbox archives of RFC-5322 messages — subject
    // RFC-2047 B-encoded over the doc text, quoted-printable and
    // multipart/alternative bodies — through graft_mbox_messages →
    // graft_eml_text. All construction relational (Spark's base64
    // builds the encoded word in-plan; the oracle replays the
    // DECODED form, so the encoding layers are transparent).
    "q224_mail_corpus" -> ((s, dir) => {
      Graft.tune(s)
      val id = col("doc_id")
      val safe = concat(lit("m "), substring(regexp_replace(
        lower(coalesce(col("text"), lit(""))), "[^a-z0-9 ]", " "), 1, 40))
      val idB = encode(id.cast("string"), "UTF-8").cast(BinaryType)
      val subjWord = concat(asciiLit("=?UTF-8?B?"),
        encode(base64(encode(concat(lit("re "), safe), "UTF-8")), "UTF-8")
          .cast(BinaryType),
        asciiLit("?="))
      val msg1 = concat(
        asciiLit("From: alice@example.com\nSubject: "), subjWord,
        asciiLit("\nContent-Type: text/plain; charset=utf-8\n" +
          "Content-Transfer-Encoding: quoted-printable\n\n" +
          "body =C3=A9 "), idB, asciiLit(" ok\n"))
      val msg2 = concat(
        asciiLit("From: bob@example.com\nSubject: thread "),
        encode((id % 7).cast("string"), "UTF-8").cast(BinaryType),
        asciiLit("\nMIME-Version: 1.0\n" +
          "Content-Type: multipart/alternative; boundary=\"bq\"\n\n" +
          "--bq\nContent-Type: text/html\n\n<p>html ignored "), idB,
        asciiLit("</p>\n--bq\nContent-Type: text/plain\n\nplain part "),
        idB, asciiLit("\n--bq--\n"))
      val mbox = concat(
        asciiLit("From alice Mon Jan  1 00:00:00 2026\n"), msg1,
        asciiLit("\nFrom bob Mon Jan  1 00:01:00 2026\n"), msg2)
      tp(s, dir, "documents")
        .select(id.as("file_id"), posexplode(call_function(
          graft.expr.EmlText.MboxName, mbox, lit(8))))
        .select(col("file_id"), col("pos"),
          substring(call_function(graft.expr.EmlText.FunctionName,
            col("col")), 1, 160).as("mail_text"))
    }),

    // Crawl-attachment triage: WARC responses carry BOTH pages and
    // binary document attachments; one plan walks the records, splits
    // the HTTP layer, routes PDFs through graft_document_text and
    // pages through graft_http_text — kind decided by whether the
    // document extractor recognized the payload. The full chain
    // (WARC → HTTP → document) is three tiers in one single-scan
    // plan, all fixture construction RELATIONAL (no udf).
    "q223_warc_documents" -> ((s, dir) => {
      Graft.tune(s)
      val id = col("doc_id")
      val safe = substring(regexp_replace(
        lower(coalesce(col("text"), lit(""))), "[^a-z0-9 ]", " "), 1, 40)
      val htmlBody = concat(asciiLit("<p>crawl page "),
        encode(id.cast("string"), "UTF-8").cast(BinaryType),
        asciiLit("</p>"))
      val pdfLine = concat(encode(concat(safe, lit(" pdf ")), "UTF-8")
        .cast(BinaryType),
        encode(id.cast("string"), "UTF-8").cast(BinaryType))
      val pdfContent = concat(asciiLit("BT /F1 12 Tf ("), pdfLine,
        asciiLit(") Tj ET"))
      val pdfBody = concat(asciiLit("%PDF-1.4\n4 0 obj << /Length "),
        encode(length(pdfContent.cast("string")).cast("string"), "UTF-8")
          .cast(BinaryType),
        asciiLit(" >> stream\n"), pdfContent,
        asciiLit("\nendstream endobj\ntrailer << /Root 1 0 R >>\n%%EOF\n"))
      def http(ctype: String, body: Column): Column =
        concat(asciiLit(s"HTTP/1.1 200 OK\r\nContent-Type: $ctype\r\n\r\n"),
          body)
      def warcRec(uriTail: String, http0: Column): Column =
        concat(asciiLit("WARC/1.0\r\nWARC-Type: response\r\n" +
          "WARC-Target-URI: http://example.com/" + uriTail),
          encode(id.cast("string"), "UTF-8").cast(BinaryType),
          asciiLit("\r\nWARC-Date: 2026-01-01T00:00:00Z\r\n" +
            "Content-Type: application/http; msgtype=response\r\n" +
            "Content-Length: "),
          encode(length(http0.cast("string")).cast("string"), "UTF-8")
            .cast(BinaryType),
          asciiLit("\r\n\r\n"), http0, asciiLit("\r\n\r\n"))
      val warc = concat(
        warcRec("page/", http("text/html; charset=utf-8", htmlBody)),
        warcRec("doc/", http("application/pdf", pdfBody)))
      tp(s, dir, "documents")
        .select(id.as("file_id"), explode(call_function(
          graft.expr.WarcRecords.FunctionName, warc, lit(8))).as("r"))
        .select(col("file_id"), col("r.target_uri").as("uri"),
          call_function(graft.expr.HttpBody.FunctionName,
            col("r.payload")).as("b"),
          call_function(graft.expr.HttpText.FunctionName,
            col("r.payload")).as("h"))
        .select(col("file_id"), col("uri"),
          call_function(graft.expr.DocumentText.FunctionName,
            col("b.body")).as("dt"),
          col("h.text").as("ht"))
        .select(col("file_id"), col("uri"),
          when(col("dt").isNotNull, lit("document"))
            .otherwise(lit("page")).as("kind"),
          substring(trim(regexp_replace(coalesce(col("dt"), col("ht")),
            "\\s+", " ")), 1, 120).as("text"))
    }),

    // BCJ2-coded source-dump composition: each doc's files ship in a
    // 7z whose single folder is the four-stream BCJ2 branching
    // layout (7z's default heavy preset for executables) — a PDF, an
    // RTF and a BINARY member with real x86 branch opcodes (the
    // member that makes BCJ2 non-trivial: its E8/E9 rel32s convert
    // to absolutes in the call/jump streams and back). The graph
    // walk decodes the folder, the documents extract, the binary
    // triages to NULL and is filtered — one single-scan plan.
    "q222_bcj2_archive" -> ((s, dir) => {
      Graft.tune(s)
      val gen = udf { (g: Long, safe: String) =>
        // branch-dense bytes: converted calls/jumps (rel32 high byte
        // 00/FF), non-address E8s, jcc — the full control-bit mix
        val bin = {
          val out = new java.io.ByteArrayOutputStream()
          val rnd = new java.util.Random(g * 2654435761L + 17L)
          while (out.size < 600) {
            rnd.nextInt(5) match {
              case 0 =>
                out.write(rnd.nextInt(256)); out.write(0xe8)
                out.write(rnd.nextInt(256)); out.write(rnd.nextInt(256))
                out.write(rnd.nextInt(31)); out.write(0x00)
              case 1 =>
                out.write(0xe9); out.write(rnd.nextInt(256))
                out.write(rnd.nextInt(256)); out.write(0xff)
                out.write(0xff)
              case 2 =>
                out.write(0x0f); out.write(0x80 | rnd.nextInt(16))
                out.write(rnd.nextInt(256)); out.write(0); out.write(0)
                out.write(0x00)
              case 3 =>
                out.write(rnd.nextInt(256)); out.write(0xe8)
                out.write(0x11); out.write(0x22); out.write(0x33)
                out.write(0x44)
              case _ =>
                out.write(rnd.nextInt(256)); out.write(0x0f)
            }
          }
          out.toByteArray
        }
        graft.expr.SevenZipBuild.buildBcj2(Seq(
          graft.expr.SevenZipBuild.Entry("docs/a.pdf",
            pdfDoc(s"$safe pdf $g")),
          graft.expr.SevenZipBuild.Entry("bin/app.exe", bin),
          graft.expr.SevenZipBuild.Entry("docs/c.rtf",
            ascii(s"{\\rtf1 $safe rtf $g\\par}"))),
          lzma2 = g % 2 == 1)
      }
      val id = col("doc_id")
      val safe = substring(regexp_replace(
        lower(coalesce(col("text"), lit(""))), "[^a-z0-9 ]", " "), 1, 40)
      tp(s, dir, "documents")
        .select(id.as("file_id"),
          explode(call_function(graft.expr.SevenZip.FunctionName,
            gen(id, safe), lit(16))).as("e"))
        .select(col("file_id"), col("e.path").as("path"),
          substring(trim(regexp_replace(
            call_function(graft.expr.DocumentText.FunctionName,
              col("e.content")), "\\s+", " ")), 1, 120).as("doc_text"))
        .where(col("doc_text").isNotNull)
    }),

    // ODF corpus: odt / ods / odp (the LibreOffice-export family)
    // through the same ONE graft_document_text — the zip arm
    // discriminates by the spec-mandated STORED mimetype entry. The
    // oracle replays the paragraph (odt/odp) and row/tab (ods)
    // conventions relationally.
    "q221_odf_documents" -> ((s, dir) => {
      Graft.tune(s)
      val gen = udf { (g: Long, safe: String) =>
        val O = "urn:oasis:names:tc:opendocument:xmlns:office:1.0"
        val T = "urn:oasis:names:tc:opendocument:xmlns:text:1.0"
        val Tb = "urn:oasis:names:tc:opendocument:xmlns:table:1.0"
        val D = "urn:oasis:names:tc:opendocument:xmlns:drawing:1.0"
        def odfZip(mime: String, content: String): Array[Byte] = {
          val bos = new java.io.ByteArrayOutputStream()
          val z = new java.util.zip.ZipOutputStream(bos)
          val mb = mime.getBytes("UTF-8")
          val e = new java.util.zip.ZipEntry("mimetype")
          e.setMethod(java.util.zip.ZipEntry.STORED)
          e.setSize(mb.length); e.setCompressedSize(mb.length)
          val crc = new java.util.zip.CRC32(); crc.update(mb)
          e.setCrc(crc.getValue)
          z.putNextEntry(e); z.write(mb); z.closeEntry()
          z.putNextEntry(new java.util.zip.ZipEntry("content.xml"))
          z.write(content.getBytes("UTF-8")); z.closeEntry()
          z.close(); bos.toByteArray
        }
        (g % 3).toInt match {
          case 0 => // odt: two paragraphs with a span
            odfZip("application/vnd.oasis.opendocument.text",
              s"""<office:document-content xmlns:office="$O"""" +
                s""" xmlns:text="$T"><office:body><office:text>""" +
                s"<text:p><text:span>$safe</text:span></text:p>" +
                s"<text:p>page $g</text:p>" +
                "</office:text></office:body></office:document-content>")
          case 1 => // ods: two rows, cells tab-joined
            odfZip("application/vnd.oasis.opendocument.spreadsheet",
              s"""<office:document-content xmlns:office="$O"""" +
                s""" xmlns:text="$T" xmlns:table="$Tb"><office:body>""" +
                "<office:spreadsheet><table:table><table:table-row>" +
                s"<table:table-cell><text:p>$safe</text:p>" +
                "</table:table-cell><table:table-cell>" +
                s"<text:p>r${g % 89}</text:p></table:table-cell>" +
                "</table:table-row><table:table-row>" +
                "<table:table-cell><text:p>total</text:p>" +
                "</table:table-cell><table:table-cell>" +
                s"<text:p>${g % 13}</text:p></table:table-cell>" +
                "</table:table-row></table:table></office:spreadsheet>" +
                "</office:body></office:document-content>")
          case _ => // odp: two pages of framed paragraphs
            odfZip("application/vnd.oasis.opendocument.presentation",
              s"""<office:document-content xmlns:office="$O"""" +
                s""" xmlns:text="$T" xmlns:draw="$D"><office:body>""" +
                "<office:presentation><draw:page><draw:frame>" +
                s"<draw:text-box><text:p>$safe</text:p></draw:text-box>" +
                "</draw:frame></draw:page><draw:page><draw:frame>" +
                s"<draw:text-box><text:p>closing $g</text:p>" +
                "</draw:text-box></draw:frame></draw:page>" +
                "</office:presentation></office:body>" +
                "</office:document-content>")
        }
      }
      val id = col("doc_id")
      val safe = concat(lit("body "), substring(regexp_replace(
        lower(coalesce(col("text"), lit(""))), "[^a-z0-9 ]", " "), 1, 60))
      val extracted = call_function(graft.expr.DocumentText.FunctionName,
        gen(id, safe))
      tp(s, dir, "documents").select(id.as("doc_id"),
        substring(extracted, 1, 200).as("odf_text"))
    }),

    // HTTP transport decode: real crawl responses arrive chunked
    // and/or Content-Encoded (gzip is the web default); the body must
    // extract identically across identity / chunked / gzip /
    // chunked+gzip / deflate / zstd wire forms. The oracle replays
    // the plaintext construction — the five transport wrappers are
    // transparent.
    "q217_http_transport" -> ((s, dir) => {
      Graft.tune(s)
      val gen = udf { (g: Long) =>
        val doc = s"<p>transport t${g % 83} body $g</p>"
        val raw = doc.getBytes("UTF-8")
        def chunk(b: Array[Byte]): Array[Byte] = {
          val cut = math.min(7, b.length)
          ascii(cut.toHexString + "\r\n") ++ b.take(cut) ++
            ascii("\r\n" + (b.length - cut).toHexString + "\r\n") ++
            b.drop(cut) ++ ascii("\r\n0\r\n\r\n")
        }
        def deflate(b: Array[Byte]): Array[Byte] = {
          val d = new java.util.zip.Deflater()
          d.setInput(b); d.finish()
          val bos = new java.io.ByteArrayOutputStream()
          val buf = new Array[Byte](1024)
          while (!d.finished()) bos.write(buf, 0, d.deflate(buf))
          d.end(); bos.toByteArray
        }
        val ct = "Content-Type: text/html; charset=utf-8\r\n"
        (g % 6).toInt match {
          case 0 => ascii(s"HTTP/1.1 200 OK\r\n$ct\r\n") ++ raw
          case 1 => ascii(s"HTTP/1.1 200 OK\r\n${ct}" +
            "Transfer-Encoding: chunked\r\n\r\n") ++ chunk(raw)
          case 2 => ascii(s"HTTP/1.1 200 OK\r\n${ct}" +
            "Content-Encoding: gzip\r\n\r\n") ++ gz(raw)
          case 3 => ascii(s"HTTP/1.1 200 OK\r\n${ct}" +
            "Content-Encoding: gzip\r\nTransfer-Encoding: chunked\r\n\r\n") ++
            chunk(gz(raw))
          case 4 => ascii(s"HTTP/1.1 200 OK\r\n${ct}" +
            "Content-Encoding: deflate\r\n\r\n") ++ deflate(raw)
          case _ => ascii(s"HTTP/1.1 200 OK\r\n${ct}" +
            "Content-Encoding: zstd\r\n\r\n") ++
            graft.expr.ZstdBuild.store(raw)
        }
      }
      val id = col("doc_id")
      val h = call_function(graft.expr.HttpText.FunctionName, gen(id))
      tp(s, dir, "documents")
        .select(id.as("doc_id"), h.as("h"))
        .select(col("doc_id"), col("h.http_status").as("status"),
          col("h.charset").as("charset"), col("h.text").as("text"))
    }),

    // Mixed-compression shard ingestion: one dataset drop, FIVE
    // packaging arms (plain / gzip / bzip2 / xz / zstd) through ONE
    // magic-dispatched expression — coalesce(graft_decompress(c), c)
    // is the whole read path, no per-format branching in the
    // pipeline. Every line must land identically whatever the shard
    // wrapper was.
    "q216_shards_mixed" -> ((s, dir) => {
      Graft.tune(s)
      val gen = udf { (g: Long) =>
        val k = (g % 3 + 1).toInt
        val sb = new StringBuilder
        var j = 0
        while (j < k) {
          sb.append(s"""{"rec":$j,"text":"s${(g * 7 + j) % 89} end"}""")
          sb.append('\n')
          j += 1
        }
        val plain = sb.toString.getBytes("UTF-8")
        (g % 5).toInt match {
          case 0 => plain
          case 1 =>
            val bos = new java.io.ByteArrayOutputStream()
            val z = new java.util.zip.GZIPOutputStream(bos)
            z.write(plain); z.close(); bos.toByteArray
          case 2 => graft.expr.Bzip2Build.encode(plain, 1)
          case 3 => graft.expr.XzBuild.store(plain)
          case _ => graft.expr.ZstdBuild.store(plain)
        }
      }
      val id = col("doc_id")
      tp(s, dir, "documents")
        .select(id.as("file_id"), gen(id).as("blob"))
        .select(col("file_id"), decode(coalesce(
          call_function(graft.expr.Decompress.FunctionName, col("blob")),
          col("blob")), "UTF-8").as("raw"))
        .select(col("file_id"),
          explode(split(rtrim(col("raw"), "\n"), "\n")).as("line"))
        .select(col("file_id"),
          get_json_object(col("line"), "$.rec").cast("long").as("rec"),
          get_json_object(col("line"), "$.text").as("text"))
    }),

    // Legacy .doc extraction: per doc, a Word97 compound file built
    // by the independent DocBuild writer (CFB sectors + FIB + piece
    // table) with the doc's text split across a CP1252 piece and a
    // UTF-16 piece — graft_doc_text must reassemble them in CP
    // order; the oracle replays the construction relationally.
    "q215_doc_text" -> ((s, dir) => {
      Graft.tune(s)
      val gen = udf { (g: Long, safe: String) =>
        graft.expr.DocBuild.doc(Seq(
          (safe + "\r", true), // CP1252 piece
          (s"unicode tail é中 $g\r", false))) // UTF-16 piece
      }
      val id = col("doc_id")
      // printable-ASCII text (the CP1252 piece must round-trip 1:1)
      val safe = substring(regexp_replace(
        coalesce(col("text"), lit("")), "[^ -~]", " "), 1, 80)
      tp(s, dir, "documents").select(id.as("doc_id"),
        substring(call_function(graft.expr.DocText.FunctionName,
          gen(id, safe)), 1, 200).as("doc_text"))
    }),

    // Encrypted-PDF extraction: per doc, an RC4-40 / RC4-128 /
    // AES-128 / AES-256 standard-security-handler document (empty
    // user password — the wild "permissions-only" encryption) built by
    // the independent PdfCryptBuild writer must extract exactly like
    // its plaintext twin; the oracle replays the text relationally.
    // The /U gate inside PdfCrypt re-derives the key per document,
    // so every row differentially validates the whole algorithm
    // stack (MD5 chain, RC4/AES, pad constant).
    "q214_pdf_encrypted" -> ((s, dir) => {
      Graft.tune(s)
      val gen = udf { (g: Long, safe: String) =>
        import graft.sources.PdfCryptBuild
        val mode = (g % 4).toInt
        val lines = Seq(safe, s"page $g")
        val flate = s"cipher arm $mode ok"
        mode match {
          case 0 => PdfCryptBuild.build(2, 1, 40, aes = false,
            Array.emptyByteArray, lines, flate)
          case 1 => PdfCryptBuild.build(3, 2, 128, aes = false,
            Array.emptyByteArray, lines, flate)
          case 2 => PdfCryptBuild.build(4, 4, 128, aes = true,
            Array.emptyByteArray, lines, flate)
          case _ => PdfCryptBuild.buildV5(6, Array.emptyByteArray,
            lines, flate) // AES-256
        }
      }
      val id = col("doc_id")
      // ASCII-only, delimiter/keyword-free text (q176's discipline)
      val safe = substring(
        regexp_replace(regexp_replace(regexp_replace(
          coalesce(col("text"), lit("")),
          "[^ -~]", " "), "[()\\\\]", " "), "stream|endobj|beginbf", " "),
        1, 80)
      tp(s, dir, "documents").select(id.as("doc_id"),
        substring(call_function(graft.expr.PdfText.FunctionName,
          gen(id, safe)), 1, 200).as("pdf_text"))
    }),

    // .7z source dumps → per-file documents: the archive tier's
    // container trio completed (tar/zip/7z). The fixture alternates
    // Copy and store-mode-LZMA2 solid folders (built by the
    // independent SevenZipBuild writer); the compressed LZMA/LZMA2
    // coder paths inside folders are pinned by SevenZipSpec's real
    // liblzma raw streams. Directories and empty files exercise the
    // kEmptyStream/kEmptyFile vectors.
    "q213_7z_documents" -> ((s, dir) => {
      Graft.tune(s)
      val gen = udf { (g: Long) =>
        import graft.expr.SevenZipBuild
        val k = (g % 4 + 2).toInt
        val files = (0 until k).map(j =>
          SevenZipBuild.Entry(s"src/f$j.txt",
            s"c${g}_$j".getBytes("UTF-8"))) :+
          SevenZipBuild.Entry("docs", null, dir = true) :+
          SevenZipBuild.Entry("docs/empty.md", Array.emptyByteArray)
        SevenZipBuild.build(files, lzma2 = g % 2 == 1,
          encodedHeader = g % 3 == 0)
      }
      val id = col("doc_id")
      tp(s, dir, "documents")
        .select(id.as("file_id"),
          explode(call_function(graft.expr.SevenZip.FunctionName,
            gen(id), lit(64))).as("e"))
        .select(col("file_id"), col("e.path").as("path"),
          col("e.size").as("size"),
          decode(col("e.content"), "UTF-8").as("text"))
    }),

    // .jsonl.zst dataset-release ingestion: the dominant modern
    // packaging — a zstd frame per shard, JSON lines inside —
    // through graft_unzstd → line split → JSON field extraction,
    // all one projection (no join-back, no shuffle before the
    // explode).
    "q212_jsonl_zst_text" -> ((s, dir) => {
      Graft.tune(s)
      val gen = udf { (g: Long) =>
        val k = (g % 3 + 1).toInt
        val sb = new StringBuilder
        var j = 0
        while (j < k) {
          sb.append(s"""{"rec":$j,"text":"w${(g + j) % 97} end"}""")
          sb.append('\n')
          j += 1
        }
        graft.expr.ZstdBuild.store(sb.toString.getBytes("UTF-8"))
      }
      val id = col("doc_id")
      tp(s, dir, "documents")
        .select(id.as("file_id"),
          decode(call_function(graft.expr.UnzstdExpr.FunctionName,
            gen(id)), "UTF-8").as("raw"))
        .select(col("file_id"),
          explode(split(rtrim(col("raw"), "\n"), "\n")).as("line"))
        .select(col("file_id"),
          get_json_object(col("line"), "$.rec").cast("long").as("rec"),
          get_json_object(col("line"), "$.text").as("text"))
    }),

    // WEBP through the THUMBNAIL tier: an 8×8 two-block VP8L decodes
    // through the shared walk and box-mean-resizes to 2×2 — block
    // means are exact (boxes align with the 4×4 blocks), so the
    // oracle replays the resized stats relationally. q191's webp
    // sibling.
    "q195_webp_thumbnail" -> ((s, dir) => {
      Graft.tune(s)
      import graft.expr.Vp8lBuild
      val gen = udf { (id: Long) =>
        val u = (20 + (id * 19) % 200).toInt
        def gray(v: Int) = 0xff000000 | (v << 16) | (v << 8) | v
        Vp8lBuild.container(Vp8lBuild.literal(8, 8,
          Array.tabulate(64)(i =>
            if ((i % 8 / 4 + i / 8 / 4) % 2 == 0) gray(u) else gray(u + 30))))
      }
      val id = col("doc_id")
      val thumb = call_function(graft.expr.ResizePixels.FunctionName,
        gen(id), lit(2), lit(2))
      val m = call_function(graft.expr.PixelStats.FunctionName, thumb)
      tp(s, dir, "documents").select(id.as("media_id"), m.as("_m"))
        .select(col("media_id"),
          col("_m.format").as("format"), col("_m.width").as("width"),
          col("_m.height").as("height"),
          col("_m.n_pixels").as("n_pixels"), col("_m.sum").as("sum"),
          col("_m.pmin").as("pmin"), col("_m.pmax").as("pmax"),
          col("_m.constant").as("constant"))
    }),

    // Materialized RESIZE under the ORACLE gate: integer box-mean
    // thumbnails (the explicit vision-preprocessing stage; OpenCV
    // INTER_AREA semantics made engine-exact by floor arithmetic) —
    // each doc is a quadratic-mixed w×h PPM, resized to 3×2 and
    // RE-INGESTED through PixelStats, so the gate covers resize AND
    // the thumb's round-trip through the shared decode. The oracle
    // replays the box bounds (⌊x2·w/3⌋) and floor means relationally.
    "q188_thumbnails" -> ((s, dir) => {
      Graft.tune(s)
      val id = col("doc_id")
      val wC = (id % 5 + 6).cast(IntegerType)
      val hC = (id % 4 + 5).cast(IntegerType)
      def pix(x: Column, y: Column, c: Column): Column = {
        val hh = id * 53 + x.cast(LongType) * 17 + y.cast(LongType) * 29 +
          c.cast(LongType) * 7
        pmod(shiftright(pmod(hh * hh, lit(1000003L)) * 48271, 8), lit(251L))
      }
      val header = encode(concat(lit("P6\n"), wC.cast(StringType), lit(" "),
        hC.cast(StringType), lit("\n255\n")), "UTF-8").cast(BinaryType)
      val ppm = concat(header,
        unhex(array_join(transform(sequence(lit(0), hC - 1), y =>
          array_join(transform(sequence(lit(0), wC - 1), x =>
            array_join(transform(sequence(lit(0), lit(2)), c =>
              byteHex(pix(x, y, c))), "")), "")), "")))
      val thumb = call_function(graft.expr.ResizePixels.FunctionName,
        ppm, lit(3), lit(2))
      val m = call_function(graft.expr.PixelStats.FunctionName, thumb)
      tp(s, dir, "documents").select(id.as("media_id"), m.as("_m"))
        .select(col("media_id"),
          col("_m.format").as("format"), col("_m.width").as("width"),
          col("_m.height").as("height"), col("_m.channels").as("channels"),
          col("_m.n_pixels").as("n_pixels"), col("_m.sum").as("sum"),
          col("_m.sumsq").as("sumsq"), col("_m.pmin").as("pmin"),
          col("_m.pmax").as("pmax"), col("_m.constant").as("constant"))
    }),

    // CROSS-FORMAT near-dup across the LOSSY boundary — q169 extended
    // to JPEG: normally lossy pixels aren't construction-replayable,
    // but q179's DC-only construction IS exact in every conforming
    // decoder, so each doc becomes the SAME block image as a baseline
    // JPEG and a PPM. The shared PixelStats.decode routes the JPEG
    // through the hand decoder; identical decoded pixels land on one
    // PixelGridSig → twins pair at L1 0. Quadratic (g,k) mixes keep
    // fixture structure from minting congruence collisions (the q168
    // lesson — a linear diff formula made ids equal mod 24 share
    // whole images)
    "q181_jpeg_crossformat_neardup" -> ((s, dir) => {
      Graft.tune(s)
      import graft.operators.Multimodal
      val g = col("doc_id")
      val bw = (g % 3 + 2).cast(IntegerType)
      val bh = (g % 2 + 2).cast(IntegerType)
      val n = bw * bh
      def mix(a: Column): Column =
        pmod(shiftright(pmod(a * a, lit(1000003L)) * 48271, 8), lit(8L))
      // category-4 DC diffs in balanced PAIRS (one up, one down per
      // pair → |cumsum| ≤ 57, values never clamp) with the pair's
      // up/down ORDER drawn from a per-(doc,pair) phase bit — strict
      // block-parity alternation would lock every image into one
      // bright/dark checker pattern and whole dims-classes would
      // near-collide (the q168 structure hazard, re-observed here:
      // the first fixture produced quadratic cross-doc pairs)
      def phase(j: Column): Column = {
        val a = g * 29 + j.cast(LongType) * 19
        pmod(shiftright(pmod(a * a, lit(1000003L)) * 48271, 7), lit(2L))
      }
      def isUp(j: Column): Column = {
        val bit = phase(shiftright(j, 1))
        when(pmod(j, lit(2)) === 0, bit === 1).otherwise(bit === 0)
      }
      def v4(j: Column): Column =
        when(isUp(j), mix(g * 37 + j.cast(LongType) * 13) + 8)
          .otherwise(lit(7L) - mix(g * 41 + j.cast(LongType) * 17))
      def diffOf(j: Column): Column =
        when(isUp(j), v4(j)).otherwise(v4(j) - 15)
      def pOf(k: Column): Column = lit(128L) +
        aggregate(sequence(lit(0), k.cast(IntegerType)), lit(0L),
          (acc, j) => acc + diffOf(j)) * 2
      // r16: materialize the per-block DC values and prefix-summed
      // pixel levels ONCE per doc through a Generate barrier — the PPM
      // arm previously re-ran the O(blocks) pOf prefix aggregate (a
      // deep interpreted tree) for every pixel ROW × block, and the
      // projection-collapse rules would re-inline the whole tree into
      // every consumer. Values unchanged (same formulas, evaluated
      // once); bytes verified identical by the oracle gate.
      val withArrs = tp(s, dir, "documents").select(col("doc_id"),
        explode(array(struct(
          transform(sequence(lit(0), n - 1), k => v4(k)).as("v4s"),
          transform(sequence(lit(0), n - 1), k => pOf(k)).as("ps")))).as("_a"))
      // JPEG arm: q179's one-byte-per-block construction
      val entropyHex = hex(call_function(graft.expr.PackBytes.FunctionName,
        transform(col("_a.v4s"), x => x * 4), lit(1), lit(0)))
      val jpeg = unhex(concat(
        lit("FFD8"),
        lit("FFDB0043" + "00" + "10" * 64),
        lit("FFC0000B08"), be16(bh * 8), be16(bw * 8),
        lit("010111" + "00"),
        lit("FFC40014" + "00" + "0001" + "00" * 14 + "04"),
        lit("FFC40014" + "10" + "0001" + "00" * 14 + "00"),
        lit("FFDA0008" + "01" + "0100" + "00" + "3F" + "00"),
        entropyHex, lit("FFD9")))
      // PPM arm: the identical pixel layout, 8×8 flat blocks (block
      // levels read from the materialized prefix-sum array)
      def rowHex(y: Column): Column = array_join(
        transform(sequence(lit(0), bw - 1), bx =>
          repeat(byteHex(element_at(col("_a.ps"),
            (shiftright(y, 3).cast(LongType) * bw + bx).cast(IntegerType)
              + 1)), 24)), "")
      val ppm = concat(
        encode(concat(lit("P6\n"), (bw * 8).cast(StringType), lit(" "),
          (bh * 8).cast(StringType), lit("\n255\n")), "UTF-8")
          .cast(BinaryType),
        unhex(array_join(
          transform(sequence(lit(0), bh * 8 - 1), y => rowHex(y)), "")))
      val media = withArrs
        .select(explode(array(
          struct((g * 2).as("media_id"), jpeg.as("content")),
          struct((g * 2 + 1).as("media_id"), ppm.as("content")))).as("m"))
        .select(col("m.media_id").as("media_id"), lit("image").as("kind"),
          col("m.content").as("content"))
      // tight verify threshold: the contract here is the cross-format
      // twin (exactly L1 0); block images are coarse enough that a
      // loose threshold would pass similar-looking distinct docs
      Multimodal.imageNearDup(media, gx = 9, gy = 7, maxL1 = 32L)
    }),

    // RTF → text (q19's sibling for the OTHER legacy rich-text
    // format): the native state machine drops the nested font-table /
    // ignorable-destination groups a regexp cannot bound, decodes the
    // escapes, and the shared whitespace collapse finishes. The text
    // is sanitized of RTF metacharacters before wrapping so the
    // construction replays in SQL as sanitize + append
    "q170_rtf_to_text" -> ((s, dir) => {
      Graft.tune(s)
      val clean = regexp_replace(coalesce(col("text"), lit("")),
        "[{}\\\\]", " ")
      val rtf = concat(
        lit("""{\rtf1\ansi{\fonttbl{\f0 Arial;}}{\*\generator graft 1.0;}\f0\fs20 """),
        clean,
        lit("""\par \b summary\b0  caf\'e9\par}"""))
      t(s, dir, "documents").select(col("doc_id"),
        substring(Normalize.collapseWs(
          call_function(graft.expr.RtfToText.FunctionName, rtf)), 1, 120)
          .as("clean_text"))
    }),

    // HTML boilerplate removal by block link density: the constructed
    // page wraps each doc's text in the classic trap — a link-only
    // nav, a too-short teaser and a link-dense footer around one real
    // paragraph — and only the paragraph (when long enough) survives
    "q171_html_boilerplate" -> ((s, dir) => {
      Graft.tune(s)
      import graft.operators.Corpus
      val html = concat(
        lit("<div><a href=\"/\">Home</a> <a href=\"/a\">About</a> " +
          "<a href=\"/c\">Contact us</a></div><p>"),
        coalesce(col("text"), lit("")),
        lit("</p><p>Read on</p><div>meta <a href=\"/p\">Privacy</a> " +
          "<a href=\"/t\">Terms of use</a></div>"))
      Corpus.removeHtmlBoilerplate(
        t(s, dir, "documents").select(col("doc_id"), html.as("html")),
        "doc_id", "html")
    }),

    // charset-aware WARC decode: the same logical text ships as UTF-8
    // (declared), Latin-1 (declared — 0xE9 is INVALID UTF-8, the byte
    // the old cast mangled) and BOM'd UTF-16LE (undeclared), and all
    // three decode to the same visible text with the charset reported
    "q172_warc_charsets" -> ((s, dir) => {
      Graft.tune(s)
      def B(bs: Array[Byte]): Column = lit(bs)
      val id = col("doc_id")
      val m = id % 3
      val digit = unhex(lpad(hex(id % 7 + 48), 2, "0")) // ASCII digit byte
      val digit16 = concat(digit, B(Array[Byte](0)))    // UTF-16LE digit
      val bodyU8 = concat(
        B("<p>café omega ".getBytes(java.nio.charset.StandardCharsets.UTF_8)),
        digit, asciiLit("</p>"))
      val bodyL1 = concat(asciiLit("<p>caf"), B(Array(0xE9.toByte)),
        asciiLit(" omega "), digit, asciiLit("</p>"))
      val bodyU16 = concat(B(Array(0xFF.toByte, 0xFE.toByte)),
        B("<p>omega ".getBytes(java.nio.charset.StandardCharsets.UTF_16LE)),
        digit16,
        B(" end</p>".getBytes(java.nio.charset.StandardCharsets.UTF_16LE)))
      val ctype = when(m === 0, asciiLit("text/html; charset=utf-8"))
        .when(m === 1, asciiLit("text/html; charset=iso-8859-1"))
        .otherwise(asciiLit("text/html"))
      val body = when(m === 0, bodyU8).when(m === 1, bodyL1)
        .otherwise(bodyU16)
      val http = concat(asciiLit("HTTP/1.1 200 OK\r\nContent-Type: "), ctype,
        asciiLit("\r\n\r\n"), body)
      val resp = concat(asciiLit("WARC/1.0\r\n" +
          "WARC-Type: response\r\nWARC-Target-URI: http://example.com/cs/"),
        encode(id.cast(StringType), "UTF-8").cast(BinaryType),
        asciiLit("\r\nWARC-Date: 2026-01-01T00:00:00Z\r\n" +
          "Content-Type: application/http; msgtype=response\r\n" +
          "Content-Length: "),
        encode(length(http).cast(StringType), "UTF-8").cast(BinaryType),
        asciiLit("\r\n\r\n"), http, asciiLit("\r\n\r\n"))
      val files = tp(s, dir, "documents")
        .select(id.as("file_id"), resp.as("content"))
      graft.operators.Warc.htmlDocuments(files)
    }),

    // Markdown → text (the text-extraction family's third member):
    // the chain is captureless regexp steps shared with the oracle
    // generator, so both engines transform the constructed page —
    // heading, quote, list, link, emphasis, inline and fenced code —
    // identically even where the doc text carries markdown characters
    "q173_markdown_to_text" -> ((s, dir) => {
      Graft.tune(s)
      import graft.functions.MarkdownToText
      val md = concat(
        lit("# Title "), col("doc_id"),
        lit("\n\n> intro quote\n\n- first item\n- [link text](http://x/"),
        col("doc_id"),
        lit(")\n\n**bold** and `code span` here\n\n```\nfenced code dropped\n```\n\n"),
        coalesce(col("text"), lit("")))
      t(s, dir, "documents").select(col("doc_id"),
        substring(MarkdownToText.markdownToText(md), 1, 120).as("clean_text"))
    }),

    // the round-11 capstone: crawl → corpus in ONE relational plan.
    // WARC records → byte-level HTTP split with charset-aware decode
    // (UTF-8 declared / Latin-1 declared / cp1252 sniffed arms, the
    // codepage-sensitive characters living in the KEPT paragraph so a
    // wrong decode changes the output) → block link-density
    // boilerplate removal → exact dedup keyed on the md5 of the clean
    // text (first file id per key wins). Every stage replays
    // relationally, so the whole pipeline is one oracle
    "q174_web_pipeline" -> ((s, dir) => {
      Graft.tune(s)
      import graft.operators.{Corpus, Warc}
      val id = col("doc_id")
      val m = id % 3
      val prefix = when(m === 0,
          lit("café ".getBytes(java.nio.charset.StandardCharsets.UTF_8)))
        .when(m === 1, concat(asciiLit("caf"), lit(Array(0xE9.toByte)),
          asciiLit(" ")))
        .otherwise(concat(lit(Array(0x93.toByte)), asciiLit("q"),
          lit(Array(0x94.toByte)), asciiLit(" ")))
      val body = concat(
        asciiLit("<div><a href=\"/\">Home</a> <a href=\"/a\">About</a> " +
          "<a href=\"/c\">Contact us</a></div><p>"),
        prefix,
        encode(coalesce(col("text"), lit("")), "UTF-8").cast(BinaryType),
        asciiLit("</p><p>Read on</p><div>meta <a href=\"/p\">Privacy</a> " +
          "<a href=\"/t\">Terms of use</a></div>"))
      val ctype = when(m === 0, asciiLit("text/html; charset=utf-8"))
        .when(m === 1, asciiLit("text/html; charset=iso-8859-1"))
        .otherwise(asciiLit("text/html"))
      val http = concat(asciiLit("HTTP/1.1 200 OK\r\nContent-Type: "), ctype,
        asciiLit("\r\n\r\n"), body)
      val resp = concat(asciiLit("WARC/1.0\r\n" +
          "WARC-Type: response\r\nWARC-Target-URI: http://example.com/page/"),
        encode(id.cast(StringType), "UTF-8").cast(BinaryType),
        asciiLit("\r\nWARC-Date: 2026-01-01T00:00:00Z\r\n" +
          "Content-Type: application/http; msgtype=response\r\n" +
          "Content-Length: "),
        encode(length(http).cast(StringType), "UTF-8").cast(BinaryType),
        asciiLit("\r\n\r\n"), http, asciiLit("\r\n\r\n"))
      val files = tp(s, dir, "documents")
        .select(id.as("file_id"), resp.as("content"))
      val recs = Warc.records(files).filter(col("warc_type") === "response")
      val h = call_function(graft.expr.HttpText.FunctionName, col("payload"))
      val pages = recs.select(col("file_id"),
        col("target_uri").as("url"),
        h.getField("charset").as("charset"),
        h.getField("text").as("html"))
      // url/charset ride THROUGH the boilerplate reassembly as
      // passenger columns: one plan, one WARC decode pass (the join
      // form re-decoded every archive for the join side — SCALE.md
      // round 12)
      val keyed = Corpus.removeHtmlBoilerplate(pages, "file_id", "html",
          passengers = Seq("url", "charset"))
        .withColumn("text_md5", md5(col("clean_text")))
      val w = org.apache.spark.sql.expressions.Window.partitionBy("text_md5")
      keyed
        .withColumn("kept",
          (col("file_id") === min(col("file_id")).over(w)).cast(IntegerType))
        .select(col("file_id"), col("url"), col("charset"),
          substring(col("clean_text"), 1, 100).as("clean_text"),
          col("n_kept"), col("text_md5"), col("kept"))
    }),

    // EPUB decode in the DISTRIBUTED path: a STORED-entry zip built
    // in-plan (the hand walk ignores CRCs, so the fixture needs no
    // CRC32-in-SQL) with the spine ordering ch2 before ch1; the
    // oracle replays the construction through the shared HTML chain
    "q175_epub_text" -> ((s, dir) => {
      Graft.tune(s)
      def entry(name: String, data: Column): Column =
        concat(lit(Array[Byte]('P', 'K', 3, 4)), le16(lit(20)),
          le16(lit(0)), le16(lit(0)), le16(lit(0)), le16(lit(0)),
          le32(lit(0)), le32(length(data)), le32(length(data)),
          le16(lit(name.length)), le16(lit(0)),
          asciiLit(name), data)
      val id = col("doc_id")
      val container =
        """<?xml version="1.0"?>
          |<container xmlns="urn:oasis:names:tc:opendocument:xmlns:container">
          | <rootfiles><rootfile full-path="OEBPS/content.opf"
          |   media-type="application/oebps-package+xml"/></rootfiles>
          |</container>""".stripMargin
      val opf =
        """<?xml version="1.0"?>
          |<package xmlns="http://www.idpf.org/2007/opf" version="3.0">
          | <manifest>
          |  <item id="c1" href="ch1.xhtml" media-type="application/xhtml+xml"/>
          |  <item id="c2" href="ch2.xhtml" media-type="application/xhtml+xml"/>
          | </manifest>
          | <spine><itemref idref="c2"/><itemref idref="c1"/></spine>
          |</package>""".stripMargin
      val ch1 = encode(concat(lit("<p>alpha "), coalesce(col("text"), lit("")),
        lit("</p>")), "UTF-8").cast(BinaryType)
      val ch2 = encode(concat(lit("<h1>Doc "), id, lit("</h1>")), "UTF-8")
        .cast(BinaryType)
      val book = concat(
        entry("mimetype", asciiLit("application/epub+zip")),
        entry("META-INF/container.xml", asciiLit(container)),
        entry("OEBPS/content.opf", asciiLit(opf)),
        entry("OEBPS/ch1.xhtml", ch1),
        entry("OEBPS/ch2.xhtml", ch2))
      tp(s, dir, "documents").select(id.as("doc_id"),
        substring(call_function(graft.expr.EpubText.FunctionName, book),
          1, 150).as("book_text"))
    }),

    // PDF decode in the DISTRIBUTED path: a three-arm document built
    // in-plan — a raw content stream carrying the doc's sanitized
    // text plus a ToUnicode-CMap-mapped octal escape, an
    // /ASCIIHexDecode arm built with hex(), and a /FlateDecode arm
    // deflated once at declaration time — so the oracle replays each
    // arm's known text. Exercises the shared zero-dep parser
    // (Documents.pdfToText) end-to-end where the rows are.
    "q176_pdf_text" -> ((s, dir) => {
      Graft.tune(s)
      def bin(c: Column): Column = encode(c, "ISO-8859-1")
      val id = col("doc_id")
      // ASCII-only, PDF-delimiter-free, keyword-free text; every step
      // replays verbatim in the oracle (keywords removed BEFORE the
      // cut so truncation cannot mint one)
      val safe = substring(
        regexp_replace(regexp_replace(regexp_replace(
          coalesce(col("text"), lit("")),
          "[^ -~]", " "), "[()\\\\]", " "), "stream|endobj|beginbf", " "),
        1, 80)
      // obj 2: a ToUnicode CMap mapping byte 01 -> U+00E9 (é); pass 1
      // merges it so the \001 escape in obj 4's literal decodes
      val cmapObj = asciiLit("2 0 obj << /Length 64 >>\nstream\n" +
        "/CIDInit begincmap 1 beginbfchar <01> <00E9> endbfchar endcmap\n" +
        "endstream\nendobj\n")
      // obj 4: raw (unfiltered) content stream — literal strings,
      // octal escape, Tf font select, Td line break
      val stream1 = concat(
        asciiLit("4 0 obj << /Length 0 >>\nstream\nBT /F1 12 Tf ("),
        bin(safe),
        asciiLit("\\001) Tj 0 -14 Td (page "), bin(id.cast(StringType)),
        asciiLit(") Tj ET\nendstream\nendobj\n"))
      // obj 5: /ASCIIHexDecode arm — TJ array form + a hex string
      val content2 = concat(lit("BT [(hex ) -5 (arm )] TJ (doc "),
        id.cast(StringType), lit(") Tj <2D6F6B> Tj ET"))
      val stream2 = concat(
        asciiLit("5 0 obj << /Filter /ASCIIHexDecode >>\nstream\n"),
        bin(hex(bin(content2))), asciiLit(">\nendstream\nendobj\n"))
      // obj 6: /FlateDecode arm — deflated ONCE at declaration time
      // (deterministic bytes; SQL cannot deflate, so the payload is a
      // constant and the oracle replays its known text)
      val deflated = {
        val src = "BT (flate arm ok) Tj ET".getBytes("ISO-8859-1")
        val d = new java.util.zip.Deflater()
        d.setInput(src); d.finish()
        val buf = new Array[Byte](256)
        val n = d.deflate(buf)
        d.end()
        java.util.Arrays.copyOf(buf, n)
      }
      val stream3 = concat(
        asciiLit(s"6 0 obj << /Filter /FlateDecode /Length ${deflated.length} >>\nstream\n"),
        lit(deflated), asciiLit("\nendstream\nendobj\n"))
      val pdf = concat(asciiLit("%PDF-1.4\n"), cmapObj, stream1, stream2,
        stream3, asciiLit("trailer << /Size 7 >>\n%%EOF\n"))
      tp(s, dir, "documents").select(id.as("doc_id"),
        substring(call_function(graft.expr.PdfText.FunctionName, pdf),
          1, 220).as("pdf_text"))
    }),

    // DOCX decode in the DISTRIBUTED path: a STORED-entry OPC zip
    // built in-plan (q175's entry helper shape) whose
    // word/document.xml carries the doc's XML-safe text in the second
    // paragraph, a tab run in the first, and a w:tbl the paragraph
    // contract must EXCLUDE; the oracle replays the construction
    "q177_docx_text" -> ((s, dir) => {
      Graft.tune(s)
      def entry(name: String, data: Column): Column =
        concat(lit(Array[Byte]('P', 'K', 3, 4)), le16(lit(20)),
          le16(lit(0)), le16(lit(0)), le16(lit(0)), le16(lit(0)),
          le32(lit(0)), le32(length(data)), le32(length(data)),
          le16(lit(name.length)), le16(lit(0)),
          asciiLit(name), data)
      val id = col("doc_id")
      // ASCII-only (XML 1.0 rejects most control chars) and
      // markup-free; both steps replay verbatim in the oracle
      val safe = substring(
        regexp_replace(regexp_replace(coalesce(col("text"), lit("")),
          "[^ -~]", " "), "[&<>]", " "), 1, 80)
      val docXml = encode(concat(lit(
        """<w:document xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main"><w:body>""" +
        """<w:p><w:r><w:t>Doc """), id.cast(StringType), lit(
        """</w:t></w:r><w:r><w:tab/></w:r><w:r><w:t>title</w:t></w:r></w:p>""" +
        """<w:p><w:r><w:t>"""), safe, lit(
        """</w:t></w:r></w:p>""" +
        """<w:tbl><w:tr><w:tc><w:p><w:r><w:t>excluded</w:t></w:r></w:p></w:tc></w:tr></w:tbl>""" +
        """</w:body></w:document>""")), "UTF-8")
      val docx = concat(
        entry("[Content_Types].xml", asciiLit("<Types/>")),
        entry("word/document.xml", docXml))
      tp(s, dir, "documents").select(id.as("doc_id"),
        substring(call_function(graft.expr.DocxText.FunctionName, docx),
          1, 200).as("docx_text"))
    }),

    // DOCX extraction WITH table text (q177's opt-in sibling): the
    // reference-parity contract excludes w:tbl (python-docx
    // doc.paragraphs), but a training corpus wants table content —
    // graft_docx_text(bin, 1) descends into the table and each cell
    // paragraph emits as its own line in document order. Both
    // contracts are hash-checked: q177 proves the 2×2 table stays
    // excluded by default, this query proves every cell surfaces.
    "q187_docx_tables" -> ((s, dir) => {
      Graft.tune(s)
      def entry(name: String, data: Column): Column =
        concat(lit(Array[Byte]('P', 'K', 3, 4)), le16(lit(20)),
          le16(lit(0)), le16(lit(0)), le16(lit(0)), le16(lit(0)),
          le32(lit(0)), le32(length(data)), le32(length(data)),
          le16(lit(name.length)), le16(lit(0)),
          asciiLit(name), data)
      val id = col("doc_id")
      val safe = substring(
        regexp_replace(regexp_replace(coalesce(col("text"), lit("")),
          "[^ -~]", " "), "[&<>]", " "), 1, 80)
      def cell(txt: Column): Column = concat(lit(
        """<w:tc><w:p><w:r><w:t>"""), txt, lit("""</w:t></w:r></w:p></w:tc>"""))
      val docXml = encode(concat(lit(
        """<w:document xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main"><w:body>""" +
        """<w:p><w:r><w:t>Doc """), id.cast(StringType), lit(
        """</w:t></w:r></w:p><w:p><w:r><w:t>"""), safe, lit(
        """</w:t></w:r></w:p><w:tbl><w:tr>"""),
        cell(concat(lit("r1c1 "), id.cast(StringType))), cell(lit("r1c2")),
        lit("""</w:tr><w:tr>"""),
        cell(lit("r2c1")), cell(concat(lit("r2c2 "), (id * 7).cast(StringType))),
        lit("""</w:tr></w:tbl></w:body></w:document>""")), "UTF-8")
      val docx = concat(
        entry("[Content_Types].xml", asciiLit("<Types/>")),
        entry("word/document.xml", docXml))
      tp(s, dir, "documents").select(id.as("doc_id"),
        substring(call_function(graft.expr.DocxText.FunctionName, docx,
          lit(1)), 1, 200).as("docx_text"))
    }),

    // per-type winsorization into the [p05, p95] band: percentile
    // bounds from the histogram form, broadcast back, one data scan
    "q105_winsorize" -> ((s, dir) => {
      Graft.tune(s)
      val ev = t(s, dir, "events").select(col("event_id"), col("event_type"),
        col("value"))
      Stats.winsorize(ev, "event_type", "value", pLo = 0.05, pHi = 0.95)
        .select(col("event_id"), col("event_type"),
          round(col("value"), 6).as("value"), col("lo"), col("hi"),
          round(col("clipped"), 6).as("clipped"))
    }),

    // distinct-n lexical diversity per language: unique/total n-grams
    // for n=1,2 — the corpus-health metric (low distinct-2 flags
    // templated text); bigrams never cross doc boundaries
    "q106_distinct_ngrams" -> ((s, dir) => {
      Graft.tune(s)
      Corpus.distinctNgramRatios(t(s, dir, "documents"), "doc_id", "text",
        "lang")
    }),

    // Zipf rank-frequency slope per language: exact-decimal log-log
    // least squares over the min-count vocabulary — natural text ≈ 1,
    // far-off values flag synthetic/truncated corpora
    "q107_zipf_slope" -> ((s, dir) => {
      Graft.tune(s)
      Corpus.zipfSlope(t(s, dir, "documents"), "doc_id", "text", "lang",
        minCount = 2L)
    }),

    // JSONL round-trip (the LLM-corpus interchange format): write a
    // slice as newline-delimited JSON, read it back schema-first —
    // text with newlines/quotes must survive JSON escaping exactly
    "q109_jsonl_roundtrip" -> ((s, dir) => {
      Graft.tune(s)
      val slice = t(s, dir, "documents")
        .filter(col("doc_id") < 100)
        .select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
      val tmp = scratch("jsonl-q109")
      graft.sources.Tables.writeJsonl(slice, s"$tmp/docs")
      graft.sources.Tables.readJsonl(s, s"$tmp/docs",
        StructType(Seq(
          StructField("doc_id", LongType),
          StructField("text", StringType),
          StructField("lang", StringType),
          StructField("n_chars", LongType))))
        .select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
    }),

    // the dataset card in one row: corpus size, language spread, exact
    // dup mass, token mass, mean quality — the snapshot summary a
    // curation run publishes; two aggregation jobs joined at one row
    "q108_dataset_card" -> ((s, dir) => {
      Graft.tune(s)
      val docs = t(s, dir, "documents")
      val counts = docs.agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("lang")).as("n_langs"),
        (count(lit(1)) - countDistinct(TextAnalysis.fingerprint(col("text"))))
          .as("exact_dup_docs"))
      val quality = scoredDocs(docs).agg(
        sum(col("n_tokens")).as("n_tokens"),
        round(sum(col("quality_score").cast(DecimalType(18, 4)))
          .cast(DoubleType) / count(lit(1)), 6).as("mean_quality"))
      counts.join(quality)
    })
  )

  def oracleSql: Map[String, String] = {
    val base = oracleSqlBase
    // the TVF SQL surfaces compute exactly their DataFrame-API
    // siblings' results, so they share those oracles verbatim
    base ++ Map(
      "q120_sql_asof" -> base("q54_asof_join"),
      "q121_sql_range" -> base("q57_range_join"),
      "q122_sql_bm25" -> base("q119_bm25"),
      // q159 rebuilds q157's corpus with the CONTAINER dispatched by
      // doc_id parity (even = RIFF/AVI, odd = ISO BMFF/MP4) while the
      // frame CONTENT follows the one formula q157's oracle replays —
      // so the oracle is container-independent and shared verbatim
      "q159_video_mp4_stats" -> base("q157_video_frame_stats"))
  }

  private def oracleSqlBase: Map[String, String] = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base,
         CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))), 4) AS DOUBLE) AS sum_disc,
         COUNT(*) AS n_rows,
         ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*), 6) AS avg_qty
         FROM lineitem
         WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         GROUP BY l_returnflag, l_linestatus""",

    "q02_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
         FROM lineitem
         WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                              AND TIMESTAMP '1996-03-31 00:00:00'
           AND l_quantity < 10""",

    "q03_join_agg" ->
      """SELECT c_mktsegment,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
         COUNT(*) AS n_orders, COUNT(DISTINCT c_custkey) AS n_cust
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment""",

    "q04_topk" ->
      """SELECT o_orderkey, o_totalprice,
         strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS order_date
         FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""",

    "q05_latest_per_user" ->
      """SELECT user_id, event_id, event_type,
         strftime(ts, '%Y-%m-%d %H:%M:%S') AS event_ts, value
         FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                        ORDER BY ts DESC, event_id DESC) AS rn FROM events)
         WHERE rn = 1""",

    "q06_union_tagged" ->
      """SELECT src, COUNT(*) AS n,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
         FROM (SELECT 'urgent' AS src, o_totalprice FROM orders
               WHERE o_orderpriority = '1-URGENT'
               UNION ALL
               SELECT 'high_value' AS src, o_totalprice FROM orders
               WHERE o_totalprice > 300000)
         GROUP BY src""",

    "q07_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""",

    "q08_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""",

    "q09_full_outer_indicator" ->
      """WITH a AS (SELECT o_custkey AS custkey, COUNT(*) AS n_a FROM orders
                    WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
                      AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
                    GROUP BY 1),
            b AS (SELECT o_custkey AS custkey, COUNT(*) AS n_b FROM orders
                    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
                      AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
                    GROUP BY 1)
       SELECT COALESCE(a.custkey, b.custkey) AS custkey,
              COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b,
              CASE WHEN n_a IS NOT NULL AND n_b IS NOT NULL THEN 'both'
                   WHEN n_a IS NOT NULL THEN 'left_only'
                   ELSE 'right_only' END AS indicator
       FROM a FULL OUTER JOIN b ON a.custkey = b.custkey""",

    "q10_change_detect" ->
      s"""WITH a AS (SELECT user_id, event_type, COUNT(*) AS n_a FROM events
                     WHERE ts >= TIMESTAMP '$W1Lo' AND ts < TIMESTAMP '$W1Hi'
                     GROUP BY 1, 2),
             b AS (SELECT user_id, event_type, COUNT(*) AS n_b FROM events
                     WHERE ts >= TIMESTAMP '$W1Hi' AND ts < TIMESTAMP '$W2Hi'
                     GROUP BY 1, 2)
        SELECT COALESCE(a.user_id, b.user_id) AS user_id,
               COALESCE(a.event_type, b.event_type) AS event_type,
               COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b,
               CASE WHEN n_a IS NULL THEN 'new'
                    WHEN n_b IS NULL THEN 'removed'
                    WHEN n_a = n_b THEN 'unchanged'
                    ELSE 'changed' END AS status
        FROM a FULL OUTER JOIN b
          ON a.user_id = b.user_id AND a.event_type = b.event_type""",

    "q11_scd1_merge" ->
      s"""WITH hist AS (${histSql()}), nw AS (${nwSql()})
        SELECT COALESCE(n.uk, h.uk) AS uk,
               CASE WHEN n.uk IS NOT NULL THEN n.value ELSE h.value END AS value,
               CASE WHEN n.uk IS NOT NULL THEN n.published ELSE h.published END AS published,
               CASE WHEN n.uk IS NOT NULL AND h.uk IS NOT NULL
                      THEN COALESCE(NULLIF(TRIM(n.notes), ''), h.notes)
                    WHEN n.uk IS NOT NULL THEN n.notes
                    ELSE h.notes END AS notes
        FROM nw n FULL OUTER JOIN hist h ON n.uk = h.uk""",

    "q12_scd2_merge" ->
      s"""WITH hist AS (${histSql()}), nw AS (${nwSql()}),
           j AS (SELECT n.uk AS nuk, h.uk AS huk,
                        n.value AS nv, n.published AS np, n.notes AS nn,
                        h.value AS hv, h.published AS hp, h.notes AS hn,
                        $ChangedSql AS ch
                 FROM nw n FULL OUTER JOIN hist h ON n.uk = h.uk)
        SELECT huk AS uk, hv AS value, hp AS published, hn AS notes,
               '$W1Hi' AS eff_start, CAST(NULL AS VARCHAR) AS eff_end,
               1 AS current_flag, 'unchanged' AS _status
        FROM j WHERE nuk IS NOT NULL AND huk IS NOT NULL AND NOT ch
        UNION ALL
        SELECT huk, hv, hp, hn, '$W1Hi', '$BatchTs', 0, 'expire'
        FROM j WHERE huk IS NOT NULL AND (nuk IS NULL OR ch)
        UNION ALL
        SELECT nuk, nv, np,
               CASE WHEN huk IS NOT NULL
                      THEN COALESCE(NULLIF(TRIM(nn), ''), hn) ELSE nn END,
               '$BatchTs', CAST(NULL AS VARCHAR), 1, 'insert'
        FROM j WHERE nuk IS NOT NULL AND (huk IS NULL OR ch)""",

    "q13_merge_upsert" ->
      s"""WITH hist AS (${histSql()}), nw AS (${nwSql()}),
           j AS (SELECT n.uk AS nuk, h.uk AS huk,
                        n.value AS nv, n.published AS np, n.notes AS nn,
                        h.value AS hv, h.published AS hp, h.notes AS hn,
                        $ChangedSql AS ch
                 FROM nw n FULL OUTER JOIN hist h ON n.uk = h.uk)
        SELECT COALESCE(nuk, huk) AS uk,
               CASE WHEN nuk IS NOT NULL THEN nv ELSE hv END AS value,
               CASE WHEN nuk IS NOT NULL THEN np ELSE hp END AS published,
               CASE WHEN nuk IS NOT NULL AND huk IS NOT NULL AND ch
                      THEN COALESCE(NULLIF(TRIM(nn), ''), hn)
                    WHEN nuk IS NOT NULL AND huk IS NOT NULL THEN hn
                    WHEN nuk IS NOT NULL THEN nn
                    ELSE hn END AS notes,
               CASE WHEN nuk IS NOT NULL AND huk IS NOT NULL AND ch THEN 'update'
                    WHEN nuk IS NOT NULL AND huk IS NOT NULL THEN 'unchanged'
                    WHEN nuk IS NOT NULL THEN 'insert'
                    ELSE 'preserve' END AS _status
        FROM j""",

    "q14_append_dedup" ->
      s"""WITH hist AS (${histSql(withId = true)}), nw AS (${nwSql(withId = true)})
        SELECT uk, event_id, published
        FROM (SELECT uk, event_id, published,
                     row_number() OVER (PARTITION BY uk
                       ORDER BY prio, event_id) AS rn
              FROM (SELECT uk, event_id, published, 0 AS prio FROM nw
                    UNION ALL
                    SELECT uk, event_id, published, 1 AS prio FROM hist))
        WHERE rn = 1""",

    "q15_date_filter" ->
      """SELECT o_orderpriority, COUNT(*) AS n FROM orders
         WHERE o_orderdate >= TIMESTAMP '1998-08-02 00:00:00' - INTERVAL 365 DAY
         GROUP BY o_orderpriority""",

    "q16_content_filter" ->
      """SELECT lang, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS total_chars
         FROM documents
         WHERE text IS NOT NULL AND TRIM(text) <> '' AND TRIM(text) <> 'nan'
           AND lang IS NOT NULL AND TRIM(lang) <> '' AND TRIM(lang) <> 'nan'
         GROUP BY lang""",

    "q17_keyword_filter" ->
      """SELECT source, COUNT(*) AS n FROM documents
         WHERE NOT contains(lower(COALESCE(text, '')), 'stream')
           AND NOT contains(lower(COALESCE(text, '')), 'vector')
         GROUP BY source""",

    "q18_normalize" ->
      """SELECT doc_id,
         substr(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), 1, 60) AS norm_text
         FROM documents""",

    "q19_html_to_text" -> htmlToTextOracle,

    "q20_ts_bucket" ->
      """SELECT event_id, strftime(ts, '%Y-%m-%d %H:00:00') AS hour_bucket, value
         FROM events WHERE event_type = 'purchase'""",

    "q21_skills_match" -> {
      s"""WITH dict(t) AS ($dictValuesSql),
           resume AS (SELECT t FROM dict WHERE contains(lower('$ResumeQ'), t)),
           job AS (SELECT doc_id, t FROM documents, dict
                   WHERE contains(lower(COALESCE(text, '')), t)),
           jn AS (SELECT doc_id, COUNT(*) AS n_job,
                         string_agg(t, ',' ORDER BY t) AS job_str
                  FROM job GROUP BY doc_id),
           m AS (SELECT j.doc_id, COUNT(*) AS n_m,
                        string_agg(j.t, ',' ORDER BY j.t) AS m_str
                 FROM job j JOIN resume r ON j.t = r.t GROUP BY j.doc_id),
           miss AS (SELECT j.doc_id, string_agg(j.t, ',' ORDER BY j.t) AS miss_str
                    FROM job j LEFT JOIN resume r ON j.t = r.t
                    WHERE r.t IS NULL GROUP BY j.doc_id)
        SELECT d.doc_id,
               COALESCE(jn.job_str, '') AS job_skills,
               COALESCE(m.m_str, '') AS matched_skills,
               COALESCE(miss.miss_str, '') AS missing_skills,
               CASE WHEN jn.n_job IS NULL OR jn.n_job = 0 THEN 0.0
                    ELSE ROUND(CAST(COALESCE(m.n_m, 0) AS DOUBLE) / jn.n_job * 100, 2)
               END AS match_percentage
        FROM documents d
        LEFT JOIN jn ON d.doc_id = jn.doc_id
        LEFT JOIN m ON d.doc_id = m.doc_id
        LEFT JOIN miss ON d.doc_id = miss.doc_id"""
    },

    "q22_dedup_exact" ->
      """SELECT md5(trim(regexp_replace(lower(COALESCE(text, '')), '\s+', ' ', 'g'))) AS fingerprint,
         MIN(doc_id) AS canonical_id, COUNT(*) AS n_docs
         FROM documents GROUP BY 1""",

    "q23_jaccard_pairs" -> jaccardOracle(0.5),
    "q24_minhash_pairs" -> jaccardOracle(0.8),

    // transitive closure over the jaccard pair graph via recursive CTE;
    // canonical = min reachable id (incl. self), singletons = self
    "q41_dedup_clusters" ->
      s"""WITH RECURSIVE jp AS (${jaccardOracle(0.5)}),
           edges AS (SELECT id1 AS a, id2 AS b FROM jp
                     UNION SELECT id2, id1 FROM jp),
           reach(a, b) AS (
             SELECT a, b FROM edges
             UNION
             SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
         SELECT d.doc_id,
                CAST(COALESCE(least(mn.m, d.doc_id), d.doc_id) AS BIGINT)
                  AS canonical_id
         FROM documents d
         LEFT JOIN (SELECT a, MIN(b) AS m FROM reach GROUP BY a) mn
           ON d.doc_id = mn.a""",

    "q25_simhash" ->
      """WITH tok AS (
           SELECT doc_id,
                  unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                                     x -> x <> '')) AS t
           FROM documents),
         h AS (SELECT doc_id,
                      CAST(('0x' || substr(md5(t || '#0'), 1, 15)) AS BIGINT) AS hv
               FROM tok),
         bits AS (SELECT doc_id, i,
                         SUM(CASE WHEN (hv >> i) & 1 = 1 THEN 1 ELSE -1 END) AS vote
                  FROM h CROSS JOIN range(60) AS r(i) GROUP BY doc_id, i),
         fp AS (SELECT doc_id,
                       SUM(CASE WHEN vote > 0 THEN (CAST(1 AS BIGINT) << i)
                                ELSE 0 END) AS simhash
                FROM bits GROUP BY doc_id)
       SELECT d.doc_id, CAST(COALESCE(fp.simhash, 0) AS BIGINT) AS simhash
       FROM documents d LEFT JOIN fp ON d.doc_id = fp.doc_id""",

    "q37_simhash_pairs" ->
      """WITH tok AS (
           SELECT doc_id,
                  unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                                     x -> x <> '')) AS t
           FROM documents),
         h AS (SELECT doc_id,
                      CAST(('0x' || substr(md5(t || '#0'), 1, 15)) AS BIGINT) AS hv
               FROM tok),
         bits AS (SELECT doc_id, i,
                         SUM(CASE WHEN (hv >> i) & 1 = 1 THEN 1 ELSE -1 END) AS vote
                  FROM h CROSS JOIN range(60) AS r(i) GROUP BY doc_id, i),
         fp AS (SELECT d.doc_id,
                       CAST(COALESCE(SUM(CASE WHEN vote > 0 THEN (CAST(1 AS BIGINT) << i)
                                              ELSE 0 END), 0) AS BIGINT) AS simhash
                FROM documents d LEFT JOIN bits ON d.doc_id = bits.doc_id
                GROUP BY d.doc_id)
       SELECT a.doc_id AS id1, b.doc_id AS id2,
              CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
       FROM fp a JOIN fp b ON a.doc_id < b.doc_id
       WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""",

    "q26_lang_id" -> langIdOracle,

    "q42_quality_filter" -> curationSql(
      """SELECT doc_id, pred_lang, quality_score, n_tokens FROM scored
         WHERE pred_lang = 'en' AND quality_score >= 0.3
           AND n_tokens BETWEEN 5 AND 10000"""),

    "q43_corpus_stats" -> curationSql(
      """SELECT pred_lang, COUNT(*) AS n_docs,
                CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
                ROUND(CAST(SUM(CAST(quality_score AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*), 4) AS mean_quality
         FROM scored GROUP BY pred_lang"""),

    "q27_text_stats" ->
      """WITH base AS (
           SELECT doc_id, COALESCE(text, '') AS t,
                  list_filter(regexp_split_to_array(lower(COALESCE(text, '')), '[^a-z0-9]+'),
                              x -> x <> '') AS toks
           FROM documents),
         f AS (SELECT doc_id,
                      length(t) AS n_chars,
                      CAST(len(toks) AS BIGINT) AS n_tokens,
                      CAST(ceil(CAST(length(t) AS DOUBLE) / 4) AS BIGINT) AS token_estimate,
                      length(t) - length(regexp_replace(t, '[.,!?;:]', '', 'g')) AS n_punct,
                      len(list_filter(['the','and','of','to','in','is','that','it','for','with'],
                                      w -> list_contains(toks, w))) AS n_stop
               FROM base)
       SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars, n_tokens, token_estimate,
              ROUND(CAST(n_punct AS DOUBLE) / greatest(n_chars, 1), 4) AS punct_ratio,
              ROUND(CAST(n_stop AS DOUBLE) / greatest(n_tokens, 1), 4) AS stop_ratio,
              ROUND(CAST(n_chars AS DOUBLE) / greatest(n_tokens, 1), 4) AS mean_tok_len,
              ROUND(greatest(
                least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.5
                + least(ROUND(CAST(n_stop AS DOUBLE) / greatest(n_tokens, 1), 4) * 5.0, 1.0) * 0.5
                - least(ROUND(CAST(n_punct AS DOUBLE) / greatest(n_chars, 1), 4) * 2.0, 1.0) * 0.2,
                0.0), 4) AS quality_score
       FROM f""",

    "q28_fingerprint_groups" ->
      """SELECT md5(trim(regexp_replace(lower(COALESCE(text, '')), '\s+', ' ', 'g'))) AS fingerprint,
         COUNT(*) AS n_docs, MIN(doc_id) AS canonical_id
         FROM documents GROUP BY 1""",

    "q29_ann_topk" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
                    WHERE vec_id < 16),
         pairs AS (
           SELECT query_id, e.vec_id AS neighbor_id,
                  list_sum([qv[i]::DOUBLE * embedding[i]::DOUBLE FOR i IN range(1, 65)]) AS d,
                  sqrt(list_sum([qv[i]::DOUBLE * qv[i]::DOUBLE FOR i IN range(1, 65)])) AS nq,
                  sqrt(list_sum([embedding[i]::DOUBLE * embedding[i]::DOUBLE FOR i IN range(1, 65)])) AS nc
           FROM q CROSS JOIN embeddings e WHERE e.vec_id <> query_id),
         scored AS (SELECT query_id, neighbor_id,
                           ROUND(CASE WHEN nq * nc > 0 THEN d / (nq * nc) ELSE 0 END, 6) AS sim
                    FROM pairs),
         ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
                           ORDER BY sim DESC, neighbor_id) AS rn FROM scored)
       SELECT query_id, neighbor_id, sim FROM ranked WHERE rn <= 5""",

    "q129_ranking_eval" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
                    WHERE vec_id < 8),
         pairs AS (
           SELECT query_id, e.vec_id AS neighbor_id,
                  list_sum([qv[i]::DOUBLE * embedding[i]::DOUBLE FOR i IN range(1, 65)]) AS d,
                  sqrt(list_sum([qv[i]::DOUBLE * qv[i]::DOUBLE FOR i IN range(1, 65)])) AS nq,
                  sqrt(list_sum([embedding[i]::DOUBLE * embedding[i]::DOUBLE FOR i IN range(1, 65)])) AS nc
           FROM q CROSS JOIN embeddings e WHERE e.vec_id <> query_id),
         ranked AS (
           SELECT query_id, neighbor_id,
                  row_number() OVER (PARTITION BY query_id ORDER BY
                    ROUND(CASE WHEN nq * nc > 0 THEN d / (nq * nc) ELSE 0 END, 6) DESC,
                    neighbor_id) AS rn
           FROM pairs),
         rel AS (
           SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, 1.0 AS rel
           FROM embeddings a JOIN embeddings b
             ON a.label = b.label AND a.vec_id <> b.vec_id
           WHERE a.vec_id < 8),
         pred AS (
           SELECT r.query_id, r.rn, COALESCE(rel.rel, 0.0) AS rel
           FROM ranked r LEFT JOIN rel
             ON r.query_id = rel.query_id AND r.neighbor_id = rel.neighbor_id
           WHERE r.rn <= 5),
         agg AS (
           SELECT query_id,
                  SUM(CAST(ROUND(rel * ROUND(1.0 / log2(rn + 1), 9), 9)
                      AS DECIMAL(18,9))) AS dcgv,
                  MIN(CASE WHEN rel > 0 THEN rn END) AS frank
           FROM pred GROUP BY 1),
         ideal AS (
           SELECT query_id,
                  SUM(CAST(ROUND(rel * ROUND(1.0 / log2(rn + 1), 9), 9)
                      AS DECIMAL(18,9))) AS idcgv
           FROM (SELECT query_id, rel,
                        row_number() OVER (PARTITION BY query_id
                          ORDER BY rel DESC, neighbor_id) AS rn
                 FROM rel WHERE rel > 0)
           WHERE rn <= 5 GROUP BY 1)
       SELECT q.query_id,
              ROUND(COALESCE(1.0 / frank, 0.0), 6) AS mrr,
              ROUND(COALESCE(CAST(dcgv AS DOUBLE), 0.0), 6) AS dcg,
              ROUND(COALESCE(CAST(idcgv AS DOUBLE), 0.0), 6) AS idcg,
              CASE WHEN idcgv > 0
                   THEN ROUND(CAST(dcgv AS DOUBLE) / CAST(idcgv AS DOUBLE), 6)
                   ELSE 0.0 END AS ndcg
       FROM q LEFT JOIN agg USING (query_id) LEFT JOIN ideal USING (query_id)""",

    "q130_split_assign" ->
      """SELECT doc_id,
              CASE WHEN b < 800000 THEN 'train'
                   WHEN b < 900000 THEN 'val'
                   ELSE 'test' END AS split
       FROM (SELECT doc_id,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                 % 1000000 AS b
             FROM documents)""",

    "q131_token_budget" ->
      """WITH toks AS (
           SELECT doc_id, source, CAST(len(list_filter(
             regexp_split_to_array(lower(COALESCE(text, '')), '[^a-z0-9]+'),
             x -> x <> '')) AS BIGINT) AS n_tokens
           FROM documents),
         cum AS (SELECT doc_id, source, n_tokens,
                   SUM(n_tokens) OVER (PARTITION BY source
                     ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                     ROWS UNBOUNDED PRECEDING) AS cum_tokens
                 FROM toks)
       SELECT doc_id, source, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
       FROM cum WHERE cum_tokens <= 800""",

    "q132_edit_neardup" ->
      s"""WITH cands AS (${jaccardOracle(0.35)})
       SELECT c.id1, c.id2,
              ROUND(1 - CAST(levenshtein(d1.text, d2.text) AS DOUBLE) /
                        GREATEST(len(d1.text), len(d2.text)), 6) AS edit_sim
       FROM cands c
       JOIN documents d1 ON c.id1 = d1.doc_id
       JOIN documents d2 ON c.id2 = d2.doc_id
       WHERE ROUND(1 - CAST(levenshtein(d1.text, d2.text) AS DOUBLE) /
                       GREATEST(len(d1.text), len(d2.text)), 6) >= 0.4""",

    "q133_bpe_train" -> bpeOracle(8),

    "q134_bpe_encode" ->
      s"""WITH ${bpeCtes(8)},
       wsym AS (SELECT word,
                  CAST(len(regexp_extract_all(seg, '\\(([a-z0-9]+)\\)', 1))
                       AS BIGINT) AS n_sym
                FROM seg8)
       SELECT doc_id, CAST(SUM(n_sym) AS BIGINT) AS n_bpe_tokens
       FROM (SELECT doc_id, unnest(list_filter(
               regexp_split_to_array(lower(COALESCE(text, '')), '[^a-z0-9]+'),
               x -> x <> '')) AS word FROM documents) d
       JOIN wsym USING (word)
       GROUP BY 1""",

    "q135_url_normalize" ->
      s"""WITH $urlNormCtes
       SELECT doc_id, url_norm,
              regexp_extract(regexp_replace(hostc, ':[0-9]+$$', ''),
                '([^.]+(?:\\.(?:(?:co|com|org|net|ac|gov|edu)\\.(?:uk|jp|au|br|in|cn|mx|nz|za|kr)|[^.]+))?)$$',
                1) AS domain
       FROM norm""",

    "q136_url_dedup" ->
      s"""WITH $urlNormCtes
       SELECT url_norm, CAST(COUNT(*) AS BIGINT) AS n_docs,
              MIN(doc_id) AS canonical_id
       FROM norm GROUP BY 1""",

    "q137_dedup_within_doc" ->
      """WITH segs AS (
           SELECT doc_id, pos, s,
                  CAST(('0x' || substr(md5(trim(regexp_replace(lower(s),
                         '\s+', ' ', 'g'))), 1, 15)) AS BIGINT) AS fp
           FROM (SELECT doc_id, generate_subscripts(arr, 1) AS pos,
                        unnest(arr) AS s
                 FROM (SELECT doc_id,
                         string_split_regex(COALESCE(text, ''), '\s+') AS arr
                       FROM documents))
           WHERE trim(s) <> ''),
         perfp AS (SELECT doc_id, fp, MIN(pos) AS pos,
                          arg_min(s, pos) AS s, COUNT(*) AS n
                   FROM segs GROUP BY 1, 2),
         reb AS (SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_segments,
                        COUNT(*) AS n_kept,
                        string_agg(s, ' ' ORDER BY pos) AS text_clean
                 FROM perfp GROUP BY 1)
       SELECT d.doc_id, COALESCE(text_clean, '') AS text_clean,
              COALESCE(n_segments, 0) AS n_segments,
              COALESCE(n_segments, 0) - COALESCE(n_kept, 0) AS n_removed
       FROM documents d LEFT JOIN reb USING (doc_id)""",

    "q139_lr_train" ->
      s"""WITH ${lrCtes(16, 4, "0.0001")}
       SELECT j AS feature, CAST(w AS DOUBLE) AS weight FROM w4
       UNION ALL
       SELECT CAST(-1 AS BIGINT) AS feature, CAST(b AS DOUBLE) AS weight
       FROM b4""",

    "q140_lr_score" ->
      s"""WITH ${lrCtes(16, 4, "0.0001")}
       SELECT z.doc_id,
              ROUND(1/(1+exp(-CAST(z.zs + (SELECT b FROM b4)
                AS DOUBLE))), 6) AS score
       FROM (SELECT f.doc_id, SUM(w.w * CAST(f.x AS DECIMAL(6,0))) AS zs
             FROM lrfeats f JOIN w4 w USING (j) GROUP BY 1) z""",

    // Gopher rule bundle mirrored term by term: whitespace words,
    // trimmed lines, 4dp-rounded ratios, verdicts over the ROUNDED
    // values — identical boundary behavior by construction
    "q141_gopher_rules" ->
      """WITH w AS (
           SELECT doc_id, COALESCE(text, '') AS t,
             list_filter(regexp_split_to_array(COALESCE(text, ''), '\s+'),
                         x -> x <> '') AS words,
             list_filter(list_transform(
                 regexp_split_to_array(COALESCE(text, ''), '\n'),
                 x -> trim(x)), x -> x <> '') AS lines
           FROM documents),
         s AS (
           SELECT doc_id,
             CAST(len(words) AS BIGINT) AS n_words,
             GREATEST(CAST(len(words) AS BIGINT), 1) AS wd,
             length(regexp_replace(t, '\s', '', 'g')) AS word_chars,
             (length(t) - length(replace(t, '#', ''))) +
               len(regexp_extract_all(t, '\.\.\.')) AS n_sym,
             len(list_filter(words,
                 x -> regexp_matches(x, '[A-Za-z]'))) AS n_alpha,
             CAST(len(list_intersect(
                 ['the','be','to','of','and','that','have','with'],
                 list_filter(regexp_split_to_array(lower(t), '[^a-z0-9]+'),
                             x -> x <> ''))) AS BIGINT) AS stop_hits,
             GREATEST(len(lines), 1) AS ld,
             len(list_filter(lines, x -> starts_with(x, '- ')
               OR starts_with(x, '* ') OR starts_with(x, '•'))) AS n_bullet,
             len(list_filter(lines, x -> ends_with(x, '...'))) AS n_ell
           FROM w),
         r AS (
           SELECT doc_id, n_words,
             ROUND(word_chars::DOUBLE / wd, 4) AS mean_word_len,
             ROUND(n_sym::DOUBLE / wd, 4) AS symbol_ratio,
             ROUND(n_alpha::DOUBLE / wd, 4) AS alpha_ratio,
             stop_hits,
             ROUND(n_bullet::DOUBLE / ld, 4) AS bullet_ratio,
             ROUND(n_ell::DOUBLE / ld, 4) AS ellipsis_ratio
           FROM s),
         f AS (
           SELECT *,
             CAST((CASE WHEN n_words BETWEEN 10 AND 100000 THEN 0 ELSE 1 END) +
                  (CASE WHEN mean_word_len BETWEEN 3 AND 10 THEN 0 ELSE 1 END) +
                  (CASE WHEN symbol_ratio <= 0.1 THEN 0 ELSE 1 END) +
                  (CASE WHEN alpha_ratio >= 0.8 THEN 0 ELSE 1 END) +
                  (CASE WHEN stop_hits >= 2 THEN 0 ELSE 1 END) +
                  (CASE WHEN bullet_ratio <= 0.9 THEN 0 ELSE 1 END) +
                  (CASE WHEN ellipsis_ratio <= 0.3 THEN 0 ELSE 1 END)
               AS BIGINT) AS n_rules_failed
           FROM r)
       SELECT doc_id, n_words, mean_word_len, symbol_ratio, alpha_ratio,
              stop_hits, bullet_ratio, ellipsis_ratio, n_rules_failed,
              CASE WHEN n_rules_failed = 0 THEN CAST(1 AS BIGINT)
                   ELSE CAST(0 AS BIGINT) END AS pass
       FROM f""",

    // KMV value sample mirrored: per-key bottom-64 by md5(doc_id),
    // values sorted, p-quantile = s[floor(p*(m-1))] 0-based
    "q147_sketch_quantiles" ->
      """WITH r AS (
           SELECT source, n_chars,
                  row_number() OVER (PARTITION BY source
                    ORDER BY CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                                  AS BIGINT), doc_id) AS rn
           FROM documents),
         s AS (SELECT source, list_sort(list(CAST(n_chars AS DOUBLE))) AS vs
               FROM r WHERE rn <= 64 GROUP BY 1)
       SELECT source,
              vs[CAST(FLOOR(0.5 * (len(vs) - 1)) AS INT) + 1] AS p50,
              vs[CAST(FLOOR(0.9 * (len(vs) - 1)) AS INT) + 1] AS p90,
              vs[CAST(FLOOR(0.99 * (len(vs) - 1)) AS INT) + 1] AS p99
       FROM s""",

    // span removal mirrored: 0-based gram starts, RANGE-window
    // coverage (a token is covered when a hot gram starts within the
    // k-1 positions before it), order-preserving rebuild
    "q146_remove_dup_spans" ->
      """WITH toks AS (
           SELECT doc_id, list_filter(
             regexp_split_to_array(lower(COALESCE(text, '')), '[^a-z0-9]+'),
             x -> x <> '') AS ts
           FROM documents),
         g AS (
           SELECT doc_id, i AS gpos,
                  CAST(('0x' || substr(md5(array_to_string(ts[i + 1 : i + 5], ' ')), 1, 15))
                       AS BIGINT) AS fp
           FROM (SELECT doc_id, ts,
                        unnest(range(0, GREATEST(len(ts) - 4, 0))) AS i
                 FROM toks)),
         hot AS (SELECT fp FROM (SELECT fp, COUNT(DISTINCT doc_id) AS nd
                                 FROM g GROUP BY 1) WHERE nd > 1),
         ds AS (SELECT doc_id, gpos FROM g WHERE fp IN (SELECT fp FROM hot)),
         tk AS (SELECT doc_id, i AS pos, ts[i + 1] AS tok
                FROM (SELECT doc_id, ts, unnest(range(0, len(ts))) AS i
                      FROM toks)),
         cov AS (
           SELECT tk.doc_id, tk.pos, tk.tok,
                  MAX(CASE WHEN ds.gpos IS NOT NULL THEN 1 ELSE 0 END)
                    OVER (PARTITION BY tk.doc_id ORDER BY tk.pos
                          RANGE BETWEEN 4 PRECEDING AND CURRENT ROW) AS c
           FROM tk LEFT JOIN ds ON ds.doc_id = tk.doc_id AND ds.gpos = tk.pos),
         reb AS (
           SELECT doc_id, COUNT(*) AS n_tokens,
                  CAST(SUM(c) AS BIGINT) AS n_removed,
                  COALESCE(string_agg(tok, ' ' ORDER BY pos)
                    FILTER (WHERE c = 0), '') AS text_clean
           FROM cov GROUP BY 1)
       SELECT d.doc_id, COALESCE(text_clean, '') AS text_clean,
              COALESCE(n_tokens, 0) AS n_tokens,
              COALESCE(n_removed, 0) AS n_removed
       FROM documents d LEFT JOIN reb USING (doc_id)""",

    "q138_training_shards" ->
      """WITH d AS (SELECT doc_id,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '##shard'),
               1, 15)) AS BIGINT) AS draw
           FROM documents)
       SELECT doc_id, CAST(draw % 8 AS BIGINT) AS shard,
              CAST(row_number() OVER (PARTITION BY draw % 8
                ORDER BY draw, doc_id) AS BIGINT) AS rank_in_shard
       FROM d""",

    "q30_ivf_assign" ->
      """WITH c AS (SELECT vec_id AS centroid_id, embedding AS cv FROM embeddings
                    WHERE vec_id < 8),
         pairs AS (
           SELECT e.vec_id, centroid_id,
                  list_sum([cv[i]::DOUBLE * embedding[i]::DOUBLE FOR i IN range(1, 65)]) AS d,
                  sqrt(list_sum([cv[i]::DOUBLE * cv[i]::DOUBLE FOR i IN range(1, 65)])) AS nc1,
                  sqrt(list_sum([embedding[i]::DOUBLE * embedding[i]::DOUBLE FOR i IN range(1, 65)])) AS nc2
           FROM embeddings e CROSS JOIN c),
         scored AS (SELECT vec_id, centroid_id,
                           ROUND(CASE WHEN nc1 * nc2 > 0 THEN d / (nc1 * nc2) ELSE 0 END, 6) AS sim
                    FROM pairs),
         ranked AS (SELECT *, row_number() OVER (PARTITION BY vec_id
                           ORDER BY sim DESC, centroid_id) AS rn FROM scored)
       SELECT vec_id, centroid_id FROM ranked WHERE rn = 1""",

    "q32_embedding_neardup" ->
      """WITH c AS (SELECT vec_id AS centroid_id, embedding AS cv FROM embeddings
                    WHERE vec_id < 8),
         cells AS (
           SELECT vec_id, centroid_id, embedding FROM (
             SELECT e.vec_id, centroid_id, e.embedding,
                    row_number() OVER (PARTITION BY e.vec_id
                      ORDER BY ROUND(CASE WHEN n1 * n2 > 0 THEN d / (n1 * n2) ELSE 0 END, 6) DESC,
                               centroid_id) AS rn
             FROM (SELECT e.vec_id, centroid_id, e.embedding,
                          list_sum([cv[i]::DOUBLE * e.embedding[i]::DOUBLE FOR i IN range(1, 65)]) AS d,
                          sqrt(list_sum([cv[i]::DOUBLE * cv[i]::DOUBLE FOR i IN range(1, 65)])) AS n1,
                          sqrt(list_sum([e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE FOR i IN range(1, 65)])) AS n2
                   FROM embeddings e CROSS JOIN c) e)
           WHERE rn = 1),
         pairs AS (
           SELECT a.vec_id AS id1, b.vec_id AS id2,
                  list_sum([a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE FOR i IN range(1, 65)]) AS d,
                  sqrt(list_sum([a.embedding[i]::DOUBLE * a.embedding[i]::DOUBLE FOR i IN range(1, 65)])) AS n1,
                  sqrt(list_sum([b.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE FOR i IN range(1, 65)])) AS n2
           FROM cells a JOIN cells b
             ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id)
       SELECT id1, id2,
              ROUND(CASE WHEN n1 * n2 > 0 THEN d / (n1 * n2) ELSE 0 END, 6) AS sim
       FROM pairs
       WHERE ROUND(CASE WHEN n1 * n2 > 0 THEN d / (n1 * n2) ELSE 0 END, 6) >= 0.45""",

    "q124_semantic_dedup" -> SemDedupOracle,

    // q126 is q124 through the SQL TVF, filtered to the dropped rows
    "q126_sql_semdedup" ->
      s"""SELECT vec_id, centroid_id, centroid_sim
          FROM ($SemDedupOracle) WHERE kept = 0""",

    // PQ family: one shared CTE chain (seeds → subspace codebooks →
    // one L2 k-means round → encode), mirrored term by term — same
    // md5 seed order, 6dp distance rounding, DECIMAL(18,6) means
    "q142_pq_codebooks" ->
      s"""WITH $PqCtes
       SELECT sub, code, CAST(d.j - 1 AS BIGINT) AS dim, cw[d.j] AS v
       FROM cb CROSS JOIN range(1, 17) d(j)""",

    "q143_pq_encode" ->
      s"""WITH $PqCtes
       SELECT vec_id, sub, code FROM enc""",

    "q144_pq_topk" ->
      s"""WITH $PqCtes,
         lut AS (
           SELECT q.vec_id AS query_id, cb.sub, cb.code,
                  CAST(ROUND(list_sum([q.x[j] * cb.cw[j] FOR j IN range(1, 17)]), 6)
                       AS DECIMAL(18,6)) AS part
           FROM (SELECT vec_id, sub, x FROM sv WHERE vec_id < 16) q
           JOIN cb ON q.sub = cb.sub),
         scored AS (
           SELECT l.query_id, e.vec_id AS neighbor_id,
                  CAST(SUM(l.part) AS DOUBLE) AS score
           FROM enc e JOIN lut l ON e.sub = l.sub AND e.code = l.code
           WHERE l.query_id <> e.vec_id
           GROUP BY 1, 2)
       SELECT query_id, neighbor_id, score FROM (
         SELECT *, row_number() OVER (PARTITION BY query_id
                     ORDER BY score DESC, neighbor_id ASC) AS rn
         FROM scored) WHERE rn <= 8""",

    // IVF+PQ: q38's cell/probe CTEs composed with the PQ chain's
    // enc + q144's LUT — probed cells only, ADC DECIMAL sums
    "q145_ivfpq_topk" ->
      s"""WITH $PqCtes,
         c AS (SELECT vec_id AS centroid_id, embedding AS cvv FROM embeddings
               WHERE vec_id < 8),
         cells AS (
           SELECT vec_id, centroid_id FROM (
             SELECT e.vec_id, centroid_id,
                    row_number() OVER (PARTITION BY e.vec_id
                      ORDER BY ROUND(CASE WHEN n1 * n2 > 0 THEN d / (n1 * n2) ELSE 0 END, 6) DESC,
                               centroid_id) AS rn
             FROM (SELECT e.vec_id, centroid_id,
                          list_sum([cvv[i]::DOUBLE * e.embedding[i]::DOUBLE FOR i IN range(1, 65)]) AS d,
                          sqrt(list_sum([cvv[i]::DOUBLE * cvv[i]::DOUBLE FOR i IN range(1, 65)])) AS n1,
                          sqrt(list_sum([e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE FOR i IN range(1, 65)])) AS n2
                   FROM embeddings e CROSS JOIN c) e)
           WHERE rn = 1),
         probes AS (
           SELECT query_id, centroid_id FROM (
             SELECT q.vec_id AS query_id, centroid_id,
                    row_number() OVER (PARTITION BY q.vec_id
                      ORDER BY ROUND(CASE WHEN n1 * n2 > 0 THEN d / (n1 * n2) ELSE 0 END, 6) DESC,
                               centroid_id) AS rn
             FROM (SELECT q.vec_id, centroid_id,
                          list_sum([cvv[i]::DOUBLE * q.embedding[i]::DOUBLE FOR i IN range(1, 65)]) AS d,
                          sqrt(list_sum([cvv[i]::DOUBLE * cvv[i]::DOUBLE FOR i IN range(1, 65)])) AS n1,
                          sqrt(list_sum([q.embedding[i]::DOUBLE * q.embedding[i]::DOUBLE FOR i IN range(1, 65)])) AS n2
                   FROM embeddings q CROSS JOIN c WHERE q.vec_id < 16) q)
           WHERE rn <= 2),
         lut AS (
           SELECT q.vec_id AS query_id, cb.sub, cb.code,
                  CAST(ROUND(list_sum([q.x[j] * cb.cw[j] FOR j IN range(1, 17)]), 6)
                       AS DECIMAL(18,6)) AS part
           FROM (SELECT vec_id, sub, x FROM sv WHERE vec_id < 16) q
           JOIN cb ON q.sub = cb.sub),
         scored AS (
           SELECT p.query_id, cells.vec_id AS neighbor_id,
                  CAST(SUM(l.part) AS DOUBLE) AS score
           FROM probes p
           JOIN cells ON cells.centroid_id = p.centroid_id
           JOIN enc ON enc.vec_id = cells.vec_id
           JOIN lut l ON l.query_id = p.query_id AND l.sub = enc.sub
                     AND l.code = enc.code
           WHERE cells.vec_id <> p.query_id
           GROUP BY 1, 2)
       SELECT query_id, neighbor_id, score FROM (
         SELECT *, row_number() OVER (PARTITION BY query_id
                     ORDER BY score DESC, neighbor_id ASC) AS rn
         FROM scored) WHERE rn <= 3""",

    "q44_srp_neardup" -> srpOracle(0.45, bits = 16, bands = 4, dim = 64),

    // mirror of kmeansRefineAssign: seed-assign (q30 semantics), exact
    // decimal per-dimension means, re-assign against the refined lists
    // trainCentroids: hash-ordered seed pick, one assign + exact
    // decimal mean round; same arithmetic contract as q48
    "q128_train_centroids" ->
      """WITH h AS (
           SELECT vec_id, embedding,
                  CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR) || '#seed'), 1, 15))
                       AS BIGINT) AS hh
           FROM embeddings),
         seeds AS (
           SELECT row_number() OVER (ORDER BY hh, vec_id) - 1 AS centroid_id,
                  embedding AS cv
           FROM (SELECT * FROM h ORDER BY hh, vec_id LIMIT 8)),
         scored AS (
           SELECT e.vec_id, s.centroid_id, e.embedding,
                  list_sum([s.cv[i]::DOUBLE * e.embedding[i]::DOUBLE FOR i IN range(1, 65)]) AS d,
                  sqrt(list_sum([s.cv[i]::DOUBLE * s.cv[i]::DOUBLE FOR i IN range(1, 65)])) AS n1,
                  sqrt(list_sum([e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE FOR i IN range(1, 65)])) AS n2
           FROM embeddings e CROSS JOIN seeds s),
         cells AS (
           SELECT vec_id, centroid_id, embedding FROM (
             SELECT vec_id, centroid_id, embedding,
                    row_number() OVER (PARTITION BY vec_id
                      ORDER BY ROUND(CASE WHEN n1 * n2 > 0 THEN d / (n1 * n2) ELSE 0 END, 6) DESC,
                               centroid_id) AS rn
             FROM scored)
           WHERE rn = 1)
       SELECT centroid_id, CAST(d.i - 1 AS BIGINT) AS dim,
              ROUND(CAST(SUM(CAST(ROUND(embedding[d.i]::DOUBLE, 6) AS DECIMAL(18,6))) AS DOUBLE)
                    / COUNT(*), 6) AS v
       FROM cells CROSS JOIN range(1, 65) d(i)
       GROUP BY 1, 2""",

    "q48_kmeans_refine" ->
      """WITH c0 AS (SELECT vec_id AS centroid_id, embedding AS cv FROM embeddings
                     WHERE vec_id < 8),
         cells1 AS (
           SELECT vec_id, centroid_id, embedding FROM (
             SELECT e.vec_id, centroid_id, e.embedding,
                    row_number() OVER (PARTITION BY e.vec_id
                      ORDER BY ROUND(CASE WHEN n1 * n2 > 0 THEN d / (n1 * n2) ELSE 0 END, 6) DESC,
                               centroid_id) AS rn
             FROM (SELECT e.vec_id, centroid_id, e.embedding,
                          list_sum([cv[i]::DOUBLE * e.embedding[i]::DOUBLE FOR i IN range(1, 65)]) AS d,
                          sqrt(list_sum([cv[i]::DOUBLE * cv[i]::DOUBLE FOR i IN range(1, 65)])) AS n1,
                          sqrt(list_sum([e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE FOR i IN range(1, 65)])) AS n2
                   FROM embeddings e CROSS JOIN c0) e)
           WHERE rn = 1),
         means AS (
           SELECT centroid_id, list(m ORDER BY i) AS cv FROM (
             SELECT centroid_id, d.i AS i,
                    ROUND(CAST(SUM(CAST(ROUND(embedding[d.i]::DOUBLE, 6) AS DECIMAL(18,6))) AS DOUBLE)
                          / COUNT(*), 6) AS m
             FROM cells1 CROSS JOIN range(1, 65) d(i)
             GROUP BY 1, 2)
           GROUP BY centroid_id),
         final AS (
           SELECT vec_id, centroid_id FROM (
             SELECT e.vec_id, centroid_id,
                    row_number() OVER (PARTITION BY e.vec_id
                      ORDER BY ROUND(CASE WHEN n1 * n2 > 0 THEN d / (n1 * n2) ELSE 0 END, 6) DESC,
                               centroid_id) AS rn
             FROM (SELECT e.vec_id, m.centroid_id,
                          list_sum([m.cv[i] * e.embedding[i]::DOUBLE FOR i IN range(1, 65)]) AS d,
                          sqrt(list_sum([m.cv[i] * m.cv[i] FOR i IN range(1, 65)])) AS n1,
                          sqrt(list_sum([e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE FOR i IN range(1, 65)])) AS n2
                   FROM embeddings e CROSS JOIN means m) e)
           WHERE rn = 1)
       SELECT vec_id, centroid_id FROM final""",

    "q46_hash_sample" ->
      """SELECT doc_id, lang, source FROM documents
         WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
               % 1000000 < 100000""",

    "q49_decontaminate" ->
      """WITH sets AS (
           SELECT doc_id, source, list_distinct(
             CASE WHEN len(toks) <= 3 THEN [array_to_string(toks, ' ')]
                  ELSE [array_to_string(toks[i:i+2], ' ')
                        FOR i IN range(1, len(toks) - 1)] END) AS sh
           FROM (SELECT doc_id, source,
                   list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                               x -> x <> '') AS toks
                 FROM documents)),
         bench AS (SELECT DISTINCT unnest(sh) AS s FROM sets WHERE source = 'src0'),
         post AS (SELECT doc_id, unnest(sh) AS s FROM sets WHERE source <> 'src0')
       SELECT post.doc_id, COUNT(*) AS n_shared
       FROM post JOIN bench ON post.s = bench.s
       GROUP BY post.doc_id""",

    "q50_pack_sequences" ->
      """WITH toks AS (
           SELECT doc_id, CAST(len(list_filter(
             regexp_split_to_array(lower(COALESCE(text, '')), '[^a-z0-9]+'),
             x -> x <> '')) AS BIGINT) AS tok
           FROM documents),
         cum AS (SELECT doc_id, tok,
                   SUM(tok) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS c
                 FROM toks)
       SELECT CAST(FLOOR((c - tok) / 1024) AS BIGINT) AS bin_id,
              COUNT(*) AS n_docs,
              CAST(SUM(tok) AS BIGINT) AS total_tokens,
              MIN(doc_id) AS first_id, MAX(doc_id) AS last_id
       FROM cum GROUP BY 1""",

    "q51_repetition" ->
      """WITH toks AS (
           SELECT doc_id, list_filter(
             regexp_split_to_array(lower(COALESCE(text, '')), '[^a-z0-9]+'),
             x -> x <> '') AS tk
           FROM documents),
         t2 AS (SELECT doc_id, tk,
                  CAST(len(tk) AS BIGINT) AS total,
                  CAST(len(list_distinct(tk)) AS BIGINT) AS dst
                FROM toks WHERE len(tk) >= 2),
         bgc AS (SELECT doc_id, g, COUNT(*) AS c
                 FROM (SELECT doc_id, unnest([tk[i] || ' ' || tk[i + 1]
                                              FOR i IN range(1, len(tk))]) AS g
                       FROM t2)
                 GROUP BY 1, 2),
         bga AS (SELECT doc_id, MAX(c) AS maxg FROM bgc GROUP BY 1)
       SELECT t2.doc_id,
              ROUND(1.0 - CAST(dst AS DOUBLE) / total, 6) AS dup_token_ratio,
              ROUND(CAST(maxg AS DOUBLE) / (total - 1), 6) AS top_bigram_ratio
       FROM t2 JOIN bga USING (doc_id)""",

    "q53_stratified_sample" ->
      """SELECT doc_id, lang, source FROM documents
         WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
               % 1000000
               < CASE lang WHEN 'en' THEN 50000 ELSE 500000 END""",

    "q52_pii_redact" ->
      """SELECT event_id,
              regexp_replace(
                regexp_replace(props,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                  '<EMAIL>', 'g'),
                '[0-9]{2,}', '<NUM>', 'g') AS props_clean,
              CAST(len(regexp_extract_all(props, '[0-9]{2,}')) AS BIGINT)
                AS n_redacted
       FROM events""",

    "q54_asof_join" ->
      """WITH e AS (SELECT event_id, user_id,
                      date_trunc('microseconds', ts) AS ts, event_type, value
                    FROM events),
         v AS (SELECT user_id, ts, arg_max(value, event_id) AS view_value
               FROM e WHERE event_type = 'view' GROUP BY 1, 2),
         p AS (SELECT event_id, user_id, ts, value
               FROM e WHERE event_type = 'purchase')
       SELECT p.event_id, p.user_id,
              strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts, p.value,
              strftime(v.ts, '%Y-%m-%d %H:%M:%S') AS view_ts, v.view_value
       FROM p ASOF LEFT JOIN v
         ON p.user_id = v.user_id AND p.ts >= v.ts""",

    "q113_quantile_bins" ->
      """WITH b AS (
           SELECT lang,
                  ROUND(quantile_cont(n_chars, 0.25), 4) AS p25,
                  ROUND(quantile_cont(n_chars, 0.50), 4) AS p50,
                  ROUND(quantile_cont(n_chars, 0.75), 4) AS p75
           FROM documents WHERE n_chars IS NOT NULL GROUP BY 1)
       SELECT d.doc_id, d.lang, d.n_chars,
              CAST(1 + (CASE WHEN CAST(d.n_chars AS DOUBLE) > b.p25 THEN 1 ELSE 0 END)
                     + (CASE WHEN CAST(d.n_chars AS DOUBLE) > b.p50 THEN 1 ELSE 0 END)
                     + (CASE WHEN CAST(d.n_chars AS DOUBLE) > b.p75 THEN 1 ELSE 0 END)
                   AS BIGINT) AS bin
       FROM documents d JOIN b USING (lang)
       WHERE d.n_chars IS NOT NULL""",

    "q119_bm25" ->
      s"""WITH post AS (SELECT doc_id,
                   unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                                      x -> x <> '')) AS t
                 FROM documents),
          qt AS (SELECT DISTINCT unnest(list_filter(
                   regexp_split_to_array(lower('$ResumeQ'), '[^a-z0-9]+'),
                   x -> x <> '')) AS t),
          tf AS (SELECT doc_id, t, count(*) AS tf
                 FROM post JOIN qt USING (t) GROUP BY 1, 2),
          dfreq AS (SELECT t, count(*) AS df FROM tf GROUP BY 1),
          dl AS (SELECT doc_id, count(*) AS dl FROM post GROUP BY 1),
          st AS (SELECT (SELECT count(*) FROM documents) AS nd,
                        (SELECT CAST(SUM(dl) AS DOUBLE) FROM dl) AS ttok),
          w AS (SELECT tf.doc_id,
                  CAST(ROUND(
                    ln(1.0 + (nd - df + 0.5) / (df + 0.5))
                      * (tf * (1.2 + 1.0))
                      / (tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl / (ttok / nd)))),
                    6) AS DECIMAL(18,6)) AS w
                FROM tf
                JOIN dfreq ON tf.t = dfreq.t
                JOIN dl ON tf.doc_id = dl.doc_id
                CROSS JOIN st),
          sc AS (SELECT doc_id, ROUND(CAST(SUM(w) AS DOUBLE), 6) AS bm25
                 FROM w GROUP BY 1)
        SELECT d.doc_id, COALESCE(sc.bm25, 0.0) AS bm25
        FROM documents d LEFT JOIN sc USING (doc_id)""",

    "q118_audience_overlap" ->
      """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
         sz AS (SELECT event_type, COUNT(*) AS n FROM ut GROUP BY 1),
         cm AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
                  COUNT(*) AS n_common
                FROM ut a JOIN ut b
                  ON a.user_id = b.user_id AND a.event_type < b.event_type
                GROUP BY 1, 2)
       SELECT type_a, type_b, n_common,
              ROUND(CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common), 6)
                AS jaccard
       FROM cm
       JOIN sz sa ON cm.type_a = sa.event_type
       JOIN sz sb ON cm.type_b = sb.event_type""",

    "q117_lang_confusion" ->
      s"""WITH pred AS ($langIdWideOracle)
        SELECT d.lang, p.pred_lang, COUNT(*) AS n
        FROM documents d JOIN pred p USING (doc_id)
        GROUP BY 1, 2""",

    "q151_lang_id_wide" -> langIdWideOracle,

    "q116_join_cardinality" ->
      """WITH ra AS (
           SELECT j,
                  CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR) || '#' ||
                         CAST(j AS VARCHAR)), 1, 15)) AS BIGINT) % 2048 AS bkt,
                  CAST(COUNT(*) AS BIGINT) AS c
           FROM orders CROSS JOIN range(4) AS r(j)
           WHERE o_custkey IS NOT NULL GROUP BY 1, 2),
         rb AS (
           SELECT j,
                  CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR) || '#' ||
                         CAST(j AS VARCHAR)), 1, 15)) AS BIGINT) % 2048 AS bkt,
                  CAST(COUNT(*) AS BIGINT) AS c
           FROM customer CROSS JOIN range(4) AS r(j)
           WHERE c_custkey IS NOT NULL GROUP BY 1, 2),
         dots AS (SELECT ra.j, CAST(SUM(ra.c * rb.c) AS BIGINT) AS dp
                  FROM ra JOIN rb ON ra.j = rb.j AND ra.bkt = rb.bkt
                  GROUP BY 1),
         est AS (SELECT MIN(COALESCE(dp, 0)) AS est_pairs
                 FROM range(4) AS r(j) LEFT JOIN dots ON dots.j = r.j),
         ca AS (SELECT o_custkey AS k, COUNT(*) AS c FROM orders
                WHERE o_custkey IS NOT NULL GROUP BY 1),
         cb AS (SELECT c_custkey AS k, COUNT(*) AS c FROM customer
                WHERE c_custkey IS NOT NULL GROUP BY 1),
         ex AS (SELECT CAST(COALESCE(SUM(ca.c * cb.c), 0) AS BIGINT)
                  AS exact_pairs
                FROM ca JOIN cb USING (k))
       SELECT CAST(est_pairs AS BIGINT) AS est_pairs, exact_pairs
       FROM est CROSS JOIN ex""",

    "q115_bigram_lm" ->
      """WITH toks AS (
           SELECT doc_id,
                  list_filter(regexp_split_to_array(lower(COALESCE(text, '')),
                                '[^a-z0-9]+'), x -> x <> '') AS tk
           FROM documents),
         db AS (
           SELECT doc_id, b[1] AS a, b[2] AS bb
           FROM (SELECT doc_id,
                   [[tk[i], tk[i+1]] FOR i IN range(1, len(tk))] AS bs
                 FROM toks WHERE len(tk) >= 2),
                UNNEST(bs) AS u(b)),
         uni AS (SELECT t, COUNT(*) AS ca
                 FROM (SELECT unnest(tk) AS t FROM toks) GROUP BY 1),
         v AS (SELECT CAST(COUNT(*) AS DOUBLE) AS vs FROM uni),
         bg AS (SELECT a, bb, COUNT(*) AS cab FROM db GROUP BY 1, 2),
         logp AS (
           SELECT bg.a, bg.bb,
                  CAST(ROUND(ln(CAST(bg.cab + 1 AS DOUBLE) /
                         (CAST(uni.ca AS DOUBLE) + v.vs)), 6)
                       AS DECIMAL(18,6)) AS lp
           FROM bg JOIN uni ON bg.a = uni.t CROSS JOIN v)
       SELECT db.doc_id, COUNT(*) AS n_bigrams,
              ROUND(CAST(SUM(lp) AS DOUBLE) / COUNT(*), 4) AS lm2_score
       FROM db JOIN logp ON db.a = logp.a AND db.bb = logp.bb
       GROUP BY 1""",

    "q114_source_dup_rate" ->
      """WITH f AS (
           SELECT source,
                  md5(trim(regexp_replace(lower(COALESCE(text, '')),
                       '\s+', ' ', 'g'))) AS fp
           FROM documents)
       SELECT source, COUNT(*) AS n_docs,
              COUNT(DISTINCT fp) AS n_distinct,
              ROUND(CAST(COUNT(*) - COUNT(DISTINCT fp) AS DOUBLE) / COUNT(*), 6)
                AS dup_rate
       FROM f GROUP BY 1""",

    "q112_null_profile" ->
      """WITH n AS (SELECT COUNT(*) AS n FROM documents),
         p AS (
           SELECT 'text' AS column_name,
                  CAST(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
                  CAST(SUM(CASE WHEN text IS NULL OR TRIM(text) = ''
                            OR TRIM(text) = 'nan' THEN 1 ELSE 0 END) AS BIGINT) AS n_blank
           FROM documents
           UNION ALL
           SELECT 'lang',
                  CAST(SUM(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                  CAST(SUM(CASE WHEN lang IS NULL OR TRIM(lang) = ''
                            OR TRIM(lang) = 'nan' THEN 1 ELSE 0 END) AS BIGINT)
           FROM documents
           UNION ALL
           SELECT 'source',
                  CAST(SUM(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                  CAST(SUM(CASE WHEN source IS NULL OR TRIM(source) = ''
                            OR TRIM(source) = 'nan' THEN 1 ELSE 0 END) AS BIGINT)
           FROM documents)
       SELECT column_name, n_null, n_blank,
              ROUND(CAST(n_blank AS DOUBLE) / n.n, 6) AS blank_rate
       FROM p CROSS JOIN n""",

    "q111_skew_report" ->
      """WITH c AS (SELECT user_id, COUNT(*) AS c FROM events
                    WHERE user_id IS NOT NULL GROUP BY 1),
         t AS (SELECT CAST(SUM(c) AS BIGINT) AS n, COUNT(*) AS n_keys,
                 MAX(c) AS mx FROM c),
         e AS (SELECT CAST(SUM(CAST(ROUND((CAST(c.c AS DOUBLE) / t.n) *
                        ln(CAST(c.c AS DOUBLE) / t.n), 12)
                      AS DECIMAL(28,12))) AS DOUBLE) AS s
               FROM c CROSS JOIN t)
       SELECT t.n AS n_rows, t.n_keys,
              ROUND(CAST(t.mx AS DOUBLE) / t.n, 6) AS top_share,
              ROUND(-e.s, 6) AS entropy
       FROM t CROSS JOIN e""",

    "q110_asof_tolerant" ->
      """WITH e AS (SELECT event_id, user_id,
                      date_trunc('microseconds', ts) AS ts, event_type, value
                    FROM events),
         v AS (SELECT user_id, ts, arg_max(value, event_id) AS view_value
               FROM e WHERE event_type = 'view' GROUP BY 1, 2),
         p AS (SELECT event_id, user_id, ts, value
               FROM e WHERE event_type = 'purchase'),
         j AS (SELECT p.event_id, p.user_id, p.ts AS pts, p.value,
                      v.ts AS vts, v.view_value
               FROM p ASOF LEFT JOIN v
                 ON p.user_id = v.user_id AND p.ts >= v.ts),
         fresh AS (SELECT *,
                     vts IS NOT NULL AND date_diff('second', vts, pts) <= 3600
                       AS ok
                   FROM j)
       SELECT event_id, user_id,
              strftime(pts, '%Y-%m-%d %H:%M:%S') AS purchase_ts, value,
              CASE WHEN ok THEN strftime(vts, '%Y-%m-%d %H:%M:%S') END
                AS view_ts,
              CASE WHEN ok THEN view_value END AS view_value
       FROM fresh""",

    "q56_funnel" ->
      """WITH e AS (SELECT user_id, event_type,
                      date_trunc('microseconds', ts) AS ts FROM events),
         s1 AS (SELECT user_id,
                  min(CASE WHEN event_type = 'view' THEN ts END) AS t1
                FROM e GROUP BY 1),
         s2 AS (SELECT e.user_id, min(t1) AS t1,
                  min(CASE WHEN event_type = 'click' AND e.ts > t1
                           THEN e.ts END) AS t2
                FROM e JOIN s1 ON e.user_id = s1.user_id GROUP BY 1),
         s3 AS (SELECT e.user_id, min(t1) AS t1, min(t2) AS t2,
                  min(CASE WHEN event_type = 'purchase' AND e.ts > t2
                           THEN e.ts END) AS t3
                FROM e JOIN s2 ON e.user_id = s2.user_id GROUP BY 1)
       SELECT COUNT(t1) AS n_stage_1, COUNT(t2) AS n_stage_2,
              COUNT(t3) AS n_stage_3
       FROM s3""",

    "q57_range_join" ->
      """WITH bands AS (SELECT i AS band_id, i * 75.0 AS lo,
                               (i + 1) * 75.0 AS hi
                        FROM range(0, 7) t(i))
       SELECT band_id, COUNT(*) AS n_events,
              CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
       FROM events JOIN bands ON value >= lo AND value < hi
       GROUP BY 1""",

    "q59_bpe_tokens" ->
      """SELECT doc_id, n_chars,
              CAST(len(regexp_extract_all(COALESCE(text, ''),
                '''(?:[sdmt]|ll|ve|re)| ?[a-zA-Z]+| ?[0-9]+| ?[^\sa-zA-Z0-9]+|\s+'))
                AS BIGINT) AS n_bpe_tokens,
              ROUND(CAST(n_chars AS DOUBLE) /
                NULLIF(len(regexp_extract_all(COALESCE(text, ''),
                  '''(?:[sdmt]|ll|ve|re)| ?[a-zA-Z]+| ?[0-9]+| ?[^\sa-zA-Z0-9]+|\s+')), 0), 4)
                AS chars_per_token
       FROM documents""",

    "q60_winnow" ->
      """WITH n AS (SELECT doc_id,
                      regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS s
                    FROM documents),
         g AS (SELECT doc_id,
                 [CAST(('0x' || substr(md5(s[i:i+7]), 1, 15)) AS BIGINT)
                  FOR i IN range(1, len(s) - 6)] AS hs
               FROM n WHERE len(s) >= 8),
         wm AS (SELECT doc_id,
                  unnest([list_min(hs[i:least(i + 3, len(hs))])
                          FOR i IN range(1, greatest(len(hs) - 2, 2))])
                    AS fingerprint
                FROM g)
       SELECT DISTINCT doc_id, fingerprint FROM wm""",

    "q61_winnow_pairs" ->
      """WITH d AS (SELECT doc_id, text FROM documents
                    WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                               AS BIGINT) % 1000000 < 200000),
         n AS (SELECT doc_id,
                 regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS s FROM d),
         g AS (SELECT doc_id,
                 [CAST(('0x' || substr(md5(s[i:i+7]), 1, 15)) AS BIGINT)
                  FOR i IN range(1, len(s) - 6)] AS hs
               FROM n WHERE len(s) >= 8),
         wm AS (SELECT doc_id,
                  unnest([list_min(hs[i:least(i + 3, len(hs))])
                          FOR i IN range(1, greatest(len(hs) - 2, 2))])
                    AS fingerprint
                FROM g),
         dfp AS (SELECT DISTINCT doc_id, fingerprint FROM wm)
       SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS n_shared
       FROM dfp a JOIN dfp b
         ON a.fingerprint = b.fingerprint AND a.doc_id < b.doc_id
       GROUP BY 1, 2 HAVING COUNT(*) >= 20""",

    "q62_session_window" ->
      """WITH e AS (SELECT user_id,
                      date_trunc('microseconds', ts) AS ts FROM events),
         f AS (SELECT user_id, ts,
                 CASE WHEN lag(ts) OVER w IS NULL
                        OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                           >= 1800000000
                      THEN 1 ELSE 0 END AS nf
               FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         s AS (SELECT user_id, ts,
                 SUM(nf) OVER (PARTITION BY user_id ORDER BY ts
                   ROWS UNBOUNDED PRECEDING) AS sid
               FROM f)
       SELECT user_id, COUNT(*) AS n_events,
              strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
              strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS session_end
       FROM s GROUP BY user_id, sid""",

    "q63_json_extract" ->
      """SELECT event_type, COUNT(k) AS n, CAST(SUM(k) AS BIGINT) AS sum_k,
              ROUND(CAST(SUM(CAST(k AS DECIMAL(18,4))) AS DOUBLE) / COUNT(k), 4)
                AS avg_k
       FROM (SELECT event_type,
               CAST(props->>'$.k' AS INTEGER) AS k FROM events)
       GROUP BY 1""",

    "q64_pivot" ->
      """SELECT user_id,
              COUNT(*) FILTER (event_type = 'click') AS click,
              COUNT(*) FILTER (event_type = 'error') AS error,
              COUNT(*) FILTER (event_type = 'purchase') AS purchase,
              COUNT(*) FILTER (event_type = 'signup') AS signup,
              COUNT(*) FILTER (event_type = 'view') AS view
       FROM events GROUP BY 1""",

    "q65_rollup" ->
      """SELECT event_type, COUNT(*) AS n,
              CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
       FROM events GROUP BY ROLLUP(event_type)""",

    "q66_unpivot" ->
      """SELECT event_id, 'value' AS metric, value AS val FROM events
       UNION ALL
       SELECT event_id, 'k' AS metric,
              CAST(props->>'$.k' AS DOUBLE) AS val FROM events""",

    "q67_ranked_topk" -> curationSql(
      """SELECT lang, rnk, doc_id, quality_score FROM (
           SELECT d.lang, s.doc_id, s.quality_score,
                  dense_rank() OVER (PARTITION BY d.lang
                    ORDER BY s.quality_score DESC, s.doc_id) AS rnk
           FROM scored s JOIN documents d USING (doc_id))
         WHERE rnk <= 3"""),

    "q68_retention" ->
      """WITH e AS (SELECT DISTINCT user_id,
                      date_trunc('week', ts) AS wk FROM events),
         c AS (SELECT user_id, min(wk) AS cohort_wk FROM e GROUP BY 1)
       SELECT strftime(cohort_wk, '%Y-%m-%d %H:%M:%S') AS cohort_week,
              CAST(FLOOR(date_diff('day', cohort_wk, wk) / 7) AS INTEGER)
                AS week_offset,
              COUNT(DISTINCT e.user_id) AS n_users
       FROM e JOIN c USING (user_id)
       GROUP BY 1, 2""",

    "q69_dq_report" ->
      """SELECT COUNT(*) AS n_rows,
              CAST(SUM(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                AS null_ids,
              CAST(SUM(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                AS null_ts,
              CAST(SUM(CASE WHEN value < 0 THEN 1 ELSE 0 END) AS BIGINT)
                AS negative_values,
              CAST(SUM(CASE WHEN event_type NOT IN
                ('click','error','purchase','signup','view')
                THEN 1 ELSE 0 END) AS BIGINT) AS unknown_types,
              CAST(SUM(CASE WHEN props->>'$.k' IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS bad_props,
              COUNT(DISTINCT event_id) AS distinct_ids
       FROM events""",

    "q34_multimodal_features" ->
      """WITH b AS (SELECT doc_id AS media_id,
               CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS kind,
               hex(encode(text)) AS h,
               octet_length(encode(text)) AS n
             FROM documents)
       SELECT media_id, kind, CAST(n AS BIGINT) AS n_bytes,
              CASE WHEN n = 0 THEN 0.0
                   ELSE ROUND(CAST(CAST(
                     list_sum([CAST(('0x' || substr(h, 2*i - 1, 2)) AS BIGINT)
                               FOR i IN range(1, n + 1) IF (i - 1) % 8 = 0])
                     / 255.0 / greatest(n // 8, 1) AS FLOAT) AS DOUBLE), 4)
              END AS f0
       FROM b""",

    "q70_kmv_distinct" ->
      """WITH h AS (SELECT DISTINCT event_type,
               CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
                    AS BIGINT) AS h
             FROM events),
         r AS (SELECT event_type, h,
                 row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
               FROM h),
         s AS (SELECT event_type, COUNT(*) AS nmin, MAX(h) AS kth
               FROM r WHERE rn <= 64 GROUP BY 1),
         x AS (SELECT event_type, COUNT(DISTINCT user_id) AS n_exact
               FROM events GROUP BY 1)
       SELECT s.event_type, n_exact, CAST(nmin AS INTEGER) AS kmv_k,
              CASE WHEN nmin < 64 THEN CAST(nmin AS DOUBLE)
                   ELSE ROUND(63.0 * 1152921504606846976.0 / kth, 2)
              END AS kmv_estimate
       FROM s JOIN x USING (event_type)""",

    "q71_curation_pipeline" ->
      """WITH corpus AS (SELECT doc_id, text,
               list_filter(regexp_split_to_array(lower(COALESCE(text, '')),
                 '[^a-z0-9]+'), x -> x <> '') AS tk
             FROM documents WHERE source <> 'src0'),
         gated AS (SELECT * FROM corpus WHERE len(tk) BETWEEN 5 AND 10000),
         gsets AS (SELECT doc_id, list_distinct(
             CASE WHEN len(tk) <= 3 THEN [array_to_string(tk, ' ')]
                  ELSE [array_to_string(tk[i:i+2], ' ')
                        FOR i IN range(1, len(tk) - 1)] END) AS sh
           FROM gated),
         bsets AS (SELECT list_distinct(
             CASE WHEN len(tk) <= 3 THEN [array_to_string(tk, ' ')]
                  ELSE [array_to_string(tk[i:i+2], ' ')
                        FOR i IN range(1, len(tk) - 1)] END) AS sh
           FROM (SELECT list_filter(regexp_split_to_array(
                   lower(COALESCE(text, '')), '[^a-z0-9]+'),
                   x -> x <> '') AS tk
                 FROM documents WHERE source = 'src0')),
         bench_sh AS (SELECT DISTINCT unnest(sh) AS s FROM bsets),
         contaminated AS (
           SELECT DISTINCT doc_id
           FROM (SELECT doc_id, unnest(sh) AS s FROM gsets) p
           JOIN bench_sh USING (s)),
         clean AS (SELECT g.* FROM gated g
                   WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
         keep AS (SELECT doc_id, tk FROM (
             SELECT doc_id, tk, row_number() OVER (
               PARTITION BY md5(trim(regexp_replace(lower(COALESCE(text, '')),
                 '\s+', ' ', 'g')))
               ORDER BY doc_id) AS rn
             FROM clean)
           WHERE rn = 1),
         cum AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS tok,
                   SUM(CAST(len(tk) AS BIGINT)) OVER (
                     ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS c
                 FROM keep)
       SELECT CAST(FLOOR((c - tok) / 1024) AS BIGINT) AS bin_id,
              COUNT(*) AS n_docs,
              CAST(SUM(tok) AS BIGINT) AS total_tokens,
              MIN(doc_id) AS first_id, MAX(doc_id) AS last_id
       FROM cum GROUP BY 1""",

    "q72_vocab_build" ->
      """WITH c AS (
           SELECT t AS term, COUNT(*) AS term_freq
           FROM (SELECT unnest(list_filter(regexp_split_to_array(
                   lower(COALESCE(text, '')), '[^a-z0-9]+'),
                   x -> x <> '')) AS t
                 FROM documents)
           GROUP BY 1 HAVING COUNT(*) >= 5)
       SELECT term, term_freq,
              CAST(row_number() OVER (ORDER BY term_freq DESC, term) - 1
                   AS BIGINT) AS term_id
       FROM c""",

    "q73_cube" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
       FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""",

    "q74_moving_avg" ->
      """SELECT user_id, event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
              ROUND(CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER w2 AS DOUBLE)
                    / COUNT(*) OVER w2, 6) AS moving_avg,
              ROUND(value - lag(value) OVER w1, 6) AS delta
       FROM events
       WINDOW w1 AS (PARTITION BY user_id ORDER BY ts, event_id),
              w2 AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)""",

    "q75_cumulative_users" ->
      """WITH f AS (SELECT user_id, MIN(date_trunc('day', ts)) AS _day
                    FROM events GROUP BY 1),
           d AS (SELECT _day, COUNT(*) AS n_new FROM f GROUP BY 1)
       SELECT strftime(_day, '%Y-%m-%d %H:%M:%S') AS day, n_new,
              CAST(SUM(n_new) OVER (ORDER BY _day ROWS UNBOUNDED PRECEDING)
                   AS BIGINT) AS cum_users
       FROM d""",

    "q76_chunk_docs" ->
      """WITH toks AS (
           SELECT doc_id, list_filter(regexp_split_to_array(lower(text),
                    '[^a-z0-9]+'), x -> x <> '') AS toks
           FROM documents),
         starts AS (
           SELECT doc_id, toks, unnest(range(0, len(toks), 48)) AS start
           FROM toks WHERE len(toks) > 0)
       SELECT doc_id, CAST(start // 48 AS BIGINT) AS chunk_id,
              array_to_string(toks[start+1:start+64], ' ') AS chunk_text,
              CAST(LEAST(len(toks) - start, 64) AS BIGINT) AS chunk_tokens
       FROM starts""",

    "q77_ivf_recall" ->
      """WITH c AS (SELECT vec_id AS centroid_id, embedding AS cv FROM embeddings
                    WHERE vec_id < 8),
         cells AS (
           SELECT vec_id, centroid_id FROM (
             SELECT e.vec_id, centroid_id,
                    row_number() OVER (PARTITION BY e.vec_id
                      ORDER BY ROUND(CASE WHEN n1 * n2 > 0 THEN d / (n1 * n2) ELSE 0 END, 6) DESC,
                               centroid_id) AS rn
             FROM (SELECT e.vec_id, centroid_id,
                          list_sum([cv[i]::DOUBLE * e.embedding[i]::DOUBLE FOR i IN range(1, 65)]) AS d,
                          sqrt(list_sum([cv[i]::DOUBLE * cv[i]::DOUBLE FOR i IN range(1, 65)])) AS n1,
                          sqrt(list_sum([e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE FOR i IN range(1, 65)])) AS n2
                   FROM embeddings e CROSS JOIN c) e)
           WHERE rn = 1),
         probes AS (
           SELECT query_id, centroid_id FROM (
             SELECT q.vec_id AS query_id, centroid_id,
                    row_number() OVER (PARTITION BY q.vec_id
                      ORDER BY ROUND(CASE WHEN n1 * n2 > 0 THEN d / (n1 * n2) ELSE 0 END, 6) DESC,
                               centroid_id) AS rn
             FROM (SELECT q.vec_id, centroid_id,
                          list_sum([cv[i]::DOUBLE * q.embedding[i]::DOUBLE FOR i IN range(1, 65)]) AS d,
                          sqrt(list_sum([cv[i]::DOUBLE * cv[i]::DOUBLE FOR i IN range(1, 65)])) AS n1,
                          sqrt(list_sum([q.embedding[i]::DOUBLE * q.embedding[i]::DOUBLE FOR i IN range(1, 65)])) AS n2
                   FROM embeddings q CROSS JOIN c WHERE q.vec_id < 16) q)
           WHERE rn <= 2),
         iscored AS (
           SELECT p.query_id, e.vec_id AS neighbor_id,
                  ROUND(CASE WHEN n1 * n2 > 0 THEN d / (n1 * n2) ELSE 0 END, 6) AS sim
           FROM probes p
           JOIN cells ON cells.centroid_id = p.centroid_id
           JOIN (SELECT a.vec_id AS qid, e2.vec_id,
                        list_sum([a.embedding[i]::DOUBLE * e2.embedding[i]::DOUBLE FOR i IN range(1, 65)]) AS d,
                        sqrt(list_sum([a.embedding[i]::DOUBLE * a.embedding[i]::DOUBLE FOR i IN range(1, 65)])) AS n1,
                        sqrt(list_sum([e2.embedding[i]::DOUBLE * e2.embedding[i]::DOUBLE FOR i IN range(1, 65)])) AS n2
                 FROM embeddings a CROSS JOIN embeddings e2 WHERE a.vec_id < 16) e
             ON e.qid = p.query_id AND e.vec_id = cells.vec_id
           WHERE e.vec_id <> p.query_id),
         iranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY sim DESC, neighbor_id) AS rn FROM iscored),
         ivf AS (SELECT query_id, neighbor_id FROM iranked WHERE rn <= 3),
         tq AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
                WHERE vec_id < 16),
         tpairs AS (
           SELECT query_id, e.vec_id AS neighbor_id,
                  list_sum([qv[i]::DOUBLE * embedding[i]::DOUBLE FOR i IN range(1, 65)]) AS d,
                  sqrt(list_sum([qv[i]::DOUBLE * qv[i]::DOUBLE FOR i IN range(1, 65)])) AS nq,
                  sqrt(list_sum([embedding[i]::DOUBLE * embedding[i]::DOUBLE FOR i IN range(1, 65)])) AS nc
           FROM tq CROSS JOIN embeddings e WHERE e.vec_id <> query_id),
         tscored AS (SELECT query_id, neighbor_id,
                            ROUND(CASE WHEN nq * nc > 0 THEN d / (nq * nc) ELSE 0 END, 6) AS sim
                     FROM tpairs),
         tranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, neighbor_id) AS rn FROM tscored),
         truth AS (SELECT query_id, neighbor_id FROM tranked WHERE rn <= 3),
         hits AS (SELECT t.query_id, COUNT(*) AS n_hits
                  FROM truth t JOIN ivf i
                    ON t.query_id = i.query_id AND t.neighbor_id = i.neighbor_id
                  GROUP BY 1)
       SELECT q.query_id, COALESCE(h.n_hits, 0) AS n_hits,
              ROUND(CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / 3, 6) AS recall
       FROM (SELECT DISTINCT query_id FROM truth) q
       LEFT JOIN hits h USING (query_id)""",

    "q78_bloom_decontaminate" ->
      """WITH sets AS (
           SELECT doc_id, source, list_distinct(
             CASE WHEN len(toks) <= 3 THEN [array_to_string(toks, ' ')]
                  ELSE [array_to_string(toks[i:i+2], ' ')
                        FOR i IN range(1, len(toks) - 1)] END) AS sh
           FROM (SELECT doc_id, source,
                   list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                               x -> x <> '') AS toks
                 FROM documents)),
         bench AS (SELECT DISTINCT unnest(sh) AS s FROM sets WHERE source = 'src0'),
         post AS (SELECT doc_id, unnest(sh) AS s FROM sets WHERE source <> 'src0')
       SELECT post.doc_id, COUNT(*) AS n_shared
       FROM post JOIN bench ON post.s = bench.s
       GROUP BY post.doc_id""",

    "q79_quantize_int8" ->
      """WITH s AS (SELECT vec_id, embedding,
                    list_max(list_transform(embedding, x -> abs(x::DOUBLE))) AS scale
                  FROM embeddings)
       SELECT vec_id, CAST(i - 1 AS BIGINT) AS idx,
              CAST(CASE WHEN scale > 0
                        THEN round(embedding[i]::DOUBLE / scale * 127, 0)
                        ELSE 0 END AS BIGINT) AS code
       FROM s CROSS JOIN range(1, 65) r(i)""",

    "q80_lm_score" ->
      """WITH toks AS (
           SELECT doc_id, unnest(list_filter(regexp_split_to_array(
                    lower(COALESCE(text, '')), '[^a-z0-9]+'), x -> x <> '')) AS t
           FROM documents),
         counts AS (SELECT t, COUNT(*) AS cnt FROM toks GROUP BY 1),
         totals AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS tt,
                           CAST(COUNT(*) AS DOUBLE) AS vv FROM counts),
         logp AS (SELECT t, CAST(ROUND(ln((cnt + 1) / (tt + vv)), 6)
                               AS DECIMAL(18,6)) AS lp
                  FROM counts CROSS JOIN totals)
       SELECT doc_id, COUNT(*) AS n_tokens,
              ROUND(CAST(SUM(lp) AS DOUBLE) / COUNT(*), 4) AS lm_score
       FROM toks JOIN logp USING (t) GROUP BY 1""",

    "q81_gap_fill" ->
      """WITH daily AS (
           SELECT user_id, day, value FROM (
             SELECT user_id, date_trunc('day', ts) AS day, value,
                    row_number() OVER (PARTITION BY user_id, date_trunc('day', ts)
                      ORDER BY ts DESC, event_id DESC) AS rn
             FROM events)
           WHERE rn = 1),
         bounds AS (SELECT user_id, MIN(day) AS lo, MAX(day) AS hi
                    FROM daily GROUP BY 1),
         grid AS (SELECT user_id,
                         unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day
                  FROM bounds)
       SELECT g.user_id, strftime(g.day, '%Y-%m-%d %H:%M:%S') AS day,
              LAST_VALUE(d.value IGNORE NULLS) OVER (
                PARTITION BY g.user_id ORDER BY g.day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value,
              d.value IS NOT NULL AS observed
       FROM grid g
       LEFT JOIN daily d ON g.user_id = d.user_id AND g.day = d.day""",

    "q82_histogram" ->
      """SELECT CAST(FLOOR(n_chars / 500) * 500 AS BIGINT) AS lo,
              CAST((FLOOR(n_chars / 500) + 1) * 500 AS BIGINT) AS hi,
              COUNT(*) AS n
       FROM documents WHERE n_chars IS NOT NULL
       GROUP BY 1, 2""",

    "q83_weighted_sample" ->
      """WITH keyed AS (
           SELECT doc_id, n_chars,
                  ROUND(ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                                 AS BIGINT) % 1000000 + 1) / 1000000.0)
                        / CAST(n_chars AS DOUBLE), 9) AS sample_key
           FROM documents WHERE n_chars > 0),
         ranked AS (SELECT *, row_number() OVER (ORDER BY sample_key DESC, doc_id)
                      AS rn FROM keyed)
       SELECT doc_id, n_chars, sample_key FROM ranked WHERE rn <= 20""",

    "q84_pmi_bigrams" ->
      """WITH t2 AS (
           SELECT doc_id, tk FROM (
             SELECT doc_id, list_filter(regexp_split_to_array(
                      lower(COALESCE(text, '')), '[^a-z0-9]+'), x -> x <> '') AS tk
             FROM documents)
           WHERE len(tk) >= 2),
         uni AS (SELECT t, COUNT(*) AS c
                 FROM (SELECT unnest(tk) AS t FROM t2) GROUP BY 1),
         totals AS (SELECT CAST(SUM(c) AS DOUBLE) AS ttok,
                           CAST(SUM(c) AS DOUBLE) - (SELECT COUNT(*) FROM t2) AS tbg
                    FROM uni),
         bg AS (SELECT u.a AS a, u.b AS b FROM (
                  SELECT unnest([{'a': tk[i], 'b': tk[i + 1]}
                                 FOR i IN range(1, len(tk))]) AS u
                  FROM t2)),
         bgc AS (SELECT a, b, COUNT(*) AS cab FROM bg
                 GROUP BY 1, 2 HAVING COUNT(*) >= 25),
         scored AS (
           SELECT a || ' ' || b AS bigram, cab AS n_pairs,
                  ROUND(ln((CAST(cab AS DOUBLE) / tbg) /
                           ((CAST(ua.c AS DOUBLE) / ttok) *
                            (CAST(ub.c AS DOUBLE) / ttok))), 6) AS pmi
           FROM bgc
           JOIN uni ua ON ua.t = bgc.a
           JOIN uni ub ON ub.t = bgc.b
           CROSS JOIN totals),
         ranked AS (SELECT *, row_number() OVER (ORDER BY pmi DESC, bigram)
                      AS rn FROM scored)
       SELECT bigram, n_pairs, pmi FROM ranked WHERE rn <= 20""",

    "q85_kmv_agg" ->
      """WITH h AS (SELECT DISTINCT event_type,
               CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
                    AS BIGINT) AS h
             FROM events),
         r AS (SELECT event_type, h,
                 row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
               FROM h),
         s AS (SELECT event_type, COUNT(*) AS nmin, MAX(h) AS kth
               FROM r WHERE rn <= 64 GROUP BY 1)
       SELECT event_type, CAST(nmin AS INTEGER) AS kmv_k,
              CASE WHEN nmin < 64 THEN CAST(nmin AS DOUBLE)
                   ELSE ROUND(63.0 * 1152921504606846976.0 / kth, 2)
              END AS kmv_estimate
       FROM s""",

    "q86_transitions" ->
      """WITH seq AS (
           SELECT event_type AS from_type,
                  lead(event_type) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id) AS to_type
           FROM events),
         m AS (SELECT from_type, to_type, COUNT(*) AS n FROM seq
               WHERE to_type IS NOT NULL GROUP BY 1, 2)
       SELECT from_type, to_type, n,
              ROUND(CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY from_type), 6)
                AS p
       FROM m""",

    "q87_paragraph_dup" ->
      """WITH paras AS (
           SELECT doc_id,
                  CAST(('0x' || substr(md5(trim(regexp_replace(lower(p),
                         '\s+', ' ', 'g'))), 1, 15)) AS BIGINT) AS fp
           FROM (SELECT doc_id,
                   unnest(string_split_regex(COALESCE(text, ''), '\.')) AS p
                 FROM documents)
           WHERE trim(p) <> ''),
         crossdoc AS (SELECT fp FROM (SELECT DISTINCT doc_id, fp FROM paras)
                      GROUP BY fp HAVING COUNT(*) > 1),
         perdoc AS (SELECT doc_id, COUNT(*) AS n_paras FROM paras GROUP BY 1),
         dup AS (SELECT doc_id, COUNT(*) AS n_dup_paras FROM paras
                 WHERE fp IN (SELECT fp FROM crossdoc) GROUP BY 1)
       SELECT p.doc_id, n_paras, COALESCE(n_dup_paras, 0) AS n_dup_paras,
              ROUND(CAST(COALESCE(n_dup_paras, 0) AS DOUBLE) / n_paras, 6)
                AS dup_ratio
       FROM perdoc p LEFT JOIN dup USING (doc_id)""",

    "q123_remove_dup_segments" ->
      """WITH segs AS (
           SELECT doc_id, pos, s,
                  CAST(('0x' || substr(md5(trim(regexp_replace(lower(s),
                         '\s+', ' ', 'g'))), 1, 15)) AS BIGINT) AS fp
           FROM (SELECT doc_id, generate_subscripts(arr, 1) AS pos,
                        unnest(arr) AS s
                 FROM (SELECT doc_id,
                         string_split_regex(COALESCE(text, ''), '\bthe\b') AS arr
                       FROM documents))
           WHERE trim(s) <> ''),
         hot AS (SELECT fp FROM (SELECT DISTINCT doc_id, fp FROM segs)
                 GROUP BY fp HAVING COUNT(*) > 1),
         kept AS (SELECT doc_id, pos, s FROM segs
                  WHERE fp NOT IN (SELECT fp FROM hot)),
         reb AS (SELECT doc_id, COUNT(*) AS n_kept,
                        string_agg(s, 'the' ORDER BY pos) AS text_clean
                 FROM kept GROUP BY 1),
         tot AS (SELECT doc_id, COUNT(*) AS n_segments FROM segs GROUP BY 1)
       SELECT d.doc_id, COALESCE(text_clean, '') AS text_clean,
              COALESCE(n_segments, 0) AS n_segments,
              COALESCE(n_segments, 0) - COALESCE(n_kept, 0) AS n_removed
       FROM documents d
       LEFT JOIN tot USING (doc_id) LEFT JOIN reb USING (doc_id)""",

    "q88_approx_distinct" ->
      """WITH h AS (SELECT DISTINCT event_type,
               CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
                    AS BIGINT) AS h
             FROM events),
         r AS (SELECT event_type, h,
                 row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
               FROM h),
         s AS (SELECT event_type, COUNT(*) AS nmin, MAX(h) AS kth
               FROM r WHERE rn <= 64 GROUP BY 1)
       SELECT event_type,
              CAST(FLOOR(CASE WHEN nmin < 64 THEN CAST(nmin AS DOUBLE)
                   ELSE ROUND(63.0 * 1152921504606846976.0 / kth, 2) END)
                AS BIGINT) AS approx_users
       FROM s""",

    "q89_cross_dedup" ->
      """WITH sets AS (
           SELECT doc_id, source, list_distinct(
             CASE WHEN len(toks) <= 3 THEN [array_to_string(toks, ' ')]
                  ELSE [array_to_string(toks[i:i+2], ' ')
                        FOR i IN range(1, len(toks) - 1)] END) AS sh
           FROM (SELECT doc_id, source,
                   list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                               x -> x <> '') AS toks
                 FROM documents)),
         sizes AS (SELECT doc_id, len(sh) AS n FROM sets),
         postings AS (SELECT doc_id, source, unnest(sh) AS s FROM sets),
         common AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
                    FROM postings a JOIN postings b ON a.s = b.s
                    WHERE a.source = 'src0' AND b.source <> 'src0'
                    GROUP BY 1, 2)
       SELECT id_a, id_b,
              ROUND(CAST(c AS DOUBLE) / (s1.n + s2.n - c), 6) AS jaccard
       FROM common
       JOIN sizes s1 ON common.id_a = s1.doc_id
       JOIN sizes s2 ON common.id_b = s2.doc_id
       WHERE ROUND(CAST(c AS DOUBLE) / (s1.n + s2.n - c), 6) >= 0.5""",

    "q90_negative_sample" ->
      """WITH n AS (SELECT COUNT(*) AS pool FROM documents),
         anchors AS (SELECT doc_id, unnest(range(0, 4)) AS neg_slot
                     FROM documents),
         drawn AS (SELECT doc_id, neg_slot,
                     CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#' ||
                            CAST(neg_slot AS VARCHAR)), 1, 15)) AS BIGINT)
                       % pool AS neg_id
                   FROM anchors CROSS JOIN n)
       SELECT d.doc_id, neg_slot, neg_id, dd.lang AS neg_lang
       FROM drawn d JOIN documents dd ON d.neg_id = dd.doc_id
       WHERE d.neg_id <> d.doc_id""",

    "q91_sql_jaccard" ->
      """WITH sets AS (
           SELECT doc_id, list_distinct(
             CASE WHEN len(toks) <= 3 THEN [array_to_string(toks, ' ')]
                  ELSE [array_to_string(toks[i:i+2], ' ')
                        FOR i IN range(1, len(toks) - 1)] END) AS sh
           FROM (SELECT doc_id,
                   list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                               x -> x <> '') AS toks
                 FROM documents WHERE doc_id < 200)),
         sizes AS (SELECT doc_id, len(sh) AS n FROM sets),
         postings AS (SELECT doc_id, unnest(sh) AS s FROM sets),
         common AS (SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS c
                    FROM postings a JOIN postings b
                      ON a.s = b.s AND a.doc_id < b.doc_id
                    GROUP BY 1, 2)
       SELECT id1, id2,
              ROUND(CAST(c AS DOUBLE) / (s1.n + s2.n - c), 6) AS jaccard
       FROM common
       JOIN sizes s1 ON common.id1 = s1.doc_id
       JOIN sizes s2 ON common.id2 = s2.doc_id
       WHERE ROUND(CAST(c AS DOUBLE) / (s1.n + s2.n - c), 6) >= 0.5""",

    "q92_correlation" ->
      """WITH base AS (
           SELECT event_type,
                  CAST(ROUND(value, 6) AS DECIMAL(18,6)) AS x,
                  CAST(ROUND(TRY_CAST(props->>'$.k' AS DOUBLE), 6)
                       AS DECIMAL(18,6)) AS y
           FROM events
           WHERE value IS NOT NULL
             AND TRY_CAST(props->>'$.k' AS DOUBLE) IS NOT NULL),
         m AS (SELECT event_type, COUNT(*) AS n,
                 CAST(ROUND(SUM(x), 4) AS DOUBLE) AS sx,
                 CAST(ROUND(SUM(y), 4) AS DOUBLE) AS sy,
                 CAST(ROUND(SUM(x*y), 4) AS DOUBLE) AS sxy,
                 CAST(ROUND(SUM(x*x), 4) AS DOUBLE) AS sxx,
                 CAST(ROUND(SUM(y*y), 4) AS DOUBLE) AS syy
               FROM base GROUP BY 1)
       SELECT event_type, n,
              ROUND((n*sxy - sx*sy) / (n*n), 6) AS covariance,
              CASE WHEN (n*sxx - sx*sx) > 0 AND (n*syy - sy*sy) > 0
                   THEN ROUND((n*sxy - sx*sy) /
                              (sqrt(n*sxx - sx*sx) * sqrt(n*syy - sy*sy)), 6)
                   ELSE NULL END AS pearson_r
       FROM m""",

    "q58_percentiles" ->
      """SELECT lang,
              ROUND(quantile_cont(n_chars, 0.25), 4) AS p25,
              ROUND(quantile_cont(n_chars, 0.50), 4) AS p50,
              ROUND(quantile_cont(n_chars, 0.90), 4) AS p90,
              ROUND(quantile_cont(n_chars, 0.99), 4) AS p99
       FROM documents GROUP BY 1""",

    "q47_sessionize" ->
      """WITH flags AS (
           SELECT user_id, event_id, ts,
                  CASE WHEN lag(ts) OVER w IS NULL
                         OR date_diff('second', lag(ts) OVER w, ts) > 1800
                       THEN 1 ELSE 0 END AS nf
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         sess AS (
           SELECT user_id, ts,
                  CAST(SUM(nf) OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
           FROM flags)
       SELECT user_id, session_seq, COUNT(*) AS n_events,
              strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
              strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
              CAST(date_diff('second', MIN(ts), MAX(ts)) AS BIGINT) AS duration_sec
       FROM sess GROUP BY 1, 2""",

    "q45_feature_hashing" ->
      """SELECT doc_id,
           CAST(CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) % 64 AS INTEGER) AS bucket,
           COUNT(*) AS tf
         FROM (SELECT doc_id,
                 unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                                    x -> x <> '')) AS t
               FROM documents)
         GROUP BY 1, 2""",

    "q35_sql_surface" ->
      """WITH s AS (
           SELECT ROUND(
             list_sum([a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE FOR i IN range(1, 65)]) /
             (sqrt(list_sum([a.embedding[i]::DOUBLE * a.embedding[i]::DOUBLE FOR i IN range(1, 65)])) *
              sqrt(list_sum([b.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE FOR i IN range(1, 65)]))), 6) AS sim01
           FROM embeddings a JOIN embeddings b ON a.vec_id = 0 AND b.vec_id = 1)
       SELECT o_orderstatus, COUNT(*) AS n,
              CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total,
              (SELECT sim01 FROM s) AS sim01
       FROM orders GROUP BY o_orderstatus""",

    "q40_csv_roundtrip" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
         WHERE doc_id < 100 AND lang IS NOT NULL AND TRIM(lang) <> ''""",

    "q38_ivf_topk" ->
      """WITH c AS (SELECT vec_id AS centroid_id, embedding AS cv FROM embeddings
                    WHERE vec_id < 8),
         cells AS (
           SELECT vec_id, centroid_id FROM (
             SELECT e.vec_id, centroid_id,
                    ROUND(CASE WHEN n1 * n2 > 0 THEN d / (n1 * n2) ELSE 0 END, 6) AS sim,
                    row_number() OVER (PARTITION BY e.vec_id
                      ORDER BY ROUND(CASE WHEN n1 * n2 > 0 THEN d / (n1 * n2) ELSE 0 END, 6) DESC,
                               centroid_id) AS rn
             FROM (SELECT e.vec_id, centroid_id, e.embedding,
                          list_sum([cv[i]::DOUBLE * e.embedding[i]::DOUBLE FOR i IN range(1, 65)]) AS d,
                          sqrt(list_sum([cv[i]::DOUBLE * cv[i]::DOUBLE FOR i IN range(1, 65)])) AS n1,
                          sqrt(list_sum([e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE FOR i IN range(1, 65)])) AS n2
                   FROM embeddings e CROSS JOIN c) e)
           WHERE rn = 1),
         probes AS (
           SELECT query_id, centroid_id FROM (
             SELECT q.vec_id AS query_id, centroid_id,
                    row_number() OVER (PARTITION BY q.vec_id
                      ORDER BY ROUND(CASE WHEN n1 * n2 > 0 THEN d / (n1 * n2) ELSE 0 END, 6) DESC,
                               centroid_id) AS rn
             FROM (SELECT q.vec_id, centroid_id,
                          list_sum([cv[i]::DOUBLE * q.embedding[i]::DOUBLE FOR i IN range(1, 65)]) AS d,
                          sqrt(list_sum([cv[i]::DOUBLE * cv[i]::DOUBLE FOR i IN range(1, 65)])) AS n1,
                          sqrt(list_sum([q.embedding[i]::DOUBLE * q.embedding[i]::DOUBLE FOR i IN range(1, 65)])) AS n2
                   FROM embeddings q CROSS JOIN c WHERE q.vec_id < 16) q)
           WHERE rn <= 2),
         scored AS (
           SELECT p.query_id, e.vec_id AS neighbor_id,
                  ROUND(CASE WHEN n1 * n2 > 0 THEN d / (n1 * n2) ELSE 0 END, 6) AS sim
           FROM probes p
           JOIN cells ON cells.centroid_id = p.centroid_id
           JOIN (SELECT a.vec_id AS qid, e2.vec_id,
                        list_sum([a.embedding[i]::DOUBLE * e2.embedding[i]::DOUBLE FOR i IN range(1, 65)]) AS d,
                        sqrt(list_sum([a.embedding[i]::DOUBLE * a.embedding[i]::DOUBLE FOR i IN range(1, 65)])) AS n1,
                        sqrt(list_sum([e2.embedding[i]::DOUBLE * e2.embedding[i]::DOUBLE FOR i IN range(1, 65)])) AS n2
                 FROM embeddings a CROSS JOIN embeddings e2 WHERE a.vec_id < 16) e
             ON e.qid = p.query_id AND e.vec_id = cells.vec_id
           WHERE e.vec_id <> p.query_id),
         ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY sim DESC, neighbor_id) AS rn FROM scored)
       SELECT query_id, neighbor_id, sim FROM ranked WHERE rn <= 3""",

    "q39_frame_sample" ->
      """SELECT doc_id AS media_id,
         unnest(generate_series(0, n_chars * 10, 1000)) AS sample_ms
         FROM documents""",

    "q36_tfidf_similarity" ->
      s"""WITH nn AS (SELECT count(*) AS n FROM documents),
           post AS (SELECT doc_id,
                    unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                                       x -> x <> '')) AS t
                    FROM documents),
           tf AS (SELECT doc_id, t, count(*) AS tf FROM post GROUP BY 1, 2),
           dfreq AS (SELECT t, count(*) AS df FROM tf GROUP BY 1),
           w AS (SELECT doc_id, tf.t,
                        CAST(ROUND(tf * (ln(CAST((SELECT n FROM nn) + 1 AS DOUBLE) / (df + 1)) + 1.0), 6)
                             AS DECIMAL(18,6)) AS w
                 FROM tf JOIN dfreq ON tf.t = dfreq.t),
           dnorm AS (SELECT doc_id, sqrt(CAST(SUM(w * w) AS DOUBLE)) AS nrm
                     FROM w GROUP BY 1),
           qtf AS (SELECT t, count(*) AS tf FROM (
                     SELECT unnest(list_filter(regexp_split_to_array(lower('$ResumeQ'), '[^a-z0-9]+'),
                                               x -> x <> '')) AS t) GROUP BY 1),
           qw AS (SELECT qtf.t,
                         CAST(ROUND(qtf.tf * (ln(CAST((SELECT n FROM nn) + 1 AS DOUBLE) / (COALESCE(df, 0) + 1)) + 1.0), 6)
                              AS DECIMAL(18,6)) AS qw
                  FROM qtf LEFT JOIN dfreq ON qtf.t = dfreq.t),
           qn AS (SELECT sqrt(CAST(SUM(qw * qw) AS DOUBLE)) AS qnrm FROM qw),
           dots AS (SELECT doc_id, CAST(SUM(w * qw) AS DOUBLE) AS dot
                    FROM w JOIN qw ON w.t = qw.t GROUP BY 1)
        SELECT d.doc_id,
               CASE WHEN dot IS NOT NULL AND nrm > 0 AND (SELECT qnrm FROM qn) > 0
                    THEN ROUND(dot / (nrm * (SELECT qnrm FROM qn)), 6)
                    ELSE 0.0 END AS sim
        FROM documents d
        LEFT JOIN dots ON d.doc_id = dots.doc_id
        LEFT JOIN dnorm ON d.doc_id = dnorm.doc_id""",

    "q31_windowed_counts" ->
      """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d %H:%M:%S') AS day,
         event_type, COUNT(*) AS n,
         CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
         FROM events GROUP BY 1, 2""",

    "q33_enrich_scored" ->
      s"""WITH dict(t) AS ($dictValuesSql),
           resume AS (SELECT t FROM dict WHERE contains(lower('$ResumeQ'), t)),
           job AS (SELECT doc_id, t FROM documents, dict
                   WHERE contains(lower(COALESCE(text, '')), t)),
           jn AS (SELECT doc_id, COUNT(*) AS n_job FROM job GROUP BY doc_id),
           m AS (SELECT j.doc_id, COUNT(*) AS n_m
                 FROM job j JOIN resume r ON j.t = r.t GROUP BY j.doc_id)
        SELECT d.doc_id,
               CASE WHEN jn.n_job IS NULL OR jn.n_job = 0 THEN 0.0
                    ELSE ROUND(CAST(COALESCE(m.n_m, 0) AS DOUBLE) / jn.n_job * 100, 2)
               END AS llm_score
        FROM documents d
        LEFT JOIN jn ON d.doc_id = jn.doc_id
        LEFT JOIN m ON d.doc_id = m.doc_id""",

    "q93_cluster_pick" ->
      s"""WITH RECURSIVE jp AS (${jaccardOracle(0.5)}),
           edges AS (SELECT id1 AS a, id2 AS b FROM jp
                     UNION SELECT id2, id1 FROM jp),
           reach(a, b) AS (
             SELECT a, b FROM edges
             UNION
             SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
           clusters AS (
             SELECT d.doc_id,
                    CAST(COALESCE(least(mn.m, d.doc_id), d.doc_id) AS BIGINT)
                      AS canonical_id
             FROM documents d
             LEFT JOIN (SELECT a, MIN(b) AS m FROM reach GROUP BY a) mn
               ON d.doc_id = mn.a),
           $curationCtes,
           ranked AS (
             SELECT c.canonical_id, c.doc_id, s.quality_score,
                    row_number() OVER (PARTITION BY c.canonical_id
                      ORDER BY s.quality_score DESC, c.doc_id) AS rn,
                    COUNT(*) OVER (PARTITION BY c.canonical_id) AS cluster_size
             FROM clusters c JOIN scored s USING (doc_id))
         SELECT canonical_id, doc_id AS rep_id, quality_score AS rep_score,
                CAST(cluster_size AS BIGINT) AS cluster_size
         FROM ranked WHERE rn = 1""",

    "q94_source_cap" ->
      """SELECT doc_id, source, CAST(rn AS BIGINT) AS pick_order
       FROM (SELECT doc_id, source,
               row_number() OVER (PARTITION BY source
                 ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
             FROM documents)
       WHERE rn <= 50""",

    "q95_outliers" ->
      """WITH base AS (
           SELECT event_id, event_type,
                  CAST(ROUND(value, 6) AS DECIMAL(18,6)) AS v
           FROM events WHERE value IS NOT NULL),
         m AS (SELECT event_type, COUNT(*) AS n,
                 CAST(ROUND(SUM(v), 4) AS DOUBLE) AS sx,
                 CAST(ROUND(SUM(v*v), 4) AS DOUBLE) AS sxx
               FROM base GROUP BY 1),
         s AS (SELECT event_type, sx / n AS mean,
                 sqrt(n*sxx - sx*sx) / n AS std
               FROM m)
       SELECT b.event_id, b.event_type, CAST(b.v AS DOUBLE) AS value,
              ROUND((CAST(b.v AS DOUBLE) - mean) / std, 6) AS zscore
       FROM base b JOIN s USING (event_type)
       WHERE std > 0 AND abs((CAST(b.v AS DOUBLE) - mean) / std) > 3.0""",

    "q96_unicode_nfc" ->
      """WITH d AS (
           SELECT doc_id, COALESCE(text, '') AS t,
                  regexp_replace(COALESCE(text, ''), 'e', 'e' || chr(769), 'g')
                    AS dc
           FROM documents)
       SELECT doc_id,
              length(dc) AS n_decomposed,
              length(nfc_normalize(dc)) AS n_nfc,
              nfc_normalize(dc) = regexp_replace(t, 'e', chr(233), 'g')
                AS roundtrip_ok
       FROM d""",

    "q97_tfidf_terms" ->
      """WITH tok AS (
           SELECT doc_id,
                  unnest(list_filter(regexp_split_to_array(lower(COALESCE(text, '')),
                                       '[^a-z0-9]+'), x -> x <> '')) AS t
           FROM documents),
         tf AS (SELECT doc_id, t, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
         df AS (SELECT t, COUNT(*) AS df FROM tf GROUP BY 1),
         n AS (SELECT COUNT(*) AS n FROM documents),
         w AS (SELECT doc_id, t,
                 ROUND(tf * (ln(CAST(n + 1 AS DOUBLE) / (df + 1)) + 1.0), 6) AS w
               FROM tf JOIN df USING (t) CROSS JOIN n),
         r AS (SELECT doc_id, t, w,
                 row_number() OVER (PARTITION BY doc_id
                   ORDER BY w DESC, t) AS rnk
               FROM w)
       SELECT doc_id, CAST(rnk AS BIGINT) AS rnk, t AS term, w AS weight
       FROM r WHERE rnk <= 3""",

    "q98_cms_heavy" ->
      """WITH rowb AS (
           SELECT j,
                  CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR) || '#' ||
                         CAST(j AS VARCHAR)), 1, 15)) AS BIGINT) % 64 AS bkt,
                  COUNT(*) AS c
           FROM events CROSS JOIN range(4) AS r(j)
           WHERE user_id IS NOT NULL
           GROUP BY 1, 2),
         keys AS (SELECT user_id, COUNT(*) AS n_exact FROM events
                  WHERE user_id IS NOT NULL GROUP BY 1),
         probes AS (
           SELECT k.user_id, k.n_exact, rowb.c
           FROM keys k
           CROSS JOIN range(4) AS r(j)
           JOIN rowb ON rowb.j = r.j
             AND rowb.bkt = CAST(('0x' || substr(md5(CAST(k.user_id AS VARCHAR)
                   || '#' || CAST(r.j AS VARCHAR)), 1, 15)) AS BIGINT) % 64),
         est AS (SELECT user_id, MIN(n_exact) AS n_exact, MIN(c) AS cms_estimate
                 FROM probes GROUP BY 1)
       SELECT user_id, n_exact, cms_estimate
       FROM est WHERE cms_estimate >= 75""",

    "q99_oov_rate" ->
      """WITH tok AS (
           SELECT doc_id,
                  unnest(list_filter(regexp_split_to_array(lower(COALESCE(text, '')),
                                       '[^a-z0-9]+'), x -> x <> '')) AS t
           FROM documents),
         vocab AS (SELECT t FROM tok GROUP BY t HAVING COUNT(*) >= 5),
         per AS (SELECT doc_id, COUNT(*) AS n_tokens,
                   CAST(SUM(CASE WHEN v.t IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_oov
                 FROM tok LEFT JOIN vocab v USING (t) GROUP BY doc_id)
       SELECT d.doc_id,
              COALESCE(per.n_tokens, 0) AS n_tokens,
              COALESCE(per.n_oov, 0) AS n_oov,
              CASE WHEN per.n_tokens IS NULL THEN 0.0
                   ELSE ROUND(CAST(per.n_oov AS DOUBLE) / per.n_tokens, 6)
              END AS oov_rate
       FROM documents d LEFT JOIN per USING (doc_id)""",

    "q100_mad_outliers" ->
      """WITH med AS (
           SELECT event_type, ROUND(quantile_cont(value, 0.5), 4) AS med
           FROM events WHERE value IS NOT NULL GROUP BY 1),
         dev AS (SELECT e.event_id, e.event_type, CAST(e.value AS DOUBLE) AS v,
                   med.med, abs(CAST(e.value AS DOUBLE) - med.med) AS adev
                 FROM events e JOIN med USING (event_type)
                 WHERE e.value IS NOT NULL),
         mad AS (SELECT event_type, ROUND(quantile_cont(adev, 0.5), 4) AS mad
                 FROM dev GROUP BY 1)
       SELECT event_id, event_type, v AS value,
              ROUND((v - med) / (1.4826 * mad), 4) AS robust_z
       FROM dev JOIN mad USING (event_type)
       WHERE mad > 0 AND abs((v - med) / (1.4826 * mad)) > 3.5""",

    "q101_event_paths" ->
      """WITH r AS (
           SELECT user_id, event_type,
                  row_number() OVER (PARTITION BY user_id
                    ORDER BY date_trunc('microseconds', ts), event_id) AS rn
           FROM events)
       SELECT user_id,
              string_agg(event_type, '>' ORDER BY rn) AS path,
              COUNT(*) AS path_len
       FROM r WHERE rn <= 10 GROUP BY user_id""",

    "q102_quality_calibrated" -> curationSql(
      """SELECT s.doc_id, d.lang, s.quality_score,
              ROUND(percent_rank() OVER (PARTITION BY d.lang
                ORDER BY s.quality_score), 6) AS quality_pct
         FROM scored s JOIN documents d USING (doc_id)"""),

    "q103_containment_pairs" ->
      """WITH sets AS (
           SELECT doc_id, list_distinct(
             CASE WHEN len(toks) <= 3 THEN [array_to_string(toks, ' ')]
                  ELSE [array_to_string(toks[i:i+2], ' ')
                        FOR i IN range(1, len(toks) - 1)] END) AS sh
           FROM (SELECT doc_id,
                   list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                               x -> x <> '') AS toks
                 FROM documents)),
         sizes AS (SELECT doc_id, len(sh) AS n FROM sets),
         postings AS (SELECT doc_id, unnest(sh) AS s FROM sets),
         common AS (SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS c
                    FROM postings a JOIN postings b
                      ON a.s = b.s AND a.doc_id < b.doc_id
                    GROUP BY 1, 2)
       SELECT id1, id2,
              ROUND(CAST(c AS DOUBLE) / least(s1.n, s2.n), 6) AS containment
       FROM common
       JOIN sizes s1 ON common.id1 = s1.doc_id
       JOIN sizes s2 ON common.id2 = s2.doc_id
       WHERE ROUND(CAST(c AS DOUBLE) / least(s1.n, s2.n), 6) >= 0.6""",

    "q104_temperature_sample" ->
      """WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY 1),
         f AS (SELECT lang, n,
                 CAST(n AS DOUBLE) / SUM(n) OVER () AS p
               FROM c),
         r AS (SELECT lang, n,
                 pow(p, 0.3) / p AS r0
               FROM f),
         k AS (SELECT lang, n,
                 ROUND(r0 / MAX(r0) OVER (), 6) AS keep_frac,
                 CAST(ROUND(ROUND(r0 / MAX(r0) OVER (), 6) * 1000000)
                      AS BIGINT) AS thr
               FROM r)
       , kept AS (
           SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_kept
           FROM documents d
           JOIN k ON d.lang = k.lang
           WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))
                      AS BIGINT) % 1000000 < k.thr
           GROUP BY 1)
       SELECT k.lang, k.n AS n_docs, k.keep_frac,
              COALESCE(kept.n_kept, 0) AS n_kept
       FROM k LEFT JOIN kept USING (lang)""",

    "q125_mix_weights" ->
      """WITH counts AS (
           SELECT source, COUNT(*) AS n_docs,
                  CAST(SUM(len(list_filter(
                    regexp_split_to_array(lower(COALESCE(text, '')), '[^a-z0-9]+'),
                    x -> x <> ''))) AS BIGINT) AS n_tokens
           FROM documents GROUP BY 1),
         shares AS (
           SELECT *,
                  CAST(n_tokens AS DOUBLE) / CAST(SUM(n_tokens) OVER () AS DOUBLE) AS share,
                  1.0 / CAST(COUNT(*) OVER () AS DOUBLE) AS tshare
           FROM counts)
       SELECT source, n_docs, n_tokens,
              ROUND(share, 6) AS token_share,
              ROUND(tshare, 6) AS target_share,
              CASE WHEN share > 0 THEN ROUND(tshare / share, 6) END AS mix_weight
       FROM shares""",

    // the Spark side CONSTRUCTS real PNG/JPEG/GIF byte streams with
    // doc_id-derived dimensions and parses them back with the native
    // header decoder; the oracle replays the construction arithmetic
    "q127_image_meta" ->
      """SELECT doc_id AS media_id,
              CASE WHEN doc_id % 3 = 0 THEN 'png'
                   WHEN doc_id % 3 = 1 THEN 'jpeg'
                   WHEN doc_id % 6 = 2 THEN 'gif' END AS format,
              CASE WHEN doc_id % 3 = 0 THEN CAST(doc_id % 300 + 1 AS INTEGER)
                   WHEN doc_id % 3 = 1 THEN CAST(doc_id % 250 + 1 AS INTEGER)
                   WHEN doc_id % 6 = 2 THEN CAST(doc_id % 500 + 1 AS INTEGER)
              END AS width,
              CASE WHEN doc_id % 3 = 0 THEN CAST(doc_id % 200 + 1 AS INTEGER)
                   WHEN doc_id % 3 = 1 THEN CAST(doc_id % 150 + 1 AS INTEGER)
                   WHEN doc_id % 6 = 2 THEN CAST(doc_id % 400 + 1 AS INTEGER)
              END AS height,
              CASE WHEN doc_id % 3 = 0 THEN
                     CAST(CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 1 END AS INTEGER)
                   WHEN doc_id % 3 = 1 THEN CAST(3 AS INTEGER)
                   WHEN doc_id % 6 = 2 THEN CAST(1 AS INTEGER)
              END AS channels,
              CASE WHEN doc_id % 3 IN (0, 1) OR doc_id % 6 = 2
                   THEN CAST(8 AS INTEGER) END AS bit_depth
       FROM documents""",

    "q149_video_meta" ->
      """SELECT doc_id AS media_id,
              CASE WHEN doc_id % 3 = 0 THEN 'mp4' END AS format,
              CASE WHEN doc_id % 3 = 0
                   THEN CAST(doc_id % 1024 + 16 AS INTEGER) END AS width,
              CASE WHEN doc_id % 3 = 0
                   THEN CAST(doc_id % 768 + 16 AS INTEGER) END AS height,
              CASE WHEN doc_id % 3 = 0
                   THEN CAST((doc_id % 300 + 1) * 1000 AS BIGINT)
              END AS duration_ms,
              CASE WHEN doc_id % 3 = 0
                   THEN CAST((doc_id % 4 + 1) * 600 AS INTEGER)
              END AS timescale
       FROM documents""",

    "q148_audio_meta" ->
      """SELECT doc_id AS media_id,
              CASE WHEN doc_id % 3 = 0 THEN 'wav'
                   WHEN doc_id % 3 = 1 THEN 'flac' END AS format,
              CASE WHEN doc_id % 3 IN (0, 1)
                   THEN CAST(doc_id % 2 + 1 AS INTEGER) END AS channels,
              CASE WHEN doc_id % 3 = 0
                     THEN CAST((doc_id % 4 + 1) * 11025 AS INTEGER)
                   WHEN doc_id % 3 = 1
                     THEN CAST((doc_id % 5 + 1) * 8000 AS INTEGER)
              END AS sample_rate,
              CASE WHEN doc_id % 3 IN (0, 1)
                   THEN CAST(16 AS INTEGER) END AS bit_depth,
              CASE WHEN doc_id % 3 = 0 THEN CAST(doc_id % 1000 + 1 AS BIGINT)
                   WHEN doc_id % 3 = 1 THEN CAST(doc_id % 5000 + 1 AS BIGINT)
              END AS n_frames
       FROM documents""",

    // replays q165's duration/fps arithmetic: AVI duration =
    // frames·µsPerFrame/1000 with fps = 10^6/µsPerFrame; GIF
    // duration = frames·4cs·10 at timescale 100
    "q165_video_meta_wide" ->
      """SELECT doc_id AS media_id,
              CASE WHEN doc_id % 3 = 0 THEN 'avi'
                   WHEN doc_id % 3 = 1 THEN 'gif' END AS format,
              CASE WHEN doc_id % 3 = 0 THEN CAST(doc_id % 320 + 16 AS INTEGER)
                   WHEN doc_id % 3 = 1 THEN CAST(doc_id % 40 + 2 AS INTEGER)
              END AS width,
              CASE WHEN doc_id % 3 = 0 THEN CAST(doc_id % 240 + 16 AS INTEGER)
                   WHEN doc_id % 3 = 1 THEN CAST(doc_id % 30 + 2 AS INTEGER)
              END AS height,
              CASE WHEN doc_id % 3 = 0
                     THEN CAST((doc_id % 500 + 1) * (doc_id % 50 + 10) AS BIGINT)
                   WHEN doc_id % 3 = 1
                     THEN CAST((doc_id % 5 + 1) * 40 AS BIGINT)
              END AS duration_ms,
              CASE WHEN doc_id % 3 = 0
                     THEN CAST(1000000 // ((doc_id % 50 + 10) * 1000) AS INTEGER)
                   WHEN doc_id % 3 = 1 THEN CAST(100 AS INTEGER)
              END AS timescale
       FROM documents""",

    // replays q164's planted gray-index formula over the composited
    // RGB frames: each pixel's three channels equal the index v, so
    // sums triple and min/max/constant carry over; n_bytes is the
    // emitted PPM's size (same header formula as q157)
    "q164_gif_video_stats" ->
      """WITH d AS (SELECT doc_id AS id,
                  CAST(doc_id % 5 + 6 AS INTEGER) AS w,
                  CAST(doc_id % 4 + 5 AS INTEGER) AS h,
                  CAST(doc_id % 3 + 2 AS INTEGER) AS n
           FROM documents WHERE doc_id % 9 <> 5),
         fr AS (SELECT id, w, h, CAST(f AS INTEGER) AS f
                FROM d CROSS JOIN range(0, 4) r(f) WHERE f < n),
         px AS (SELECT id, f, w, h,
                  ((id*37 + f*101 + k*13) % 251) AS v
                FROM fr CROSS JOIN range(0, 90) r2(k)
                WHERE k < w*h),
         st AS (SELECT id, f, ANY_VALUE(w) AS w, ANY_VALUE(h) AS h,
                  CAST(SUM(v) AS BIGINT) AS s,
                  CAST(SUM(v*v) AS BIGINT) AS ss,
                  CAST(MIN(v) AS INTEGER) AS mn,
                  CAST(MAX(v) AS INTEGER) AS mx
                FROM px GROUP BY id, f)
       SELECT id AS media_id, f AS frame_idx,
              CAST(9 + LENGTH(CAST(w AS VARCHAR))
                     + LENGTH(CAST(h AS VARCHAR)) + w*h*3 AS BIGINT)
                AS n_bytes,
              'ppm' AS format, w AS width, h AS height,
              CAST(3 AS INTEGER) AS channels,
              CAST(w*h AS BIGINT) AS n_pixels,
              3*s AS sum, 3*ss AS sumsq, mn AS pmin, mx AS pmax,
              CAST(CASE WHEN mn = mx THEN 1 ELSE 0 END AS INTEGER)
                AS constant,
              ROUND(CAST(3*s AS DOUBLE)/(w*h*3), 6) AS mean,
              ROUND(CAST(3*ss AS DOUBLE)/(w*h*3)
                    - (CAST(3*s AS DOUBLE)/(w*h*3))
                      * (CAST(3*s AS DOUBLE)/(w*h*3)), 6) AS variance
       FROM st""",

    // replays q163's dimension arithmetic per container class
    "q163_image_meta_wide" ->
      """SELECT doc_id AS media_id,
              CASE WHEN doc_id % 9 = 5 THEN NULL
                   WHEN doc_id % 4 IN (0, 1) THEN 'tiff'
                   WHEN doc_id % 4 = 2 THEN 'bmp'
                   ELSE 'ppm' END AS format,
              CASE WHEN doc_id % 9 = 5 THEN NULL
                   WHEN doc_id % 4 = 0 THEN CAST(doc_id % 500 + 1 AS INTEGER)
                   WHEN doc_id % 4 = 1 THEN CAST(doc_id % 700 + 2 AS INTEGER)
                   WHEN doc_id % 4 = 2 THEN CAST(doc_id % 400 + 1 AS INTEGER)
                   ELSE CAST(doc_id % 100 + 1 AS INTEGER) END AS width,
              CASE WHEN doc_id % 9 = 5 THEN NULL
                   WHEN doc_id % 4 = 0 THEN CAST(doc_id % 300 + 1 AS INTEGER)
                   WHEN doc_id % 4 = 1 THEN CAST(doc_id % 400 + 2 AS INTEGER)
                   WHEN doc_id % 4 = 2 THEN CAST(doc_id % 200 + 1 AS INTEGER)
                   ELSE CAST(doc_id % 50 + 1 AS INTEGER) END AS height,
              CASE WHEN doc_id % 9 = 5 THEN NULL
                   WHEN doc_id % 4 = 0 THEN CAST(1 AS INTEGER)
                   WHEN doc_id % 4 = 1 THEN CAST(1 AS INTEGER)
                   ELSE CAST(3 AS INTEGER) END AS channels,
              CASE WHEN doc_id % 9 = 5 THEN NULL
                   WHEN doc_id % 4 = 0 THEN CAST(1 AS INTEGER)
                   WHEN doc_id % 4 = 1 THEN CAST(16 AS INTEGER)
                   ELSE CAST(8 AS INTEGER) END AS bit_depth
       FROM documents""",

    // replays the WARC construction as plain string SQL: the
    // response record is index 1 (after warcinfo), the HTTP split
    // yields 200/text-html, and the HtmlToText chain reduces the
    // constructed body to its known text (tags → spaces, collapse)
    "q162_warc_html_docs" ->
      """SELECT doc_id AS file_id, CAST(1 AS INTEGER) AS record_idx,
              'http://example.com/doc/' || doc_id AS url,
              CAST(200 AS INTEGER) AS http_status,
              'text/html' AS http_content_type,
              'utf-8' AS charset,
              'Doc ' || doc_id || ' Doc ' || doc_id ||
                ' alpha beta gamma ' || (doc_id % 7) || ' delta' AS text
       FROM documents WHERE doc_id % 9 <> 5""",

    // replays the public MP3 tables (ISO 11172-3 Layer III bitrates,
    // sample rates) + the CBR frame-count estimate, and the OGG
    // granule arithmetic (− pre-skip for Opus). The ID3v2 tag never
    // enters the estimate: the parser resumes exactly at 10 + size
    "q161_audio_meta_wide" ->
      """WITH d AS (SELECT doc_id, doc_id // 4 AS g, doc_id % 4 AS m,
                  doc_id % 9 = 5 AS txt
           FROM documents),
         c AS (SELECT doc_id, g, m, txt,
                  ([32,40,48,56,64,80,96,112,128,160,192,224,256,320])[CAST(g % 14 + 1 AS INTEGER)] AS kbps1,
                  ([8,16,24,32,40,48,56,64,80,96,112,128,144,160])[CAST(g % 14 + 1 AS INTEGER)] AS kbps2,
                  ([44100,48000,32000])[CAST(g % 3 + 1 AS INTEGER)] AS rate1,
                  ([22050,24000,16000])[CAST(g % 3 + 1 AS INTEGER)] AS rate2,
                  4 + (g % 50 + 5) * 100 AS nbytes
               FROM d)
       SELECT doc_id AS media_id,
              CASE WHEN txt THEN NULL
                   WHEN m IN (0, 1) THEN 'mp3'
                   WHEN m = 2 THEN 'vorbis' ELSE 'opus' END AS format,
              CASE WHEN txt THEN NULL
                   WHEN m = 0 THEN CAST(CASE WHEN g % 2 = 0 THEN 2 ELSE 1 END AS INTEGER)
                   WHEN m = 1 THEN CAST(1 AS INTEGER)
                   ELSE CAST(g % 2 + 1 AS INTEGER) END AS channels,
              CASE WHEN txt THEN NULL
                   WHEN m = 0 THEN CAST(rate1 AS INTEGER)
                   WHEN m = 1 THEN CAST(rate2 AS INTEGER)
                   WHEN m = 2 THEN CAST((g % 5 + 1) * 8000 AS INTEGER)
                   ELSE CAST(48000 AS INTEGER) END AS sample_rate,
              CASE WHEN txt THEN NULL
                   ELSE CAST(16 AS INTEGER) END AS bit_depth,
              CASE WHEN txt THEN NULL
                   WHEN m = 0 THEN CAST((nbytes // ((144 * kbps1 * 1000) // rate1)) * 1152 AS BIGINT)
                   WHEN m = 1 THEN CAST((nbytes // ((72 * kbps2 * 1000) // rate2)) * 576 AS BIGINT)
                   WHEN m = 2 THEN CAST(g % 100000 + 1 AS BIGINT)
                   ELSE CAST(g % 50000 + 1 AS BIGINT) END AS n_frames
       FROM c""",

    // replays q150's pixel-value formula V(y,j) = (id*7+y*31+j*13)%256
    // over every (scanline, byte) position — the decoded-pixel ground
    // truth the PNG filter/zlib round trip must reproduce exactly.
    // range(0, 672) is the constant hull of w*ch*h (≤ 16*3*14);
    // k < w*ch*h prunes per row (DuckDB's range() can't take lateral
    // column bounds)
    "q150_pixel_stats" ->
      """WITH d AS (SELECT doc_id AS id,
                  CAST(doc_id % 13 + 4 AS INTEGER) AS w,
                  CAST(doc_id % 11 + 4 AS INTEGER) AS h,
                  CAST(CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 3 END
                       AS INTEGER) AS ch,
                  doc_id % 4 AS m
           FROM documents),
         px AS (SELECT id,
                  ((id*7 + (k // (w*ch))*31 + (k % (w*ch))*13) % 256) AS v
                FROM d CROSS JOIN range(0, 672) AS r(k)
                WHERE m < 3 AND k < w*ch*h),
         st AS (SELECT id, CAST(SUM(v) AS BIGINT) AS s,
                       CAST(SUM(v*v) AS BIGINT) AS ss,
                       CAST(MIN(v) AS INTEGER) AS mn,
                       CAST(MAX(v) AS INTEGER) AS mx
                FROM px GROUP BY id)
       SELECT d.id AS media_id,
              CASE WHEN d.m = 2 THEN 'ppm'
                   WHEN d.m < 2 THEN 'png' END AS format,
              CASE WHEN d.m < 3 THEN d.w END AS width,
              CASE WHEN d.m < 3 THEN d.h END AS height,
              CASE WHEN d.m < 3 THEN d.ch END AS channels,
              CASE WHEN d.m < 3 THEN CAST(d.w*d.h AS BIGINT) END AS n_pixels,
              st.s AS sum, st.ss AS sumsq, st.mn AS pmin, st.mx AS pmax,
              CASE WHEN d.m < 3 THEN CAST(CASE WHEN st.mn = st.mx THEN 1
                   ELSE 0 END AS INTEGER) END AS constant,
              CASE WHEN d.m < 3
                   THEN ROUND(CAST(st.s AS DOUBLE)/(d.w*d.h*d.ch), 6)
              END AS mean,
              CASE WHEN d.m < 3
                   THEN ROUND(CAST(st.ss AS DOUBLE)/(d.w*d.h*d.ch)
                        - (CAST(st.s AS DOUBLE)/(d.w*d.h*d.ch))
                          * (CAST(st.s AS DOUBLE)/(d.w*d.h*d.ch)), 6)
              END AS variance
       FROM d LEFT JOIN st ON d.id = st.id""",

    "q152_pixel_grid_sig" ->
      s"""WITH $gridSigOracleCtes
       SELECT d.id AS media_id,
              CASE WHEN d.g % 7 <> 3 THEN 'ppm' END AS format,
              s.w AS width, s.h AS height, s.sig, s.ahash, s2.dhash
       FROM d LEFT JOIN sig s ON d.id = s.id
              LEFT JOIN sigd s2 ON d.id = s2.id""",

    "q153_image_neardup" ->
      s"""WITH $gridSigOracleCtes,
         bands AS (SELECT id, band,
                     (ahash >> CAST(band*16 AS INTEGER)) & 65535 AS key
                   FROM sig CROSS JOIN range(0, 4) rb(band)),
         okb AS (SELECT band, key FROM bands GROUP BY band, key
                 HAVING COUNT(*) BETWEEN 2 AND 4096),
         cand AS (SELECT DISTINCT a.id AS id1, b.id AS id2
                  FROM bands a
                  JOIN okb USING (band, key)
                  JOIN bands b
                    ON a.band = b.band AND a.key = b.key AND a.id < b.id),
         l1t AS (SELECT c.id1, c.id2,
                   CAST(SUM(abs(b1.m - b2.m)) AS BIGINT) AS l1
                 FROM cand c
                 JOIN bm b1 ON b1.id = c.id1
                 JOIN bm b2 ON b2.id = c.id2 AND b2.blk = b1.blk
                 GROUP BY c.id1, c.id2)
       SELECT id1, id2, l1 FROM l1t WHERE l1 <= 126""",

    "q155_image_neardup_dhash" ->
      s"""WITH $gridSigOracleCtes,
         bands AS (SELECT id, band,
                     (dhash >> CAST(band*14 AS INTEGER)) & 16383 AS key
                   FROM sigd CROSS JOIN range(0, 4) rb(band)),
         okb AS (SELECT band, key FROM bands GROUP BY band, key
                 HAVING COUNT(*) BETWEEN 2 AND 4096),
         cand AS (SELECT DISTINCT a.id AS id1, b.id AS id2
                  FROM bands a
                  JOIN okb USING (band, key)
                  JOIN bands b
                    ON a.band = b.band AND a.key = b.key AND a.id < b.id)
       SELECT c.id1, c.id2,
              CAST(bit_count(xor(d1.dhash, d2.dhash)) AS INTEGER) AS hamming
       FROM cand c
       JOIN sigd d1 ON d1.id = c.id1
       JOIN sigd d2 ON d2.id = c.id2
       WHERE bit_count(xor(d1.dhash, d2.dhash)) <= 6""",

    // replays q156's envelope fingerprint from the sample formulas:
    // per-window |sample| sums under the integer boundary rule
    // (lo = w*n//64), gradient-sign ehash, the all-zero-envelope
    // exclusion (digital silence fingerprints as NULL), 4x16
    // live-bit banding with the 4096 bucket cap, and Hamming <= 6.
    // range hull: 96 > max frames (64 + g%32 <= 95)
    "q156_audio_neardup" ->
      """WITH d AS (SELECT doc_id AS id, doc_id // 2 AS g,
                  CAST(CASE WHEN doc_id % 2 = 1 THEN 2 ELSE 1 END AS BIGINT) AS gain,
                  64 + (doc_id // 2) % 32 AS n
           FROM documents),
         sv AS (SELECT id, n, k,
                  CASE WHEN g % 13 = 0 THEN 0
                       ELSE gain * ((g*37 + k*7919) % 8191 - 4095) END AS v
                FROM d CROSS JOIN range(0, 96) r(k)
                WHERE k < n),
         env AS (SELECT s.id, CAST(w.w AS INTEGER) AS w,
                   CAST(SUM(ABS(s.v)) AS BIGINT) AS e
                 FROM sv s JOIN range(0, 64) w(w)
                   ON s.k >= (w.w * s.n) // 64
                  AND s.k < ((w.w + 1) * s.n) // 64
                 GROUP BY s.id, w.w),
         live AS (SELECT id FROM env GROUP BY id HAVING MAX(e) > 0),
         eh AS (SELECT a.id,
                  CAST(SUM(CASE WHEN b.e > a.e
                            THEN (CAST(1 AS BIGINT) << a.w) ELSE 0 END)
                       AS BIGINT) AS h
                FROM env a
                JOIN live USING (id)
                JOIN env b ON b.id = a.id AND b.w = a.w + 1
                GROUP BY a.id),
         bands AS (SELECT id, band,
                     (h >> CAST(band*16 AS INTEGER)) & 65535 AS key
                   FROM eh CROSS JOIN range(0, 4) rb(band)),
         okb AS (SELECT band, key FROM bands GROUP BY band, key
                 HAVING COUNT(*) BETWEEN 2 AND 4096),
         cand AS (SELECT DISTINCT a.id AS id1, b.id AS id2
                  FROM bands a
                  JOIN okb USING (band, key)
                  JOIN bands b
                    ON a.band = b.band AND a.key = b.key AND a.id < b.id)
       SELECT c.id1, c.id2,
              CAST(bit_count(xor(h1.h, h2.h)) AS INTEGER) AS hamming
       FROM cand c
       JOIN eh h1 ON h1.id = c.id1
       JOIN eh h2 ON h2.id = c.id2
       WHERE bit_count(xor(h1.h, h2.h)) <= 6""",

    // replays q157's per-frame pixel formula — the decoded ground
    // truth the RIFF movi walk + PPM decode must reproduce frame by
    // frame. n_bytes = PPM header (9 + digits of w + digits of h) +
    // w*h*3. range hulls: 4 >= max frames, 256 > max w*h*3 (10*8*3)
    "q157_video_frame_stats" ->
      """WITH d AS (SELECT doc_id AS id,
                  CAST(doc_id % 5 + 6 AS INTEGER) AS w,
                  CAST(doc_id % 4 + 5 AS INTEGER) AS h,
                  CAST(doc_id % 3 + 2 AS INTEGER) AS n
           FROM documents WHERE doc_id % 9 <> 5),
         fr AS (SELECT id, w, h, CAST(f AS INTEGER) AS f
                FROM d CROSS JOIN range(0, 4) r(f) WHERE f < n),
         px AS (SELECT id, f, w, h,
                  ((id*37 + f*101 + k*13) % 251) AS v
                FROM fr CROSS JOIN range(0, 256) r2(k)
                WHERE k < w*h*3),
         st AS (SELECT id, f, ANY_VALUE(w) AS w, ANY_VALUE(h) AS h,
                  CAST(SUM(v) AS BIGINT) AS s,
                  CAST(SUM(v*v) AS BIGINT) AS ss,
                  CAST(MIN(v) AS INTEGER) AS mn,
                  CAST(MAX(v) AS INTEGER) AS mx
                FROM px GROUP BY id, f)
       SELECT id AS media_id, f AS frame_idx,
              CAST(9 + LENGTH(CAST(w AS VARCHAR))
                     + LENGTH(CAST(h AS VARCHAR)) + w*h*3 AS BIGINT)
                AS n_bytes,
              'ppm' AS format, w AS width, h AS height,
              CAST(3 AS INTEGER) AS channels,
              CAST(w*h AS BIGINT) AS n_pixels,
              s AS sum, ss AS sumsq, mn AS pmin, mx AS pmax,
              CAST(CASE WHEN mn = mx THEN 1 ELSE 0 END AS INTEGER)
                AS constant,
              ROUND(CAST(s AS DOUBLE)/(w*h*3), 6) AS mean,
              ROUND(CAST(ss AS DOUBLE)/(w*h*3)
                    - (CAST(s AS DOUBLE)/(w*h*3))
                      * (CAST(s AS DOUBLE)/(w*h*3)), 6) AS variance
       FROM st""",

    // the decoder-seam ground truth: GKEY/GDLT delta encoding
    // round-trips exactly (byte arithmetic mod 256), so decoded
    // frames ARE q157's pixel formula — the oracle replays it for the
    // keyframed docs and emits the all-NULL rows (n_bytes 0, indices
    // preserved) for the foreign-codec docs the stub cannot decode
    "q160_video_decoder_stats" ->
      """WITH d AS (SELECT doc_id AS id,
                  CAST(doc_id % 5 + 6 AS INTEGER) AS w,
                  CAST(doc_id % 4 + 5 AS INTEGER) AS h,
                  CAST(doc_id % 3 + 2 AS INTEGER) AS n
           FROM documents WHERE doc_id % 9 <> 5),
         fr AS (SELECT id, w, h, CAST(f AS INTEGER) AS f
                FROM d CROSS JOIN range(0, 4) r(f)
                WHERE f < n AND id % 7 <> 3),
         px AS (SELECT id, f, w, h,
                  ((id*37 + f*101 + k*13) % 251) AS v
                FROM fr CROSS JOIN range(0, 256) r2(k)
                WHERE k < w*h*3),
         st AS (SELECT id, f, ANY_VALUE(w) AS w, ANY_VALUE(h) AS h,
                  CAST(SUM(v) AS BIGINT) AS s,
                  CAST(SUM(v*v) AS BIGINT) AS ss,
                  CAST(MIN(v) AS INTEGER) AS mn,
                  CAST(MAX(v) AS INTEGER) AS mx
                FROM px GROUP BY id, f),
         ok AS (SELECT id AS media_id, f AS frame_idx,
                  CAST(9 + LENGTH(CAST(w AS VARCHAR))
                         + LENGTH(CAST(h AS VARCHAR)) + w*h*3 AS BIGINT)
                    AS n_bytes,
                  'ppm' AS format, w AS width, h AS height,
                  CAST(3 AS INTEGER) AS channels,
                  CAST(w*h AS BIGINT) AS n_pixels,
                  s AS sum, ss AS sumsq, mn AS pmin, mx AS pmax,
                  CAST(CASE WHEN mn = mx THEN 1 ELSE 0 END AS INTEGER)
                    AS constant,
                  ROUND(CAST(s AS DOUBLE)/(w*h*3), 6) AS mean,
                  ROUND(CAST(ss AS DOUBLE)/(w*h*3)
                        - (CAST(s AS DOUBLE)/(w*h*3))
                          * (CAST(s AS DOUBLE)/(w*h*3)), 6) AS variance
                FROM st),
         fo AS (SELECT id AS media_id, CAST(f AS INTEGER) AS frame_idx,
                  CAST(0 AS BIGINT) AS n_bytes,
                  CAST(NULL AS VARCHAR) AS format,
                  CAST(NULL AS INTEGER) AS width,
                  CAST(NULL AS INTEGER) AS height,
                  CAST(NULL AS INTEGER) AS channels,
                  CAST(NULL AS BIGINT) AS n_pixels,
                  CAST(NULL AS BIGINT) AS sum,
                  CAST(NULL AS BIGINT) AS sumsq,
                  CAST(NULL AS INTEGER) AS pmin,
                  CAST(NULL AS INTEGER) AS pmax,
                  CAST(NULL AS INTEGER) AS constant,
                  CAST(NULL AS DOUBLE) AS mean,
                  CAST(NULL AS DOUBLE) AS variance
                FROM d CROSS JOIN range(0, 4) r(f)
                WHERE id % 7 = 3 AND f < n)
       SELECT * FROM ok UNION ALL SELECT * FROM fo""",

    // replays q158's whole pipeline relationally: constant-frame
    // means (exact 256*v), window means under the integer boundary
    // rule (w = f*32 // n, every window non-empty since n >= 36 > 32),
    // the all-equal-envelope drop, gradient-sign thash, 2x16-bit
    // key-space-floor banding with the 4096 bucket cap, Hamming <= 4.
    // range hull: 64 = max frames (36 + g%29 <= 64)
    "q158_video_neardup" ->
      """WITH d AS (SELECT doc_id AS id, doc_id // 2 AS g,
                  doc_id % 2 AS variant,
                  (doc_id // 2) % 29 + 36 AS n
           FROM documents WHERE doc_id % 37 <> 3),
         fm AS (SELECT id, n, f,
                  256 * (((g*53 + fe*97 + fe*fe*31) % 180) + 10
                         + variant*16) AS fmean
                FROM (SELECT id, g, variant, n, f,
                        CASE WHEN g % 13 = 0 THEN 0 ELSE f END AS fe
                      FROM d CROSS JOIN range(0, 64) r(f)
                      WHERE f < n) t),
         env AS (SELECT id, CAST((f * 32) // n AS INTEGER) AS w,
                   CAST(SUM(fmean) // COUNT(*) AS BIGINT) AS wval
                 FROM fm GROUP BY id, (f * 32) // n),
         live AS (SELECT id FROM env GROUP BY id
                  HAVING MIN(wval) < MAX(wval)),
         th AS (SELECT a.id,
                  CAST(SUM(CASE WHEN b.wval > a.wval
                            THEN (CAST(1 AS BIGINT) << a.w) ELSE 0 END)
                       AS BIGINT) AS h
                FROM env a
                JOIN live USING (id)
                JOIN env b ON b.id = a.id AND b.w = a.w + 1
                GROUP BY a.id),
         bands AS (SELECT id, band,
                     (h >> CAST(band*16 AS INTEGER)) & 65535 AS key
                   FROM th CROSS JOIN range(0, 2) rb(band)),
         okb AS (SELECT band, key FROM bands GROUP BY band, key
                 HAVING COUNT(*) BETWEEN 2 AND 4096),
         cand AS (SELECT DISTINCT a.id AS id1, b.id AS id2
                  FROM bands a
                  JOIN okb USING (band, key)
                  JOIN bands b
                    ON a.band = b.band AND a.key = b.key AND a.id < b.id)
       SELECT c.id1, c.id2,
              CAST(bit_count(xor(h1.h, h2.h)) AS INTEGER) AS hamming
       FROM cand c
       JOIN th h1 ON h1.id = c.id1
       JOIN th h2 ON h2.id = c.id2
       WHERE bit_count(xor(h1.h, h2.h)) <= 4""",

    // replays q154's sample formulas over every (frame, channel)
    // position — the decoded-PCM ground truth the chunk walk + LE16 /
    // unsigned-8 sample reads must reproduce exactly. range hulls:
    // 90 >= max 16-bit samples (44 frames x 2 ch), 70 >= max 8-bit
    "q154_audio_stats" ->
      """WITH d AS (SELECT doc_id AS id, doc_id % 3 AS m,
                  CAST(doc_id % 2 + 1 AS INTEGER) AS ch16,
                  CAST((doc_id % 4 + 1) * 8000 AS INTEGER) AS rate16,
                  doc_id % 40 + 5 AS n16,
                  CAST((doc_id % 3 + 1) * 11025 AS INTEGER) AS rate8,
                  doc_id % 60 + 10 AS n8
           FROM documents),
         v16 AS (SELECT id, k % ch16 AS chn, 16 AS bits,
                   CASE WHEN id % 11 = 0 THEN 0
                        WHEN (id*31 + k*7919) % 65536 >= 32768
                          THEN (id*31 + k*7919) % 65536 - 65536
                        ELSE (id*31 + k*7919) % 65536 END AS v
                 FROM d CROSS JOIN range(0, 90) r(k)
                 WHERE m = 0 AND k < n16 * ch16),
         v8 AS (SELECT id, 0 AS chn, 8 AS bits,
                  ((id*13 + k*101) % 256) - 128 AS v
                FROM d CROSS JOIN range(0, 70) r(k)
                WHERE m = 1 AND k < n8),
         sv AS (SELECT * FROM v16 UNION ALL SELECT * FROM v8),
         chs AS (SELECT id, chn, CAST(SUM(v*v) AS BIGINT) AS csq,
                   CAST(MAX(ABS(v)) AS INTEGER) AS cpk
                 FROM sv GROUP BY id, chn),
         chj AS (SELECT id,
                   string_agg(CAST(csq AS VARCHAR), ',' ORDER BY chn)
                     AS ch_sumsq,
                   string_agg(CAST(cpk AS VARCHAR), ',' ORDER BY chn)
                     AS ch_peak
                 FROM chs GROUP BY id),
         tot AS (SELECT id, CAST(SUM(v) AS BIGINT) AS s,
                   CAST(SUM(v*v) AS BIGINT) AS ss,
                   CAST(MAX(ABS(v)) AS INTEGER) AS pk,
                   CAST(SUM(CASE WHEN (bits = 16 AND (v >= 32767 OR v <= -32768))
                                   OR (bits = 8 AND (v >= 127 OR v <= -128))
                            THEN 1 ELSE 0 END) AS BIGINT) AS clp,
                   COUNT(*) AS ns
                 FROM sv GROUP BY id)
       SELECT d.id AS media_id,
              CASE WHEN m < 2 THEN 'wav' END AS format,
              CASE WHEN m = 0 THEN ch16
                   WHEN m = 1 THEN CAST(1 AS INTEGER) END AS channels,
              CASE WHEN m = 0 THEN rate16
                   WHEN m = 1 THEN rate8 END AS sample_rate,
              CASE WHEN m = 0 THEN CAST(16 AS INTEGER)
                   WHEN m = 1 THEN CAST(8 AS INTEGER) END AS bit_depth,
              CASE WHEN m = 0 THEN CAST(n16 AS BIGINT)
                   WHEN m = 1 THEN CAST(n8 AS BIGINT) END AS n_frames,
              CASE WHEN m = 0 THEN CAST(n16 * ch16 AS BIGINT)
                   WHEN m = 1 THEN CAST(n8 AS BIGINT) END AS n_samples,
              t.s AS sum, t.ss AS sumsq, t.pk AS peak, t.clp AS n_clipped,
              CASE WHEN m < 2 THEN CAST(CASE WHEN t.pk = 0 THEN 1 ELSE 0 END
                   AS INTEGER) END AS silent,
              CASE WHEN m < 2
                   THEN ROUND(sqrt(CAST(t.ss AS DOUBLE) / greatest(t.ns, 1)), 6)
              END AS rms,
              CASE WHEN m < 2
                   THEN ROUND(CAST(t.clp AS DOUBLE) / greatest(t.ns, 1), 6)
              END AS clip_rate,
              c.ch_sumsq, c.ch_peak
       FROM d LEFT JOIN tot t ON d.id = t.id
              LEFT JOIN chj c ON d.id = c.id""",

    // the GAUD arm's decoded samples are (signed byte) << 8 of the
    // construction formula; the foreign/text arms LEFT-JOIN to NULL
    // stats with n_bytes 0 (the seam's NULL-propagation contract)
    "q178_audio_decoder_stats" ->
      """WITH d AS (SELECT doc_id AS id, doc_id % 3 AS m,
                  CAST((doc_id % 4 + 1) * 8000 AS INTEGER) AS rate,
                  doc_id % 50 + 5 AS n
           FROM documents),
         sv AS (SELECT id, CASE WHEN id % 11 = 0 THEN 0
                    WHEN (id*31 + k*7919) % 256 >= 128
                      THEN ((id*31 + k*7919) % 256 - 256) * 256
                    ELSE ((id*31 + k*7919) % 256) * 256 END AS v
                FROM d CROSS JOIN range(0, 55) r(k)
                WHERE m = 0 AND k < n),
         tot AS (SELECT id, CAST(SUM(v) AS BIGINT) AS s,
                   CAST(SUM(v*v) AS BIGINT) AS ss,
                   CAST(MAX(ABS(v)) AS INTEGER) AS pk,
                   CAST(SUM(CASE WHEN v >= 32767 OR v <= -32768
                            THEN 1 ELSE 0 END) AS BIGINT) AS clp,
                   COUNT(*) AS ns
                 FROM sv GROUP BY id)
       SELECT d.id AS media_id,
              CASE WHEN m = 0 THEN CAST(44 + 2*n AS BIGINT)
                   ELSE CAST(0 AS BIGINT) END AS n_bytes,
              CASE WHEN m = 0 THEN 'wav' END AS format,
              CASE WHEN m = 0 THEN CAST(1 AS INTEGER) END AS channels,
              CASE WHEN m = 0 THEN rate END AS sample_rate,
              CASE WHEN m = 0 THEN CAST(16 AS INTEGER) END AS bit_depth,
              CASE WHEN m = 0 THEN CAST(n AS BIGINT) END AS n_frames,
              CASE WHEN m = 0 THEN CAST(n AS BIGINT) END AS n_samples,
              t.s AS sum, t.ss AS sumsq, t.pk AS peak, t.clp AS n_clipped,
              CASE WHEN m = 0 THEN CAST(CASE WHEN t.pk = 0 THEN 1 ELSE 0 END
                   AS INTEGER) END AS silent,
              CASE WHEN m = 0
                   THEN ROUND(sqrt(CAST(t.ss AS DOUBLE) / greatest(t.ns, 1)), 6)
              END AS rms,
              CASE WHEN m = 0
                   THEN ROUND(CAST(t.clp AS DOUBLE) / greatest(t.ns, 1), 6)
              END AS clip_rate,
              CASE WHEN m = 0 THEN CAST(t.ss AS VARCHAR) END AS ch_sumsq,
              CASE WHEN m = 0 THEN CAST(t.pk AS VARCHAR) END AS ch_peak
       FROM d LEFT JOIN tot t ON d.id = t.id""",

    // one row per archive: only the application/pdf response survives
    // the route; its text replays the q176-style construction
    "q180_crawl_documents" ->
      """SELECT doc_id AS file_id,
              'http://example.com/doc/' || doc_id AS url,
              CAST(200 AS INTEGER) AS http_status,
              'application/pdf' AS content_type,
              substr('Doc '
                || substr(regexp_replace(regexp_replace(regexp_replace(
                     COALESCE(text, ''),
                     '[^ -~]', ' ', 'g'), '[()\\]', ' ', 'g'),
                     'stream|endobj|beginbf', ' ', 'g'), 1, 80)
                || chr(10) || 'page ' || doc_id || chr(10),
              1, 160) AS pdf_text
       FROM documents""",

    // silence MP3s: geometry replays from the header tables (bitrate,
    // rate, padding) — every stat is the exact-zero constant; foreign
    // and text arms keep NULL stats rows
    "q184_mp3_decoder_stats" ->
      """WITH d AS (SELECT doc_id AS id, doc_id % 3 AS m,
                  doc_id % 4 + 2 AS nf,
                  CASE (doc_id % 9) // 3 WHEN 0 THEN 44100
                       WHEN 1 THEN 48000 ELSE 32000 END AS rate
           FROM documents)
       SELECT id AS media_id,
              CASE WHEN m = 0 THEN CAST(44 + 2304*nf AS BIGINT)
                   ELSE CAST(0 AS BIGINT) END AS n_bytes,
              CASE WHEN m = 0 THEN 'wav' END AS format,
              CASE WHEN m = 0 THEN CAST(1 AS INTEGER) END AS channels,
              CASE WHEN m = 0 THEN CAST(rate AS INTEGER) END AS sample_rate,
              CASE WHEN m = 0 THEN CAST(16 AS INTEGER) END AS bit_depth,
              CASE WHEN m = 0 THEN CAST(1152*nf AS BIGINT) END AS n_frames,
              CASE WHEN m = 0 THEN CAST(1152*nf AS BIGINT) END AS n_samples,
              CASE WHEN m = 0 THEN CAST(0 AS BIGINT) END AS sum,
              CASE WHEN m = 0 THEN CAST(0 AS BIGINT) END AS sumsq,
              CASE WHEN m = 0 THEN CAST(0 AS INTEGER) END AS peak,
              CASE WHEN m = 0 THEN CAST(0 AS BIGINT) END AS n_clipped,
              CASE WHEN m = 0 THEN CAST(1 AS INTEGER) END AS silent,
              CASE WHEN m = 0 THEN CAST(0.0 AS DOUBLE) END AS rms,
              CASE WHEN m = 0 THEN CAST(0.0 AS DOUBLE) END AS clip_rate,
              CASE WHEN m = 0 THEN '0' END AS ch_sumsq,
              CASE WHEN m = 0 THEN '0' END AS ch_peak
       FROM d""",

    // both arms' ehash = the loud-pattern's gradient bits (exact
    // integers — see the query comment); fingerprints, banding,
    // bucket rule and Hamming verify all replay, q168's shape
    "q185_mp3_crosscodec_neardup" ->
      """WITH d AS (SELECT doc_id AS g FROM documents),
         lw AS (SELECT g, w FROM d CROSS JOIN range(0, 64) r(w)
                WHERE w % 2 = 0 AND (
                  ((((g*64 + w)*(g*64 + w)) % 1000003) * 48271 >> 8) % 2 = 1
                  OR w = (g % 32) * 2)),
         ehg AS (SELECT g,
                   CAST(SUM(CASE WHEN w >= 2
                        THEN (CAST(1 AS BIGINT) << CAST(w - 1 AS INTEGER))
                        ELSE 0 END) AS BIGINT) AS h
                 FROM lw GROUP BY g),
         eh AS (SELECT g*2 AS id, h FROM ehg
                UNION ALL SELECT g*2+1 AS id, h FROM ehg),
         bands AS (SELECT id, band,
                     (h >> CAST(band*16 AS INTEGER)) & 65535 AS key
                   FROM eh CROSS JOIN range(0, 4) rb(band)),
         okb AS (SELECT band, key FROM bands GROUP BY band, key
                 HAVING COUNT(*) BETWEEN 2 AND 4096),
         cand AS (SELECT DISTINCT a.id AS id1, b.id AS id2
                  FROM bands a
                  JOIN okb USING (band, key)
                  JOIN bands b
                    ON a.band = b.band AND a.key = b.key AND a.id < b.id)
       SELECT c.id1, c.id2,
              CAST(bit_count(xor(h1.h, h2.h)) AS INTEGER) AS hamming
       FROM cand c
       JOIN eh h1 ON h1.id = c.id1
       JOIN eh h2 ON h2.id = c.id2
       WHERE bit_count(xor(h1.h, h2.h)) <= 6""",

    // both byte orders and the bare-TIFF arm carry id%8+1; the
    // JFIF-only arm has no Exif → NULL
    "q182_exif_orientation" ->
      """SELECT doc_id AS media_id,
              CASE WHEN doc_id % 4 < 3
                   THEN CAST(doc_id % 8 + 1 AS INTEGER) END AS orientation
       FROM documents""",

    // each block's flat value is 128 + 2·(cumulative category-4 DC
    // diff); stats replicate ×3 channels × 64 pixels per block
    "q179_jpeg_decode" ->
      """WITH d AS (SELECT doc_id AS id,
                  CAST(doc_id % 3 + 1 AS INTEGER) AS bw,
                  CAST(doc_id % 2 + 1 AS INTEGER) AS bh
           FROM documents),
         blk AS (SELECT id, bw, bh, k,
                   CASE WHEN k % 2 = 0 THEN 8 + (id*7 + k*3) % 8
                        ELSE (id*5 + k) % 8 - 15 END AS diff
                 FROM d CROSS JOIN range(0, 6) r(k)
                 WHERE k < bw * bh),
         dcv AS (SELECT id, k,
                   128 + 2 * SUM(diff) OVER (PARTITION BY id ORDER BY k)
                     AS p
                 FROM blk),
         agg AS (SELECT id,
                   CAST(192 * SUM(p) AS BIGINT) AS s,
                   CAST(192 * SUM(p*p) AS BIGINT) AS ss,
                   CAST(MIN(p) AS INTEGER) AS mn,
                   CAST(MAX(p) AS INTEGER) AS mx
                 FROM dcv GROUP BY id)
       SELECT d.id AS media_id, 'jpeg' AS format,
              CAST(bw * 8 AS INTEGER) AS width,
              CAST(bh * 8 AS INTEGER) AS height,
              CAST(3 AS INTEGER) AS channels,
              CAST(bw * bh * 64 AS BIGINT) AS n_pixels,
              a.s AS sum, a.ss AS sumsq, a.mn AS pmin, a.mx AS pmax,
              CAST(CASE WHEN a.mn = a.mx THEN 1 ELSE 0 END AS INTEGER)
                AS constant
       FROM d JOIN agg a ON d.id = a.id""",

    // four flat channels per block (128 + 2·cumsum per channel), the
    // optional YCCK BT.601 inversion, then the documented
    // Adobe-inverted RGB step ⌊(inv·invK+127)/255⌋ — all exact
    // integer arithmetic (>> is arithmetic shift in both engines)
    "q186_jpeg_cmyk_decode" ->
      """WITH d AS (SELECT doc_id AS id, CAST(doc_id % 3 + 1 AS INTEGER) AS bw,
                  (doc_id % 2) * 2 AS tf FROM documents),
         blk AS (SELECT id, bw, tf, k, c,
                   CASE WHEN k % 2 = 0 THEN 8 + (id*7 + c*19 + k*3) % 8
                        ELSE (id*5 + c*11 + k) % 8 - 15 END AS diff
                 FROM d CROSS JOIN range(0, 3) r(k)
                        CROSS JOIN range(0, 4) rc(c)
                 WHERE k < bw),
         fl AS (SELECT id, bw, tf, k, c,
                  128 + 2 * SUM(diff) OVER (PARTITION BY id, c ORDER BY k)
                    AS f
                FROM blk),
         pv AS (SELECT id, bw, tf, k,
                  MAX(CASE WHEN c = 0 THEN f END) AS f0,
                  MAX(CASE WHEN c = 1 THEN f END) AS f1,
                  MAX(CASE WHEN c = 2 THEN f END) AS f2,
                  MAX(CASE WHEN c = 3 THEN f END) AS fk
                FROM fl GROUP BY id, bw, tf, k),
         inv AS (SELECT id, bw, k, fk,
                   CASE WHEN tf = 2 THEN least(255, greatest(0,
                     f0 + ((91881*(f2-128) + 32768) >> 16)))
                   ELSE f0 END AS ic,
                   CASE WHEN tf = 2 THEN least(255, greatest(0,
                     f0 - ((22554*(f1-128) + 46802*(f2-128) + 32768) >> 16)))
                   ELSE f1 END AS im,
                   CASE WHEN tf = 2 THEN least(255, greatest(0,
                     f0 + ((116130*(f1-128) + 32768) >> 16)))
                   ELSE f2 END AS iy
                 FROM pv),
         rgb AS (SELECT id, bw, k,
                   (ic*fk + 127) // 255 AS r, (im*fk + 127) // 255 AS g,
                   (iy*fk + 127) // 255 AS b
                 FROM inv),
         agg AS (SELECT id,
                   CAST(64 * SUM(r + g + b) AS BIGINT) AS s,
                   CAST(64 * SUM(r*r + g*g + b*b) AS BIGINT) AS ss,
                   CAST(LEAST(MIN(r), MIN(g), MIN(b)) AS INTEGER) AS mn,
                   CAST(GREATEST(MAX(r), MAX(g), MAX(b)) AS INTEGER) AS mx
                 FROM rgb GROUP BY id)
       SELECT d.id AS media_id, 'jpeg' AS format,
              CAST(bw * 8 AS INTEGER) AS width,
              CAST(8 AS INTEGER) AS height,
              CAST(3 AS INTEGER) AS channels,
              CAST(bw * 64 AS BIGINT) AS n_pixels,
              a.s AS sum, a.ss AS sumsq, a.mn AS pmin, a.mx AS pmax,
              CAST(CASE WHEN a.mn = a.mx THEN 1 ELSE 0 END AS INTEGER)
                AS constant
       FROM d JOIN agg a ON d.id = a.id""",

    // image arm: 2×2 box means of the 3×2 construction (x boxes
    // [0,1) and [1,3), y boxes one row each); junk arm keeps its row
    // with NULL stats and n_bytes 0
    "q55_thumbnails_operator" ->
      """WITH d AS (SELECT doc_id AS id, doc_id % 2 AS m FROM documents),
         mn AS (SELECT de.id, de.x2, de.y2, de.c,
                  CAST(SUM(((((de.id*59 + gx.sx*19 + gy.sy*31 + de.c*11)
                         * (de.id*59 + gx.sx*19 + gy.sy*31 + de.c*11))
                        % 1000003) * 48271 >> 8) % 251)
                    // COUNT(*) AS BIGINT) AS v
                FROM (SELECT id, x2, y2, c FROM d
                      CROSS JOIN range(0, 2) rx(x2)
                      CROSS JOIN range(0, 2) ry(y2)
                      CROSS JOIN range(0, 3) rc(c)
                      WHERE m = 0) de
                CROSS JOIN range(0, 3) gx(sx)
                CROSS JOIN range(0, 2) gy(sy)
                WHERE gx.sx >= de.x2 * 3 // 2
                  AND gx.sx < (de.x2 + 1) * 3 // 2
                  AND gy.sy = de.y2
                GROUP BY de.id, de.x2, de.y2, de.c),
         agg AS (SELECT id, CAST(SUM(v) AS BIGINT) AS s,
                   CAST(MIN(v) AS INTEGER) AS lo,
                   CAST(MAX(v) AS INTEGER) AS hi
                 FROM mn GROUP BY id)
       SELECT d.id AS media_id, 'image' AS kind,
              CASE WHEN m = 0 THEN CAST(23 AS BIGINT)
                   ELSE CAST(0 AS BIGINT) END AS n_bytes,
              a.s AS sum, a.lo AS pmin, a.hi AS pmax
       FROM d LEFT JOIN agg a ON d.id = a.id""",

    // two image rows per archive (the html response drops); each
    // thumbnail is flat 128 + 2·(8 + (id·7 + slot·13) % 8) everywhere
    "q191_crawl_thumbnails" ->
      """WITH d AS (SELECT doc_id AS id, s.slot,
                  128 + 2 * (8 + (doc_id*7 + s.slot*13) % 8) AS p
           FROM documents CROSS JOIN (VALUES (0), (1)) s(slot))
       SELECT id AS file_id,
              'http://example.com/img/' || id || '/' || slot AS url,
              'ppm' AS format,
              CAST(4 AS INTEGER) AS width, CAST(4 AS INTEGER) AS height,
              CAST(16 AS BIGINT) AS n_pixels,
              CAST(48 * p AS BIGINT) AS sum,
              CAST(p AS INTEGER) AS pmin, CAST(p AS INTEGER) AS pmax,
              CAST(1 AS INTEGER) AS constant
       FROM d""",

    // signed source samples t_k, dest frame t2 = TRUNCATING mean
    // (DuckDB's // and Java's / agree) over the box
    // [⌊t2·n/dn⌋, ⌊(t2+1)·n/dn⌋), dn = 3n // 8; stats over means
    "q190_resample_pcm" ->
      """WITH d AS (SELECT doc_id AS id, doc_id % 40 + 16 AS n
           FROM documents),
         src AS (SELECT id, n, k,
                   CASE WHEN (id*29 + k*4099) % 65536 >= 32768
                        THEN (id*29 + k*4099) % 65536 - 65536
                        ELSE (id*29 + k*4099) % 65536 END AS v
                 FROM d CROSS JOIN range(0, 56) r(k) WHERE k < n),
         dn AS (SELECT id, n, 3 * n // 8 AS m FROM d),
         mean AS (SELECT s.id, t.t2,
                    CAST(SUM(s.v) AS BIGINT)
                      // CAST(COUNT(*) AS BIGINT) AS mv
                  FROM dn JOIN range(0, 21) t(t2) ON t.t2 < dn.m
                  JOIN src s ON s.id = dn.id
                    AND s.k >= t.t2 * dn.n // dn.m
                    AND s.k < (t.t2 + 1) * dn.n // dn.m
                  GROUP BY s.id, t.t2),
         agg AS (SELECT id, COUNT(*) AS nf,
                   CAST(SUM(mv) AS BIGINT) AS sm,
                   CAST(SUM(mv*mv) AS BIGINT) AS ssm,
                   CAST(MAX(ABS(mv)) AS INTEGER) AS pk,
                   CAST(SUM(CASE WHEN mv >= 32767 OR mv <= -32768
                            THEN 1 ELSE 0 END) AS BIGINT) AS clp
                 FROM mean GROUP BY id)
       SELECT id AS media_id, 'wav' AS format,
              CAST(1 AS INTEGER) AS channels,
              CAST(3000 AS INTEGER) AS sample_rate,
              CAST(16 AS INTEGER) AS bit_depth,
              CAST(nf AS BIGINT) AS n_frames,
              CAST(nf AS BIGINT) AS n_samples,
              sm AS sum, ssm AS sumsq, pk AS peak, clp AS n_clipped,
              CAST(CASE WHEN pk = 0 THEN 1 ELSE 0 END AS INTEGER) AS silent
       FROM agg""",

    // two codings of one spectrum through the real decoder must
    // produce equal integer stats; geometry is 2 frames × 1152
    "q192_mp3_bigvalues" ->
      """SELECT doc_id,
              CAST(CASE doc_id % 5 WHEN 0 THEN 7 WHEN 1 THEN 8
                   WHEN 2 THEN 9 WHEN 3 THEN 10 ELSE 12 END
                AS INTEGER) AS table_id,
              CAST(2304 AS BIGINT) AS n_samples,
              true AS arms_equal,
              true AS nonsilent
       FROM documents""",

    // sampling_frequency_index table + channel rule (7 -> 7.1 = 8ch)
    // + 1024 samples per raw data block, one block per frame
    "q193_adts_meta" ->
      """SELECT doc_id, 'aac' AS format,
              CAST(CASE WHEN doc_id % 7 + 1 = 7 THEN 8
                   ELSE doc_id % 7 + 1 END AS INTEGER) AS channels,
              CAST(CASE doc_id % 13
                   WHEN 0 THEN 96000 WHEN 1 THEN 88200 WHEN 2 THEN 64000
                   WHEN 3 THEN 48000 WHEN 4 THEN 44100 WHEN 5 THEN 32000
                   WHEN 6 THEN 24000 WHEN 7 THEN 22050 WHEN 8 THEN 16000
                   WHEN 9 THEN 12000 WHEN 10 THEN 11025 WHEN 11 THEN 8000
                   ELSE 7350 END AS INTEGER) AS sample_rate,
              CAST(16 AS INTEGER) AS bit_depth,
              CAST((doc_id % 4 + 1) * 1024 AS BIGINT) AS n_frames
       FROM documents""",

    // VP8L is lossless: every arm's stats replay from the planted
    // formulas (na = even-parity cell count of the checkerboard)
    "q194_webp_pixels" ->
      """WITH d AS (SELECT doc_id AS id, doc_id % 4 + 4 AS w,
                  doc_id % 3 + 3 AS h, doc_id % 5 AS arm
           FROM documents),
         c AS (SELECT id, w, h, arm, w*h AS n,
                  (w*h + (w%2)*(h%2)) // 2 AS na,
                  10 + (id*13) % 200 AS va,
                  (id*37) % 256 AS v0
               FROM d)
       SELECT id AS media_id,
              CASE WHEN id % 11 = 7 THEN NULL ELSE 'webp' END AS format,
              CASE WHEN id % 11 = 7 THEN NULL
                   ELSE CAST(w AS INTEGER) END AS width,
              CASE WHEN id % 11 = 7 THEN NULL
                   ELSE CAST(h AS INTEGER) END AS height,
              CASE WHEN id % 11 = 7 THEN NULL
                   ELSE CAST(n AS BIGINT) END AS n_pixels,
              CASE WHEN id % 11 = 7 THEN NULL ELSE CAST(CASE arm
                   WHEN 0 THEN 3*n*v0
                   WHEN 1 THEN 3*(na*va + (n-na)*(va+40))
                   WHEN 2 THEN 3*(((n+3)//4)*20 + ((n+2)//4)*70 +
                                  ((n+1)//4)*120 + (n//4)*170)
                   WHEN 3 THEN 3*h*(30*w + 10*w*(w-1))
                   ELSE na*270 + (n-na)*450 END AS BIGINT) END AS sum,
              CASE WHEN id % 11 = 7 THEN NULL ELSE CAST(CASE arm
                   WHEN 0 THEN v0 WHEN 1 THEN va WHEN 2 THEN 20
                   WHEN 3 THEN 30 ELSE 40 END AS INTEGER) END AS pmin,
              CASE WHEN id % 11 = 7 THEN NULL ELSE CAST(CASE arm
                   WHEN 0 THEN v0 WHEN 1 THEN va + 40 WHEN 2 THEN 170
                   WHEN 3 THEN 30 + 20*(w-1) ELSE 200 END
                AS INTEGER) END AS pmax,
              CASE WHEN id % 11 = 7 THEN NULL
                   ELSE CAST(CASE arm WHEN 0 THEN 1 ELSE 0 END
                     AS INTEGER) END AS constant
       FROM c""",

    // SPS dims minus crop units (4:2:0 → ×2), no clock in an
    // elementary stream, slice count = frame count
    "q196_h264_meta" ->
      """SELECT doc_id,
              CASE WHEN doc_id % 9 = 5 THEN NULL ELSE 'h264' END AS format,
              CASE WHEN doc_id % 9 = 5 THEN NULL
                   ELSE CAST((doc_id % 3 + 1) * 16 -
                        ((doc_id % 2) + (doc_id % 5) % 2) * 2
                     AS INTEGER) END AS width,
              CASE WHEN doc_id % 9 = 5 THEN NULL
                   ELSE CAST((doc_id % 2 + 1) * 16 - ((doc_id % 7) % 2) * 2
                     AS INTEGER) END AS height,
              CASE WHEN doc_id % 9 = 5 THEN NULL
                   ELSE CAST(0 AS BIGINT) END AS duration_ms,
              CASE WHEN doc_id % 9 = 5 THEN NULL
                   ELSE CAST(0 AS INTEGER) END AS timescale,
              CASE WHEN doc_id % 9 = 5 THEN NULL
                   ELSE CAST(doc_id % 4 + 1 AS INTEGER) END AS n_frames
       FROM documents""",

    // constant-gray I_PCM frames: exact sums, extrema, mean and zero
    // variance per (doc, frame); PPM blob length = 13 + w·h·3 (the
    // "P6\n{w} {h}\n255\n" header at 2-digit dims)
    "q197_h264_ipcm_stats" ->
      """WITH d AS (SELECT doc_id AS id, (doc_id % 2 + 1) * 16 AS w,
                  doc_id % 3 + 1 AS nf
           FROM documents WHERE doc_id % 9 <> 5),
         f AS (SELECT id, w, r.fr, (id*31 + r.fr*47) % 256 AS v
               FROM d JOIN range(0, 3) r(fr) ON r.fr < nf)
       SELECT id AS media_id, CAST(fr AS INTEGER) AS frame_idx,
              CAST(13 + w*16*3 AS BIGINT) AS n_bytes,
              'ppm' AS format, CAST(w AS INTEGER) AS width,
              CAST(16 AS INTEGER) AS height,
              CAST(3 AS INTEGER) AS channels,
              CAST(w*16 AS BIGINT) AS n_pixels,
              CAST(3*w*16*v AS BIGINT) AS sum,
              CAST(3*w*16*v*v AS BIGINT) AS sumsq,
              CAST(v AS INTEGER) AS pmin, CAST(v AS INTEGER) AS pmax,
              CAST(1 AS INTEGER) AS constant,
              CAST(v AS DOUBLE) AS mean,
              CAST(0 AS DOUBLE) AS variance
       FROM f""",

    // FLAC is lossless, so the stats replay from the planted sample
    // formula directly — encode mode/stereo/partitioning sweep on the
    // Spark side CANNOT change them. |v| ≤ 30000 < the int16 rails,
    // so n_clipped/clip_rate are identically 0 by construction.
    "q198_flac_decoder_stats" ->
      """WITH d AS (SELECT doc_id AS g, doc_id % 48 + 80 AS n,
                  doc_id % 2 + 1 AS ch,
                  CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 44100
                       ELSE 12000 END AS rate,
                  doc_id % 7 AS m
           FROM documents),
         sv AS (SELECT g, k, c,
                  ((((g*64 + k*2 + c)*(g*64 + k*2 + c)) % 1000003)
                    * 48271 >> 8) % 60001 - 30000 AS v
                FROM d CROSS JOIN range(0, 128) r(k)
                       CROSS JOIN range(0, 2) rc(c)
                WHERE k < n AND c < ch),
         chagg AS (SELECT g, c, SUM(v*v) AS csq, MAX(ABS(v)) AS cpk
                   FROM sv GROUP BY g, c),
         agg AS (SELECT g, SUM(v) AS sm, SUM(v*v) AS sq,
                        MAX(ABS(v)) AS pk
                 FROM sv GROUP BY g),
         chs AS (SELECT g,
                   string_agg(CAST(csq AS VARCHAR), ',' ORDER BY c)
                     AS ch_sumsq,
                   string_agg(CAST(cpk AS VARCHAR), ',' ORDER BY c)
                     AS ch_peak
                 FROM chagg GROUP BY g)
       SELECT d.g AS media_id,
              CASE WHEN d.m = 3 THEN CAST(0 AS BIGINT)
                   ELSE CAST(44 + 2*d.n*d.ch AS BIGINT) END AS n_bytes,
              CASE WHEN d.m = 3 THEN NULL ELSE 'wav' END AS format,
              CASE WHEN d.m = 3 THEN NULL
                   ELSE CAST(d.ch AS INTEGER) END AS channels,
              CASE WHEN d.m = 3 THEN NULL
                   ELSE CAST(d.rate AS INTEGER) END AS sample_rate,
              CASE WHEN d.m = 3 THEN NULL
                   ELSE CAST(16 AS INTEGER) END AS bit_depth,
              CASE WHEN d.m = 3 THEN NULL
                   ELSE CAST(d.n AS BIGINT) END AS n_frames,
              CASE WHEN d.m = 3 THEN NULL
                   ELSE CAST(d.n*d.ch AS BIGINT) END AS n_samples,
              CASE WHEN d.m = 3 THEN NULL
                   ELSE CAST(a.sm AS BIGINT) END AS sum,
              CASE WHEN d.m = 3 THEN NULL
                   ELSE CAST(a.sq AS BIGINT) END AS sumsq,
              CASE WHEN d.m = 3 THEN NULL
                   ELSE CAST(a.pk AS INTEGER) END AS peak,
              CASE WHEN d.m = 3 THEN NULL
                   ELSE CAST(0 AS BIGINT) END AS n_clipped,
              CASE WHEN d.m = 3 THEN NULL
                   ELSE CASE WHEN a.pk = 0 THEN 1 ELSE 0 END
              END AS silent,
              CASE WHEN d.m = 3 THEN NULL
                   ELSE ROUND(SQRT(CAST(a.sq AS DOUBLE) / (d.n*d.ch)), 6)
              END AS rms,
              CASE WHEN d.m = 3 THEN NULL
                   ELSE CAST(0.0 AS DOUBLE) END AS clip_rate,
              CASE WHEN d.m = 3 THEN NULL ELSE c.ch_sumsq END AS ch_sumsq,
              CASE WHEN d.m = 3 THEN NULL ELSE c.ch_peak END AS ch_peak
       FROM d JOIN agg a ON a.g = d.g JOIN chs c ON c.g = d.g""",

    // both arms decode to IDENTICAL PCM (losslessness), so the shared
    // envelope/banding/bucket/Hamming pipeline replays from the
    // sample formula — q168's SQL shape with the q199 mix
    "q199_flac_crosscodec_neardup" ->
      """WITH d AS (SELECT doc_id AS g, doc_id % 32 + 64 AS n FROM documents),
         sv AS (SELECT g, n, k,
                  ((((g*37 + k)*(g*37 + k)) % 1000003)
                    * 48271 >> 8) % 4001 - 2000 AS v
                FROM d CROSS JOIN range(0, 96) r(k)
                WHERE k < n),
         env AS (SELECT s.g, CAST(w.w AS INTEGER) AS w,
                   CAST(SUM(ABS(s.v)) AS BIGINT) AS e
                 FROM sv s JOIN range(0, 64) w(w)
                   ON s.k >= (w.w * s.n) // 64
                  AND s.k < ((w.w + 1) * s.n) // 64
                 GROUP BY s.g, w.w),
         live AS (SELECT g FROM env GROUP BY g HAVING MAX(e) > 0),
         ehg AS (SELECT a.g,
                   CAST(SUM(CASE WHEN b.e > a.e
                             THEN (CAST(1 AS BIGINT) << a.w) ELSE 0 END)
                        AS BIGINT) AS h
                 FROM env a
                 JOIN live USING (g)
                 JOIN env b ON b.g = a.g AND b.w = a.w + 1
                 GROUP BY a.g),
         eh AS (SELECT g*2 AS id, h FROM ehg
                UNION ALL SELECT g*2+1 AS id, h FROM ehg),
         bands AS (SELECT id, band,
                     (h >> CAST(band*16 AS INTEGER)) & 65535 AS key
                   FROM eh CROSS JOIN range(0, 4) rb(band)),
         okb AS (SELECT band, key FROM bands GROUP BY band, key
                 HAVING COUNT(*) BETWEEN 2 AND 4096),
         cand AS (SELECT DISTINCT a.id AS id1, b.id AS id2
                  FROM bands a
                  JOIN okb USING (band, key)
                  JOIN bands b
                    ON a.band = b.band AND a.key = b.key AND a.id < b.id)
       SELECT c.id1, c.id2,
              CAST(bit_count(xor(h1.h, h2.h)) AS INTEGER) AS hamming
       FROM cand c
       JOIN eh h1 ON h1.id = c.id1
       JOIN eh h2 ON h2.id = c.id2
       WHERE bit_count(xor(h1.h, h2.h)) <= 6""",

    // silence is spec-forced exact zeros; the count arithmetic is
    // the lap geometry: (K−1)·128 all-short, (K−1)·192 alternating
    // short/long (both slopes of the long window exercised)
    "q200_vorbis_decoder_stats" ->
      """WITH d AS (SELECT doc_id AS id, doc_id % 7 AS m,
                  doc_id % 2 + 1 AS ch,
                  CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 44100
                       ELSE 12000 END AS rate,
                  doc_id % 5 + 3 AS k,
                  CASE WHEN (doc_id // 2) % 2 = 0 THEN 192
                       ELSE 128 END AS per
           FROM documents),
         e AS (SELECT *, (k - 1) * per AS ns FROM d)
       SELECT id AS media_id,
              CASE WHEN m = 3 THEN CAST(0 AS BIGINT)
                   ELSE CAST(44 + 2*ns*ch AS BIGINT) END AS n_bytes,
              CASE WHEN m = 3 THEN NULL ELSE 'wav' END AS format,
              CASE WHEN m = 3 THEN NULL
                   ELSE CAST(ch AS INTEGER) END AS channels,
              CASE WHEN m = 3 THEN NULL
                   ELSE CAST(rate AS INTEGER) END AS sample_rate,
              CASE WHEN m = 3 THEN NULL
                   ELSE CAST(16 AS INTEGER) END AS bit_depth,
              CASE WHEN m = 3 THEN NULL
                   ELSE CAST(ns AS BIGINT) END AS n_frames,
              CASE WHEN m = 3 THEN NULL
                   ELSE CAST(ns*ch AS BIGINT) END AS n_samples,
              CASE WHEN m = 3 THEN NULL
                   ELSE CAST(0 AS BIGINT) END AS sum,
              CASE WHEN m = 3 THEN NULL
                   ELSE CAST(0 AS BIGINT) END AS sumsq,
              CASE WHEN m = 3 THEN NULL
                   ELSE CAST(0 AS INTEGER) END AS peak,
              CASE WHEN m = 3 THEN NULL
                   ELSE CAST(0 AS BIGINT) END AS n_clipped,
              CASE WHEN m = 3 THEN NULL
                   ELSE CAST(1 AS INTEGER) END AS silent,
              CASE WHEN m = 3 THEN NULL
                   ELSE CAST(0.0 AS DOUBLE) END AS rms,
              CASE WHEN m = 3 THEN NULL
                   ELSE CAST(0.0 AS DOUBLE) END AS clip_rate,
              CASE WHEN m = 3 THEN NULL
                   WHEN ch = 2 THEN '0,0' ELSE '0' END AS ch_sumsq,
              CASE WHEN m = 3 THEN NULL
                   WHEN ch = 2 THEN '0,0' ELSE '0' END AS ch_peak
       FROM e""",

    // both arms' ehash = the loud-pattern's gradient bits (exact
    // integers — quiet windows are spec-forced zeros and no two loud
    // windows are adjacent); fingerprints, banding, bucket rule and
    // Hamming verify all replay, q185's SQL shape verbatim
    "q201_vorbis_crosscodec_neardup" ->
      """WITH d AS (SELECT doc_id AS g FROM documents),
         lw AS (SELECT g, w FROM d CROSS JOIN range(0, 64) r(w)
                WHERE w % 2 = 0 AND (
                  ((((g*64 + w)*(g*64 + w)) % 1000003) * 48271 >> 8) % 2 = 1
                  OR w = (g % 32) * 2)),
         ehg AS (SELECT g,
                   CAST(SUM(CASE WHEN w >= 2
                        THEN (CAST(1 AS BIGINT) << CAST(w - 1 AS INTEGER))
                        ELSE 0 END) AS BIGINT) AS h
                 FROM lw GROUP BY g),
         eh AS (SELECT g*2 AS id, h FROM ehg
                UNION ALL SELECT g*2+1 AS id, h FROM ehg),
         bands AS (SELECT id, band,
                     (h >> CAST(band*16 AS INTEGER)) & 65535 AS key
                   FROM eh CROSS JOIN range(0, 4) rb(band)),
         okb AS (SELECT band, key FROM bands GROUP BY band, key
                 HAVING COUNT(*) BETWEEN 2 AND 4096),
         cand AS (SELECT DISTINCT a.id AS id1, b.id AS id2
                  FROM bands a
                  JOIN okb USING (band, key)
                  JOIN bands b
                    ON a.band = b.band AND a.key = b.key AND a.id < b.id)
       SELECT c.id1, c.id2,
              CAST(bit_count(xor(h1.h, h2.h)) AS INTEGER) AS hamming
       FROM cand c
       JOIN eh h1 ON h1.id = c.id1
       JOIN eh h2 ON h2.id = c.id2
       WHERE bit_count(xor(h1.h, h2.h)) <= 6""",

    // the gzip + tar + TeX layers are transparent: one prose row per
    // bundle (the figure member triages out in-plan)
    "q235_arxiv_bundles" ->
      """WITH d AS (SELECT doc_id AS id,
              substr(regexp_replace(lower(COALESCE(text, '')),
                '[^a-z0-9 ]', ' ', 'g'), 1, 40) AS safe
           FROM documents)
       SELECT CAST(id AS BIGINT) AS file_id,
              'paper' || id || '/main.tex' AS path,
              substr(trim(regexp_replace(
                'Intro ' || (id % 7) || ' We note that always: ' ||
                safe || ' end ' || id || '.',
                '\s+', ' ', 'g')), 1, 160) AS tex_text
       FROM d""",

    // the LZW + tar layers are transparent: two documents per
    // archive, both CLEAR-bearing and clean streams replayed the same
    "q234_tar_z_documents" ->
      """WITH d AS (SELECT doc_id AS id,
              substr(regexp_replace(lower(COALESCE(text, '')),
                '[^a-z0-9 ]', ' ', 'g'), 1, 40) AS safe
           FROM documents),
         f AS (SELECT id, 'old/a.rtf' AS path,
                      safe || ' rtf ' || id AS raw FROM d
               UNION ALL SELECT id, 'old/b.rtf',
                      'second ' || id FROM d)
       SELECT CAST(id AS BIGINT) AS file_id, path,
              substr(trim(regexp_replace(raw, '\s+', ' ', 'g')),
                1, 120) AS doc_text
       FROM f""",

    // the ar + gzip + tar layers are transparent: two payload
    // documents per package, paths and decoded forms replayed
    "q232_deb_documents" ->
      """WITH d AS (SELECT doc_id AS id,
              substr(regexp_replace(lower(COALESCE(text, '')),
                '[^a-z0-9 ]', ' ', 'g'), 1, 40) AS safe
           FROM documents),
         f AS (SELECT id, './usr/share/doc/readme.rtf' AS path,
                      safe || ' rtf ' || id AS raw FROM d
               UNION ALL SELECT id, './usr/share/doc/spec.pdf',
                      'p ' || safe || ' ' || id FROM d)
       SELECT CAST(id AS BIGINT) AS file_id, path,
              substr(trim(regexp_replace(raw, '\s+', ' ', 'g')),
                1, 120) AS doc_text
       FROM f""",

    // the cpio (and gzip) layers are transparent: two documents per
    // shard; the crc-form arm proves the byte-sum verification
    // passes on well-formed archives
    "q233_cpio_documents" ->
      """WITH d AS (SELECT doc_id AS id,
              substr(regexp_replace(lower(COALESCE(text, '')),
                '[^a-z0-9 ]', ' ', 'g'), 1, 40) AS safe
           FROM documents),
         f AS (SELECT id, 'docs/a.rtf' AS path,
                      safe || ' rtf ' || id AS raw FROM d
               UNION ALL SELECT id, 'docs/b.docx',
                      'd ' || safe || ' ' || id FROM d)
       SELECT CAST(id AS BIGINT) AS file_id, path,
              substr(trim(regexp_replace(raw, '\s+', ' ', 'g')),
                1, 120) AS doc_text
       FROM f""",

    // the content-line layer is transparent: the oracle replays the
    // extraction conventions (whitelist order, blank separators)
    "q231_contact_calendar" ->
      """WITH d AS (SELECT doc_id AS id,
              substr(regexp_replace(lower(COALESCE(text, '')),
                '[^a-z0-9 ]', ' ', 'g'), 1, 40) AS safe
           FROM documents)
       SELECT CAST(id AS BIGINT) AS file_id,
         substr(CASE CAST(id % 3 AS INTEGER)
           WHEN 0 THEN 'user ' || id || chr(10) || 'o ' || safe ||
             ' e' || chr(10) || 'u' || id || '@example.org' || chr(10)
           WHEN 1 THEN 'first ' || id || chr(10) || chr(10) ||
             'second ' || (id % 7) || chr(10) || 'n ' || safe || ' e' ||
             chr(10)
           ELSE 'ev ' || (id % 7) || chr(10) || 'd ' || safe || ' e' ||
             chr(10) || 'room ' || (id % 5) || chr(10)
         END, 1, 200) AS card_text
       FROM d""",

    // both snappy wire shapes are transparent: the oracle replays
    // the shard lines relationally
    "q230_jsonl_snappy_text" ->
      """WITH d AS (SELECT doc_id AS id, doc_id % 3 + 1 AS k
           FROM documents),
         f AS (SELECT id, r.j AS rec,
                 'w' || ((id + r.j) % 97) || ' sz end' AS text
               FROM d CROSS JOIN range(0, 3) r(j) WHERE r.j < k)
       SELECT CAST(id AS BIGINT) AS file_id, CAST(rec AS BIGINT) AS rec,
              text
       FROM f""",

    // the three lz4 wire shapes are transparent: the oracle replays
    // the shard lines relationally
    "q229_jsonl_lz4_text" ->
      """WITH d AS (SELECT doc_id AS id, doc_id % 3 + 1 AS k
           FROM documents),
         f AS (SELECT id, r.j AS rec,
                 'w' || ((id + r.j) % 97) || ' lz4 end' AS text
               FROM d CROSS JOIN range(0, 3) r(j) WHERE r.j < k)
       SELECT CAST(id AS BIGINT) AS file_id, CAST(rec AS BIGINT) AS rec,
              text
       FROM f""",

    // the mail, base64, tnef-attribute and MAPI layers are all
    // transparent (and the two tnef encodings must agree): the oracle
    // replays the encapsulated text and both documents' decoded forms
    "q228_tnef_mail" ->
      """WITH d AS (SELECT doc_id AS id,
              substr(regexp_replace(lower(COALESCE(text, '')),
                '[^a-z0-9 ]', ' ', 'g'), 1, 40) AS safe
           FROM documents),
         m AS (SELECT id, safe,
              substr('Subject: tnef ' || (id % 7) || chr(10) || chr(10) ||
                'inner note ' || safe || ' ' || id || chr(10),
                1, 160) AS tnef_text
           FROM d),
         f AS (SELECT id, 'report.pdf' AS name,
                      'application/pdf' AS mime, 0 AS kind FROM d
               UNION ALL SELECT id, 'readme.rtf',
                      'application/rtf', 1 FROM d)
       SELECT CAST(f.id AS BIGINT) AS file_id, m.tnef_text, f.name, f.mime,
              substr(trim(regexp_replace(
                CASE f.kind WHEN 0 THEN 'p ' || m.safe || ' ' || f.id
                  ELSE m.safe || ' rtf ' || f.id END,
                '\s+', ' ', 'g')), 1, 120) AS att_text
       FROM f JOIN m ON f.id = m.id""",

    // the compound-file, property-stream, and embedded-message layers
    // are transparent: the oracle replays the message text (outer
    // then embedded subject/body) and both attachments' decoded forms
    "q227_msg_corpus" ->
      """WITH d AS (SELECT doc_id AS id,
              substr(regexp_replace(lower(COALESCE(text, '')),
                '[^a-z0-9 ]', ' ', 'g'), 1, 40) AS safe
           FROM documents),
         m AS (SELECT id, safe,
              substr('Subject: msg ' || (id % 7) || chr(10) || chr(10) ||
                'note ' || safe || ' end ' || id || chr(10) ||
                'Subject: fwd ' || (id % 5) || chr(10) || chr(10) ||
                'inner ' || id || chr(10), 1, 160) AS msg_text
           FROM d),
         f AS (SELECT id, 'report.pdf' AS name,
                      'application/pdf' AS mime, 'p' AS kind FROM d
               UNION ALL SELECT id, 'deep.docx',
                      'application/vnd.openxmlformats-officedocument' ||
                      '.wordprocessingml.document', 'd' FROM d)
       SELECT CAST(f.id AS BIGINT) AS file_id, m.msg_text, f.name, f.mime,
              substr(trim(regexp_replace(
                f.kind || ' ' || m.safe || ' ' || f.id,
                '\s+', ' ', 'g')), 1, 120) AS att_text
       FROM f JOIN m ON f.id = m.id""",

    // the counted mboxcl split is transparent: the oracle replays
    // both messages' decoded forms, hostile From line included
    "q226_mboxcl_corpus" ->
      """WITH d AS (SELECT doc_id AS id FROM documents)
       SELECT CAST(id AS BIGINT) AS file_id, 0 AS pos,
              substr('Subject: cl ' || id || chr(10) || chr(10) ||
                'quote follows' || chr(10) || chr(10) ||
                'From the archive of ' || id || chr(10) ||
                'end quote' || chr(10), 1, 160) AS mail_text
       FROM d
       UNION ALL
       SELECT CAST(id AS BIGINT) AS file_id, 1 AS pos,
              substr('Subject: plain ' || (id % 7) || chr(10) ||
                chr(10) || 'closing body ' || id || chr(10),
                1, 160) AS mail_text
       FROM d""",

    // the MIME attachment and uuencode layers are transparent: three
    // extracted documents per message, names and texts replayed
    "q225_mail_attachments" ->
      """WITH d AS (SELECT doc_id AS id,
              substr(regexp_replace(lower(COALESCE(text, '')),
                '[^a-z0-9 ]', ' ', 'g'), 1, 40) AS safe
           FROM documents),
         f AS (SELECT id, 'note.rtf' AS name,
                      'application/octet-stream' AS mime, 'rtf' AS kind
               FROM d
               UNION ALL SELECT id, 'report.pdf', 'application/pdf',
                      'pdf' FROM d
               UNION ALL SELECT id, 'memo.docx',
                      'application/vnd.openxmlformats-officedocument' ||
                      '.wordprocessingml.document', 'docx' FROM d)
       SELECT CAST(f.id AS BIGINT) AS file_id, f.name, f.mime,
              substr(trim(regexp_replace(
                d.safe || ' ' || f.kind || ' ' || f.id,
                '\s+', ' ', 'g')), 1, 120) AS doc_text
       FROM f JOIN d ON f.id = d.id""",

    // the 2047/QP/base64/multipart layers are all transparent: the
    // oracle replays the decoded text forms
    "q224_mail_corpus" ->
      """WITH d AS (SELECT doc_id AS id,
              'm ' || substr(regexp_replace(lower(COALESCE(text, '')),
                '[^a-z0-9 ]', ' ', 'g'), 1, 40) AS safe
           FROM documents)
       SELECT CAST(id AS BIGINT) AS file_id, 0 AS pos,
              substr('Subject: re ' || safe || chr(10) || chr(10) ||
                'body ' || chr(233) || ' ' || id || ' ok' || chr(10),
                1, 160) AS mail_text
       FROM d
       UNION ALL
       SELECT CAST(id AS BIGINT) AS file_id, 1 AS pos,
              substr('Subject: thread ' || (id % 7) || chr(10) ||
                chr(10) || 'plain part ' || id || chr(10),
                1, 160) AS mail_text
       FROM d""",

    // WARC + HTTP + PDF layers are all transparent; two rows per
    // crawl file, kind decided by the document dispatch
    "q223_warc_documents" ->
      """WITH d AS (SELECT doc_id AS id,
              substr(regexp_replace(lower(COALESCE(text, '')),
                '[^a-z0-9 ]', ' ', 'g'), 1, 40) AS safe
           FROM documents)
       SELECT CAST(id AS BIGINT) AS file_id,
              'http://example.com/page/' || id AS uri,
              'page' AS kind,
              '<p>crawl page ' || id || '</p>' AS text
       FROM d
       UNION ALL
       SELECT CAST(id AS BIGINT) AS file_id,
              'http://example.com/doc/' || id AS uri,
              'document' AS kind,
              substr(trim(regexp_replace(safe || ' pdf ' || id,
                '\s+', ' ', 'g')), 1, 120) AS text
       FROM d""",

    // the BCJ2 folder and the extraction layer are both transparent:
    // two document rows per archive (the binary member triages NULL
    // and is filtered in-plan)
    "q222_bcj2_archive" ->
      """WITH d AS (SELECT doc_id AS id,
              substr(regexp_replace(lower(COALESCE(text, '')),
                '[^a-z0-9 ]', ' ', 'g'), 1, 40) AS safe
           FROM documents),
         f AS (SELECT id, 'docs/a.pdf' AS path, 'pdf' AS kind FROM d
               UNION ALL SELECT id, 'docs/c.rtf', 'rtf' FROM d)
       SELECT CAST(f.id AS BIGINT) AS file_id, f.path,
              substr(trim(regexp_replace(
                d.safe || ' ' || f.kind || ' ' || f.id,
                '\s+', ' ', 'g')), 1, 120) AS doc_text
       FROM f JOIN d ON f.id = d.id""",

    // the ODF containers are transparent: the oracle replays the
    // paragraph (odt/odp) and row/tab (ods) conventions
    "q221_odf_documents" ->
      """WITH d AS (SELECT doc_id,
              'body ' || substr(regexp_replace(lower(COALESCE(text, '')),
                '[^a-z0-9 ]', ' ', 'g'), 1, 60) AS safe
           FROM documents)
       SELECT doc_id,
         substr(CASE CAST(doc_id % 3 AS INTEGER)
           WHEN 0 THEN safe || chr(10) || 'page ' || doc_id || chr(10)
           WHEN 1 THEN safe || chr(9) || 'r' || (doc_id % 89) || chr(10)
             || 'total' || chr(9) || (doc_id % 13) || chr(10)
           ELSE safe || chr(10) || 'closing ' || doc_id || chr(10)
         END, 1, 200) AS odf_text
       FROM d""",

    // each legacy arm's container is transparent: the oracle replays
    // the row/tab (.xls) and paragraph (.ppt) text conventions
    "q220_legacy_office" ->
      """WITH d AS (SELECT doc_id,
              'body ' || substr(regexp_replace(lower(COALESCE(text, '')),
                '[^a-z0-9 ]', ' ', 'g'), 1, 60) AS safe
           FROM documents)
       SELECT doc_id,
         substr(CASE CAST(doc_id % 5 AS INTEGER)
           WHEN 0 THEN safe || chr(9) || (doc_id % 89) || chr(10) ||
             'total' || chr(9) || (doc_id % 13) || '.5' || chr(10)
           WHEN 1 THEN safe || chr(10) || 'slide ' || doc_id || chr(10)
           WHEN 2 THEN safe || chr(10) || 'unicode é中 tail' || chr(9) ||
             (doc_id % 7) || chr(10)
           WHEN 3 THEN safe || chr(9) || (doc_id % 89) || chr(10) ||
             'total' || chr(9) || 'f' || (doc_id % 7) || chr(10)
           ELSE safe || chr(10) || 'slide ' || doc_id || chr(10)
         END, 1, 200) AS office_text
       FROM d""",

    // three rows per shard, one per member format; the zstd + tar +
    // extraction layers are all transparent to the oracle
    "q219_archived_documents" ->
      """WITH d AS (SELECT doc_id AS id,
              substr(regexp_replace(lower(COALESCE(text, '')),
                '[^a-z0-9 ]', ' ', 'g'), 1, 40) AS safe
           FROM documents),
         f AS (SELECT id, 'docs/a.pdf' AS path, 'pdf' AS kind FROM d
               UNION ALL SELECT id, 'docs/b.docx', 'docx' FROM d
               UNION ALL SELECT id, 'docs/c.rtf', 'rtf' FROM d)
       SELECT CAST(f.id AS BIGINT) AS file_id, f.path,
              substr(trim(regexp_replace(
                d.safe || ' ' || f.kind || ' ' || f.id,
                '\s+', ' ', 'g')), 1, 120) AS doc_text
       FROM f JOIN d ON f.id = d.id""",

    // after whitespace collapse all five formats replay as one form
    "q218_documents_mixed" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id,
            substr(trim(regexp_replace(
              substr(regexp_replace(lower(COALESCE(text, '')),
                '[^a-z0-9 ]', ' ', 'g'), 1, 80)
              || ' page ' || doc_id, '\s+', ' ', 'g')), 1, 160)
              AS doc_text
       FROM documents""",

    // all six wire forms replay as the same plaintext
    "q217_http_transport" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id,
              CAST(200 AS INTEGER) AS status, 'utf-8' AS charset,
              '<p>transport t' || (doc_id % 83) || ' body ' || doc_id
                || '</p>' AS text
       FROM documents""",

    // the five wrappers are all transparent to the oracle
    "q216_shards_mixed" ->
      """WITH d AS (SELECT doc_id AS id, doc_id % 3 + 1 AS k
           FROM documents),
         f AS (SELECT id, r.j AS rec,
                 's' || ((id * 7 + r.j) % 89) || ' end' AS text
               FROM d CROSS JOIN range(0, 3) r(j) WHERE r.j < k)
       SELECT CAST(id AS BIGINT) AS file_id, CAST(rec AS BIGINT) AS rec,
              text
       FROM f""",

    // both pieces replay relationally; \r becomes \n
    "q215_doc_text" ->
      """SELECT doc_id,
            substr(
              substr(regexp_replace(COALESCE(text, ''),
                  '[^ -~]', ' ', 'g'), 1, 80)
              || chr(10) || 'unicode tail ' || chr(233) || chr(20013)
              || ' ' || doc_id || chr(10),
            1, 200) AS doc_text
       FROM documents""",

    // the encryption layer is transparent: the oracle replays the
    // plaintext construction (q176's sanitization discipline)
    "q214_pdf_encrypted" ->
      """SELECT doc_id,
            substr(
              substr(regexp_replace(regexp_replace(regexp_replace(
                  COALESCE(text, ''),
                  '[^ -~]', ' ', 'g'), '[()\\]', ' ', 'g'),
                  'stream|endobj|beginbf', ' ', 'g'), 1, 80)
              || chr(10) || 'page ' || doc_id || chr(10)
              || 'cipher arm ' || (doc_id % 4) || ' ok' || chr(10),
            1, 200) AS pdf_text
       FROM documents""",

    // the zstd layer is transparent to the oracle (decode → same tar)
    "q211_tar_zst_documents" ->
      """WITH d AS (SELECT doc_id AS id, doc_id % 4 + 2 AS k
           FROM documents),
         f AS (SELECT id, 'src/f' || r.j || '.txt' AS path,
                 'c' || id || '_' || r.j AS text
               FROM d CROSS JOIN range(0, 6) r(j) WHERE r.j < k)
       SELECT CAST(id AS BIGINT) AS file_id, path,
              CAST(length(text) AS BIGINT) AS size, text
       FROM f""",

    // K regular files + the empty file; the directory never appears;
    // the 7z layer (either coder, either header form) is transparent
    "q213_7z_documents" ->
      """WITH d AS (SELECT doc_id AS id, doc_id % 4 + 2 AS k
           FROM documents),
         f AS (SELECT id, 'src/f' || r.j || '.txt' AS path,
                 'c' || id || '_' || r.j AS text
               FROM d CROSS JOIN range(0, 6) r(j) WHERE r.j < k
               UNION ALL
               SELECT id, 'docs/empty.md', '' FROM d)
       SELECT CAST(id AS BIGINT) AS file_id, path,
              CAST(length(text) AS BIGINT) AS size, text
       FROM f""",

    // the jsonl lines replay relationally: one row per (shard, rec)
    "q212_jsonl_zst_text" ->
      """WITH d AS (SELECT doc_id AS id, doc_id % 3 + 1 AS k
           FROM documents),
         f AS (SELECT id, r.j AS rec,
                 'w' || ((id + r.j) % 97) || ' end' AS text
               FROM d CROSS JOIN range(0, 3) r(j) WHERE r.j < k)
       SELECT CAST(id AS BIGINT) AS file_id, CAST(rec AS BIGINT) AS rec,
              text
       FROM f""",

    // the xz layer is transparent to the oracle (decode → same tar)
    "q210_tar_xz_documents" ->
      """WITH d AS (SELECT doc_id AS id, doc_id % 4 + 2 AS k
           FROM documents),
         f AS (SELECT id, 'src/f' || r.j || '.txt' AS path,
                 'c' || id || '_' || r.j AS text
               FROM d CROSS JOIN range(0, 6) r(j) WHERE r.j < k)
       SELECT CAST(id AS BIGINT) AS file_id, path,
              CAST(length(text) AS BIGINT) AS size, text
       FROM f""",

    // same shape as q206 minus the long-name/directory arms; the
    // bz2 layer is transparent to the oracle (decode → same tar)
    "q208_tar_bz2_documents" ->
      """WITH d AS (SELECT doc_id AS id, doc_id % 4 + 2 AS k
           FROM documents),
         f AS (SELECT id, 'src/f' || r.j || '.txt' AS path,
                 'c' || id || '_' || r.j AS text
               FROM d CROSS JOIN range(0, 6) r(j) WHERE r.j < k)
       SELECT CAST(id AS BIGINT) AS file_id, path,
              CAST(length(text) AS BIGINT) AS size, text
       FROM f""",

    // the dump text replays relationally through repeat()
    "q209_bz2_text" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id,
              '<page><title>P' || doc_id || '</title><text>' ||
                repeat('w' || (doc_id % 97) || ' ', doc_id % 5 + 1) ||
                '</text></page>' AS text,
              CAST(length('<page><title>P' || doc_id ||
                '</title><text>' ||
                repeat('w' || (doc_id % 97) || ' ', doc_id % 5 + 1) ||
                '</text></page>') AS INTEGER) AS n_chars
       FROM documents""",

    // K regular files; the directory entry never appears
    "q207_zip_documents" ->
      """WITH d AS (SELECT doc_id AS id, doc_id % 4 + 2 AS k
           FROM documents),
         f AS (SELECT id, 'src/f' || r.j || '.txt' AS path,
                 'c' || id || '_' || r.j AS text
               FROM d CROSS JOIN range(0, 6) r(j) WHERE r.j < k)
       SELECT CAST(id AS BIGINT) AS file_id, path,
              CAST(length(text) AS BIGINT) AS size, text
       FROM f""",

    // K regular files + the long-name file; the directory row never
    // appears; gzip arm is byte-identical after inflate
    "q206_tar_documents" ->
      """WITH d AS (SELECT doc_id AS id, doc_id % 4 + 2 AS k
           FROM documents),
         f AS (SELECT id, 'src/f' || r.j || '.txt' AS path,
                 'c' || id || '_' || r.j AS text
               FROM d CROSS JOIN range(0, 6) r(j) WHERE r.j < k
               UNION ALL
               SELECT id, 'long/' || repeat('p', 120) || id,
                 'L' || id
               FROM d)
       SELECT CAST(id AS BIGINT) AS file_id, path,
              CAST(length(text) AS BIGINT) AS size, text
       FROM f""",

    // MP4 well-known items map to canonical names; AVI keeps raw
    // INFO ids (the two systems' native conventions)
    "q205_video_tags" ->
      """WITH d AS (SELECT doc_id AS id, doc_id % 2 AS m,
                  'T' || doc_id AS title, 'A' || (doc_id % 7) AS artist
           FROM documents),
         r AS (
           SELECT id, 'title' AS k, title AS v FROM d WHERE m = 0
           UNION ALL SELECT id, 'artist', artist FROM d WHERE m = 0
           UNION ALL SELECT id, 'INAM', title FROM d WHERE m = 1
           UNION ALL SELECT id, 'IART', artist FROM d WHERE m = 1)
       SELECT CAST(id AS BIGINT) AS media_id, k AS tag_key,
              v AS tag_value
       FROM r""",

    // PNG keys are chunk keywords, JPEG/WEBP Exif keys the canonical
    // names, comments under 'comment'
    "q204_image_tags" ->
      """WITH d AS (SELECT doc_id AS id, doc_id % 4 AS m,
                  'M' || (doc_id % 7) AS mk, 'X' || doc_id AS md,
                  'C' || (doc_id % 5) AS cm
           FROM documents),
         r AS (
           SELECT id, 'Title' AS k, md AS v FROM d WHERE m = 0
           UNION ALL SELECT id, 'Author', mk FROM d WHERE m = 0
           UNION ALL SELECT id, 'make', mk FROM d WHERE m = 1
           UNION ALL SELECT id, 'model', md FROM d WHERE m = 1
           UNION ALL SELECT id, 'comment', cm FROM d WHERE m = 1
           UNION ALL SELECT id, 'comment', cm FROM d WHERE m = 2
           UNION ALL SELECT id, 'make', mk FROM d WHERE m = 3
           UNION ALL SELECT id, 'model', md FROM d WHERE m = 3)
       SELECT CAST(id AS BIGINT) AS media_id, k AS tag_key,
              v AS tag_value
       FROM r""",

    // one (key,value) row per tag; keys are raw frame/info ids for
    // ID3/RIFF and lowercased for the vorbis-comment family (the
    // spec's case-insensitive keys in canonical form) + 'vendor'
    "q203_audio_tags" ->
      """WITH d AS (SELECT doc_id AS id, doc_id % 4 AS m,
                  'T' || doc_id AS title, 'A' || (doc_id % 7) AS artist
           FROM documents),
         r AS (
           SELECT id, 'TIT2' AS k, title AS v FROM d WHERE m = 0
           UNION ALL SELECT id, 'TPE1', artist FROM d WHERE m = 0
           UNION ALL SELECT id, 'vendor', 'gv' FROM d WHERE m = 1
           UNION ALL SELECT id, 'title', title FROM d WHERE m = 1
           UNION ALL SELECT id, 'artist', artist FROM d WHERE m = 1
           UNION ALL SELECT id, 'vendor', 'ov' FROM d WHERE m = 2
           UNION ALL SELECT id, 'title', title FROM d WHERE m = 2
           UNION ALL SELECT id, 'artist', artist FROM d WHERE m = 2
           UNION ALL SELECT id, 'INAM', title FROM d WHERE m = 3
           UNION ALL SELECT id, 'IART', artist FROM d WHERE m = 3)
       SELECT CAST(id AS BIGINT) AS media_id, k AS tag_key,
              v AS tag_value
       FROM r""",

    // two audio rows per file (the HTML record drops at the route):
    // the OGG row replays q200's silence geometry, the WAV row the
    // sample formula's loudness stats
    "q202_crawl_audio_stats" ->
      """WITH d AS (SELECT doc_id AS id, doc_id % 2 + 1 AS ch,
                  CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 44100
                       ELSE 12000 END AS rate,
                  doc_id % 5 + 3 AS k,
                  CASE WHEN (doc_id // 2) % 2 = 0 THEN 192
                       ELSE 128 END AS per,
                  doc_id % 40 + 16 AS n
           FROM documents),
         e AS (SELECT *, (k - 1) * per AS ns FROM d),
         sv AS (SELECT id, r.k AS kk,
                  ((((id*64 + r.k*2)*(id*64 + r.k*2)) % 1000003)
                    * 48271 >> 8) % 60001 - 30000 AS v
                FROM e CROSS JOIN range(0, 56) r(k) WHERE r.k < n),
         wagg AS (SELECT id, SUM(v) AS sm, SUM(v*v) AS sq,
                         MAX(ABS(v)) AS pk
                  FROM sv GROUP BY id),
         rows_ AS (
           SELECT id, 'http://example.com/audio/' || id || '/ogg' AS url,
                  ch, rate, ns AS nf, ns*ch AS nsamp,
                  CAST(0 AS BIGINT) AS sm, CAST(0 AS BIGINT) AS sq,
                  0 AS pk, 1 AS silent
           FROM e
           UNION ALL
           SELECT e.id, 'http://example.com/audio/' || e.id || '/wav',
                  1, 8000, e.n, e.n, w.sm, w.sq, w.pk,
                  CASE WHEN w.pk = 0 THEN 1 ELSE 0 END
           FROM e JOIN wagg w ON w.id = e.id)
       SELECT CAST(id AS BIGINT) AS file_id, url, 'wav' AS format,
              CAST(ch AS INTEGER) AS channels,
              CAST(rate AS INTEGER) AS sample_rate,
              CAST(16 AS INTEGER) AS bit_depth,
              CAST(nf AS BIGINT) AS n_frames,
              CAST(nsamp AS BIGINT) AS n_samples,
              CAST(sm AS BIGINT) AS sum, CAST(sq AS BIGINT) AS sumsq,
              CAST(pk AS INTEGER) AS peak,
              CAST(silent AS INTEGER) AS silent
       FROM rows_""",

    // exact 4×4-block box means: the 2×2 thumbnail carries two u and
    // two u+30 cells
    "q195_webp_thumbnail" ->
      """SELECT doc_id AS media_id, 'ppm' AS format,
              CAST(2 AS INTEGER) AS width, CAST(2 AS INTEGER) AS height,
              CAST(4 AS BIGINT) AS n_pixels,
              CAST(12*(20 + (doc_id*19) % 200) + 180 AS BIGINT) AS sum,
              CAST(20 + (doc_id*19) % 200 AS INTEGER) AS pmin,
              CAST(50 + (doc_id*19) % 200 AS INTEGER) AS pmax,
              CAST(0 AS INTEGER) AS constant
       FROM documents""",

    // LSF silence: geometry replays from the version-indexed rate
    // table and the 72·bitrate/rate step; 576 samples per frame
    "q189_mp3_lsf_stats" ->
      """WITH d AS (SELECT doc_id AS id, doc_id % 3 AS m,
                  doc_id % 5 + 2 AS nf,
                  CASE WHEN doc_id % 2 = 0 THEN
                    CASE (doc_id % 9) // 3 WHEN 0 THEN 22050
                         WHEN 1 THEN 24000 ELSE 16000 END
                  ELSE
                    CASE (doc_id % 9) // 3 WHEN 0 THEN 11025
                         WHEN 1 THEN 12000 ELSE 8000 END
                  END AS rate
           FROM documents)
       SELECT id AS media_id,
              CASE WHEN m = 0 THEN CAST(44 + 1152*nf AS BIGINT)
                   ELSE CAST(0 AS BIGINT) END AS n_bytes,
              CASE WHEN m = 0 THEN 'wav' END AS format,
              CASE WHEN m = 0 THEN CAST(1 AS INTEGER) END AS channels,
              CASE WHEN m = 0 THEN CAST(rate AS INTEGER) END AS sample_rate,
              CASE WHEN m = 0 THEN CAST(16 AS INTEGER) END AS bit_depth,
              CASE WHEN m = 0 THEN CAST(576*nf AS BIGINT) END AS n_frames,
              CASE WHEN m = 0 THEN CAST(576*nf AS BIGINT) END AS n_samples,
              CASE WHEN m = 0 THEN CAST(0 AS BIGINT) END AS sum,
              CASE WHEN m = 0 THEN CAST(0 AS BIGINT) END AS sumsq,
              CASE WHEN m = 0 THEN CAST(0 AS INTEGER) END AS peak,
              CASE WHEN m = 0 THEN CAST(0 AS BIGINT) END AS n_clipped,
              CASE WHEN m = 0 THEN CAST(1 AS INTEGER) END AS silent,
              CASE WHEN m = 0 THEN CAST(0.0 AS DOUBLE) END AS rms,
              CASE WHEN m = 0 THEN CAST(0.0 AS DOUBLE) END AS clip_rate,
              CASE WHEN m = 0 THEN '0' END AS ch_sumsq,
              CASE WHEN m = 0 THEN '0' END AS ch_peak
       FROM d""",

    // dest pixel (x2,y2,c) = floor-mean of the source box
    // [⌊x2·w/3⌋, ⌊(x2+1)·w/3⌋) × [⌊y2·h/2⌋, ⌊(y2+1)·h/2⌋); stats over
    // the 18 thumbnail channel values (w ≥ 6 > 3, so no empty boxes)
    "q188_thumbnails" ->
      """WITH d AS (SELECT doc_id AS id, CAST(doc_id % 5 + 6 AS INTEGER) AS w,
                  CAST(doc_id % 4 + 5 AS INTEGER) AS h FROM documents),
         sv AS (SELECT de.id, de.x2, de.y2, de.c,
                  ((((de.id*53 + gx.sx*17 + gy.sy*29 + de.c*7)
                     * (de.id*53 + gx.sx*17 + gy.sy*29 + de.c*7))
                    % 1000003) * 48271 >> 8) % 251 AS v
                FROM (SELECT id, w, h, x2, y2, c
                      FROM d CROSS JOIN range(0, 3) rx(x2)
                             CROSS JOIN range(0, 2) ry(y2)
                             CROSS JOIN range(0, 3) rc(c)) de
                CROSS JOIN range(0, 10) gx(sx)
                CROSS JOIN range(0, 8) gy(sy)
                WHERE gx.sx >= de.x2 * de.w // 3
                  AND gx.sx < (de.x2 + 1) * de.w // 3
                  AND gy.sy >= de.y2 * de.h // 2
                  AND gy.sy < (de.y2 + 1) * de.h // 2),
         mn AS (SELECT id, x2, y2, c,
                  CAST(SUM(v) // COUNT(*) AS BIGINT) AS m
                FROM sv GROUP BY id, x2, y2, c),
         agg AS (SELECT id, CAST(SUM(m) AS BIGINT) AS s,
                   CAST(SUM(m*m) AS BIGINT) AS ss,
                   CAST(MIN(m) AS INTEGER) AS lo,
                   CAST(MAX(m) AS INTEGER) AS hi
                 FROM mn GROUP BY id)
       SELECT id AS media_id, 'ppm' AS format,
              CAST(3 AS INTEGER) AS width, CAST(2 AS INTEGER) AS height,
              CAST(3 AS INTEGER) AS channels,
              CAST(6 AS BIGINT) AS n_pixels,
              s AS sum, ss AS sumsq, lo AS pmin, hi AS pmax,
              CAST(CASE WHEN lo = hi THEN 1 ELSE 0 END AS INTEGER)
                AS constant
       FROM agg""",

    "q166_audio_codec_stats" -> audioCodecOracle,
    "q167_msadpcm_stats" -> msAdpcmOracle,

    "q171_html_boilerplate" -> htmlBoilerplateOracle,
    "q173_markdown_to_text" -> markdownOracle,
    "q174_web_pipeline" -> webPipelineOracle,
    "q175_epub_text" -> epubOracle,
    "q176_pdf_text" -> pdfOracle,

    // each paragraph's text is construction-known: tab run, then the
    // XML-sanitized doc text; the w:tbl paragraph never appears
    "q177_docx_text" ->
      """SELECT doc_id,
              substr('Doc ' || doc_id || chr(9) || 'title' || chr(10)
                || substr(regexp_replace(regexp_replace(COALESCE(text, ''),
                     '[^ -~]', ' ', 'g'), '[&<>]', ' ', 'g'), 1, 80)
                || chr(10),
              1, 200) AS docx_text
       FROM documents""",

    // opt-in table contract: two body paragraphs, then the 2×2
    // table's four cell paragraphs, one line each in document order
    "q187_docx_tables" ->
      """SELECT doc_id,
              substr('Doc ' || doc_id || chr(10)
                || substr(regexp_replace(regexp_replace(COALESCE(text, ''),
                     '[^ -~]', ' ', 'g'), '[&<>]', ' ', 'g'), 1, 80)
                || chr(10)
                || 'r1c1 ' || doc_id || chr(10) || 'r1c2' || chr(10)
                || 'r2c1' || chr(10) || 'r2c2 ' || (doc_id * 7) || chr(10),
              1, 200) AS docx_text
       FROM documents""",

    // the three charset arms decode to construction-known text; the
    // oracle replays the construction per arm
    "q172_warc_charsets" ->
      """SELECT doc_id AS file_id, CAST(0 AS INTEGER) AS record_idx,
              'http://example.com/cs/' || doc_id AS url,
              CAST(200 AS INTEGER) AS http_status,
              'text/html' AS http_content_type,
              CASE WHEN doc_id % 3 = 0 THEN 'utf-8'
                   WHEN doc_id % 3 = 1 THEN 'iso-8859-1'
                   ELSE 'utf-16le' END AS charset,
              CASE WHEN doc_id % 3 = 2
                   THEN 'omega ' || (doc_id % 7) || ' end'
                   ELSE 'café omega ' || (doc_id % 7) END AS text
       FROM documents""",

    // the RTF wrapper's extraction reduces to sanitize + the appended
    // literal (header/groups drop, \par → whitespace, \'e9 → é), so
    // the oracle replays the construction, not the state machine
    "q170_rtf_to_text" ->
      """SELECT doc_id,
              substr(trim(regexp_replace(
                regexp_replace(COALESCE(text, ''), '[{}\\]', ' ', 'g')
                  || ' summary café', '\s+', ' ', 'g')), 1, 120)
                AS clean_text
       FROM documents""",

    // both clips of a doc decode to the same pixels, so block means /
    // ahash compute ONCE per doc and fan out to both media ids; the
    // banding + L1 verify replay q153's construction
    // both arms normalize (graft_orient_pixels) to ONE pixel grid —
    // q169's replay applies verbatim
    "q183_orientation_neardup" ->
      """WITH d AS (SELECT doc_id AS g,
                  CAST(doc_id % 8 + 9 AS INTEGER) AS w,
                  CAST(doc_id % 6 + 7 AS INTEGER) AS h
           FROM documents),
         px AS (SELECT g, w, h,
                  ((((g*53 + (k // (w*3))*977 + (k % (w*3))*13)
                     * (g*53 + (k // (w*3))*977 + (k % (w*3))*13))
                    % 1000003) * 48271 >> 8) % 251 AS val,
                  (((k // (w*3)) * 7) // h) * 9
                    + ((((k % (w*3)) // 3) * 9) // w) AS blk
                FROM d CROSS JOIN range(0, 576) r(k)
                WHERE k < w*h*3),
         bm AS (SELECT g, blk, CAST(SUM(val) // COUNT(*) AS BIGINT) AS m
                FROM px GROUP BY g, blk),
         mn AS (SELECT g, SUM(m) // 63 AS mean FROM bm GROUP BY g),
         gs AS (SELECT bm.g,
                  CAST(SUM(CASE WHEN m > mean
                    THEN (CAST(1 AS BIGINT) << blk) ELSE 0 END) AS BIGINT)
                    AS ahash
                FROM bm JOIN mn ON bm.g = mn.g GROUP BY bm.g),
         ids AS (SELECT g, g*2 AS id, ahash FROM gs
                 UNION ALL SELECT g, g*2+1 AS id, ahash FROM gs),
         bands AS (SELECT id, band,
                     (ahash >> CAST(band*16 AS INTEGER)) & 65535 AS key
                   FROM ids CROSS JOIN range(0, 4) rb(band)),
         okb AS (SELECT band, key FROM bands GROUP BY band, key
                 HAVING COUNT(*) BETWEEN 2 AND 4096),
         cand AS (SELECT DISTINCT a.id AS id1, b.id AS id2
                  FROM bands a
                  JOIN okb USING (band, key)
                  JOIN bands b
                    ON a.band = b.band AND a.key = b.key AND a.id < b.id),
         l1 AS (SELECT c.id1, c.id2,
                  CAST(SUM(ABS(b1.m - b2.m)) AS BIGINT) AS l1
                FROM cand c
                JOIN bm b1 ON b1.g = c.id1 // 2
                JOIN bm b2 ON b2.g = c.id2 // 2 AND b2.blk = b1.blk
                GROUP BY c.id1, c.id2)
       SELECT id1, id2, l1 FROM l1 WHERE l1 <= 126""",

    "q169_crossformat_neardup" ->
      """WITH d AS (SELECT doc_id AS g,
                  CAST(doc_id % 8 + 9 AS INTEGER) AS w,
                  CAST(doc_id % 6 + 7 AS INTEGER) AS h
           FROM documents),
         px AS (SELECT g, w, h,
                  ((((g*53 + (k // (w*3))*977 + (k % (w*3))*13)
                     * (g*53 + (k // (w*3))*977 + (k % (w*3))*13))
                    % 1000003) * 48271 >> 8) % 251 AS val,
                  (((k // (w*3)) * 7) // h) * 9
                    + ((((k % (w*3)) // 3) * 9) // w) AS blk
                FROM d CROSS JOIN range(0, 576) r(k)
                WHERE k < w*h*3),
         bm AS (SELECT g, blk, CAST(SUM(val) // COUNT(*) AS BIGINT) AS m
                FROM px GROUP BY g, blk),
         mn AS (SELECT g, SUM(m) // 63 AS mean FROM bm GROUP BY g),
         gs AS (SELECT bm.g,
                  CAST(SUM(CASE WHEN m > mean
                    THEN (CAST(1 AS BIGINT) << blk) ELSE 0 END) AS BIGINT)
                    AS ahash
                FROM bm JOIN mn ON bm.g = mn.g GROUP BY bm.g),
         ids AS (SELECT g, g*2 AS id, ahash FROM gs
                 UNION ALL SELECT g, g*2+1 AS id, ahash FROM gs),
         bands AS (SELECT id, band,
                     (ahash >> CAST(band*16 AS INTEGER)) & 65535 AS key
                   FROM ids CROSS JOIN range(0, 4) rb(band)),
         okb AS (SELECT band, key FROM bands GROUP BY band, key
                 HAVING COUNT(*) BETWEEN 2 AND 4096),
         cand AS (SELECT DISTINCT a.id AS id1, b.id AS id2
                  FROM bands a
                  JOIN okb USING (band, key)
                  JOIN bands b
                    ON a.band = b.band AND a.key = b.key AND a.id < b.id),
         l1 AS (SELECT c.id1, c.id2,
                  CAST(SUM(ABS(b1.m - b2.m)) AS BIGINT) AS l1
                FROM cand c
                JOIN bm b1 ON b1.g = c.id1 // 2
                JOIN bm b2 ON b2.g = c.id2 // 2 AND b2.blk = b1.blk
                GROUP BY c.id1, c.id2)
       SELECT id1, id2, l1 FROM l1 WHERE l1 <= 126""",

    // both arms of a doc decode to the SAME flat-block pixels (q179
    // proves the JPEG side exactly), so block/cell means compute once
    // per doc from the DC-cumsum formula and fan out to both ids;
    // banding + L1 replay q169's pipeline verbatim
    "q181_jpeg_crossformat_neardup" ->
      """WITH d AS (SELECT doc_id AS g,
                  CAST(doc_id % 3 + 2 AS INTEGER) AS bw,
                  CAST(doc_id % 2 + 2 AS INTEGER) AS bh
           FROM documents),
         blk AS (SELECT g, bw, bh, k,
                   CASE WHEN up
                     THEN ((((g*37 + k*13)*(g*37 + k*13)) % 1000003)
                           * 48271 >> 8) % 8 + 8
                     ELSE -(((((g*41 + k*17)*(g*41 + k*17)) % 1000003)
                           * 48271 >> 8) % 8) - 8 END AS diff
                 FROM (SELECT g, bw, bh, k,
                         CASE WHEN k % 2 = 0 THEN pb = 1 ELSE pb = 0 END
                           AS up
                       FROM (SELECT g, bw, bh, k,
                               ((((g*29 + (k//2)*19)*(g*29 + (k//2)*19))
                                 % 1000003) * 48271 >> 7) % 2 AS pb
                             FROM d CROSS JOIN range(0, 12) r(k)
                             WHERE k < bw * bh) s0) s1),
         pv AS (SELECT g, k,
                  128 + 2 * SUM(diff) OVER (PARTITION BY g ORDER BY k) AS p
                FROM blk),
         px AS (SELECT d.g, pv.p AS val,
                  (((r.k // (bw*8)) * 7) // (bh*8)) * 9
                    + (((r.k % (bw*8)) * 9) // (bw*8)) AS cell
                FROM d CROSS JOIN range(0, 768) r(k)
                JOIN pv ON pv.g = d.g
                       AND pv.k = ((r.k // (bw*8)) // 8) * bw
                                  + ((r.k % (bw*8)) // 8)
                WHERE r.k < bw*8 * bh*8),
         bm AS (SELECT g, cell, CAST(SUM(val) // COUNT(*) AS BIGINT) AS m
                FROM px GROUP BY g, cell),
         mn AS (SELECT g, SUM(m) // 63 AS mean FROM bm GROUP BY g),
         gs AS (SELECT bm.g,
                  CAST(SUM(CASE WHEN m > mean
                    THEN (CAST(1 AS BIGINT) << cell) ELSE 0 END) AS BIGINT)
                    AS ahash
                FROM bm JOIN mn ON bm.g = mn.g GROUP BY bm.g),
         ids AS (SELECT g, g*2 AS id, ahash FROM gs
                 UNION ALL SELECT g, g*2+1 AS id, ahash FROM gs),
         bands AS (SELECT id, band,
                     (ahash >> CAST(band*16 AS INTEGER)) & 65535 AS key
                   FROM ids CROSS JOIN range(0, 4) rb(band)),
         okb AS (SELECT band, key FROM bands GROUP BY band, key
                 HAVING COUNT(*) BETWEEN 2 AND 4096),
         cand AS (SELECT DISTINCT a.id AS id1, b.id AS id2
                  FROM bands a
                  JOIN okb USING (band, key)
                  JOIN bands b
                    ON a.band = b.band AND a.key = b.key AND a.id < b.id),
         l1 AS (SELECT c.id1, c.id2,
                  CAST(SUM(ABS(b1.m - b2.m)) AS BIGINT) AS l1
                FROM cand c
                JOIN bm b1 ON b1.g = c.id1 // 2
                JOIN bm b2 ON b2.g = c.id2 // 2 AND b2.cell = b1.cell
                GROUP BY c.id1, c.id2)
       SELECT id1, id2, l1 FROM l1 WHERE l1 <= 32""",

    // both clips of a doc decode to the same linear sequence, so the
    // envelope/ehash compute ONCE per doc and fan out to the two
    // media ids; banding/verify replay q156's construction verbatim
    "q168_crosscodec_neardup" ->
      """WITH d AS (SELECT doc_id AS g, doc_id % 32 + 64 AS n FROM documents),
         sv AS (SELECT g, n, k,
                  CASE WHEN (uc & 128) != 0 THEN 132 - t ELSE t - 132 END AS v
                FROM (SELECT g, n, k, uc,
                        ((((uc & 15) << 3) + 132) << ((uc >> 4) & 7)) AS t
                      FROM (SELECT g, n, k,
                              xor(((((g*31 + k)*(g*31 + k)) % 1000003) * 48271 >> 8) % 256, 255) AS uc
                            FROM d CROSS JOIN range(0, 96) r(k)
                            WHERE k < n) s0) s1),
         env AS (SELECT s.g, CAST(w.w AS INTEGER) AS w,
                   CAST(SUM(ABS(s.v)) AS BIGINT) AS e
                 FROM sv s JOIN range(0, 64) w(w)
                   ON s.k >= (w.w * s.n) // 64
                  AND s.k < ((w.w + 1) * s.n) // 64
                 GROUP BY s.g, w.w),
         live AS (SELECT g FROM env GROUP BY g HAVING MAX(e) > 0),
         ehg AS (SELECT a.g,
                   CAST(SUM(CASE WHEN b.e > a.e
                             THEN (CAST(1 AS BIGINT) << a.w) ELSE 0 END)
                        AS BIGINT) AS h
                 FROM env a
                 JOIN live USING (g)
                 JOIN env b ON b.g = a.g AND b.w = a.w + 1
                 GROUP BY a.g),
         eh AS (SELECT g*2 AS id, h FROM ehg
                UNION ALL SELECT g*2+1 AS id, h FROM ehg),
         bands AS (SELECT id, band,
                     (h >> CAST(band*16 AS INTEGER)) & 65535 AS key
                   FROM eh CROSS JOIN range(0, 4) rb(band)),
         okb AS (SELECT band, key FROM bands GROUP BY band, key
                 HAVING COUNT(*) BETWEEN 2 AND 4096),
         cand AS (SELECT DISTINCT a.id AS id1, b.id AS id2
                  FROM bands a
                  JOIN okb USING (band, key)
                  JOIN bands b
                    ON a.band = b.band AND a.key = b.key AND a.id < b.id)
       SELECT c.id1, c.id2,
              CAST(bit_count(xor(h1.h, h2.h)) AS INTEGER) AS hamming
       FROM cand c
       JOIN eh h1 ON h1.id = c.id1
       JOIN eh h2 ON h2.id = c.id2
       WHERE bit_count(xor(h1.h, h2.h)) <= 6""",

    "q105_winsorize" ->
      """WITH b AS (
           SELECT event_type,
                  ROUND(quantile_cont(value, 0.05), 4) AS lo,
                  ROUND(quantile_cont(value, 0.95), 4) AS hi
           FROM events WHERE value IS NOT NULL GROUP BY 1)
       SELECT e.event_id, e.event_type, ROUND(e.value, 6) AS value, b.lo, b.hi,
              ROUND(least(greatest(CAST(e.value AS DOUBLE), b.lo), b.hi), 6)
                AS clipped
       FROM events e JOIN b USING (event_type)
       WHERE e.value IS NOT NULL""",

    "q106_distinct_ngrams" ->
      """WITH toks AS (
           SELECT lang, doc_id,
                  list_filter(regexp_split_to_array(lower(COALESCE(text, '')),
                                '[^a-z0-9]+'), x -> x <> '') AS tk
           FROM documents),
         uni AS (
           SELECT lang, COUNT(*) AS n_tokens, COUNT(DISTINCT t) AS distinct_1
           FROM (SELECT lang, unnest(tk) AS t FROM toks) GROUP BY 1),
         bg AS (
           SELECT lang, COUNT(*) AS n_bigrams, COUNT(DISTINCT b) AS distinct_2
           FROM (SELECT lang,
                   [tk[i] || ' ' || tk[i+1] FOR i IN range(1, len(tk))]
                     AS bs
                 FROM toks WHERE len(tk) >= 2),
                UNNEST(bs) AS u(b)
           GROUP BY 1)
       SELECT uni.lang, n_tokens, distinct_1,
              ROUND(CAST(distinct_1 AS DOUBLE) / n_tokens, 6) AS ratio_1,
              COALESCE(n_bigrams, 0) AS n_bigrams,
              COALESCE(distinct_2, 0) AS distinct_2,
              CASE WHEN n_bigrams IS NULL THEN NULL
                   ELSE ROUND(CAST(distinct_2 AS DOUBLE) / n_bigrams, 6)
              END AS ratio_2
       FROM uni LEFT JOIN bg USING (lang)""",

    "q107_zipf_slope" ->
      """WITH vocab AS (
           SELECT lang, t, COUNT(*) AS c
           FROM (SELECT lang,
                   unnest(list_filter(regexp_split_to_array(lower(COALESCE(text, '')),
                                        '[^a-z0-9]+'), x -> x <> '')) AS t
                 FROM documents)
           GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         pts AS (
           SELECT lang,
                  CAST(ROUND(ln(row_number() OVER (PARTITION BY lang
                         ORDER BY c DESC, t)), 6) AS DECIMAL(18,6)) AS x,
                  CAST(ROUND(ln(c), 6) AS DECIMAL(18,6)) AS y
           FROM vocab),
         m AS (SELECT lang, COUNT(*) AS n,
                 CAST(ROUND(SUM(x), 4) AS DOUBLE) AS sx,
                 CAST(ROUND(SUM(y), 4) AS DOUBLE) AS sy,
                 CAST(ROUND(SUM(x*y), 4) AS DOUBLE) AS sxy,
                 CAST(ROUND(SUM(x*x), 4) AS DOUBLE) AS sxx
               FROM pts GROUP BY 1)
       SELECT lang, n AS n_terms,
              CASE WHEN (n*sxx - sx*sx) > 0
                   THEN ROUND(-(n*sxy - sx*sy) / (n*sxx - sx*sx), 6)
                   ELSE NULL END AS zipf_s
       FROM m""",

    "q109_jsonl_roundtrip" ->
      """SELECT doc_id, text, lang, n_chars FROM documents
         WHERE doc_id < 100""",

    "q108_dataset_card" -> curationSql(
      """, fp AS (SELECT md5(trim(regexp_replace(lower(COALESCE(text, '')),
                     '\s+', ' ', 'g'))) AS f FROM documents)
         SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
                (SELECT COUNT(DISTINCT lang) FROM documents) AS n_langs,
                (SELECT COUNT(*) - COUNT(DISTINCT f) FROM fp) AS exact_dup_docs,
                (SELECT CAST(SUM(n_tokens) AS BIGINT) FROM scored) AS n_tokens,
                (SELECT ROUND(CAST(SUM(CAST(quality_score AS DECIMAL(18,4)))
                          AS DOUBLE) / COUNT(*), 6) FROM scored) AS mean_quality""")
  )

  /** Exact all-pairs word-3-gram Jaccard in SQL — the oracle for both the
    * inverted-index exact pairs (q23) and the LSH-accelerated pairs
    * (q24; recall at 128 hashes / 32 bands is ≈1 above 0.8 so the
    * verified candidate set equals the exact set on this data).
    */
  /** Deterministic messy-URL fixture: five raw variants per page key —
    * tracking params, WWW/case noise, default ports, fragments — that
    * canonicalize down to three distinct URLs (https, http, and an
    * explicit non-default :8080).
    */
  private def messyUrl: Column = {
    // page modulus 21 is COPRIME with the variant modulus 5, so every
    // page key receives all five raw variants — the collapse the dedup
    // query must demonstrate (a shared factor would segregate variants
    // into disjoint groups and test nothing)
    val page = (col("doc_id") % 21).cast(StringType)
    val m = col("doc_id") % 5
    when(m === 0, concat(lit("HTTPS://WWW.Example.COM:443/page/"), page,
        lit("?utm_source=feed&utm_campaign=w&id="), page, lit("#frag")))
      .when(m === 1, concat(lit("https://example.com/page/"), page,
        lit("?id="), page))
      .when(m === 2, concat(lit("http://EXAMPLE.com:80/page/"), page,
        lit("?id="), page, lit("&gclid=xyz")))
      .when(m === 3, concat(lit("https://www.example.com/page/"), page,
        lit("?utm_medium=rss&id="), page, lit("&ref=home")))
      .otherwise(concat(lit("https://example.com:8080/page/"), page,
        lit("?fbclid=abc")))
  }

  /** The same fixture in DuckDB SQL — byte-identical raw URLs. */
  private def messyUrlSql: String =
    """CASE CAST(doc_id % 5 AS INTEGER)
       WHEN 0 THEN 'HTTPS://WWW.Example.COM:443/page/' ||
         CAST(doc_id % 21 AS VARCHAR) || '?utm_source=feed&utm_campaign=w&id=' ||
         CAST(doc_id % 21 AS VARCHAR) || '#frag'
       WHEN 1 THEN 'https://example.com/page/' ||
         CAST(doc_id % 21 AS VARCHAR) || '?id=' || CAST(doc_id % 21 AS VARCHAR)
       WHEN 2 THEN 'http://EXAMPLE.com:80/page/' ||
         CAST(doc_id % 21 AS VARCHAR) || '?id=' || CAST(doc_id % 21 AS VARCHAR) ||
         '&gclid=xyz'
       WHEN 3 THEN 'https://www.example.com/page/' ||
         CAST(doc_id % 21 AS VARCHAR) || '?utm_medium=rss&id=' ||
         CAST(doc_id % 21 AS VARCHAR) || '&ref=home'
       ELSE 'https://example.com:8080/page/' ||
         CAST(doc_id % 21 AS VARCHAR) || '?fbclid=abc' END"""

  /** Mirrors Urls.normalizeUrl step by step over the fixture column:
    * CTE chain ending in `norm(doc_id, url, url_norm, hostc)`.
    */
  private def urlNormCtes: String =
    s"""raw AS (SELECT doc_id, $messyUrlSql AS url FROM documents),
     parts AS (SELECT doc_id, url,
         lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS sch,
         lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS rawhost,
         regexp_replace(regexp_extract(url,
           '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(.*)$$', 1), '#.*$$', '') AS nofrag
       FROM raw),
     hostp AS (SELECT *, CASE sch
           WHEN 'http' THEN regexp_replace(regexp_replace(rawhost, '^www\\.', ''), ':80$$', '')
           WHEN 'https' THEN regexp_replace(regexp_replace(rawhost, '^www\\.', ''), ':443$$', '')
           ELSE regexp_replace(rawhost, '^www\\.', '') END AS h
       FROM parts),
     restp AS (SELECT *,
         CASE WHEN regexp_extract(nofrag, '^([^?]*)', 1) = '' THEN '/'
              ELSE regexp_extract(nofrag, '^([^?]*)', 1) END AS path,
         list_filter(string_split(regexp_extract(nofrag, '\\?(.*)$$', 1), '&'),
           x -> x <> '' AND NOT regexp_matches(x,
             '^(?:utm_[a-zA-Z0-9]+|fbclid|gclid|msclkid|ref)=')) AS kept
       FROM hostp),
     norm AS (SELECT doc_id, url,
         CASE WHEN regexp_matches(url, '^[A-Za-z][A-Za-z0-9+.-]*://')
              THEN sch || '://' || h || path ||
                CASE WHEN len(kept) = 0 THEN ''
                     ELSE '?' || array_to_string(kept, '&') END
              ELSE trim(url) END AS url_norm,
         h AS hostc
       FROM restp)"""

  /** Mirrors Classifier.trainLrClassifier with the GD loop UNROLLED:
    * per iteration k a (margin, gradient, weight-update) CTE triple.
    * Exact-decimal everywhere except the 6dp-rounded sigmoid, so the
    * whole training run hash-matches. Chain ends at w$iters/b$iters.
    */
  /** Mirrors Similarity.pqTrainCodebooks/pqEncode at m=4, sd=16, k=8,
    * rounds=1 on the embeddings table: md5-ordered seed rows shared
    * across subspaces, argmin of 6dp-rounded squared L2 with
    * code-ascending ties, exact-decimal (18,6) means rounded to 6dp.
    * Ends at `cb` (sub, code, cw) and `enc` (vec_id, sub, code).
    */
  private val PqCtes: String =
    """h AS (
         SELECT vec_id, embedding,
                CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR) || '#pqseed'), 1, 15))
                     AS BIGINT) AS hh
         FROM embeddings),
       seeds AS (
         SELECT row_number() OVER (ORDER BY hh, vec_id) - 1 AS code, embedding
         FROM (SELECT * FROM h ORDER BY hh, vec_id LIMIT 8)),
       cb0 AS (
         SELECT s.i AS sub, code,
                [seeds.embedding[s.i * 16 + j]::DOUBLE FOR j IN range(1, 17)] AS cw
         FROM seeds CROSS JOIN range(0, 4) s(i)),
       sv AS (
         SELECT vec_id, s.i AS sub,
                [embedding[s.i * 16 + j]::DOUBLE FOR j IN range(1, 17)] AS x
         FROM embeddings CROSS JOIN range(0, 4) s(i)),
       a1 AS (
         SELECT vec_id, sub, code, x FROM (
           SELECT sv.vec_id, sv.sub, cb0.code, sv.x,
                  row_number() OVER (PARTITION BY sv.vec_id, sv.sub
                    ORDER BY ROUND(list_sum([(sv.x[j] - cb0.cw[j]) * (sv.x[j] - cb0.cw[j])
                                             FOR j IN range(1, 17)]), 6) ASC,
                             cb0.code ASC) AS rn
           FROM sv JOIN cb0 ON sv.sub = cb0.sub)
         WHERE rn = 1),
       cb AS (
         SELECT sub, code, list(m ORDER BY j) AS cw FROM (
           SELECT sub, code, d.j AS j,
                  ROUND(CAST(SUM(CAST(ROUND(x[d.j], 6) AS DECIMAL(18,6))) AS DOUBLE)
                        / COUNT(*), 6) AS m
           FROM a1 CROSS JOIN range(1, 17) d(j)
           GROUP BY 1, 2, 3)
         GROUP BY 1, 2),
       enc AS (
         SELECT vec_id, sub, code FROM (
           SELECT sv.vec_id, sv.sub, cb.code,
                  row_number() OVER (PARTITION BY sv.vec_id, sv.sub
                    ORDER BY ROUND(list_sum([(sv.x[j] - cb.cw[j]) * (sv.x[j] - cb.cw[j])
                                             FOR j IN range(1, 17)]), 6) ASC,
                             cb.code ASC) AS rn
           FROM sv JOIN cb ON sv.sub = cb.sub)
         WHERE rn = 1)"""

  private def lrCtes(dim: Int, iters: Int, lr: String): String = {
    val steps = (1 to iters).map { k =>
      s"""e$k AS (
         SELECT z.doc_id,
           CAST(CAST(ROUND(1/(1+exp(-CAST(z.zs + (SELECT b FROM b${k - 1})
             AS DOUBLE))), 6) AS DECIMAL(7,6)) - l.y AS DECIMAL(8,6)) AS e
         FROM (SELECT f.doc_id,
                 SUM(wp.w * CAST(f.x AS DECIMAL(6,0))) AS zs
               FROM lrfeats f JOIN w${k - 1} wp USING (j) GROUP BY 1) z
         JOIN lrlab l USING (doc_id)),
       g$k AS (SELECT j, SUM(e * CAST(x AS DECIMAL(6,0))) AS g
               FROM lrfeats JOIN e$k USING (doc_id) GROUP BY 1),
       w$k AS (SELECT wp.j, CAST(wp.w - $lr *
                 CAST(COALESCE(g.g, 0) AS DECIMAL(12,6))
                 AS DECIMAL(14,10)) AS w
               FROM w${k - 1} wp LEFT JOIN g$k g USING (j)),
       b$k AS (SELECT CAST(b - $lr * CAST(
                 (SELECT COALESCE(SUM(e), 0) FROM e$k) AS DECIMAL(12,6))
                 AS DECIMAL(14,10)) AS b FROM b${k - 1})"""
    }
    s"""lrwords AS (SELECT doc_id, unnest(list_filter(
           regexp_split_to_array(lower(COALESCE(text, '')), '[^a-z0-9]+'),
           x -> x <> '')) AS w FROM documents),
     lrfeats AS (SELECT doc_id,
         CAST(CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) % $dim
              AS BIGINT) AS j,
         CAST(COUNT(*) AS BIGINT) AS x
       FROM lrwords GROUP BY 1, 2),
     lrlab AS (SELECT doc_id,
         CASE WHEN text LIKE '%data%' THEN 1 ELSE 0 END AS y
       FROM documents),
     w0 AS (SELECT CAST(r.range AS BIGINT) AS j,
              CAST(0 AS DECIMAL(14,10)) AS w FROM range($dim) r),
     b0 AS (SELECT CAST(0 AS DECIMAL(14,10)) AS b),
     ${steps.mkString(",\n     ")}"""
  }

  /** Mirrors Corpus.bpeTrain with the merge loop UNROLLED: per rank k,
    * a pairs→best→apply CTE triple, chained seg0→segN. The paren
    * segmentation makes plain replace() ≡ the greedy merge in both
    * engines, so the whole training run hash-matches.
    */
  private def bpeOracle(numMerges: Int): String = {
    val union = (1 to numMerges)
      .map(k => s"""SELECT CAST($k AS BIGINT) AS rank, l AS "left", r AS "right",
                 l || r AS merged, cnt AS pair_count FROM best$k""")
      .mkString("\n UNION ALL ")
    s"""WITH ${bpeCtes(numMerges)}
   $union"""
  }

  /** The shared CTE chain of [[bpeOracle]]: hist → seg0 → per-rank
    * (pairs, best, seg) triples; `seg$numMerges` holds every word's
    * final segmentation.
    */
  private def bpeCtes(numMerges: Int): String = {
    val steps = (1 to numMerges).map { k =>
      s"""pairs$k AS (
         SELECT p.l AS l, p.r AS r, CAST(SUM(wcount) AS BIGINT) AS cnt
         FROM (SELECT wcount,
                 unnest([struct_pack(l := toks[i], r := toks[i+1])
                         FOR i IN range(1, len(toks))]) AS p
               FROM (SELECT wcount,
                       regexp_extract_all(seg, '\\(([a-z0-9]+)\\)', 1) AS toks
                     FROM seg${k - 1}))
         GROUP BY 1, 2),
       best$k AS (SELECT l, r, cnt FROM pairs$k ORDER BY cnt DESC, l, r LIMIT 1),
       seg$k AS (SELECT word, wcount,
                   replace(seg, '(' || b.l || ')(' || b.r || ')',
                           '(' || b.l || b.r || ')') AS seg
                 FROM seg${k - 1} CROSS JOIN best$k b)"""
    }
    s"""hist AS (
       SELECT word, CAST(COUNT(*) AS BIGINT) AS wcount
       FROM (SELECT unnest(list_filter(
               regexp_split_to_array(lower(COALESCE(text, '')), '[^a-z0-9]+'),
               x -> x <> '')) AS word FROM documents)
       GROUP BY 1),
     seg0 AS (SELECT word, wcount,
                regexp_replace(word, '(.)', '(\\1)', 'g') AS seg FROM hist),
     ${steps.mkString(",\n     ")}"""
  }

  private def jaccardOracle(threshold: Double): String =
    s"""WITH sets AS (
         SELECT doc_id, list_distinct(
           CASE WHEN len(toks) <= 3 THEN [array_to_string(toks, ' ')]
                ELSE [array_to_string(toks[i:i+2], ' ')
                      FOR i IN range(1, len(toks) - 1)] END) AS sh
         FROM (SELECT doc_id,
                 list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                             x -> x <> '') AS toks
               FROM documents)),
       sizes AS (SELECT doc_id, len(sh) AS n FROM sets),
       postings AS (SELECT doc_id, unnest(sh) AS s FROM sets),
       common AS (SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS c
                  FROM postings a JOIN postings b
                    ON a.s = b.s AND a.doc_id < b.doc_id
                  GROUP BY 1, 2)
     SELECT id1, id2,
            ROUND(CAST(c AS DOUBLE) / (s1.n + s2.n - c), 6) AS jaccard
     FROM common
     JOIN sizes s1 ON common.id1 = s1.doc_id
     JOIN sizes s2 ON common.id2 = s2.doc_id
     WHERE ROUND(CAST(c AS DOUBLE) / (s1.n + s2.n - c), 6) >= $threshold"""

  /** Mirrors HtmlToText.htmlToText step by step; the nesting is built
    * by fold so the SQL can't drift out of sync with the Scala chain.
    */
  private def htmlToTextOracle: String = {
    val steps: Seq[(String, String)] = Seq(
      "(?is)<script[^>]*>.*?</script>|<style[^>]*>.*?</style>" -> "' '",
      "(?s)<!--.*?-->" -> "' '",
      "<[^>]+>" -> "' '",
      "&nbsp;" -> "' '",
      "&amp;" -> "'&'",
      "&lt;" -> "'<'",
      "&gt;" -> "'>'",
      "&quot;" -> "'\"'",
      "&#39;" -> "chr(39)",
      "&apos;" -> "chr(39)",
      "&#\\d+;" -> "' '",
      "\\s+" -> "' '"
    )
    val html =
      "'<div><p>' || text || '</p><script>var x = 1;</script><br/>&amp;&nbsp;end</div>'"
    val chained = steps.foldLeft(html) { case (acc, (pat, rep)) =>
      s"regexp_replace($acc, '$pat', $rep, 'g')"
    }
    s"SELECT doc_id, substr(trim($chained), 1, 100) AS clean_text FROM documents"
  }

  /** SRP oracle: the ±1 hyperplanes come from the same deterministic
    * Scala derivation as the Spark side and are inlined as list
    * literals; sign-of-dot ≡ sign-of-cosine, so the bit signatures,
    * band keys, candidates and verified sims all agree exactly.
    */
  private def srpOracle(threshold: Double, bits: Int, bands: Int,
      dim: Int): String = {
    val r = bits / bands
    val hps = Similarity.srpHyperplanes(bits, dim)
    val bitExprs = hps.zipWithIndex.map { case (hp, b) =>
      val lst = hp.map(v => if (v > 0) "1" else "-1").mkString("[", ",", "]")
      s"CASE WHEN list_sum([embedding[i]::DOUBLE * ($lst)[i] FOR i IN range(1, ${dim + 1})]) > 0 THEN 1 ELSE 0 END AS b$b"
    }.mkString(",\n              ")
    val keyExprs = (0 until bands).map { k =>
      (0 until r).map(j => s"b${k * r + j} * ${1 << j}").mkString(" + ") +
        s" AS k$k"
    }.mkString(", ")
    val bandCond = (0 until bands).map(k => s"a.k$k = b.k$k").mkString(" OR ")
    s"""WITH bits AS (
          SELECT vec_id, embedding,
              $bitExprs
          FROM embeddings),
        keys AS (SELECT vec_id, embedding, $keyExprs FROM bits),
        cand AS (SELECT a.vec_id AS id1, b.vec_id AS id2,
                        a.embedding AS e1, b.embedding AS e2
                 FROM keys a JOIN keys b
                   ON a.vec_id < b.vec_id AND ($bandCond)),
        scored AS (SELECT id1, id2,
              list_sum([e1[i]::DOUBLE * e2[i]::DOUBLE FOR i IN range(1, ${dim + 1})]) AS d,
              sqrt(list_sum([e1[i]::DOUBLE * e1[i]::DOUBLE FOR i IN range(1, ${dim + 1})])) AS n1,
              sqrt(list_sum([e2[i]::DOUBLE * e2[i]::DOUBLE FOR i IN range(1, ${dim + 1})])) AS n2
            FROM cand)
      SELECT id1, id2,
             ROUND(CASE WHEN n1 * n2 > 0 THEN d / (n1 * n2) ELSE 0 END, 6) AS sim
      FROM scored
      WHERE ROUND(CASE WHEN n1 * n2 > 0 THEN d / (n1 * n2) ELSE 0 END, 6) >= $threshold"""
  }

  /** Shared curation CTE: per-doc pred_lang (argmax stopword hits, ties
    * by language code asc — mirrors TextAnalysis.langId) + 4dp quality
    * score (mirrors TextAnalysis.qualityScore; the EN stopword hits
    * double as the stop-ratio numerator, same as qualityFeatures).
    */
  /** The quality-score CTE chain (base → feat → scored) shared by every
    * oracle that needs `scored(doc_id, n_tokens, pred_lang,
    * quality_score)`; exposed separately so composite oracles (q93) can
    * append it to their own WITH list.
    */
  private def curationCtes: String = {
    val hitExprs = TextAnalysis.StopwordLists.map { case (lang, words) =>
      val lst = words.map(w => s"'$w'").mkString("[", ",", "]")
      s"len(list_filter($lst, w -> list_contains(toks, w))) AS h_$lang"
    }.mkString(",\n                ")
    s"""base AS (
         SELECT doc_id, COALESCE(text, '') AS t,
                list_filter(regexp_split_to_array(lower(COALESCE(text, '')), '[^a-z0-9]+'),
                            x -> x <> '') AS toks
         FROM documents),
       feat AS (SELECT doc_id,
                  length(t) AS n_chars,
                  CAST(len(toks) AS BIGINT) AS n_tokens,
                  length(t) - length(regexp_replace(t, '[.,!?;:]', '', 'g')) AS n_punct,
                  $hitExprs
                FROM base),
       scored AS (
         SELECT doc_id, n_tokens,
                CASE WHEN greatest(h_en, h_de, h_es, h_fr) = 0 THEN 'und'
                     WHEN h_de = greatest(h_en, h_de, h_es, h_fr) THEN 'de'
                     WHEN h_en = greatest(h_en, h_de, h_es, h_fr) THEN 'en'
                     WHEN h_es = greatest(h_en, h_de, h_es, h_fr) THEN 'es'
                     ELSE 'fr' END AS pred_lang,
                ROUND(greatest(
                  least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.5
                  + least(ROUND(CAST(h_en AS DOUBLE) / greatest(n_tokens, 1), 4) * 5.0, 1.0) * 0.5
                  - least(ROUND(CAST(n_punct AS DOUBLE) / greatest(n_chars, 1), 4) * 2.0, 1.0) * 0.2,
                  0.0), 4) AS quality_score
         FROM feat)"""
  }

  private def curationSql(select: String): String =
    s"""WITH $curationCtes
       $select"""

  /** DuckDB replay of TextAnalysis.langIdWide, generated from the SAME
    * ScriptRanges/WideStopwordLists constants so the two surfaces
    * cannot drift: script counts via codepoint-class regexp_replace
    * (the 'g' flag — DuckDB replaces first-only by default), the
    * integer 30%-dominance rule, then the stopword argmax with
    * lang-ascending ties. The non-whitespace denominator spells out
    * Java's \s as [ \t\n\x0B\f\r] — RE2's \s omits vertical tab, so a
    * bare '\s' here would shift the dominance rule on \x0B-bearing
    * text.
    */
  private def langIdWideOracle: String = {
    val stopHitExprs = TextAnalysis.WideStopwordLists.map { case (lang, words) =>
      val lst = words.map(w => s"'$w'").mkString("[", ",", "]")
      s"len(list_filter($lst, w -> list_contains(toks, w))) AS h_$lang"
    }.mkString(",\n                  ")
    val scriptExprs = TextAnalysis.ScriptRanges.map { case (lang, cls) =>
      s"length(regexp_replace(t, '[^$cls]', '', 'g')) AS s_$lang"
    }.mkString(",\n                  ")
    // within-script refinement marker counts + per-group maxima
    val refExprs = TextAnalysis.ScriptRefinements.flatMap { case (p, cands) =>
      cands.map { case (l, chars) =>
        s"length(regexp_replace(t, '[^$chars]', '', 'g')) AS r_${p}_$l"
      }
    }.mkString(",\n                  ")
    val refMaxExprs = TextAnalysis.ScriptRefinements.map { case (p, cands) =>
      val cols = cands.map(c => s"r_${p}_${c._1}")
      // bare column for single-candidate groups (greatest needs 2+)
      val expr = if (cols.size == 1) cols.head
        else cols.mkString("greatest(", ", ", ")")
      s"$expr AS rm_$p"
    }.mkString(", ")
    val sLangs = TextAnalysis.ScriptRanges.map(_._1).sorted
    val hLangs = TextAnalysis.WideStopwordLists.map(_._1).sorted
    val sMax = sLangs.map("s_" + _).mkString("greatest(", ", ", ")")
    val hMax = hLangs.map("h_" + _).mkString("greatest(", ", ", ")")
    val sCase = sLangs.init.map(l => s"WHEN s_$l = sm THEN '$l'")
      .mkString(" ") + s" ELSE '${sLangs.last}'"
    val hCase = hLangs.init.map(l => s"WHEN h_$l = hm THEN '$l'")
      .mkString(" ") + s" ELSE '${hLangs.last}'"
    // refinement over the script winner: candidates code-ascending
    // (they are constructed sorted), all-zero keeps the prior
    val refCase = TextAnalysis.ScriptRefinements.map { case (p, cands) =>
      val langs = cands.map(_._1)
      val inner = langs.init.map(l =>
        s"WHEN r_${p}_$l = rm_$p THEN '$l'").mkString(" ") +
        s" ELSE '${langs.last}'"
      s"WHEN sl = '$p' THEN CASE WHEN rm_$p = 0 THEN '$p' $inner END"
    }.mkString(" ")
    s"""WITH base AS (
         SELECT doc_id, COALESCE(text, '') AS t,
                list_filter(regexp_split_to_array(lower(COALESCE(text, '')), '[^a-z0-9]+'),
                            x -> x <> '') AS toks
         FROM documents),
       ev AS (
         SELECT doc_id,
                length(regexp_replace(t, '[ \\t\\n\\x0B\\f\\r]', '', 'g')) AS nws,
                len(toks) AS ntk,
                $scriptExprs,
                $refExprs,
                $stopHitExprs
         FROM base),
       mx AS (SELECT *, $sMax AS sm, $hMax AS hm, $refMaxExprs FROM ev),
       sx AS (SELECT *, CASE $sCase END AS sl FROM mx)
     SELECT doc_id,
            CASE WHEN sm > 0 AND sm * 10 >= nws * 3
                   THEN CASE $refCase ELSE sl END
                 WHEN hm = 0 THEN 'und'
                 ELSE CASE $hCase END END AS pred_lang,
            CASE WHEN sm > 0 AND sm * 10 >= nws * 3
                   THEN ROUND(CAST(sm AS DOUBLE) / nws, 4)
                 WHEN hm = 0 THEN 0.0
                 ELSE ROUND(CAST(hm AS DOUBLE) / greatest(ntk, 1), 4)
            END AS confidence
     FROM sx"""
  }

  /** DuckDB replay of q166's codec decode, generated from the SAME
    * step/index tables as [[graft.expr.AudioStats]] so the two
    * surfaces cannot drift: the G.711 segment expansions inline
    * (μ-law complement form, A-law XOR-0x55 form), the IMA ADPCM
    * predictor walk as a recursive CTE stepping one nibble per level
    * over the shared 89-entry step table. Clip rules per codec match
    * the expression: |v| at the G.711 full-scale code, the int16
    * clamp rails for IMA.
    */
  private def audioCodecOracle: String = {
    val st = graft.expr.AudioStats.ImaStep.mkString("[", ",", "]")
    val it = graft.expr.AudioStats.ImaIndexAdvance.mkString("[", ",", "]")
    s"""WITH RECURSIVE d AS (
         SELECT doc_id AS id, doc_id % 5 AS m,
                CAST((doc_id % 4 + 1) * 8000 AS INTEGER) AS rate_u,
                doc_id % 50 + 8 AS n_u,
                doc_id % 40 + 6 AS n_a,
                doc_id % 2 + 1 AS nblk,
                doc_id % 30 + 4 AS n_24,
                doc_id % 20 + 3 AS n_32
         FROM documents),
       vu AS (
         SELECT id, 0 AS chn,
                CASE WHEN (uc & 128) != 0 THEN 132 - t ELSE t - 132 END AS v,
                32124 AS fullscale
         FROM (SELECT id, uc,
                 ((((uc & 15) << 3) + 132) << ((uc >> 4) & 7)) AS t
               FROM (SELECT id, xor((id*17 + k*131) % 256, 255) AS uc
                     FROM d CROSS JOIN range(0, 60) r(k)
                     WHERE m = 0 AND k < n_u) u0) u1),
       va AS (
         SELECT id, chn,
                CASE WHEN (ax & 128) != 0 THEN t ELSE -t END AS v,
                32256 AS fullscale
         FROM (SELECT id, chn, ax,
                 CASE WHEN ((ax >> 4) & 7) = 0 THEN ((ax & 15) << 4) + 8
                      ELSE (((ax & 15) << 4) + 264) << (((ax >> 4) & 7) - 1)
                 END AS t
               FROM (SELECT id, k % 2 AS chn,
                       xor((id*23 + k*89) % 256, 85) AS ax
                     FROM d CROSS JOIN range(0, 92) r(k)
                     WHERE m = 1 AND k < n_a * 2) a0) a1),
       hdr AS (
         SELECT id, blk,
                CASE WHEN (id*47 + blk*1009) % 65536 >= 32768
                     THEN (id*47 + blk*1009) % 65536 - 65536
                     ELSE (id*47 + blk*1009) % 65536 END AS pred0,
                (id + blk*37) % 89 AS idx0
         FROM d CROSS JOIN range(0, 2) r(blk) WHERE m = 2 AND blk < nblk),
       dec AS (
         SELECT id, blk, 0 AS j, pred0 AS pred, idx0 AS idx FROM hdr
         UNION ALL
         SELECT id, blk, j + 1,
           LEAST(32767, GREATEST(-32768,
             CASE WHEN (nib & 8) != 0 THEN pred - diff ELSE pred + diff END)),
           LEAST(88, GREATEST(0, idx + ($it)[nib + 1]))
         FROM (
           SELECT q1.*,
             (s >> 3) + CASE WHEN (nib & 4) != 0 THEN s ELSE 0 END
                      + CASE WHEN (nib & 2) != 0 THEN (s >> 1) ELSE 0 END
                      + CASE WHEN (nib & 1) != 0 THEN (s >> 2) ELSE 0 END AS diff
           FROM (
             SELECT id, blk, j, pred, idx,
               (id*7 + blk*11 + j*3) % 16 AS nib,
               ($st)[idx + 1] AS s
             FROM dec WHERE j < 16) q1) q2),
       vi AS (SELECT id, 0 AS chn, pred AS v,
                CASE WHEN pred >= 32767 OR pred <= -32768 THEN 1 ELSE 0 END
                  AS clip
              FROM dec),
       v24 AS (SELECT id, 0 AS chn,
                 CASE WHEN t >= 32768 THEN t - 65536 ELSE t END AS v
               FROM (SELECT id, (id*29 + k*4099) % 65536 AS t
                     FROM d CROSS JOIN range(0, 34) r(k)
                     WHERE m = 3 AND k < n_24) p24),
       v32 AS (SELECT id, k % 2 AS chn,
                 CASE WHEN t >= 32768 THEN t - 65536 ELSE t END AS v
               FROM (SELECT id, k, (id*41 + k*257) % 65536 AS t
                     FROM d CROSS JOIN range(0, 46) r(k)
                     WHERE m = 4 AND k < n_32 * 2) p32),
       sv AS (
         SELECT id, chn, v,
                CASE WHEN ABS(v) >= fullscale THEN 1 ELSE 0 END AS clip FROM vu
         UNION ALL
         SELECT id, chn, v,
                CASE WHEN ABS(v) >= fullscale THEN 1 ELSE 0 END AS clip FROM va
         UNION ALL
         SELECT id, chn, v, clip FROM vi
         UNION ALL
         SELECT id, chn, v,
                CASE WHEN v >= 32767 OR v <= -32768 THEN 1 ELSE 0 END FROM v24
         UNION ALL
         SELECT id, chn, v,
                CASE WHEN v >= 32767 OR v <= -32768 THEN 1 ELSE 0 END FROM v32),
       chs AS (SELECT id, chn, CAST(SUM(v*v) AS BIGINT) AS csq,
                 CAST(MAX(ABS(v)) AS INTEGER) AS cpk
               FROM sv GROUP BY id, chn),
       chj AS (SELECT id,
                 string_agg(CAST(csq AS VARCHAR), ',' ORDER BY chn)
                   AS ch_sumsq,
                 string_agg(CAST(cpk AS VARCHAR), ',' ORDER BY chn)
                   AS ch_peak
               FROM chs GROUP BY id),
       tot AS (SELECT id, CAST(SUM(v) AS BIGINT) AS s,
                 CAST(SUM(v*v) AS BIGINT) AS ss,
                 CAST(MAX(ABS(v)) AS INTEGER) AS pk,
                 CAST(SUM(clip) AS BIGINT) AS clp, COUNT(*) AS ns
               FROM sv GROUP BY id)
     SELECT d.id AS media_id,
            CASE WHEN m = 0 THEN 'wav_ulaw' WHEN m = 1 THEN 'wav_alaw'
                 WHEN m = 2 THEN 'wav_ima_adpcm' ELSE 'wav' END AS format,
            CAST(CASE WHEN m = 1 OR m = 4 THEN 2 ELSE 1 END AS INTEGER)
              AS channels,
            CASE WHEN m = 0 THEN rate_u WHEN m = 1 THEN CAST(8000 AS INTEGER)
                 WHEN m = 2 THEN CAST(22050 AS INTEGER)
                 WHEN m = 3 THEN CAST(16000 AS INTEGER)
                 ELSE CAST(44100 AS INTEGER) END AS sample_rate,
            CAST(CASE WHEN m = 2 THEN 4 WHEN m = 3 THEN 24
                 WHEN m = 4 THEN 32 ELSE 8 END AS INTEGER) AS bit_depth,
            CAST(CASE WHEN m = 0 THEN n_u WHEN m = 1 THEN n_a
                 WHEN m = 2 THEN nblk * 17 WHEN m = 3 THEN n_24
                 ELSE n_32 END AS BIGINT) AS n_frames,
            CAST(CASE WHEN m = 0 THEN n_u WHEN m = 1 THEN n_a * 2
                 WHEN m = 2 THEN nblk * 17 WHEN m = 3 THEN n_24
                 ELSE n_32 * 2 END AS BIGINT) AS n_samples,
            t.s AS sum, t.ss AS sumsq, t.pk AS peak, t.clp AS n_clipped,
            CAST(CASE WHEN t.pk = 0 THEN 1 ELSE 0 END AS INTEGER) AS silent,
            ROUND(sqrt(CAST(t.ss AS DOUBLE) / greatest(t.ns, 1)), 6) AS rms,
            ROUND(CAST(t.clp AS DOUBLE) / greatest(t.ns, 1), 6) AS clip_rate,
            c.ch_sumsq, c.ch_peak
     FROM d JOIN tot t ON d.id = t.id JOIN chj c ON d.id = c.id"""
  }

  /** DuckDB replay of q167's MS-ADPCM decode, generated from the SAME
    * adaptation/coefficient constants as [[graft.expr.AudioStats]].
    * Per-channel state is independent (channels only interleave in
    * the byte layout), so the recurrence keys on (doc, channel) with
    * channel c's k-th nibble at global position k·ch+c. The delta
    * bomb-guard cap is part of the decode contract and is replayed.
    */
  private def msAdpcmOracle: String = {
    val at = graft.expr.AudioStats.MsAdapt.mkString("[", ",", "]")
    val c1 = graft.expr.AudioStats.MsStdCoef1.mkString("[", ",", "]")
    val c2 = graft.expr.AudioStats.MsStdCoef2.mkString("[", ",", "]")
    val cap = graft.expr.AudioStats.MsDeltaCap
    s"""WITH RECURSIVE d AS (
         SELECT doc_id AS id, doc_id % 2 AS m FROM documents),
       hdr AS (
         SELECT id, 0 AS c, 1 AS ch, 18 AS nper, id % 7 AS pi,
                (id*13) % 2000 + 16 AS d0,
                CASE WHEN (id*57) % 65536 >= 32768
                     THEN (id*57) % 65536 - 65536
                     ELSE (id*57) % 65536 END AS s1,
                CASE WHEN (id*91) % 65536 >= 32768
                     THEN (id*91) % 65536 - 65536
                     ELSE (id*91) % 65536 END AS s2
         FROM d WHERE m = 0
         UNION ALL
         SELECT id, c, 2, 10, (id + c) % 7,
                (id*13 + c*71) % 2000 + 16,
                CASE WHEN (id*57 + c*1237) % 65536 >= 32768
                     THEN (id*57 + c*1237) % 65536 - 65536
                     ELSE (id*57 + c*1237) % 65536 END,
                CASE WHEN (id*91 + c*3001) % 65536 >= 32768
                     THEN (id*91 + c*3001) % 65536 - 65536
                     ELSE (id*91 + c*3001) % 65536 END
         FROM d CROSS JOIN range(0, 2) r(c) WHERE m = 1),
       decms AS (
         SELECT id, c, ch, nper, pi, 0 AS k, s1, s2, d0 AS dl FROM hdr
         UNION ALL
         SELECT id, c, ch, nper, pi, k + 1,
           LEAST(32767, GREATEST(-32768,
             ((s1 * ($c1)[pi + 1] + s2 * ($c2)[pi + 1]) >> 8) + sn * dl)),
           s1,
           LEAST($cap, GREATEST(16, (($at)[nib + 1] * dl) >> 8))
         FROM (
           SELECT q0.*,
             CASE WHEN nib >= 8 THEN nib - 16 ELSE nib END AS sn
           FROM (
             SELECT *, (id*11 + (k*ch + c)*5) % 16 AS nib
             FROM decms WHERE k < nper) q0) q1),
       sv AS (
         SELECT id, c AS chn, s2 AS v FROM hdr
         UNION ALL
         SELECT id, c AS chn, s1 AS v FROM hdr
         UNION ALL
         SELECT id, c AS chn, s1 AS v FROM decms WHERE k >= 1),
       chs AS (SELECT id, chn, CAST(SUM(v*v) AS BIGINT) AS csq,
                 CAST(MAX(ABS(v)) AS INTEGER) AS cpk
               FROM sv GROUP BY id, chn),
       chj AS (SELECT id,
                 string_agg(CAST(csq AS VARCHAR), ',' ORDER BY chn)
                   AS ch_sumsq,
                 string_agg(CAST(cpk AS VARCHAR), ',' ORDER BY chn)
                   AS ch_peak
               FROM chs GROUP BY id),
       tot AS (SELECT id, CAST(SUM(v) AS BIGINT) AS s,
                 CAST(SUM(v*v) AS BIGINT) AS ss,
                 CAST(MAX(ABS(v)) AS INTEGER) AS pk,
                 CAST(SUM(CASE WHEN v >= 32767 OR v <= -32768
                          THEN 1 ELSE 0 END) AS BIGINT) AS clp,
                 COUNT(*) AS ns
               FROM sv GROUP BY id)
     SELECT d.id AS media_id, 'wav_ms_adpcm' AS format,
            CAST(CASE WHEN m = 0 THEN 1 ELSE 2 END AS INTEGER) AS channels,
            CAST(11025 AS INTEGER) AS sample_rate,
            CAST(4 AS INTEGER) AS bit_depth,
            CAST(CASE WHEN m = 0 THEN 20 ELSE 12 END AS BIGINT) AS n_frames,
            CAST(CASE WHEN m = 0 THEN 20 ELSE 24 END AS BIGINT) AS n_samples,
            t.s AS sum, t.ss AS sumsq, t.pk AS peak, t.clp AS n_clipped,
            CAST(CASE WHEN t.pk = 0 THEN 1 ELSE 0 END AS INTEGER) AS silent,
            ROUND(sqrt(CAST(t.ss AS DOUBLE) / greatest(t.ns, 1)), 6) AS rms,
            ROUND(CAST(t.clp AS DOUBLE) / greatest(t.ns, 1), 6) AS clip_rate,
            c.ch_sumsq, c.ch_peak
     FROM d JOIN tot t ON d.id = t.id JOIN chj c ON d.id = c.id"""
  }

  /** q173: the markdown chain generated from
    * [[graft.functions.MarkdownToText.Steps]] — the same constants
    * the Column form folds, so the two surfaces cannot drift. The
    * constructed page replays verbatim (real newlines inside the SQL
    * literal; Verify's JSON escaper round-trips them).
    */
  private def markdownOracle: String = {
    val md = "'# Title ' || doc_id || '\n\n> intro quote\n\n- first item\n- " +
      "[link text](http://x/' || doc_id || ')\n\n**bold** and `code span` " +
      "here\n\n```\nfenced code dropped\n```\n\n' || COALESCE(text, '')"
    val chained = graft.functions.MarkdownToText.Steps.foldLeft(md) {
      case (acc, (pat, rep)) => s"regexp_replace($acc, '$pat', '$rep', 'g')"
    }
    s"""SELECT doc_id,
              substr(trim(regexp_replace($chained, '\\s+', ' ', 'g')), 1, 120)
                AS clean_text
       FROM documents"""
  }

  /** q174: the whole crawl→corpus pipeline reduces to a per-doc
    * construction replay — only the body paragraph survives the
    * boilerplate stage, its decoded prefix is arm-determined (the
    * UTF-8 and Latin-1 arms decode to the SAME 'café', the sniffed
    * cp1252 arm to curly quotes), and the dedup key is the md5 of the
    * collapsed text with first-file-id-wins.
    */
  private def webPipelineOracle: String = {
    val para = "(CASE WHEN doc_id % 3 = 2 THEN '<p>“q” ' " +
      "ELSE '<p>café ' END || COALESCE(text, ''))"
    val t = html2textSql(para)
    s"""WITH f AS (
         SELECT doc_id, $t AS t,
                CASE WHEN doc_id % 3 = 0 THEN 'utf-8'
                     WHEN doc_id % 3 = 1 THEN 'iso-8859-1'
                     ELSE 'windows-1252' END AS charset
         FROM documents),
       g AS (SELECT doc_id, charset,
               CASE WHEN length(t) >= 30 THEN t ELSE '' END AS clean_text,
               CASE WHEN length(t) >= 30 THEN 1 ELSE 0 END AS nk
             FROM f),
       k AS (SELECT doc_id, charset, clean_text, nk,
               md5(clean_text) AS text_md5,
               CASE WHEN doc_id =
                 MIN(doc_id) OVER (PARTITION BY md5(clean_text))
                 THEN 1 ELSE 0 END AS kept
             FROM g)
     SELECT doc_id AS file_id,
            'http://example.com/page/' || doc_id AS url,
            charset, substr(clean_text, 1, 100) AS clean_text,
            CAST(nk AS BIGINT) AS n_kept, text_md5,
            CAST(kept AS INTEGER) AS kept
     FROM k"""
  }

  /** q175: the spine orders ch2 ("Doc N") before ch1 ("alpha " +
    * text), each chapter through the shared HTML chain, joined by
    * newlines.
    */
  /** The q176 oracle: each arm's text is construction-known — the raw
    * arm is the sanitized doc text (same three regexp steps, same
    * 80-char cut) plus the CMap-decoded é and the page line; the hex
    * and flate arms are literals.
    */
  private def pdfOracle: String =
    """SELECT doc_id,
            substr(
              substr(regexp_replace(regexp_replace(regexp_replace(
                  COALESCE(text, ''),
                  '[^ -~]', ' ', 'g'), '[()\\]', ' ', 'g'),
                  'stream|endobj|beginbf', ' ', 'g'), 1, 80)
              || 'é' || chr(10) || 'page ' || doc_id || chr(10)
              || 'hex arm doc ' || doc_id || '-ok' || chr(10)
              || 'flate arm ok' || chr(10),
            1, 220) AS pdf_text
     FROM documents"""

  private def epubOracle: String = {
    val ch1 = html2textSql("('<p>alpha ' || COALESCE(text, '') || '</p>')")
    s"""SELECT doc_id,
              substr('Doc ' || doc_id || chr(10) || $ch1 || chr(10), 1, 150)
                AS book_text
       FROM documents"""
  }

  /** The q19 HTML→text regexp chain as a DuckDB expression over an
    * arbitrary SQL fragment (the q171 oracle applies it per block and
    * per anchor set, so the inline form of [[htmlToTextOracle]]
    * doesn't fit).
    */
  private def html2textSql(e: String): String = {
    val steps: Seq[(String, String)] = Seq(
      "(?is)<script[^>]*>.*?</script>|<style[^>]*>.*?</style>" -> "' '",
      "(?s)<!--.*?-->" -> "' '",
      "<[^>]+>" -> "' '",
      "&nbsp;" -> "' '",
      "&amp;" -> "'&'",
      "&lt;" -> "'<'",
      "&gt;" -> "'>'",
      "&quot;" -> "'\"'",
      "&#39;" -> "chr(39)",
      "&apos;" -> "chr(39)",
      "&#\\d+;" -> "' '",
      "\\s+" -> "' '")
    "trim(" + steps.foldLeft(e) { case (acc, (p, r)) =>
      s"regexp_replace($acc, '$p', $r, 'g')"
    } + ")"
  }

  /** q171: replay split → per-block text/anchor lengths → the integer
    * link-density keep rule → ordered reassembly.
    */
  private def htmlBoilerplateOracle: String = {
    val sep = "(?i)</(?:p|div|li|td|h[1-6]|article|section)>|<br[^>]*>"
    s"""WITH src AS (
         SELECT doc_id,
           '<div><a href="/">Home</a> <a href="/a">About</a> <a href="/c">Contact us</a></div><p>'
             || COALESCE(text, '')
             || '</p><p>Read on</p><div>meta <a href="/p">Privacy</a> <a href="/t">Terms of use</a></div>'
             AS html
         FROM documents),
       arrs AS (SELECT doc_id, regexp_split_to_array(html, '$sep') AS arr
                FROM src),
       b AS (SELECT doc_id, k AS pos, arr[k+1] AS blk
             FROM arrs CROSS JOIN range(0, 8) r(k)
             WHERE k < len(arr)),
       f AS (SELECT doc_id, pos,
               ${html2textSql("blk")} AS t,
               ${html2textSql(
        // DuckDB's array_to_string of an EMPTY list is NULL (Spark's
        // array_join is '') — anchor-free blocks must not NULL the rule
        "COALESCE(array_to_string(regexp_extract_all(blk, '(?is)<a[^>]*>(.*?)</a>', 1), ' '), '')")}
                 AS at
             FROM b),
       g AS (SELECT doc_id, pos, t,
               (length(t) >= 30 AND length(at)*100 <= length(t)*40) AS keep
             FROM f)
     SELECT doc_id,
            COALESCE(string_agg(CASE WHEN keep THEN t END, ' ' ORDER BY pos),
                     '') AS clean_text,
            COUNT(*) AS n_blocks,
            CAST(COUNT(*) FILTER (WHERE keep) AS BIGINT) AS n_kept
     FROM g GROUP BY doc_id"""
  }

  private def langIdOracle: String = {
    val hitExprs = TextAnalysis.StopwordLists.map { case (lang, words) =>
      val lst = words.map(w => s"'$w'").mkString("[", ",", "]")
      s"len(list_filter($lst, w -> list_contains(toks, w))) AS h_$lang"
    }.mkString(",\n                  ")
    // tie-break = language code ascending, matching TextAnalysis.langId
    """WITH base AS (
         SELECT doc_id,
                list_filter(regexp_split_to_array(lower(COALESCE(text, '')), '[^a-z0-9]+'),
                            x -> x <> '') AS toks
         FROM documents),
       hits AS (SELECT doc_id, HITS FROM base),
       mx AS (SELECT doc_id, h_en, h_de, h_es, h_fr,
                     greatest(h_en, h_de, h_es, h_fr) AS m FROM hits)
     SELECT doc_id,
            CASE WHEN m = 0 THEN 'und'
                 WHEN h_de = m THEN 'de'
                 WHEN h_en = m THEN 'en'
                 WHEN h_es = m THEN 'es'
                 ELSE 'fr' END AS pred_lang
     FROM mx""".replace("HITS", hitExprs)
  }
}
