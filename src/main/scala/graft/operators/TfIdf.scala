package graft.operators

import graft.functions.TextAnalysis
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** C20: TF-IDF cosine similarity of every document against a query text
  * (the reference scores job descriptions against a resume,
  * src/utils/ats_matcher.py:20-37, via sklearn TfidfVectorizer).
  *
  * Implemented relationally rather than with hashing-based spark.ml
  * stages: an exploded (doc, term) postings table → term frequencies →
  * document frequencies → smooth idf = ln((N+1)/(df+1)) + 1 → weights.
  * This is the formulation that scales (no fixed-width hash vectors, no
  * collisions, dictionary-free) and its arithmetic is reproducible:
  * weights are rounded to 6dp and accumulated as DECIMAL(18,6) so the
  * dot product and norms are exact, order-independent sums — the DuckDB
  * oracle matches bit-for-bit.
  *
  * Query terms missing from the corpus still contribute to the query
  * norm (df = 0) but cannot contribute to any dot product.
  */
object TfIdf {

  private val wDec = DecimalType(18, 6)

  /** Smooth idf ln((N+1)/(df+1)) + 1, with N read from the broadcast
    * one-row `_nd` column every consumer cross-joins in.
    */
  private def smoothIdf(df0: Column): Column =
    log((col("_nd") + lit(1)).cast(DoubleType) / (df0 + lit(1))) + lit(1.0)

  /** Document frequency per term off a (_id, _t, _tf) tf frame.
    *
    * `sum(least(_tf, 1))` is exactly `count(1)` — every tf row has
    * `_tf >= 1` by construction (it is a groupBy-count), so each row
    * contributes exactly 1 — but unlike `count(1)` it REFERENCES `_tf`,
    * which keeps column pruning from rewriting the shared tf subtree
    * underneath: with `count(1)`, the df branch's copy of tf drops its
    * count buffer, the two (_id,_t) shuffle children stop being
    * canonically equal, and the whole scan→tokenize→explode→partial-agg
    * →Exchange pipeline is executed TWICE per query (the r17 q97/q36
    * before-plans show two full corpus subtrees). With the reference
    * kept, both consumers sit on one ReusedExchange: one tokenize pass,
    * one corpus shuffle, at any scale. (`count(_tf)` would not work:
    * NullPropagation rewrites count over a non-nullable column back to
    * `count(1)`.)
    */
  private def docFreq(tf: DataFrame): DataFrame =
    tf.groupBy("_t").agg(sum(least(col("_tf"), lit(1L))).as("_df"))

  /** (idCol, sim): TF-IDF cosine similarity in [0,1], 6dp, for every
    * document (0.0 when nothing overlaps).
    */
  def similarity(docs: DataFrame, idCol: String, textCol: String,
      queryText: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._

    // corpus size and query norm stay IN the plan as one-row aggregates
    // (broadcast into consumers), not driver actions: each eager scalar
    // costs a full job round-trip before the real query even starts —
    // measurable at interactive scale and a driver barrier at 100 TB.
    val nRow = broadcast(docs.agg(count(lit(1)).as("_nd")))
    val idf: Column => Column = smoothIdf

    // (doc, term) postings with term frequency
    // tf feeds dfreq + weights, so
    // the scan→tokenize→explode→aggregate chain is evaluated once per
    // consumer. Measured at sf0.1, that recompute is CHEAPER than
    // persisting either frame (2.7 s uncached vs 6.5 s with tf cached,
    // 16 s with weights cached too — columnar encode/decode of the
    // decimal postings dominates). At cluster scale the right
    // amortization is a materialized postings/weights TABLE (parquet,
    // bucketed by term) reused across many queries, not a per-query
    // cache.
    val postings = docs
      .select(col(idCol).as("_id"),
        explode(TextAnalysis.tokens(col(textCol))).as("_t"))
    val tf = postings.groupBy("_id", "_t").agg(count(lit(1)).as("_tf"))
    val dfreq = docFreq(tf)

    val weights = tf.crossJoin(nRow).join(dfreq, "_t")
      .select(col("_id"), col("_t"),
        round(col("_tf") * idf(col("_df")), 6).cast(wDec).as("_w"))

    // query vector: tf over the literal text, idf from the corpus
    val qTf = Seq(queryText).toDF("_qtext")
      .select(explode(TextAnalysis.tokens(col("_qtext"))).as("_t"))
      .groupBy("_t").agg(count(lit(1)).as("_tf"))
    val qWeights = broadcast(
      qTf.crossJoin(nRow).join(dfreq, Seq("_t"), "left_outer")
        .select(col("_t"),
          round(col("_tf") * idf(coalesce(col("_df"), lit(0L))), 6)
            .cast(wDec).as("_qw")))
    val qNormRow = broadcast(qWeights
      .agg(sqrt(sum(col("_qw") * col("_qw")).cast(DoubleType)).as("_qnorm")))

    // norm and dot product in one per-document aggregate: every weight
    // row counts toward the norm, and a row whose term is not in the
    // query adds nothing to the dot (`sum` skips the null product), so
    // `_dot` is null exactly when the document shares no query term
    val perDoc = weights.join(qWeights, Seq("_t"), "left_outer")
      .groupBy(col("_id").as(idCol))
      .agg(sqrt(sum(col("_w") * col("_w")).cast(DoubleType)).as("_norm"),
        sum(col("_w") * col("_qw")).cast(DoubleType).as("_dot"))

    docs.select(col(idCol))
      .join(perDoc, Seq(idCol), "left_outer")
      .crossJoin(qNormRow)
      .select(col(idCol),
        when(col("_dot").isNotNull && col("_norm") > 0 && col("_qnorm") > 0,
          round(col("_dot") / (col("_norm") * col("_qnorm")), 6))
          .otherwise(lit(0.0)).as("sim"))
  }

  /** Okapi BM25 relevance of every document against a query text — the
    * standard lexical-retrieval scoring function (Robertson/Sparck
    * Jones; the default in Lucene/Elasticsearch), and the usual
    * first-stage retriever of a RAG or hard-negative-mining pipeline
    * next to the embedding ANN path. Differs from [[similarity]]'s
    * TF-IDF cosine by saturating term frequency (k1) and normalizing by
    * document length (b):
    *
    *   score(D,Q) = Σ_{t ∈ Q} idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·|D|/avgdl))
    *   idf(t)     = ln(1 + (N − df + 0.5)/(df + 0.5))
    *
    * Same reproducibility recipe as the rest of the family: every term
    * contribution rounds to 6dp and accumulates as DECIMAL(18,6) (an
    * exact, order-independent sum the DuckDB oracle matches
    * bit-for-bit), constants are combined in-plan rather than
    * pre-folded so both engines execute identical double arithmetic,
    * and the corpus statistics (N, total token count) ride as one-row
    * broadcast aggregates — no driver action. Docs sharing no term with
    * the query score 0.0. Output: (idCol, bm25).
    */
  def bm25(docs: DataFrame, idCol: String, textCol: String,
      queryText: String, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    // the query is a PLAN-TIME literal, so the whole scorer can be
    // shuffle-free: tokenize the query on the driver (same contract as
    // TextAnalysis.tokens), give each doc one per-term occurrence
    // count as a projection, take (N, total tokens, per-term df) in a
    // SINGLE one-row corpus aggregate (broadcast), and score in a
    // second map-only pass. Zero joins on corpus-sized sides, zero
    // corpus shuffles, and a filter above the scorer pushes straight
    // into the parquet scan (the stats side carries no doc columns, so
    // pushdown cannot corrupt the corpus statistics). The previous
    // shape computed document length by aggregating the FULL postings
    // table and read the corpus six times — 19.7 s at 50× measured
    // honestly vs 8-10 s for this form. The per-term occurrence count
    // is a higher-order `filter` (interpreted): ~terms × tokens ops
    // per row, linear and embarrassingly parallel; a native expression
    // is the upgrade path if a production query carries many terms.
    val terms: Seq[String] =
      "[a-z0-9]+".r.findAllIn(queryText.toLowerCase).toSeq.distinct
    if (terms.isEmpty)
      return docs.select(col(idCol), lit(0.0).as("bm25"))
    val ts = graft.functions.TextAnalysis.tokens(coalesce(col(textCol), lit("")))
    val base = docs.select(col(idCol), ts.as("_ts"))
      .select(Seq(col(idCol), size(col("_ts")).cast(LongType).as("_dl")) ++
        terms.indices.map(i =>
          size(filter(col("_ts"), x => x === lit(terms(i))))
            .cast(LongType).as(s"_tf$i")): _*)
    // the occurrence projection feeds TWO consumers (the one-row stats
    // aggregate and the scorer), and the stats ride a broadcast
    // subquery — a boundary exchange reuse cannot cross — so the
    // tokenize + per-term HOF filters run twice per query. Pinning the
    // projection (terms+2 LONGS per doc, the favorable columnar-cache
    // case) halves that, but measured locally NEUTRAL (same-JVM A/B
    // min 0.39 vs 0.40, med 0.45 vs 0.47 — the tp'd passes overlap on
    // idle cores) AND the pin sits between a caller's filter and the
    // parquet scan, killing scan pushdown for filtered consumers (the
    // ScaleSpec TVF-pushdown gate: a `doc_id < 3` retrieval must prune
    // at the scan, not decode the corpus into a cache first). So it
    // recomputes.
    val statAggs =
      Seq(sum(col("_dl")).cast(DoubleType).as("_ttok")) ++
        terms.indices.map(i =>
          sum(when(col(s"_tf$i") > 0, 1L).otherwise(0L)).as(s"_df$i"))
    val stats = broadcast(
      base.agg(count(lit(1)).as("_nd"), statAggs: _*))
    val scored = base.crossJoin(stats)
    val termW = terms.indices.map { i =>
      val tf = col(s"_tf$i")
      val dfq = col(s"_df$i")
      val idf = log(lit(1.0) +
        (col("_nd") - dfq + lit(0.5)) / (dfq + lit(0.5)))
      when(tf > 0,
        round(idf * (tf * (lit(k1) + lit(1.0))) /
          (tf + lit(k1) * (lit(1.0) - lit(b) + lit(b) * (col("_dl") /
            (col("_ttok") / col("_nd"))))), 6).cast(wDec))
        .otherwise(lit(0).cast(wDec))
    }
    scored.select(col(idCol),
      round(termW.reduce(_ + _).cast(DoubleType), 6).as("bm25"))
  }

  /** Top-`k` TF-IDF terms per document — the keyword/topic-surfacing
    * primitive (and the feature a doc-level index stores). Same
    * postings → tf → df → smooth-idf arithmetic as [[similarity]],
    * weights rounded to 6dp so the ranking is engine-reproducible;
    * ties break on term ascending.
    *
    * Shape: two map-side-combined aggregations (tf, df), a broadcast
    * or shuffle join on term, then a per-doc `row_number <= k` that
    * Spark rewrites to WindowGroupLimit — each map task keeps only k
    * candidates per document before the exchange, so the sort never
    * sees the full postings table.
    */
  def topTerms(docs: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    val postings = docs
      .select(col(idCol).as("_id"),
        explode(TextAnalysis.tokens(col(textCol))).as("_t"))
    val tf = postings.groupBy("_id", "_t").agg(count(lit(1)).as("_tf"))
    rankFromTf(tf, docs.agg(count(lit(1)).as("_nd")), k, idCol)
  }

  /** Materialize the corpus term-frequency postings as a parquet table
    * BUCKETED BY TERM — the cluster-scale amortization the per-query
    * forms note in [[similarity]]: tokenize/explode/aggregate once,
    * then every downstream consumer (df counts, weight joins, query
    * dots) reads term-clustered, term-sorted buckets and the whole
    * term-keyed dataflow runs WITHOUT a single exchange. At 100 TB the
    * inverted index is built once per corpus snapshot, not per query.
    */
  def writePostings(docs: DataFrame, idCol: String, textCol: String,
      table: String, buckets: Int = 32): Unit = {
    val tf = docs
      .select(col(idCol).as("_id"),
        explode(TextAnalysis.tokens(col(textCol))).as("_t"))
      .groupBy("_id", "_t").agg(count(lit(1)).as("_tf"))
    Scale.writeBucketed(tf, table, "_t", buckets)
  }

  /** [[topTerms]] over a materialized [[writePostings]] table. The df
    * aggregation and the tf⋈df weight join both key on the bucket
    * column, so neither shuffles (ScaleSpec proves exactly one
    * exchange survives: the final per-doc ranking). `nDocs` is the
    * corpus size for the idf; pass it from the snapshot metadata —
    * the default recomputes it from the postings (token-less docs
    * never reach the index, so supply the true count when they exist).
    *
    * `table` must hold (_id, _t, _tf) rows with `_tf` non-null and
    * `>= 1`, one row per (document, term), as [[writePostings]] writes
    * them. The document frequency counts rows as `sum(least(_tf, 1))`
    * (see `docFreq`), which equals `count(1)` only under that
    * contract: a null or 0 `_tf` row would lower a term's df.
    */
  def topTermsFromPostings(spark: org.apache.spark.sql.SparkSession,
      table: String, k: Int, nDocs: Long = -1L,
      outIdCol: String = "doc_id"): DataFrame = {
    val tf = spark.table(table)
    val nRow = if (nDocs >= 0) tf.sparkSession.range(1).select(lit(nDocs).as("_nd"))
      else tf.select(countDistinct(col("_id")).as("_nd"))
    rankFromTf(tf, nRow, k, outIdCol)
  }

  /** Shared ranking tail of the topTerms family: smooth-idf weights
    * from a (_id, _t, _tf) postings frame, then the
    * WindowGroupLimit-pruned per-doc top-k. `nDocsRow` is a one-row
    * (_nd) frame broadcast into the weight projection — kept in the
    * plan, never a driver action.
    */
  private def rankFromTf(tf: DataFrame, nDocsRow: DataFrame, k: Int,
      outIdCol: String): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    val dfreq = docFreq(tf)
    // plain join: AQE broadcasts the vocabulary-bounded df side when
    // it is actually tiny, and otherwise swaps the sort-merge join for
    // a shuffled hash join by real build size (Graft.tune enables the
    // conversion) — the corpus-sized postings are never fully sorted,
    // and no strategy is pinned by hint (the hinted r4 form measured no
    // faster in a same-JVM A/B, SCALE.md round 6)
    val weights = tf.crossJoin(broadcast(nDocsRow)).join(dfreq, "_t")
      .select(col("_id"), col("_t"),
        round(col("_tf") * smoothIdf(col("_df")), 6).as("_w"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_id")).orderBy(col("_w").desc, col("_t"))
    weights.withColumn("_rnk", row_number().over(w))
      .filter(col("_rnk") <= k)
      .select(col("_id").as(outIdCol), col("_rnk").cast(LongType).as("rnk"),
        col("_t").as("term"), col("_w").as("weight"))
  }
}
