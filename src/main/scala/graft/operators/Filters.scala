package graft.operators

import graft.functions.Normalize
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Relational filter operators (SURVEY.md §2.2, F1-F8).
  *
  * All filters are single `Column` predicates so Catalyst can fuse them
  * (`CombineFilters`) and push them into the parquet scan
  * (`PushDownPredicate`) — the reference hand-orders them
  * (run_job_filter.py:329-348); we declare and let the optimizer order.
  */
object Filters {

  /** F1: days-lookback date filter (reference: run_job_filter.py:112-152).
    * Rows whose `tsCol` fails to parse are dropped (NaT semantics).
    * `daysBack <= 0` disables the filter, as in the reference.
    * `asOf` is a captured batch timestamp — one `now` per run
    * (SURVEY §7.4), never per-row `current_timestamp()`.
    */
  def dateRange(tsCol: Column, daysBack: Int, asOf: java.sql.Timestamp): Column =
    if (daysBack <= 0) lit(true)
    else tsCol.isNotNull && tsCol >= (lit(asOf) - expr(s"INTERVAL $daysBack DAYS"))

  /** F2: hours-lookback variant (reference: run_ats_enrichment.py:528-537). */
  def hoursRange(tsCol: Column, hoursBack: Int, asOf: java.sql.Timestamp): Column =
    if (hoursBack <= 0) lit(true)
    else tsCol.isNotNull && tsCol >= (lit(asOf) - expr(s"INTERVAL $hoursBack HOURS"))

  /** F3: non-empty-content filter — every required column must be
    * non-null, non-whitespace, and not the literal 'nan' artifact
    * (reference: run_job_filter.py:155-203).
    */
  def nonEmptyContent(requiredCols: Seq[String]): Column =
    requiredCols.map(c => !Normalize.isBlankish(col(c))).reduce(_ && _)

  /** F4: keyword exclusion — per (column → keywords) config, drop rows
    * where any keyword appears in the column; case-insensitive by
    * default; null column treated as non-match (pandas `na=False`)
    * (reference: run_job_filter.py:206-237; config/config.yaml:103-183).
    */
  def keywordExclusion(
      rules: Map[String, Seq[String]],
      caseSensitive: Boolean = false): Column = {
    val perCol = rules.toSeq.sortBy(_._1).flatMap { case (c, kws) =>
      kws.map { kw =>
        val (colE, kwE) =
          if (caseSensitive) (Normalize.nullToEmpty(col(c)), lit(kw))
          else (lower(Normalize.nullToEmpty(col(c))), lit(kw.toLowerCase))
        !colE.contains(kwE)
      }
    }
    if (perCol.isEmpty) lit(true) else perCol.reduce(_ && _)
  }

  /** F5: drop config rows with blank url / worksheet name
    * (reference: src/etl/rss_feed_etl.py:55-61).
    */
  def requireNonBlank(cols: Seq[String]): Column =
    cols.map(c => length(trim(Normalize.nullToEmpty(col(c)))) > 0).reduce(_ && _)

  /** Deterministic hash sampling: keep a row iff
    * md5(key ∥ salt) mod 1e6 < fraction·1e6. The reproducible way to
    * sample/split training data at any scale — no RNG state, stable
    * under re-runs, re-partitioning and engine changes (md5-derived,
    * so an external system selects the identical subset); different
    * salts give independent samples (train/validation splits).
    */
  def hashSample(key: Column, fraction: Double, salt: String = ""): Column =
    pmod(graft.functions.TextAnalysis.md5Long(
      concat(key.cast(org.apache.spark.sql.types.StringType), lit(salt))),
      lit(1000000L)) <
      math.round(fraction * 1000000).toLong

  /** Deterministic train/validation/test split assignment: each key
    * maps to the same md5-derived bucket [[hashSample]] uses
    * (md5(key ∥ salt) mod 1e6), and the bucket falls into one of the
    * cumulative weight ranges — so splits are disjoint, exhaustive,
    * stable under re-runs/re-partitioning, and reproducible by any
    * engine with md5. A row's split NEVER changes when other rows are
    * added or removed (the property random `randomSplit` lacks), which
    * is what makes the split safe for incremental corpora: yesterday's
    * test document cannot silently migrate into today's train set.
    * Weights must be positive and sum to 1 (±1e-6); the last split
    * absorbs the rounding remainder so every bucket is covered.
    */
  def splitAssign(key: Column, splits: Seq[(String, Double)],
      salt: String = ""): Column = {
    require(splits.nonEmpty, "splitAssign: no splits given")
    require(splits.forall(_._2 > 0), s"splitAssign: non-positive weight in $splits")
    val total = splits.map(_._2).sum
    require(math.abs(total - 1.0) < 1e-6,
      s"splitAssign: weights must sum to 1, got $total")
    val bucket = pmod(graft.functions.TextAnalysis.md5Long(
      concat(key.cast(org.apache.spark.sql.types.StringType), lit(salt))),
      lit(1000000L))
    val bounds = splits.init.scanLeft(0L) { case (acc, (_, w)) =>
      acc + math.round(w * 1000000)
    }.tail
    val cases = splits.init.zip(bounds).foldLeft(
      Option.empty[org.apache.spark.sql.Column]) {
      case (acc, ((name, _), hi)) =>
        Some(acc.fold(when(bucket < hi, name))(_.when(bucket < hi, name)))
    }
    cases.fold(lit(splits.last._1))(_.otherwise(splits.last._1))
  }

  /** Deterministic weighted sampling without replacement (the A-ES /
    * exponential-jumps scheme): each row ranks by ln(u)/w where u is
    * its md5-uniform in (0,1] and w its weight — a monotone transform
    * of the classic u^(1/w) key, so the top-k by this key IS a weighted
    * sample without replacement, reproducible in any engine with md5
    * and ln. Keys are rounded to 9dp with a total-order tie-break so
    * the selected set is engine-identical. Rows with non-positive
    * weight are excluded (their key degenerates to −∞).
    *
    * The global top-k window is map-side pruned (WindowGroupLimit), so
    * the full sort never materializes — same shape as any ranked
    * top-k. Returns the sampled rows + their `sample_key`.
    */
  def weightedSampleTopK(df: DataFrame, keyCol: String, weight: Column,
      k: Int, salt: String = ""): DataFrame = {
    val u = (pmod(graft.functions.TextAnalysis.md5Long(
      concat(col(keyCol).cast(org.apache.spark.sql.types.StringType), lit(salt))),
      lit(1000000L)) + 1) / lit(1000000.0)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("sample_key").desc, col(keyCol))
    df.filter(weight > 0)
      .withColumn("sample_key",
        round(log(u) / weight.cast(org.apache.spark.sql.types.DoubleType), 9))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= k)
      .drop("_rn")
  }

  /** Per-key frequency cap: keep at most `n` rows per `keyCol`, chosen
    * in deterministic md5 order of `idCol` (ties → id ascending). The
    * web-corpus curation primitive "at most N documents per domain /
    * source" — a cap that must be reproducible across runs and engines,
    * which a `rand()`-ordered row_number is not.
    *
    * Scale shape: the `row_number <= n` filter triggers Spark's
    * WindowGroupLimit rewrite, so each map task pre-prunes its groups
    * to n rows BEFORE the shuffle — the exchange carries O(keys · n)
    * rows, not the whole table, and no global sort materializes.
    */
  def perKeyCap(df: DataFrame, keyCol: String, idCol: String, n: Int): DataFrame = {
    require(n > 0, s"cap must be positive: $n")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol))
      .orderBy(md5(col(idCol).cast(org.apache.spark.sql.types.StringType)),
        col(idCol))
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= n)
      .withColumnRenamed("_rn", "pick_order")
  }

  /** O3: publish-date ordering with the reference's raw-string
    * fallback (src/etl/rss_feed_etl.py:128-132, 300-303): sort by the
    * parsed date desc + link asc; when NO date in the whole frame
    * parses, fall back to ordering on the raw string desc + link asc.
    * The parse probe is one scalar aggregate (the reference's
    * `isnull().all()`), not a per-row collect.
    */
  def sortPublishedWithFallback(df: DataFrame, publishedCol: String,
      linkCol: String): DataFrame = {
    val parsed = Normalize.tsParse(col(publishedCol))
    val anyParsed = df
      .agg(max(when(parsed.isNotNull, 1).otherwise(0)).as("p"))
      .collect()(0).getAs[Any]("p") == 1
    if (anyParsed) df.orderBy(parsed.desc, col(linkCol).asc)
    else df.orderBy(col(publishedCol).desc, col(linkCol).asc)
  }

  /** F6's invalid primary key: null or blank. */
  def invalidKey(key: String): Column = col(key).isNull || trim(col(key)) === ""

  /** F6: primary-key validation — null/blank keys are invalid; returns
    * (validRows, invalidCount, duplicateKeyCount). The reference rejects
    * the frame on invalid keys and warns on duplicates
    * (src/etl/scd1_manager.py:179-215). Runs as one aggregate job —
    * never collects keys to the driver.
    */
  def validatePk(df: DataFrame, key: String): (DataFrame, Long, Long) = {
    val invalidPred = invalidKey(key)
    val stats = df
      .groupBy()
      .agg(
        sum(when(invalidPred, 1L).otherwise(0L)).as("invalid"),
        (count(col(key)) - countDistinct(col(key))).as("dups"))
      .collect()(0)
    val invalid = Option(stats.getAs[Any]("invalid")).fold(0L)(_.toString.toLong)
    val dups = Option(stats.getAs[Any]("dups")).fold(0L)(_.toString.toLong)
    (df.filter(!invalidPred), invalid, dups)
  }
}
