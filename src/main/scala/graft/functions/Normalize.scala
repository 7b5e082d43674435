package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Scalar normalization functions (SURVEY.md §2.8, C1-C19).
  *
  * Everything here is a pure `Column` composition over
  * `org.apache.spark.sql.functions` — fully codegen'd, no UDFs, so the
  * whole normalize chain stays inside WholeStageCodegen and can be
  * pushed/pruned/folded by Catalyst.
  */
object Normalize {

  /** C7: null → "" (reference `fillna('')`, src/etl/rss_feed_etl.py:258). */
  def nullToEmpty(c: Column): Column = coalesce(c, lit(""))

  /** C1+C4: trim + collapse internal whitespace runs to one space
    * (reference: core/etl.py:143).
    */
  def collapseWs(c: Column): Column = trim(regexp_replace(c, "\\s+", " "))

  /** Blank test used by filters: null, whitespace-only, or the pandas
    * `'nan'` artifact the reference explicitly drops
    * (reference: run_job_filter.py:184-185).
    */
  def isBlankish(c: Column): Column =
    c.isNull || trim(c) === "" || trim(c) === "nan"

  /** C9: string → timestamp with coerce-to-null semantics
    * (pandas `to_datetime(errors="coerce")`). Multi-format fallback
    * chain; first successful parse wins. RFC-822/RSS dates ("Wed, 10
    * Jan 2024 12:00:00 +0000") are handled by stripping the weekday
    * prefix — Spark's post-3.0 parser forbids 'EEE' in parse patterns.
    */
  def tsParse(c: Column, formats: Seq[String] = DefaultTsFormats): Column = {
    val noWeekday = regexp_replace(c, "^[A-Za-z]{3}, ", "")
    coalesce(
      (formats.map(f => try_to_timestamp(c, lit(f))) ++
        RfcTsFormats.map(f => try_to_timestamp(noWeekday, lit(f))) :+
        try_to_timestamp(c)): _*)
  }

  /** Formats the reference sees in practice: its own sink format plus
    * ISO variants (reference: core/etl.py:133, src/etl/rss_feed_etl.py:107).
    */
  val DefaultTsFormats: Seq[String] = Seq(
    "yyyy-MM-dd HH:mm:ss",
    "yyyy-MM-dd'T'HH:mm:ss",
    "yyyy-MM-dd"
  )

  /** RFC-822 bodies (weekday already stripped). */
  val RfcTsFormats: Seq[String] = Seq(
    "dd MMM yyyy HH:mm:ss Z",
    "d MMM yyyy HH:mm:ss Z"
  )

  /** C12: timestamp → the reference's sink string format
    * (reference: core/data_loader.py:424).
    */
  def tsFormat(c: Column): Column = date_format(c, "yyyy-MM-dd HH:mm:ss")

  /** C11: UTC → a display timezone (reference converts to US/Central,
    * src/rss_feed_etl/core/etl.py:127-133). Session tz stays pinned
    * UTC; conversion is explicit and only at the sink boundary.
    * "UTC" is the identity, so callers can thread a config tz through
    * unconditionally.
    */
  def toDisplayTz(c: Column, tz: String = "US/Central"): Column =
    if (tz == "UTC") c else from_utc_timestamp(c, tz)

  /** SCD2 effective-column format with UTC offset — the reference
    * formats effective_start/end with `%Y-%m-%d %H:%M:%S%z`
    * (src/etl/scd2_manager.py:178-182); 'Z' renders the same +0000
    * style offset.
    */
  def tsFormatOffset(c: Column): Column = date_format(c, "yyyy-MM-dd HH:mm:ssZ")

  /** C14: missing event time falls back to a fixed batch timestamp
    * (reference: core/etl.py:137-139 uses `now`; we take the captured
    * batch value so one merge sees one timestamp, SURVEY §7.4).
    */
  def tsOrBatch(c: Column, batchTs: java.sql.Timestamp): Column =
    coalesce(c, tsRef(batchTs))

  /** `ts` as a constant column that equals `lit(ts)` but that generated
    * code reads by reference ([[graft.expr.TimestampRef]]), so a plan
    * rebuilt for the next batch time reuses the compiled classes of the
    * last one. Use it for every per-run timestamp (batch and as-of
    * times); `tsFormat(lit(ts))` needs none, as it folds to a string
    * literal, which Spark already passes by reference. A comparison of
    * a scanned column with it is still pushed into the scan
    * ([[graft.plans.ScanTimestampLiterals]]).
    */
  def tsRef(ts: java.sql.Timestamp): Column =
    call_function(graft.expr.TimestampRef.FunctionName,
      lit(DateTimeUtils.fromJavaTimestamp(ts)))

  /** C15: int coercion with default 0 (reference: scd2_manager.py:74). */
  def intOrZero(c: Column): Column = coalesce(c.cast(IntegerType), lit(0))

  /** C8: first-non-blank pick — new value wins unless blank, else keep
    * history (notes preservation, reference: scd1_manager.py:113-129).
    */
  def preferNonBlank(newC: Column, histC: Column): Column =
    coalesce(nullif(trim(newC), lit("")), histC)

  /** C18: clamp a percentage to [0,100], junk → 0
    * (reference: run_ats_enrichment.py:446-496).
    */
  def clampPct(c: Column): Column = {
    val d = c.cast(DoubleType)
    when(d.isNotNull && d.between(0, 100), round(d, 2)).otherwise(lit(0.0))
  }

  /** P1: project to a canonical column list, adding missing columns as
    * empty string (schema self-healing, reference:
    * src/etl/rss_feed_etl.py:135-143, core/data_loader.py:136-145).
    */
  def canonicalSelect(df: DataFrame, cols: Seq[String]): DataFrame = {
    val present = df.columns.toSet
    df.select(cols.map(c => if (present(c)) col(c) else lit("").as(c)): _*)
  }

  /** C6: stringify every column (the reference's all-strings sink
    * boundary, src/etl/rss_feed_etl.py:145-147). Timestamps go through
    * the sink format so round-trips are stable.
    */
  def stringifyAll(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.map { f =>
      f.dataType match {
        case TimestampType => nullToEmpty(tsFormat(col(f.name))).as(f.name)
        case StringType    => nullToEmpty(col(f.name)).as(f.name)
        case _             => nullToEmpty(col(f.name).cast(StringType)).as(f.name)
      }
    }
    df.select(cols.toIndexedSeq: _*)
  }
}
