package graft.operators

import graft.functions.Normalize.{preferNonBlank, tsRef}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's signature merge strategies (SURVEY.md §2.9, M1-M5)
  * re-expressed as distributed dataflow.
  *
  * Design for scale:
  *  - Every merge is ONE shuffle: a single full-outer join on the key,
  *    followed by narrow projections. SCD2 needs up to two output rows
  *    per input pair (expire + new version); that is done with
  *    `inline(array_compact(array(...)))` in the SAME pass instead of
  *    unioning three re-computed join branches.
  *  - The reference's O(n) Python row loops (scd1_manager.py:97-129) are
  *    replaced by join + `coalesce` projections — the loops are the
  *    anti-pattern this engine exists to remove (SURVEY §4.1).
  *  - History is often much larger than a feed batch: Catalyst's
  *    JoinSelection will broadcast the small side automatically under
  *    the tuned threshold; callers can also pass pre-partitioned inputs
  *    bucketed by the key so the join is shuffle-free.
  *  - A merge batch sees exactly ONE timestamp (`batchTs`) — the
  *    reference captures a single `now` per run (scd2_manager.py:38).
  *
  * Classification of each joined row is exposed as a `_status` column
  * (insert/update/unchanged/preserve/remove) so the reference's
  * insert/update/remove counters (A1) are one `groupBy("_status").count`
  * away; `dropStatus=true` removes it for pipeline use.
  */
object Merges {

  val StatusCol = "_status"

  private def inNew = col("_in_new") === 1
  private def inHist = col("_in_hist") === 1

  /** J5: change-detection predicate — any compare column differs, with
    * null→"" on both sides (reference: core/data_loader.py:162-171).
    */
  def changed(compareCols: Seq[String], newSide: String => Column,
      histSide: String => Column): Column =
    compareCols
      .map(c => coalesce(newSide(c).cast(StringType), lit("")) =!=
        coalesce(histSide(c).cast(StringType), lit("")))
      .reduce(_ || _)

  /** Full-outer join of new batch vs history with presence flags; history
    * data columns renamed with `_hist` suffix. One shuffle (or zero with
    * broadcast/bucketing).
    */
  private def joinFrames(hist: DataFrame, nw: DataFrame, key: String): DataFrame = {
    val histR = hist.columns.filterNot(_ == key)
      .foldLeft(hist)((d, c) => d.withColumnRenamed(c, c + "_hist"))
      .withColumn("_in_hist", lit(1))
    val nwF = nw.withColumn("_in_new", lit(1))
    nwF.join(histR, Seq(key), "full_outer")
  }

  /** M1: SCD1 merge (reference: src/etl/scd1_manager.py:10-176).
    * Matched keys take the new row's values; new keys insert; history-only
    * keys are preserved (no deletes). Notes: history notes kept when the
    * new notes are blank (reference: scd1_manager.py:113-129).
    */
  def scd1(hist: DataFrame, nw: DataFrame, key: String,
      compareCols: Seq[String], notesCol: Option[String] = Some("notes"),
      dropStatus: Boolean = true): DataFrame =
    upsert(hist, nw, key, compareCols, notesCol, _ => inHist, dropStatus)

  /** M2: merge_upsert (reference: src/etl/rss_feed_etl.py:194-312;
    * core/data_loader.py:115-207). Same shape as SCD1 but the
    * change-detection gate decides what counts as an update, and —
    * in the packaged variant — notes are preserved only for changed
    * rows; the legacy variant preserves notes for every match.
    */
  def mergeUpsert(hist: DataFrame, nw: DataFrame, key: String,
      compareCols: Seq[String], notesCol: Option[String] = Some("notes"),
      preserveNotesOnlyWhenChanged: Boolean = false,
      dropStatus: Boolean = true): DataFrame =
    upsert(hist, nw, key, compareCols, notesCol,
      ch => if (preserveNotesOnlyWhenChanged) inHist && ch else inHist,
      dropStatus)

  /** The one body of [[scd1]] and [[mergeUpsert]]: one full-outer join,
    * new values win, history-only keys pass through. A matched row
    * merges its notes (new unless blank) where `mergeNotes(changed)`
    * holds and keeps the history notes otherwise.
    */
  private def upsert(hist: DataFrame, nw: DataFrame, key: String,
      compareCols: Seq[String], notesCol: Option[String],
      mergeNotes: Column => Column, dropStatus: Boolean): DataFrame = {
    val dataCols = nw.columns.filterNot(_ == key).toSeq
    val j = joinFrames(hist, nw, key)
    val ch = changed(compareCols, c => col(c), c => col(c + "_hist"))
    val out = dataCols.map { c =>
      val merged =
        if (notesCol.contains(c))
          when(inNew && mergeNotes(ch), preferNonBlank(col(c), col(c + "_hist")))
            .when(inNew && inHist, col(c + "_hist"))
            .when(inNew, col(c))
            .otherwise(col(c + "_hist"))
        else when(inNew, col(c)).otherwise(col(c + "_hist"))
      merged.as(c)
    }
    val status = when(inNew && inHist && ch, lit("update"))
      .when(inNew && inHist, lit("unchanged"))
      .when(inNew, lit("insert"))
      .otherwise(lit("preserve"))
    val res = j.select((col(key) +: out) :+ status.as(StatusCol): _*)
    if (dropStatus) res.drop(StatusCol) else res
  }

  /** M3: SCD2 merge (reference: src/etl/scd2_manager.py:8-196;
    * core/data_loader.py:209-314).
    *
    * History carries `effective_start`, `effective_end` (null = open) and
    * `current_flag`. Changed or removed current rows are expired
    * (`effective_end = batchTs`, `current_flag = 0`); changed and
    * brand-new keys get a fresh current version; untouched history — both
    * already-expired rows and unchanged current rows — passes through.
    * The packaged variant carries notes from the previous current version
    * into the new one (core/data_loader.py:290-292); set
    * `carryNotes=false` for the legacy reset behavior
    * (scd2_manager.py:134-139).
    *
    * `expireAbsent=true` (default) treats `nw` as a full snapshot:
    * current keys absent from it are expired, as in the reference.
    * `expireAbsent=false` treats `nw` as an incremental batch: absent
    * current keys pass through unchanged (status `preserve`), which is
    * what the streaming sinks need in the same single join.
    *
    * Single pass: one full-outer join of the new batch against CURRENT
    * history; each joined row emits 0-2 output rows via
    * `inline(array_compact(...))`. Expired history is unioned back
    * without touching the join.
    */
  def scd2(hist: DataFrame, nw: DataFrame, key: String,
      compareCols: Seq[String], batchTs: java.sql.Timestamp,
      notesCol: Option[String] = Some("notes"), carryNotes: Boolean = true,
      dropStatus: Boolean = true, expireAbsent: Boolean = true): DataFrame = {
    import graft.model.{Schemas => S}
    // presence flags are null on the side the full-outer join did not
    // match; the emit conditions negate them, so test them null-safely
    val inNew = col("_in_new").isNotNull
    val inHist = col("_in_hist").isNotNull
    val dataCols = nw.columns.filterNot(_ == key).toSeq
    val flag = coalesce(col(S.CurrentFlag).cast(IntegerType), lit(0))
    val expiredHist = hist.filter(flag =!= 1)
      .withColumn(StatusCol, lit("history"))
    val current = hist.filter(flag === 1)

    val j = joinFrames(current, nw, key)
    val ch = changed(compareCols, c => col(c), c => col(c + "_hist"))

    def rowStruct(cols: Seq[Column], status: String): Column =
      struct((cols :+ lit(status).as(StatusCol)).zipWithIndex.map {
        case (c, i) => c.as(outFieldNames(i)) }: _*)
    lazy val outFieldNames: Seq[String] =
      (key +: dataCols) ++ Seq(S.EffectiveStart, S.EffectiveEnd, S.CurrentFlag, StatusCol)

    // by reference, like every per-run timestamp; today the emit array is
    // evaluated by array_compact's lambda, which Spark does not generate
    // code for, so a literal here would not reach the class text either
    val batchTsCol = tsRef(batchTs)
    val histRow: Seq[Column] = (col(key) +: dataCols.map(c => col(c + "_hist"))) ++
      Seq(col(S.EffectiveStart + "_hist"), col(S.EffectiveEnd + "_hist"),
        col(S.CurrentFlag + "_hist").cast(IntegerType))
    val expiredRow: Seq[Column] = histRow.dropRight(2) ++
      Seq(batchTsCol, lit(0))
    val newVersionData = dataCols.map { c =>
      if (notesCol.contains(c) && carryNotes)
        when(inHist, preferNonBlank(col(c), col(c + "_hist"))).otherwise(col(c))
      else col(c)
    }
    val insertRow: Seq[Column] = (col(key) +: newVersionData) ++
      Seq(batchTsCol, lit(null).cast(TimestampType), lit(1))

    val nullRow = lit(null).cast(
      StructType(outFieldNames.zip(
        (nw.schema(key).dataType +: dataCols.map(c => nw.schema(c).dataType)) ++
          Seq(TimestampType, TimestampType, IntegerType, StringType)
      ).map { case (n, t) => StructField(n, t) }.toArray)
    )
    // 0-2 emitted rows per joined row, one pass:
    val unchanged = when(inNew && inHist && !ch, rowStruct(histRow, "unchanged"))
    val expires = if (expireAbsent) !inNew || ch else inNew && ch
    val emitted = array(
      // unchanged current version passes through, and so does an absent
      // one when the batch is incremental
      (if (expireAbsent) unchanged
       else unchanged.when(inHist && !inNew, rowStruct(histRow, "preserve")))
        .otherwise(nullRow),
      // changed (or, for a snapshot, removed) current version gets expired
      when(inHist && expires, rowStruct(expiredRow, "expire")).otherwise(nullRow),
      // brand-new or changed key gets a fresh current version
      when(inNew && (!inHist || ch), rowStruct(insertRow,
        "insert")).otherwise(nullRow)
    )
    val merged = j
      .select(inline(array_compact(emitted)))
      .select(outFieldNames.map(col): _*)

    val res = merged.unionByName(
      expiredHist.select(outFieldNames.map(col): _*), allowMissingColumns = false)
    if (dropStatus) res.drop(StatusCol) else res
  }

  /** M5: dedup within batch, keep MOST RECENT per key (pandas
    * `drop_duplicates(keep="last")` after an order-preserving sort,
    * reference: src/etl/scd1_manager.py:218-237). `order` columns define
    * recency; append a deterministic tie-break yourself if `order` can tie.
    */
  def dedupKeepLatest(df: DataFrame, key: String, order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(order.map(_.desc_nulls_last): _*)
    df.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1).drop("_rn")
  }

  /** M4: append new rows over existing, new wins per key (pandas concat
    * new-before-old + `drop_duplicates(keep="first")`, reference:
    * run_job_filter.py:350-382).
    */
  def appendDedupNewWins(existing: DataFrame, nw: DataFrame, key: String,
      tieBreak: Seq[Column] = Nil): DataFrame = {
    val tagged = nw.withColumn("_prio", lit(0))
      .unionByName(existing.withColumn("_prio", lit(1)), allowMissingColumns = true)
    val w = Window.partitionBy(col(key))
      .orderBy(col("_prio").asc +: tieBreak.map(_.asc): _*)
    tagged.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn", "_prio")
  }
}
