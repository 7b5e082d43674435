package graft.sources

import graft.functions.Normalize
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** File-backed sources/sinks (SURVEY §2.1).
  *
  * The reference's worksheet-as-table storage maps to a parquet
  * directory per table; its truncate+rewrite sink (ws.clear()+update,
  * core/data_loader.py:426-428) is `SaveMode.Overwrite`. CSV covers
  * S4/S5 (src/utils/file_utils.py:62-85, run_ats_enrichment.py:1054-1077).
  */
object Tables {

  /** S2: full-table scan; missing columns self-heal to empty strings
    * (reference: core/data_loader.py:136-141).
    */
  def readTable(spark: SparkSession, path: String, expectedCols: Seq[String]): DataFrame =
    Normalize.canonicalSelect(spark.read.parquet(path), expectedCols)

  /** Crash-recoverable table swap for read-merge-overwrite writers: the
    * freshly-written `<tablePath>_tmp` replaces the table via
    * `table → _bak`, `_tmp → table`, `delete _bak` — at every
    * intermediate crash point either the table or its `_bak` exists
    * with complete pre- or post-merge contents, and [[readCommitted]]
    * falls back to `_bak` when the main directory is missing. (A real
    * deployment would use a transactional table format; this keeps
    * plain parquet safe enough for the offline harness without losing
    * the table to a crash between delete and rename, which the naive
    * delete-then-rename swap could.)
    */
  private[graft] def swapTable(spark: SparkSession, tablePath: String): Unit = {
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val dst = new Path(tablePath)
    val tmp = new Path(tablePath + "_tmp")
    val bak = new Path(tablePath + "_bak")
    def renameOrThrow(src: Path, to: Path): Unit =
      // Hadoop FileSystems report rename failure via `false`, not an
      // exception — swallowing it would commit the batch with the
      // table missing
      if (!fs.rename(src, to))
        throw new java.io.IOException(s"swapTable: rename $src -> $to failed")
    // `_bak` is only cleared/repopulated while `dst` exists: on a
    // crash-recovery replay where a previous run died between
    // `rename(dst, bak)` and `rename(tmp, dst)`, `_bak` holds the only
    // surviving copy and must not be deleted before `dst` is restored
    if (fs.exists(dst)) {
      fs.delete(bak, true)
      renameOrThrow(dst, bak)
    }
    renameOrThrow(tmp, dst)
    fs.delete(bak, true)
    ()
  }

  /** The table [[swapTable]] last committed at `tablePath`: the table,
    * else the `_bak` an interrupted swap left, else an empty frame of
    * `ifAbsent`.
    */
  private[graft] def readCommitted(spark: SparkSession, tablePath: String,
      ifAbsent: StructType): DataFrame = {
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(new Path(tablePath))) spark.read.parquet(tablePath)
    else if (fs.exists(new Path(tablePath + "_bak")))
      spark.read.parquet(tablePath + "_bak")
    else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], ifAbsent)
  }

  /** S8+S6: overwrite sink; creates the table if absent. */
  def writeTable(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path)

  /** S4: CSV source with the reference's empty-description drop
    * (src/utils/file_utils.py:74-78).
    */
  def readCsv(spark: SparkSession, path: String,
      requireNonBlank: Option[String] = None,
      schema: Option[StructType] = None): DataFrame = {
    val base = schema.fold(
      spark.read.option("header", "true").option("inferSchema", "false"))(
      s => spark.read.option("header", "true").schema(s))
      .csv(path)
    requireNonBlank.fold(base)(c =>
      base.filter(col(c).isNotNull && trim(col(c)) =!= ""))
  }

  /** S5: CSV sink (reference writes a single file; keep one partition
    * only for small exports — large tables write partitioned).
    */
  def writeCsv(df: DataFrame, path: String, singleFile: Boolean = false): Unit = {
    val out = if (singleFile) df.coalesce(1) else df
    out.write.mode(SaveMode.Overwrite).option("header", "true").csv(path)
  }

  /** JSONL (newline-delimited JSON) source — the de-facto interchange
    * format of LLM training corpora. Always pass the schema: schema
    * inference is a full extra pass over the data (a non-starter at
    * 100 TB) and infers types from whatever happens to be present.
    * Malformed lines follow Spark's PERMISSIVE contract: they land in
    * `_corrupt_record` (when the schema declares it) instead of
    * failing the read — count them, route them, never lose the batch.
    */
  def readJsonl(spark: SparkSession, path: String,
      schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** JSONL sink. Like [[writeCsv]], coalesce only small exports. */
  def writeJsonl(df: DataFrame, path: String,
      singleFile: Boolean = false): Unit = {
    val out = if (singleFile) df.coalesce(1) else df
    out.write.mode(SaveMode.Overwrite).json(path)
  }
}
