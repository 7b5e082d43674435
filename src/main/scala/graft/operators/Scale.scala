package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Scale utilities: skew-aware joins and bucketed storage for
  * shuffle-free joins. These are the knobs a 1000-executor deployment
  * turns; local runs exercise the same plans.
  */
object Scale {

  /** Partitions-per-byte floor for wide per-row-fan-out aggregations
    * (the 100× SCALE.md lesson as a shared primitive): the partition
    * count a shuffle over token/gram/posting-scale data needs so
    * per-task state stays in the comfortable regime as the corpus
    * grows — ⌈leaf-scan-bytes / bytesPerPartition⌉, floor = the
    * session's shuffle-partition setting, cap 4096. Reads LEAF scan
    * bytes (exact file sizes, free): fan-out volume tracks source text
    * bytes, while the plan's own sizeInBytes estimate collapses the
    * explode under the width-ratio heuristic (measured: 1.5 GB of
    * posting shuffle estimated under 10 MB). Returns None when the
    * default suffices — small inputs keep their exact plans. AQE can
    * merge small partitions but cannot split a pinned repartition, so
    * over-partitioning is the safe direction.
    */
  def partitionsForLeafBytes(df: DataFrame,
      bytesPerPartition: Long): Option[Int] = {
    val default = df.sparkSession.sessionState.conf.numShufflePartitions
    val need = saneLeafBytes(df)
      .map(b => math.min(
        math.ceil(b.toDouble / bytesPerPartition), 4096.0).toInt)
      .getOrElse(default)
    if (need > default) Some(need) else None
  }

  /** Leaf scan bytes of the plan, or None when a stats-less leaf
    * (LogicalRDD, a streaming micro-batch relation) reports
    * defaultSizeInBytes = Long.MaxValue — anything past 1 PiB is an
    * "unknown", not a size.
    *
    * Cached subtrees are seen THROUGH, not at face value: an
    * InMemoryRelation over a projection reports the projection's
    * ESTIMATE (the width-ratio heuristic collapses narrow projections
    * of text — the same failure partitionsForLeafBytes documents for
    * plan-level sizeInBytes), so a cache-fed kernel would read a
    * KB-sized "leaf" for an MB-sized source (measured r16: q24's
    * banded exchange sized to TWO partitions because the shingle-set
    * cache estimated 260 KB over a 1.3 MB scan). Descend into the
    * cached physical plan and charge its FILE scan bytes instead.
    */
  private def saneLeafBytes(df: DataFrame): Option[Long] = {
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    // physical descent mirrors countExchanges: AQE wrappers are leaf
    // nodes that hide their subtree from plain collect
    def fileBytes(p: SparkPlan): BigInt = p match {
      case a: AdaptiveSparkPlanExec => fileBytes(a.executedPlan)
      case q: QueryStageExec => fileBytes(q.plan)
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        BigInt(f.relation.location.sizeInBytes)
      case other => other.children.map(fileBytes).sum
    }
    def bytesOf(plan: LogicalPlan): BigInt = plan.collectLeaves().map {
      case imr: InMemoryRelation =>
        val fb = fileBytes(imr.cachedPlan)
        if (fb > 0) fb else imr.stats.sizeInBytes
      case l => l.stats.sizeInBytes
    }.sum
    val leafBytes = bytesOf(df.queryExecution.optimizedPlan)
    if (leafBytes.isValidLong && leafBytes.toLong >= 0 &&
      leafBytes.toLong <= (1L << 50)) Some(leafBytes.toLong)
    else None
  }

  /** Exchange width for the pair-expansion kernels — shuffles whose
    * DOWNSTREAM fans out quadratically per group, so the width must be
    * pinned (an ENSURE_REQUIREMENTS exchange gets AQE-coalesced by its
    * INPUT bytes and the expansion lands on 1-2 tasks; measured r16:
    * q61's expansion collapsed to one 1.4 s task at sf0.1). But pinning
    * straight to the session default over-splits SMALL inputs: 32
    * concurrent collect_list+expand+count tasks in one JVM measured 2×
    * SLOWER than 8 on the same data (allocation-rate contention — the
    * per-task aggregation state multiplies while the per-task work
    * shrinks). So the width tracks DATA, bounded by the session
    * parallelism, and keeps the established at-scale floor:
    *
    *   max( ceil(leaf / bytesPerPartition),          — the 100× floor
    *        min(default, ceil(leaf / (bpp/16))) )    — small-input term
    *
    * At sf0.1 (1.3 MB leaf, bpp 2 MB): max(1, min(32, 11)) = 11 — near
    * the measured optimum (8-16); at the 100× shakeout (119 MB): the
    * floor term wins with the calibrated 60; on a cluster whose
    * session default is thousands, small batches stay narrow instead
    * of scattering a KB-sized fan-out over the whole fleet. Stats-less
    * leaves (streaming micro-batches) keep the session default.
    */
  def fanoutPartitions(df: DataFrame, bytesPerPartition: Long): Int = {
    val default = df.sparkSession.sessionState.conf.numShufflePartitions
    saneLeafBytes(df) match {
      case Some(leaf) =>
        val floor = math.min(
          math.ceil(leaf.toDouble / bytesPerPartition), 4096.0).toInt
        val small = math.max(1, math.min(default.toDouble,
          math.ceil(leaf.toDouble / (bytesPerPartition / 16))).toInt)
        math.max(floor, small)
      case None => default
    }
  }

  /** Salted equi-join for skewed keys: the build side is replicated
    * `saltFactor` ways, the probe side gets a random-but-deterministic
    * salt from a hash of a tie-break column, so one hot key spreads
    * over `saltFactor` reducers instead of one straggler task.
    * AQE's skew-join handles moderate skew automatically (enabled in
    * Graft.tune); explicit salting is for the pathological keys AQE
    * can't split (e.g. a single key bigger than one executor).
    */
  def saltedJoin(probe: DataFrame, build: DataFrame, key: String,
      saltFactor: Int, probeSaltSource: Column,
      joinType: String = "inner"): DataFrame = {
    val salted = probe.withColumn("_salt",
      pmod(xxhash64(probeSaltSource), lit(saltFactor)).cast("int"))
    val replicated = build
      .withColumn("_salt", explode(sequence(lit(0), lit(saltFactor - 1))))
    salted.join(replicated, Seq(key, "_salt"), joinType).drop("_salt")
  }

  /** Write a table bucketed by `key`. Two tables bucketed the same way
    * join with ZERO exchanges ([[TfIdf.writePostings]] keeps its
    * postings index this way). (Requires the session catalog; parquet
    * + saveAsTable.)
    */
  def writeBucketed(df: DataFrame, table: String, key: String,
      buckets: Int): Unit = {
    val spark = df.sparkSession
    // DROP leaves the managed location behind when the previous run
    // died mid-write; clear both so Overwrite can't hit
    // LOCATION_ALREADY_EXISTS.
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val warehouse = spark.conf.get("spark.sql.warehouse.dir")
    val loc = new org.apache.hadoop.fs.Path(warehouse, table.toLowerCase)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    df.write.mode(SaveMode.Overwrite)
      .format("parquet")
      .bucketBy(buckets, key)
      .sortBy(key)
      .saveAsTable(table)
  }

  /** Distributed inclusive prefix sum of `valueCol` in ascending
    * `orderCol` order (orderCol must be numeric and unique — a doc id
    * or event id). Adds `outCol`.
    *
    * A naive `sum().over(Window.orderBy(orderCol))` collapses the whole
    * table into ONE partition — the classic global-window scale trap.
    * This is the block-hierarchical form instead:
    *   1. block id = floor(orderCol / blockSize);
    *   2. per-block partial sums — an ordinary map-side-combined agg;
    *   3. exclusive running offset across blocks — a window over the
    *      BLOCK table only (rows = N/blockSize; the only serial step,
    *      and broadcast-sized by construction);
    *   4. offset + within-block running sum — a window PARTITIONED by
    *      block, which parallelizes across the cluster.
    * For 100 TB corpora where even N/blockSize overflows one task,
    * apply the same construction recursively to the block table.
    */
  def prefixSum(df: DataFrame, orderCol: String, valueCol: String,
      outCol: String, blockSize: Long = 1L << 12): DataFrame = {
    val blk = floor(col(orderCol) / blockSize)
    val blockTotals = df.groupBy(blk.as("_blk"))
      .agg(sum(col(valueCol)).as("_bsum"))
    val blockOffsets = blockTotals.select(col("_blk"),
      coalesce(
        sum(col("_bsum")).over(
          org.apache.spark.sql.expressions.Window.orderBy(col("_blk"))
            .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)),
        lit(0L).cast(df.schema(valueCol).dataType)).as("_boff"))
    df.withColumn("_blk", blk)
      .join(broadcast(blockOffsets), Seq("_blk"))
      .withColumn(outCol,
        col("_boff") + sum(col(valueCol)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("_blk"))
            .orderBy(col(orderCol))
            .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .drop("_blk", "_boff")
  }

  /** Count the shuffle exchanges in a DataFrame's executed plan —
    * used by tests to prove bucketing/broadcast removed them. Descends
    * through AQE wrappers (whose children are hidden from plain
    * collect until execution).
    */
  def countExchanges(df: DataFrame): Int = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    def cnt(p: SparkPlan): Int = p match {
      case a: AdaptiveSparkPlanExec => cnt(a.executedPlan)
      case q: QueryStageExec        => cnt(q.plan)
      case e: ShuffleExchangeLike   => 1 + e.children.map(cnt).sum
      case other                    => other.children.map(cnt).sum
    }
    cnt(df.queryExecution.executedPlan)
  }

  /** Offline compaction for an append-accumulating partitioned table
    * (the semantic ingest's cell table, a date-partitioned event
    * store): every `key=value` partition directory holding more than
    * `maxFiles` parquet files is rewritten into one file and swapped
    * in with the crash-safe rename protocol the streaming sinks use
    * (`dir → _bak`, `_tmp → dir`, `delete _bak` — at every crash
    * point the partition survives in exactly one of the two names).
    * The scratch names are `_`-prefixed SIBLINGS inside the table
    * root, which Spark's partition discovery ignores — a `_tmp`
    * suffix ON the partition name would parse as a partition VALUE
    * and corrupt type inference for the whole table.
    *
    * Only over-threshold directories are touched: readers of other
    * partitions never see churn. An interrupted run is repaired on
    * the next call (any `_graft_bak_` dir whose live partition is
    * missing is renamed back) before new work starts. Concurrent
    * readers of the partition BEING swapped can lose the race on a
    * plain filesystem — schedule compaction off-trigger (the sinks
    * never read a cell they aren't writing) or use a transactional
    * table format when readers are uncoordinated.
    *
    * Returns the number of compacted directories.
    */
  def compactPartitions(spark: SparkSession, tablePath: String,
      maxFiles: Int = 8): Int = {
    require(maxFiles >= 1, s"maxFiles must be >= 1: $maxFiles")
    val root = new org.apache.hadoop.fs.Path(tablePath)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) return 0
    def bak(name: String) = new org.apache.hadoop.fs.Path(root, s"_graft_bak_$name")
    def tmp(name: String) = new org.apache.hadoop.fs.Path(root, s"_graft_tmp_$name")
    def renameOrThrow(src: org.apache.hadoop.fs.Path,
        to: org.apache.hadoop.fs.Path): Unit =
      if (!fs.rename(src, to))
        throw new java.io.IOException(s"compact: rename $src -> $to failed")
    val entries = fs.listStatus(root)
    // crash repair FIRST: a _bak without its live dir is the only copy
    entries.filter(s => s.isDirectory &&
        s.getPath.getName.startsWith("_graft_bak_")).foreach { s =>
      val live = new org.apache.hadoop.fs.Path(root,
        s.getPath.getName.stripPrefix("_graft_bak_"))
      if (!fs.exists(live)) renameOrThrow(s.getPath, live)
      else fs.delete(s.getPath, true)
    }
    // stale _tmp dirs are incomplete writes from a dead run
    entries.filter(s => s.isDirectory &&
        s.getPath.getName.startsWith("_graft_tmp_"))
      .foreach(s => fs.delete(s.getPath, true))
    var n = 0
    fs.listStatus(root).foreach { s =>
      val name = s.getPath.getName
      if (s.isDirectory && name.contains("=") && !name.startsWith("_")) {
        val files = fs.listStatus(s.getPath)
          .filter(_.getPath.getName.endsWith(".parquet"))
        if (files.length > maxFiles) {
          spark.read.parquet(s.getPath.toString).coalesce(1)
            .write.mode(SaveMode.Overwrite).parquet(tmp(name).toString)
          fs.delete(bak(name), true)
          renameOrThrow(s.getPath, bak(name))
          renameOrThrow(tmp(name), s.getPath)
          fs.delete(bak(name), true)
          n += 1
        }
      }
    }
    n
  }
}
