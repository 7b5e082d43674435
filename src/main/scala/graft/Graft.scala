package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Session helpers shared by the engine, Verify, Bench and tests.
  *
  * The reference engine (see /root/reference, SURVEY.md §1.2) has
  * pandas `errors="coerce"` semantics everywhere: bad casts/parses
  * become null, never exceptions. Spark 4 defaults to ANSI mode
  * (throw). `tune` pins the session to coerce semantics + the perf
  * conf we want regardless of who built the session (the driver's
  * Verify/Bench mains build their own).
  */
object Graft {

  /** Idempotent, safe to call at the top of every query. */
  def tune(spark: SparkSession): SparkSession = {
    // Timestamp literals are built with java.sql.Timestamp.valueOf,
    // which reads the JVM default zone — pin it to UTC to match the
    // session timezone and the (naive-timestamp) oracle.
    java.util.TimeZone.setDefault(java.util.TimeZone.getTimeZone("UTC"))
    spark.conf.set("spark.sql.ansi.enabled", "false")
    // Some testdata generations write events.ts as TIMESTAMP(NANOS)
    // parquet, which Spark has no timestamp type for — read those as
    // longs and convert explicitly (see withTs2). No-op for the
    // TIMESTAMP(MICROS) generations.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    // parallelismFirst (default true) only coalesces down to the core
    // count — on a 32-thread local session every tiny shuffle still
    // schedules 32 tasks of milliseconds each, pure dispatch overhead.
    // false = coalesce to the advisory byte size. The advisory is kept
    // SMALL (1m): stages with real shuffle volume (posting tables,
    // pair expansions — compute-heavy per byte) keep their
    // parallelism, while KB-sized reduction stages collapse to a task
    // or two. A 16-64m advisory measurably serialized the dedup
    // family's pair stages (byte-cheap, CPU-expensive).
    spark.conf.set("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1m")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    // let AQE swap a sort-merge join for a shuffled hash join when the
    // build side's ACTUAL per-partition size fits (default 0 disables
    // the conversion entirely). This is how corpus-sized streams avoid
    // being fully sorted against vocabulary-bounded tables (log-prob,
    // document-frequency, unigram-count joins — SCALE.md measured the
    // SMJ sort as the engine's largest memory reservation) without
    // pinning a join strategy by hint: a hint would also block AQE's
    // runtime broadcast upgrade when the table is actually tiny
    spark.conf.set(
      "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "256m")
    // ObjectHashAggregate (every TypedImperativeAggregate: posting
    // pairs, KMV, CMS — and plain collect_list) falls back to
    // SORT-BASED aggregation once a partition sees more than this many
    // groups — and the default is 128, so the posting-pair kernel
    // (tens of thousands of shingle groups per partition) always ran
    // on the slow sort path. 2^15 is a deliberate middle: the graft
    // aggregates have BOUNDED buffers (posting pairs by the maxDocFreq
    // cap ≈ 1.6 KB worst case, KMV by k, CMS by d·w → ≤ ~50 MB for
    // 2^15 groups), but the conf is session-wide and also governs
    // UNBOUNDED collect_list aggregations (dedup group/band lists,
    // per-session event lists), where the sort fallback's spill path
    // is the only memory-safety valve — so the threshold must stay
    // low enough that a value-heavy partition still falls back well
    // before it buffers everything on-heap.
    spark.conf.set("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
      (1 << 15).toString)
    // InferFiltersFromGenerate synthesizes `size(g) > 0 AND isnotnull(g)`
    // below every explode — and because the generator inputs here are
    // EXPENSIVE native expressions (graft_shingles, winnow fingerprints,
    // minhash signatures, container walks), the inferred predicate
    // re-evaluates the full expression once in the pushed Filter and
    // again in the Generate: the r16 baseline plans show
    // `wordshingles(text)` twice in every dedup-family stage (q23/q71/
    // q78/q89 `*_before.txt`). The filter only pre-drops rows explode
    // drops anyway (null/empty arrays), so output is identical — but the
    // duplicate evaluation doubles the corpus-scan stage of every
    // shingle/token pipeline at any scale. Excluded session-wide: every
    // graft generator input is either trivially cheap (sequence) or
    // expensive-and-never-prunable, so the rule can only cost here.
    spark.conf.set("spark.sql.optimizer.excludedRules",
      "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
    // the native functions and TVFs this session's registries lack: all
    // of them on a session built without spark.sql.extensions, none on
    // one built with GraftExtensions (or already tuned)
    graft.plans.GraftExtensions.registerMissing(spark)
    // per-session injection of the optimizer rules GraftExtensions
    // injects: the opt-in AQP rewrite (a no-op unless
    // spark.graft.approxCountDistinct is set) and the scan pushdown of
    // referenced timestamps — works on sessions built without
    // spark.sql.extensions, e.g. the driver's own.
    // Append-if-absent: assignment would clobber user-installed rules
    Seq(graft.plans.ApproxCountDistinctRewrite, graft.plans.ScanTimestampLiterals)
      .foreach { rule =>
        if (!spark.experimental.extraOptimizations.contains(rule))
          spark.experimental.extraOptimizations =
            spark.experimental.extraOptimizations :+ rule
      }
    spark
  }

  /** Standard local session for tests / ad-hoc runs.
    *
    * Spark keeps compiled generated code in one JVM-wide LRU cache of
    * `spark.sql.codegen.cache.maxEntries` classes (default 100). The
    * pipeline's steady state needs more: one `runRegions` backfill plus
    * its enrichment uses 85 distinct generated classes, and one
    * streaming SCD2 round 101. At 100 entries every repeated backfill
    * recompiled 55 of its classes and every round 72–90. 1000 holds
    * that working set with headroom.
    *
    * The cache is keyed by the generated source, and by default each
    * whole-stage class is named after its codegen stage id. Under AQE
    * that id depends on the order in which query stages were planned,
    * so an identical stage could come back under another name and be
    * compiled again (PipelineSpec saw 4 such recompiles in a repeated
    * backfill pass). `useIdInClassName = false` drops the id from the
    * name, so identical stages share one compiled class.
    *
    * The setting is a static conf that Spark reads only once per JVM,
    * when `CodeGenerator` first loads (its static initializer calls
    * `SQLConf.codegenCacheMaxEntries`). It therefore takes effect only
    * when a session built here is the first session in the JVM to
    * generate code; a later session, or `getOrCreate` returning an
    * existing one, keeps the size the cache was built with.
    *
    * The cache key also holds the class loader the code is compiled
    * under. A streaming query runs on a clone of its session, and under
    * Spark 4's per-session artifact isolation each clone gets its own
    * `ExecutorClassLoader` on the executor, so every `start()` of a
    * stream compiled its classes again: 18 of the 26 classes a steady
    * streaming SCD2 round compiled were code the cache already held.
    * `spark.sql.artifact.isolation.enabled = false` keeps one executor
    * loader for the session and all its clones. Nothing in the engine
    * adds session artifacts (`addArtifact`, `addJar`), so isolation
    * bought nothing. Spark reads this conf only when a session is
    * created, and a cloned session inherits it; the mains that build
    * their own session (`Verify`, `Bench`, `Scratch`, …) keep Spark's
    * default. Of the round's other 8 compiles, 5 were the engine's own
    * per-round timestamps inlined as literals, which the operators now
    * pass by reference (`Normalize.tsRef`). A steady round compiles
    * the remaining 3: the caller's own timestamp filter, on the driver
    * and the executor, and Spark's watermark predicate.
    */
  def session(master: String = "local[4]", shufflePartitions: Int = 8): SparkSession = {
    val s = SparkSession
      .builder()
      .master(master)
      .appName("graft")
      // the production install path: native functions injected into the
      // base registry of every session state (see plans.GraftExtensions)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.sql.codegen.useIdInClassName", "false")
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    tune(s)
  }

  /** Table loader for the driver testdata layout (`TESTDATA.md`). */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** [[table]] rebalanced to the session's core count. The harness
    * testdata is one single-row-group parquet file per table, so a
    * scan — and everything pipelined onto it up to the first exchange,
    * including expensive per-row work like shingling — runs as ONE
    * task no matter the split size. A production deployment reads
    * thousands of splits and never needs this; here the text-heavy
    * query declarations opt in so their tokenize/shingle stage uses
    * all cores at the price of shuffling the (small) raw rows once.
    * No-op when the scan already has enough parallelism.
    */
  def tableParallel(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = table(spark, sfDir, name)
    val cores = spark.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= cores / 2) df else df.repartition(cores)
  }

  /** Normalize `events.ts` to a session-zone TimestampType `ts2` column.
    *
    * The driver's testdata has shipped `ts` under two physical schemas
    * across generations: parquet TIMESTAMP(NANOS), which Spark can only
    * read as a nanosecond long (`spark.sql.legacy.parquet.nanosAsLong`,
    * set in [[tune]]), and parquet TIMESTAMP(MICROS) without UTC
    * adjustment, which Spark reads as TIMESTAMP_NTZ. Dispatch on the
    * scanned type so queries survive either generation. The nanos path
    * uses integer DIV, not double division: epoch-ns (~1.7e18) exceeds
    * double's 53-bit mantissa. The NTZ cast preserves wall-clock time —
    * the session zone is pinned UTC in [[tune]], matching the DuckDB
    * oracle's naive reading of the same file.
    */
  def withTs2(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.withColumn("ts2", df.schema("ts").dataType match {
      case LongType         => timestamp_micros(call_function("div", col("ts"), lit(1000L)))
      case TimestampNTZType => col("ts").cast(TimestampType)
      case TimestampType    => col("ts")
      case other => throw new IllegalArgumentException(
        s"unsupported events.ts type: $other")
    })
  }
}
