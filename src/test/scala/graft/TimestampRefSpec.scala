package graft

import graft.functions.Normalize.tsRef
import graft.operators.{Filters, Merges}
import graft.plans.ScanTimestampLiterals
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** `Normalize.tsRef`: a timestamp constant that generated code reads by
  * reference. It must equal `lit(ts)` wherever the engine uses it, with
  * and without code generation, and one compiled class must serve every
  * value.
  */
class TimestampRefSpec extends SparkSpec {
  import spark.implicits._

  private def t(s: String) = java.sql.Timestamp.valueOf(s)

  // one value before the epoch, one with non-zero microseconds
  private val values = Seq(t("1965-03-04 05:06:07.123456"),
    t("2024-02-29 23:59:59.000001"))

  /** Runs `body` with generated code only (no interpreted fallback), or
    * with code generation off for both whole stages and expressions.
    */
  private def inMode[T](mode: String)(body: => T): T = {
    val codegen = mode == "CODEGEN_ONLY"
    val confs = Seq("spark.sql.codegen.factoryMode" -> mode,
      "spark.sql.codegen.wholeStage" -> codegen.toString,
      "spark.sql.codegen.fallback" -> (!codegen).toString)
    val old = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  for (mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
    test(s"tsRef equals lit in values, comparisons and interval arithmetic ($mode)") {
      inMode(mode) {
        values.foreach { ts =>
          // rows at 1970, 2000 and 2029: on both sides of each value
          val rowTs = timestamp_seconds(col("id") * 86400L * 365L * 30L)
          def cols(c: Column): Seq[Column] = Seq(c,
            date_format(c, "yyyy-MM-dd HH:mm:ss.SSSSSS"),
            c - expr("INTERVAL 3 DAYS"),
            rowTs >= c,
            rowTs >= (c - expr("INTERVAL 12000 DAYS")))
          val out = spark.range(3)
            .select(cols(tsRef(ts)).zipWithIndex.map { case (c, i) => c.as(s"r$i") } ++
              cols(lit(ts)).zipWithIndex.map { case (c, i) => c.as(s"l$i") }: _*)
            .collect()
          assert(out.length == 3)
          out.foreach { r =>
            val n = r.length / 2
            assert((0 until n).map(r.get) == (n until 2 * n).map(r.get), s"$ts: $r")
            assert(r.getTimestamp(0) == ts, s"$ts: $r")
          }
        }
      }
    }

    test(s"scd2 stamps expired and inserted versions with the exact batch time ($mode)") {
      inMode(mode) {
        val start = t("1960-01-01 00:00:00")
        val hist = Seq(("k1", "a", start), ("k2", "b", start))
          .toDF("k", "v", "effective_start")
          .withColumn("effective_end", lit(null).cast("timestamp"))
          .withColumn("current_flag", lit(1))
        val nw = Seq(("k1", "a2"), ("k3", "c")).toDF("k", "v")
        values.foreach { ts =>
          val out = Merges.scd2(hist, nw, "k", Seq("v"), ts, notesCol = None)
            .as[(String, String, java.sql.Timestamp, java.sql.Timestamp, Int)]
            .collect().toSet
          assert(out == Set(
            ("k1", "a", start, ts, 0), ("k1", "a2", ts, null, 1),
            ("k2", "b", start, ts, 0), ("k3", "c", ts, null, 1)), s"$ts")
        }
      }
    }
  }

  test("two tsRef values compile one class; two lit values compile two") {
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    // the noop sink runs the whole plan and leaves out the driver-side
    // row conversion of `collect`, which compiles once on its own
    def added(c: Column): Long = {
      val before = compiles.getCount
      spark.range(5).filter(timestamp_seconds(col("id")) < c)
        .select(col("id"), c.as("c"))
        .write.format("noop").mode("overwrite").save()
      compiles.getCount - before
    }
    added(tsRef(values(0)))
    assert(added(tsRef(values(1))) == 0L)
    // the same query with the value inlined compiles again for a new value
    added(lit(values(0)))
    assert(added(lit(values(1))) > 0L)
  }

  test("a date-range filter on a scanned column pushes the same filter as lit") {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
    import org.apache.spark.sql.types.TimestampType
    // q15's shape: a TIMESTAMP_NTZ column cast to TIMESTAMP. With lit the
    // optimizer folds the bound and unwraps the cast, and the scan takes
    // `ts >= bound`; ScanTimestampLiterals gives the same filter
    val dir = java.nio.file.Files.createTempDirectory("graft-tsref-scan").toString
    Seq(t("2024-01-01 00:00:00"), t("2024-03-01 00:00:00")).toDF("ts")
      .select(col("ts").cast("timestamp_ntz").as("ts")).write.parquet(s"$dir/t")
    val scan = spark.read.parquet(s"$dir/t")
    val asOf = t("2024-03-15 00:00:00")
    val byRef = scan.filter(Filters.dateRange(col("ts").cast(TimestampType), 30, asOf))
    val byLit = scan.filter(col("ts").cast(TimestampType).isNotNull &&
      col("ts").cast(TimestampType) >= (lit(asOf) - expr("INTERVAL 30 DAYS")))
    def conditions(plan: LogicalPlan) = plan.collect { case f: Filter => f.condition.canonicalized }
    val expected = conditions(byLit.queryExecution.optimizedPlan)
    assert(expected.nonEmpty && conditions(byRef.queryExecution.optimizedPlan) == expected)
    assert(byRef.queryExecution.executedPlan.toString
      .contains("PushedFilters: [IsNotNull(ts), GreaterThanOrEqual(ts,"))
    assert(byRef.count() == 1L)
    // a session built without GraftExtensions runs the rule only in the
    // user-provided batch, after constant folding and cast unwrapping
    val key = "spark.sql.optimizer.excludedRules"
    val excluded = spark.conf.getOption(key)
    spark.conf.set(key, (excluded.toSeq :+ ScanTimestampLiterals.ruleName).mkString(","))
    val unfolded = try {
      scan.filter(Filters.dateRange(col("ts").cast(TimestampType), 30, asOf))
        .queryExecution.optimizedPlan
    } finally excluded.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(conditions(unfolded) != expected)
    assert(conditions(ScanTimestampLiterals(unfolded)) == expected)
  }
}
