package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType
object Bench {

  /** Evaluate EVERY output column of the query, not just its row count:
    * under a bare `count()` Catalyst prunes pure projections, so
    * map-only queries (normalize, html-to-text, simhash, ...) would be
    * measured as parquet scans. Hashing each row across all columns
    * forces the full projection while still reducing to one driver row.
    * Maps aren't hashable (Spark disallows it) — serialize them first.
    * The one forcing action of the dev mains (ABConf, Scratch,
    * StageProf, ScaleShakeout) too.
    */
  private[graft] def forceAll(df: DataFrame): Long = {
    val cols = df.schema.fields.map { f =>
      f.dataType match {
        case _: MapType => to_json(col(f.name))
        case _ => col(f.name)
      }
    }
    df.agg(count(lit(1)).as("_n"), sum(xxhash64(cols.toIndexedSeq: _*)).as("_h"))
      .head().getLong(0)
  }

  /** The headline benchmark workload. q01-q40 are the reference-parity
    * queries — the workload BASELINE.md's full-run ceiling describes —
    * plus the flagship query of each extension family (sketches, asof,
    * winnowing, decontamination, curation, tokenization, sampling).
    * The remaining ~60 registered queries are variants and diagnostics
    * of the same operator families; they are all correctness-gated via
    * Verify at every round and can be benched with
    * SPARK_GRAFT_BENCH_FULL=1, but benching every variant would measure
    * suite *size*, not engine *speed*.
    */
  private val headlineExtensions = Seq(
    "q45_feature_hashing", "q47_sessionize", "q52_pii_redact",
    "q54_asof_join", "q61_winnow_pairs", "q70_kmv_distinct",
    "q71_curation_pipeline", "q78_bloom_decontaminate", "q89_cross_dedup",
    "q97_tfidf_terms", "q98_cms_heavy", "q102_quality_calibrated",
    "q104_temperature_sample", "q110_asof_tolerant", "q115_bigram_lm",
    "q119_bm25", // retrieval-family flagship (BM25 ranking)
    "q124_semantic_dedup", // embedding-dedup flagship (SemDeDup verdicts)
    "q127_image_meta", // multimodal flagship (REAL container-header decode)
    "q150_pixel_stats", // pixel flagship (REAL inflate+unfilter decode)
    "q153_image_neardup", // perceptual thumbnail-dedup flagship
  )
  private def headline(all: Seq[String]): Seq[String] = {
    // toIntOption: a registered name not shaped q<digits>... must be
    // excluded from the parity set, not crash the bench at startup
    val parity = all.filter { n =>
      n.drop(1).takeWhile(_.isDigit).toIntOption.exists(_ <= 40)
    }
    (parity ++ headlineExtensions.filter(all.contains)).distinct
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warm the JVM (codegen, parquet readers, shuffle machinery) so the
    // first timed query isn't charged ~5s of one-time session cost.
    Graft.tune(spark)
    Seq("lineitem", "orders", "events", "documents", "embeddings").foreach { t =>
      try Graft.table(spark, sfDir, t).limit(1000).count()
      catch { case _: Throwable => () }
    }
    // Sentinel pre-check (round-15 bench discipline, VERDICT r14 item
    // 7): the r14 artifact was captured in a 2.6-3x degraded host
    // window while a 1.15x window existed the same session. Measure
    // the three drift canaries BEFORE the timed passes against their
    // recorded quiet floors (the r14 quiet full-run drift block); if
    // the window reads degraded (>1.3x), wait and re-probe a bounded
    // number of times, then proceed and STAMP the artifact with
    // window_quality + sentinel_ratio so a degraded capture is never
    // mistaken for a code regression.
    val quietFloor = Map(
      "q02_filter_project" -> 0.185,
      "q20_ts_bucket" -> 0.186,
      "q39_frame_sample" -> 0.144)
    def sentinelRatio(): Double = quietFloor.map { case (name, floor) =>
      val fn = SparkEntry.queries(name)
      val samples = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        try forceAll(fn(spark, sfDir)) catch { case _: Throwable => () }
        (System.nanoTime() - t0) / 1e9
      }
      samples.min / floor
    }.max
    var ratio = sentinelRatio()
    var waits = sys.env.get("SPARK_GRAFT_SENTINEL_WAITS")
      .flatMap(_.toIntOption).getOrElse(2)
    while (ratio > 1.3 && waits > 0) {
      System.err.println(f"[bench] degraded window (sentinel ${ratio}%.2fx" +
        " quiet floor); waiting 45s for the host to settle")
      Thread.sleep(45000)
      ratio = sentinelRatio()
      waits -= 1
    }
    System.err.println(f"[bench] pre-run sentinel: ${ratio}%.2fx quiet floor")

    val all = SparkEntry.queries.toSeq.sortBy(_._1)
    val full = sys.env.contains("SPARK_GRAFT_BENCH_FULL")
    val named =
      if (full) all
      else { val keep = headline(all.map(_._1)).toSet; all.filter(p => keep(p._1)) }
    def onePass(tag: String,
        qs: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)])
        : Map[String, Double] = qs.map { case (name, fn) =>
      val t0 = System.nanoTime()
      val n = try { forceAll(fn(spark, sfDir)) } catch { case _: Throwable => -1L }
      val dt = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[bench $tag] $name%-26s $dt%8.2fs rows=$n")
      name -> dt
    }.toMap
    // Per-query min over three full measurements: pass 1 charges every
    // query its one-time codegen compilation (~0.1-0.3 s even for
    // sub-second queries — at 80+ queries that is a double-digit share
    // of the total) plus any transient machine stall; passes 2 and 3
    // are steady state. Host-level contention on this box runs in
    // multi-minute windows that can cover a whole pass (observed: the
    // same full suite measuring 68 s and 81 s back to back with zero
    // code change), so every query gets three temporally spread
    // samples, plus a fourth for anything still slow. The cache is
    // cleared between passes so queries that persist intermediates
    // recompute them honestly.
    def clear(): Unit = {
      Caches.release(spark)
      spark.sharedState.cacheManager.clearCache()
    }
    val canaries = Seq("q02_filter_project", "q20_ts_bucket", "q39_frame_sample")
    def inRun(results: Map[String, Double]): Double =
      canaries.flatMap(c =>
        results.get(c).zip(quietFloor.get(c)).map { case (v, f) => v / f })
        .foldLeft(0.0)(math.max)
    def measureOnce(): (Map[String, Double], Double) = {
      val p1 = onePass("1/4", named)
      clear()
      val p2 = onePass("2/4", named)
      clear()
      val p3 = onePass("3/4", named)
      val min3 = p1.map { case (k, v) =>
        k -> math.min(v, math.min(p2.getOrElse(k, v), p3.getOrElse(k, v)))
      }
      clear()
      val stillSlow = named.filter { case (name, _) => min3.getOrElse(name, 0.0) > 1.2 }
      val p4 = onePass("4/4", stillSlow)
      val res = min3.map { case (k, v) => k -> math.min(v, p4.getOrElse(k, v)) }
      (res, inRun(res))
    }
    // Round-16 bench discipline (VERDICT r15 item 5): the r15 driver
    // artifact landed degraded even though the pre-probe gate waited,
    // because the stamp is computed AFTER the passes. When the in-run
    // canary minima read degraded, RE-RUN the timed passes (bounded)
    // and keep the better-windowed attempt; every attempt's ratio
    // stays in the artifact tail as the retry's audit trail.
    var (results, inRunRatio) = measureOnce()
    val attemptRatios = scala.collection.mutable.ArrayBuffer(inRunRatio)
    val maxRetries = sys.env.get("SPARK_GRAFT_DEGRADED_RETRIES")
      .flatMap(_.toIntOption).getOrElse(1)
    var retries = 0
    while (inRunRatio > 1.3 && retries < maxRetries) {
      System.err.println(f"[bench] timed run landed degraded " +
        f"(in-run ${inRunRatio}%.2fx quiet floor); waiting 45s and " +
        "re-running the timed passes once")
      Thread.sleep(45000)
      clear()
      val (r2, ir2) = measureOnce()
      attemptRatios += ir2
      if (ir2 < inRunRatio) { results = r2; inRunRatio = ir2 }
      retries += 1
    }
    // Millisecond precision keeps the single JSON line short enough to
    // survive log-tail truncation on the consumer side. Locale.ROOT
    // formatting: under a comma-decimal default locale (de_DE etc.)
    // f"$v%.3f" would emit 0,705 — invalid JSON, a parsed:null round.
    def num(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val qs = results.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + num(v) }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    // Workload identity travels IN the artifact so a 56-query headline
    // total is never cross-compared against a 117-query full total.
    val workload = if (full) "full" else "headline"
    // Drift canaries: trivial queries whose code has been untouched
    // since round 1. Their ratio vs a prior run's drift block estimates
    // the HOST speed factor between the runs (this box drifts ±20-30%
    // in multi-minute windows), so per-query deltas can be judged
    // against the canary ratio instead of read raw (README, bench
    // protocol).
    val drift = canaries.flatMap(c => results.get(c).map(v => "\"" + c + "\":" + num(v)))
      .mkString("{", ",", "}")
    // window_quality judges the MEASURED window, not the pre-probe:
    // the timed passes' own canary minima (min-of-3+ spread samples)
    // are far less noisy than the two-sample pre-run probe, which
    // stays in the artifact as sentinel_ratio for the wait decision's
    // audit trail
    val windowQuality = // pre-probe only if no canary ran (custom set)
      if ((if (inRunRatio > 0) inRunRatio else ratio) <= 1.3) "clean"
      else "degraded"
    System.err.println(
      f"[bench] in-run window: ${inRunRatio}%.2fx quiet floor -> $windowQuality")
    val retryTrail = attemptRatios.map(num).mkString("[", ",", "]")
    val line =
      s"""{"metric":"total","value":${num(total)},"unit":"sec","workload":"$workload","n_queries":${named.size},"window_quality":"$windowQuality","sentinel_ratio":${num(ratio)},"degraded_retries":$retries,"attempt_ratios":$retryTrail,"drift":$drift,"queries":$qs,"sf":"$sfDir"}"""
    println(line)
    // Also drop the line as a repo artifact so the numbers stay
    // readable even if the harness's stdout capture mangles the log.
    // Named per workload so a headline run can never overwrite (and
    // masquerade as) a full-suite artifact or vice versa.
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(s"bench_last_$workload.json"),
      (line + "\n").getBytes("UTF-8"))
    catch { case _: Throwable => () }
    spark.stop()
  }
}
