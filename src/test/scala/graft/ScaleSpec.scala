package graft

import graft.operators.Scale
import org.apache.spark.sql.functions._

/** Plan-level scale proofs: bucketed indexes are read without a
  * reshuffle, salted joins preserve results, filter-stage observe
  * metrics report the reference's per-step counts in one pass.
  */
class ScaleSpec extends SparkSpec {
  import spark.implicits._

  test("materialized postings table: term-keyed dataflow is exchange-free") {
    import graft.operators.TfIdf
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val docs = Seq(
      (1L, "spark sql engine spark"), (2L, "spark shuffle exchange"),
      (3L, "sql exchange planner"), (4L, "engine planner shuffle sql")
    ).toDF("doc_id", "text")
    TfIdf.writePostings(docs, "doc_id", "text", "postings_spec_t", buckets = 4)
    try {
      val fromTable = TfIdf.topTermsFromPostings(spark, "postings_spec_t",
        k = 2, nDocs = 4)
      // identical to the from-scratch form on the same corpus
      val direct = TfIdf.topTerms(docs, "doc_id", "text", k = 2)
        .collect().map(_.toSeq).toSet
      assert(fromTable.collect().map(_.toSeq).toSet == direct)
      // the df aggregation AND the tf⋈df weight join both key on the
      // bucket column, so the ONLY exchange left is the final per-doc
      // ranking — build the index once, query it shuffle-free forever
      assert(Scale.countExchanges(fromTable) == 1,
        fromTable.queryExecution.executedPlan.toString)
    } finally {
      spark.sql("DROP TABLE IF EXISTS postings_spec_t")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
        (64L * 1024 * 1024).toString)
      spark.conf.set("spark.sql.adaptive.enabled", "true")
    }
  }

  test("media ingest anti-join probes the signature index without sorting it") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    // stripe period varies by v, so different v → different
    // brightness-SIGN patterns → different ahash (a linear ramp
    // would alias every v onto one gradient signature)
    def ppm(v: Int): Array[Byte] =
      "P6\n4 2\n255\n".getBytes("ISO-8859-1") ++
        Array.tabulate[Byte](24)(i =>
          (if ((((i / 3) >> (v % 3)) & 1) == 0) 20 else 230).toByte)
    val sig = org.apache.spark.sql.functions.call_function(
      graft.expr.PixelGridSig.FunctionName,
      $"content", org.apache.spark.sql.functions.lit(4),
      org.apache.spark.sql.functions.lit(2)).getField("ahash")
    Seq((1L, ppm(1)), (2L, ppm(2))).toDF("media_id", "content")
      .withColumn("_sig", sig)
      .select($"_sig", $"media_id".as("_id"))
      .write.format("parquet").bucketBy(4, "_sig").sortBy("_sig")
      .saveAsTable("media_sigs_spec_t")
    try {
      val batch = Seq((9L, ppm(1)), (10L, ppm(9)))
        .toDF("media_id", "content").withColumn("_sig", sig)
        .filter($"_sig".isNotNull)
      // the ingest shape: the bucketed index streams through a
      // LeftSemi SHJ whose hash side is the trigger-bounded BATCH
      // (BuildRight — Spark has no build-left SHJ for LeftAnti, so a
      // direct anti-join could only build from the growing index);
      // the batch-bounded dup set broadcast-antis back onto the batch
      val dupSigs = spark.table("media_sigs_spec_t").select($"_sig")
        .join(batch.select($"_sig").hint("shuffle_hash"),
          Seq("_sig"), "left_semi")
      val survivors = batch.join(broadcast(dupSigs),
        Seq("_sig"), "left_anti")
      // no sort on either side; the only shuffle is the batch meeting
      // the index bucketing; the index is never the hash build side
      val plan = survivors.queryExecution.executedPlan.toString
      assert(!plan.contains("SortMergeJoin"), plan)
      assert(plan.contains("ShuffledHashJoin"), plan)
      assert(plan.contains("BuildRight"), plan)
      assert(plan.contains("BroadcastHashJoin"), plan)
      assert(Scale.countExchanges(survivors) <= 1, plan)
      // and the probe is correct: the re-encode of image 1 drops
      assert(survivors.select($"media_id").as[Long].collect().toSet ==
        Set(10L))
    } finally {
      spark.sql("DROP TABLE IF EXISTS media_sigs_spec_t")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
        (64L * 1024 * 1024).toString)
      spark.conf.set("spark.sql.adaptive.enabled", "true")
    }
  }

  test("ingest dedup joins the corpus postings index without reshuffling it") {
    import graft.operators.Dedup
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val corpus = Seq((1L, "alpha beta gamma delta"), (2L, "one two three four"))
      .toDF("doc_id", "text")
    Scale.writeBucketed(Dedup.postingsWithSize(corpus, "doc_id", "text", 2),
      "ingest_postings_spec_t", "_s", 4)
    try {
      val batch = Seq((9L, "alpha beta gamma echo")).toDF("doc_id", "text")
      val bp = Dedup.postingsWithSize(batch, "doc_id", "text", 2)
      val pairs = Dedup.crossJaccardFromPostings(bp,
        spark.table("ingest_postings_spec_t"), threshold = 0.3, maxDocFreq = 0L)
      // the batch side shuffles into the table's bucketing and the pair
      // aggregation shuffles once — the corpus index itself never moves
      assert(Scale.countExchanges(pairs) == 2,
        pairs.queryExecution.executedPlan.toString)
      // unbucketed baseline pays a third exchange to move the corpus
      val flat = Dedup.crossJaccardFromPostings(bp,
        Dedup.postingsWithSize(corpus, "doc_id", "text", 2),
        threshold = 0.3, maxDocFreq = 0L)
      assert(Scale.countExchanges(flat) == 3,
        flat.queryExecution.executedPlan.toString)
      // and the pruned-shuffle form is still correct: 9 near-dups 1
      val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((9L, 1L)), got.toString)
    } finally {
      spark.sql("DROP TABLE IF EXISTS ingest_postings_spec_t")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
        (64L * 1024 * 1024).toString)
      spark.conf.set("spark.sql.adaptive.enabled", "true")
    }
  }

  test("a filter above a TVF pushes into the operator's parquet scan") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-tvf").toString
    Seq((1L, "spark sql engine"), (2L, "gardening tips"), (3L, "spark joins"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(tmp)
    spark.read.parquet(tmp).createOrReplaceTempView("docs_tvf_scale")
    // the TVF splices the bm25 logical plan into the statement; the
    // doc_id predicate must reach BOTH parquet scans of the spliced
    // dataflow (docs spine + postings side), not stop at a barrier
    val q = spark.sql(
      """SELECT doc_id, bm25
         FROM graft_bm25('docs_tvf_scale', 'doc_id', 'text', 'spark')
         WHERE doc_id < 3""")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,3)")
      || plan.contains("PushedFilters: [LessThan(doc_id,3)"), plan)
    assert(q.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
  }

  test("date-partitioned storage prunes partitions at the scan") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-part").toString
    val ev = (1 to 300).map(i =>
      (i.toLong, s"2024-01-${"%02d".format(i % 30 + 1)}", i * 1.0))
      .toDF("event_id", "day", "value")
    ev.write.partitionBy("day").mode("overwrite").parquet(tmp)
    val pruned = spark.read.parquet(tmp).filter($"day" === "2024-01-05")
    // only one partition directory is read
    val scans = pruned.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty)
    assert(scans.head.relation.location.listFiles(
      scans.head.partitionFilters, scans.head.dataFilters).length == 1)
    assert(pruned.count() == 10)
  }

  test("semantic ingest reads only the touched cell partitions") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-semcells").toString
    // 8 cells, written the way the sink writes them (centroid_id is a
    // LONG upstream; partition inference narrows the dir values)
    val cells = (1L to 160L).map(i =>
      (i, Seq(i.toDouble, 1.0), i % 8, 0.9)).toDF(
      "vec_id", "vec", "centroid_id", "centroid_sim")
    cells.write.partitionBy("centroid_id").mode("overwrite").parquet(tmp)
    val touched: Array[Any] = Array(3L, 5L)
    val pruned = graft.streaming.StreamingIngest.readTouchedCells(
      spark, tmp, touched, org.apache.spark.sql.types.LongType, "vec")
    val scans = pruned.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty)
    // the isin literals carry the cast, not the partition column — a
    // column-side cast defeats pruning and rereads the whole index
    assert(scans.head.relation.location.listFiles(
      scans.head.partitionFilters, scans.head.dataFilters).length == 2)
    assert(pruned.count() == 40)
    assert(pruned.schema("centroid_id").dataType ==
      org.apache.spark.sql.types.LongType)
  }

  test("compactPartitions: over-threshold dirs fold to one file, data intact") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-compact").toString
    // cell 0 gets 5 append files; cell 1 gets one
    (1 to 5).foreach { i =>
      Seq((i.toLong, s"v$i", 0L)).toDF("id", "payload", "cell")
        .write.partitionBy("cell").mode("append").parquet(tmp)
    }
    Seq((100L, "w", 1L)).toDF("id", "payload", "cell")
      .write.partitionBy("cell").mode("append").parquet(tmp)
    def files(cell: Long): Set[String] = new java.io.File(s"$tmp/cell=$cell")
      .listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSet
    val before = spark.read.parquet(tmp).collect().map(_.toString).sorted
    val cell1Before = files(1L)
    assert(files(0L).size == 5)

    val n = Scale.compactPartitions(spark, tmp, maxFiles = 2)
    assert(n == 1)
    assert(files(0L).size == 1)
    assert(files(1L) == cell1Before) // under threshold: untouched
    val after = spark.read.parquet(tmp).collect().map(_.toString).sorted
    assert(after.toSeq == before.toSeq)
    // no scratch dirs left behind
    assert(!new java.io.File(tmp).listFiles()
      .exists(_.getName.startsWith("_graft_")))

    // crash repair: a _bak whose live dir vanished is the only copy —
    // the next call restores it before compacting anything
    val root = new java.io.File(tmp)
    assert(new java.io.File(root, "cell=1").renameTo(
      new java.io.File(root, "_graft_bak_cell=1")))
    new java.io.File(root, "_graft_tmp_cell=0").mkdir() // stale tmp
    assert(Scale.compactPartitions(spark, tmp, maxFiles = 2) == 0)
    assert(files(1L) == cell1Before)
    assert(!new java.io.File(root, "_graft_tmp_cell=0").exists())
    val repaired = spark.read.parquet(tmp).collect().map(_.toString).sorted
    assert(repaired.toSeq == before.toSeq)

    // missing table: a no-op, not an error
    assert(Scale.compactPartitions(spark, s"$tmp/nope") == 0)
  }

  test("salted join equals plain join on skewed data") {
    val skewed = (1 to 2000).map(i =>
      (if (i % 10 == 0) "cold" + i else "HOT", i.toLong)).toDF("key", "id")
    val dim = Seq(("HOT", "hot-val")).toDF("key", "attr")
      .union((10 to 2000 by 10).map(i => ("cold" + i, "cold-val")).toDF("key", "attr"))
    val plain = skewed.join(dim, Seq("key")).select("id", "attr")
    val salted = Scale.saltedJoin(skewed, dim, "key", 8, col("id"))
      .select("id", "attr")
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
  }

  test("declared hot queries have scale-safe plan shapes") {
    val dir = "/root/testdata/sf0.001"
    // q32 runs through the IVF-bucketed branch: the pair join is an
    // equi-join on the cell id. The only nested-loop allowed is the
    // centroid ASSIGNMENT (corpus × k broadcast centroids, k bounded by
    // the vec_id < 8 slice) — never a corpus × corpus all-pairs.
    val q32 = SparkEntry.queries("q32_embedding_neardup")(spark, dir)
      .queryExecution.sparkPlan
    assert(!q32.toString.contains("CartesianProduct"))
    val bnlj = q32.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }
    assert(bnlj.nonEmpty) // the assign passes exist...
    bnlj.foreach { j =>
      val build = (j.buildSide match {
        case org.apache.spark.sql.catalyst.optimizer.BuildRight => j.right
        case _ => j.left
      }).toString
      // ...and every one broadcasts only the bounded centroid slice
      assert(build.contains("vec_id") && build.contains("< 8"), build)
    }
    // q124 semantic dedup shares q32's regime: the dedup self-join must
    // be an equi-join on the cell id (never corpus × corpus), the only
    // nested loop is the bounded centroid assignment, and the
    // assignment feeds BOTH self-join sides from one persisted copy
    // (an uncached frame would run the assign pass twice)
    val q124 = SparkEntry.queries("q124_semantic_dedup")(spark, dir)
      .queryExecution.sparkPlan
    val q124s = q124.toString
    assert(!q124s.contains("CartesianProduct"), q124s)
    val q124Bnlj = q124.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }
    q124Bnlj.foreach { j =>
      val build = (j.buildSide match {
        case org.apache.spark.sql.catalyst.optimizer.BuildRight => j.right
        case _ => j.left
      }).toString
      assert(build.contains("vec_id") && build.contains("< 8"), build)
    }
    assert(q124s.contains("InMemoryTableScan"), q124s)

    // the mix resampler joins the sources-sized weight table broadcast
    // and repeats rows with a row-local explode — the corpus must not
    // shuffle (no Exchange between the corpus scan and the explode)
    val resampled = graft.operators.Corpus.sourceMixResampled(
      graft.Graft.table(spark, dir, "documents"), "doc_id", "source", "text")
      .queryExecution.sparkPlan.toString
    assert(resampled.contains("BroadcastHashJoin"), resampled)
    assert(resampled.contains("Generate"), resampled) // the explode

    // q23 carries the posting-list skew cap inside the capped native
    // pair aggregate (bounded buffers; overflow = pruned) — one corpus
    // pass, no anti-join, no persisted intermediate. Reset caches
    // first: an earlier suite's q24 pins the same shingle-set subtree,
    // which the cache manager would substitute into q23's plan.
    graft.Caches.release(spark)
    spark.sharedState.cacheManager.clearCache()
    val q23 = SparkEntry.queries("q23_jaccard_pairs")(spark, dir)
      .queryExecution.sparkPlan.toString
    assert(q23.contains(graft.expr.PostingPairsAgg.FunctionName))
    assert(!q23.contains("InMemoryTableScan"))
    // q24 materializes the shingle sets once and reuses them across the
    // signature pipeline and both verify joins
    val q24 = SparkEntry.queries("q24_minhash_pairs")(spark, dir)
      .queryExecution.sparkPlan.toString
    assert(q24.contains("InMemoryTableScan"))
    assert(!q24.contains("BroadcastNestedLoopJoin"))
    // q49 decontamination broadcasts the benchmark shingle set — the
    // corpus side must never shuffle for the join
    val q49 = SparkEntry.queries("q49_decontaminate")(spark, dir)
      .queryExecution.sparkPlan.toString
    assert(q49.contains("BroadcastHashJoin"), q49)
    // q54/q57: the as-of and range joins stay out of nested-loop land
    Seq("q54_asof_join", "q57_range_join").foreach { q =>
      val p = SparkEntry.queries(q)(spark, dir).queryExecution.sparkPlan.toString
      assert(!p.contains("BroadcastNestedLoopJoin") &&
        !p.contains("CartesianProduct"), s"$q:\n$p")
    }
    // q50's prefix sum must not sort the corpus in ONE partition: every
    // global-order window runs over the block table only (bounded), so
    // each Window node either carries a partition spec or is fed by the
    // block aggregate (grouping on _blk), never by the raw doc scan
    val q50 = SparkEntry.queries("q50_pack_sequences")(spark, dir)
      .queryExecution.optimizedPlan
    val globalWindows = q50.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
          if w.partitionSpec.isEmpty => w
    }
    globalWindows.foreach { w =>
      val aggsBelow = w.collect {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
      }
      assert(aggsBelow.nonEmpty,
        s"global-order window not over the block aggregate:\n$w")
    }
    // q78's bloom probe must sit on the corpus side BELOW the exact
    // join (scan-side pruning), and the exact join still broadcasts
    val q78 = SparkEntry.queries("q78_bloom_decontaminate")(spark, dir)
      .queryExecution.sparkPlan.toString
    assert(q78.toLowerCase.contains("bloommightcontain") &&
      q78.contains("BroadcastHashJoin"), q78)
    // q80/q84 hash-join the VOCABULARY-sized log-prob / unigram tables
    // (round-5 change: a forced broadcast of a vocabulary-sized table
    // is a driver-memory cliff at web-corpus scale, and the SMJ
    // alternative fully sorts the corpus stream — SCALE.md). The plan
    // must carry the hinted ShuffledHashJoin and never sort-merge the
    // postings against the vocabulary.
    Seq("q80_lm_score", "q84_pmi_bigrams").foreach { q =>
      val p = SparkEntry.queries(q)(spark, dir).queryExecution.sparkPlan.toString
      assert(p.contains("ShuffledHashJoin"), s"$q:\n$p")
      assert(!p.contains("SortMergeJoin"), s"$q:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
    }
    // q85's native KMV aggregate runs under ObjectHashAggregate with a
    // partial_graft_kmv stage — bounded partial buffers, true map-side
    // combine before the exchange
    val q85 = SparkEntry.queries("q85_kmv_agg")(spark, dir)
      .queryExecution.sparkPlan.toString
    assert(q85.contains("ObjectHashAggregate") &&
      q85.contains("partial_graft_kmv"), q85)
  }

  test("approx-count-distinct rewrite: opt-in, schema-preserving, exact below k") {
    val s2 = Graft.tune(spark.newSession())
    val sqlImplicits = s2.implicits
    import sqlImplicits._
    val df = (0L until 500L).map(i => (s"g${i % 2}", i % 40)).toDF("g", "v")
    df.createOrReplaceTempView("acd_in") // registers in s2 (df built there)
    def q = s2.sql("SELECT g, COUNT(DISTINCT v) AS n FROM acd_in GROUP BY g")
    // conf off → plain count distinct, no sketch in the plan
    val off = q
    assert(!off.queryExecution.optimizedPlan.toString.contains("graft_kmv"))
    val exact = off.as[(String, Long)].collect().toMap
    // conf on → the sketch appears, schema is unchanged, and below
    // k=64 distinct values the answer is still exact
    s2.conf.set(graft.plans.ApproxCountDistinctRewrite.ConfKey, "true")
    try {
      val on = q
      assert(on.queryExecution.optimizedPlan.toString.contains("graft_kmv"),
        on.queryExecution.optimizedPlan.toString)
      assert(on.schema("n").dataType == org.apache.spark.sql.types.LongType)
      assert(on.as[(String, Long)].collect().toMap == exact)
    } finally s2.conf.unset(graft.plans.ApproxCountDistinctRewrite.ConfKey)
    // timestamp children need the injected Cast to carry a timezone
    // (optimizer rules bypass ResolveTimeZone) — regression: this threw
    s2.conf.set(graft.plans.ApproxCountDistinctRewrite.ConfKey, "true")
    try {
      val tdf = s2.sql(
        "SELECT COUNT(DISTINCT TIMESTAMP '2024-01-01 00:00:00' + v * INTERVAL 1 HOUR) AS n FROM acd_in")
      assert(tdf.as[Long].head() == 40L)
    } finally s2.conf.unset(graft.plans.ApproxCountDistinctRewrite.ConfKey)
    // sibling sessions stay untouched while s2's conf is set (SQLConf
    // is per-session): re-enable on s2 and check the base session
    s2.conf.set(graft.plans.ApproxCountDistinctRewrite.ConfKey, "true")
    try {
      import spark.implicits._
      val base = (0L until 10L).map(i => ("g", i)).toDF("g", "v")
      assert(!base.groupBy("g")
        .agg(org.apache.spark.sql.functions.countDistinct($"v"))
        .queryExecution.optimizedPlan.toString.contains("graft_kmv"))
    } finally s2.conf.unset(graft.plans.ApproxCountDistinctRewrite.ConfKey)
  }

  test("filters and projections reach the parquet scan") {
    val dir = "/root/testdata/sf0.001"
    val plan = SparkEntry.queries("q02_filter_project")(spark, dir)
      .queryExecution.executedPlan.toString
    // the shipdate range predicate must be pushed into the scan (the
    // PushedFilters list is truncated in toString, so match its head)
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate)"), plan)
    assert(plan.contains("GreaterThanOrEqual(l_shipdate"), plan)
    // ...and the scan must read only the 5 referenced columns, never
    // the full 16-column lineitem schema (FileScan's untruncated
    // output-attribute list)
    val scanLine = plan.linesIterator
      .find(_.contains("FileScan parquet")).getOrElse("")
    val outList = scanLine.substring(scanLine.indexOf('['),
      scanLine.indexOf(']') + 1)
    assert(outList.contains("l_orderkey") && outList.contains("l_shipdate") &&
      !outList.contains("l_extendedprice"), outList)
  }

  test("filter stage emits per-step observe metrics in one pass") {
    import graft.pipeline.JobPipeline
    val batchTs = java.sql.Timestamp.valueOf("2024-02-01 00:00:00")
    val staged = Seq(
      ("l1", "2024-01-28 10:00:00", "fine role"),
      ("l2", "2020-01-01 00:00:00", "too old"),
      ("l3", "2024-01-28 10:00:00", ""),
      ("l4", "2024-01-28 10:00:00", "intern role")
    ).toDF("link", "published", "summary")
    val cfg = JobPipeline.FilterConfig(daysBack = 30,
      requiredCols = Seq("summary"),
      keywordExclusions = Map("summary" -> Seq("intern")))
    val out = JobPipeline.filterStage(staged, cfg, batchTs)
    val collected = out.collect() // metrics attach to this exact execution
    assert(collected.map(_.getAs[String]("link")).toSeq == Seq("l1"))
    val m = out.queryExecution.observedMetrics("filter_stage")
    assert(m.getAs[Long]("rows_in") == 4)
    assert(m.getAs[Long]("rows_date_ok") == 3)
    assert(m.getAs[Long]("rows_content_ok") == 2)
    assert(m.getAs[Long]("rows_out") == 1)
  }
}
