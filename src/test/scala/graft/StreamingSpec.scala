package graft

import graft.sources.Tables
import graft.streaming.StreamingIngest
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Structured Streaming semantics (SURVEY §2.10): watermarked dedup and
  * foreachBatch SCD sink driven synchronously by MemoryStream.
  */
class StreamingSpec extends SparkSpec {
  import graft.fixtures.FixtureBytes._
  import spark.implicits._

  private case class Ev(link: String, published: java.sql.Timestamp, title: String)
  private def t(s: String) = java.sql.Timestamp.valueOf(s)

  test("streaming dedup drops re-polled duplicate keys within watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, java.sql.Timestamp, String)]
    val stream = mem.toDF.toDF("link", "published", "title")
    val deduped = StreamingIngest.dedupStream(stream, "link", "published",
      "1 hour")
    val q = deduped.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      mem.addData(
        ("l1", t("2024-01-01 10:00:00"), "A"),
        ("l1", t("2024-01-01 10:00:00"), "A"), // same key+time re-polled
        ("l2", t("2024-01-01 10:05:00"), "B"))
      q.processAllAvailable()
      mem.addData(
        ("l1", t("2024-01-01 10:00:00"), "A"), // re-polled again, later batch
        ("l3", t("2024-01-01 10:10:00"), "C"))
      q.processAllAvailable()
      val out = spark.table("dedup_out").select("link").as[String].collect()
      assert(out.sorted.toSeq == Seq("l1", "l2", "l3"))
    } finally q.stop()
  }

  test("dedupStreamByKey drops a re-polled key even when its timestamp moved") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, java.sql.Timestamp, String)]
    val stream = mem.toDF.toDF("link", "published", "summary")
    val deduped = StreamingIngest.dedupStreamByKey(stream, "link", "published",
      "1 hour")
    val q = deduped.writeStream.format("memory").queryName("dedup_key_out")
      .outputMode("append").start()
    try {
      mem.addData(
        ("l1", t("2024-01-01 10:00:00"), "A"),
        ("l1", t("2024-01-01 10:02:00"), "A'"), // same key, RESTATED time
        ("l2", t("2024-01-01 10:05:00"), "B"))
      q.processAllAvailable()
      mem.addData(
        ("l1", t("2024-01-01 10:07:00"), "A''")) // re-polled, still in horizon
      q.processAllAvailable()
      val out = spark.table("dedup_key_out").select("link").as[String].collect()
      assert(out.sorted.toSeq == Seq("l1", "l2"),
        s"timestamp-moved duplicates must still dedup: ${out.toSeq}")
    } finally q.stop()
  }

  test("foreachBatch scd1 sink upserts into the table across batches") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft-stream").toString
    val mem = MemoryStream[(String, String, String)]
    val stream = mem.toDF.toDF("link", "entry_title", "summary")
    // AvailableNow snapshots available data at start — add BEFORE start
    mem.addData(("l1", "T1", "S1"), ("l2", "T2", "S2"))
    val q = StreamingIngest.scd1Sink(stream, s"$tmp/table", s"$tmp/ckpt",
        "link", Seq("entry_title", "summary"),
        trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination(60000) finally q.stop()
    val after1 = spark.read.parquet(s"$tmp/table")
    assert(after1.count() == 2)

    mem.addData(("l1", "T1-updated", "S1"), ("l3", "T3", "S3"))
    val q2 = StreamingIngest.scd1Sink(stream, s"$tmp/table", s"$tmp/ckpt",
        "link", Seq("entry_title", "summary"),
        trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q2.awaitTermination(60000) finally q2.stop()
    val after2 = spark.read.parquet(s"$tmp/table")
    assert(after2.count() == 3)
    assert(after2.filter($"link" === "l1").collect()(0)
      .getAs[String]("entry_title") == "T1-updated")
  }

  test("dedup-on-ingest: arrivals check against the accumulated postings index") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft-ingest-dedup").toString
    val table = "graft_test_ingest_postings"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    // an earlier aborted run can leave the warehouse location orphaned
    // (dir without catalog entry), which blocks saveAsTable
    locally {
      val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
      val dir = new java.io.File(wh, table)
      if (dir.exists()) { dir.listFiles().foreach(_.delete()); dir.delete(); () }
    }
    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDF.toDF("doc_id", "text")
    def run(data: (Long, String)*): Unit = {
      mem.addData(data: _*)
      val q = StreamingIngest.dedupIngestSink(stream, s"$tmp/docs", table,
          s"$tmp/ckpt", "doc_id", "text", n = 2, threshold = 0.6, buckets = 8,
          trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination(60000) finally q.stop()
    }
    def docIds(): Set[Long] = spark.read.parquet(s"$tmp/docs")
      .select("doc_id").as[Long].collect().toSet
    def postingFiles(): Map[String, (Long, String)] = {
      val wh = spark.conf.get("spark.sql.warehouse.dir")
        .stripPrefix("file:")
      new java.io.File(wh, table).listFiles()
        .filter(_.getName.endsWith(".parquet")).map { f =>
          val md = java.security.MessageDigest.getInstance("MD5")
          f.getName -> (f.length(),
            md.digest(java.nio.file.Files.readAllBytes(f.toPath))
              .map("%02x".format(_)).mkString)
        }.toMap
    }

    run((1L, "alpha beta gamma delta epsilon"),
      (2L, "one two three four five"))
    assert(docIds() == Set(1L, 2L))
    val filesAfter1 = postingFiles()
    assert(filesAfter1.nonEmpty)

    // batch 2: 3 duplicates 1 exactly; 5 near-dups 2 (jaccard 0.6);
    // 4 is fresh — only 4 lands, and the index GROWS without
    // rewriting: every batch-1 posting file survives byte-identical
    run((3L, "alpha beta gamma delta epsilon"),
      (4L, "totally different content here now"),
      (5L, "one two three four six"))
    assert(docIds() == Set(1L, 2L, 4L))
    val filesAfter2 = postingFiles()
    filesAfter1.foreach { case (name, sig) =>
      assert(filesAfter2.get(name).contains(sig), s"rewritten: $name")
    }
    assert(filesAfter2.size > filesAfter1.size)

    // within-batch duplicates keep the lowest id of the pair
    run((6L, "red green blue yellow violet"),
      (7L, "red green blue yellow violet"))
    assert(docIds() == Set(1L, 2L, 4L, 6L))

    // a replayed batch self-filters: every row's postings are already
    // in the index, so it rejoins itself at jaccard 1.0 and drops
    StreamingIngest.dedupIngestBatch(
      Seq((3L, "alpha beta gamma delta epsilon"),
        (4L, "totally different content here now"),
        (5L, "one two three four six")).toDF("doc_id", "text"),
      s"$tmp/docs", table, "doc_id", "text", n = 2, threshold = 0.6,
      maxDocFreq = 0L, buckets = 8)
    assert(docIds() == Set(1L, 2L, 4L, 6L))
    spark.sql(s"DROP TABLE IF EXISTS $table")

    // string ids violate the posting kernel's 64-bit-id contract —
    // refused up front with guidance, not a deep analysis error
    val e = intercept[IllegalArgumentException] {
      StreamingIngest.dedupIngestBatch(
        Seq(("a", "alpha beta gamma")).toDF("doc_id", "text"),
        s"$tmp/docs2", "graft_test_ingest_postings_str", "doc_id", "text",
        n = 2, threshold = 0.6, maxDocFreq = 0L, buckets = 4)
    }
    assert(e.getMessage.contains("integral id column"), e.getMessage)
  }

  test("dedup-on-ingest bloom pre-probe: exact-path equality + sidecar lifecycle") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-ingest-bloom").toString
    // drop table AND its warehouse dir — an earlier aborted run can
    // leave the location orphaned, which blocks saveAsTable
    def dropTable(table: String): Unit = {
      spark.sql(s"DROP TABLE IF EXISTS $table")
      val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
      val dir = new java.io.File(wh, table)
      if (dir.exists()) {
        dir.listFiles().foreach(_.delete())
        dir.delete()
      }
      ()
    }
    val batches = Seq(
      Seq((1L, "alpha beta gamma delta epsilon"),
        (2L, "one two three four five")),
      Seq((3L, "alpha beta gamma delta epsilon"), // dup of 1
        (4L, "totally different content here now"),
        (5L, "one two three four six")), // near-dup of 2
      Seq((6L, "fresh words entirely novel stuff"),
        (7L, "alpha beta gamma delta zeta"))) // near-dup of 1
    def ingestAll(tag: String, bloom: Boolean, cap: Long): (Set[Long], Set[(Long, Int, Long)]) = {
      val table = s"graft_test_bloom_$tag"
      dropTable(table)
      batches.foreach { b =>
        StreamingIngest.dedupIngestBatch(b.toDF("doc_id", "text"),
          s"$tmp/docs_$tag", table, "doc_id", "text", n = 2,
          threshold = 0.6, maxDocFreq = cap, buckets = 8,
          useBloom = bloom, bloomCapacity = 1L << 16)
      }
      val ids = spark.read.parquet(s"$tmp/docs_$tag")
        .select("doc_id").as[Long].collect().toSet
      val postings = spark.table(table)
        .as[(Long, Int, Long)].collect().toSet
      dropTable(table)
      (ids, postings)
    }
    // equality on BOTH kernel paths: uncapped (equi-join + doc prune)
    // and capped (tagged-union kernel + index-row prune)
    for ((cap, tag) <- Seq((0L, "uncapped"), (100L, "capped"))) {
      val (exactIds, exactPost) = ingestAll(s"${tag}_exact", bloom = false, cap)
      val (bloomIds, bloomPost) = ingestAll(s"${tag}_bloom", bloom = true, cap)
      assert(exactIds == Set(1L, 2L, 4L, 6L), s"$tag: $exactIds")
      assert(bloomIds == exactIds, s"$tag bloom diverged")
      assert(bloomPost == exactPost, s"$tag postings diverged")
      // sidecar exists only for the bloom run
      assert(new java.io.File(s"$tmp/docs_${tag}_bloom_bloom").exists())
      assert(!new java.io.File(s"$tmp/docs_${tag}_exact_bloom").exists())
    }
    // bootstrap backfill: a table built WITHOUT bloom gains a sidecar
    // on the first bloom-enabled batch, built from the full index —
    // so a duplicate of the PRE-bloom corpus still drops
    val table = "graft_test_bloom_boot"
    dropTable(table)
    StreamingIngest.dedupIngestBatch(batches.head.toDF("doc_id", "text"),
      s"$tmp/docs_boot", table, "doc_id", "text", n = 2, threshold = 0.6,
      maxDocFreq = 100L, buckets = 8, useBloom = false)
    assert(!new java.io.File(s"$tmp/docs_boot_bloom").exists())
    StreamingIngest.dedupIngestBatch(
      Seq((8L, "alpha beta gamma delta epsilon"), // dup of pre-bloom doc 1
        (9L, "never seen text at all")).toDF("doc_id", "text"),
      s"$tmp/docs_boot", table, "doc_id", "text", n = 2, threshold = 0.6,
      maxDocFreq = 100L, buckets = 8, useBloom = true, bloomCapacity = 1L << 16)
    assert(new java.io.File(s"$tmp/docs_boot_bloom").exists())
    def bootIds() = spark.read.parquet(s"$tmp/docs_boot")
      .select("doc_id").as[Long].collect().toSet
    assert(bootIds() == Set(1L, 2L, 9L))
    // replay with bloom on: self-filters, sidecar re-merge idempotent
    StreamingIngest.dedupIngestBatch(
      Seq((8L, "alpha beta gamma delta epsilon"),
        (9L, "never seen text at all")).toDF("doc_id", "text"),
      s"$tmp/docs_boot", table, "doc_id", "text", n = 2, threshold = 0.6,
      maxDocFreq = 100L, buckets = 8, useBloom = true, bloomCapacity = 1L << 16)
    assert(bootIds() == Set(1L, 2L, 9L))
    // a capacity change mid-stream is harmless: the sidecar keeps its
    // creation-time sizing and new keys just insert into it — a dup of
    // the earlier corpus still drops, fresh text still lands
    StreamingIngest.dedupIngestBatch(
      Seq((10L, "one two three four five"), // dup of doc 2
        (11L, "late but fresh content here")).toDF("doc_id", "text"),
      s"$tmp/docs_boot", table, "doc_id", "text", n = 2, threshold = 0.6,
      maxDocFreq = 100L, buckets = 8, useBloom = true,
      bloomCapacity = 1L << 18)
    assert(bootIds() == Set(1L, 2L, 9L, 11L))
    // a bloom-OFF batch invalidates the sidecar (its appends would
    // leave missing keys = missed dups); the next bloom-on batch
    // backfills from the full table and still catches a dup of the
    // bloom-off-era doc
    StreamingIngest.dedupIngestBatch(
      Seq((12L, "entirely novel bloomless words")).toDF("doc_id", "text"),
      s"$tmp/docs_boot", table, "doc_id", "text", n = 2, threshold = 0.6,
      maxDocFreq = 100L, buckets = 8, useBloom = false)
    assert(!new java.io.File(s"$tmp/docs_boot_bloom").exists(),
      "bloom-off append must invalidate the sidecar")
    StreamingIngest.dedupIngestBatch(
      Seq((13L, "entirely novel bloomless words"), // dup of bloom-off doc 12
        (14L, "yet more fresh material")).toDF("doc_id", "text"),
      s"$tmp/docs_boot", table, "doc_id", "text", n = 2, threshold = 0.6,
      maxDocFreq = 100L, buckets = 8, useBloom = true,
      bloomCapacity = 1L << 18)
    assert(bootIds() == Set(1L, 2L, 9L, 11L, 12L, 14L),
      "the rebuilt sidecar must cover bloom-off-era postings")
    dropTable(table)
  }

  test("semantic dedup-on-ingest: arrivals check against accumulated IVF cells") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft-ingest-sem").toString
    val centroids = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)))
      .toDF("vec_id", "vec")
    val mem = MemoryStream[(Long, Seq[Double])]
    val stream = mem.toDF.toDF("vec_id", "vec")
    def run(data: (Long, Seq[Double])*): Unit = {
      mem.addData(data: _*)
      val q = StreamingIngest.semanticDedupIngestSink(stream, s"$tmp/docs",
          s"$tmp/cells", centroids, s"$tmp/ckpt", "vec_id", "vec",
          threshold = 0.95,
          trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination(60000) finally q.stop()
    }
    def docIds(): Set[Long] = spark.read.parquet(s"$tmp/docs")
      .select("vec_id").as[Long].collect().toSet
    def cellFiles(cell: Long): Map[String, String] = {
      val d = new java.io.File(s"$tmp/cells/centroid_id=$cell")
      if (!d.exists()) Map.empty
      else d.listFiles().filter(_.getName.endsWith(".parquet")).map { f =>
        val md = java.security.MessageDigest.getInstance("MD5")
        f.getName -> md.digest(java.nio.file.Files.readAllBytes(f.toPath))
          .map("%02x".format(_)).mkString
      }.toMap
    }

    // batch 1: ids 1,2 are near-dups in cell 0 — SemDeDup dominance
    // keeps the LOWER centroid_sim (id 1); id 3 lands alone in cell 1
    run((1L, Seq(0.9, 0.1)), (2L, Seq(0.95, 0.05)), (3L, Seq(0.1, 0.9)))
    assert(docIds() == Set(1L, 3L))
    val cell1After1 = cellFiles(1L)
    assert(cell1After1.nonEmpty && cellFiles(0L).nonEmpty)

    // batch 2: 4 duplicates accepted id 1 (first-come-wins: corpus row
    // stays, arrival drops); 5 is fresh (cosine 0.78 to id 1, ties to
    // cell 0). Cell 1 is untouched — its files stay byte-identical:
    // the arrival only reads and writes the cells the batch touches.
    run((4L, Seq(0.88, 0.12)), (5L, Seq(0.6, 0.6)))
    assert(docIds() == Set(1L, 3L, 5L))
    assert(cellFiles(1L) == cell1After1)

    // replayed batch self-filters: each row rejoins itself in its cell
    // at cosine 1.0 ≥ threshold and drops
    StreamingIngest.semanticDedupIngestBatch(
      Seq((4L, Seq(0.88, 0.12)), (5L, Seq(0.6, 0.6))).toDF("vec_id", "vec"),
      s"$tmp/docs", s"$tmp/cells", centroids, "vec_id", "vec", 0.95)
    assert(docIds() == Set(1L, 3L, 5L))
    assert(cellFiles(1L) == cell1After1)
  }

  test("foreachBatch scd2 sink matches the batch scd2 result across snapshot batches") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft-scd2stream").toString
    val mem = MemoryStream[(String, String, String)]
    val stream = mem.toDF.toDF("link", "entry_title", "summary")
    val ts0 = t("2024-01-01 00:00:00")
    val tsOf = (id: Long) => new java.sql.Timestamp(ts0.getTime + id * 86400000L)
    def run(data: (String, String, String)*): Unit = {
      mem.addData(data: _*) // AvailableNow snapshots at start — add BEFORE start
      val q = StreamingIngest.scd2Sink(stream, s"$tmp/table", s"$tmp/ckpt",
          "link", Seq("entry_title", "summary"), tsOf, batchIsSnapshot = true,
          trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination(60000) finally q.stop()
    }
    val snap1 = Seq(("l1", "T1", "S1"), ("l2", "T2", "S2"))
    val snap2 = Seq(("l1", "T1-updated", "S1"), ("l2", "T2", "S2"), ("l3", "T3", "S3"))
    run(snap1: _*)
    run(snap2: _*)
    val streamed = spark.read.parquet(s"$tmp/table")

    // the same two snapshots through batch M3, same timestamps
    val schema = org.apache.spark.sql.types.StructType(
      snap1.toDF("link", "entry_title", "summary").schema.fields ++ Seq(
        org.apache.spark.sql.types.StructField("effective_start",
          org.apache.spark.sql.types.TimestampType),
        org.apache.spark.sql.types.StructField("effective_end",
          org.apache.spark.sql.types.TimestampType),
        org.apache.spark.sql.types.StructField("current_flag",
          org.apache.spark.sql.types.IntegerType)))
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    val b1 = graft.operators.Merges.scd2(empty,
      snap1.toDF("link", "entry_title", "summary"), "link",
      Seq("entry_title", "summary"), tsOf(0))
    val b2 = graft.operators.Merges.scd2(b1,
      snap2.toDF("link", "entry_title", "summary"), "link",
      Seq("entry_title", "summary"), tsOf(1))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select(streamed.columns.sorted.map(col): _*)
        .collect().map(_.toString).sorted.toSeq
    assert(canon(streamed) == canon(b2))
    // invariant: exactly one current version per key
    val perKey = streamed.filter($"current_flag" === 1)
      .groupBy("link").count().select("count").as[Long].collect()
    assert(perKey.nonEmpty && perKey.forall(_ == 1))
  }

  test("snapshot scd2 merge expires an absent key and a replay leaves the table identical") {
    val path = java.nio.file.Files.createTempDirectory("graft-scd2snap")
      .toString + "/table"
    val ts1 = t("2024-01-01 00:00:00"); val ts2 = t("2024-01-02 00:00:00")
    def mb(rows: (String, String, String)*) =
      rows.toDF("link", "entry_title", "summary")
    def merge(b: org.apache.spark.sql.DataFrame, ts: java.sql.Timestamp): Unit =
      StreamingIngest.scd2MergeBatch(path, b, "link",
        Seq("entry_title", "summary"), ts, batchIsSnapshot = true)
    def key(k: String) = spark.read.parquet(path).filter($"link" === k).collect()
    def rows() = spark.read.parquet(path).collect().map(_.toString).sorted.toSeq
    merge(mb(("l1", "T1", "S1"), ("l2", "T2", "S2"), ("l3", "T3", "S3")), ts1)
    // snapshot 2: l1 changed, l2 ABSENT (→ expire), l3 unchanged
    val snap2 = mb(("l1", "T1-updated", "S1"), ("l3", "T3", "S3"))
    merge(snap2, ts2)
    val l1 = key("l1")
    assert(l1.length == 2 && l1.count(_.getAs[Int]("current_flag") == 1) == 1)
    assert(l1.filter(_.getAs[Int]("current_flag") == 1)(0)
      .getAs[String]("entry_title") == "T1-updated")
    val l2 = key("l2")
    assert(l2.length == 1 && l2(0).getAs[Int]("current_flag") == 0 &&
      l2(0).getAs[java.sql.Timestamp]("effective_end") == ts2, l2.toSeq)
    val l3 = key("l3")
    assert(l3.length == 1 && l3(0).getAs[Int]("current_flag") == 1 &&
      l3(0).getAs[java.sql.Timestamp]("effective_start") == ts1)
    // a replayed snapshot is a fixed point
    val before = rows()
    merge(snap2, ts2)
    assert(rows() == before, "replayed snapshot changed the table")
    // exactly one current row per surviving key
    val perKey = spark.read.parquet(path).filter($"current_flag" === 1)
      .groupBy("link").count().as[(String, Long)].collect().toMap
    assert(perKey == Map("l1" -> 1L, "l3" -> 1L))
  }

  test("scd2 incremental micro-batches: untouched keys pass through, replay is a no-op") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-scd2inc").toString
    val path = s"$tmp/table"
    val ts1 = t("2024-01-01 00:00:00"); val ts2 = t("2024-01-02 00:00:00")
    def mb(rows: (String, String, String)*) =
      rows.toDF("link", "entry_title", "summary")
    val cmp = Seq("entry_title", "summary")
    StreamingIngest.scd2MergeBatch(path, mb(("l1", "T1", "S1"), ("l2", "T2", "S2")),
      "link", cmp, ts1)
    StreamingIngest.scd2MergeBatch(path, mb(("l1", "T1-updated", "S1"), ("l3", "T3", "S3")),
      "link", cmp, ts2)
    val after2 = spark.read.parquet(path).collect().map(_.toString).sorted.toSeq
    // l2 absent from the incremental batch: passes through, still current, NOT expired
    val l2 = spark.read.parquet(path).filter($"link" === "l2").collect()
    assert(l2.length == 1 && l2(0).getAs[Int]("current_flag") == 1 &&
      l2(0).getAs[java.sql.Timestamp]("effective_start") == ts1 &&
      l2(0).getAs[java.sql.Timestamp]("effective_end") == null)
    // l1 versioned: expired ts1-row + current ts2-row
    val l1 = spark.read.parquet(path).filter($"link" === "l1")
    assert(l1.count() == 2 &&
      l1.filter($"current_flag" === 1).collect()(0)
        .getAs[String]("entry_title") == "T1-updated")
    // foreachBatch retry: same batch, same deterministic ts → byte-identical table
    StreamingIngest.scd2MergeBatch(path, mb(("l1", "T1-updated", "S1"), ("l3", "T3", "S3")),
      "link", cmp, ts2)
    val afterReplay = spark.read.parquet(path).collect().map(_.toString).sorted.toSeq
    assert(afterReplay == after2, "replayed micro-batch must be a fixed point")
    // invariant after replay: exactly one current per key
    val perKey = spark.read.parquet(path).filter($"current_flag" === 1)
      .groupBy("link").count().select("count").as[Long].collect()
    assert(perKey.length == 3 && perKey.forall(_ == 1))
  }

  /** Rows the stream's dedup operator dropped, summed over every
    * trigger of `q` (duplicates plus late rows).
    */
  private def dedupDropped(q: org.apache.spark.sql.streaming.StreamingQuery): Long =
    q.recentProgress.flatMap(_.stateOperators.headOption).map { o =>
      Option(o.customMetrics.get("numDroppedDuplicateRows")).fold(0L)(_.longValue) +
        o.numRowsDroppedByWatermark
    }.sum

  /** Runs `body` and returns the executed plans of the parquet writes
    * into a path containing `pathPart` that it made.
    */
  private def writePlans(pathPart: String, expected: Int)(body: => Unit): Seq[String] = {
    import org.apache.spark.sql.execution.QueryExecution
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        val p = qe.executedPlan.toString
        if (p.contains("InsertIntoHadoopFsRelationCommand") && p.contains(pathPart))
          plans.add(p)
        ()
      }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      body
      // listener events arrive asynchronously
      val deadline = System.currentTimeMillis() + 20000
      while (plans.size < expected && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
    } finally spark.listenerManager.unregister(l)
    plans.toArray(Array.empty[String]).toSeq
  }

  test("scd2 sink evaluates each micro-batch once and merges it in one join") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft-scd2once").toString
    val mem = MemoryStream[(String, java.sql.Timestamp, String, String)]
    val stream = StreamingIngest.dedupStreamByKey(
      mem.toDF.toDF("link", "published", "entry_title", "summary"),
      "link", "published", "1 hour")
    val ts0 = t("2024-01-01 00:00:00")
    val tsOf = (id: Long) => new java.sql.Timestamp(ts0.getTime + id * 86400000L)
    def run(data: (String, java.sql.Timestamp, String, String)*): Long = {
      mem.addData(data: _*)
      val q = StreamingIngest.scd2Sink(stream, s"$tmp/table", s"$tmp/ckpt",
          "link", Seq("entry_title", "summary"), tsOf,
          trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination(60000) finally q.stop()
      assert(q.exception.isEmpty, q.exception)
      dedupDropped(q)
    }
    val p = t("2024-01-01 10:00:00")
    val plans = writePlans("table_tmp", expected = 2) {
      // round 1: two in-round duplicates (l1, l3) reach the dedup
      val d1 = run(("l1", p, "T1", "S1"), ("l1", p, "T1", "S1"),
        ("l2", p, "T2", "S2"), ("l3", p, "T3", "S3"), ("l3", p, "T3", "S3"))
      // round 2: one in-round duplicate (l4) and one re-polled key (l1)
      val d2 = run(("l4", p, "T4", "S4"), ("l4", p, "T4", "S4"),
        ("l1", p, "T1", "S1"))
      // one evaluation per trigger: the counters read the true drops, not
      // a multiple of them
      assert((d1, d2) == ((2L, 2L)), "dedup ran more than once per trigger")
    }
    val table = spark.read.parquet(s"$tmp/table")
    assert(table.count() == 4 && table.filter($"current_flag" === 1).count() == 4)
    assert(plans.nonEmpty, "no merge write was observed")
    plans.foreach { plan =>
      assert(plan.contains("FullOuter"), plan)
      Seq("LeftSemi", "LeftAnti", "BroadcastExchange", "Deduplicate").foreach(n =>
        assert(!plan.contains(n), s"merge write plan contains $n:\n$plan"))
    }
  }

  test("a second cron round with new batch and as-of times compiles no new code") {
    import graft.functions.Normalize
    import graft.model.Schemas
    import graft.pipeline.JobPipeline
    import org.apache.spark.metrics.source.CodegenMetrics
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    // the paper's cron round, small: poll files streamed through the feed
    // source, normalize and the keyed dedup into an SCD2 history, then the
    // filter stage over the current rows written out. Each round's stream
    // runs on a clone of the session, and the round's batch id (so its
    // version timestamp) and as-of time are new; with one executor class
    // loader for every clone and the timestamps read by reference, the
    // second round reuses the first round's compiled code
    val tmp = java.nio.file.Files.createTempDirectory("graft-cron-codegen")
    val polls = java.nio.file.Files.createDirectories(tmp.resolve("polls"))
    val table = tmp.resolve("history").toString
    val seeded = t("2024-01-20 00:00:00")
    val histSchema = StructType(
      (StructField("link", StringType) +: Schemas.FeedEntryCols.filterNot(_ == "link")
        .map(StructField(_, StringType))) ++ Schemas.Scd2Schema.fields.takeRight(3))
    spark.createDataFrame(spark.sparkContext.parallelize((0 until 4).map(i =>
      Row(s"http://h/$i", "", s"Role h$i", "2024-01-27 09:00:00", "Feed", "", "",
        s"old $i", "", seeded, null, 1)), 2), histSchema).write.parquet(table)
    def round(i: Int, items: (String, String)*): Long = {
      // every item has the same event time, so round 2 leaves the
      // watermark where round 1 put it
      java.nio.file.Files.writeString(polls.resolve(s"poll-$i.xml"),
        "<?xml version=\"1.0\"?><rss version=\"2.0\"><channel><title>Feed</title>" +
          items.map { case (link, summary) =>
            s"<item><title>Role $link</title><link>$link</link>" +
              "<pubDate>Sun, 28 Jan 2024 10:00:00 +0000</pubDate>" +
              s"<description>$summary</description></item>"
          }.mkString + "</channel></rss>")
      val asOf = t(s"2024-02-0${i + 1} 00:00:00")
      val raw = spark.readStream.format("graft.sources.feed.FeedDataSource")
        .option("path", polls.toString).load()
      val norm = JobPipeline.normalizeEntries(raw, asOf)
        .withColumn("_evt", Normalize.tsParse(col("published")))
      val deduped = StreamingIngest.dedupStreamByKey(norm, "link", "_evt", "1 minute")
        .drop("_evt")
      val q = StreamingIngest.scd2Sink(deduped, table, s"$tmp/ckpt", "link",
          Schemas.CompareCols, id => new java.sql.Timestamp(seeded.getTime + (id + 1) * 1000L),
          trigger = Trigger.AvailableNow())
        .start()
      try q.awaitTermination(60000) finally q.stop()
      assert(q.exception.isEmpty, q.exception)
      val current = spark.read.parquet(table).filter(col(Schemas.CurrentFlag) === 1)
        .select(Schemas.FeedEntryCols.map(col): _*)
      JobPipeline.filterStage(current, JobPipeline.FilterConfig(daysBack = 30), asOf)
        .write.parquet(s"$tmp/result-$i")
      spark.read.parquet(s"$tmp/result-$i").count()
    }
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    // round 1: two new links and one changed history row
    assert(round(1, "http://n/1" -> "new 1", "http://n/2" -> "new 2",
      "http://h/0" -> "changed 0") == 6L)
    val before = compiles.getCount
    // round 2: one new link, one re-polled link and one changed history row
    assert(round(2, "http://n/3" -> "new 3", "http://n/1" -> "new 1",
      "http://h/1" -> "changed 1") == 7L)
    assert(compiles.getCount - before == 0L)
    val history = spark.read.parquet(table)
    assert(history.count() == 9L)
    // the two rounds stamped their versions with different batch times
    assert(history.select(Schemas.EffectiveStart).distinct().count() == 3L)
    assert(spark.read.parquet(s"$tmp/result-1").select("AS_OF_DT").as[String]
      .collect().toSet == Set("2024-02-02 00:00:00"))
  }

  test("dedup-on-ingest sinks evaluate each micro-batch once") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft-ingest-once").toString
    val table = "graft_test_ingest_once_postings"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    locally {
      val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
      val dir = new java.io.File(wh, table)
      if (dir.exists()) { dir.listFiles().foreach(_.delete()); dir.delete(); () }
    }
    val p = t("2024-01-01 10:00:00")
    def start(w: org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row]): Long = {
      val q = w.start()
      try q.awaitTermination(60000) finally q.stop()
      assert(q.exception.isEmpty, q.exception)
      dedupDropped(q)
    }
    val texts = MemoryStream[(Long, java.sql.Timestamp, String)]
    texts.addData((1L, p, "alpha beta gamma delta epsilon"),
      (1L, p, "alpha beta gamma delta epsilon"),
      (2L, p, "an entirely different document body"))
    val textDropped = start(StreamingIngest.dedupIngestSink(
      StreamingIngest.dedupStreamByKey(texts.toDF.toDF("doc_id", "ts", "text"),
        "doc_id", "ts", "1 hour").drop("ts"),
      s"$tmp/docs", table, s"$tmp/ckpt", "doc_id", "text", n = 2,
      threshold = 0.6, buckets = 4,
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow()))
    assert(textDropped == 1L, "text dedup-on-ingest re-ran its upstream")
    assert(spark.read.parquet(s"$tmp/docs").count() == 2)
    val vecs = MemoryStream[(Long, java.sql.Timestamp, Seq[Double])]
    vecs.addData((1L, p, Seq(1.0, 0.0)), (1L, p, Seq(1.0, 0.0)),
      (2L, p, Seq(0.0, 1.0)))
    val centroids = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)))
      .toDF("vec_id", "vec")
    val vecDropped = start(StreamingIngest.semanticDedupIngestSink(
      StreamingIngest.dedupStreamByKey(vecs.toDF.toDF("vec_id", "ts", "vec"),
        "vec_id", "ts", "1 hour").drop("ts"),
      s"$tmp/vdocs", s"$tmp/cells", centroids, s"$tmp/vckpt", "vec_id", "vec",
      threshold = 0.95,
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow()))
    assert(vecDropped == 1L, "semantic dedup-on-ingest re-ran its upstream")
    assert(spark.read.parquet(s"$tmp/vdocs").count() == 2)
    spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("incremental scd2 sink: pass-through edges") {
    val cmp = Seq("entry_title", "summary")
    val ts1 = t("2024-01-01 00:00:00"); val ts2 = t("2024-01-02 00:00:00")
    val ts3 = t("2024-01-03 00:00:00")
    def merge(path: String, b: org.apache.spark.sql.DataFrame,
        ts: java.sql.Timestamp): Unit =
      StreamingIngest.scd2MergeBatch(path, b, "link", cmp, ts)
    def read(path: String) = spark.read.parquet(path)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select(df.columns.sorted.map(col): _*).collect().map(_.toString).sorted.toSeq
    locally {
      val path = java.nio.file.Files.createTempDirectory("graft-scd2edge")
        .toString + "/table"
      def mb(rs: (String, Option[String], Option[String], Option[String])*) =
        rs.toDF("link", "entry_title", "summary", "notes")
      merge(path, mb(("l1", Some("T1"), Some("S1"), Some("n1")),
        ("l2", None, None, None)), ts1)
      val first = rows(read(path))
      // history-only current rows pass through unchanged, including l2,
      // whose compare and notes columns are all null
      merge(path, mb(("l1", Some("T1-updated"), Some("S1"), Some(""))), ts2)
      val l2 = read(path).filter($"link" === "l2").collect()
      assert(l2.length == 1 && l2(0).getAs[Int]("current_flag") == 1 &&
        l2(0).getAs[java.sql.Timestamp]("effective_start") == ts1 &&
        l2(0).isNullAt(l2(0).fieldIndex("entry_title")) &&
        l2(0).isNullAt(l2(0).fieldIndex("notes")), l2.toSeq)
      val l1 = read(path).filter($"link" === "l1")
      assert(l1.count() == 2)
      assert(l1.filter($"current_flag" === 1).collect()(0)
        .getAs[String]("notes") == "n1", "notes not carried")
      val second = rows(read(path))
      assert(second.length == first.length + 1)
      // an empty batch changes nothing
      merge(path, mb(), ts3)
      assert(rows(read(path)) == second, "empty batch changed the table")
      // a batch disjoint from the history inserts and expires nothing
      merge(path, mb(("l3", Some("T3"), Some("S3"), None)), ts3)
      val third = rows(read(path))
      assert(third.length == second.length + 1)
      assert(read(path).filter($"current_flag" === 0).count() == 1)
      assert(third.filterNot(_.contains("l3")) == second)
      // a replayed batch leaves the table identical
      merge(path, mb(("l3", Some("T3"), Some("S3"), None)), ts3)
      assert(rows(read(path)) == third, "replay changed the table")
    }
    // a LongType key takes the same single-join path
    locally {
      val path = java.nio.file.Files.createTempDirectory("graft-scd2long")
        .toString + "/table"
      def mb(rs: (Long, String, String)*) = rs.toDF("link", "entry_title", "summary")
      merge(path, mb((1L, "T1", "S1"), (2L, "T2", "S2")), ts1)
      merge(path, mb((2L, "T2-updated", "S2"), (3L, "T3", "S3")), ts2)
      val table = read(path)
      assert(table.schema("link").dataType == org.apache.spark.sql.types.LongType)
      val current = table.filter($"current_flag" === 1)
        .select($"link", $"entry_title").as[(Long, String)].collect().sorted.toSeq
      assert(current == Seq((1L, "T1"), (2L, "T2-updated"), (3L, "T3")))
      assert(table.count() == 4)
    }
  }

  test("sink table swap recovers from a crash between backup and promote") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-swap").toString
    val path = s"$tmp/table"
    val ts1 = t("2024-01-01 00:00:00"); val ts2 = t("2024-01-02 00:00:00")
    def mb(rows: (String, String, String)*) =
      rows.toDF("link", "entry_title", "summary")
    val cmp = Seq("entry_title", "summary")
    StreamingIngest.scd2MergeBatch(path, mb(("l1", "T1", "S1")), "link", cmp, ts1)
    // simulate the worst crash point: table renamed away to _bak, the
    // promote of _tmp never happened (and _tmp was lost with the JVM)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(path),
      new org.apache.hadoop.fs.Path(path + "_bak")))
    // the next micro-batch must see the _bak state, not an empty table
    StreamingIngest.scd2MergeBatch(path, mb(("l1", "T1-updated", "S1")),
      "link", cmp, ts2)
    val l1 = spark.read.parquet(path).filter($"link" === "l1").collect()
    assert(l1.length == 2, "pre-crash history was lost")
    assert(l1.count(_.getAs[Int]("current_flag") == 1) == 1)
    assert(l1.filter(_.getAs[Int]("current_flag") == 1)(0)
      .getAs[String]("entry_title") == "T1-updated")
    // the recovery merge cleaned the backup up
    assert(!fs.exists(new org.apache.hadoop.fs.Path(path + "_bak")))
  }

  test("table swap replay does not delete the sole surviving _bak copy") {
    // crash-recovery replay: a previous run died between rename(dst, bak)
    // and rename(tmp, dst) — dst is MISSING, _bak holds the only data.
    // swapTable must not clear _bak before dst is restored (the old
    // unconditional leading delete(bak) lost the table here if a second
    // crash hit before the promote).
    val tmp = java.nio.file.Files.createTempDirectory("graft-swap2").toString
    val path = s"$tmp/table"
    def mb(rows: (String, String, String)*) =
      rows.toDF("link", "entry_title", "summary")
    mb(("l1", "T-bak", "S1")).write.parquet(path + "_bak")
    mb(("l1", "T-new", "S1")).write.parquet(path + "_tmp")
    Tables.swapTable(spark, path)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(path)))
    assert(spark.read.parquet(path).collect()(0)
      .getAs[String]("entry_title") == "T-new")
    // _bak cleanup only happens after dst is in place
    assert(!fs.exists(new org.apache.hadoop.fs.Path(path + "_bak")))
  }

  test("sink table commits resolve the table's own filesystem, not the default one") {
    // a table under a scheme other than the default filesystem's: a
    // lookup of the default filesystem fails on it with "Wrong FS"
    val dir = java.nio.file.Files.createTempDirectory("graft-scheme").toString
    val path = s"graftfs://$dir/table"
    spark.conf.set("fs.graftfs.impl", classOf[GraftSchemeFileSystem].getName)
    try {
      val ts1 = t("2024-01-01 00:00:00"); val ts2 = t("2024-01-02 00:00:00")
      def mb(rows: (String, String, String)*) =
        rows.toDF("link", "entry_title", "summary")
      val cmp = Seq("entry_title", "summary")
      StreamingIngest.scd2MergeBatch(path, mb(("l1", "T1", "S1")), "link", cmp, ts1)
      StreamingIngest.scd2MergeBatch(path, mb(("l1", "T1-updated", "S1")),
        "link", cmp, ts2)
      val schema = spark.read.parquet(path).schema
      val l1 = Tables.readCommitted(spark, path, schema)
        .filter($"link" === "l1").collect()
      assert(l1.length == 2 && l1.count(_.getAs[Int]("current_flag") == 1) == 1)
      // the plain files really live under the local directory
      assert(new java.io.File(s"$dir/table").isDirectory)
      // readCommitted falls back to the _bak an interrupted swap left
      assert(new java.io.File(s"$dir/table")
        .renameTo(new java.io.File(s"$dir/table_bak")))
      assert(Tables.readCommitted(spark, path, schema).count() == 2)
      // and an explicit swap promotes _tmp over the missing table
      mb(("l9", "T9", "S9")).write.parquet(path + "_tmp")
      Tables.swapTable(spark, path)
      assert(spark.read.parquet(path).as[(String, String, String)].collect()
        .toSeq == Seq(("l9", "T9", "S9")))
      assert(!new java.io.File(s"$dir/table_bak").exists())
    } finally spark.conf.unset("fs.graftfs.impl")
  }

  test("table swap fails loudly when the promote rename fails") {
    // Hadoop FileSystems report rename failure as `false`; a swallowed
    // failed promote would commit the batch with the table missing
    val tmp = java.nio.file.Files.createTempDirectory("graft-swap3").toString
    val path = s"$tmp/table"
    // no _tmp exists → rename(tmp, dst) returns false
    intercept[java.io.IOException] {
      Tables.swapTable(spark, path)
    }
  }

  test("changedOnlyStream emits a key only when its payload changes") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(String, Long, String)] // (link, version, payload)
    val ds = mem.toDS()
    val out = StreamingIngest.changedOnlyStream[String, (String, Long, String)](
      ds, _._1, _._2, _._3)
    val q = out.writeStream.format("memory").queryName("changed_out")
      .outputMode("append").start()
    try {
      mem.addData(("l1", 1L, "A"), ("l2", 1L, "B"))
      q.processAllAvailable()
      mem.addData(("l1", 2L, "A"))           // re-poll, same payload → no emit
      q.processAllAvailable()
      mem.addData(("l1", 3L, "A2"), ("l2", 2L, "B")) // l1 changed, l2 not
      q.processAllAvailable()
      val rows = spark.table("changed_out")
        .as[(String, Long, String)].collect().toSet
      assert(rows == Set(("l1", 1L, "A"), ("l2", 1L, "B"), ("l1", 3L, "A2")))
    } finally q.stop()
  }

  test("windowed counts aggregate per tumbling day window") {
    val ev = Seq(
      ("2024-01-01 05:00:00", "click", 1.0),
      ("2024-01-01 18:00:00", "click", 2.0),
      ("2024-01-02 05:00:00", "view", 3.0)
    ).toDF("ts_s", "event_type", "value")
      .withColumn("ts", to_timestamp($"ts_s"))
    val out = StreamingIngest.windowedCounts(ev, "ts", "1 day", "1 day",
      Seq("event_type"))
    val rows = out.select($"event_type", $"n").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows("click") == 2 && rows("view") == 1)
  }

  test("session_window stats agree with the relational sessionizer") {
    val ev = Seq(
      (1L, "2024-01-01 10:00:00"), (1L, "2024-01-01 10:10:00"), // session A
      (1L, "2024-01-01 11:30:00"),                              // session B
      (2L, "2024-01-01 09:00:00")
    ).map { case (u, s) => (u, t(s)) }.toDF("user_id", "ts2")
    val native = StreamingIngest
      .sessionWindowStats(ev, "ts2", "user_id", "30 minutes", None)
      .select($"user_id", $"n_events", $"session_start", $"session_end")
      .as[(Long, Long, java.sql.Timestamp, java.sql.Timestamp)]
      .collect().toSet
    val relational = graft.operators.Sessions
      .sessionStats(ev, "user_id", "ts2", "user_id", 1799,
        c => c) // gap >= 1800 starts a new session ⇔ "diff > 1799"
      .select($"user_id", $"n_events",
        $"session_start".cast("timestamp"), $"session_end".cast("timestamp"))
      .as[(Long, Long, java.sql.Timestamp, java.sql.Timestamp)]
      .collect().toSet
    assert(native == relational)
  }

  test("native sketch aggregates run unchanged in a watermarked windowed stream") {
    // the mergeable-aggregate contract (bounded buffer + merge) is
    // exactly what streaming state requires: graft_cms/graft_kmv work
    // in a watermarked windowed groupBy with no extra code. APPEND
    // mode, so a window only emits once the watermark finalizes it —
    // this exercises the real state-eviction path, not a
    // complete-mode re-dump where the watermark is inert.
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    val agg = mem.toDF.toDF("ts", "uid")
      .withWatermark("ts", "1 hour")
      .groupBy(window($"ts", "1 day"))
      .agg(
        call_function("graft_cms", $"uid", lit(4), lit(64)).as("cms"),
        call_function("graft_kmv", $"uid", lit(32)).as("kmv"),
        call_function("graft_kmvq", $"uid",
          hour($"ts").cast("double"), lit(16)).as("kq"))
    val q = agg.writeStream.format("memory").queryName("sketch_out")
      .outputMode("append").start()
    try {
      mem.addData(
        (t("2024-01-01 10:00:00"), "u1"), (t("2024-01-01 11:00:00"), "u1"),
        (t("2024-01-01 12:00:00"), "u2"))
      q.processAllAvailable()
      // watermark = 11:00 → day-1 window still open, nothing emitted
      assert(spark.table("sketch_out").count() == 0)
      // day-2 event pushes the watermark past day-1's end → day 1
      // finalizes with its sketch state and is emitted + evicted
      mem.addData((t("2024-01-02 09:00:00"), "u3"))
      q.processAllAvailable()
      val day1 = spark.table("sketch_out")
        .select($"kmv.kmv_estimate",
          graft.operators.Sketches.cmsEstimate($"cms", lit("u1"), 4, 64),
          $"kq")
        .as[(Double, Long, Seq[Double])].collect().toSeq
      // kmvq: u1 keeps its min value (10.0), u2 its only one (12.0)
      assert(day1 == Seq((2.0, 2L, Seq(10.0, 12.0))))
      // advance again → day 2 finalizes too
      mem.addData((t("2024-01-03 09:00:00"), "u9"))
      q.processAllAvailable()
      val all = spark.table("sketch_out")
        .select($"kmv.kmv_estimate",
          graft.operators.Sketches.cmsEstimate($"cms", lit("u1"), 4, 64),
          $"kq")
        .as[(Double, Long, Seq[Double])].collect().toSet
      // day 2: u3 only, u1 absent
      assert(all == Set((2.0, 2L, Seq(10.0, 12.0)), (1.0, 0L, Seq(9.0))))
    } finally q.stop()
  }

  test("media dedup-on-ingest: perceptual collapse, index survival, replay self-filter") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-media-ingest").toString
    val table = "graft_test_media_sigs"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    // the same 4×2 image in two FORMATS (PPM and BMP bytes differ
    // entirely; the shared decode lands both on one ahash), plus a
    // distinct image and an undecodable row
    def ppm(vals: Seq[Int]): Array[Byte] =
      "P6\n4 2\n255\n".getBytes("ISO-8859-1") ++
        vals.flatMap(v => Seq.fill(3)(v.toByte)).toArray
    def bmp(vals: Seq[Int]): Array[Byte] = {
      // minimal bottom-up 24bpp BMP, rows padded to 4 bytes (4·3=12 ✓)
      val px = (1 to 0 by -1).flatMap(r => // bottom-up row order
        (0 until 4).flatMap { x =>
          val v = vals(r * 4 + x).toByte
          Seq(v, v, v) // BGR
        }).toArray
      "BM".getBytes("ISO-8859-1") ++ le32(54 + px.length) ++ le32(0) ++
        le32(54) ++ le32(40) ++ le32(4) ++ le32(2) ++ le16(1) ++ le16(24) ++
        le32(0) ++ le32(px.length) ++ le32(0) ++ le32(0) ++ le32(0) ++
        le32(0) ++ px
    }
    val imgA = Seq(10, 200, 10, 200, 200, 10, 200, 10)
    val imgB = Seq(250, 250, 10, 10, 10, 10, 250, 250)
    def run(rows: (Long, Array[Byte])*): Unit =
      StreamingIngest.mediaDedupIngestBatch(
        rows.toSeq.toDF("media_id", "content"),
        s"$tmp/media", table, "media_id", "content", gx = 4, gy = 2,
        buckets = 4)
    def ids(): Set[Long] =
      spark.read.parquet(s"$tmp/media").select("media_id")
        .as[Long].collect().toSet
    // batch 1: A as PPM, A as BMP (perceptual twin — collapses to the
    // lowest id), B, and junk (NULL sig — always passes)
    run(1L -> ppm(imgA), 2L -> bmp(imgA), 3L -> ppm(imgB),
      4L -> "not an image".getBytes)
    assert(ids() == Set(1L, 3L, 4L))
    // batch 2: yet another re-encode of A drops vs the INDEX; a new
    // image survives; junk passes again (documented contract)
    run(5L -> bmp(imgA), 6L -> ppm(Seq(1, 2, 3, 4, 250, 249, 248, 247)),
      7L -> "junk again".getBytes)
    assert(ids() == Set(1L, 3L, 4L, 6L, 7L))
    // replayed batch self-filters: every decodable row's signature is
    // already in the index
    run(3L -> ppm(imgB), 6L -> ppm(Seq(1, 2, 3, 4, 250, 249, 248, 247)))
    assert(ids() == Set(1L, 3L, 4L, 6L, 7L))
    // the index is bucketed and append-only: existing files never
    // rewritten across batches
    assert(spark.table(table).count() == 3) // A, B, the batch-2 image
    spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("media ingest batch-id marker: committed AND torn replays never duplicate") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-media-bid").toString
    val table = "graft_test_media_sigs_bid"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    def ppm(vals: Seq[Int]): Array[Byte] =
      "P6\n4 2\n255\n".getBytes("ISO-8859-1") ++
        vals.flatMap(v => Seq.fill(3)(v.toByte)).toArray
    val imgA = Seq(10, 200, 10, 200, 200, 10, 200, 10)
    val imgB = Seq(250, 250, 10, 10, 10, 10, 250, 250)
    val imgC = Seq(1, 2, 3, 4, 250, 249, 248, 247)
    def run(id: Long, rows: (Long, Array[Byte])*): Unit =
      StreamingIngest.mediaDedupIngestBatch(
        rows.toSeq.toDF("media_id", "content"),
        s"$tmp/media", table, "media_id", "content", gx = 4, gy = 2,
        buckets = 4, batchId = id)
    def media() = spark.read.parquet(s"$tmp/media")
    run(0L, 1L -> ppm(imgA), 2L -> ppm(imgB))
    assert(media().count() == 2)
    // `batch` is discovered as a partition column of the media path
    assert(media().select("batch").distinct().as[Long].collect().toSeq
      == Seq(0L))
    // FULLY-COMMITTED replay: batch 0's id is in the index → no-op
    run(0L, 1L -> ppm(imgA), 2L -> ppm(imgB))
    assert(media().count() == 2)
    // TORN replay: a failed batch-1 attempt appended media but died
    // before the signature write — simulate its leftover directory,
    // then replay; the overwrite mode rewrites it instead of
    // duplicating
    Seq(5L -> ppm(imgC)).toDF("media_id", "content")
      .write.parquet(s"$tmp/media/batch=1")
    assert(media().filter($"media_id" === 5L).count() == 1)
    run(1L, 5L -> ppm(imgC))
    assert(media().filter($"media_id" === 5L).count() == 1)
    assert(media().count() == 3)
    // and the index carries the two committed batch markers
    assert(spark.table(table).select("_batch").distinct()
      .as[Long].collect().toSet == Set(0L, 1L))
    spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("audio ingest: cross-codec twins (WAV/FLAC/OGG) collapse at ingest") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-audio-dd").toString
    val table = "graft_test_audio_sigs"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    // loud/quiet envelope patterns over 64 windows: loud windows are
    // even and never adjacent, so cross-codec ehash equality is the
    // gradient-sign argument the q185/q201 oracles pin
    def samples(pat: Int => Boolean): Array[Int] =
      Array.tabulate(256)(k => if (pat(k / 4)) 1000 else 0)
    def wavClip(pat: Int => Boolean): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(44 + 512)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("ISO-8859-1")).putInt(36 + 512)
        .put("WAVE".getBytes("ISO-8859-1"))
        .put("fmt ".getBytes("ISO-8859-1")).putInt(16)
        .putShort(1).putShort(1).putInt(8000).putInt(16000)
        .putShort(2).putShort(16)
        .put("data".getBytes("ISO-8859-1")).putInt(512)
      samples(pat).foreach(v => bb.putShort(v.toShort))
      bb.array()
    }
    def flacClip(pat: Int => Boolean): Array[Byte] =
      graft.expr.FlacBuild.encode(Array(samples(pat)), 8000, 16, 64,
        "indep", "verbatim", partOrder = 0)
    def oggClip(pat: Int => Boolean): Array[Byte] =
      graft.expr.VorbisBuild.pattern(8000, 64, pat, seed = 11L)
    val patA = (w: Int) => w % 4 == 0
    val patB = (w: Int) => w % 8 == 2
    val patC = (w: Int) => w % 8 == 4
    def run(rows: (Long, Array[Byte])*): Unit =
      StreamingIngest.audioDedupIngestBatch(
        rows.toSeq.toDF("media_id", "content"),
        s"$tmp/audio", table, "media_id", "content", nFrames = 64,
        buckets = 4)
    def ids(): Set[Long] =
      spark.read.parquet(s"$tmp/audio").select("media_id")
        .as[Long].collect().toSet
    // batch 1: clip A in all three codecs (one survivor, lowest id),
    // clip B, and junk (NULL sig passes — the triage contract)
    run(1L -> wavClip(patA), 2L -> flacClip(patA), 3L -> oggClip(patA),
      4L -> wavClip(patB), 5L -> "not audio at all".getBytes)
    assert(ids() == Set(1L, 4L, 5L))
    // batch 2: an OGG re-encode of B drops vs the INDEX; C survives
    run(6L -> oggClip(patB), 7L -> flacClip(patC))
    assert(ids() == Set(1L, 4L, 5L, 7L))
    // replay self-filters
    run(4L -> wavClip(patB), 7L -> flacClip(patC))
    assert(ids() == Set(1L, 4L, 5L, 7L))
    assert(spark.table(table).count() == 3) // A, B, C
    spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("document ingest: archives of documents, cross-FORMAT duplicates drop") {
    // the round-15 archive-ingest composition grown into the document
    // tier: archives arrive, entries explode, graft_document_text is
    // the normalization feeding dedupIngestBatch — so the same text
    // arriving as .pdf in one archive and as .docx/.doc/.odt in a
    // later one is an exact duplicate and drops against the index
    val tmp = java.nio.file.Files.createTempDirectory("graft-doc-dd").toString
    val table = "graft_test_docingest_postings"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    def docDoc(line: String): Array[Byte] =
      graft.expr.DocBuild.doc(Seq((line + "\r", true)))
    def rtfDoc(line: String): Array[Byte] = ascii(s"{\\rtf1 $line\\par}")
    def ingest(rows: (Long, Array[Byte])*): Unit = {
      val files = rows.toSeq.toDF("file_id", "content")
      val batch = files
        .select(col("file_id"),
          explode(call_function(graft.expr.TarEntries.FunctionName,
            col("content"), lit(16))).as("e"))
        .select(xxhash64(concat(col("file_id").cast("string"),
          lit(":"), col("e.path"))).as("doc_id"),
          // whitespace-collapsed extraction: the formats' newline
          // conventions differ, the words do not
          trim(regexp_replace(call_function(
            graft.expr.DocumentText.FunctionName, col("e.content")),
            "\\s+", " ")).as("text"))
      StreamingIngest.dedupIngestBatch(batch, s"$tmp/docs", table,
        "doc_id", "text", n = 3, threshold = 0.7, maxDocFreq = 0L,
        buckets = 8)
    }
    def texts(): Set[String] =
      spark.read.parquet(s"$tmp/docs").select("text")
        .as[String].collect().toSet
    val t1 = "alpha beta gamma delta epsilon zeta"
    val t2 = "one two three four five six seven"
    val t3 = "fresh words entirely novel content here"
    // batch 1: t1 as PDF and t2 as DOCX, plus t1 AGAIN as .doc in the
    // SAME archive (within-batch cross-format dup: one survivor)
    ingest(1L -> tarOf(Seq("a.pdf" -> pdfDoc(t1), "b.docx" -> docxDoc(t2),
      "c.doc" -> docDoc(t1))))
    assert(texts() == Set(t1, t2))
    // batch 2: t1 re-arrives as RTF in a NEW archive (drops vs the
    // index), t3 arrives fresh as .doc (lands)
    ingest(2L -> tarOf(Seq("d.rtf" -> rtfDoc(t1), "e.doc" -> docDoc(t3))))
    assert(texts() == Set(t1, t2, t3))
    // batch 3: t2 re-arrives as the BODY of an .eml message (the mail
    // arm of the document dispatch; near-dup at jaccard ~0.78 against
    // the DOCX original despite the Subject prefix) — drops; a fresh
    // mail lands with its subject+body form
    def emlDoc(subject: String, body: String): Array[Byte] =
      (s"From: x@example.com\nSubject: $subject\n\n$body\n")
        .getBytes("ISO-8859-1")
    ingest(3L -> tarOf(Seq("f.eml" -> emlDoc("re", t2),
      "g.eml" -> emlDoc("fresh", "completely new mail body words here"))))
    val after3 = texts()
    assert(after3.size == 4 && after3.exists(_.contains("new mail body")))
    // replay self-filters
    ingest(3L -> tarOf(Seq("f.eml" -> emlDoc("re", t2),
      "g.eml" -> emlDoc("fresh", "completely new mail body words here"))))
    assert(texts() == after3)
    // batch 4: a longer document lands as DOCX; batch 5 re-delivers
    // it as an Outlook .msg (the compound-file mail arm — the same
    // Subject-prefix near-dup shape as .eml, but an entirely binary
    // container; jaccard ~0.82, the prefix dilutes in a longer
    // body) — drops, while a fresh .msg lands
    val t4 = "long base sentence carrying enough tokens that the " +
      "subject prefix stays a near duplicate"
    ingest(4L -> tarOf(Seq("h.docx" -> docxDoc(t4))))
    assert(texts().size == 5)
    ingest(5L -> tarOf(Seq(
      "i.msg" -> graft.expr.MsgBuild.msg("re", t4),
      "j.msg" -> graft.expr.MsgBuild.msg("fresh",
        "outlook container novel words entirely"))))
    val after5 = texts()
    assert(after5.size == 6 &&
      after5.exists(_.contains("outlook container novel")))
    spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("session_window works as a watermarked stream") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp)]
    val out = StreamingIngest.sessionWindowStats(
      mem.toDF.toDF("user_id", "ts2"), "ts2", "user_id",
      "30 minutes", Some("1 hour"))
    val q = out.writeStream.format("memory").queryName("sess_out")
      .outputMode("complete").start()
    try {
      mem.addData((1L, t("2024-01-01 10:00:00")), (1L, t("2024-01-01 10:10:00")),
        (1L, t("2024-01-01 11:30:00")))
      q.processAllAvailable()
      val rows = spark.table("sess_out")
        .select($"user_id", $"n_events").as[(Long, Long)].collect().sorted
      assert(rows.toSeq == Seq((1L, 1L), (1L, 2L)))
    } finally q.stop()
  }
}

/** The local filesystem under its own URI scheme, for tables that do not
  * live on the default filesystem. Registered per test as
  * `fs.graftfs.impl`.
  */
final class GraftSchemeFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("graftfs:///")
}
