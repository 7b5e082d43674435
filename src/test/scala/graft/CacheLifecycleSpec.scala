package graft

import graft.operators.{Corpus, Dedup}
import org.apache.spark.sql.functions._

/** Cache-lifecycle contract (round-3 VERDICT items 2 and 8): operators
  * either leave the SQL cache manager untouched (the restructured
  * inverted-index family) or pin intermediates through [[Caches]] so
  * the caller can release them. A long-lived session that runs dedup
  * after dedup must not accumulate cached partitions forever.
  */
class CacheLifecycleSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"),
    (3L, "completely different content about spark sql engines"),
    (4L, "the quick brown fox jumps over the lazy dog"),
    (5L, "spark sql engines process completely different content")
  ).toDF("doc_id", "text")

  private def cacheEmpty: Boolean = spark.sharedState.cacheManager.isEmpty

  test("inverted-index dedup family leaves no cache entries at all") {
    spark.sharedState.cacheManager.clearCache()
    Dedup.jaccardPairs(docs, "doc_id", "text", n = 3,
      threshold = 0.5, maxDocFreq = 100L).collect()
    assert(cacheEmpty, "jaccardPairs left cached plans behind")
    Dedup.containmentPairs(docs, "doc_id", "text", n = 3,
      threshold = 0.5, maxDocFreq = 100L).collect()
    assert(cacheEmpty, "containmentPairs left cached plans behind")
    Dedup.crossJaccardPairs(docs, docs, "doc_id", "text", n = 3,
      threshold = 0.9, maxDocFreq = 100L).collect()
    assert(cacheEmpty, "crossJaccardPairs (capped) left cached plans behind")
    Dedup.crossJaccardPairs(docs, docs, "doc_id", "text", n = 3,
      threshold = 0.9).collect()
    assert(cacheEmpty, "crossJaccardPairs (uncapped) left cached plans behind")
  }

  test("connected components / clustering release their edge cache") {
    spark.sharedState.cacheManager.clearCache()
    Dedup.nearDupClusters(docs, "doc_id", "text", n = 3,
      threshold = 0.5, maxDocFreq = 100L).collect()
    assert(cacheEmpty, "nearDupClusters (driver regime) leaked")
    // the distributed label-propagation regime local-checkpoints labels
    // (block cleanup via the context cleaner, not the cache manager)
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", n = 3,
      threshold = 0.5)
    Dedup.connectedComponents(pairs, driverThreshold = 0L).collect()
    assert(cacheEmpty, "connectedComponents (distributed regime) leaked")
  }

  test("connectedComponents releases its edge cache when a propagation round fails") {
    spark.sharedState.cacheManager.clearCache()
    // a pair column that throws for one specific row: the regime probe
    // (single partition, limit(1)) only evaluates the clean first row,
    // so the failure fires inside the distributed loop — after the
    // edge list is persisted
    val boom = udf { (x: Long) =>
      if (x < 0) throw new RuntimeException("injected propagation failure") else x
    }
    val pairs = Seq((1L, 2L), (3L, -4L), (5L, 6L)).toDF("id1", "_raw")
      .coalesce(1)
      .select($"id1", boom($"_raw").as("id2"))
    val ex = intercept[Exception] {
      Dedup.connectedComponents(pairs, driverThreshold = 0L).collect()
    }
    assert(ex.getMessage != null)
    assert(cacheEmpty,
      "a failed propagation round stranded the persisted edge list")
  }

  test("connectedComponents leaves only the final round's reliable checkpoints") {
    val ckptRoot = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.sparkContext.setCheckpointDir(ckptRoot)
    try {
      // a chain graph needs one propagation round per hop, so several
      // rounds' checkpoints are created and all but the last must be
      // deleted by the time the operator returns
      val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
        .toDF("id1", "id2")
      val out = Dedup.connectedComponents(pairs, driverThreshold = 0L)
      val res = out.collect()
      assert(res.length == 6 && res.forall(_.getLong(1) == 1L))
      val root = new org.apache.hadoop.fs.Path(
        spark.sparkContext.getCheckpointDir.get)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val rddDirs = fs.listStatus(root).map(_.getPath.getName)
        .filter(_.startsWith("rdd-")).toSeq
      assert(rddDirs.length == 1,
        s"expected only the final round's checkpoint dir, got $rddDirs")
      // the survivor must still back the returned frame
      assert(out.collect().length == 6)
    } finally spark.sparkContext.setCheckpointDir(null)
  }

  test("scd2 sinks release each trigger's materialized micro-batch") {
    import graft.streaming.StreamingIngest
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val cmp = Seq("entry_title", "summary")
    val ts = (id: Long) => new java.sql.Timestamp(86400000L * (id + 1))
    val sinks = Seq[(org.apache.spark.sql.DataFrame, String) =>
        org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row]](
      (s, tmp) => StreamingIngest.scd2Sink(s, s"$tmp/table", s"$tmp/ckpt", "link",
        cmp, ts, trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0)),
      (s, tmp) => StreamingIngest.scd2Sink(s, s"$tmp/table", s"$tmp/ckpt", "link",
        cmp, ts, batchIsSnapshot = true,
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0)))
    for (sink <- sinks) {
      val tmp = java.nio.file.Files.createTempDirectory("graft-scd2cache").toString
      spark.sharedState.cacheManager.clearCache()
      // ids, not a count: an earlier suite's leftover may be cleaned up
      // by the ContextCleaner mid-stream
      val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
      val mem = MemoryStream[(String, String, String)]
      val q = sink(mem.toDF.toDF("link", "entry_title", "summary"), tmp).start()
      try {
        // three triggers of a long-running query
        for (round <- 1 to 3) {
          mem.addData(("l1", s"T1-$round", "S1"), (s"k$round", "T", "S"))
          q.processAllAvailable()
          assert((spark.sparkContext.getPersistentRDDs.keySet -- persistedBefore).isEmpty,
            s"trigger $round left its micro-batch persisted")
          assert(cacheEmpty, s"trigger $round left a cached plan")
        }
      } finally q.stop()
      assert(q.exception.isEmpty, q.exception)
      assert(spark.read.parquet(s"$tmp/table")
        .filter(col("link") === "l1").count() == 3)
    }
  }

  test("Caches.own intermediates are caller-released, results unchanged") {
    spark.sharedState.cacheManager.clearCache()
    val before = Dedup.minhashDedupPairs(docs, "doc_id", "text", n = 3,
      threshold = 0.5).collect().toSet
    assert(!cacheEmpty, "minhash verify joins are expected to pin the shingle sets")
    Caches.release(spark)
    assert(cacheEmpty, "Caches.release left minhash entries behind")
    // released caches only drop the cache, never the result
    val after = Dedup.minhashDedupPairs(docs, "doc_id", "text", n = 3,
      threshold = 0.5).collect().toSet
    assert(after == before)
    Caches.release(spark)
    assert(cacheEmpty)
  }

  test("corpus-stats operators sweep clean after release") {
    spark.sharedState.cacheManager.clearCache()
    Corpus.unigramLmScore(docs, "doc_id", "text").collect()
    Corpus.bigramLmScore(docs, "doc_id", "text").collect()
    Corpus.paragraphDupStats(docs, "doc_id", "text").collect()
    Corpus.pmiBigrams(docs, "doc_id", "text", minCount = 1L, k = 5).collect()
    Corpus.repetitionStats(docs, "doc_id", "text").collect()
    Corpus.packSequences(docs, "doc_id", length(col("text")), budget = 64L)
      .collect()
    Corpus.contaminationReportBloom(docs, docs.limit(2), "doc_id", "text", 3)
      .collect()
    graft.operators.TfIdf.bm25(docs, "doc_id", "text", "alpha beta").collect()
    Caches.release(spark)
    assert(cacheEmpty, "a Corpus operator's pinned intermediate survived release")
  }
}
