package graft.streaming

import graft.operators.Merges
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.Row

/** Streaming form of the ingest pipeline (SURVEY.md §2.10).
  *
  * The reference's cron-rerun batch loop — re-poll feeds, re-see old
  * entries, dedup by key, SCD-merge into the stage table — is exactly
  * Structured Streaming upsert semantics:
  *
  *   readStream → withWatermark(eventTime) → dropDuplicates(key)
  *     → foreachBatch { batch => scdMerge(history, batch) }
  *
  * The watermark bounds dedup state (the reference's days_back window
  * plays the same role); the SCD merges are idempotent under
  * foreachBatch retries because change detection compares values
  * (SURVEY §7.4.5).
  *
  * A foreachBatch `batch` is a plan, not data: every reference to it
  * re-runs the whole trigger upstream, stateful dedup included. The
  * SCD2 sinks therefore evaluate each micro-batch once
  * ([[evaluatedOnce]]) and merge it with one full-outer join
  * ([[Merges.scd2]]), so a trigger computes its output once and hands
  * it to the table, as Structured Streaming (SIGMOD 2018) does for its
  * own sinks.
  */
object StreamingIngest {

  /** Watermarked streaming dedup: at-most-one row per key within the
    * watermark horizon. `eventTimeCol` must be a timestamp column.
    */
  def dedupStream(stream: DataFrame, key: String, eventTimeCol: String,
      watermark: String): DataFrame =
    stream
      .withWatermark(eventTimeCol, watermark)
      .dropDuplicates(key, eventTimeCol)

  /** [[dedupStream]] keyed on the KEY ALONE: a re-polled entry whose
    * timestamp moved (feeds restate published times) still dedups,
    * which `dropDuplicates(key, eventTime)` misses. Requires the
    * watermark-bounded state variant — plain `dropDuplicates(key)`
    * on a stream would grow key state forever; this form evicts keys
    * once they age past the watermark horizon.
    */
  def dedupStreamByKey(stream: DataFrame, key: String, eventTimeCol: String,
      watermark: String): DataFrame =
    stream
      .withWatermark(eventTimeCol, watermark)
      .dropDuplicatesWithinWatermark(key)

  /** Runs `f` over `batch` evaluated exactly once, then releases it.
    *
    * Each reference to a foreachBatch batch (a join side, a collect, a
    * write) re-runs the trigger's upstream: source scan, normalize and
    * the stateful dedup with its state-store commit. `persist()` cannot
    * stop that: the analyzer gives the batch's `LogicalRDD` fresh
    * expression ids at every later reference, so only the first one
    * hits the cache. An eager local checkpoint (the idiom
    * [[graft.operators.Dedup.connectedComponents]] uses) evaluates the
    * batch once into block-manager blocks that every reference reads.
    * The blocks are unpersisted when `f` returns, so a long-running
    * stream holds at most the current trigger's batch.
    */
  private def evaluatedOnce[T](batch: DataFrame)(f: DataFrame => T): T = {
    val once = batch.localCheckpoint(eager = true)
    try f(once)
    finally once.queryExecution.analyzed.foreach {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        r.rdd.unpersist(blocking = false); ()
      case _ => ()
    }
  }

  /** `batch`'s schema plus the SCD2 version columns: the shape of an
    * empty history table.
    */
  private def scd2Schema(batch: DataFrame) = {
    import graft.model.{Schemas => S}
    import org.apache.spark.sql.types._
    StructType(batch.schema.fields ++ Seq(
      StructField(S.EffectiveStart, TimestampType),
      StructField(S.EffectiveEnd, TimestampType),
      StructField(S.CurrentFlag, IntegerType)))
  }

  /** The skeleton every sink below shares: update mode, the checkpoint
    * and the trigger, with `perBatch` run on each micro-batch and its id.
    */
  private def sink(stream: DataFrame, checkpoint: String, trigger: Trigger)(
      perBatch: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    stream.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch(perBatch)

  /** Wire a deduped stream into an SCD1-merged parquet table via
    * foreachBatch. Each micro-batch: read current table state, merge,
    * overwrite (crash-recoverable via [[Tables.swapTable]]).
    */
  def scd1Sink(stream: DataFrame, tablePath: String, checkpoint: String,
      key: String, compareCols: Seq[String],
      trigger: Trigger = Trigger.ProcessingTime("15 minutes")): DataStreamWriter[Row] =
    sink(stream, checkpoint, trigger) { (batch, _) =>
      val spark = batch.sparkSession
      val hist = Tables.readCommitted(spark, tablePath, batch.schema)
      val merged = Merges.scd1(hist, batch, key, compareCols, notesCol = None)
      merged.write.mode("overwrite").parquet(tablePath + "_tmp")
      Tables.swapTable(spark, tablePath)
    }

  /** Streaming ingest with DEDUP-ON-ARRIVAL: each micro-batch is
    * checked against the ACCUMULATED corpus via its materialized
    * n-gram posting index — the production shape of a 100 TB
    * training-data pipeline, where re-shingling (or even re-reading)
    * the corpus per batch is off the table.
    *
    * Per trigger:
    *  1. the batch alone is reduced to `(_id, _n, _s)` shingle
    *     postings (one pass over BATCH text only);
    *  2. batch-vs-corpus near-dups: [[graft.operators.Dedup
    *     .crossJaccardFromPostings]] joins the batch postings against
    *     the postings TABLE (parquet, `bucketBy(_s)`) — the corpus side
    *     arrives pre-hashed from the bucketed scan, so only the
    *     batch-sized side shuffles and the corpus index is read, never
    *     rebuilt;
    *  3. within-batch near-dups keep the lowest id of each pair
    *     (greedy, same as batch [[graft.operators.Dedup.jaccardPairs]]
    *     consumers);
    *  4. surviving rows APPEND to the docs table; their postings
    *     APPEND into the bucketed index (new files per touched bucket —
    *     existing files are never rewritten, so the index grows
    *     incrementally and untouched buckets stay byte-identical).
    *
    * Retry semantics: appends are not transactional, but a REPLAYED
    * batch self-filters — its rows' postings are already in the index,
    * so every row rejoins itself at jaccard 1.0 ≥ threshold and drops
    * (holds for threshold ≤ 1 whenever the row produced at least one
    * unpruned shingle). Documents too short to shingle (< n tokens)
    * have no postings: they always pass the filter and are exempt from
    * that replay guard — dedup them upstream by key
    * ([[dedupStreamByKey]]) as usual.
    */
  def dedupIngestSink(stream: DataFrame, docsPath: String,
      postingsTable: String, checkpoint: String, idCol: String,
      textCol: String, n: Int = 3, threshold: Double = 0.8,
      maxDocFreq: Long = 0L, buckets: Int = 32,
      trigger: Trigger = Trigger.ProcessingTime("15 minutes"),
      useBloom: Boolean = true,
      bloomCapacity: Long = 8L << 20): DataStreamWriter[Row] =
    sink(stream, checkpoint, trigger) { (batch, _) =>
      dedupIngestBatch(batch, docsPath, postingsTable, idCol, textCol,
        n, threshold, maxDocFreq, buckets, useBloom, bloomCapacity)
    }

  /** One [[dedupIngestSink]] micro-batch — public so retry behavior is
    * directly testable.
    *
    * Bloom pre-probe (`useBloom`, default on — SCALE.md's mitigation
    * 3, now in code): a sidecar Bloom filter over every shingle hash
    * in the posting index lives next to the docs table
    * (`<docsPath>_bloom`). Two prunes, both EXACT-output:
    *
    *  1. Batch-doc prune. For a batch doc with `n_a` distinct
    *     shingles, jaccard vs ANY corpus doc is ≤ common/n_a ≤
    *     bloomHits/n_a (Bloom filters have no false negatives, so
    *     every truly-shared shingle hits). A doc with
    *     `hits/n_a < threshold` cannot clear the threshold against
    *     any corpus doc and skips the cross-corpus check entirely —
    *     in a fresh-content stream that is MOST of the batch. False
    *     positives only keep extra docs; the exact join still decides.
    *  2. Index-row prune (capped path). The kept batch shingles
    *     compile into a small second Bloom, probed INSIDE the index
    *     scan: a posting row whose shingle no batch doc carries can
    *     only form same-side pairs, which the kernel's sign filter
    *     drops anyway — so those rows skip the pair aggregation
    *     without changing any emitted pair, and the arrival's
    *     dominant term (the full-index pass through the pair kernel)
    *     shrinks to ~the intersection. The uncapped path needs no
    *     second filter: its equi-join IS that prune.
    *
    * Sidecar lifecycle: created from the FULL posting table the first
    * time a bloom-enabled batch finds the table without a sidecar
    * (one-time backfill — a partial bloom would have false negatives,
    * i.e. MISSED duplicates), then updated per batch by inserting the
    * survivor shingles on the driver (a trigger-bounded putLong loop)
    * BEFORE any append (a crash between bloom write and append leaves
    * stale-extra keys — safe; the reverse order could leave missing
    * keys — not safe), written via tmp+rename. `bloomCapacity` sizes
    * the filter at creation; past it the false-positive rate degrades
    * GRACEFULLY: pruning weakens, results stay exact. A bloom-OFF
    * batch against the same table DELETES the sidecar (its appends
    * would otherwise leave the filter with missing keys = missed
    * duplicates); the next bloom-on batch backfills from the table.
    */
  def dedupIngestBatch(batch: DataFrame, docsPath: String,
      postingsTable: String, idCol: String, textCol: String, n: Int,
      threshold: Double, maxDocFreq: Long, buckets: Int,
      useBloom: Boolean = true,
      bloomCapacity: Long = 8L << 20): Unit = evaluatedOnce(batch) { batch =>
    // the shingle pass, the survivor anti-join, the survivor postings and
    // the docs append all read `batch`; unmaterialized, a streaming
    // upstream ran 7 times per trigger (StreamingSpec pins one)
    import graft.operators.Dedup
    import graft.expr.BloomMightContain
    val spark = batch.sparkSession
    require({
      import org.apache.spark.sql.types._
      batch.schema(idCol).dataType match {
        case LongType | IntegerType | ShortType | ByteType => true
        case _ => false
      }
    }, s"dedupIngest: '$idCol' must be an integral id column — the posting " +
      "kernel buffers 64-bit ids; map string keys through xxhash64 upstream")
    val indexExists = spark.catalog.tableExists(postingsTable)
    val bloomPath = docsPath + "_bloom"
    // three consumers (cross-corpus join, within-batch pairs, survivor
    // postings) share one shingle+hash pass; released before return
    val bp = Dedup.postingsWithSize(batch, idCol, textCol, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // A bloom-OFF batch appends postings the sidecar never sees; a
    // later bloom-on batch reading that stale sidecar would miss real
    // duplicates (bloom false negatives — the one unacceptable
    // direction). Invalidate it up front: the next bloom-on batch
    // rebuilds from the full posting table (the exact backfill path).
    if (!useBloom) {
      val p = new org.apache.hadoop.fs.Path(bloomPath)
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      if (fs.exists(p)) fs.delete(p, false)
      ()
    }
    // broadcast handles created this batch; released in the finally
    val bcs = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.broadcast.Broadcast[_]]
    // native bloom-probe registrations this batch; dropped in the finally
    val probeNames = scala.collection.mutable.ArrayBuffer.empty[String]
    try {
      val corpusBloom: Option[org.apache.spark.util.sketch.BloomFilter] =
        if (!useBloom) None
        else readBloomSidecar(spark, bloomPath).orElse {
          if (indexExists)
            // one-time backfill: a sidecar covering only FUTURE batches
            // would have false negatives (missed dups) for the corpus
            // already indexed — build it from the whole posting table
            Some(buildBloom(spark.table(postingsTable), "_s",
              bloomCapacity, 0.01))
          else None
        }
      // The multi-MB filter travels as a BROADCAST probed through the
      // native BloomBroadcastContains expression, NEVER as a plan
      // Literal: a Literal's bytes ride inside the expression tree,
      // and Catalyst hashes/compares that tree per rule pass while
      // every stage's task binary re-ships it — measured: the literal
      // form tripled the arrival wall in pure driver time. The native
      // expression keeps the probe inside whole-stage codegen (the
      // earlier udf bridge boxed every key); the tree carries only
      // the broadcast stub, resolved once per task.
      val bcCorpus = corpusBloom.map { bf =>
        val bc = spark.sparkContext.broadcast(bf)
        bcs += bc; bc
      }
      // prune 1: docs whose bloom-hit ratio can't clear the threshold
      val probeDocs = bcCorpus match {
        case Some(bc) if indexExists =>
          val (hit, hitName) =
            graft.expr.BloomBroadcastContains.probe(spark, col("_s"), bc)
          probeNames += hitName
          // the 1e-6 margin mirrors the exact path's round(j, 6):
          // a pair can qualify there with true jaccard as low as
          // threshold − 5e-7 (HALF_UP round-up), and the prune's
          // upper bound must not cut under that — over-keeping is
          // always safe, over-pruning is a missed duplicate
          val kept = bp.groupBy(col("_id"))
            .agg(min(col("_n")).as("_na"),
              sum(when(hit, 1L).otherwise(0L)).as("_hits"))
            .filter(col("_hits").cast("double") >=
              (lit(threshold) - lit(1e-6)) * col("_na"))
            .select(col("_id"))
          // kept is trigger-bounded (≤ batch docs) — broadcast semi
          bp.join(broadcast(kept), Seq("_id"), "left_semi")
        case _ => bp
      }
      // UNCAPPED path only: the equi-join exists there, and pinning
      // the (trigger-bounded) batch as the shuffled-hash build side
      // lets the index stream through the probe with no sort —
      // appends leave multiple files per bucket, so a sort-merge join
      // would re-sort the index every trigger to recover per-file
      // ordering. The capped path has no join (tagged-union kernel).
      val probe = if (maxDocFreq <= 0) probeDocs.hint("shuffle_hash") else probeDocs
      val dupVsCorpus =
        if (indexExists) {
          val index = spark.table(postingsTable)
          // prune 2 (capped path): index rows whose shingle no kept
          // batch doc carries feed only same-side pairs — filter them
          // out inside the scan via a batch-shingle bloom (FPs let
          // harmless extra rows through). The kept shingle set is
          // trigger-bounded, so it collects (the same contract as the
          // dup-set pin below) and the filter sizes EXACTLY to it
          val indexSide =
            if (maxDocFreq > 0 && useBloom && corpusBloom.isDefined) {
              val ss = probeDocs.select(col("_s")).distinct()
                .collect().map(_.getLong(0))
              val bb = org.apache.spark.util.sketch.BloomFilter
                .create(math.max(ss.length.toLong, 1L), 0.02)
              ss.foreach(bb.putLong)
              val bcBatch = spark.sparkContext.broadcast(bb)
              bcs += bcBatch
              val (hit, hitName) = graft.expr.BloomBroadcastContains
                .probe(spark, col("_s"), bcBatch)
              probeNames += hitName
              index.filter(hit)
            } else index
          Dedup.crossJaccardFromPostings(probe, indexSide,
              threshold, maxDocFreq)
            .select(col("id_a").as("_dup"))
        } else batch.select(col(idCol).as("_dup")).limit(0) // typed like idCol
      val dupInBatch = Dedup.jaccardFromPostings(bp, threshold, maxDocFreq)
        .select(col("id2").as("_dup")) // pairs are ordered: keep id1
      // the dup ID SET is trigger-bounded — pin it so the survivor
      // frame's two consumers (docs append, posting append) don't run
      // the index-sized dedup pipeline twice (measured 2× the arrival
      // cost at 50× before this persist)
      val dups = dupVsCorpus.unionByName(dupInBatch).distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val survivors = batch.join(dups, batch(idCol) === col("_dup"),
          "left_anti")
        val sp = bp.join(survivors.select(col(idCol).as("_sid")),
          col("_id") === col("_sid"), "left_semi")
        if (useBloom) {
          // update the sidecar BEFORE the appends: stale-extra keys
          // (crash after this, before append) are safe, missing keys
          // would be missed duplicates. The batch's distinct survivor
          // shingles collect (trigger-bounded, same contract as the
          // dup-set pin) and putLong into the existing filter — a
          // driver loop of ≤ batch-postings inserts, instead of a
          // distributed filter rebuild whose per-task bitmaps and
          // final merge cost seconds per trigger. No sizing
          // compatibility to manage: the filter is created once
          // (first batch or backfill) and only ever inserted into;
          // past `bloomCapacity` keys its false-positive rate
          // degrades gracefully (weaker pruning, never wrong output).
          val newKeys = sp.select(col("_s")).distinct()
            .collect().map(_.getLong(0))
          val merged = corpusBloom.getOrElse(
            org.apache.spark.util.sketch.BloomFilter.create(bloomCapacity, 0.01))
          newKeys.foreach(merged.putLong)
          writeBloomSidecar(spark, bloomPath, merged)
        }
        survivors.write.mode("append").parquet(docsPath)
        sp.write.mode("append").format("parquet")
          .bucketBy(buckets, "_s").sortBy("_s")
          .saveAsTable(postingsTable)
      } finally {
        dups.unpersist(blocking = false)
        ()
      }
    } finally {
      bp.unpersist(blocking = false)
      // the handles are job-scoped; unpersist lets the ContextCleaner
      // reclaim executor copies between triggers
      bcs.foreach(_.unpersist(false))
      probeNames.foreach(graft.expr.BloomBroadcastContains.drop(spark, _))
      ()
    }
  }

  /** PERCEPTUAL media dedup-on-ingest — [[dedupIngestBatch]]'s
    * multimodal sibling: an image crawl re-encounters the same photo
    * as re-encodes, format conversions and quality variants, and the
    * cheapest place to collapse them is BEFORE they are stored. Each
    * micro-batch:
    *
    *  1. fingerprints `contentCol` with [[graft.expr.PixelGridSig]]'s
    *     ahash (the brightness-sign grid — two encodes of one image
    *     land on one hash; decode covers PPM/PNG/BMP/JPEG incl.
    *     progressive+CMYK/GIF/TIFF through the shared walk);
    *  2. drops within-batch duplicates (lowest id wins — the
    *     deterministic keep-first);
    *  3. drops rows whose signature already exists in the bucketed
    *     signature index (a trigger-bounded batch builds the hash
    *     side of a shuffled-hash semi-join; the index streams through
    *     it — the text path's uncapped-join shape);
    *  4. appends survivors to `mediaPath` (ALL original columns) and
    *     their signatures to `sigTable`, BUCKETED by signature so the
    *     index never reshuffles.
    *
    * Contract notes, all deliberate:
    *  - UNDECODABLE rows (NULL signature) always pass — the triage
    *    contract; byte-identical junk dedups upstream by key
    *    ([[dedupStreamByKey]]), same as the text path's too-short
    *    documents;
    *  - a REPLAYED batch self-filters ONLY when the prior attempt
    *    committed both writes: its signatures are in the index, so
    *    every decodable row drops. A failure BETWEEN the media
    *    append and the signature append leaves a window where a
    *    naive replay re-appends the same media rows permanently.
    *    Pass `batchId >= 0` (the streaming wrapper always does) to
    *    close it: media lands in a deterministic `batch=<id>`
    *    partition directory written with OVERWRITE (a replay
    *    rewrites, never duplicates), and signatures carry a
    *    `_batch` column — a replay that finds its own batch id in
    *    the index skips both writes entirely. The residual window
    *    is a torn signature-append commit, which parquet's
    *    rename-based job commit makes vanishingly narrow.
    *    `batchId < 0` keeps the flat un-partitioned layout and the
    *    documented duplication window.
    */
  def mediaDedupIngestBatch(batch: DataFrame, mediaPath: String,
      sigTable: String, idCol: String = "media_id",
      contentCol: String = "content", gx: Int = 9, gy: Int = 7,
      buckets: Int = 32, batchId: Long = -1L): Unit = {
    val sig = call_function(graft.expr.PixelGridSig.FunctionName,
      col(contentCol), lit(gx), lit(gy)).getField("ahash")
    sigDedupIngestBatch(batch, mediaPath, sigTable, idCol, sig,
      buckets, batchId)
  }

  /** [[mediaDedupIngestBatch]]'s AUDIO sibling: cross-codec
    * perceptual audio dedup-on-ingest. The signature is
    * [[graft.expr.AudioEnvSig]]'s envelope-gradient ehash computed
    * over [[graft.expr.AudioDecodeExpr]]'s native codec dispatch, so
    * a WAV, an MP3, a FLAC and an OGG/Vorbis encode of ONE clip all
    * land on one signature INSIDE the ingest projection — one
    * whole-stage plan, no `udf(` (the grep-enforced StreamingIngest
    * invariant), no seam hop. Identical dedup/index/commit shape to
    * the image path (shared core), so the ScaleSpec plan proof —
    * batch-bounded SHJ build side, broadcast anti, ≤1 exchange, no
    * sort on the accumulated index — carries over verbatim.
    */
  def audioDedupIngestBatch(batch: DataFrame, mediaPath: String,
      sigTable: String, idCol: String = "media_id",
      contentCol: String = "content", nFrames: Int = 32,
      buckets: Int = 32, batchId: Long = -1L): Unit = {
    val sig = call_function(graft.expr.AudioEnvSig.FunctionName,
      call_function(graft.expr.AudioDecodeExpr.FunctionName,
        col(contentCol)), lit(nFrames)).getField("ehash")
    sigDedupIngestBatch(batch, mediaPath, sigTable, idCol, sig,
      buckets, batchId)
  }

  private def sigDedupIngestBatch(batch: DataFrame, mediaPath: String,
      sigTable: String, idCol: String, sig: Column,
      buckets: Int, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val indexExists = spark.catalog.tableExists(sigTable)
    if (batchId >= 0 && indexExists) {
      // prior attempt fully committed (sig write is LAST) → replay
      // is a no-op. One lookup against the index; a pre-marker-era
      // table (no _batch column) simply can't short-circuit — the
      // schema check keeps the guard from erroring on it (appends
      // into such a table still fail loudly at the write, the
      // honest migration signal).
      val t = spark.table(sigTable)
      val seen = t.columns.contains("_batch") &&
        !t.filter(col("_batch") === batchId).limit(1).isEmpty
      if (seen) return
    }
    val sigs = batch.withColumn("_sig", sig)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // within-batch keep-first (NULL sigs pass: isNull rows keep)
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("_sig"))
      val firstIn = sigs.withColumn("_keep",
          col("_sig").isNull ||
            col(idCol) === min(col(idCol)).over(w))
        .filter(col("_keep")).drop("_keep")
      val survivors =
        if (!indexExists) firstIn
        else {
          // trigger-bounded batch = hash build side. A direct
          // `batch ANTI index` can only build from the INDEX (Spark
          // has no build-left SHJ for LeftAnti — the hint logs
          // "not supported" and falls back), and building the
          // ever-growing corpus map OOMs executors as it
          // accumulates. So probe the other way: the bucketed index
          // streams through a LeftSemi SHJ whose hash side is the
          // batch (BuildRight, supported), yielding the
          // batch-bounded duplicate-sig set, which broadcast-antis
          // back onto the batch. No sort on the index either way.
          val index = spark.table(sigTable).select(col("_sig"))
          val batchSigs = firstIn.filter(col("_sig").isNotNull)
          val dupSigs = index.join(
            batchSigs.select(col("_sig")).hint("shuffle_hash"),
            Seq("_sig"), "left_semi")
          val decodable = batchSigs
            .join(broadcast(dupSigs), Seq("_sig"), "left_anti")
          firstIn.filter(col("_sig").isNull).unionByName(decodable)
        }
      val out = survivors
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        if (batchId >= 0)
          // idempotent media write: a replay of this batch OVERWRITES
          // its own partition directory instead of appending a dup.
          // `batch=<id>` is partition-style naming, so readers of
          // mediaPath discover `batch` as a long partition column.
          out.drop("_sig").write.mode("overwrite")
            .parquet(s"$mediaPath/batch=$batchId")
        else out.drop("_sig").write.mode("append").parquet(mediaPath)
        out.filter(col("_sig").isNotNull)
          .select(col("_sig"), col(idCol).cast("long").as("_id"),
            lit(batchId).as("_batch"))
          .write.mode("append").format("parquet")
          .bucketBy(buckets, "_sig").sortBy("_sig")
          .saveAsTable(sigTable)
      } finally { out.unpersist(blocking = false); () }
    } finally { sigs.unpersist(blocking = false); () }
  }

  /** Streaming wrapper over [[mediaDedupIngestBatch]]. */
  def mediaDedupIngestSink(stream: DataFrame, mediaPath: String,
      sigTable: String, checkpoint: String, idCol: String = "media_id",
      contentCol: String = "content", gx: Int = 9, gy: Int = 7,
      buckets: Int = 32,
      trigger: Trigger = Trigger.ProcessingTime("15 minutes"))
      : DataStreamWriter[Row] =
    sink(stream, checkpoint, trigger) { (batch, id) =>
      mediaDedupIngestBatch(batch, mediaPath, sigTable, idCol,
        contentCol, gx, gy, buckets, batchId = id)
    }

  /** Streaming wrapper over [[audioDedupIngestBatch]]. */
  def audioDedupIngestSink(stream: DataFrame, mediaPath: String,
      sigTable: String, checkpoint: String, idCol: String = "media_id",
      contentCol: String = "content", nFrames: Int = 32,
      buckets: Int = 32,
      trigger: Trigger = Trigger.ProcessingTime("15 minutes"))
      : DataStreamWriter[Row] =
    sink(stream, checkpoint, trigger) { (batch, id) =>
      audioDedupIngestBatch(batch, mediaPath, sigTable, idCol,
        contentCol, nFrames, buckets, batchId = id)
    }


  /** `df.stat.bloomFilter` that survives an empty frame (Spark's
    * version NPEs there: its aggregate yields null for zero rows).
    * One sentinel key is unioned in so the aggregate ALWAYS runs —
    * that keeps every filter on the exact same sizing code path
    * (stat.bloomFilter clamps bit size via an internal conf, so
    * mixing it with a hand-built `BloomFilter.create` produces
    * merge-incompatible filters; measured: an empty replay batch
    * built an unclamped filter the sidecar couldn't merge). The
    * sentinel's only cost is one spurious might-contain key — a
    * false positive, which every prune here tolerates by design.
    */
  private def buildBloom(df: DataFrame, colName: String, expected: Long,
      fpp: Double): org.apache.spark.util.sketch.BloomFilter = {
    val rows = df.select(col(colName).cast("long").as("_k")).na.drop()
      .unionAll(df.sparkSession.range(1).select(lit(Long.MinValue).as("_k")))
    rows.stat.bloomFilter("_k", expected, fpp)
  }

  /** Read the corpus-shingle Bloom sidecar, if present. */
  private[graft] def readBloomSidecar(spark: SparkSession,
      path: String): Option[org.apache.spark.util.sketch.BloomFilter] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(org.apache.spark.util.sketch.BloomFilter.readFrom(in))
      finally in.close()
    }
  }

  /** Write the Bloom sidecar via tmp+rename (same crash discipline as
    * [[Tables.swapTable]]: readers see the old filter or the new one,
    * never a torn write).
    */
  private[graft] def writeBloomSidecar(spark: SparkSession, path: String,
      bf: org.apache.spark.util.sketch.BloomFilter): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val tmp = new org.apache.hadoop.fs.Path(path + "._tmp")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(tmp, true)
    try bf.writeTo(out) finally out.close()
    if (fs.exists(p)) fs.delete(p, false)
    if (!fs.rename(tmp, p))
      throw new java.io.IOException(s"could not move $tmp to $p")
    ()
  }

  /** Streaming ingest with SEMANTIC dedup-on-arrival: each micro-batch
    * of embedding vectors is checked against the ACCUMULATED corpus via
    * its materialized IVF-cell table. Where [[dedupIngestSink]]'s
    * arrival cost is floored by a full posting-index SCAN (SCALE.md —
    * the n-gram index has no selective key parquet can prune on), the
    * semantic variant reads ONLY the cell directories the batch
    * touches: the cells table is laid out `partitionBy(centroid_id)`,
    * the batch's cell set is trigger-bounded, and the `isin` filter
    * becomes partition pruning. Arrival IO therefore scales with the
    * batch's cell population, not the corpus.
    *
    * Per trigger:
    *  1. the batch alone is IVF-assigned (centroids broadcast —
    *     one batch-sized scoring pass, nothing corpus-scale moves);
    *  2. batch-vs-corpus: join the assigned batch against the PRUNED
    *     cell partitions on centroid_id; an arrival with any accepted
    *     neighbor at cosine ≥ threshold drops (first-come-wins — the
    *     corpus row was already accepted, matching [[dedupIngestSink]]
    *     semantics rather than batch [[graft.operators.Similarity
    *     .semanticDedup]]'s retrospective lowest-centroid-sim rule);
    *  3. within-batch: the SemDeDup dominance verdict
    *     ([[graft.operators.Similarity.semanticDedup]]'s keep rule)
    *     over the batch's own cells;
    *  4. survivors APPEND to the docs table; their (id, vec,
    *     centroid_sim) rows APPEND into the cell table under their
    *     centroid_id partition — new files per touched cell, untouched
    *     cells stay byte-identical. Long-running sinks compact cell
    *     directories offline (each trigger adds ≤1 file per touched
    *     cell; the swap is metadata-only since cells are directories).
    *
    * Retry semantics: a REPLAYED batch self-filters — its rows are
    * already in their cells, so each rejoins itself at cosine 1.0 ≥
    * threshold and drops (holds for any threshold ≤ 1; a zero vector
    * has cosine 0 with itself — dedup degenerate vectors upstream).
    */
  def semanticDedupIngestSink(stream: DataFrame, docsPath: String,
      cellsPath: String, centroids: DataFrame, checkpoint: String,
      idCol: String, vecCol: String, threshold: Double,
      trigger: Trigger = Trigger.ProcessingTime("15 minutes")): DataStreamWriter[Row] =
    sink(stream, checkpoint, trigger) { (batch, _) =>
      semanticDedupIngestBatch(batch, docsPath, cellsPath, centroids,
        idCol, vecCol, threshold)
    }

  /** One [[semanticDedupIngestSink]] micro-batch — public so replay
    * and pruning behavior are directly testable.
    */
  def semanticDedupIngestBatch(batch: DataFrame, docsPath: String,
      cellsPath: String, centroids: DataFrame, idCol: String,
      vecCol: String, threshold: Double): Unit = evaluatedOnce(batch) { batch =>
    // the assignment pass, the survivor anti-join and the cell append
    // all read `batch`; unmaterialized, a streaming upstream ran 7 times
    // per trigger (StreamingSpec pins one)
    import graft.operators.Similarity
    val spark = batch.sparkSession
    // three consumers (corpus join, within-batch dominance ×2 sides,
    // survivor cell append) share one assignment pass
    val assigned = Similarity
      .ivfAssign(batch, centroids, idCol, vecCol, keepSim = true)
      .select(col(idCol), col(vecCol), col("centroid_id"),
        col("centroid_sim"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // trigger-bounded driver state: ≤ min(batch rows, centroid count)
      val touched = assigned.select(col("centroid_id")).distinct()
        .collect().map(_.get(0))
      val cellsExist = new org.apache.hadoop.fs.Path(cellsPath)
        .getFileSystem(spark.sessionState.newHadoopConf())
        .exists(new org.apache.hadoop.fs.Path(cellsPath))
      val dupVsCorpus =
        if (cellsExist && touched.nonEmpty) {
          val cells = readTouchedCells(spark, cellsPath, touched,
            assigned.schema("centroid_id").dataType, vecCol)
          // batch is the trigger-bounded side: pin it as the hash
          // build so the pruned cell partitions stream through the
          // probe unsorted (appends leave many files per cell dir —
          // a sort-merge join would re-sort them every trigger)
          assigned.hint("shuffle_hash").join(cells, Seq("centroid_id"))
            .where(round(Similarity.cosine(col(vecCol), col("_nv")), 6)
              >= threshold)
            .select(col(idCol).as("_dup"))
        } else assigned.select(col(idCol).as("_dup")).limit(0)
      val dupInBatch = Similarity
        .dominanceKept(assigned, idCol, vecCol, threshold)
        .where(col("kept") === 0).select(col(idCol).as("_dup"))
      val dups = dupVsCorpus.unionByName(dupInBatch).distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val survivors = batch.join(dups, batch(idCol) === col("_dup"),
          "left_anti")
        survivors.write.mode("append").parquet(docsPath)
        val sc = assigned.join(survivors.select(col(idCol).as("_sid")),
          col(idCol) === col("_sid"), "left_semi")
        sc.write.mode("append").partitionBy("centroid_id")
          .parquet(cellsPath)
      } finally {
        dups.unpersist(blocking = false)
        ()
      }
    } finally {
      assigned.unpersist(blocking = false)
      ()
    }
  }

  /** The arrival's corpus side: the cell table restricted to the
    * batch's touched cells. The `isin` literals are cast to the
    * INFERRED partition-column type — comparing the raw Long ids
    * against a narrower inferred type would put the implicit cast on
    * the COLUMN and silently defeat partition pruning (measured: the
    * scan read the whole index; with the cast on the literals it reads
    * only the touched directories — ScaleSpec asserts the selected
    * partition count). The join key is cast back to the assignment's
    * type on the way out.
    */
  private[graft] def readTouchedCells(spark: SparkSession,
      cellsPath: String, touched: Array[Any],
      cellType: org.apache.spark.sql.types.DataType,
      vecCol: String): DataFrame = {
    val raw = spark.read.parquet(cellsPath)
    val pType = raw.schema("centroid_id").dataType
    raw.where(col("centroid_id")
        .isin(touched.toIndexedSeq.map(v => lit(v).cast(pType)): _*))
      .select(col("centroid_id").cast(cellType).as("centroid_id"),
        col(vecCol).as("_nv"))
  }

  /** St6: one SCD2 micro-batch merge — the unit of work [[scd2Sink]]
    * runs per trigger, public so retries are testable directly.
    *
    * Semantics (reference: src/etl/scd2_manager.py:8-196 under re-poll):
    *  - `batchIsSnapshot=true` — the micro-batch is a FULL feed poll,
    *    exactly one reference cron run: current keys absent from the
    *    batch are expired (the reference's remove path).
    *  - `batchIsSnapshot=false` (default) — the micro-batch is
    *    INCREMENTAL (the usual streaming shape): keys absent from the
    *    batch pass through untouched, nothing is expired by absence.
    *
    * Both are one [[Merges.scd2]] pass with `expireAbsent =
    * batchIsSnapshot`: a single full-outer join of the batch against
    * the current history, after which the whole table is rewritten.
    * The join shuffles the current history once per trigger, the same
    * order of cost as the rewrite. The batch is evaluated once
    * ([[evaluatedOnce]]).
    *
    * Idempotence under foreachBatch retries: `batchTs` MUST be derived
    * deterministically from the batch id (see [[scd2Sink]]), and the
    * merge itself is a fixed point — replaying a committed batch finds
    * every batch row equal to its current version, so change detection
    * emits no expirations and no new versions and the table is
    * byte-identical. That is what preserves exactly-one-current per key
    * across retries (StreamingSpec asserts it).
    *
    * The batch must be unique per key (dedup upstream with
    * [[dedupStreamByKey]]), same as the batch merges.
    */
  def scd2MergeBatch(tablePath: String, batch: DataFrame, key: String,
      compareCols: Seq[String], batchTs: java.sql.Timestamp,
      batchIsSnapshot: Boolean = false,
      notesCol: Option[String] = Some("notes"),
      carryNotes: Boolean = true): Unit = evaluatedOnce(batch) { batch =>
    val spark = batch.sparkSession
    val hist = Tables.readCommitted(spark, tablePath, scd2Schema(batch))
    Merges.scd2(hist, batch, key, compareCols, batchTs, notesCol, carryNotes,
        expireAbsent = batchIsSnapshot)
      .write.mode("overwrite").parquet(tablePath + "_tmp")
    Tables.swapTable(spark, tablePath)
  }

  /** St6: wire a deduped stream into an SCD2-versioned parquet table via
    * foreachBatch — the streaming form of batch M3 ([[Merges.scd2]]),
    * closing SURVEY §2.10's last mapping.
    *
    * `batchTs` maps the micro-batch id to the version timestamp; it must
    * be a pure function of the id (NOT `now()`) so a retried batch
    * re-runs with the same timestamp and the merge stays a fixed point —
    * Structured Streaming may re-invoke foreachBatch for a batch id
    * whose work already committed, and a wall-clock timestamp would
    * mint spurious versions on replay.
    */
  def scd2Sink(stream: DataFrame, tablePath: String, checkpoint: String,
      key: String, compareCols: Seq[String],
      batchTs: Long => java.sql.Timestamp,
      batchIsSnapshot: Boolean = false,
      notesCol: Option[String] = Some("notes"),
      carryNotes: Boolean = true,
      trigger: Trigger = Trigger.ProcessingTime("15 minutes")): DataStreamWriter[Row] =
    sink(stream, checkpoint, trigger) { (batch, id) =>
      scd2MergeBatch(tablePath, batch, key, compareCols, batchTs(id),
        batchIsSnapshot, notesCol, carryNotes)
    }

  /** Custom keyed state via flatMapGroupsWithState: emit a row only
    * when a key's latest version CHANGES (the streaming form of the
    * SCD change-detection gate, J5/M2). State = last seen
    * (version-ordering value, payload hash) per key; unchanged
    * re-polls of the same entry produce no output, so downstream sinks
    * see exactly the reference's "only changed rows count as updates"
    * semantics continuously instead of per cron run.
    */
  def changedOnlyStream[K: org.apache.spark.sql.Encoder,
      V: org.apache.spark.sql.Encoder](
      stream: org.apache.spark.sql.Dataset[V], keyFn: V => K,
      versionFn: V => Long, payloadFn: V => String)(
      implicit tupleEnc: org.apache.spark.sql.Encoder[(Long, String)]
  ): org.apache.spark.sql.Dataset[V] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    stream.groupByKey(keyFn)
      .flatMapGroupsWithState[(Long, String), V](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: K, rows: Iterator[V], state: GroupState[(Long, String)]) =>
          // newest row in this micro-batch wins (M5 keep-latest)
          val newest = rows.maxByOption(versionFn)
          newest match {
            case None => Iterator.empty
            case Some(v) =>
              val candidate = (versionFn(v), payloadFn(v))
              val prior = state.getOption
              val isNews = prior match {
                case Some((pv, ph)) =>
                  candidate._1 > pv && candidate._2 != ph
                case None => true
              }
              if (isNews) { state.update(candidate); Iterator.single(v) }
              else Iterator.empty
          }
      }
  }

  /** Tumbling-window event aggregation with watermarking — the
    * streaming analytics the reference's per-run counters approximate.
    */
  def windowedCounts(stream: DataFrame, eventTimeCol: String,
      windowLen: String, watermark: String, dims: Seq[String]): DataFrame =
    stream
      .withWatermark(eventTimeCol, watermark)
      .groupBy(window(col(eventTimeCol), windowLen) +: dims.map(col): _*)
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))

  /** Gap-based session aggregation via the engine's native
    * `session_window` — the streaming sibling of
    * [[graft.operators.Sessions.sessionize]]: windows merge while
    * events arrive within `gap` of the session's current end, and the
    * watermark lets state for closed sessions be evicted. Works
    * identically over a batch frame (no watermark needed), where its
    * output is cross-checked against the relational sessionizer.
    */
  def sessionWindowStats(stream: DataFrame, eventTimeCol: String,
      userCol: String, gap: String, watermark: Option[String]): DataFrame = {
    val src = watermark.fold(stream)(w => stream.withWatermark(eventTimeCol, w))
    src
      .groupBy(session_window(col(eventTimeCol), gap), col(userCol))
      .agg(count(lit(1)).as("n_events"),
        min(col(eventTimeCol)).as("session_start"),
        max(col(eventTimeCol)).as("session_end"))
      .select(col(userCol), col("n_events"),
        col("session_start"), col("session_end"))
  }
}
