package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Corpus-curation operators for the training-data pipeline surface:
  * test-set decontamination, token-budget sequence packing (via a
  * distributed prefix sum), repetition-based quality signals, and
  * stratified sampling.
  *
  * Scale notes (the 100 TB story):
  *  - Decontamination joins the corpus postings against the BENCHMARK
  *    shingle set — benchmarks are tiny (MBs) next to the corpus (TBs),
  *    so the benchmark side is broadcast and the whole check is one
  *    map-side semi-join over the corpus scan: no shuffle of corpus
  *    text at all, only the matched (doc, shingle) pairs move.
  *  - Prefix sum is the textbook block-hierarchical form: per-block
  *    partial sums (one map-side-combined aggregation), a cumulative
  *    scan over the tiny block table (rows = corpus/blockSize — the
  *    only single-partition step, ~25k rows per 100M docs at the
  *    default block size), broadcast back, then a per-block window —
  *    partitioned by block, so the big window runs fully parallel.
  *  - Repetition stats are relational (explode → count → max/sum), not
  *    per-row HOF mode computation: two shuffles keyed by (doc, gram),
  *    both with map-side combine; no collect, no skew (grams are
  *    per-document keys).
  *  - Stratified sampling is the md5-hash-threshold sample of
  *    [[Filters.hashSample]] with a per-group threshold — still purely
  *    deterministic and engine-portable, so an external system can
  *    reproduce the exact subset; no shuffle at all (scan + filter).
  */
object Corpus {

  // --------------------------------------------------- decontamination

  /** Shingle overlap between a corpus and a benchmark/eval set — the
    * standard n-gram test-set decontamination check (the reference's
    * dedup family generalized across two tables). Returns one row per
    * CONTAMINATED corpus document: (idCol, n_shared) where n_shared
    * counts the distinct word-n-grams the document shares with any
    * benchmark document.
    *
    * The benchmark shingle set is deduplicated then broadcast: the
    * corpus side never shuffles, so the cost is one scan of the corpus
    * plus a hash lookup per (doc, shingle) — the only shuffle is the
    * final per-document count aggregation over matched pairs.
    */
  def contaminationReport(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, n: Int): DataFrame = {
    val benchShingles = Dedup.shingleSets(benchmark, idCol, textCol, n)
      .select(explode(col("_sh")).as("_s")).distinct()
    val corpusPostings = Dedup.shingleSets(corpus, idCol, textCol, n)
      .select(col("_id"), explode(col("_sh")).as("_s"))
    corpusPostings
      .join(broadcast(benchShingles), Seq("_s"))
      .groupBy(col("_id").as(idCol))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** The cleaning counterpart: corpus rows that share NO word-n-gram
    * with the benchmark (broadcast anti-join on the matched id set).
    */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, n: Int): DataFrame =
    corpus.join(
      contaminationReport(corpus, benchmark, idCol, textCol, n)
        .select(idCol),
      Seq(idCol), "left_anti")

  /** [[contaminationReport]] with a Bloom-filter pre-probe on the
    * corpus postings: the benchmark shingle set is compiled into a
    * ~10-bits/key Bloom filter (vs ~50+ bytes/key for a broadcast hash
    * set), each corpus shingle probes the filter inside the scan's
    * whole-stage-codegen'd filter, and only probable hits reach the
    * exact string equi-join that removes false positives — so output
    * is IDENTICAL to the exact report while the per-shingle join input
    * shrinks to the contaminated fraction. This is the shape that
    * keeps decontamination one corpus scan when the benchmark set
    * outgrows a comfortable broadcast hash relation (100 TB story:
    * 100M benchmark shingles ≈ 120 MB of filter vs multi-GB hash set).
    */
  def contaminationReportBloom(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, n: Int, fpp: Double = 0.01): DataFrame = {
    val benchShingles = Dedup.shingleSets(benchmark, idCol, textCol, n)
      .select(explode(col("_sh")).as("_s")).distinct()
      .transform(graft.Caches.own)
    // Two distributed passes over the (small) benchmark side: one to
    // size the filter, one to build it. The corpus side stays lazy.
    val nBench = math.max(benchShingles.count(), 1L)
    val bloom = benchShingles.stat.bloomFilter("_s", nBench, fpp)
    val bloomLit = lit(graft.expr.BloomMightContain.toBytes(bloom))
    val corpusPostings = Dedup.shingleSets(corpus, idCol, textCol, n)
      .select(col("_id"), explode(col("_sh")).as("_s"))
      .filter(call_function(graft.expr.BloomMightContain.FunctionName,
        col("_s"), bloomLit))
    corpusPostings
      .join(broadcast(benchShingles), Seq("_s"))
      .groupBy(col("_id").as(idCol))
      .agg(count(lit(1)).as("n_shared"))
  }

  // --------------------------------------------------------- chunking

  /** Split each document into overlapping token windows of `chunkSize`
    * tokens every `stride` tokens — the context-window chunking step of
    * an embedding / retrieval pipeline. Emits (id, chunk_id,
    * chunk_text, chunk_tokens); the final chunk per document may be
    * shorter than `chunkSize`. Purely per-row (tokenize → generate
    * starts → slice): no shuffle at all, chunk ids are deterministic,
    * and `stride >= 1` bounds output at ceil(n/stride) rows per doc.
    */
  def chunkDocuments(df: DataFrame, idCol: String, textCol: String,
      chunkSize: Int, stride: Int): DataFrame = {
    require(chunkSize > 0 && stride > 0, "chunkSize and stride must be positive")
    df.select(col(idCol),
        graft.functions.TextAnalysis.tokens(col(textCol)).as("_toks"))
      .withColumn("_n", size(col("_toks")))
      .filter(col("_n") > 0)
      .select(col(idCol), col("_toks"), col("_n"),
        explode(sequence(lit(0), col("_n") - 1, lit(stride))).as("_start"))
      .select(col(idCol),
        (col("_start") / stride).cast(LongType).as("chunk_id"),
        concat_ws(" ", slice(col("_toks"), col("_start") + 1, lit(chunkSize)))
          .as("chunk_text"),
        least(col("_n") - col("_start"), lit(chunkSize)).cast(LongType)
          .as("chunk_tokens"))
  }

  // ------------------------------------------------ unigram LM scoring

  /** Unigram language-model quality score: each document's mean token
    * log-probability under the add-one-smoothed unigram model of the
    * corpus itself — the cheap cross-entropy proxy used to rank text
    * quality before training (low score = unusual token distribution).
    *
    * logp(t) = ln((count(t) + 1) / (T + V)) with T = total tokens,
    * V = vocabulary size. Per-term log-probs are rounded to 6dp and
    * accumulated as DECIMAL(18,6), so document sums are exact and
    * order-independent (the same cross-engine determinism recipe as
    * TfIdf weights); the per-doc mean divides once in double.
    *
    * Shape at scale: one aggregation collapses the corpus to its
    * vocabulary histogram, the (small) log-prob table broadcasts back
    * onto the postings, and one more aggregation scores documents —
    * two corpus scans, no corpus-sized shuffle. In production the
    * vocabulary table is the thing to materialize and reuse; caching
    * the exploded postings would cost more than the second scan.
    */
  def unigramLmScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val dec6 = DecimalType(18, 6)
    // tokens hash to 64-bit keys INSIDE the scan stage (the same
    // xxhash64-identity treatment as the dedup postings): the
    // vocabulary histogram and the score join shuffle 8-byte keys,
    // never token strings — the strings exist only inside the
    // codegen'd projection. Accepted trade-off: a 64-bit collision
    // silently merges two tokens' counts, and since the oracle groups
    // by the token STRING a collision would also break the advertised
    // bit-exact parity — accepted because the expected collision count
    // is ~V²/2⁶⁵ (≈3e-9 at a 10M-token vocabulary), the same caveat
    // the dedup postings carry
    def toks(frame: DataFrame): DataFrame = frame
      .select(col(idCol).as("_id"),
        explode(graft.functions.TextAnalysis.tokens(
          coalesce(col(textCol), lit("")))).as("_t0"))
      .select(col("_id"), xxhash64(col("_t0")).as("_t"))
    // ONE instance exchange for the histogram and the score probe (the
    // q115/bigramLmScore restructure — see there for the
    // greatest/least/xxhash64-references-_id device and the skew note:
    // the probe always shuffled raw instances on _t, so clustering the
    // histogram on the same exchange adds no new skew surface). The
    // vocabulary cache is dropped in this form: a cached plan is its
    // own query execution, so exchange reuse cannot cross it — the
    // shared form instead re-runs the vocabulary-bounded aggregate
    // above the one exchange per consumer. A/B knob (graft.ABConf):
    // spark.graft.lm.sharedExchange=0 restores cached+two-subtree.
    val shared = !df.sparkSession.conf
      .getOption("spark.graft.lm.sharedExchange").contains("0")
    val tokAll = if (shared) toks(df).repartition(col("_t")) else toks(df)
    val counts0 = tokAll.groupBy("_t").agg(
      (if (shared) sum(greatest(lit(1L), least(xxhash64(col("_id")), lit(1L))))
      else count(lit(1))).as("_cnt"))
    val counts =
      if (shared) counts0 else counts0.transform(graft.Caches.own)
    // T and V stay IN the plan as a one-row aggregate of the persisted
    // histogram, broadcast into the log-prob projection — a driver
    // action here would cost a whole job round-trip before the scoring
    // query starts (and a driver barrier at 100 TB)
    val totals = broadcast(counts.agg(
      (sum(col("_cnt")).cast(DoubleType) +
        count(lit(1)).cast(DoubleType)).as("_TV")))
    // vocabulary key renamed for the join back onto the postings: both
    // sides descend from the same scan, so a shared `_t` name would be
    // an ambiguous self-join reference
    val logp = counts.crossJoin(totals).select(col("_t").as("_vt"),
      round(log((col("_cnt") + 1) / col("_TV")), 6).cast(dec6).as("_lp"))
    // SHUFFLE_HASH hint, not a forced broadcast: logp is
    // VOCABULARY-sized, and broadcast() bypasses the size threshold —
    // at web-corpus vocabularies that is a driver-memory cliff. The
    // hint is explicit (not left to AQE's SMJ→SHJ conversion) because
    // logp's partitioning descends from the histogram cross-join and
    // the conversion measurably does not fire here — the 10× shakeout
    // sorts the corpus stream again without the hint (SCALE.md).
    tokAll
      .join(logp.hint("shuffle_hash"), col("_t") === col("_vt"))
      .groupBy(col("_id").as(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        round(sum(col("_lp")).cast(DoubleType) / count(lit(1)), 4).as("lm_score"))
  }

  /** Bigram language-model quality score — [[unigramLmScore]]'s
    * context-aware sibling: mean ln P(wᵢ | wᵢ₋₁) with add-one
    * smoothing, P = (c(wᵢ₋₁wᵢ)+1)/(c(wᵢ₋₁)+V). Catches locally
    * incoherent text (shuffled words score low even when every word is
    * common) that a unigram model scores identically. Same exact-sum
    * discipline: log-probs round to 6dp, accumulate as DECIMAL(18,6).
    *
    * Shape: per-doc bigrams (the q84 posexplode+lead shape), bigram
    * and unigram histograms (both map-side combined, vocabulary
    * bounded), one scalar driver action for V, a shuffle join of doc
    * bigrams onto the log-prob table keyed on the bigram, one per-doc
    * aggregation. Documents with fewer than two tokens drop out.
    */
  def bigramLmScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val dec6 = DecimalType(18, 6)
    // bigram INSTANCES, never a per-(doc, bigram) aggregate: the
    // distinct-and-weight formulation (round 4) was bit-identical
    // (k identical decimal terms sum to exactly k × term) but paid for
    // a corpus-sized hash aggregate keyed on (doc, a, b) — measured as
    // the engine's largest memory reservation (~845 MB/task at the 10×
    // shakeout, SCALE.md). Instance-level scoring keeps every
    // aggregation either vocabulary-bounded (the histograms) or
    // tiny-per-group (the per-doc sum), and the global histogram and
    // the log-prob join exchange on the SAME (a, b) key from the same
    // child, so the exchange is reused rather than the corpus being
    // re-extracted.
    // Caching this instance stream for its two consumers lost its
    // same-JVM A/B to the shared exchange below (min 1.13 cached vs
    // 1.03 s recompute, OPTIMIZATION_r17.md).
    val inst0 = bigramsFromToks(bigramToks(df, idCol, textCol))
      .select(col("_id"), xxhash64(col("_a")).as("_a"), xxhash64(col("_b")).as("_b"))
    // ONE instance exchange for both consumers: the log-prob join
    // already shuffles the raw instances on (_a,_b); repartitioning
    // them there explicitly lets the bigram histogram aggregate run
    // COMPLETE above the same exchange instead of re-deriving the
    // corpus (scan+tokenize+posexplode) a second time for its own
    // partial-agg shuffle. The histogram references _id through
    // greatest(1, least(xxhash64(_id), 1)) — exactly 1 for every row
    // (least caps at 1, greatest floors at 1; xxhash64 is a non-null
    // long for any id type, null included, so the count stays a long
    // and a string or struct id analyses too), i.e. count(1) —
    // because with a bare count(1) column pruning
    // would strip _id below the repartition on the histogram branch
    // and the two exchange subtrees would stop being canonically
    // equal (the q97/docFreq lesson). Skew note: the hot-bigram
    // exposure of partitioning raw instances on (_a,_b) already
    // existed on the join's probe side; this removes the duplicate
    // corpus pass without adding any new skew surface.
    // A/B knob (graft.ABConf): spark.graft.lm.sharedExchange=0
    // restores the two-subtree form.
    val shared = !df.sparkSession.conf
      .getOption("spark.graft.lm.sharedExchange").contains("0")
    val inst = if (shared) inst0.repartition(col("_a"), col("_b")) else inst0
    // token strings hash to 64-bit keys before any exchange (the
    // dedup-posting treatment): histograms and both log-prob joins
    // shuffle 8-byte keys, never strings — same accepted ~V²/2⁶⁵
    // collision caveat as unigramLmScore above. Persisted because both
    // the vocabulary-size aggregate and the log-prob join consume it.
    val uni = df.select(explode(graft.functions.TextAnalysis.tokens(
        coalesce(col(textCol), lit("")))).as("_t0"))
      .select(xxhash64(col("_t0")).as("_t"))
      .groupBy("_t").agg(count(lit(1)).as("_ca"))
      .transform(graft.Caches.own)
    // vocabulary size stays IN the plan (one-row aggregate broadcast
    // into the smoothing), not a uni.count() driver action
    val vocabRow = broadcast(uni.agg(
      count(lit(1)).cast(DoubleType).as("_V")))
    val bg = inst.groupBy(col("_a"), col("_b"))
      .agg((if (shared)
        sum(greatest(lit(1L), least(xxhash64(col("_id")), lit(1L))))
      else count(lit(1))).as("_cab"))
    val logp = bg.join(uni.select(col("_t").as("_a"), col("_ca")), "_a")
      .crossJoin(vocabRow)
      .select(col("_a").as("_la"), col("_b").as("_lb"),
        round(log((col("_cab") + 1).cast(DoubleType) /
          (col("_ca").cast(DoubleType) + col("_V"))), 6)
          .cast(dec6).as("_lp"))
    // SHUFFLE_HASH on the log-prob side: the build side is the
    // vocabulary histogram (bounded per partition), so the
    // corpus-sized instance stream probes without the sort-merge
    // join's full sort of the instances — that sort, not any
    // aggregate, was the engine's largest memory reservation. The
    // hint is deliberate: AQE's SMJ→SHJ conversion does not fire on
    // this join's partitioning (measured, SCALE.md — without the hint
    // the 10× run re-acquires the 27 GB sort reservation).
    inst
      .join(logp.hint("shuffle_hash"),
        col("_a") === col("_la") && col("_b") === col("_lb"))
      .groupBy(col("_id").as(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum(col("_lp")).cast(DoubleType) /
          count(lit(1)), 4).as("lm2_score"))
  }

  // -------------------------------------------- paragraph-level dedup

  /** Per-document paragraph-duplication signal: split each document on
    * `sep` (default sentence-ish '.'), normalize each fragment
    * (whitespace-collapse + lowercase) to an md5 fingerprint, and
    * report how much of the document consists of fragments that also
    * appear in OTHER documents — boilerplate headers, license blocks
    * and templated sentences that document-level dedup can't see.
    * Output: (id, n_paras, n_dup_paras, dup_ratio).
    *
    * Shape: explode → two aggregations keyed on the fingerprint (both
    * map-side combined; the cross-doc fingerprint table only keeps
    * fingerprints seen in ≥ 2 documents) → semi-join back. Fragments
    * move as 60-bit md5 hashes, never strings, after the first
    * projection.
    */
  def paragraphDupStats(df: DataFrame, idCol: String, textCol: String,
      sep: String = "\\."): DataFrame = {
    val paras = df
      .select(col(idCol).as("_id"),
        explode(split(coalesce(col(textCol), lit("")), sep)).as("_p0"))
      .select(col("_id"), graft.functions.TextAnalysis.md5Long(
        graft.functions.Normalize.collapseWs(lower(col("_p0")))).as("_fp"),
        trim(col("_p0")).as("_pt"))
      .filter(col("_pt") =!= "")
      .select(col("_id"), col("_fp"))
      // three consumers (cross-doc table, per-doc totals, dup counts)
      // would each re-run the split + normalize + md5 over the scan
      .transform(graft.Caches.own)
    // fingerprints appearing in more than one distinct document
    val crossDoc = paras.distinct()
      .groupBy("_fp").agg(count(lit(1)).as("_nd"))
      .filter(col("_nd") > 1)
      .select("_fp")
    val perDoc = paras.groupBy("_id").agg(count(lit(1)).as("n_paras"))
    val dupPerDoc = paras.join(crossDoc, Seq("_fp"), "left_semi")
      .groupBy("_id").agg(count(lit(1)).as("n_dup_paras"))
    perDoc.join(dupPerDoc, Seq("_id"), "left_outer")
      .select(col("_id").as(idCol), col("n_paras"),
        coalesce(col("n_dup_paras"), lit(0L)).as("n_dup_paras"),
        round(coalesce(col("n_dup_paras"), lit(0L)).cast(DoubleType) /
          col("n_paras"), 6).as("dup_ratio"))
  }

  /** Cross-document segment removal — the TRANSFORM sibling of
    * [[paragraphDupStats]] and the CCNet/RefinedWeb line-dedup recipe:
    * any sep-split segment whose normalized fingerprint occurs in more
    * than `maxDocFreq` distinct documents (site boilerplate, navigation
    * chrome, license footers) is removed from EVERY document, and the
    * survivors are reassembled in their original order.
    *
    * Scale shape: segments travel once; the hot-fingerprint table is
    * derived from a distinct + count over 8-byte md5 keys (map-side
    * combined) and applied as an anti-join — never collected, never
    * broadcast by assumption (at 100 TB the hot set can itself be
    * large). Two corpus-sized shuffles total: the anti-join on the
    * fingerprint and the per-document reassembly groupBy. Empty
    * segments are dropped at split time, so runs of separators and
    * trailing separators do not round-trip — the output joins kept
    * segments with `sepOut` verbatim.
    *
    * Output: (idCol, text_clean, n_segments, n_removed); a document
    * whose every segment was removed (or was empty) yields
    * `text_clean = ""`.
    */
  def removeDuplicatedSegments(df: DataFrame, idCol: String, textCol: String,
      sepRegex: String = "\\.", sepOut: String = ".",
      maxDocFreq: Long = 1L): DataFrame = {
    val segs = df
      .select(col(idCol).as("_id"),
        posexplode(split(coalesce(col(textCol), lit("")), sepRegex))
          .as(Seq("_pos", "_s")))
      .filter(trim(col("_s")) =!= "")
      .select(col("_id"), col("_pos"), col("_s"),
        graft.functions.TextAnalysis.md5Long(
          graft.functions.Normalize.collapseWs(lower(col("_s")))).as("_fp"))
      // three consumers (hot table, totals, reassembly) share one
      // split+fingerprint pass
      .transform(graft.Caches.own)
    val hot = segs.select(col("_id"), col("_fp")).distinct()
      .groupBy("_fp").agg(count(lit(1)).as("_nd"))
      .filter(col("_nd") > maxDocFreq)
      .select("_fp")
    val kept = segs.join(hot, Seq("_fp"), "left_anti")
    val rebuilt = kept.groupBy("_id").agg(
      count(lit(1)).as("_n_kept"),
      array_join(transform(
        array_sort(collect_list(struct(col("_pos"), col("_s")))),
        x => x.getField("_s")), sepOut).as("text_clean"))
    val totals = segs.groupBy("_id").agg(count(lit(1)).as("n_segments"))
    df.select(col(idCol))
      .join(totals.withColumnRenamed("_id", idCol), Seq(idCol), "left_outer")
      .join(rebuilt.withColumnRenamed("_id", idCol), Seq(idCol), "left_outer")
      .select(col(idCol),
        coalesce(col("text_clean"), lit("")).as("text_clean"),
        coalesce(col("n_segments"), lit(0L)).as("n_segments"),
        (coalesce(col("n_segments"), lit(0L)) -
          coalesce(col("_n_kept"), lit(0L))).as("n_removed"))
  }

  /** Exact-substring span removal at TOKEN granularity (the Lee et
    * al. 2022 "Deduplicating Training Data" ExactSubstr shape,
    * k-gram-approximated): any run of ≥ k consecutive tokens that
    * appears in more than `maxDocFreq` distinct documents is removed
    * from every document — [[removeDuplicatedSegments]] without the
    * separator assumption, for boilerplate that doesn't respect
    * sentence boundaries. Output text is space-joined surviving
    * tokens (tokenizer normalization applies).
    *
    * Shape: (1) per-doc k-gram fingerprints built INSIDE the token
    * array (one md5 per start position — no token explode for gram
    * building); (2) a fingerprint-keyed distinct-doc count finds hot
    * grams (the only corpus-wide shuffle, vocabulary-of-grams
    * bounded); (3) a token is covered when any duplicated gram starts
    * within the k−1 positions before it — one per-document RANGE
    * window, per-doc keys only; (4) order-preserving rebuild. Returns
    * (idCol, text_clean, n_tokens, n_removed).
    */
  def removeDuplicatedSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, maxDocFreq: Long = 1L): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val toks = graft.functions.TextAnalysis.tokens(coalesce(col(textCol), lit("")))
    // positional gram hashes via the native one-pass expression — the
    // composed transform(slice+concat+md5) lambda measured 2.6 µs/gram
    // interpreted (18 s per consumer pass at 10×)
    val gramFps = call_function(graft.expr.WordGramHashes.FunctionName,
      coalesce(col(textCol), lit("")), lit(k))
    // the gram table is consumed twice (hot-count, dup-start join) —
    // cache the EXPLODED rows so the hash pass runs once
    val grams = graft.Caches.own(
      df.select(col(idCol).as("_id"),
        posexplode(gramFps).as(Seq("_gpos", "_fp"))))
    val hot = grams.select(col("_id"), col("_fp")).distinct()
      .groupBy("_fp").agg(count(lit(1)).as("_nd"))
      .filter(col("_nd") > maxDocFreq)
      .select("_fp")
    val dupStarts = grams.join(hot, Seq("_fp"))
      .select(col("_id"), col("_gpos"), lit(1).as("_ds"))
    val tks = df.select(col(idCol).as("_id"),
      posexplode(toks).as(Seq("_pos", "_t")))
    val w = Window.partitionBy("_id").orderBy(col("_pos"))
      .rangeBetween(-(k - 1).toLong, 0L)
    // partitions-per-byte floor on the token-scale window/rebuild
    // stage (the q146 shuffle-partition-count sensitivity the 100×
    // sweep documented): the per-doc RANGE window and the rebuild
    // groupBy both cluster by _id, so ONE widened exchange here (the
    // window needed an exchange anyway) serves both — per-task token
    // volume stays constant as the corpus grows
    val coveredBase = tks
      .join(dupStarts.withColumnRenamed("_gpos", "_pos"), Seq("_id", "_pos"), "left_outer")
    val covered = Scale.partitionsForLeafBytes(df, 2L * 1024 * 1024)
      .map(n => coveredBase.repartition(n, col("_id"))).getOrElse(coveredBase)
      .withColumn("_cov", max(coalesce(col("_ds"), lit(0))).over(w))
    val rebuilt = covered.groupBy("_id").agg(
      count(lit(1)).as("n_tokens"),
      sum(col("_cov")).as("_n_cov"),
      array_join(transform(
        array_sort(collect_list(when(col("_cov") === 0,
          struct(col("_pos"), col("_t"))))),
        x => x.getField("_t")), " ").as("text_clean"))
    df.select(col(idCol))
      .join(rebuilt.withColumnRenamed("_id", idCol), Seq(idCol), "left_outer")
      .select(col(idCol),
        coalesce(col("text_clean"), lit("")).as("text_clean"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("_n_cov"), lit(0L)).as("n_removed"))
  }

  /** WITHIN-document segment dedup: keep the first occurrence of every
    * normalized segment inside each document, preserving order — the
    * per-page counterpart of [[removeDuplicatedSegments]] (which drops
    * segments duplicated ACROSS documents). This is the repetition
    *-removal transform next to the repetition SCORES: nav menus
    * repeated per page, chat logs quoting themselves, generation loops.
    * Same normalization contract as the cross-doc form (lower +
    * whitespace-collapse md5 fingerprint).
    *
    * Returns (idCol, text_clean, n_segments, n_removed) — identical
    * shape to [[removeDuplicatedSegments]] so callers can swap scopes.
    *
    * Scale shape: two shuffles, both keyed by (doc, fingerprint) then
    * doc — per-document keys, no corpus-wide hot key is possible. The
    * first aggregation keeps the argmin-by-position segment via one
    * `min(struct(pos, seg))`, so totals, kept counts and reassembly
    * ride a single pipeline with no shared cached intermediate.
    */
  def dedupSegmentsWithinDoc(df: DataFrame, idCol: String, textCol: String,
      sepRegex: String = "\\.", sepOut: String = "."): DataFrame = {
    val segs = df
      .select(col(idCol).as("_id"),
        posexplode(split(coalesce(col(textCol), lit("")), sepRegex))
          .as(Seq("_pos", "_s")))
      .filter(trim(col("_s")) =!= "")
      .select(col("_id"), col("_pos"), col("_s"),
        graft.functions.TextAnalysis.md5Long(
          graft.functions.Normalize.collapseWs(lower(col("_s")))).as("_fp"))
    val perFp = segs.groupBy("_id", "_fp")
      .agg(min(struct(col("_pos"), col("_s"))).as("_f"),
        count(lit(1)).as("_n"))
    val rebuilt = perFp.groupBy("_id").agg(
      sum(col("_n")).as("n_segments"),
      count(lit(1)).as("_n_kept"),
      array_join(transform(array_sort(collect_list(col("_f"))),
        x => x.getField("_s")), sepOut).as("text_clean"))
    df.select(col(idCol))
      .join(rebuilt.withColumnRenamed("_id", idCol), Seq(idCol), "left_outer")
      .select(col(idCol),
        coalesce(col("text_clean"), lit("")).as("text_clean"),
        coalesce(col("n_segments"), lit(0L)).as("n_segments"),
        (coalesce(col("n_segments"), lit(0L)) -
          coalesce(col("_n_kept"), lit(0L))).as("n_removed"))
  }

  /** Deterministic training-shard export order: assigns every row a
    * shard and a within-shard rank from one md5 draw — the "globally
    * shuffle the corpus, then write N shards" step before training.
    * Deterministic and engine-reproducible (same corpus + salt ⟹ the
    * same order anywhere), and different salts give independent
    * shuffles (epoch reshuffling = a salt bump).
    *
    * Scale shape: one shuffle keyed by shard, then a per-shard sort
    * window — the sort is shard-sized, and shards ARE the export unit,
    * so nothing larger than one output file's worth of rows ever sorts
    * together. No RNG state, no driver pass.
    */
  def trainingShards(df: DataFrame, idCol: String, numShards: Int,
      salt: String = ""): DataFrame = {
    require(numShards > 0, s"numShards must be positive: $numShards")
    val draw = graft.functions.TextAnalysis.md5Long(
      concat(col(idCol).cast(StringType), lit("#" + salt + "#shard")))
    df.withColumn("_draw", draw)
      .withColumn("shard", pmod(col("_draw"), lit(numShards.toLong)))
      .withColumn("rank_in_shard",
        row_number().over(Window.partitionBy(col("shard"))
          .orderBy(col("_draw"), col(idCol))).cast(LongType))
      .drop("_draw")
  }

  // ------------------------------------------------ negative sampling

  /** Deterministic negative sampling for contrastive training: for
    * every anchor row, `k` pseudo-random partner ids drawn as
    * md5(anchor # slot # salt) mod `poolSize` — collision with the
    * anchor itself is dropped. Zero-shuffle (a per-row sequence
    * explode and hash), reproducible in any engine with md5, and
    * different salts give independent draws.
    *
    * Contract: partner ids are drawn from the DENSE domain
    * [0, poolSize) — the standard post-packing layout (testdata doc
    * ids are dense; after [[packSequences]]-style reindexing any
    * corpus is). For sparse id spaces, join the output's `neg_id`
    * against the pool to materialize partner rows (an equi-join the
    * caller owns).
    */
  def negativeSamples(df: DataFrame, idCol: String, k: Int, poolSize: Long,
      salt: String = ""): DataFrame = {
    require(k > 0 && poolSize > 1, "need k > 0 and poolSize > 1")
    df.select(col(idCol),
        explode(sequence(lit(0), lit(k - 1))).as("neg_slot"))
      .withColumn("neg_id",
        pmod(graft.functions.TextAnalysis.md5Long(
          concat(col(idCol).cast(StringType), lit("#"),
            col("neg_slot").cast(StringType), lit(salt))),
          lit(poolSize)))
      .filter(col("neg_id") =!= col(idCol))
  }

  // ------------------------------------------------ PMI collocations

  /** Top-k adjacent-bigram collocations by pointwise mutual
    * information: PMI(a,b) = ln(p(ab) / (p(a)·p(b))) with p(ab) over
    * the bigram total and p(a), p(b) over the token total — the
    * phrase-mining signal behind tokenizer merges and stopword-phrase
    * lists. Only docs with ≥ 2 tokens participate (no bigram exists
    * otherwise); bigrams rarer than `minCount` are cut before the
    * expensive part, killing the hapax tail.
    *
    * Shape: the corpus collapses to unigram + bigram histograms (two
    * map-side-combined aggregations; bigrams come from posexplode +
    * lead — one shuffle on the doc key), the unigram table broadcasts
    * onto the surviving bigrams, totals are two scalars. PMI rounds to
    * 6dp with a total-order tie-break, so top-k is engine-exact.
    */
  /** (_id, _tk): tokenized docs that can form at least one bigram —
    * the shared front of [[pmiBigrams]] and [[bigramLmScore]].
    *
    * The token array comes through an `explode(array(...))` Generate
    * barrier (the media-decode pattern): as a plain projection, the
    * `size(_tk) >= 2` gate collapses into a Filter on the raw text that
    * re-runs the tokenizer once per conjunct BELOW the parallelizing
    * exchange (the r16-style q115 plan shows the split+lower pipeline
    * three times per subtree, two of them single-task). Behind the
    * Generate the tokenizer runs exactly once, above the exchange.
    */
  private def bigramToks(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    df.select(col(idCol).as("_id"),
        explode(array(graft.functions.TextAnalysis.tokens(
          coalesce(col(textCol), lit(""))))).as("_tk"))
      .filter(size(col("_tk")) >= 2)

  /** (_id, _a, _b): within-document adjacent token pairs — shared by
    * the bigram operators so the two stay in lockstep. Adjacency lives
    * INSIDE the token array, so the pair is a pure per-row projection:
    * posexplode each position and read its successor with element_at.
    * The old posexplode + lead-over-(_id order by _p) window paid a
    * full shuffle + sort of the exploded token stream for information
    * the row already had.
    */
  private def bigramsFromToks(toks: DataFrame,
      extraCols: Seq[String] = Nil): DataFrame = {
    val carried = extraCols.map(col)
    toks
      .select(col("_id") +: carried :+ col("_tk") :+
        posexplode(col("_tk")).as(Seq("_p", "_t")): _*)
      .filter(col("_p") < size(col("_tk")) - 1)  // _p is 0-based
      .select(col("_id") +: carried :+ col("_t").as("_a") :+
        element_at(col("_tk"), col("_p") + 2).as("_b"): _*)  // 1-based
  }

  def pmiBigrams(df: DataFrame, idCol: String, textCol: String,
      minCount: Long, k: Int): DataFrame = {
    // toks deliberately NOT persisted: its three consumers re-tokenize
    // (a cheap codegen'd projection), which measures faster than
    // caching token ARRAYS (columnar encode/decode of variable-length
    // arrays dominates — the same lesson as TfIdf's postings note) and
    // keeps AQE fully active on every consumer's plan.
    val toks = bigramToks(df, idCol, textCol)
    val uni = toks.select(explode(col("_tk")).as("_t"))
      .groupBy("_t").agg(count(lit(1)).as("_c"))
      .transform(graft.Caches.own)
    val bgc = bigramsFromToks(toks)
      .groupBy(col("_a"), col("_b"))
      .agg(count(lit(1)).as("_cab"))
      .filter(col("_cab") >= minCount)
    // totals: token mass and bigram mass (= tokens − docs) — one-row
    // aggregates of the persisted histogram and the doc count, kept in
    // the plan and broadcast into the PMI projection (driver actions
    // here cost a job round-trip each before the ranking starts)
    val totals = broadcast(
      uni.agg(sum(col("_c")).cast(DoubleType).as("_tTok")).crossJoin(
        toks.agg(count(lit(1)).cast(DoubleType).as("_nDoc")))
        .select(col("_tTok"), (col("_tTok") - col("_nDoc")).as("_tBg")))
    val pmi = round(log(
      (col("_cab").cast(DoubleType) / col("_tBg")) /
        ((col("_ca").cast(DoubleType) / col("_tTok")) *
          (col("_cb").cast(DoubleType) / col("_tTok")))), 6)
    val topW = Window.orderBy(col("pmi").desc, col("bigram"))
    // SHUFFLE_HASH, not a forced broadcast: uni is VOCABULARY-sized
    // (the unigramLmScore cliff, SCALE.md); the min-count-filtered
    // bigram table streams through per-partition vocabulary slices
    bgc
      .join(uni.select(col("_t").as("_a"), col("_c").as("_ca"))
        .hint("shuffle_hash"), "_a")
      .join(uni.select(col("_t").as("_b"), col("_c").as("_cb"))
        .hint("shuffle_hash"), "_b")
      .crossJoin(totals)
      .select(concat(col("_a"), lit(" "), col("_b")).as("bigram"),
        col("_cab").as("n_pairs"), pmi.as("pmi"))
      .withColumn("_rn", row_number().over(topW))
      .filter(col("_rn") <= k)
      .drop("_rn")
  }

  // ------------------------------------------- prefix sum + packing

  /** Token-budget sequence packing: assign each document (in ascending
    * `orderCol` order) to the training-sequence bin where its first
    * token lands, i.e. bin = floor(exclusive-prefix-sum / budget).
    * Returns per-bin stats: (bin_id, n_docs, total_tokens, first_id,
    * last_id). Deterministic — no RNG, no partition-order dependence.
    *
    * Uses [[Scale.prefixSum]], so the only non-parallel step is the
    * cumulative scan over block partials (corpus/blockSize rows).
    */
  def packSequences(df: DataFrame, orderCol: String, tokenCol: Column,
      budget: Long, blockSize: Long = 1L << 12): DataFrame = {
    // prefixSum scans its input twice (block partials + the join);
    // persist the projected (id, tokens) pair — two longs per doc — so
    // the tokenizer runs ONCE over the corpus, not once per consumer.
    val withTok = df.select(col(orderCol), tokenCol.cast(LongType).as("_tok"))
      .transform(graft.Caches.own)
    val cum = Scale.prefixSum(withTok, orderCol, "_tok", "_cum", blockSize)
    cum
      .withColumn("bin_id", floor((col("_cum") - col("_tok")) / budget))
      .groupBy("bin_id")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("_tok")).as("total_tokens"),
        min(col(orderCol)).as("first_id"),
        max(col(orderCol)).as("last_id"))
  }

  // ------------------------------------------------- repetition stats

  /** Gopher-style repetition signals per document, computed
    * relationally (explode + two keyed aggregations — scale-safe)
    * rather than as per-row lambda mode-finding:
    *  - dup_token_ratio: 1 − distinct/total over word tokens;
    *  - top_bigram_ratio: occurrences of the most frequent word bigram
    *    over total bigram count (ties on count don't matter — only the
    *    max count is reported).
    * Documents with fewer than 2 tokens are excluded (no bigram is
    * defined, and a 1-token doc has trivially 0 repetition).
    */
  def repetitionStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // Two consumers (scalar stats + the bigram branch) would each
    // re-run the scan + tokenizer; persist the token arrays once.
    val toks = df.select(col(idCol).as("_id"),
      graft.functions.TextAnalysis.tokens(col(textCol)).as("_toks"))
      .filter(size(col("_toks")) >= 2)
      .transform(graft.Caches.own)
    // total/distinct need no explode: size + array_distinct are native
    // single-pass array functions (codegen'd, no HOF lambda capture).
    // total − 1 is also the bigram count, so only the MAX bigram
    // frequency needs distributed computation.
    val scalarStats = toks.select(col("_id"),
      size(col("_toks")).cast(LongType).as("_total"),
      size(array_distinct(col("_toks"))).cast(LongType).as("_distinct"))
    // Contiguous bigrams via posexplode + lead — the generator's child
    // projection materializes the token array ONCE per row (never
    // re-tokenizes per element, unlike a transform() lambda that
    // captures the token expression).
    val w = Window.partitionBy(col("_id")).orderBy(col("_p"))
    val maxBigram = toks
      .select(col("_id"), posexplode(col("_toks")).as(Seq("_p", "_t")))
      .withColumn("_next", lead(col("_t"), 1).over(w))
      .filter(col("_next").isNotNull)
      .select(col("_id"), concat(col("_t"), lit(" "), col("_next")).as("_g"))
      .groupBy("_id", "_g").agg(count(lit(1)).as("_c"))
      .groupBy("_id").agg(max(col("_c")).as("_maxg"))
    scalarStats.join(maxBigram, "_id")
      .select(col("_id").as(idCol),
        round(lit(1.0) - col("_distinct").cast(DoubleType) / col("_total"), 6)
          .as("dup_token_ratio"),
        round(col("_maxg").cast(DoubleType) / (col("_total") - 1), 6)
          .as("top_bigram_ratio"))
  }

  // ---------------------------------------------- stratified sampling

  /** Deterministic stratified sample: per-group fractions over the
    * same md5-threshold mechanism as [[Filters.hashSample]] (so a
    * group's sample is a SUBSET of any larger-fraction sample — nested
    * samples for curriculum schedules). `rates` maps group value →
    * fraction; groups not listed fall back to `defaultRate`.
    */
  def stratifiedSample(df: DataFrame, keyCol: String, groupCol: String,
      rates: Map[String, Double], defaultRate: Double = 0.0,
      salt: String = ""): DataFrame = {
    val threshold = rates.foldLeft(
      lit(math.round(defaultRate * 1000000))) { case (acc, (g, f)) =>
      when(col(groupCol) === g, lit(math.round(f * 1000000))).otherwise(acc)
    }
    df.filter(
      pmod(graft.functions.TextAnalysis.md5Long(
        concat(col(keyCol).cast(StringType), lit(salt))), lit(1000000L))
        < threshold)
  }

  /** Temperature (α-smoothed) multilingual rebalancing — the XLM-R /
    * mT5 sampling scheme: group shares p_g are smoothed to q_g ∝ p_g^α
    * (α < 1 boosts low-resource groups), which induces per-group keep
    * rates r_g = (q_g / p_g) / max(q_g / p_g) — the largest boost
    * keeps 100%, over-represented groups are downsampled. Each row's
    * keep decision is the deterministic md5 draw from
    * [[stratifiedSample]]'s contract, so the selection is reproducible
    * across runs, partitionings and engines.
    *
    * Shape: one map-side-combined count per group (output = group
    * count), rates derive on the tiny counts frame (a window over
    * groups only), broadcast back, one scan filters. Returns the
    * per-group summary (n_docs, keep_frac, n_kept); `sampled` exposes
    * the surviving rows themselves for pipeline use.
    */
  def temperatureSample(df: DataFrame, keyCol: String, groupCol: String,
      alpha: Double, salt: String = ""): DataFrame = {
    val fracs = temperatureFracs(df, groupCol, alpha)
    val kept = df.join(broadcast(fracs), Seq(groupCol))
      .filter(keepDraw(col(keyCol), salt) < col("_thr"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_kept"))
    // left join FROM fracs: a group whose draw kept zero rows must
    // still report (n_docs, keep_frac, n_kept=0), not vanish
    fracs.join(kept, Seq(groupCol), "left_outer")
      .select(col(groupCol), col("_n").as("n_docs"),
        col("keep_frac"), coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }

  /** The surviving rows of [[temperatureSample]]'s draw. */
  def temperatureSampled(df: DataFrame, keyCol: String, groupCol: String,
      alpha: Double, salt: String = ""): DataFrame = {
    val fracs = temperatureFracs(df, groupCol, alpha)
    df.join(broadcast(fracs.select(col(groupCol), col("_thr"))), Seq(groupCol))
      .filter(keepDraw(col(keyCol), salt) < col("_thr"))
      .drop("_thr")
  }

  /** Per-group token-budget cap: keep the deterministically-ordered
    * PREFIX of each group whose running token total stays within
    * `budget` — the dataset-mix primitive "at most N tokens per
    * source/language" (data recipes quote token budgets, not document
    * counts; cf. the sampling mixes in GPT-3/LLaMA-style corpus
    * construction). Order is md5(id ∥ salt) with an id tie-break, the
    * same engine-reproducible permutation [[Filters.perKeyCap]] uses,
    * so the selected prefix is identical across runs, partitionings
    * and engines. A document is kept iff the cumulative token count
    * UP TO AND INCLUDING it fits the budget: the cap truncates the
    * shuffled corpus at the budget boundary (a pure prefix — no
    * skip-and-refill, which would be a sequential scan no engine can
    * parallelize or reproduce as a plain window).
    *
    * Scale shape: one shuffle on the group key + a per-group ordered
    * cumulative-sum window. Groups are sources/languages — tens to
    * thousands of partitions, each processed in parallel; the window
    * never crosses groups, and nothing aggregates to the driver.
    * Returns the kept rows plus `n_tokens` and `cum_tokens`.
    */
  def tokenBudgetCap(df: DataFrame, idCol: String, groupCol: String,
      tokenCol: Column, budget: Long, salt: String = ""): DataFrame = {
    require(budget > 0, s"tokenBudgetCap: budget must be positive: $budget")
    val w = Window.partitionBy(col(groupCol))
      .orderBy(md5(concat(col(idCol).cast(StringType), lit(salt))),
        col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("n_tokens", tokenCol.cast(LongType))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") <= budget)
  }

  private def keepDraw(key: Column, salt: String): Column =
    pmod(graft.functions.TextAnalysis.md5Long(
      concat(key.cast(StringType), lit(salt))), lit(1000000L))

  /** Distinct-n lexical diversity per group: unique n-grams over total
    * n-grams for n = 1, 2 — the corpus-health / generation-diversity
    * metric (low distinct-2 flags templated or repetitive text).
    * Bigrams never cross document boundaries (per-doc posexplode +
    * lead, the q84 PMI shape). Two histogram aggregations whose
    * output is bounded by the vocabulary, not the corpus.
    */
  def distinctNgramRatios(df: DataFrame, idCol: String, textCol: String,
      groupCol: String): DataFrame = {
    val toks = df.select(col(groupCol).as("_g"), col(idCol).as("_id"),
        graft.functions.TextAnalysis.tokens(
          coalesce(col(textCol), lit(""))).as("_tk"))
      .transform(graft.Caches.own)
    val uni = toks.select(col("_g"), explode(col("_tk")).as("_t"))
      .groupBy("_g")
      .agg(count(lit(1)).as("n_tokens"),
        countDistinct(col("_t")).as("distinct_1"))
    val bg = bigramsFromToks(toks, extraCols = Seq("_g"))
      .select(col("_g"), concat(col("_a"), lit(" "), col("_b")).as("_bg"))
      .groupBy("_g")
      .agg(count(lit(1)).as("n_bigrams"),
        countDistinct(col("_bg")).as("distinct_2"))
    uni.join(bg, Seq("_g"), "left_outer")
      .select(col("_g").as(groupCol), col("n_tokens"), col("distinct_1"),
        round(col("distinct_1").cast(DoubleType) / col("n_tokens"), 6)
          .as("ratio_1"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("distinct_2"), lit(0L)).as("distinct_2"),
        when(col("n_bigrams").isNull, lit(null).cast(DoubleType))
          .otherwise(round(col("distinct_2").cast(DoubleType) /
            col("n_bigrams"), 6)).as("ratio_2"))
  }

  /** Zipf rank-frequency slope per group: least-squares fit of
    * ln(freq) against ln(rank) over the min-count vocabulary, returned
    * as the positive Zipf exponent s (natural text ≈ 1; far-off values
    * flag synthetic/templated or truncated corpora — a one-number
    * corpus-health signal).
    *
    * The ranking window runs over the VOCABULARY (bounded by distinct
    * terms, like q72's term-id assignment), and the fit reduces to the
    * same exact-decimal moment sums as [[Stats.correlation]]: ln
    * values round to 6dp, accumulate as DECIMAL(18,6), and the slope
    * evaluates once in double with a fixed operand order — the DuckDB
    * oracle matches bit-for-bit.
    */
  def zipfSlope(df: DataFrame, idCol: String, textCol: String,
      groupCol: String, minCount: Long = 2L): DataFrame = {
    val mdec = DecimalType(18, 6)
    val vocab = df.select(col(groupCol).as("_g"),
        explode(graft.functions.TextAnalysis.tokens(
          coalesce(col(textCol), lit("")))).as("_t"))
      .groupBy(col("_g"), col("_t")).agg(count(lit(1)).as("_c"))
      .filter(col("_c") >= minCount)
    val w = Window.partitionBy(col("_g")).orderBy(col("_c").desc, col("_t"))
    val pts = vocab.withColumn("_r", row_number().over(w))
      .select(col("_g"),
        round(log(col("_r")), 6).cast(mdec).as("_x"),
        round(log(col("_c")), 6).cast(mdec).as("_y"))
    // moment sums round to 4dp before the double cast (2^53
    // decimal→double cross-engine hazard — see Stats.correlation)
    val m = pts.groupBy(col("_g"))
      .agg(count(lit(1)).as("_n"),
        round(sum(col("_x")), 4).cast(DoubleType).as("_sx"),
        round(sum(col("_y")), 4).cast(DoubleType).as("_sy"),
        round(sum(col("_x") * col("_y")), 4).cast(DoubleType).as("_sxy"),
        round(sum(col("_x") * col("_x")), 4).cast(DoubleType).as("_sxx"))
    val n = col("_n").cast(DoubleType)
    val den = n * col("_sxx") - col("_sx") * col("_sx")
    m.select(col("_g").as(groupCol), col("_n").as("n_terms"),
      when(den > 0,
        round(-(n * col("_sxy") - col("_sx") * col("_sy")) / den, 6))
        .otherwise(lit(null).cast(DoubleType)).as("zipf_s"))
  }

  /** Source-mixing weights — the importance-weight form of corpus
    * mixture rebalancing (the knob DoReMi, arXiv:2305.10429, optimizes;
    * here the direct target/actual form every mixture table uses): each
    * source's TOKEN share of the corpus is compared against a target
    * mixture and assigned the resampling weight target_share /
    * token_share. Weight > 1 marks a source to upsample (repeat
    * epochs), < 1 to downsample. The target defaults to uniform over
    * observed sources; an explicit target map is renormalized over the
    * sources actually present so the emitted target shares always form
    * a proper mixture. Sources ABSENT from an explicit target map get
    * target weight 0 — target_share 0 and mix_weight 0, which
    * [[sourceMixResampled]] then drops entirely (by design: the target
    * IS the mixture). If the target covers none of the present sources
    * at all, every target_share renormalizes to 0 rather than null and
    * the resampled corpus is empty — an all-zero / no-positive-weight
    * target map is rejected up front. Complements [[temperatureSample]], which
    * rebalances by DOC counts through a fixed α curve rather than an
    * arbitrary token-level target.
    *
    * Shape: token counting is one map-side-combined aggregation over
    * the corpus scan (output = one row per source); shares and weights
    * derive on that tiny frame via group-table windows — no second
    * corpus pass, no driver action. A downstream sampler joins the
    * weight table back broadcast.
    */
  def sourceMixWeights(df: DataFrame, sourceCol: String, textCol: String,
      target: Map[String, Double] = Map.empty): DataFrame = {
    require(target.values.forall(_ >= 0), "target weights must be >= 0")
    require(target.isEmpty || target.values.exists(_ > 0),
      "an explicit target map must assign positive weight to at least one source")
    val counts = df.groupBy(col(sourceCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(graft.functions.TextAnalysis.tokenCount(
          coalesce(col(textCol), lit(""))).cast(LongType)).as("n_tokens"))
    val all = Window.partitionBy()
    val tExpr =
      if (target.isEmpty) lit(1.0)
      else target.foldLeft(lit(0.0)) { case (acc, (s, w)) =>
        when(col(sourceCol) === s, lit(w)).otherwise(acc)
      }
    counts
      .withColumn("_t", tExpr)
      .withColumn("_share", col("n_tokens").cast(DoubleType) /
        sum(col("n_tokens")).over(all).cast(DoubleType))
      // a target covering NO present source renormalizes over a zero
      // sum: emit explicit 0s (drop-everything, honestly labeled), not
      // a null cascade
      .withColumn("_tshare",
        when(sum(col("_t")).over(all) > 0,
          col("_t") / sum(col("_t")).over(all)).otherwise(lit(0.0)))
      .select(col(sourceCol), col("n_docs"), col("n_tokens"),
        round(col("_share"), 6).as("token_share"),
        round(col("_tshare"), 6).as("target_share"),
        when(col("_share") > 0, round(col("_tshare") / col("_share"), 6))
          .otherwise(lit(null).cast(DoubleType)).as("mix_weight"))
  }

  /** Apply [[sourceMixWeights]]: emit each row `floor(w)` times plus
    * one more when its deterministic md5 draw falls under the
    * fractional part — so a source with weight 2.3 contributes every
    * doc twice and ~30% of docs a third time, and expected token
    * shares match the target mixture. The draw reuses
    * [[stratifiedSample]]'s keyed md5 contract (reproducible across
    * runs, partitionings and engines); the emitted `epoch` column
    * (0-based repeat index) keeps output rows distinct for downstream
    * keying. Weights join back broadcast (sources-sized table); the
    * repeat is a row-local `explode(sequence(...))` — no shuffle of
    * the corpus beyond the weight lookup.
    */
  def sourceMixResampled(df: DataFrame, keyCol: String, sourceCol: String,
      textCol: String, target: Map[String, Double] = Map.empty,
      salt: String = ""): DataFrame = {
    val weights = sourceMixWeights(df, sourceCol, textCol, target)
      .select(col(sourceCol), coalesce(col("mix_weight"), lit(0.0)).as("_w"))
    val base = floor(col("_w")).cast(LongType)
    val fracThr = round((col("_w") - floor(col("_w"))) * 1000000).cast(LongType)
    df.join(broadcast(weights), Seq(sourceCol))
      .withColumn("_n", base +
        when(keepDraw(col(keyCol), salt) < fracThr, 1L).otherwise(0L))
      .filter(col("_n") > 0)
      .withColumn("epoch", explode(sequence(lit(0L), col("_n") - 1)))
      .drop("_w", "_n")
  }

  // ------------------------------------------------------ BPE training

  /** Corpus word histogram for tokenizer training: one distributed
    * pass (tokenize → explode → groupBy word), then the standard
    * vocabulary bounds — `minCount` drops the hapax tail, `maxWords`
    * keeps the top-N by (count desc, word asc) so the result is
    * deterministic. The histogram is VOCABULARY-sized, not
    * corpus-sized: this is the frame BPE training actually consumes
    * (byte-pair merge learning is a word-frequency algorithm — the
    * corpus contributes only counts).
    */
  /** [[bpeTrain]]'s driver-histogram bound: top 2^20 words by count.
    * The memory contract: the collect is ≤ maxWords (word, count)
    * pairs — at the default and typical word lengths ~50 MB of driver
    * heap, invariant in corpus size.
    */
  val DefaultBpeMaxWords: Int = 1 << 20

  def bpeWordHistogram(df: DataFrame, textCol: String,
      minCount: Long = 1L, maxWords: Int = 0): DataFrame = {
    val hist = df
      .select(explode(graft.functions.TextAnalysis.tokens(col(textCol)))
        .as("word"))
      .groupBy("word").agg(count(lit(1)).as("wcount"))
      .filter(col("wcount") >= minCount)
    if (maxWords <= 0) hist
    else hist.orderBy(col("wcount").desc, col("word")).limit(maxWords)
  }

  /** Learned BPE merge table: `numMerges` byte-pair merges trained on
    * the corpus word histogram (Sennrich-style, no end-of-word
    * marker). Returns (rank, left, right, merged, pair_count) — rank 1
    * is the first merge learned; `pair_count` is the corpus-weighted
    * adjacent-position count that won the round (overlapping positions
    * counted naively, the classic `get_stats` semantics). Ties break
    * deterministically by (count desc, left asc, right asc).
    *
    * Scale shape: the DISTRIBUTED part is the corpus pass inside
    * [[bpeWordHistogram]]; the merge loop itself runs on the driver
    * over the vocabulary-bounded histogram — the same driver-bounded
    * pattern as the union-find tail of near-dup clustering, because
    * BPE training is inherently a histogram algorithm (every public
    * implementation trains on word frequencies, not raw text). The
    * driver frame is ALWAYS bounded: `maxWords` defaults to
    * [[DefaultBpeMaxWords]] (top 2^20 words by count, ~50 MB of
    * driver heap worst-case) and a non-positive value is rejected —
    * on web-scale text the distinct-"word" count is O(100M+) of
    * typo/numeral/URL junk and an uncapped collect() is a driver OOM;
    * the junk tail carries no merge signal (every practical BPE
    * trainer caps the histogram). Tighten further with
    * `minCount`/`maxWords`; the loop costs O(vocab · word_len) per
    * merge.
    *
    * Segmentations are tracked as `(t1)(t2)…` delimited strings and a
    * merge is applied with a LITERAL replace of `(L)(R)` by `(LR)` —
    * wrapping every symbol in its own parens makes adjacent matches
    * non-overlapping, so replace-all ≡ the greedy left-to-right merge
    * and the exact same semantics reproduce in any engine's plain
    * `replace()` (the DuckDB oracle mirrors the whole loop unrolled).
    */
  def bpeTrain(df: DataFrame, textCol: String, numMerges: Int,
      minCount: Long = 1L, maxWords: Int = DefaultBpeMaxWords): DataFrame = {
    require(numMerges > 0, s"numMerges must be positive: $numMerges")
    require(maxWords > 0,
      s"bpeTrain: maxWords must be positive (got $maxWords) — the merge " +
        "loop collects the word histogram to the driver, and a web-scale " +
        "corpus has O(100M+) distinct 'words' (typos, numerals, URL " +
        "fragments): uncapped, that collect() is a driver OOM. Every " +
        "practical BPE trainer trains on a frequency-capped histogram; " +
        s"the default keeps the top $DefaultBpeMaxWords by count")
    val spark = df.sparkSession
    val hist: Array[(String, Long)] =
      bpeWordHistogram(df, textCol, minCount, maxWords)
        .collect().map(r => (r.getString(0), r.getLong(1)))
    // seg strings: every current symbol wrapped in parens
    var segs: Array[(String, Long)] =
      hist.map { case (w, c) => (w.replaceAll("(.)", "($1)"), c) }
    val TokenRe = "\\(([a-z0-9]+)\\)".r
    val merges = Seq.newBuilder[(Int, String, String, String, Long)]
    var rank = 1
    var exhausted = false
    while (rank <= numMerges && !exhausted) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      segs.foreach { case (seg, c) =>
        val toks = TokenRe.findAllMatchIn(seg).map(_.group(1)).toArray
        var i = 0
        while (i < toks.length - 1) {
          val k = (toks(i), toks(i + 1))
          counts(k) = counts.getOrElse(k, 0L) + c
          i += 1
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        val ((l, r), c) = counts.minBy { case ((l, r), c) => (-c, l, r) }
        merges += ((rank, l, r, l + r, c))
        segs = segs.map { case (seg, wc) =>
          (seg.replace(s"($l)($r)", s"(${l + r})"), wc)
        }
        rank += 1
      }
    }
    import spark.implicits._
    merges.result().toDF("rank", "left", "right", "merged", "pair_count")
      .select(col("rank").cast(LongType), col("left"), col("right"),
        col("merged"), col("pair_count"))
  }

  /** Apply a learned merge list to a word column: returns the final
    * symbol array. Built as a CHAIN of literal `replace`s over the
    * paren-delimited segmentation — pure codegen'd builtins, no UDF,
    * mirrorable in external SQL. The chain length equals the merge
    * count, so this form suits bounded merge lists (hundreds); a
    * production 32k-merge tokenizer would compile the merge table into
    * a native expression instead.
    */
  def bpeSegmentCol(word: Column, merges: Seq[(String, String)]): Column = {
    val seg0 = regexp_replace(word, "(.)", "($1)")
    val segN = merges.foldLeft(seg0) { case (c, (l, r)) =>
      replace(c, lit(s"($l)($r)"), lit(s"(${l + r})"))
    }
    regexp_extract_all(segN, lit("\\(([a-z0-9]+)\\)"), lit(1))
  }

  /** [[bpeSegmentCol]]'s PRODUCTION form: the merge table compiles
    * into ONE native expression ([[graft.expr.BpeEncode]] — a
    * broadcast rank table + the classic lowest-rank-first loop)
    * instead of one Catalyst `replace` node per merge, so per-word
    * cost is independent of vocabulary size and a 32k-merge tokenizer
    * is actually expressible. Identical output to the chain for any
    * trained (well-ordered) merge list — CorpusSpec pins the
    * equivalence and the q134 family's oracle (which replays the
    * CHAIN in SQL) re-checks it against real corpora per round.
    */
  def bpeEncodeCol(word: Column, merges: Seq[(String, String)]): Column =
    call_function(graft.expr.BpeEncode.FunctionName, word,
      lit(merges.map { case (l, r) => s"$l $r" }.toArray))

  /** HTML boilerplate removal by BLOCK-LEVEL LINK DENSITY — the
    * page-structure signal the cross-doc segment dedup
    * ([[removeDuplicatedSegments]]) cannot see: navigation bars,
    * footers and related-links rails are link-dominated and short,
    * while body prose is long and link-sparse. The classic
    * jusText/Boilerpipe heuristic reduced to its relational core:
    *
    *  1. split the HTML on block-level boundaries (closing
    *     p/div/li/td/h1-6/article/section tags and `<br>`) — a plain
    *     `split`, deliberately NOT a DOM parse (crawl HTML is
    *     malformed; the regexp split degrades gracefully);
    *  2. per block: visible text via the shared
    *     [[graft.functions.HtmlToText]] chain, anchor text via
    *     `regexp_extract_all` of `<a>…</a>` bodies pushed through the
    *     same chain;
    *  3. KEEP a block iff its text length ≥ `minChars` AND
    *     anchorLen·100 ≤ textLen·maxLinkPct — the link-density
    *     test as an integer cross-multiplication, so the oracle
    *     replays it with no floating-point boundary hazard;
    *  4. reassemble kept blocks in document order.
    *
    * Returns (id, [passengers,] clean_text, n_blocks, n_kept);
    * documents whose every block drops keep an EMPTY clean_text row
    * (the caller decides whether an all-boilerplate page survives).
    * `passengers` names NARROW per-document columns (url, charset…)
    * carried through the explode and reassembled with `first` —
    * when the input rows come from an expensive decode (a WARC walk),
    * this keeps the pipeline ONE plan instead of a join back to a
    * second decode pass (measured: the q174 composition decoded every
    * archive twice through the join form — see SCALE.md round 12).
    * Wide payload columns should still use the join form: a passenger
    * is duplicated once per block in the explode shuffle. Scale
    * shape: one posexplode + one groupBy(id) — the only shuffle is
    * keyed by document id (no skew: blocks per doc are bounded by the
    * page size), everything per-block is codegen'd regexp work that
    * fuses into the scan.
    */
  def removeHtmlBoilerplate(df: DataFrame, idCol: String, htmlCol: String,
      minChars: Int = 30, maxLinkPct: Int = 40,
      passengers: Seq[String] = Nil): DataFrame = {
    require(minChars >= 0, s"minChars must be >= 0: $minChars")
    require(maxLinkPct >= 0 && maxLinkPct <= 100,
      s"maxLinkPct must be a percentage: $maxLinkPct")
    val blockSep = "(?i)</(?:p|div|li|td|h[1-6]|article|section)>|<br[^>]*>"
    val pcols = passengers.map(col)
    val blocks = df.select(col(idCol) +: pcols :+
        posexplode(split(coalesce(col(htmlCol), lit("")), blockSep))
          .as(Seq("_pos", "_blk")): _*)
    val btext = graft.functions.HtmlToText.htmlToText(col("_blk"))
    val anchorText = graft.functions.HtmlToText.htmlToText(
      array_join(regexp_extract_all(col("_blk"),
        lit("(?is)<a[^>]*>(.*?)</a>"), lit(1)), " "))
    val feat = blocks.select(col(idCol) +: pcols ++: Seq(col("_pos"),
        btext.as("_t"), length(btext).as("_len"),
        length(anchorText).as("_alen")): _*)
      .withColumn("_keep", col("_len") >= minChars &&
        col("_alen") * 100 <= col("_len") * maxLinkPct)
    val aggs = passengers.map(p => first(col(p)).as(p)) ++ Seq(
      concat_ws(" ", transform(
        array_sort(collect_list(when(col("_keep"),
          struct(col("_pos"), col("_t"))))),
        x => x.getField("_t"))).as("clean_text"),
      count(lit(1)).as("n_blocks"),
      sum(when(col("_keep"), 1L).otherwise(0L)).as("n_kept"))
    feat.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
  }

  private def temperatureFracs(df: DataFrame, groupCol: String,
      alpha: Double): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1]: $alpha")
    val counts = df.groupBy(col(groupCol)).agg(count(lit(1)).as("_n"))
    val total = Window.partitionBy()
    // r0_g = (n_g/N)^α / (n_g/N); keep_frac = r0_g / max(r0_g). The
    // windows run over the GROUP COUNT table (a handful of rows), not
    // the data — a driver-free global normalization.
    counts
      .withColumn("_p", col("_n").cast(DoubleType) /
        sum(col("_n")).over(total).cast(DoubleType))
      .withColumn("_r0", pow(col("_p"), lit(alpha)) / col("_p"))
      .withColumn("keep_frac",
        round(col("_r0") / max(col("_r0")).over(total), 6))
      .withColumn("_thr", round(col("keep_frac") * 1000000).cast(LongType))
      .select(col(groupCol), col("_n"), col("keep_frac"), col("_thr"))
  }
}
