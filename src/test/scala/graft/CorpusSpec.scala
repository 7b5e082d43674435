package graft

import graft.operators.{Corpus, Scale}
import org.apache.spark.sql.functions._

/** Corpus-curation operators: decontamination, prefix-sum packing,
  * repetition signals, stratified sampling.
  */
class CorpusSpec extends SparkSpec {
  import spark.implicits._

  private val corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "completely different text with no overlap here at all"),
    (3L, "quick brown fox phrases appear in this one too"),
    (4L, "spam spam spam spam spam spam")
  ).toDF("doc_id", "text")

  private val bench = Seq(
    (100L, "a quick brown fox story"),
    (101L, "unrelated benchmark prompt")
  ).toDF("doc_id", "text")

  test("dedupSegmentsWithinDoc keeps first occurrences in order") {
    val df = Seq(
      (1L, "menu. intro. MENU. body. intro. end"), // case-insensitive dups
      (2L, ""), // empty doc
      (3L, "unique one. unique two")
    ).toDF("doc_id", "text")
    val out = Corpus.dedupSegmentsWithinDoc(df, "doc_id", "text",
        sepRegex = "\\.", sepOut = ".")
      .orderBy("doc_id")
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(out == Seq(
      // first occurrence's RAW text survives (leading space intact),
      // later case/ws variants drop
      (1L, "menu. intro. body. end", 6L, 2L),
      (2L, "", 0L, 0L),
      (3L, "unique one. unique two", 2L, 0L)))
  }

  test("trainingShards: dense ranks, deterministic, salt reshuffles") {
    val df = spark.range(200).toDF("doc_id")
    val a = Corpus.trainingShards(df, "doc_id", numShards = 4)
      .as[(Long, Long, Long)].collect().toSeq.sorted
    // every row lands exactly once; ranks are dense 1..n per shard
    assert(a.map(_._1).distinct.size == 200)
    a.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted == (1L to rows.size).toSeq)
    }
    // deterministic across invocations
    val b = Corpus.trainingShards(df, "doc_id", numShards = 4)
      .as[(Long, Long, Long)].collect().toSeq.sorted
    assert(a == b)
    // a different salt is a different shuffle
    val c = Corpus.trainingShards(df, "doc_id", numShards = 4, salt = "epoch2")
      .as[(Long, Long, Long)].collect().toSeq.sorted
    assert(a != c)
  }

  test("bpeTrain reproduces the classic hand-computed merge sequence") {
    // Sennrich's textbook corpus (no end-of-word marker):
    // low×5, lower×2, newest×6, widest×3
    val df = Seq(
      (1L, Seq.fill(5)("low").mkString(" ")),
      (2L, Seq.fill(2)("lower").mkString(" ")),
      (3L, Seq.fill(6)("newest").mkString(" ")),
      (4L, Seq.fill(3)("widest").mkString(" "))
    ).toDF("doc_id", "text")
    val merges = Corpus.bpeTrain(df, "text", numMerges = 4)
      .orderBy("rank")
      .as[(Long, String, String, String, Long)].collect().toSeq
    // hand-derived: (e,s)=9 ties (s,t)=9 → lexicographic; then (es,t)=9;
    // then (l,o)=7 ties (o,w)=7; then (lo,w)=7
    assert(merges == Seq(
      (1L, "e", "s", "es", 9L),
      (2L, "es", "t", "est", 9L),
      (3L, "l", "o", "lo", 7L),
      (4L, "lo", "w", "low", 7L)))
    // apply path: the learned merges segment an UNSEEN word correctly
    val seg = Seq("lowest").toDF("word")
      .select(Corpus.bpeSegmentCol(col("word"),
        merges.map(m => (m._2, m._3))).as("sym"))
      .as[Seq[String]].head()
    assert(seg == Seq("low", "est"))
  }

  test("bpe merge application is greedy left-to-right on overlapping pairs") {
    // "aaa"×2: pair (a,a) occupies positions 0-1 and 1-2 → naive count
    // 4, but applying merges only the leftmost → (aa)(a)
    val df = Seq((1L, "aaa aaa")).toDF("doc_id", "text")
    val merges = Corpus.bpeTrain(df, "text", numMerges = 2)
      .orderBy("rank")
      .as[(Long, String, String, String, Long)].collect().toSeq
    assert(merges == Seq((1L, "a", "a", "aa", 4L), (2L, "aa", "a", "aaa", 2L)))
    val seg = Seq("aaaa").toDF("word")
      .select(Corpus.bpeSegmentCol(col("word"),
        merges.map(m => (m._2, m._3))).as("sym"))
      .as[Seq[String]].head()
    // greedy: (a)(a)(a)(a) → (aa)(aa) → "(aa,a)" merge matches the
    // leftmost (aa)(aa)? no — (aa)(aa) has pair (aa,aa), not (aa,a)
    assert(seg == Seq("aa", "aa"))
  }

  test("native graft_bpe_encode equals the replace chain on trained tables") {
    // the two algorithms differ in shape (rank-order exhaustive
    // replaces vs lowest-rank-first loop) but must agree on any
    // trained — well-ordered — merge list; this pins the contract the
    // q134 oracle (which replays the CHAIN in SQL) re-checks per round
    val corpus = Seq(
      (1L, Seq.fill(5)("low").mkString(" ")),
      (2L, Seq.fill(2)("lower").mkString(" ")),
      (3L, Seq.fill(6)("newest").mkString(" ")),
      (4L, Seq.fill(3)("widest").mkString(" ")),
      (5L, "aaa aaa abab abab banana bandana")
    ).toDF("doc_id", "text")
    val merges = Corpus.bpeTrain(corpus, "text", numMerges = 12)
      .orderBy("rank")
      .as[(Long, String, String, String, Long)].collect().toSeq
      .map(m => (m._2, m._3))
    val words = Seq("lowest", "aaaa", "banana", "newestest", "xyz",
      "bandanana", "wid", "a", "").toDF("word")
    val both = words.select(col("word"),
        Corpus.bpeSegmentCol(col("word"), merges).as("chain"),
        Corpus.bpeEncodeCol(col("word"), merges).as("native"))
      .as[(String, Seq[String], Seq[String])].collect()
    both.foreach { case (w, chain, native) =>
      assert(chain == native, s"'$w': chain=$chain native=$native")
    }
    // vocabulary-scale feasibility: a 3000-merge table is ONE
    // expression node (the chain form would be 3000 Catalyst nodes);
    // encode runs and respects the table
    val big = (0 until 3000).map { i =>
      if (i == 0) ("q", "r") else (s"q${"r" * (i - 1)}", "r") // qr, qrr…
    }
    val bigSeg = Seq("q" + "r" * 40 + "s").toDF("word")
      .select(Corpus.bpeEncodeCol(col("word"), big).as("sym"))
      .as[Seq[String]].head()
    assert(bigSeg == Seq("q" + "r" * 40, "s"), bigSeg)
    // NULL word → NULL
    assert(Seq[Option[String]](None).toDF("word")
      .select(Corpus.bpeEncodeCol(col("word"), merges)).head().isNullAt(0))
  }

  test("bpeWordHistogram bounds: minCount drops tail, maxWords caps deterministically") {
    val df = Seq((1L, "alpha alpha alpha beta beta gamma")).toDF("doc_id", "text")
    val h1 = Corpus.bpeWordHistogram(df, "text", minCount = 2)
      .as[(String, Long)].collect().toMap
    assert(h1 == Map("alpha" -> 3L, "beta" -> 2L))
    val h2 = Corpus.bpeWordHistogram(df, "text", maxWords = 2)
      .as[(String, Long)].collect().toMap
    assert(h2 == Map("alpha" -> 3L, "beta" -> 2L))
  }

  test("bpeTrain's driver histogram is capped by default; uncapped rejected") {
    val df = Seq((1L, "lower lowest newer newest")).toDF("doc_id", "text")
    // the default cap (2^20) is far above any test vocabulary, so
    // results are identical to an explicit generous cap
    val a = Corpus.bpeTrain(df, "text", numMerges = 3)
      .as[(Long, String, String, String, Long)].collect().toSeq
    val b = Corpus.bpeTrain(df, "text", numMerges = 3, maxWords = 1 << 20)
      .as[(Long, String, String, String, Long)].collect().toSeq
    assert(a == b && a.size == 3)
    // an explicit uncapped request fails loudly — the only unbounded
    // driver collect() the tree ever had, now a contract violation
    val e = intercept[IllegalArgumentException] {
      Corpus.bpeTrain(df, "text", numMerges = 1, maxWords = 0)
    }
    assert(e.getMessage.contains("maxWords"))
  }

  test("contaminationReport finds shared shingles, decontaminate removes them") {
    val report = Corpus.contaminationReport(corpus, bench, "doc_id", "text", n = 3)
      .as[(Long, Long)].collect().toMap
    // docs 1 and 3 share the 3-gram "quick brown fox" with bench doc 100
    assert(report.keySet == Set(1L, 3L))
    assert(report(1L) >= 1L && report(3L) >= 1L)
    val clean = Corpus.decontaminate(corpus, bench, "doc_id", "text", n = 3)
      .select("doc_id").as[Long].collect().toSet
    assert(clean == Set(2L, 4L))
  }

  test("removeDuplicatedSpans: shared >=k-token runs vanish, short overlaps survive") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon unique one tail here"),
      (2L, "prefix alpha beta gamma delta epsilon suffix words"),
      (3L, "alpha beta distinct middle content entirely"), // 2-token overlap < k
      (4L, "") // empty doc
    ).toDF("doc_id", "text")
    val out = Corpus.removeDuplicatedSpans(docs, "doc_id", "text", k = 5)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    // the 5-token run is shared by docs 1+2 → removed from BOTH; the
    // tokens around it survive in order
    assert(out(1L) == (("unique one tail here", 9L, 5L)))
    assert(out(2L) == (("prefix suffix words", 8L, 5L)))
    // doc 3 shares only a 2-token prefix (< k) → untouched
    assert(out(3L) == (("alpha beta distinct middle content entirely", 6L, 0L)))
    assert(out(4L) == (("", 0L, 0L)))
    Caches.release(spark)
  }

  test("removeDuplicatedSpans matches a brute-force coverage model (property)") {
    // small vocabulary => cross-doc k-gram collisions are plentiful
    val vocab = Vector("a", "b", "c", "d", "e", "f")
    val rng = new scala.util.Random(99)
    val k = 3
    val rows = (1L to 30L).map { i =>
      (i, Seq.fill(3 + rng.nextInt(15))(vocab(rng.nextInt(vocab.size)))
        .mkString(" "))
    }
    // reference: gram -> distinct-doc count; token covered iff a hot
    // gram starts within the k-1 positions before it
    val toks = rows.map { case (id, t) => id -> t.split(" ").toSeq }.toMap
    val docFreq = toks.values
      .flatMap(ts => ts.sliding(k).filter(_.size == k).map(_.mkString(" ")).toSet)
      .groupBy(identity).view.mapValues(_.size).toMap
    val expected = rows.map { case (id, _) =>
      val ts = toks(id)
      val hotStarts = (0 to ts.size - k).filter(s =>
        docFreq(ts.slice(s, s + k).mkString(" ")) > 1).toSet
      val covered = ts.indices.filter(t =>
        (math.max(0, t - k + 1) to t).exists(hotStarts)).toSet
      val clean = ts.indices.filterNot(covered).map(ts).mkString(" ")
      id -> ((clean, ts.size.toLong, covered.size.toLong))
    }.toMap
    val got = Corpus.removeDuplicatedSpans(rows.toDF("doc_id", "text"),
        "doc_id", "text", k = k)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == expected)
    Caches.release(spark)
  }

  test("removeDuplicatedSegments drops cross-doc boilerplate, keeps order") {
    val docs = Seq(
      (1L, "unique intro. all rights reserved. body one. visit our site."),
      (2L, "all rights reserved. body two. visit our site."),
      (3L, "standalone doc with nothing shared."),
      (4L, "") // empty: zero segments
    ).toDF("doc_id", "text")
    val out = Corpus.removeDuplicatedSegments(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    // boilerplate ('all rights reserved', 'visit our site') removed from
    // BOTH docs; unique segments survive in original order with original
    // spacing; counts reconcile
    assert(out(1L) == (("unique intro. body one", 4L, 2L)))
    assert(out(2L) == ((" body two", 3L, 2L)))
    assert(out(3L) == (("standalone doc with nothing shared", 1L, 0L)))
    assert(out(4L) == (("", 0L, 0L)))
    // normalization: case/whitespace variants of a segment still match
    val fuzz = Seq(
      (1L, "All  Rights   Reserved. own text."),
      (2L, "all rights reserved. other text.")
    ).toDF("doc_id", "text")
    val fz = Corpus.removeDuplicatedSegments(fuzz, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fz(1L) == " own text" && fz(2L) == " other text")
    Caches.release(spark)
  }

  test("contamination plan broadcasts the benchmark side") {
    val plan = Corpus.contaminationReport(corpus, bench, "doc_id", "text", 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"benchmark side should broadcast:\n$plan")
  }

  test("prefixSum matches single-partition window cumsum across blocks") {
    val df = (0L until 100L).map(i => (i, i % 7)).toDF("id", "v")
    val got = Scale.prefixSum(df, "id", "v", "cum", blockSize = 8)
      .orderBy("id").select("cum").as[Long].collect()
    val exp = (0L until 100L).map(_ % 7).scanLeft(0L)(_ + _).tail
    assert(got.toSeq == exp)
  }

  test("packSequences: bins are contiguous, sizes near budget, all docs kept") {
    val df = (0L until 50L).map(i => (i, s"doc $i " + ("tok " * (i % 13).toInt)))
      .toDF("doc_id", "text")
    val bins = Corpus.packSequences(df, "doc_id",
        graft.functions.TextAnalysis.tokenCount(col("text")), budget = 20)
      .orderBy("bin_id")
      .select("bin_id", "n_docs", "total_tokens", "first_id", "last_id")
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(bins.map(_._2).sum == 50L) // every doc packed exactly once
    // contiguity: each bin's id range ends where the next begins
    bins.sliding(2).foreach {
      case Array(a, b) => assert(a._5 + 1 == b._4)
      case _ => ()
    }
    // a doc STARTS in its bin, so a bin holds < budget + its last doc's
    // tokens; with max doc size 13*2+2 tokens the bound is budget + 28
    assert(bins.forall(_._3 <= 20 + 28))
  }

  test("repetitionStats: high repetition scores high, unique text scores 0") {
    val df = Seq(
      (1L, "spam spam spam spam"),          // all-dup tokens, one bigram
      (2L, "alpha beta gamma delta"),       // no repetition
      (3L, "x")                             // < 2 tokens → excluded
    ).toDF("doc_id", "text")
    val m = Corpus.repetitionStats(df, "doc_id", "text")
      .as[(Long, Double, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(m.keySet == Set(1L, 2L))
    assert(m(1L) == (0.75, 1.0))   // 1 distinct / 4 total; "spam spam" = 3/3
    assert(m(2L) == (0.0, 0.333333)) // unique toks; bigram 1 of 3, round 6dp
  }

  test("winnow: shared substring of length >= k+w-1 shares a fingerprint") {
    Graft.tune(spark)
    val k = 8; val w = 4
    val common = "anuncommonsharedfragmentxyz" // len 27 >= k+w-1 = 11
    val df = Seq(
      (1L, s"first document body $common and then some tail"),
      (2L, s"totally different head $common closing words"),
      (3L, "nothing in common with the others at all here")
    ).toDF("doc_id", "text")
    val fps = df.select($"doc_id",
        explode(call_function(graft.expr.WinnowFingerprints.FunctionName,
          $"text", lit(k), lit(w))).as("fp"))
      .as[(Long, Long)].collect().groupBy(_._1).map { case (d, xs) =>
        d -> xs.map(_._2).toSet }
    assert((fps(1L) intersect fps(2L)).nonEmpty)
    // density guarantee: selected ≈ 2/(w+1) of grams, never zero for
    // docs with >= k normalized chars
    assert(fps(3L).nonEmpty)
    // short doc (< k chars after normalization) → empty, not error
    val short = Seq((9L, "tiny!")).toDF("doc_id", "text")
      .select(call_function(graft.expr.WinnowFingerprints.FunctionName,
        $"text", lit(k), lit(w)).as("fps"))
      .as[Seq[Long]].head()
    assert(short.isEmpty)
  }

  test("winnowPairs surfaces the near-dup pair; cap only removes hot fps") {
    Graft.tune(spark)
    val body = "the training corpus deduplication pipeline runs nightly " +
      "over every shard and reports fingerprint collisions"
    val df = Seq(
      (1L, body),
      (2L, body + " with one trailing edit"), // near-dup of 1
      (3L, "entirely unrelated content about cooking pasta al dente")
    ).toDF("doc_id", "text")
    val pairs = graft.operators.Dedup.winnowPairs(df, "doc_id", "text",
        k = 8, w = 4, minShared = 5)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
    // a generous cap keeps the same pairs (no fp is in >2 docs here)
    val capped = graft.operators.Dedup.winnowPairs(df, "doc_id", "text",
        k = 8, w = 4, minShared = 5, maxDocFreq = 10)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(capped == pairs)
  }

  test("bpeTokenCount segments contractions, words, digits, punct, space runs") {
    val got = Seq("I'll pay $42.50 now").toDF("t")
      .select(graft.functions.TextAnalysis.bpeTokenCount($"t")).as[Int].head()
    // I | 'll | _pay | _$ | 42 | . | 50 | _now
    assert(got == 8)
    assert(Seq("").toDF("t")
      .select(graft.functions.TextAnalysis.bpeTokenCount($"t")).as[Int].head() == 0)
  }

  test("bloom decontamination matches the exact report and prunes in-scan") {
    val exact = Corpus.contaminationReport(corpus, bench, "doc_id", "text", 3)
      .as[(Long, Long)].collect().toSet
    val bloomed = Corpus.contaminationReportBloom(corpus, bench, "doc_id", "text", 3)
      .as[(Long, Long)].collect().toSet
    assert(bloomed == exact, s"bloom path must be exact: $bloomed vs $exact")
    val plan = Corpus.contaminationReportBloom(corpus, bench, "doc_id", "text", 3)
      .queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("bloommightcontain"),
      s"bloom probe should sit in the corpus scan filter:\n$plan")
  }

  test("chunkDocuments: stride==size tiles exactly; overlap repeats the tail") {
    val df = Seq((1L, (1 to 10).map(i => s"t$i").mkString(" ")), (2L, ""))
      .toDF("doc_id", "text")
    // non-overlapping tiling reconstructs the token stream
    val tiles = Corpus.chunkDocuments(df, "doc_id", "text", chunkSize = 4, stride = 4)
      .orderBy("chunk_id").collect()
    assert(tiles.map(_.getAs[String]("chunk_text")).mkString(" ") ==
      (1 to 10).map(i => s"t$i").mkString(" "))
    assert(tiles.map(_.getAs[Long]("chunk_tokens")).toSeq == Seq(4L, 4L, 2L))
    // empty doc emits no chunks
    assert(tiles.forall(_.getAs[Long]("doc_id") == 1L))
    // overlapping windows: chunk k starts at k*stride and repeats
    // the previous chunk's last (size - stride) tokens
    val over = Corpus.chunkDocuments(df, "doc_id", "text", chunkSize = 4, stride = 2)
      .orderBy("chunk_id").collect()
    assert(over.head.getAs[String]("chunk_text") == "t1 t2 t3 t4")
    assert(over(1).getAs[String]("chunk_text") == "t3 t4 t5 t6")
    assert(over.length == 5)
  }

  test("unigramLmScore: common-token docs outscore rare-token docs") {
    val df = Seq(
      (1L, "alpha alpha alpha alpha"),   // all high-frequency tokens
      (2L, "alpha alpha zeta"),          // one rare token
      (3L, "zeta yotta qoph")            // all rare tokens
    ).toDF("doc_id", "text")
    val scores = Corpus.unigramLmScore(df, "doc_id", "text")
      .as[(Long, Long, Double)].collect()
      .map { case (id, n, s) => id -> ((n, s)) }.toMap
    assert(scores(1L)._1 == 4L && scores(2L)._1 == 3L && scores(3L)._1 == 3L)
    assert(scores(1L)._2 > scores(2L)._2 && scores(2L)._2 > scores(3L)._2, scores)
    // hand-check doc 3 (zeta yotta qoph): counts alpha=6 zeta=2
    // yotta=1 qoph=1 → T=10, V=4; logp = round6(ln((cnt+1)/14)),
    // decimal-summed then round4 of the double mean
    def lp(cnt: Long) = BigDecimal(math.log((cnt + 1.0) / 14.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val exp = BigDecimal((lp(2) + lp(1) + lp(1)).toDouble / 3)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(scores(3L)._2 - exp) < 1e-9, s"${scores(3L)._2} vs $exp")
  }

  test("pmiBigrams: repeated collocation wins, hand-checked PMI") {
    val df = Seq(
      (1L, "alpha beta new york"),
      (2L, "new york gamma delta"),
      (3L, "alpha gamma beta delta")
    ).toDF("doc_id", "text")
    val got = Corpus.pmiBigrams(df, "doc_id", "text", minCount = 2, k = 5)
      .as[(String, Long, Double)].collect().toSeq
    // only "new york" appears twice; T=12 tokens, 9 bigrams →
    // PMI = ln((2/9) / ((2/12)·(2/12))) = ln(8)
    assert(got.map(_._1) == Seq("new york"), got)
    assert(got.head._2 == 2L)
    val exp = BigDecimal(math.log((2.0 / 9) / ((2.0 / 12) * (2.0 / 12))))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(got.head._3 - exp) < 1e-9, s"${got.head._3} vs $exp")
  }

  test("paragraphDupStats: shared boilerplate detected across docs, whitespace-insensitive") {
    val df = Seq(
      (1L, "All rights reserved. Unique sentence one. Another unique bit"),
      (2L, "all   RIGHTS\treserved. Completely different content here"),
      (3L, "Nothing shared at all. Still nothing")
    ).toDF("doc_id", "text")
    val got = Corpus.paragraphDupStats(df, "doc_id", "text")
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // the "all rights reserved" fragment matches across docs 1 and 2
    // despite case/whitespace differences
    assert(got(1L) == ((3L, 1L, 0.333333)), got)
    assert(got(2L) == ((2L, 1L, 0.5)), got)
    assert(got(3L) == ((2L, 0L, 0.0)), got)
  }

  test("negativeSamples: in-pool, never self, deterministic, salt-independent") {
    val df = (0L until 100L).toDF("doc_id")
    val neg = Corpus.negativeSamples(df, "doc_id", k = 5, poolSize = 100L)
      .as[(Long, Int, Long)].collect()
    assert(neg.forall { case (_, _, n) => n >= 0 && n < 100 })
    assert(neg.forall { case (a, _, n) => a != n })
    val perAnchor = neg.groupBy(_._1).view.mapValues(_.length)
    assert(perAnchor.values.forall(c => c == 5 || c == 4)) // ≤1 self-collision
    // reruns identical; a different salt draws a different set
    val again = Corpus.negativeSamples(df, "doc_id", k = 5, poolSize = 100L)
      .as[(Long, Int, Long)].collect()
    assert(neg.sortBy(r => (r._1, r._2)).toSeq ==
      again.sortBy(r => (r._1, r._2)).toSeq)
    val salted = Corpus.negativeSamples(df, "doc_id", k = 5, poolSize = 100L,
      salt = "s2").as[(Long, Int, Long)].collect()
    assert(salted.map(_._3).toSeq != again.map(_._3).toSeq)
  }

  test("stratifiedSample: per-group rates honored, nested in larger sample") {
    val df = (0L until 2000L).map(i => (i, if (i % 2 == 0) "en" else "fr"))
      .toDF("doc_id", "lang")
    val s = Corpus.stratifiedSample(df, "doc_id", "lang",
      Map("en" -> 0.1, "fr" -> 0.6))
    val byLang = s.groupBy("lang").count().as[(String, Long)].collect().toMap
    // md5-threshold sampling is uniform: expect ~100 en, ~600 fr (±40%)
    assert(byLang("en") > 60 && byLang("en") < 140, byLang)
    assert(byLang("fr") > 450 && byLang("fr") < 750, byLang)
    // nesting: the 0.1 en-sample is a subset of a 0.5 en-sample
    val small = Corpus.stratifiedSample(df, "doc_id", "lang", Map("en" -> 0.1))
      .select("doc_id").as[Long].collect().toSet
    val big = Corpus.stratifiedSample(df, "doc_id", "lang", Map("en" -> 0.5))
      .select("doc_id").as[Long].collect().toSet
    assert(small.subsetOf(big))
    // unlisted group defaults to rate 0
    assert(!small.exists(_ % 2 == 1))
  }

  test("distinctNgramRatios: diversity drops on repeated text, no cross-doc bigrams") {
    val df = Seq(
      (1L, "varied", "alpha beta gamma delta"),
      (2L, "varied", "epsilon zeta eta theta"),
      (3L, "loop", "spam spam spam spam"),
      (4L, "loop", "spam spam spam spam")
    ).toDF("doc_id", "lang", "text")
    val got = Corpus.distinctNgramRatios(df, "doc_id", "text", "lang")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3),
          r.getLong(4), r.getLong(5), r.getDouble(6)))).toMap
    // varied: 8 tokens all distinct; 6 bigrams all distinct — NOT 7:
    // "delta epsilon" would only exist if bigrams crossed doc 1 → doc 2
    assert(got("varied") == ((8L, 8L, 1.0, 6L, 6L, 1.0)))
    // loop: 8 tokens 1 distinct; 6 bigrams 1 distinct
    assert(got("loop") == ((8L, 1L, 0.125, 6L, 1L, round6(1.0 / 6))))
  }

  private def round6(d: Double): Double =
    BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("bigramLmScore ranks coherent text above shuffled words; unigram can't") {
    // corpus dominated by the coherent phrase; doc 20 uses the SAME
    // words in a never-seen order → identical unigram stats, rare
    // bigrams
    val coherent = "the quick brown fox jumps over the lazy dog"
    val docs = ((1L to 19L).map(i => (i, coherent)) :+
      ((20L, "dog the over quick jumps lazy brown fox the"))).toDF("doc_id", "text")
    val lm2 = Corpus.bigramLmScore(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(lm2(1L) > lm2(20L) + 1.0, lm2) // clearly separated
    // the unigram model sees identical word histograms → equal scores
    val lm1 = Corpus.unigramLmScore(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(lm1(1L) == lm1(20L))
    // short docs (<2 tokens) drop out rather than scoring on nothing
    val tiny = Seq((1L, "word"), (2L, "two tokens")).toDF("doc_id", "text")
    assert(Corpus.bigramLmScore(tiny, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSeq == Seq(2L))
  }

  test("zipfSlope recovers the exponent of a constructed power law") {
    // term k (k = 1..12) appears round(1000 / k) times → freq ∝ rank^-1
    // exactly, so the log-log fit must recover s ≈ 1
    val words = (1 to 12).flatMap { k =>
      Seq.fill(math.round(1000.0 / k).toInt)(s"w$k")
    }
    val df = words.grouped(200).zipWithIndex
      .map { case (w, i) => (i.toLong, "zipf", w.mkString(" ")) }
      .toSeq.toDF("doc_id", "lang", "text")
    val got = Corpus.zipfSlope(df, "doc_id", "text", "lang", minCount = 2L)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    assert(got("zipf")._1 == 12L)
    assert(math.abs(got("zipf")._2 - 1.0) < 0.01, got)
    // uniform frequencies → zero slope
    val flat = (1 to 10).flatMap(k => Seq.fill(50)(s"u$k"))
    val fdf = Seq((1L, "flat", flat.mkString(" "))).toDF("doc_id", "lang", "text")
    val fs = Corpus.zipfSlope(fdf, "doc_id", "text", "lang")
      .collect().head.getDouble(2)
    // ~0 up to the 4dp moment-sum rounding (the 2^53-safe cast contract)
    assert(math.abs(fs) < 1e-4)
  }

  test("temperatureSample boosts low-resource groups, α=1 keeps everything") {
    // 1600 en vs 400 fr: at α=0.3, r0 ∝ p^(α−1) so the rarer group gets
    // the larger boost → fr keeps 100%, en is downsampled to
    // (p_fr/p_en)^0.7 = 0.25^0.7 ≈ 0.379
    val df = ((0L until 1600L).map(i => (i, "en")) ++
      (2000L until 2400L).map(i => (i, "fr"))).toDF("doc_id", "lang")
    val got = Corpus.temperatureSample(df, "doc_id", "lang", alpha = 0.3)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getLong(3)))).toMap
    assert(got("fr")._1 == 400L && got("fr")._2 == 1.0 && got("fr")._3 == 400L)
    assert(got("en")._1 == 1600L)
    assert(math.abs(got("en")._2 - math.pow(0.25, 0.7)) < 1e-4)
    // md5 draw is uniform → kept count tracks the rate (±25%)
    val expected = 1600 * got("en")._2
    assert(math.abs(got("en")._3 - expected) < expected * 0.25)
    // α=1 is a no-op: q_g = p_g → every keep rate 1.0
    val flat = Corpus.temperatureSample(df, "doc_id", "lang", alpha = 1.0)
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(flat == Map("en" -> 1600L, "fr" -> 400L))
    // the sampled rows themselves match the summary counts
    val rows = Corpus.temperatureSampled(df, "doc_id", "lang", alpha = 0.3)
    assert(rows.count() == got("en")._3 + got("fr")._3)
    assert(rows.columns.toSeq == Seq("lang", "doc_id"))
  }

  test("tokenBudgetCap keeps the md5-ordered prefix that fits the budget") {
    // 12 docs in one source with varying token counts; budget 30
    val docs = (1L to 12L).map(i => (i, "s", ("tok " * i.toInt).trim))
      .toDF("doc_id", "source", "text")
    val got = Corpus.tokenBudgetCap(docs, "doc_id", "source",
        graft.functions.TextAnalysis.tokenCount(col("text")), budget = 30)
      .select("doc_id", "n_tokens", "cum_tokens")
      .as[(Long, Long, Long)].collect().sortBy(_._1)

    // independent reference: same rule computed outside Spark
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val ordered = (1L to 12L).map(i => (i, i)) // doc i has i tokens
      .sortBy { case (id, _) => (md5hex(id.toString), id) }
    val expected = ordered.scanLeft((0L, 0L, 0L)) {
      case ((_, _, cum), (id, n)) => (id, n, cum + n)
    }.tail.takeWhile(_._3 <= 30)
    assert(got.toSeq.sortBy(_._1) == expected.sortBy(_._1))
    assert(got.nonEmpty && got.length < 12)

    // prefix semantics: once the running total crosses the budget,
    // NOTHING later is kept — even a small doc that would fit
    val firstDropped = ordered.map(_._1).drop(expected.length)
    assert(firstDropped.forall(id => !got.exists(_._1 == id)))

    // per-group independence: a second source gets its own budget
    val two = docs.unionByName(
      (1L to 12L).map(i => (i + 100L, "t", ("tok " * i.toInt).trim))
        .toDF("doc_id", "source", "text"))
    val byGroup = Corpus.tokenBudgetCap(two, "doc_id", "source",
        graft.functions.TextAnalysis.tokenCount(col("text")), budget = 30)
      .groupBy("source").agg(sum("n_tokens")).as[(String, Long)]
      .collect().toMap
    assert(byGroup.keySet == Set("s", "t"))
    assert(byGroup.values.forall(_ <= 30))

    // deterministic under repartitioning
    val again = Corpus.tokenBudgetCap(docs.repartition(7), "doc_id", "source",
        graft.functions.TextAnalysis.tokenCount(col("text")), budget = 30)
      .select("doc_id").as[Long].collect().toSet
    assert(again == got.map(_._1).toSet)

    intercept[IllegalArgumentException] {
      Corpus.tokenBudgetCap(docs, "doc_id", "source", lit(1L), budget = 0)
    }
  }

  test("removeHtmlBoilerplate keeps link-sparse prose, drops nav/footer/teasers") {
    val body = "the quick brown fox jumps over the lazy dog near the river bank"
    val page =
      "<div><a href=\"/\">Home</a> <a href=\"/x\">About page</a></div>" +
      s"<p>$body</p>" +
      "<p>More...</p>" +
      "<div>meta <a href=\"/p\">Privacy</a> <a href=\"/t\">Terms of service</a></div>"
    // an all-boilerplate page keeps an EMPTY clean_text row
    val navOnly = "<div><a href=\"/1\">One</a> <a href=\"/2\">Two</a></div>"
    // order preservation: two kept paragraphs reassemble in page order
    val twoPara = s"<p>$body</p><p>a second long paragraph with plenty of words inside it</p>"
    val df = Seq((1L, page), (2L, navOnly), (3L, twoPara))
      .toDF("doc_id", "html")
    val got = Corpus.removeHtmlBoilerplate(df, "doc_id", "html")
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    assert(got(1L)._1 == body, got(1L))
    assert(got(1L)._2 == 5L && got(1L)._3 == 1L) // 5 blocks, 1 kept
    assert(got(2L)._1 == "" && got(2L)._3 == 0L)
    assert(got(3L)._1 ==
      s"$body a second long paragraph with plenty of words inside it")
    // a long but link-dense block still drops (the density rule, not
    // just length): anchor text is the whole visible text
    val dense = "<div>" + (1 to 10).map(i =>
      s"<a href=\"/$i\">related article number $i</a>").mkString(" ") + "</div>"
    val g2 = Corpus.removeHtmlBoilerplate(
      Seq((9L, dense)).toDF("doc_id", "html"), "doc_id", "html")
      .collect()(0)
    assert(g2.getString(1) == "" && g2.getLong(3) == 0L,
      "link-dense block must drop on density, not length")
    // passenger columns ride through the explode/reassembly unchanged
    // and in declaration order (the single-plan q174 form)
    val withP = Seq((1L, "http://a", "utf-8", page),
      (2L, "http://b", "latin1", navOnly))
      .toDF("doc_id", "url", "charset", "html")
    val gp = Corpus.removeHtmlBoilerplate(withP, "doc_id", "html",
      passengers = Seq("url", "charset"))
    assert(gp.columns.toSeq ==
      Seq("doc_id", "url", "charset", "clean_text", "n_blocks", "n_kept"))
    val pm = gp.collect().map(r => r.getLong(0) ->
      (r.getString(1), r.getString(2), r.getString(3))).toMap
    assert(pm(1L) == (("http://a", "utf-8", body)))
    assert(pm(2L) == (("http://b", "latin1", "")))
  }

  test("LM scorers: shared-exchange form is row-identical to the two-subtree form") {
    // r17: both LM scorers route their instance stream through ONE
    // explicit (key) exchange whose histogram references _id via
    // greatest(1, least(_id, 1)) — provably constant 1 — so the two
    // consumers' subtrees stay canonically equal and the exchange is
    // reused. This pins the restructure (and the constant-1 identity,
    // including null ids) against the legacy form the knob restores.
    val docs = ((1L to 30L).map(i =>
      (i, s"alpha beta gamma delta tok$i alpha beta")) :+
      ((31L, "alpha beta")) :+ ((32L, ""))).toDF("doc_id", "text")
    for (op <- Seq("uni", "bi")) {
      def run(): Set[String] = {
        val df = if (op == "uni") Corpus.unigramLmScore(docs, "doc_id", "text")
          else Corpus.bigramLmScore(docs, "doc_id", "text")
        df.collect().map(_.toString).toSet
      }
      spark.conf.set("spark.graft.lm.sharedExchange", "1")
      val shared = run()
      spark.conf.set("spark.graft.lm.sharedExchange", "0")
      val legacy = run()
      spark.conf.unset("spark.graft.lm.sharedExchange")
      graft.Caches.release(spark)
      assert(shared == legacy, s"$op: shared-exchange form diverged")
      assert(shared.nonEmpty)
    }
  }

  test("LM scorers: the executed plan reuses the one instance exchange") {
    // equal rows alone would not notice a regression that re-derives
    // the corpus (scan+tokenize+explode) for the histogram instead of
    // reading the join probe's instance exchange: pin the reuse in the
    // executed adaptive plan, as EnrichmentBoundarySpec does for
    // topTerms' tf exchange
    val docs = (1L to 30L).map(i =>
      (i, s"alpha beta gamma delta tok$i alpha beta")).toDF("doc_id", "text")
    for ((op, q) <- Seq(
        "uni" -> Corpus.unigramLmScore(docs, "doc_id", "text"),
        "bi" -> Corpus.bigramLmScore(docs, "doc_id", "text"))) {
      q.collect()
      val plan = q.queryExecution.executedPlan.toString
      graft.Caches.release(spark)
      assert(plan.contains("ShuffleQueryStage") &&
        plan.contains("ReusedExchange"),
        s"$op: instance exchange not reused:\n$plan")
    }
  }

  test("LM scorers: string and struct ids score as long ids do; counts stay long") {
    import org.apache.spark.sql.catalyst.expressions.Alias
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    import org.apache.spark.sql.types.LongType
    // the shared-exchange histograms count through the _id-referencing
    // constant-1 device: it must stay a long count for any id type,
    // and a struct id must analyse
    val longIds = ((1L to 30L).map(i =>
      (i, s"alpha beta gamma delta tok$i alpha beta")) :+
      ((31L, "alpha beta")) :+ ((32L, ""))).toDF("doc_id", "text")
    val stringIds = longIds.select(col("doc_id").cast("string").as("doc_id"),
      col("text"))
    val structIds = longIds.select(
      struct(col("doc_id").as("n"), lit("x").as("tag")).as("doc_id"), col("text"))
    for ((op, score, count) <- Seq(
        ("uni", Corpus.unigramLmScore _, "_cnt"),
        ("bi", Corpus.bigramLmScore _, "_cab"))) {
      def rows(ids: org.apache.spark.sql.DataFrame,
          id: org.apache.spark.sql.Row => Long): Map[Long, (Long, Double)] = {
        val q = score(ids, "doc_id", "text")
        val countTypes = q.queryExecution.analyzed.collect {
          case a: Aggregate => a.aggregateExpressions.collect {
            case al: Alias if al.name == count => al.dataType
          }
        }.flatten
        assert(countTypes.nonEmpty && countTypes.forall(_ == LongType),
          s"$op $count types: $countTypes")
        val got = q.collect().map(r => id(r) -> ((r.getLong(1), r.getDouble(2)))).toMap
        graft.Caches.release(spark)
        got
      }
      val expected = rows(longIds, _.getLong(0))
      assert(expected.nonEmpty)
      assert(rows(stringIds, _.getString(0).toLong) == expected, s"$op: string ids")
      assert(rows(structIds, _.getStruct(0).getLong(0)) == expected, s"$op: struct ids")
    }
  }

  test("q71/q84/q115: every tokenizer node runs split(lower(...)) once") {
    // the r17 explode(array(...)) barriers keep a token-count gate from
    // re-running the tokenizer once per conjunct below the exchange;
    // equal rows would not notice that regression, so pin the executed
    // adaptive plan: no node tokenizes twice, and the tokenizing nodes
    // are exactly one per corpus subtree. Query stages and cached plans
    // are walked once; a ReusedExchange runs nothing again.
    import org.apache.spark.sql.catalyst.expressions.{Lower, StringSplit}
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    def tokenizers(root: SparkPlan): Seq[(String, Int)] = {
      val seenCaches = new java.util.IdentityHashMap[AnyRef, AnyRef]()
      def walk(p: SparkPlan): Seq[(String, Int)] = {
        val n = p.expressions.map(_.collect {
          case StringSplit(Lower(_), _, _) => 1 }.sum).sum
        val here = if (n > 0) Seq(p.nodeName -> n) else Nil
        here ++ (p match {
          case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
          case s: QueryStageExec => walk(s.plan)
          case _: ReusedExchangeExec => Nil
          case m: InMemoryTableScanExec =>
            if (seenCaches.put(m.relation.cacheBuilder, m) != null) Nil
            else walk(m.relation.cachedPlan)
          case o => o.children.flatMap(walk)
        })
      }
      walk(root)
    }
    // a documents table shaped like the sf0.001 one: 500 docs of 10–99
    // words over a 40-word vocabulary, 20 sources of 25 docs each
    val dir = java.nio.file.Files.createTempDirectory("corpus-plans").toFile
    val vocab = (0 until 40).map(i => s"w$i")
    val rnd = new scala.util.Random(7)
    (0L until 500L).map { id =>
      val text = Seq.fill(10 + rnd.nextInt(90))(vocab(rnd.nextInt(40)))
        .mkString(" ")
      (id, text, "en", s"src${id % 20}", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    try for ((q, subtrees) <- Seq(
        // the gate's count on each anti-join side (decontaminate plans
        // the gated corpus twice) + packSequences' count of the kept docs
        "q71_curation_pipeline" -> 3,
        // bigram histogram, cached unigram histogram, the totals
        "q84_pmi_bigrams" -> 3,
        // the scorers' one instance exchange + the cached model counts
        "q115_bigram_lm" -> 2)) {
      val df = SparkEntry.queries(q)(spark, dir.toString)
      assert(df.collect().nonEmpty, s"$q: no rows")
      val found = tokenizers(df.queryExecution.executedPlan)
      graft.Caches.release(spark)
      assert(found.forall(_._2 == 1) && found.size == subtrees,
        s"$q: tokenizer nodes $found, want $subtrees single-call nodes:\n" +
          df.queryExecution.executedPlan)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }
}
