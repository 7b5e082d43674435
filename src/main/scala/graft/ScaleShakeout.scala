package graft

import graft.operators.Dedup
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev tool: 10× scale shakeout of the capped dedup kernel (round-4
  * VERDICT item 6). Generates a seeded ~sf1-sized corpus (10× the
  * sf0.1 bench table: 50k docs, ~7M tokens) into `target/`, then runs
  * the inverted-index dedup family with the production cap
  * (maxDocFreq=100) and reports wall time plus the executor-memory
  * evidence for the bounded-buffer claim (PostingPairsAgg buffers cap
  * at maxDocFreq+1 entries per shingle × partition): total
  * memory+disk spill and peak per-task execution memory per operator.
  *
  * Corpus shape stresses exactly what the cap exists for: a third of
  * the docs share a boilerplate header (hot shingles with corpus-wide
  * doc frequency), 10% are near-duplicates of their predecessor (true
  * pairs that must survive), and token ranks are cube-skewed so the
  * vocabulary has a heavy head. Deterministic per doc id — reruns are
  * identical, no stored fixture needed.
  *
  * Results are recorded in SCALE.md.
  */
object ScaleShakeout {
  import graft.fixtures.FixtureBytes._

  private val Boilerplate =
    "terms of service apply all rights reserved contact us for more information today "

  private def corpus(spark: SparkSession, nDocs: Long,
      idOffset: Long = 0L): DataFrame = {
    val gen = udf { (id: Long) =>
      val fam = if (id % 10 == 9) id - 1 else id // 10% near-dup predecessor
      val rnd = new java.util.Random(fam * 2654435761L + 12345L)
      val len = 80 + rnd.nextInt(120)
      val sb = new StringBuilder
      if (fam % 3 == 0) sb.append(Boilerplate)
      var j = 0
      while (j < len) {
        val u = rnd.nextDouble()
        sb.append('w').append((20000 * u * u * u).toInt).append(' ')
        j += 1
      }
      if (id % 10 == 9) sb.append("edited variant ").append(id)
      sb.toString
    }
    spark.range(nDocs).select((col("id") + idOffset).as("doc_id"),
      gen(col("id") + idOffset).as("text"))
  }

  def main(args: Array[String]): Unit = {
    val nDocs = args.headOption.map(_.toLong).getOrElse(50000L)
    // optional op-name filter (args after nDocs): `ScaleShakeout 250000
    // ccPropagation kmeansRefineAssign` runs only those ops — the 50×
    // iterative-operator shakeout without re-paying the one-pass kernels
    val only = args.drop(1).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Graft.tune(spark)

    val spill = new java.util.concurrent.atomic.AtomicLong(0L)
    val peakTaskMem = new java.util.concurrent.atomic.AtomicLong(0L)
    val inputRecords = new java.util.concurrent.atomic.AtomicLong(0L)
    // SHAKEOUT_STAGES=1: per-stage forensics (wall, tasks, records)
    // for attributing a slow operator to its stage
    val stageTrace = sys.env.contains("SHAKEOUT_STAGES")
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val m = sc.stageInfo.taskMetrics
        if (m != null) {
          spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
          peakTaskMem.getAndAccumulate(m.peakExecutionMemory, math.max)
          inputRecords.addAndGet(m.inputMetrics.recordsRead)
          if (stageTrace) {
            val i = sc.stageInfo
            val wall = (for {
              s <- i.submissionTime; c <- i.completionTime
            } yield (c - s) / 1e3).getOrElse(-1.0)
            println(f"  stage ${i.stageId}%3d ${wall}%7.1fs " +
              f"tasks=${i.numTasks}%-4d in=${m.inputMetrics.recordsRead}%-10d " +
              f"sh_r=${m.shuffleReadMetrics.recordsRead}%-10d " +
              f"sh_w=${m.shuffleWriteMetrics.recordsWritten}%-10d " +
              i.name.takeWhile(_ != '\n').take(60))
          }
        }
      }
    })

    def wanted(names: String*): Boolean =
      only.isEmpty || names.exists(only.contains)
    val docOps = Seq("jaccardPairs", "crossJaccardPairs", "nearDupClusters",
      "unigramLmScore", "bigramLmScore", "bm25", "tfidfTopTerms",
      "tfidfSimilarity", "removeDupSegments", "removeDupSpans")
    val path = "target/scale_corpus.parquet"
    lazy val docs = {
      corpus(spark, nDocs).write.mode("overwrite").parquet(path)
      val d = spark.read.parquet(path)
      println(s"corpus: ${d.count()} docs, " +
        s"${d.agg(sum(length(col("text")))).head.getLong(0)} chars")
      d
    }
    if (wanted(docOps: _*)) docs

    def run(name: String)(op: => DataFrame): Unit = {
      if (only.nonEmpty && !only.contains(name)) return
      spill.set(0L); peakTaskMem.set(0L); inputRecords.set(0L)
      val t0 = System.nanoTime()
      // Bench.forceAll discipline, not count(): a bare count lets the
      // optimizer prune pure projections AND eliminate left-outer
      // joins against unique-keyed aggregates - removeDupSegments
      // "measured" 0.5 s at 50x that way (the whole rebuild pipeline
      // was skipped). Hashing every output column forces full
      // evaluation while still reducing to one driver row.
      val n = Bench.forceAll(op)
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"$name%-22s ${dt}%8.1fs rows=$n%-10d " +
        f"spill=${spill.get / 1e6}%.0fMB peakTaskMem=${peakTaskMem.get / 1e6}%.0fMB " +
        f"in=${inputRecords.get}%d")
      Caches.release(spark)
      spark.sharedState.cacheManager.clearCache()
    }

    run("jaccardPairs")(
      Dedup.jaccardPairs(docs, "doc_id", "text", n = 3,
        threshold = 0.5, maxDocFreq = 100L))
    run("crossJaccardPairs")(
      Dedup.crossJaccardPairs(docs, docs.withColumn("doc_id", col("doc_id") + 1000000L),
        "doc_id", "text", n = 3, threshold = 0.9, maxDocFreq = 100L))
    run("nearDupClusters")(
      Dedup.nearDupClusters(docs, "doc_id", "text", n = 3,
        threshold = 0.5, maxDocFreq = 100L))
    // the LSH band kernels share bucketPairs/collect_list state — the
    // same per-task-growth regime the partitions-per-byte floor guards
    run("minhashPairs")(
      Dedup.minhashDedupPairs(docs, "doc_id", "text", n = 3,
        threshold = 0.7, numHashes = 128, bands = 32))
    run("winnowPairs")(
      Dedup.winnowPairs(docs, "doc_id", "text", k = 8, w = 12,
        minShared = 3, maxDocFreq = 100L))
    // vocabulary-bounded LM histograms and the query-term-semi-filtered
    // BM25 postings make the same bounded-state claim as the dedup
    // kernel — same evidence standard
    run("unigramLmScore")(
      graft.operators.Corpus.unigramLmScore(docs, "doc_id", "text"))
    run("bigramLmScore")(
      graft.operators.Corpus.bigramLmScore(docs, "doc_id", "text"))
    run("bm25")(
      graft.operators.TfIdf.bm25(docs, "doc_id", "text",
        "w100 w2000 w19999 terms of service"))
    run("tfidfTopTerms")(
      graft.operators.TfIdf.topTerms(docs, "doc_id", "text", k = 5))
    run("tfidfSimilarity")(
      graft.operators.TfIdf.similarity(docs, "doc_id", "text",
        "w100 w2000 w19999 terms of service"))
    // topTerms was the sweep's only 10×→50× per-task-memory GROWER
    // (76→168 MB): measure the materialized-postings path at the same
    // volume. The index build is setup (once per corpus snapshot at
    // scale), the measured region is the query: term-clustered buckets,
    // no corpus-sized shuffle.
    if (wanted("tfidfTopTermsPostings")) {
      graft.operators.TfIdf.writePostings(docs, "doc_id", "text",
        "shakeout_postings_t", buckets = 32)
      run("tfidfTopTermsPostings")(
        graft.operators.TfIdf.topTermsFromPostings(spark,
          "shakeout_postings_t", k = 5))
      spark.sql("DROP TABLE IF EXISTS shakeout_postings_t")
    }
    // segment removal: docs here have no '.'-separators, so split on a
    // hot token to force multi-segment docs (the boilerplate header and
    // duplicated families become cross-doc segments)
    run("removeDupSegments")(
      graft.operators.Corpus.removeDuplicatedSegments(docs, "doc_id", "text",
        sepRegex = "\\bw0\\b", sepOut = "w0"))
    // token-level span removal: the boilerplate header (13 tokens,
    // doc-freq nDocs/3 >> cap) must vanish everywhere while the 10%
    // near-dup FAMILIES (doc-freq 2 <= cap) survive — the per-doc
    // RANGE-window coverage pass over the full token table
    run("removeDupSpans")(
      graft.operators.Corpus.removeDuplicatedSpans(docs, "doc_id", "text",
        k = 8, maxDocFreq = 100L))

    // HTML boilerplate removal: block split → per-block regexp
    // features (two HtmlToText chains per block) → one groupBy(doc)
    // reassembly. Pages wrap the corpus text in the q171 trap
    // structure (link-only nav/footer, short teaser, one real body) —
    // per-doc blocks are bounded, so the shuffle key is skew-free
    run("htmlBoilerplate") {
      val pages = docs.select(col("doc_id"),
        concat(
          lit("<div><a href=\"/\">Home</a> <a href=\"/a\">About</a> " +
            "<a href=\"/c\">Contact us</a></div><p>"),
          col("text"),
          lit("</p><p>Read on</p><div>meta <a href=\"/p\">Privacy</a> " +
            "<a href=\"/t\">Terms of use</a></div>")).as("html"))
      graft.operators.Corpus.removeHtmlBoilerplate(pages, "doc_id", "html")
    }

    // dedup-on-ingest at corpus scale: the index build is the one-time
    // full-corpus pass; the ARRIVAL batch (2% of corpus, half exact
    // dups of corpus docs, half fresh) is the per-trigger cost the
    // sink's no-corpus-reshuffle claim is about
    if (wanted("dedupIngestBuild", "dedupIngestArrival",
        "dedupIngestBuildBloom", "dedupIngestArrivalBloom",
        "dedupIngestArrivalCached", "dedupIngestArrivalCachedBloom")) {
      // bloom=false pair: the round-7 exact baseline; bloom=true pair:
      // the round-8 sidecar pre-probe (capacity sized for the 50×
      // index's ~20M distinct shingles). Run names select which.
      for ((bloom, suffix) <- Seq((false, ""), (true, "Bloom"))
          if wanted(s"dedupIngestBuild$suffix", s"dedupIngestArrival$suffix",
            s"dedupIngestArrivalCached$suffix")) {
        val docsPath = s"target/scale_ingest_docs$suffix.parquet"
        val table = s"scale_ingest_postings${suffix.toLowerCase}"
        spark.sql(s"DROP TABLE IF EXISTS $table")
        val fs = org.apache.hadoop.fs.FileSystem.get(
          spark.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(docsPath), true)
        fs.delete(new org.apache.hadoop.fs.Path(docsPath + "_bloom"), false)
        docs // materialize the corpus outside the timed region
        def ingest(batch: DataFrame): DataFrame = {
          graft.streaming.StreamingIngest.dedupIngestBatch(batch, docsPath,
            table, "doc_id", "text", n = 3, threshold = 0.7,
            maxDocFreq = 100L, buckets = 32,
            useBloom = bloom, bloomCapacity = 1L << 25)
          spark.read.parquet(docsPath)
        }
        run(s"dedupIngestBuild$suffix")(ingest(docs))
        val nArr = nDocs / 100
        val dups = docs.filter(col("doc_id") < nArr)
          .select((col("doc_id") + 10000000L).as("doc_id"), col("text"))
        val fresh = corpus(spark, nArr, idOffset = 20000000L)
        run(s"dedupIngestArrival$suffix")(ingest(dups.unionAll(fresh)))
        // mitigation 1 composed with 3: with the posting table cached
        // (the long-running-sink configuration), the parquet-scan
        // floor drops out and the remaining arrival term is the pair
        // kernel itself — the part the bloom pre-probe prunes. A
        // SECOND arrival (new ids, same dup/fresh shape) isolates it.
        if (wanted(s"dedupIngestArrivalCached$suffix")) {
          spark.catalog.cacheTable(table)
          spark.table(table).count() // materialize outside the timed region
          val dups2 = docs.filter(col("doc_id") >= nArr && col("doc_id") < 2L * nArr)
            .select((col("doc_id") + 30000000L).as("doc_id"), col("text"))
          val fresh2 = corpus(spark, nArr, idOffset = 40000000L)
          run(s"dedupIngestArrivalCached$suffix")(ingest(dups2.unionAll(fresh2)))
          spark.catalog.uncacheTable(table)
        }
        spark.sql(s"DROP TABLE IF EXISTS $table")
      }
    }

    // perceptual image near-dup at corpus scale: a realistic thumbnail
    // corpus INCLUDING A MASS BUCKET — 3% all-black frames, every one
    // hashing to aHash 0 / dHash 0, the known pathological key — plus
    // 10% planted near-dup variants (+4 on every 23rd byte) that must
    // survive. The claims under test: (a) wall time scales ~linearly
    // in images, (b) the maxBucket guard absorbs the mass bucket
    // (skipped-bucket forensics printed) instead of letting it expand
    // quadratically, (c) zero spill. 32×24 PPM thumbnails keep the
    // decode term honest without parquet-size games.
    if (wanted("imageNearDup", "imageNearDupDhash")) {
      val imgPath = "target/scale_images.parquet"
      val genImg = udf { (id: Long) =>
        val w = 32; val h = 24
        val header = s"P6\n$w $h\n255\n".getBytes("ISO-8859-1")
        val px = new Array[Byte](w * h * 3)
        val isVariant = id % 10 == 9
        val isBlack = id % 100 < 3 && !isVariant
        if (!isBlack) {
          val fam = if (isVariant) id - 1 else id
          // a variant of a black predecessor degrades to a fresh image
          // (fam seed still deterministic) — harmless, keeps kinds simple
          val rnd = new java.util.Random(fam * 6364136223846793005L + 11L)
          rnd.nextBytes(px)
          if (isVariant) {
            var i = 0
            while (i < px.length) {
              if (i % 23 == 0)
                px(i) = (((px(i) & 0xFF) min 251) + 4).toByte
              i += 1
            }
          }
        }
        header ++ px
      }
      spark.range(nDocs)
        .select(col("id").as("media_id"), genImg(col("id")).as("content"))
        .write.mode("overwrite").parquet(imgPath)
      val imgs = spark.read.parquet(imgPath)
      // mass-bucket forensics: buckets past the cap and their members,
      // per fingerprint — the evidence the guard ENGAGED
      // band widths mirror the operators: aHash 63 live bits → 4×16,
      // dHash (gx−1)·gy = 56 live bits → 4×14
      for ((hc, bw) <- Seq("ahash" -> 16, "dhash" -> 14)) {
        val over = graft.operators.Multimodal
          .imageSignatures(imgs, gx = 9, gy = 7)
          .filter(col(hc).isNotNull)
          .select(explode(sequence(lit(0), lit(3))).as("band"), col(hc))
          .select(col("band"),
            call_function("shiftright", col(hc),
              (col("band") * bw).cast("int"))
              .bitwiseAND(lit((1L << bw) - 1L)).as("key"))
          .groupBy("band", "key").count()
          .filter(col("count") > 4096)
          .agg(count(lit(1)).as("buckets"), sum(col("count")).as("members"))
          .head()
        println(s"  $hc mass buckets > 4096: ${over.getLong(0)} " +
          s"(members=${if (over.isNullAt(1)) 0L else over.getLong(1)})")
      }
      run("imageNearDup")(
        graft.operators.Multimodal.imageNearDup(imgs, gx = 9, gy = 7,
          maxL1 = 126L))
      run("imageNearDupDhash")(
        graft.operators.Multimodal.imageNearDupDhash(imgs, gx = 9, gy = 7,
          maxHamming = 6))
    }

    // round-12 document-extraction tier: PDF and DOCX over binary
    // columns are pure per-row projections (parse + inflate, bounded
    // state); the decade pins the claim. PDFs carry a Flate content
    // stream (the real-corpus shape — exercises the inflater per
    // row); DOCX is a deflated OPC zip; 2% junk rows triage to NULL.
    if (wanted("pdfText", "docxText")) {
      val genPdf = udf { (id: Long) =>
        if (id % 50 == 17) "not a pdf".getBytes("ISO-8859-1")
        else {
          val rnd = new java.util.Random(id * 2654435761L + 31L)
          val words = 60 + rnd.nextInt(240)
          val sb = new StringBuilder("BT /F1 12 Tf (")
          var j = 0
          while (j < words) {
            sb.append('w').append(rnd.nextInt(20000)).append(' ')
            if (j % 12 == 11) sb.append(") Tj 0 -14 Td (")
            j += 1
          }
          sb.append(") Tj ET")
          val src = sb.toString.getBytes("ISO-8859-1")
          val d = new java.util.zip.Deflater()
          d.setInput(src); d.finish()
          val buf = new Array[Byte](src.length + 64)
          val n = d.deflate(buf); d.end()
          val flate = java.util.Arrays.copyOf(buf, n)
          ("%PDF-1.4\n4 0 obj << /Filter /FlateDecode /Length " +
            flate.length + " >>\nstream\n").getBytes("ISO-8859-1") ++
            flate ++ "\nendstream\nendobj\ntrailer\n%%EOF\n"
              .getBytes("ISO-8859-1")
        }
      }
      val genDocx = udf { (id: Long) =>
        if (id % 50 == 17) "PK junk".getBytes("ISO-8859-1")
        else {
          val rnd = new java.util.Random(id * 2654435761L + 37L)
          val paras = 3 + rnd.nextInt(6)
          val xml = new StringBuilder(
            "<w:document xmlns:w=\"http://schemas.openxmlformats.org/wordprocessingml/2006/main\"><w:body>")
          var pi = 0
          while (pi < paras) {
            xml.append("<w:p><w:r><w:t>")
            var j = 0
            val words = 20 + rnd.nextInt(60)
            while (j < words) {
              xml.append('w').append(rnd.nextInt(20000)).append(' ')
              j += 1
            }
            xml.append("</w:t></w:r></w:p>")
            pi += 1
          }
          xml.append("</w:body></w:document>")
          val bos = new java.io.ByteArrayOutputStream()
          val zos = new java.util.zip.ZipOutputStream(bos)
          zos.putNextEntry(new java.util.zip.ZipEntry("word/document.xml"))
          zos.write(xml.toString.getBytes("UTF-8")); zos.closeEntry()
          zos.close(); bos.toByteArray
        }
      }
      for ((name, gen, fn) <- Seq(
          ("pdfText", genPdf, graft.expr.PdfText.FunctionName),
          ("docxText", genDocx, graft.expr.DocxText.FunctionName))) {
        val p = s"target/scale_$name.parquet"
        spark.range(nDocs)
          .select(col("id").as("doc_id"), gen(col("id")).as("content"))
          .write.mode("overwrite").parquet(p)
        val files = spark.read.parquet(p)
        run(name)(files.select(col("doc_id"),
          length(call_function(fn, col("content"))).as("n_chars")))
      }
    }

    // JPEG decode cost probe (round-12 VERDICT item 7): the SAME
    // pixel content at the same thumbnail size through the two decode
    // paths — hand PPM (the native fast path) vs ImageIO JPEG (the
    // JDK-codec path whose per-row setup cost lost to a hand decoder
    // once before: GIF, 4.1×). The measured op is pixelStats — a pure
    // decode projection, so the wall delta IS the decoder delta. The
    // decision rule: if JPEG/PPM wall ratio at 50× is in GIF's
    // pre-hand-decoder territory, a baseline-DCT hand decoder is
    // justified next round; otherwise record the numbers and close
    // the question. (Pixel VALUES differ between the two corpora —
    // JPEG is lossy — but cost, not values, is measured here; the
    // correctness of both decoders is spec-gated elsewhere.)
    if (wanted("pixelStatsPpm", "pixelStatsJpeg", "pixelStatsJpegProg")) {
      val w = 32; val h = 24
      def rgb(id: Long): Array[Byte] = {
        val px = new Array[Byte](w * h * 3)
        val rnd = new java.util.Random(id * 6364136223846793005L + 13L)
        rnd.nextBytes(px)
        px
      }
      val genPpm = udf { (id: Long) =>
        s"P6\n$w $h\n255\n".getBytes("ISO-8859-1") ++ rgb(id)
      }
      def jpegOf(id: Long, progressive: Boolean): Array[Byte] = {
        val px = rgb(id)
        val img = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
        var i = 0
        while (i < w * h) {
          img.setRGB(i % w, i / w,
            ((px(3 * i) & 0xFF) << 16) | ((px(3 * i + 1) & 0xFF) << 8) |
              (px(3 * i + 2) & 0xFF))
          i += 1
        }
        val bos = new java.io.ByteArrayOutputStream()
        val wr = javax.imageio.ImageIO.getImageWritersByFormatName("jpg").next()
        val p = wr.getDefaultWriteParam
        if (progressive) {
          p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
          p.setCompressionQuality(0.75f)
          p.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DEFAULT)
        }
        // MemoryCache stream: the default createImageOutputStream
        // writes a disk temp file PER IMAGE (and fails where tmpdir
        // isn't writable executor-side)
        val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
        wr.setOutput(ios)
        wr.write(null, new javax.imageio.IIOImage(img, null, null), p)
        wr.dispose(); ios.close()
        bos.toByteArray
      }
      val genJpeg = udf { (id: Long) => jpegOf(id, progressive = false) }
      val genJpegProg = udf { (id: Long) => jpegOf(id, progressive = true) }
      for ((name, gen) <- Seq("pixelStatsPpm" -> genPpm,
          "pixelStatsJpeg" -> genJpeg,
          "pixelStatsJpegProg" -> genJpegProg)) {
        val p = s"target/scale_probe_$name.parquet"
        spark.range(nDocs)
          .select(col("id").as("media_id"), gen(col("id")).as("content"))
          .write.mode("overwrite").parquet(p)
        val imgs = spark.read.parquet(p).withColumn("kind", lit("image"))
        run(name)(graft.operators.Multimodal.pixelStats(imgs))
      }
    }

    // perceptual audio near-dup at corpus scale, the image decade's
    // audio sibling: 16-bit mono WAV clips with a 3% CONSTANT-
    // AMPLITUDE mass bucket — flat envelope ⇒ every gradient bit 0 ⇒
    // ehash 0, the audio analog of the all-black thumbnail; NOT
    // silence, so the expression's all-zero NULL gate does not absorb
    // it and the maxBucket guard must — plus 10% planted 2×-gain
    // variants (byte-different, envelope-sign-identical) that must
    // survive. Claims: ~linear wall, guard engages on the flat
    // clique, zero spill.
    if (wanted("audioNearDup")) {
      val wavPath = "target/scale_audio.parquet"
      val genWav = udf { (id: Long) =>
        val isVariant = id % 10 == 9
        val isFlat = id % 100 < 3 && !isVariant
        val fam = if (isVariant) id - 1 else id
        // flat clips pin n=64: with varying n the window-length
        // quantization (some windows hold 2 frames) breaks the flat
        // envelope into per-n sub-cliques and the mass bucket never
        // forms — one n ⇒ ONE ehash-0 clique, the real pathology
        val n = if (isFlat) 64 else 64 + (fam % 32).toInt
        val gain = if (isVariant) 2 else 1
        val rnd = new java.util.Random(fam * 2862933555777941757L + 3037L)
        val data = new Array[Byte](n * 2)
        var k = 0
        while (k < n) {
          val v =
            if (isFlat) 1000
            else gain * (rnd.nextInt(8191) - 4095)
          data(2 * k) = v.toByte
          data(2 * k + 1) = (v >> 8).toByte
          k += 1
        }
        "RIFF".getBytes("ISO-8859-1") ++ le32(36 + data.length) ++
          "WAVE".getBytes("ISO-8859-1") ++
          "fmt ".getBytes("ISO-8859-1") ++ le32(16) ++ le16(1) ++
          le16(1) ++ le32(16000) ++ le32(32000) ++ le16(2) ++ le16(16) ++
          "data".getBytes("ISO-8859-1") ++ le32(data.length) ++ data
      }
      spark.range(nDocs)
        .select(col("id").as("media_id"), genWav(col("id")).as("content"))
        .write.mode("overwrite").parquet(wavPath)
      val clips = spark.read.parquet(wavPath)
      // mass-bucket forensics (4×16 live-bit bands at nFrames=64)
      val over = clips
        .select(call_function(graft.expr.AudioEnvSig.FunctionName,
          col("content"), lit(64)).as("g"))
        .filter(col("g").isNotNull)
        .select(explode(sequence(lit(0), lit(3))).as("band"),
          col("g.ehash").as("h"))
        .select(col("band"),
          call_function("shiftright", col("h"), (col("band") * 16).cast("int"))
            .bitwiseAND(lit(65535L)).as("key"))
        .groupBy("band", "key").count()
        .filter(col("count") > 4096)
        .agg(count(lit(1)).as("buckets"), sum(col("count")).as("members"))
        .head()
      println(s"  ehash mass buckets > 4096: ${over.getLong(0)} " +
        s"(members=${if (over.isNullAt(1)) 0L else over.getLong(1)})")
      run("audioNearDup")(
        graft.operators.Multimodal.audioNearDup(clips, nFrames = 64,
          maxHamming = 6))
    }

    // perceptual video near-dup at corpus scale, completing the triad's
    // decade. The video mass pathology is NOT the constant clip (the
    // all-equal-envelope rule drops those at the source, like audio
    // silence) — it's the FADE-IN: strictly increasing luminance ⇒
    // every gradient bit 1 ⇒ one all-ones thash clique, and fade-in
    // intros are ubiquitous in real video corpora. 3% fades (varying
    // frame counts — window means of a strictly increasing sequence
    // stay strictly increasing, so the clique forms across all n) +
    // 10% planted +4-brightness variants (byte-different,
    // gradient-sign-identical) that must survive. Frames are constant-
    // color 2x2 PPMs: frame mean == the planted value, decode honest
    // but cheap. Claims: ~linear wall, guard engages on the fade
    // clique, zero spill.
    if (wanted("videoNearDup", "videoNearDupMixed", "videoNearDupGif")) {
      // planted per-clip frame values, shared by BOTH container
      // generators so the mixed-container op reuses the identical
      // corpus semantics (same families, fades, +4 variants)
      def clipValues(id: Long): Array[Int] = {
        val isVariant = id % 10 == 9
        val isFade = id % 100 < 3 && !isVariant
        val fam = if (isVariant) id - 1 else id
        val n = 33 + (fam % 32).toInt
        val rnd = new java.util.Random(fam * 6364136223846793005L + 97L)
        val shift = if (isVariant) 4 else 0
        Array.tabulate(n)(f =>
          if (isFade) 10 + f * 3 else shift + 10 + rnd.nextInt(236))
      }
      val header = "P6\n2 2\n255\n".getBytes("ISO-8859-1")
      val frameSize = header.length + 12 // 23, odd: pad every AVI chunk
      def aviBytes(vs: Array[Int]): Array[Byte] = {
        val out = new java.io.ByteArrayOutputStream()
        out.write("RIFF".getBytes("ISO-8859-1"))
        val moviSize = 4 + vs.length * (8 + frameSize + 1)
        out.write(le32(12 + moviSize))
        out.write("AVI LIST".getBytes("ISO-8859-1"))
        out.write(le32(moviSize))
        out.write("movi".getBytes("ISO-8859-1"))
        for (v <- vs) {
          out.write("00dc".getBytes("ISO-8859-1"))
          out.write(le32(frameSize))
          out.write(header)
          var i = 0
          while (i < 12) { out.write(v); i += 1 }
          out.write(0) // pad
        }
        out.toByteArray
      }
      // genuine ISO BMFF, q159's construction: ftyp + mdat holding the
      // raw PPM samples + moov/trak/mdia/hdlr(vide)/minf/stbl with
      // fixed-size stsz, single-run stsc, absolute stco into mdat
      def mp4Bytes(vs: Array[Int]): Array[Byte] = {
        def box(name: String, payload: Array[Byte]): Array[Byte] =
          be32(payload.length + 8) ++ ascii(name) ++ payload
        val n = vs.length
        val ftyp = box("ftyp", ascii("isom") ++ be32(0))
        val mdatStart = ftyp.length + 8
        val frames = new java.io.ByteArrayOutputStream()
        for (v <- vs) {
          frames.write(header)
          var i = 0
          while (i < 12) { frames.write(v); i += 1 }
        }
        val mdat = box("mdat", frames.toByteArray)
        val stbl = box("stbl",
          box("stsz", be32(0) ++ be32(frameSize) ++ be32(n)) ++
          box("stsc", be32(0) ++ be32(1) ++ be32(1) ++ be32(n) ++ be32(1)) ++
          box("stco", be32(0) ++ be32(1) ++ be32(mdatStart)))
        val hdlr = box("hdlr",
          be32(0) ++ be32(0) ++ ascii("vide") ++ Array.fill[Byte](12)(0))
        ftyp ++ mdat ++
          box("moov", box("trak", box("mdia", hdlr ++ box("minf", stbl))))
      }
      if (wanted("videoNearDup")) {
        val aviPath = "target/scale_video.parquet"
        val genAvi = udf((id: Long) => aviBytes(clipValues(id)))
        spark.range(nDocs)
          .select(col("id").as("media_id"), genAvi(col("id")).as("content"))
          .write.mode("overwrite").parquet(aviPath)
        val clips = spark.read.parquet(aviPath)
        // mass-bucket forensics (2×16 key-space-floor bands at nWin=32)
        val over = graft.operators.Multimodal.videoSignatures(clips, nWin = 32)
          .select(explode(sequence(lit(0), lit(1))).as("band"),
            col("thash").as("h"))
          .select(col("band"),
            call_function("shiftright", col("h"), (col("band") * 16).cast("int"))
              .bitwiseAND(lit(65535L)).as("key"))
          .groupBy("band", "key").count()
          .filter(col("count") > 4096)
          .agg(count(lit(1)).as("buckets"), sum(col("count")).as("members"))
          .head()
        println(s"  thash mass buckets > 4096: ${over.getLong(0)} " +
          s"(members=${if (over.isNullAt(1)) 0L else over.getLong(1)})")
        run("videoNearDup")(
          graft.operators.Multimodal.videoNearDup(clips, nWin = 32,
            maxHamming = 4))
      }

      // MP4-container parity for the decade: the SAME planted corpus
      // with the container dispatched by id parity — even ids
      // RIFF/AVI, odd ids genuine ISO BMFF, so the coalesce dispatch,
      // the sample-table walk AND the leaf-bytes floor all run at
      // scale against MP4's blob-size profile. Every +4-brightness
      // variant (id%10==9, family id-1) sits in the OPPOSITE
      // container from its predecessor, so the planted recall is
      // 100% CROSS-container — the "two encodes containered
      // differently" promise measured, not just spec'd. Claims: wall
      // ~ videoNearDup's (same per-row projection shape), 0 spill,
      // fade-clique guard engages, planted cross-container pairs
      // recovered.
      if (wanted("videoNearDupMixed")) {
        val mixPath = "target/scale_video_mixed.parquet"
        val genMixed = udf((id: Long) =>
          if (id % 2 == 0) aviBytes(clipValues(id))
          else mp4Bytes(clipValues(id)))
        spark.range(nDocs)
          .select(col("id").as("media_id"), genMixed(col("id")).as("content"))
          .write.mode("overwrite").parquet(mixPath)
        val clips = spark.read.parquet(mixPath)
        run("videoNearDupMixed")(
          graft.operators.Multimodal.videoNearDup(clips, nWin = 32,
            maxHamming = 4))
        // planted-recall probe (cheap second pass, sampled to the
        // planted key pattern before the count)
        val planted = graft.operators.Multimodal
          .videoNearDup(clips, nWin = 32, maxHamming = 4)
          .filter(col("id2") === col("id1") + 1 &&
            pmod(col("id1"), lit(10)) === 8)
          .count()
        // every id≡9 (mod 10) is a variant and neither it nor its
        // predecessor can be a fade (fades are ≡0,1,2 mod 100)
        val expected = nDocs / 10
        println(s"  cross-container planted pairs: $planted / $expected")
      }

      // the SAME planted corpus as animated GIFs: constant 2x2 gray
      // frames (index = the planted value), real uncompressed-LZW
      // encode, decoded through the JDK's ImageIO reader + GIF89a
      // compositing. Frame means equal the AVI corpus's, so the
      // output must be ROW-IDENTICAL to videoNearDup — codec-tier
      // parity measured at corpus scale. Claim: the per-clip ImageIO
      // reader overhead stays linear, 0 spill.
      if (wanted("videoNearDupGif")) {
        val gifPath = "target/scale_video_gif.parquet"
        val genGif = udf { (id: Long) =>
          val vs = clipValues(id)
          graft.expr.GifBuild.animated(2, 2,
            vs.toSeq.map(v => Array.fill[Byte](4)(v.toByte)))
        }
        spark.range(nDocs)
          .select(col("id").as("media_id"), genGif(col("id")).as("content"))
          .write.mode("overwrite").parquet(gifPath)
        val clips = spark.read.parquet(gifPath)
        run("videoNearDupGif")(
          graft.operators.Multimodal.videoNearDup(clips, nWin = 32,
            maxHamming = 4))
      }
    }

    // sessions/window family over a 10× events table (1M events, 10k
    // users incl. one whale user with 5% of all traffic — the per-user
    // window's skew case). Deterministic from the event id.
    // WARC ingestion at corpus scale: one archive blob per row, each
    // holding a warcinfo record + several HTTP response records with
    // real Content-Length framing (sizes vary per file), 20% of the
    // archives gzip'd as per-record members (the CC layout), 2%
    // junk. The walk is a pure per-row projection; claims: ~linear
    // wall, 0 spill, junk contributes nothing.
    if (wanted("warcHtmlDocs")) {
      val warcPath = "target/scale_warc.parquet"
      val genWarc = udf { (id: Long) =>
        if (id % 50 == 17) "not a warc at all".getBytes("UTF-8")
        else {
          val rnd = new java.util.Random(id * 2654435761L + 7L)
          val sb = new StringBuilder
          def rec(headers: String, payload: String): Unit = {
            sb.append("WARC/1.0\r\n").append(headers)
              .append("Content-Length: ").append(payload.length)
              .append("\r\n\r\n").append(payload).append("\r\n\r\n")
          }
          rec("WARC-Type: warcinfo\r\n", "software: graft\r\n")
          val nDocsIn = 2 + rnd.nextInt(4)
          var d = 0
          while (d < nDocsIn) {
            val words = 20 + rnd.nextInt(180)
            val body = new StringBuilder("<html><body><p>")
            var j = 0
            while (j < words) {
              body.append("w").append(rnd.nextInt(20000)).append(' ')
              j += 1
            }
            body.append("</p></body></html>")
            rec(s"WARC-Type: response\r\nWARC-Target-URI: http://ex.com/$id/$d\r\n" +
              "Content-Type: application/http; msgtype=response\r\n",
              "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + body)
            d += 1
          }
          val plain = sb.toString.getBytes("UTF-8")
          if (id % 5 == 0) { // per-record members would need re-framing;
            // one-member gzip of the whole archive exercises the same
            // inflate path (GZIPInputStream reads both layouts)
            val bos = new java.io.ByteArrayOutputStream()
            val g = new java.util.zip.GZIPOutputStream(bos)
            g.write(plain); g.close(); bos.toByteArray
          } else plain
        }
      }
      spark.range(nDocs)
        .select(col("id").as("file_id"), genWarc(col("id")).as("content"))
        .write.mode("overwrite").parquet(warcPath)
      val files = spark.read.parquet(warcPath)
      run("warcHtmlDocs")(graft.operators.Warc.htmlDocuments(files))
    }

    // q174 COMPOSITION at corpus scale: WARC walk → charset-aware
    // HTTP decode → link-density boilerplate removal → md5 window
    // dedup in ONE relational plan. The operators were shaken
    // individually; compositions find exchange-boundary surprises
    // (the round-9 AQE lesson), so the composed plan gets its own
    // decade. Corpus shape: 2-5 pages per archive in the q174 trap
    // structure (link-only nav/footer around one real paragraph), two
    // charset arms (UTF-8 / ISO-8859-1 with a codepage-sensitive é in
    // the KEPT paragraph), ~10% of pages drawn from 100 duplicate
    // FAMILIES (the realistic template-dup classes the md5 window
    // must collapse, each ~0.1% of the corpus — bounded, so the
    // window key is not a whale), 20% gzip'd archives, 2% junk.
    if (wanted("webPipeline")) {
      val warcPath = "target/scale_warc_pipe.parquet"
      val genWeb = udf { (id: Long) =>
        if (id % 50 == 17) "not a warc at all".getBytes("UTF-8")
        else {
          val bos = new java.io.ByteArrayOutputStream()
          def rec(headers: String, payload: Array[Byte]): Unit = {
            bos.write(("WARC/1.0\r\n" + headers +
              "Content-Length: " + payload.length + "\r\n\r\n")
              .getBytes("UTF-8"))
            bos.write(payload)
            bos.write("\r\n\r\n".getBytes("UTF-8"))
          }
          val nIn = 2 + (id % 4).toInt
          var d = 0
          while (d < nIn) {
            val dup = (id * 7 + d) % 10 == 9
            // duplicate pages draw their body from one of 100 shared
            // families; unique pages seed from (file, slot)
            val seed = if (dup) 424200L + (id + d) % 100
              else id * 131 + d
            val rnd = new java.util.Random(seed * 2654435761L + 7L)
            val words = 20 + rnd.nextInt(180)
            val para = new StringBuilder("café ")
            var j = 0
            while (j < words) {
              para.append("w").append(rnd.nextInt(20000)).append(' ')
              j += 1
            }
            val html = "<div><a href=\"/\">Home</a> <a href=\"/a\">About</a> " +
              "<a href=\"/c\">Contact us</a></div><p>" + para +
              "</p><p>Read on</p><div>meta <a href=\"/p\">Privacy</a> " +
              "<a href=\"/t\">Terms of use</a></div>"
            // charset arms: duplicates pin UTF-8 (family identity must
            // survive the decode); uniques alternate with Latin-1
            val latin1 = !dup && (id + d) % 3 == 1
            val ctype = if (latin1) "text/html; charset=iso-8859-1"
              else "text/html; charset=utf-8"
            val body = html.getBytes(
              if (latin1) "ISO-8859-1" else "UTF-8")
            val http = ("HTTP/1.1 200 OK\r\nContent-Type: " + ctype +
              "\r\n\r\n").getBytes("UTF-8") ++ body
            rec("WARC-Type: response\r\n" +
              s"WARC-Target-URI: http://ex.com/$id/$d\r\n" +
              "Content-Type: application/http; msgtype=response\r\n", http)
            d += 1
          }
          val plain = bos.toByteArray
          if (id % 5 == 0) {
            val gz = new java.io.ByteArrayOutputStream()
            val g = new java.util.zip.GZIPOutputStream(gz)
            g.write(plain); g.close(); gz.toByteArray
          } else plain
        }
      }
      spark.range(nDocs)
        .select(col("id").as("file_id"), genWeb(col("id")).as("content"))
        .write.mode("overwrite").parquet(warcPath)
      val files = spark.read.parquet(warcPath)
      run("webPipeline") {
        import org.apache.spark.sql.expressions.Window
        val recs = graft.operators.Warc.records(files)
          .filter(col("warc_type") === "response")
        val h = call_function(graft.expr.HttpText.FunctionName, col("payload"))
        val pages = recs.select(col("file_id"),
          col("target_uri").as("url"),
          h.getField("charset").as("charset"),
          h.getField("text").as("html"))
          .withColumn("page_id",
            xxhash64(col("file_id"), col("url")))
        // q174 single-plan form: passengers through the reassembly,
        // ONE WARC decode pass
        val keyed = graft.operators.Corpus.removeHtmlBoilerplate(
            pages, "page_id", "html", passengers = Seq("url", "charset"))
          .withColumn("text_md5", md5(col("clean_text")))
        val w = Window.partitionBy("text_md5")
        keyed.withColumn("kept",
            (col("page_id") === min(col("page_id")).over(w)).cast("int"))
          .select(col("page_id"), col("url"), col("charset"),
            substring(col("clean_text"), 1, 100).as("clean_text"),
            col("text_md5"), col("kept"))
      }
    }

    // q180 COMPOSITION at corpus scale: the BINARY crawl route —
    // WARC walk → graft_http_body (binary split) → content-type route
    // → distributed PdfText (per-row inflate + text-operator walk) →
    // md5 window dedup, ONE relational plan. q174's decade covered
    // the HTML route; this one adds the inflate and the PDF operator
    // walk inside the same explode. Corpus shape: 1-3 PDF responses
    // per archive plus one text/html response the route must DROP,
    // ~60% of PDFs behind /FlateDecode (real writers compress
    // streams), ~10% of PDFs in 100 bounded duplicate families, 20%
    // gzip'd archives, 2% junk files.
    if (wanted("crawlDocuments")) {
      val warcPath = "target/scale_warc_pdf.parquet"
      val genPdf = udf { (id: Long) =>
        if (id % 50 == 17) "not a warc at all".getBytes("UTF-8")
        else {
          val bos = new java.io.ByteArrayOutputStream()
          def rec(ctype: String, body: Array[Byte], slot: Int): Unit = {
            val http = ("HTTP/1.1 200 OK\r\nContent-Type: " + ctype +
              "\r\n\r\n").getBytes("ISO-8859-1") ++ body
            bos.write(("WARC/1.0\r\nWARC-Type: response\r\n" +
              s"WARC-Target-URI: http://ex.com/$id/$slot\r\n" +
              "Content-Type: application/http; msgtype=response\r\n" +
              "Content-Length: " + http.length + "\r\n\r\n")
              .getBytes("UTF-8"))
            bos.write(http)
            bos.write("\r\n\r\n".getBytes("UTF-8"))
          }
          val nPdf = 1 + (id % 3).toInt
          var d = 0
          while (d < nPdf) {
            val dup = (id * 11 + d) % 10 == 9
            val seed = if (dup) 848400L + (id + d) % 100 else id * 137 + d
            val rnd = new java.util.Random(seed * 2654435761L + 11L)
            val words = 30 + rnd.nextInt(150)
            val sb = new StringBuilder("BT /F1 12 Tf (Report ")
            var j = 0
            while (j < words) {
              sb.append("w").append(rnd.nextInt(20000)).append(' ')
              if (j % 12 == 11) sb.append(") Tj 0 -14 Td (")
              j += 1
            }
            sb.append(") Tj ET")
            val stream = sb.toString.getBytes("ISO-8859-1")
            val flate = (id + d) % 5 < 3 // ~60% compressed
            val payload = if (flate) {
              val dz = new java.util.zip.Deflater()
              dz.setInput(stream); dz.finish()
              val zb = new java.io.ByteArrayOutputStream()
              val buf = new Array[Byte](4096)
              while (!dz.finished()) zb.write(buf, 0, dz.deflate(buf))
              dz.end(); zb.toByteArray
            } else stream
            val pdf = new java.io.ByteArrayOutputStream()
            pdf.write(("%PDF-1.4\n4 0 obj << /Length " + payload.length +
              (if (flate) " /Filter /FlateDecode" else "") +
              " >>\nstream\n").getBytes("ISO-8859-1"))
            pdf.write(payload)
            pdf.write("\nendstream\nendobj\n%%EOF\n".getBytes("ISO-8859-1"))
            rec("application/pdf", pdf.toByteArray, d)
            d += 1
          }
          rec("text/html",
            "<p>markup the pdf route must drop</p>".getBytes("UTF-8"), 9)
          val plain = bos.toByteArray
          if (id % 5 == 0) {
            val gz = new java.io.ByteArrayOutputStream()
            val g = new java.util.zip.GZIPOutputStream(gz)
            g.write(plain); g.close(); gz.toByteArray
          } else plain
        }
      }
      spark.range(nDocs)
        .select(col("id").as("file_id"), genPdf(col("id")).as("content"))
        .write.mode("overwrite").parquet(warcPath)
      val files = spark.read.parquet(warcPath)
      run("crawlDocuments") {
        import org.apache.spark.sql.expressions.Window
        val docs = graft.operators.Warc.binaryDocuments(files,
            contentTypes = Seq("application/pdf"))
          .select(col("file_id"), col("url"),
            call_function(graft.expr.PdfText.FunctionName, col("body"))
              .as("pdf_text"))
          .withColumn("text_md5", md5(col("pdf_text")))
        val w = Window.partitionBy("text_md5")
        docs.withColumn("kept",
            (col("url") === min(col("url")).over(w)).cast("int"))
          .select(col("file_id"), col("url"),
            substring(col("pdf_text"), 1, 100).as("pdf_text"),
            col("text_md5"), col("kept"))
      }
    }

    // Crawl → AUDIO route (the q202 shape at scale): WARC files each
    // carrying 1–3 audio responses across the codec tier — OGG/Vorbis
    // (silence AND loud-pattern streams, short + mixed long blocks),
    // FLAC (verbatim encode of a formula clip), raw WAV — plus an
    // HTML record the route drops and 2% junk files; route → native
    // graft_audio_decode dispatch → graft_audio_stats in one plan.
    if (wanted("crawlAudio")) {
      val warcPath = "target/scale_warc_audio.parquet"
      val genAudio = udf { (id: Long) =>
        if (id % 50 == 17) "not a warc at all".getBytes("UTF-8")
        else {
          val bos = new java.io.ByteArrayOutputStream()
          def rec(ctype: String, body: Array[Byte], slot: Int): Unit = {
            val http = ("HTTP/1.1 200 OK\r\nContent-Type: " + ctype +
              "\r\n\r\n").getBytes("ISO-8859-1") ++ body
            bos.write(("WARC/1.0\r\nWARC-Type: response\r\n" +
              s"WARC-Target-URI: http://ex.com/$id/$slot\r\n" +
              "Content-Type: application/http; msgtype=response\r\n" +
              "Content-Length: " + http.length + "\r\n\r\n")
              .getBytes("UTF-8"))
            bos.write(http)
            bos.write("\r\n\r\n".getBytes("UTF-8"))
          }
          val nClips = 1 + (id % 3).toInt
          var d = 0
          while (d < nClips) {
            val arm = (id * 7 + d) % 4
            if (arm == 0)
              rec("audio/ogg", graft.expr.VorbisBuild.silence(
                (id % 2 + 1).toInt, 8000, (id % 5 + 3).toInt,
                mixedBlocks = id % 4 < 2), d)
            else if (arm == 1)
              rec("audio/ogg", graft.expr.VorbisBuild.pattern(8000, 32,
                w => w % 2 == 0 && (id * 31 + w) % 3 == 0 || w == 0,
                seed = id * 13 + d), d)
            else if (arm == 2) {
              val vs = Array.tabulate(64 + (id % 64).toInt)(k =>
                ((((id * 64 + k * 2) * (id * 64 + k * 2)) % 1000003L)
                  * 48271L >> 8).toInt % 30001 - 15000)
              rec("audio/flac", graft.expr.FlacBuild.encode(
                Array(vs), 8000, 16, 64, "indep", "fixed2",
                partOrder = 0), d)
            } else {
              val n = 64 + (id % 64).toInt
              val bb = java.nio.ByteBuffer.allocate(44 + n * 2)
                .order(java.nio.ByteOrder.LITTLE_ENDIAN)
              bb.put("RIFF".getBytes("ISO-8859-1")).putInt(36 + n * 2)
                .put("WAVE".getBytes("ISO-8859-1"))
                .put("fmt ".getBytes("ISO-8859-1")).putInt(16)
                .putShort(1).putShort(1).putInt(8000).putInt(16000)
                .putShort(2).putShort(16)
                .put("data".getBytes("ISO-8859-1")).putInt(n * 2)
              var k = 0
              while (k < n) {
                bb.putShort((((id * 29 + k * 4099) % 20001) - 10000).toShort)
                k += 1
              }
              rec("audio/wav", bb.array(), d)
            }
            d += 1
          }
          rec("text/html",
            "<p>markup the audio route must drop</p>".getBytes("UTF-8"), 9)
          bos.toByteArray
        }
      }
      spark.range(nDocs)
        .select(col("id").as("file_id"), genAudio(col("id")).as("content"))
        .write.mode("overwrite").parquet(warcPath)
      val files = spark.read.parquet(warcPath)
      run("crawlAudio") {
        val m = call_function(graft.expr.AudioStats.FunctionName,
          call_function(graft.expr.AudioDecodeExpr.FunctionName,
            col("body")))
        graft.operators.Warc.binaryDocuments(files,
            contentTypes = Seq("audio/ogg", "audio/flac", "audio/wav"))
          .select(col("file_id"), col("url"), m.as("_m"))
          .select(col("file_id"), col("url"),
            col("_m.format").as("format"),
            col("_m.channels").as("channels"),
            col("_m.n_samples").as("n_samples"),
            col("_m.sum").as("sum"), col("_m.sumsq").as("sumsq"),
            col("_m.peak").as("peak"), col("_m.silent").as("silent"))
      }
    }

    // Archive → documents route (the q206/q207/q208 shape at scale):
    // mixed source dumps — plain tar, tar.gz, tar.bz2 (clean-room
    // decoder), zip — each with 3–10 text files, 2% junk; explode to
    // per-file rows + an exact-dedup stage (the source-dataset
    // pipeline's first two steps).
    if (wanted("archiveDocuments")) {
      val arcPath = "target/scale_archives.parquet"
      val genArc = udf { (id: Long) =>
        if (id % 50 == 17) "not an archive at all".getBytes("UTF-8")
        else {
          val rnd = new java.util.Random(id * 2654435761L + 17L)
          val k = 3 + rnd.nextInt(8)
          def contentOf(j: Int): Array[Byte] = {
            // ~10% cross-archive duplicate families
            val dup = (id * 13 + j) % 10 == 3
            val seed = if (dup) 4242L + (id + j) % 64 else id * 131 + j
            val r2 = new java.util.Random(seed)
            val sb = new StringBuilder()
            val words = 20 + r2.nextInt(200)
            var w = 0
            while (w < words) { sb.append("tok").append(r2.nextInt(30000)).append(' '); w += 1 }
            sb.toString.getBytes("UTF-8")
          }
          val arm = id % 4
          if (arm == 3) {
            // zip via the JDK writer
            val bos = new java.io.ByteArrayOutputStream()
            val z = new java.util.zip.ZipOutputStream(bos)
            var j = 0
            while (j < k) {
              z.putNextEntry(new java.util.zip.ZipEntry(s"src/f$j.txt"))
              z.write(contentOf(j)); z.closeEntry(); j += 1
            }
            z.close(); bos.toByteArray
          } else {
            val out = new java.io.ByteArrayOutputStream()
            var j = 0
            while (j < k) {
              val c = contentOf(j)
              val pad = (512 - c.length % 512) % 512
              out.write(tarHeader(s"src/f$j.txt", c.length))
              out.write(c); out.write(new Array[Byte](pad))
              j += 1
            }
            out.write(new Array[Byte](1024))
            val plain = out.toByteArray
            if (arm == 1) {
              val gz = new java.io.ByteArrayOutputStream()
              val g = new java.util.zip.GZIPOutputStream(gz)
              g.write(plain); g.close(); gz.toByteArray
            } else if (arm == 2) graft.expr.Bzip2Build.encode(plain, 1)
            else plain
          }
        }
      }
      spark.range(nDocs)
        .select(col("id").as("file_id"), genArc(col("id")).as("content"))
        .write.mode("overwrite").parquet(arcPath)
      val files = spark.read.parquet(arcPath)
      run("archiveDocuments") {
        import org.apache.spark.sql.expressions.Window
        val tarE = call_function(graft.expr.TarEntries.FunctionName,
          col("content"), lit(64))
        val zipE = call_function(graft.expr.ZipEntries.FunctionName,
          col("content"))
        val docs = files
          .select(col("file_id"),
            explode(coalesce(tarE, zipE)).as("e"))
          .select(col("file_id"), col("e.path").as("path"),
            md5(col("e.content")).as("text_md5"),
            length(col("e.content")).as("n_bytes"))
        val w = Window.partitionBy("text_md5")
        docs.withColumn("kept",
          (concat(col("file_id"), lit("/"), col("path")) ===
            min(concat(col("file_id"), lit("/"), col("path"))).over(w))
            .cast("int"))
      }
    }

    if (wanted("sessionStats", "asofJoin")) {
    val nEvents = nDocs * 20
    spark.range(nEvents).select(
      col("id").as("event_id"),
      when(pmod(xxhash64(col("id")), lit(20L)) === 0L, lit(0L))
        .otherwise(pmod(xxhash64(col("id") + 7L), lit(10000L))).as("user_id"),
      timestamp_seconds(
        lit(1704067200L) + pmod(xxhash64(col("id") + 13L), lit(2592000L)))
        .as("ts2"),
      (pmod(xxhash64(col("id") + 19L), lit(1000L)).cast("double") / 10.0).as("value"))
      .write.mode("overwrite").parquet("target/scale_events.parquet")
    val ev = spark.read.parquet("target/scale_events.parquet")
    run("sessionStats")(
      graft.operators.Sessions.sessionStats(ev, "user_id", "ts2", "event_id",
        gapSeconds = 1800, graft.functions.Normalize.tsFormat))
    run("asofJoin")({
      val purchases = ev.filter(pmod(col("event_id"), lit(10L)) === 0L)
        .select(col("event_id"), col("user_id"), col("ts2"), col("value"))
      val quotes = graft.operators.Joins.latestPerKeyTs(
        ev.filter(pmod(col("event_id"), lit(10L)) =!= 0L)
          .withColumnRenamed("value", "ref_value"),
        "user_id", "ts2", "event_id", Seq("ref_value"))
      graft.operators.Joins.asofJoin(purchases, quotes, "user_id", "ts2",
        Seq("ref_value"))
    })
    }

    // ----------------------------------------- iterative-op stressors
    // The 50× targets (round-5 VERDICT item 6): one-pass kernels showed
    // no superlinear term at 10×; these two ITERATE, so rounds × volume
    // is where one would hide. Sized from nDocs: nDocs=250000 = 50× the
    // sf0.1 bench documents table.

    // Distributed min-label propagation, isolated from the jaccard
    // front-end (nearDupClusters' pair lists resolve on the driver —
    // bounded union-find — so the loop never runs there): chains of 12
    // give diameter 11 → 12 propagation rounds, and a hub star merges
    // 5% of all nodes into one whale component (skewed neighborMin
    // groups). driverThreshold=0 forces the distributed regime the way
    // KernelPropertySpec does; production resolves this volume on the
    // driver by design.
    run("ccPropagation")({
      val chains = spark.range(nDocs)
        .filter(pmod(col("id"), lit(12L)) =!= 11L)
        .select(col("id").as("id1"), (col("id") + 1L).as("id2"))
      val star = spark.range(nDocs / 240L)
        .select(lit(0L).as("id1"), (col("id") * 240L + 5L).as("id2"))
      Dedup.connectedComponents(chains.union(star), maxIter = 20,
        driverThreshold = 0L)
    })

    // IVF assign → exact-decimal recompute → re-assign at 50× vector
    // volume (nDocs × 2/5 matches the embeddings:documents row ratio of
    // the bench tables): 32 true centers, the hot center holding ~30%
    // of vectors — the skew case for the per-(cell,dim) recompute agg
    // and the per-vector best-cell window.
    // 64-d skewed vector fixture shared by the kmeans and PQ stressors
    // (32 true centers, hot center holding ~30% of vectors)
    lazy val skewVecs: DataFrame = {
      val nVecs = nDocs * 2L / 5L
      val genVec = udf { (id: Long) =>
        // seeds (ids < 32) cover each center once; the hot center only
        // recruits from the rest of the corpus
        val c = if (id >= 32 && id % 10 < 3) 0 else (id % 32).toInt
        val rnd = new java.util.Random(id * 1315423911L + 7L)
        Array.tabulate(64) { j =>
          (math.sin((c * 64 + j).toDouble) + 0.1 * rnd.nextGaussian()).toFloat
        }
      }
      spark.range(nVecs)
        .select(col("id").as("vec_id"), genVec(col("id")).as("embedding"))
        .write.mode("overwrite").parquet("target/scale_vecs.parquet")
      spark.read.parquet("target/scale_vecs.parquet")
    }
    if (wanted("kmeansRefineAssign", "semanticDedup", "trainCentroidsAuto",
        "semanticDedupAuto")) {
      val vecs = skewVecs
      run("kmeansRefineAssign")(
        graft.operators.Similarity.kmeansRefineAssign(
          vecs, vecs.filter(col("vec_id") < 32), "vec_id", "embedding"))
      // the same skewed corpus is semanticDedup's worst case: the hot
      // center's ~30% share lands in ONE cell, so the within-cell
      // self-join's pair expansion concentrates on a single cell id —
      // the quadratic term the cell-bucketing claim has to survive
      run("semanticDedup")(
        graft.operators.Similarity.semanticDedup(
          vecs, vecs.filter(col("vec_id") < 32), "vec_id", "embedding",
          threshold = 0.9))
      // the auto-k trainer's N×k assignment term at k=√N (N^1.5): one
      // count, TakeOrdered(√N) seeds, one refine round — the cost the
      // SCALE.md auto-k caveat quantifies
      run("trainCentroidsAuto")(
        graft.operators.Similarity.trainCentroids(vecs, "vec_id", "embedding"))
      run("semanticDedupAuto")(
        graft.operators.Similarity.semanticDedupAuto(
          vecs, "vec_id", "embedding", threshold = 0.9))
    }

    // PQ at production codebook size (m=4 × k=256): the assignment's
    // candidate expansion is N·m·k scored rows (205M at 50×) collapsed
    // by the map-side argmin aggregate — the SCALE.md argmin rule's
    // stress case. Train is timed alone; encode runs against a LOCAL
    // codebook copy (m·k rows — the production shape: codebooks ship
    // with the job); ADC search reads a PERSISTED code table, the way
    // a deployed index is queried (no vector column anywhere in it).
    if (wanted("pqTrainCodebooks", "pqEncode", "pqAdcTopK", "ivfPqTopK")) {
      import graft.operators.Similarity
      run("pqTrainCodebooks")(
        Similarity.pqTrainCodebooks(skewVecs, "vec_id", "embedding",
          dim = 64, m = 4, k = 256, rounds = 1))
      val cbLocal = {
        val trained = Similarity.pqTrainCodebooks(skewVecs, "vec_id",
          "embedding", dim = 64, m = 4, k = 256, rounds = 1)
        spark.createDataFrame(
          new java.util.ArrayList(java.util.Arrays.asList(
            trained.collect(): _*)), trained.schema)
      }
      run("pqEncode")(
        Similarity.pqEncode(skewVecs, cbLocal, "vec_id", "embedding",
          dim = 64, m = 4))
      val encPath = "target/scale_pq_enc.parquet"
      Similarity.pqEncode(skewVecs, cbLocal, "vec_id", "embedding",
          dim = 64, m = 4)
        .write.mode("overwrite").parquet(encPath)
      val enc = spark.read.parquet(encPath)
      run("pqAdcTopK")(
        Similarity.pqTopK(skewVecs.filter(col("vec_id") < 16), enc, cbLocal,
          "vec_id", "embedding", k = 10, dim = 64, m = 4))
      // IVF+PQ over a cell-PARTITIONED index: the eagerly-resolved
      // probe set becomes a static isin on the partition column, so
      // the scan prunes to the probed cells' files — watch `in=` fall
      // to those cells' rows only. TWO queries × nProbe=2 probe ≤ 4
      // of the 32 cells (16 queries would cover nearly all cells and
      // nothing could prune — the claim needs a selective probe set)
      val idxPath = "target/scale_pq_index.parquet"
      Similarity.pqIndex(skewVecs, skewVecs.filter(col("vec_id") < 32),
          cbLocal, "vec_id", "embedding", dim = 64, m = 4)
        .write.mode("overwrite").partitionBy("centroid_id").parquet(idxPath)
      // explicit schema: partition-type inference would read the cell
      // id as INT, and the INT→LONG cast on the partition column
      // blocks dynamic partition pruning
      val idx = spark.read
        .schema("vec_id BIGINT, sub BIGINT, code BIGINT, centroid_id BIGINT")
        .parquet(idxPath)
      val ivfpqQ = Similarity.ivfPqTopK(skewVecs.filter(col("vec_id") < 2),
        idx, skewVecs.filter(col("vec_id") < 32), cbLocal, "vec_id",
        "embedding", k = 10, nProbe = 2, dim = 64, m = 4)
      run("ivfPqTopK")(ivfpqQ)
    }

    // semantic dedup-on-ingest at corpus scale: the claim under test is
    // that the ARRIVAL's corpus side partition-prunes to the touched
    // cells — the structural advantage over the posting-index scan
    // floor (see SCALE.md "Dedup-on-ingest at 50×"). Needs its own
    // corpus: the kmeans fixture's same-center cosines sit at ~0.98, so
    // any build-time dedup would collapse each cell. Noise 0.5 puts
    // same-cell distinct members at ~0.67 cosine (kept at t=0.95);
    // planted dup arrivals are exact copies (cosine 1.0, dropped). The
    // arrival batch draws from TWO of the 32 cells, so its `in=` count
    // should be ≈ batch + 2/32 of the index, not the whole index.
    if (wanted("semIngestBuild", "semIngestArrival")) {
      val nVecs = nDocs * 2L / 5L
      // Gaussian centers, NOT the kmeans fixture's sin sequences: those
      // share one frequency so centers differ only in PHASE, and pairs
      // at Δc=11 sit at cos≈0.94 — assignments smear across correlated
      // cells and the arrival would touch far more than its 2 cells.
      // Seeded gaussians are near-orthogonal in 64-d (cos std 1/8).
      def centerArr(c: Int): Array[Double] = {
        val r = new java.util.Random(c * 9973L + 17L)
        Array.fill(64)(r.nextGaussian())
      }
      val genIV = udf { (id: Long) =>
        val base = centerArr((id % 32).toInt)
        val rnd = new java.util.Random(id * 2246822519L + 3L)
        Array.tabulate(64)(j => (base(j) + 0.5 * rnd.nextGaussian()).toFloat)
      }
      spark.range(nVecs)
        .select(col("id").as("vec_id"), genIV(col("id")).as("embedding"))
        .write.mode("overwrite").parquet("target/scale_ivecs.parquet")
      val ivecs = spark.read.parquet("target/scale_ivecs.parquet")
      val genCent = udf { (c: Long) =>
        centerArr(c.toInt).map(_.toFloat)
      }
      val cents = spark.range(32)
        .select(col("id").as("vec_id"), genCent(col("id")).as("embedding"))
      val docsPath = "target/scale_semingest_docs.parquet"
      val cellsPath = "target/scale_semingest_cells.parquet"
      val fs = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(docsPath), true)
      fs.delete(new org.apache.hadoop.fs.Path(cellsPath), true)
      // the batch call is eager (writes inside), so returning range(1)
      // keeps the counted frame from re-reading the docs table and
      // polluting the in= evidence
      def ingest(batch: DataFrame): DataFrame = {
        graft.streaming.StreamingIngest.semanticDedupIngestBatch(batch,
          docsPath, cellsPath, cents, "vec_id", "embedding",
          threshold = 0.95)
        spark.range(1).toDF("ok")
      }
      run("semIngestBuild")(ingest(ivecs))
      val nArr = nVecs / 100
      val dups = ivecs
        .filter(pmod(col("vec_id"), lit(32L)).isin(7L, 19L))
        .limit((nArr / 2).toInt)
        .select((col("vec_id") + 10000000L).as("vec_id"), col("embedding"))
      val fresh = spark.range(nArr / 2)
        .select((lit(20000000L) + col("id") * 32L +
          when(pmod(col("id"), lit(2L)) === 0L, 7L).otherwise(19L))
          .as("vec_id"))
        .select(col("vec_id"), genIV(col("vec_id")).as("embedding"))
      // materialize the batch outside the timed region — deriving it
      // lazily from the corpus parquet would charge corpus re-reads to
      // the arrival's in= and bury the pruning evidence
      dups.unionAll(fresh).write.mode("overwrite")
        .parquet("target/scale_semingest_batch.parquet")
      val arrival = spark.read.parquet("target/scale_semingest_batch.parquet")
      run("semIngestArrival")(ingest(arrival))
      println(s"  semIngest docs rows=${spark.read.parquet(docsPath).count()}" +
        s" cells=${spark.read.parquet(cellsPath)
          .select("centroid_id").distinct().count()}")
    }

    // perceptual MEDIA dedup-on-ingest at corpus scale (round 14 —
    // the media sibling of dedupIngest*): the bucketed signature
    // index grows with the corpus while every arrival batch stays
    // trigger-bounded. Claims under test: (a) the arrival's join
    // memory is bounded by the BATCH (the index streams through a
    // LeftSemi SHJ whose hash side is the batch — the round-14
    // advisor fix), so spill stays 0 and task memory flat across the
    // decade; (b) re-encodes of indexed images (same pixels, BMP vs
    // PPM bytes) drop, fresh images survive; (c) committed media
    // files are NEVER rewritten by later batches (append-only
    // batch-dir isolation — byte-identity checked by file listing).
    if (wanted("mediaIngestBuild", "mediaIngestArrival")) {
      val nMedia = math.max(nDocs / 5, 1000L)
      val mediaPath = "target/scale_media_ingest.parquet"
      val sigTable = "scale_media_sigs"
      spark.sql(s"DROP TABLE IF EXISTS $sigTable")
      val fs = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(mediaPath), true)
      // deterministic 18×14 gray image per family: pixel brightness
      // SIGN pattern from the id's LOW 24 bits (the ScaleSpec lesson —
      // a linear ramp would alias families onto one gradient ahash;
      // and fresh families must differ in the low bits, not above
      // bit 24, or they alias onto indexed signatures);
      // enc 0 = PPM, enc 1 = BMP of the SAME pixels (a re-encode:
      // different bytes, same perceptual signature)
      val px = udf { (fam: Long, enc: Int) =>
        val w = 18; val h = 14
        def v(x: Int, y: Int): Int =
          if (((fam >> ((x / 2 + (y / 2) * 9) % 24)) & 1L) == 1L) 220 else 30
        if (enc == 0) {
          s"P6\n$w $h\n255\n".getBytes("ISO-8859-1") ++
            Array.tabulate[Byte](w * h * 3)(i => v(i / 3 % w, i / 3 / w).toByte)
        } else {
          val stride = (w * 3 + 3) / 4 * 4
          val body = new Array[Byte](stride * h)
          for (y <- 0 until h; x <- 0 until w; c <- 0 until 3)
            body((h - 1 - y) * stride + x * 3 + c) = v(x, y).toByte
          "BM".getBytes("ISO-8859-1") ++ le32(54 + body.length) ++
            le32(0) ++ le32(54) ++ le32(40) ++ le32(w) ++ le32(h) ++
            le16(1) ++ le16(24) ++ le32(0) ++ le32(body.length) ++
            le32(0) ++ le32(0) ++ le32(0) ++ le32(0) ++ body
        }
      }
      def mediaCorpus(n: Long, idOff: Long, famOff: Long,
          enc: Int): DataFrame =
        spark.range(n).select((col("id") + idOff).as("media_id"),
          px(col("id") + famOff, lit(enc)).as("content"))
      def ingest(batch: DataFrame, bid: Long): DataFrame = {
        graft.streaming.StreamingIngest.mediaDedupIngestBatch(batch,
          mediaPath, sigTable, "media_id", "content", gx = 9, gy = 7,
          buckets = 32, batchId = bid)
        spark.read.parquet(mediaPath)
      }
      run("mediaIngestBuild")(ingest(mediaCorpus(nMedia, 0, 0, enc = 0), 0))
      val committed = fs.listFiles(
        new org.apache.hadoop.fs.Path(mediaPath), true)
      val before = scala.collection.mutable.Map[String, Long]()
      while (committed.hasNext) {
        val f = committed.next()
        before(f.getPath.toString) = f.getLen
      }
      // arrival: 2% of corpus — half RE-ENCODES of indexed families
      // (BMP bytes, new ids: must drop against the index), half fresh
      // families (must survive); materialized outside the timed
      // region so in= stays the arrival's own
      val nArr = nMedia / 50
      val dups = mediaCorpus(nArr, 10000000L, 0L, enc = 1)
      val fresh = mediaCorpus(nArr, 20000000L, 5000000L, enc = 0)
      dups.unionAll(fresh).write.mode("overwrite")
        .parquet("target/scale_media_batch.parquet")
      val arrival = spark.read.parquet("target/scale_media_batch.parquet")
      run("mediaIngestArrival")(ingest(arrival, 1))
      val total = spark.read.parquet(mediaPath).count()
      println(s"  mediaIngest rows=$total (expect ${nMedia + nArr}: " +
        s"all $nMedia built + $nArr fresh, $nArr re-encodes dropped)")
      val after = fs.listFiles(new org.apache.hadoop.fs.Path(mediaPath), true)
      var rewritten = 0
      var seen = 0
      while (after.hasNext) {
        val f = after.next()
        before.get(f.getPath.toString).foreach { len =>
          seen += 1
          if (len != f.getLen) rewritten += 1
        }
      }
      println(s"  mediaIngest immutability: ${before.size} committed files," +
        s" $seen still present, $rewritten rewritten (expect 0)")
      spark.sql(s"DROP TABLE IF EXISTS $sigTable")
    }

    // archive tier COMPOSED with document dedup-on-ingest (round 15 —
    // the r14 verdict's item 6): streaming arrival of ARCHIVES →
    // entries explode (tar/tar.gz/tar.bz2/zip/tar.zst/7z, all six
    // container arms through the magic dispatch) → dedupIngestBatch
    // over the per-file text. Claims under test: (a) the explode +
    // decompress term stays linear and spill-free inside the ingest
    // plan; (b) re-PACKAGED duplicates (same file text arriving in a
    // DIFFERENT archive format) drop against the index, fresh
    // archives survive; (c) a REPLAYED arrival batch self-filters to
    // zero appends; (d) committed docs/postings files are never
    // rewritten (byte-identity by listing).
    if (wanted("archiveIngestBuild", "archiveIngestArrival")) {
      val nArch = math.max(nDocs / 5, 500L)
      val arcPath = "target/scale_arcingest_files.parquet"
      val docsPath = "target/scale_arcingest_docs.parquet"
      val table = "scale_arcingest_postings"
      spark.sql(s"DROP TABLE IF EXISTS $table")
      val fs = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(docsPath), true)
      fs.delete(new org.apache.hadoop.fs.Path(docsPath + "_bloom"), false)
      // one file's text: family-seeded so a REPACKAGED twin (same
      // family in another archive/format) is an exact dup
      def fileText(fam: Long): String = {
        val r2 = new java.util.Random(fam * 2654435761L + 29L)
        val sb = new StringBuilder()
        val words = 30 + r2.nextInt(170)
        var w = 0
        while (w < words) {
          sb.append("tok").append(r2.nextInt(30000)).append(' ')
          w += 1
        }
        sb.toString
      }
      // arm = archive format; famOff shifts the content families
      val genArc = udf { (id: Long, famOff: Long, armShift: Int) =>
        val rnd = new java.util.Random(id * 6364136223846793005L + 47L)
        val k = 3 + rnd.nextInt(6)
        val entries = (0 until k).map(j =>
          s"src/f$j.txt" -> fileText(famOff + id * 16 + j)
            .getBytes("UTF-8"))
        ((id + armShift) % 9).toInt match {
          case 5 => // 7z (copy / store-LZMA2 alternating)
            graft.expr.SevenZipBuild.build(entries.map { case (n, c) =>
              graft.expr.SevenZipBuild.Entry(n, c) }, lzma2 = id % 2 == 1)
          case arm =>
            val out = new java.io.ByteArrayOutputStream()
            if (arm == 3) {
              val z = new java.util.zip.ZipOutputStream(out)
              entries.foreach { case (n, c) =>
                z.putNextEntry(new java.util.zip.ZipEntry(n))
                z.write(c); z.closeEntry()
              }
              z.close()
              out.toByteArray
            } else {
              entries.foreach { case (n, c) =>
                out.write(tarHeader(n, c.length))
                out.write(c)
                out.write(new Array[Byte]((512 - c.length % 512) % 512))
              }
              out.write(new Array[Byte](1024))
              val plain = out.toByteArray
              arm match {
                case 1 =>
                  val gz = new java.io.ByteArrayOutputStream()
                  val g = new java.util.zip.GZIPOutputStream(gz)
                  g.write(plain); g.close(); gz.toByteArray
                case 2 => graft.expr.Bzip2Build.encode(plain, 1)
                case 4 => graft.expr.ZstdBuild.store(plain)
                case 6 => graft.expr.Lz4Build.frame(plain,
                  blockCk = id % 2 == 0, contentSize = true)
                case 7 => graft.expr.SnappyBuild.framed(plain)
                case 8 => graft.expr.CompressBuild.compress(plain,
                  clearEvery = if (id % 2 == 0) 0 else 256)
                case _ => plain
              }
            }
        }
      }
      def archives(n: Long, idOff: Long, famOff: Long): DataFrame =
        spark.range(n).select((col("id") + idOff).as("file_id"),
          genArc(col("id") + idOff, lit(famOff), lit(0)).as("content"))
      def ingest(files: DataFrame): DataFrame = {
        val tarE = call_function(graft.expr.TarEntries.FunctionName,
          col("content"), lit(64))
        val zipE = call_function(graft.expr.ZipEntries.FunctionName,
          col("content"))
        val sevenE = call_function(graft.expr.SevenZip.FunctionName,
          col("content"), lit(64))
        val batch = files
          .select(col("file_id"), explode(coalesce(tarE, zipE, sevenE))
            .as("e"))
          .select(xxhash64(concat(col("file_id").cast("string"),
            lit(":"), col("e.path"))).as("doc_id"),
            decode(col("e.content"), "UTF-8").as("text"))
        graft.streaming.StreamingIngest.dedupIngestBatch(batch, docsPath,
          table, "doc_id", "text", n = 3, threshold = 0.7,
          maxDocFreq = 100L, buckets = 32, useBloom = true,
          bloomCapacity = 1L << 25)
        spark.read.parquet(docsPath)
      }
      archives(nArch, 0L, 0L).write.mode("overwrite").parquet(arcPath)
      val built = spark.read.parquet(arcPath)
      run("archiveIngestBuild")(ingest(built))
      val builtDocs = spark.read.parquet(docsPath).count()
      val committed = fs.listFiles(
        new org.apache.hadoop.fs.Path(docsPath), true)
      val before = scala.collection.mutable.Map[String, Long]()
      while (committed.hasNext) {
        val f = committed.next()
        before(f.getPath.toString) = f.getLen
      }
      // arrival: 2% new archives — half REPACKAGES of indexed
      // archives (SAME text families as built ids 0…, armShift 3
      // moves every one to a different container/compression: a tar
      // family re-arrives as zip, a .tar.bz2 as 7z, …), half fresh
      // families; materialized outside the timed region
      val nArr = math.max(nArch / 50, 8L)
      val dups = spark.range(nArr).select(
        (col("id") + 10000000L).as("file_id"),
        genArc(col("id"), lit(0L), lit(3)).as("content"))
      val fresh = archives(nArr, 20000000L, 1L << 40)
      dups.unionAll(fresh).write.mode("overwrite")
        .parquet("target/scale_arcingest_batch.parquet")
      val arrival = spark.read.parquet("target/scale_arcingest_batch.parquet")
      run("archiveIngestArrival")(ingest(arrival))
      val afterArrival = spark.read.parquet(docsPath).count()
      println(s"  archiveIngest docs: built=$builtDocs " +
        s"afterArrival=$afterArrival " +
        s"(dups repackaged from ${nArr} archives must add 0)")
      // replay: the SAME arrival batch again must self-filter to zero
      run("archiveIngestReplay")(ingest(arrival))
      val afterReplay = spark.read.parquet(docsPath).count()
      println(s"  archiveIngest replay: $afterArrival -> $afterReplay " +
        s"(expect equal)")
      val after = fs.listFiles(new org.apache.hadoop.fs.Path(docsPath), true)
      var rewritten = 0
      var seen = 0
      while (after.hasNext) {
        val f = after.next()
        before.get(f.getPath.toString).foreach { len =>
          seen += 1
          if (len != f.getLen) rewritten += 1
        }
      }
      println(s"  archiveIngest immutability: ${before.size} committed " +
        s"files, $seen still present, $rewritten rewritten (expect 0)")
      spark.sql(s"DROP TABLE IF EXISTS $table")
    }

    // DOCUMENT-ingest composition (round 16 — the r15 verdict's item
    // 4): archives whose members are DOCUMENTS (pdf/docx/rtf/.doc)
    // arrive in a stream → entries explode → graft_document_text is
    // the normalization inside dedupIngestBatch. Claims under test:
    // (a) the decode+extract term stays linear and spill-free in the
    // ingest plan; (b) CROSS-FORMAT duplicates (the same text
    // re-arriving as a DIFFERENT document format in a different
    // container) add 0 rows — the dedup key is the extracted text,
    // not the bytes; (c) a replayed arrival self-filters; (d)
    // committed files are never rewritten.
    if (wanted("documentIngestBuild", "documentIngestArrival")) {
      val nArch = math.max(nDocs / 5, 500L)
      val arcPath = "target/scale_docingest_files.parquet"
      val docsPath = "target/scale_docingest_docs.parquet"
      val table = "scale_docingest_postings"
      spark.sql(s"DROP TABLE IF EXISTS $table")
      val fs = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(docsPath), true)
      fs.delete(new org.apache.hadoop.fs.Path(docsPath + "_bloom"), false)
      def docText(fam: Long): String = {
        val r2 = new java.util.Random(fam * 2654435761L + 31L)
        val sb = new StringBuilder()
        val words = 30 + r2.nextInt(120)
        var w = 0
        while (w < words) {
          sb.append("tok").append(r2.nextInt(30000)).append(' ')
          w += 1
        }
        sb.toString.trim
      }
      // render one family's text as a document; fmt picks the format
      def renderDoc(fam: Long, fmt: Int): Array[Byte] = {
        val line = docText(fam)
        (fmt % 6) match {
          case 4 => // RFC-5322 message, the text as the body
            (s"From: gen@example.com\nSubject: fam\n\n$line\n")
              .getBytes("ISO-8859-1")
          case 5 => // Outlook .msg, same Subject-prefix shape as eml
            graft.expr.MsgBuild.msg("fam", line)
          case 0 =>
            val content = s"BT /F1 12 Tf ($line) Tj ET"
            ("%PDF-1.4\n" +
              s"4 0 obj << /Length ${content.length} >> stream\n" +
              content +
              "\nendstream endobj\ntrailer << /Root 1 0 R >>\n%%EOF\n")
              .getBytes("ISO-8859-1")
          case 1 =>
            val bos = new java.io.ByteArrayOutputStream()
            val z = new java.util.zip.ZipOutputStream(bos)
            z.putNextEntry(new java.util.zip.ZipEntry("word/document.xml"))
            z.write(("<w:document xmlns:w=\"http://schemas.openxml" +
              "formats.org/wordprocessingml/2006/main\"><w:body><w:p>" +
              s"<w:r><w:t>$line</w:t></w:r></w:p></w:body></w:document>")
              .getBytes("UTF-8"))
            z.closeEntry(); z.close(); bos.toByteArray
          case 2 => s"{\\rtf1 $line\\par}".getBytes("ISO-8859-1")
          case _ => graft.expr.DocBuild.doc(Seq((line + "\r", true)))
        }
      }
      // fmtShift re-renders the SAME family in a different format;
      // armShift flips the container (tar <-> zip)
      val genArc = udf { (id: Long, famOff: Long, fmtShift: Int,
          armShift: Int) =>
        val rnd = new java.util.Random(id * 6364136223846793005L + 53L)
        val k = 2 + rnd.nextInt(4)
        val exts = Array("pdf", "docx", "rtf", "doc", "eml", "msg")
        val entries = (0 until k).map { j =>
          val fmt = (((id + j + fmtShift) % 6) + 6).toInt % 6
          s"docs/f$j.${exts(fmt)}" -> renderDoc(famOff + id * 16 + j, fmt)
        }
        if (((id + armShift) & 1L) == 0L) {
          val out = new java.io.ByteArrayOutputStream()
          entries.foreach { case (n, c) =>
            out.write(tarHeader(n, c.length))
            out.write(c)
            out.write(new Array[Byte]((512 - c.length % 512) % 512))
          }
          out.write(new Array[Byte](1024))
          out.toByteArray
        } else {
          val out = new java.io.ByteArrayOutputStream()
          val z = new java.util.zip.ZipOutputStream(out)
          entries.foreach { case (n, c) =>
            z.putNextEntry(new java.util.zip.ZipEntry(n))
            z.write(c); z.closeEntry()
          }
          z.close()
          out.toByteArray
        }
      }
      def archives(n: Long, idOff: Long, famOff: Long): DataFrame =
        spark.range(n).select((col("id") + idOff).as("file_id"),
          genArc(col("id") + idOff, lit(famOff), lit(0), lit(0))
            .as("content"))
      def ingest(files: DataFrame): DataFrame = {
        val tarE = call_function(graft.expr.TarEntries.FunctionName,
          col("content"), lit(64))
        val zipE = call_function(graft.expr.ZipEntries.FunctionName,
          col("content"))
        val batch = files
          .select(col("file_id"), explode(coalesce(tarE, zipE)).as("e"))
          .select(xxhash64(concat(col("file_id").cast("string"),
            lit(":"), col("e.path"))).as("doc_id"),
            trim(regexp_replace(call_function(
              graft.expr.DocumentText.FunctionName, col("e.content")),
              "\\s+", " ")).as("text"))
        graft.streaming.StreamingIngest.dedupIngestBatch(batch, docsPath,
          table, "doc_id", "text", n = 3, threshold = 0.7,
          maxDocFreq = 100L, buckets = 32, useBloom = true,
          bloomCapacity = 1L << 25)
        spark.read.parquet(docsPath)
      }
      archives(nArch, 0L, 0L).write.mode("overwrite").parquet(arcPath)
      val built = spark.read.parquet(arcPath)
      run("documentIngestBuild")(ingest(built))
      val builtDocs = spark.read.parquet(docsPath).count()
      val committed = fs.listFiles(
        new org.apache.hadoop.fs.Path(docsPath), true)
      val before = scala.collection.mutable.Map[String, Long]()
      while (committed.hasNext) {
        val f = committed.next()
        before(f.getPath.toString) = f.getLen
      }
      // arrival: half CROSS-FORMAT re-renders of indexed families
      // (fmtShift 2: every pdf re-arrives as rtf, every docx as .doc,
      // …, and armShift 1 flips the container), half fresh families
      val nArr = math.max(nArch / 50, 8L)
      val dups = spark.range(nArr).select(
        (col("id") + 10000000L).as("file_id"),
        genArc(col("id"), lit(0L), lit(2), lit(1)).as("content"))
      val fresh = archives(nArr, 20000000L, 1L << 40)
      dups.unionAll(fresh).write.mode("overwrite")
        .parquet("target/scale_docingest_batch.parquet")
      val arrival = spark.read.parquet(
        "target/scale_docingest_batch.parquet")
      // expected adds = entries in the FRESH half only (the dup half
      // re-renders indexed families and must contribute nothing)
      val freshEntries = fresh.select(explode(coalesce(
        call_function(graft.expr.TarEntries.FunctionName,
          col("content"), lit(64)),
        call_function(graft.expr.ZipEntries.FunctionName,
          col("content")))).as("e")).count()
      run("documentIngestArrival")(ingest(arrival))
      val afterArrival = spark.read.parquet(docsPath).count()
      println(s"  documentIngest docs: built=$builtDocs " +
        s"afterArrival=$afterArrival adds=${afterArrival - builtDocs} " +
        s"freshEntries=$freshEntries (cross-format re-renders of " +
        s"$nArr archives add 0 iff adds == fresh)")
      run("documentIngestReplay")(ingest(arrival))
      val afterReplay = spark.read.parquet(docsPath).count()
      println(s"  documentIngest replay: $afterArrival -> $afterReplay " +
        s"(expect equal)")
      val after = fs.listFiles(new org.apache.hadoop.fs.Path(docsPath), true)
      var rewritten = 0
      var seen = 0
      while (after.hasNext) {
        val f = after.next()
        before.get(f.getPath.toString).foreach { len =>
          seen += 1
          if (len != f.getLen) rewritten += 1
        }
      }
      println(s"  documentIngest immutability: ${before.size} committed " +
        s"files, $seen still present, $rewritten rewritten (expect 0)")
      spark.sql(s"DROP TABLE IF EXISTS $table")
    }
    spark.stop()
  }
}
