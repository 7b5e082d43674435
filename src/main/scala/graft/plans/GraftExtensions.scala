package graft.plans

import graft.expr.{AudioDecodeExpr, AudioEnvSig, AudioMeta, AudioStats, AudioTags, ImageTags, VideoTags, TarEntries, ZipEntries, ArEntries, CpioEntries, SevenZip, SevenZipEntries, Bunzip2Expr, UnxzExpr, UnzstdExpr, UnLz4Expr, UnSnappyExpr, DecompressExpr, Decompress, DocText, DocTextExpr, DocumentText, DocumentTextExpr, OfficeText, PptxText, XlsxText, LegacyOffice, XlsTextExpr, PptTextExpr, OdfText, OdfTextExpr, EmlText, EmlTextExpr, MboxMessages, EmlAttachments, MsgText, MsgTextExpr, MsgAttachments, Tnef, TnefTextExpr, TnefAttachments, VcardText, VcardTextExpr, IcsTextExpr, LatexText, LatexTextExpr, AviFrames, BpeEncode, DocxText, ExifOrientation, OrientPixels, EpubText, HttpBody, HttpText, Mp4Frames, H264Frames, PdfText, ResamplePcm, ResizePixels, RtfToText, SigL1, VideoMeta, WarcRecords, GifFrames, BloomMightContain, CmsSketchAgg, CosineSimilarity, DotProduct, ExprArgs, ImageMeta, KmvQuantileAgg, KmvSketchAgg, L2SqDistance, LangIdWide, MinHashSignature, NfcNormalize, OrderedPairs, OrderedPairsGen, PackBytes, PixelGridSig, PixelStats, PostingPairsAgg, SimHash60, TimestampRef, VecArgmaxCos, VecArgmin, VecArgminL2, VecDistance, WinnowFingerprints, WordGramHashes, WordShingles}
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Session-extension entry point: registers the engine's native
  * expressions in the session's base function registry at
  * session-build time, so pure-SQL users (spark-sql, thrift server,
  * `spark.sql(...)` without `Graft.tune`) resolve them in every
  * session state, including `newSession()` clones:
  *
  *   spark-submit --conf spark.sql.extensions=graft.plans.GraftExtensions ...
  *
  * `Graft.tune` installs the same lists in sessions built without the
  * extension ([[GraftExtensions.registerMissing]]) and additionally
  * pins the coerce-semantics confs, which an extension cannot set.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    GraftExtensions.tableFunctions.foreach(ext.injectTableFunction)
    // opt-in AQP: COUNT(DISTINCT) → KMV sketch estimate when
    // spark.graft.approxCountDistinct=true (no-op otherwise)
    ext.injectOptimizerRule(_ => ApproxCountDistinctRewrite)
    ext.injectOptimizerRule(_ => ScanTimestampLiterals)
  }
}

object GraftExtensions {

  private def info(name: String, clazz: Class[_]): ExpressionInfo =
    new ExpressionInfo(clazz.getName, name)

  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    Seq(
      (FunctionIdentifier(CosineSimilarity.FunctionName),
        info(CosineSimilarity.FunctionName, classOf[CosineSimilarity]),
        exprs => CosineSimilarity(exprs(0), exprs(1))),
      (FunctionIdentifier(MinHashSignature.FunctionName),
        info(MinHashSignature.FunctionName, classOf[MinHashSignature]),
        exprs => MinHashSignature(exprs(0),
          ExprArgs.intLit(MinHashSignature.FunctionName, "numHashes", exprs(1)))),
      (FunctionIdentifier(WordShingles.FunctionName),
        info(WordShingles.FunctionName, classOf[WordShingles]),
        exprs => WordShingles(exprs(0),
          ExprArgs.intLit(WordShingles.FunctionName, "n", exprs(1)))),
      (FunctionIdentifier(SimHash60.FunctionName),
        info(SimHash60.FunctionName, classOf[SimHash60]),
        exprs => SimHash60(exprs.head)),
      (FunctionIdentifier(WinnowFingerprints.FunctionName),
        info(WinnowFingerprints.FunctionName, classOf[WinnowFingerprints]),
        exprs => WinnowFingerprints(exprs(0),
          ExprArgs.intLit(WinnowFingerprints.FunctionName, "k", exprs(1)),
          ExprArgs.intLit(WinnowFingerprints.FunctionName, "w", exprs(2)))),
      (FunctionIdentifier(BloomMightContain.FunctionName),
        info(BloomMightContain.FunctionName, classOf[BloomMightContain]),
        exprs => BloomMightContain(exprs(0), exprs(1))),
      (FunctionIdentifier(KmvSketchAgg.FunctionName),
        info(KmvSketchAgg.FunctionName, classOf[KmvSketchAgg]),
        exprs => KmvSketchAgg(exprs(0),
          ExprArgs.intLit(KmvSketchAgg.FunctionName, "k", exprs(1)))),
      (FunctionIdentifier(OrderedPairs.FunctionName),
        info(OrderedPairs.FunctionName, classOf[OrderedPairs]),
        exprs => OrderedPairs(exprs.head)),
      (FunctionIdentifier(OrderedPairsGen.FunctionName),
        info(OrderedPairsGen.FunctionName, classOf[OrderedPairsGen]),
        exprs => OrderedPairsGen(exprs.head)),
      (FunctionIdentifier(PackBytes.FunctionName),
        info(PackBytes.FunctionName, classOf[PackBytes]),
        exprs => PackBytes(exprs(0),
          ExprArgs.intLit(PackBytes.FunctionName, "width", exprs(1)),
          exprs.length > 2 && ExprArgs.intLit(PackBytes.FunctionName,
            "bigEndian", exprs(2)) != 0)),
      (FunctionIdentifier(PostingPairsAgg.FunctionName),
        info(PostingPairsAgg.FunctionName, classOf[PostingPairsAgg]),
        exprs => PostingPairsAgg(exprs(0), exprs(1),
          ExprArgs.longLit(PostingPairsAgg.FunctionName, "maxDocFreq", exprs(2)))),
      (FunctionIdentifier(NfcNormalize.FunctionName),
        info(NfcNormalize.FunctionName, classOf[NfcNormalize]),
        exprs => NfcNormalize(exprs.head)),
      (FunctionIdentifier(CmsSketchAgg.FunctionName),
        info(CmsSketchAgg.FunctionName, classOf[CmsSketchAgg]),
        exprs => CmsSketchAgg(exprs(0),
          ExprArgs.intLit(CmsSketchAgg.FunctionName, "depth", exprs(1)),
          ExprArgs.intLit(CmsSketchAgg.FunctionName, "width", exprs(2)))),
      (FunctionIdentifier(ImageMeta.FunctionName),
        info(ImageMeta.FunctionName, classOf[ImageMeta]),
        exprs => ImageMeta(exprs.head)),
      (FunctionIdentifier(PixelStats.FunctionName),
        info(PixelStats.FunctionName, classOf[PixelStats]),
        exprs => PixelStats(exprs.head)),
      (FunctionIdentifier(LangIdWide.FunctionName),
        info(LangIdWide.FunctionName, classOf[LangIdWide]),
        exprs => LangIdWide(exprs(0), exprs(1))),
      (FunctionIdentifier(PixelGridSig.FunctionName),
        info(PixelGridSig.FunctionName, classOf[PixelGridSig]),
        exprs => PixelGridSig(exprs(0),
          ExprArgs.intLit(PixelGridSig.FunctionName, "gx", exprs(1)),
          ExprArgs.intLit(PixelGridSig.FunctionName, "gy", exprs(2)))),
      (FunctionIdentifier(AudioMeta.FunctionName),
        info(AudioMeta.FunctionName, classOf[AudioMeta]),
        exprs => AudioMeta(exprs.head)),
      (FunctionIdentifier(AudioStats.FunctionName),
        info(AudioStats.FunctionName, classOf[AudioStats]),
        exprs => AudioStats(exprs.head)),
      (FunctionIdentifier(AudioEnvSig.FunctionName),
        info(AudioEnvSig.FunctionName, classOf[AudioEnvSig]),
        exprs => AudioEnvSig(exprs.head,
          if (exprs.length > 1)
            ExprArgs.intLit(AudioEnvSig.FunctionName, "nFrames", exprs(1))
          else 64)),
      (FunctionIdentifier(SigL1.FunctionName),
        info(SigL1.FunctionName, classOf[SigL1]),
        exprs => SigL1(exprs(0), exprs(1))),
      (FunctionIdentifier(AviFrames.FunctionName),
        info(AviFrames.FunctionName, classOf[AviFrames]),
        exprs => AviFrames(exprs.head,
          if (exprs.length > 1)
            ExprArgs.intLit(AviFrames.FunctionName, "maxFrames", exprs(1))
          else 64)),
      (FunctionIdentifier(Mp4Frames.FunctionName),
        info(Mp4Frames.FunctionName, classOf[Mp4Frames]),
        exprs => Mp4Frames(exprs.head,
          if (exprs.length > 1)
            ExprArgs.intLit(Mp4Frames.FunctionName, "maxFrames", exprs(1))
          else 64)),
      (FunctionIdentifier(GifFrames.FunctionName),
        info(GifFrames.FunctionName, classOf[GifFrames]),
        exprs => GifFrames(exprs.head,
          if (exprs.length > 1)
            ExprArgs.intLit(GifFrames.FunctionName, "maxFrames", exprs(1))
          else 64)),
      (FunctionIdentifier(H264Frames.FunctionName),
        info(H264Frames.FunctionName, classOf[H264Frames]),
        exprs => H264Frames(exprs.head,
          if (exprs.length > 1)
            ExprArgs.intLit(H264Frames.FunctionName, "maxFrames", exprs(1))
          else 64)),
      (FunctionIdentifier(VideoMeta.FunctionName),
        info(VideoMeta.FunctionName, classOf[VideoMeta]),
        exprs => VideoMeta(exprs.head)),
      (FunctionIdentifier(WarcRecords.FunctionName),
        info(WarcRecords.FunctionName, classOf[WarcRecords]),
        exprs => WarcRecords(exprs.head,
          if (exprs.length > 1)
            ExprArgs.intLit(WarcRecords.FunctionName, "maxRecords", exprs(1))
          else 4096)),
      (FunctionIdentifier(RtfToText.FunctionName),
        info(RtfToText.FunctionName, classOf[RtfToText]),
        exprs => RtfToText(exprs.head)),
      (FunctionIdentifier(HttpText.FunctionName),
        info(HttpText.FunctionName, classOf[HttpText]),
        exprs => HttpText(exprs.head)),
      (FunctionIdentifier(HttpBody.FunctionName),
        info(HttpBody.FunctionName, classOf[HttpBody]),
        exprs => HttpBody(exprs.head)),
      (FunctionIdentifier(EpubText.FunctionName),
        info(EpubText.FunctionName, classOf[EpubText]),
        exprs => EpubText(exprs.head)),
      (FunctionIdentifier(PdfText.FunctionName),
        info(PdfText.FunctionName, classOf[PdfText]),
        exprs => PdfText(exprs.head)),
      (FunctionIdentifier(DocxText.FunctionName),
        info(DocxText.FunctionName, classOf[DocxText]),
        exprs => DocxText(exprs.head,
          exprs.length > 1 &&
            ExprArgs.intLit(DocxText.FunctionName, "includeTables", exprs(1)) != 0)),
      (FunctionIdentifier(BpeEncode.FunctionName),
        info(BpeEncode.FunctionName, classOf[BpeEncode]),
        exprs => BpeEncode(exprs(0), exprs(1))),
      (FunctionIdentifier(ExifOrientation.FunctionName),
        info(ExifOrientation.FunctionName, classOf[ExifOrientation]),
        exprs => ExifOrientation(exprs.head)),
      (FunctionIdentifier(OrientPixels.FunctionName),
        info(OrientPixels.FunctionName, classOf[OrientPixels]),
        exprs => OrientPixels(exprs(0), exprs(1))),
      (FunctionIdentifier(ResizePixels.FunctionName),
        info(ResizePixels.FunctionName, classOf[ResizePixels]),
        exprs => ResizePixels(exprs(0), exprs(1), exprs(2))),
      (FunctionIdentifier(ResamplePcm.FunctionName),
        info(ResamplePcm.FunctionName, classOf[ResamplePcm]),
        exprs => ResamplePcm(exprs(0), exprs(1))),
      (FunctionIdentifier(AudioDecodeExpr.FunctionName),
        info(AudioDecodeExpr.FunctionName, classOf[AudioDecodeExpr]),
        exprs => AudioDecodeExpr(exprs(0))),
      (FunctionIdentifier(AudioTags.FunctionName),
        info(AudioTags.FunctionName, classOf[AudioTags]),
        exprs => AudioTags(exprs(0))),
      (FunctionIdentifier(ImageTags.FunctionName),
        info(ImageTags.FunctionName, classOf[ImageTags]),
        exprs => ImageTags(exprs(0))),
      (FunctionIdentifier(VideoTags.FunctionName),
        info(VideoTags.FunctionName, classOf[VideoTags]),
        exprs => VideoTags(exprs(0))),
      (FunctionIdentifier(ZipEntries.FunctionName),
        info(ZipEntries.FunctionName, classOf[ZipEntries]),
        exprs => ZipEntries(exprs(0))),
      (FunctionIdentifier(Bunzip2Expr.FunctionName),
        info(Bunzip2Expr.FunctionName, classOf[Bunzip2Expr]),
        exprs => Bunzip2Expr(exprs(0))),
      (FunctionIdentifier(UnxzExpr.FunctionName),
        info(UnxzExpr.FunctionName, classOf[UnxzExpr]),
        exprs => UnxzExpr(exprs(0))),
      (FunctionIdentifier(TarEntries.FunctionName),
        info(TarEntries.FunctionName, classOf[TarEntries]),
        exprs => TarEntries(exprs.head,
          if (exprs.length > 1)
            ExprArgs.intLit(TarEntries.FunctionName, "maxEntries", exprs(1))
          else 4096)),
      (FunctionIdentifier(UnzstdExpr.FunctionName),
        info(UnzstdExpr.FunctionName, classOf[UnzstdExpr]),
        exprs => UnzstdExpr(exprs(0))),
      (FunctionIdentifier(UnLz4Expr.FunctionName),
        info(UnLz4Expr.FunctionName, classOf[UnLz4Expr]),
        exprs => UnLz4Expr(exprs(0))),
      (FunctionIdentifier(UnSnappyExpr.FunctionName),
        info(UnSnappyExpr.FunctionName, classOf[UnSnappyExpr]),
        exprs => UnSnappyExpr(exprs(0))),
      (FunctionIdentifier(ArEntries.FunctionName),
        info(ArEntries.FunctionName, classOf[ArEntries]),
        exprs => ArEntries(exprs(0),
          if (exprs.length > 1)
            ExprArgs.intLit(ArEntries.FunctionName, "maxEntries", exprs(1))
          else 4096)),
      (FunctionIdentifier(CpioEntries.FunctionName),
        info(CpioEntries.FunctionName, classOf[CpioEntries]),
        exprs => CpioEntries(exprs(0),
          if (exprs.length > 1)
            ExprArgs.intLit(CpioEntries.FunctionName, "maxEntries",
              exprs(1))
          else 4096)),
      (FunctionIdentifier(Decompress.FunctionName),
        info(Decompress.FunctionName, classOf[DecompressExpr]),
        exprs => DecompressExpr(exprs(0))),
      (FunctionIdentifier(SevenZip.FunctionName),
        info(SevenZip.FunctionName, classOf[SevenZipEntries]),
        exprs => SevenZipEntries(exprs.head,
          if (exprs.length > 1)
            ExprArgs.intLit(SevenZip.FunctionName, "maxEntries", exprs(1))
          else 4096)),
      (FunctionIdentifier(DocText.FunctionName),
        info(DocText.FunctionName, classOf[DocTextExpr]),
        exprs => DocTextExpr(exprs(0))),
      (FunctionIdentifier(DocumentText.FunctionName),
        info(DocumentText.FunctionName, classOf[DocumentTextExpr]),
        exprs => DocumentTextExpr(exprs(0))),
      (FunctionIdentifier(OfficeText.PptxName),
        info(OfficeText.PptxName, classOf[PptxText]),
        exprs => PptxText(exprs(0))),
      (FunctionIdentifier(OfficeText.XlsxName),
        info(OfficeText.XlsxName, classOf[XlsxText]),
        exprs => XlsxText(exprs(0))),
      (FunctionIdentifier(LegacyOffice.XlsName),
        info(LegacyOffice.XlsName, classOf[XlsTextExpr]),
        exprs => XlsTextExpr(exprs(0))),
      (FunctionIdentifier(LegacyOffice.PptName),
        info(LegacyOffice.PptName, classOf[PptTextExpr]),
        exprs => PptTextExpr(exprs(0))),
      (FunctionIdentifier(OdfText.FunctionName),
        info(OdfText.FunctionName, classOf[OdfTextExpr]),
        exprs => OdfTextExpr(exprs(0))),
      (FunctionIdentifier(EmlText.FunctionName),
        info(EmlText.FunctionName, classOf[EmlTextExpr]),
        exprs => EmlTextExpr(exprs(0))),
      (FunctionIdentifier(EmlText.MboxName),
        info(EmlText.MboxName, classOf[MboxMessages]),
        exprs => MboxMessages(exprs(0),
          if (exprs.length > 1)
            ExprArgs.intLit(EmlText.MboxName, "max", exprs(1))
          else 4096)),
      (FunctionIdentifier(EmlText.AttachmentsName),
        info(EmlText.AttachmentsName, classOf[EmlAttachments]),
        exprs => EmlAttachments(exprs(0),
          if (exprs.length > 1)
            ExprArgs.intLit(EmlText.AttachmentsName, "max", exprs(1))
          else 256)),
      (FunctionIdentifier(MsgText.FunctionName),
        info(MsgText.FunctionName, classOf[MsgTextExpr]),
        exprs => MsgTextExpr(exprs(0))),
      (FunctionIdentifier(MsgText.AttachmentsName),
        info(MsgText.AttachmentsName, classOf[MsgAttachments]),
        exprs => MsgAttachments(exprs(0),
          if (exprs.length > 1)
            ExprArgs.intLit(MsgText.AttachmentsName, "max", exprs(1))
          else 256)),
      (FunctionIdentifier(Tnef.FunctionName),
        info(Tnef.FunctionName, classOf[TnefTextExpr]),
        exprs => TnefTextExpr(exprs(0))),
      (FunctionIdentifier(Tnef.AttachmentsName),
        info(Tnef.AttachmentsName, classOf[TnefAttachments]),
        exprs => TnefAttachments(exprs(0),
          if (exprs.length > 1)
            ExprArgs.intLit(Tnef.AttachmentsName, "max", exprs(1))
          else 256)),
      (FunctionIdentifier(VcardText.FunctionName),
        info(VcardText.FunctionName, classOf[VcardTextExpr]),
        exprs => VcardTextExpr(exprs(0))),
      (FunctionIdentifier(VcardText.IcsName),
        info(VcardText.IcsName, classOf[IcsTextExpr]),
        exprs => IcsTextExpr(exprs(0))),
      (FunctionIdentifier(LatexText.FunctionName),
        info(LatexText.FunctionName, classOf[LatexTextExpr]),
        exprs => LatexTextExpr(exprs(0))),
      (FunctionIdentifier(VecDistance.L2SqName),
        info(VecDistance.L2SqName, classOf[L2SqDistance]),
        exprs => L2SqDistance(exprs(0), exprs(1))),
      (FunctionIdentifier(VecDistance.DotName),
        info(VecDistance.DotName, classOf[DotProduct]),
        exprs => DotProduct(exprs(0), exprs(1))),
      (FunctionIdentifier(VecArgmin.ArgmaxCosName),
        info(VecArgmin.ArgmaxCosName, classOf[VecArgmaxCos]),
        exprs => VecArgmaxCos(exprs(0), exprs(1))),
      (FunctionIdentifier(VecArgmin.ArgminL2Name),
        info(VecArgmin.ArgminL2Name, classOf[VecArgminL2]),
        exprs => VecArgminL2(exprs(0), exprs(1))),
      (FunctionIdentifier(WordGramHashes.FunctionName),
        info(WordGramHashes.FunctionName, classOf[WordGramHashes]),
        exprs => WordGramHashes(exprs(0),
          ExprArgs.intLit(WordGramHashes.FunctionName, "k", exprs(1)))),
      (FunctionIdentifier(KmvQuantileAgg.FunctionName),
        info(KmvQuantileAgg.FunctionName, classOf[KmvQuantileAgg]),
        exprs => KmvQuantileAgg(exprs(0), exprs(1),
          ExprArgs.intLit(KmvQuantileAgg.FunctionName, "k", exprs(2)))),
      (FunctionIdentifier(TimestampRef.FunctionName),
        info(TimestampRef.FunctionName, classOf[TimestampRef]),
        exprs => TimestampRef(
          ExprArgs.longLit(TimestampRef.FunctionName, "micros", exprs.head)))
    )

  /** Whole-operator SQL surfaces (asof/range join, BM25, semantic
    * dedup) as table-valued functions.
    */
  val tableFunctions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => LogicalPlan)] =
    TableFunctions.functions.map { case (name, builder) =>
      (FunctionIdentifier(name),
        new ExpressionInfo(TableFunctions.getClass.getName, name), builder)
    }

  /** Registers in `spark`'s own registries each of [[functions]] and
    * [[tableFunctions]] they lack. Names already there (injected at
    * session build, or by an earlier call) are left as they are, so a
    * repeat call registers and logs nothing.
    */
  def registerMissing(spark: SparkSession): Unit = {
    val fns = spark.sessionState.functionRegistry
    functions.foreach { case (id, info, builder) =>
      if (!fns.functionExists(id)) fns.registerFunction(id, info, builder)
    }
    val tvfs = spark.sessionState.tableFunctionRegistry
    tableFunctions.foreach { case (id, info, builder) =>
      if (!tvfs.functionExists(id)) tvfs.registerFunction(id, info, builder)
    }
  }
}
