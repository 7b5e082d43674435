package graft.sources.feed

import java.util
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** S1: the RSS feed scan as a custom DataSourceV2 source
  * (reference: core/etl.py:108-169 polls N feeds with feedparser on a
  * 15-minute cadence; SURVEY §2.10 maps the poll loop onto Structured
  * Streaming).
  *
  * The "feed endpoint" is modeled as a directory that accumulates RSS
  * XML documents (one file per poll response — the offline stand-in for
  * HTTP GET). The stream's offset is the count of files in
  * lexicographic order, so each micro-batch reads exactly the files
  * that arrived since the last trigger; one input partition per file
  * keeps fetch/parse parallel across executors. Batch reads are
  * supported too (`spark.read.format(...)`) for backfills.
  *
  * Parsing uses the JDK's DOM parser — no external feed library —
  * extracting the same fields the reference does: channel title, item
  * title/link/pubDate/description. Downstream normalization (HTML
  * cleaning, timestamp parsing, canonical projection) is
  * JobPipeline.normalizeEntries, shared with every other source.
  *
  * Usage:
  * {{{
  * spark.readStream.format("graft.sources.feed.FeedDataSource")
  *   .option("path", dir).load()
  * }}}
  */
class FeedDataSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    FeedDataSource.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new FeedTable(properties.get("path"))
  override def supportsExternalMetadata(): Boolean = false
}

object FeedDataSource {
  /** Raw feed-entry rows; `published` stays a string here — parsing
    * with coerce-to-null semantics is a normalization concern.
    */
  val Schema: StructType = StructType(Seq(
    StructField("feed_title", StringType),
    StructField("entry_title", StringType),
    StructField("link", StringType),
    StructField("published", StringType),
    StructField("summary", StringType),
    StructField("source_file", StringType)
  ))

  private[feed] def listFiles(path: String): Array[String] = {
    val dir = new java.io.File(path)
    if (!dir.isDirectory) Array.empty
    else dir.listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".xml"))
      .map(_.getAbsolutePath)
      .sorted
  }

  /** The JDK parser's default error handler prints `[Fatal Error] …` to
    * stderr before it throws; a malformed poll response is skipped
    * anyway, so this one only throws. Recoverable errors and warnings
    * are ignored, as the default handler does after printing them.
    */
  private object QuietErrors extends org.xml.sax.ErrorHandler {
    override def warning(e: org.xml.sax.SAXParseException): Unit = ()
    override def error(e: org.xml.sax.SAXParseException): Unit = ()
    override def fatalError(e: org.xml.sax.SAXParseException): Unit = throw e
  }

  /** Parse one RSS document into entry rows (JDK DOM; tolerant of
    * missing elements — absent fields become null like feedparser).
    * Real-world feeds carry HTML entities (&nbsp; etc.) that are
    * undefined in XML and would abort a strict parser — they are
    * re-escaped to literal text first, matching feedparser's lenient
    * behavior; downstream HTML cleaning decodes them.
    */
  private[feed] def parseRss(file: String): Seq[InternalRow] = {
    def utf8(s: String): UTF8String =
      if (s == null) null else UTF8String.fromString(s)
    try {
      val raw = java.nio.file.Files.readString(java.nio.file.Paths.get(file))
      val sanitized = raw.replaceAll("&(?!amp;|lt;|gt;|quot;|apos;|#\\d+;|#x[0-9a-fA-F]+;)", "&amp;")
      val dbf = javax.xml.parsers.DocumentBuilderFactory.newInstance()
      dbf.setFeature("http://apache.org/xml/features/disallow-doctype-decl", true)
      val db = dbf.newDocumentBuilder()
      db.setErrorHandler(QuietErrors)
      val doc = db.parse(
        new org.xml.sax.InputSource(new java.io.StringReader(sanitized)))
      doc.getDocumentElement.normalize()
      def text(parent: org.w3c.dom.Element, tag: String): String = {
        val nodes = parent.getElementsByTagName(tag)
        if (nodes.getLength == 0) null else nodes.item(0).getTextContent
      }
      val channels = doc.getElementsByTagName("channel")
      val feedTitle =
        if (channels.getLength == 0) null
        else text(channels.item(0).asInstanceOf[org.w3c.dom.Element], "title")
      val items = doc.getElementsByTagName("item")
      (0 until items.getLength).map { i =>
        val item = items.item(i).asInstanceOf[org.w3c.dom.Element]
        InternalRow(
          utf8(feedTitle),
          utf8(text(item, "title")),
          utf8(text(item, "link")),
          utf8(text(item, "pubDate")),
          utf8(text(item, "description")),
          utf8(file))
      }
    } catch {
      case _: Exception => Seq.empty // malformed poll response → skip
    }
  }
}

class FeedTable(path: String) extends Table with SupportsRead {
  override def name(): String = s"feed($path)"
  override def schema(): StructType = FeedDataSource.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new FeedScan(path)
    }
}

class FeedScan(path: String) extends Scan {
  override def readSchema(): StructType = FeedDataSource.Schema
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new FeedMicroBatchStream(path)
  override def toBatch: Batch = new Batch {
    override def planInputPartitions(): Array[InputPartition] =
      FeedDataSource.listFiles(path).map(FeedFilePartition(_): InputPartition)
    override def createReaderFactory(): PartitionReaderFactory =
      new FeedReaderFactory
  }
}

/** Offset = number of files (sorted) already emitted. */
case class FeedOffset(fileCount: Long) extends Offset {
  override def json(): String = fileCount.toString
}

case class FeedFilePartition(file: String) extends InputPartition

class FeedMicroBatchStream(path: String) extends MicroBatchStream {
  override def initialOffset(): Offset = FeedOffset(0L)
  override def latestOffset(): Offset =
    FeedOffset(FeedDataSource.listFiles(path).length.toLong)
  override def deserializeOffset(json: String): Offset =
    FeedOffset(json.trim.toLong)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[FeedOffset].fileCount.toInt
    val e = end.asInstanceOf[FeedOffset].fileCount.toInt
    // Lexicographic file order makes the offset range stable as long as
    // new poll responses sort after old ones (timestamped names).
    FeedDataSource.listFiles(path).slice(s, e)
      .map(FeedFilePartition(_): InputPartition)
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new FeedReaderFactory
}

class FeedReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val file = partition.asInstanceOf[FeedFilePartition].file
    new PartitionReader[InternalRow] {
      private val rows = FeedDataSource.parseRss(file).iterator
      private var current: InternalRow = _
      override def next(): Boolean = {
        if (rows.hasNext) { current = rows.next(); true } else false
      }
      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
  }
}
