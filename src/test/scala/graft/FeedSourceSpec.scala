package graft

import graft.pipeline.JobPipeline
import java.nio.file.{Files, Paths}

/** The custom RSS feed DataSourceV2: batch + micro-batch reads, and the
  * full ingest path (feed XML → normalize → canonical schema).
  */
class FeedSourceSpec extends SparkSpec {
  import spark.implicits._

  private def rss(feed: String, items: (String, String, String, String)*): String =
    s"""<?xml version="1.0"?>
       |<rss version="2.0"><channel><title>$feed</title>
       |${items.map { case (t, l, d, s) =>
            s"<item><title>$t</title><link>$l</link><pubDate>$d</pubDate><description>$s</description></item>"
          }.mkString("\n")}
       |</channel></rss>""".stripMargin

  private def writeFeed(dir: String, name: String, content: String): Unit =
    Files.writeString(Paths.get(dir, name), content)

  test("batch read parses RSS items with channel title") {
    val dir = Files.createTempDirectory("feeds").toString
    writeFeed(dir, "poll-001.xml", rss("Jobs Feed",
      ("Data Engineer", "http://x/1", "Wed, 10 Jan 2024 12:00:00 +0000",
        "<p>Great&nbsp;role</p>"),
      ("Analyst", "http://x/2", "Thu, 11 Jan 2024 09:30:00 +0000", "desc")))
    writeFeed(dir, "broken.xml", "<not-valid-xml")

    val df = spark.read.format("graft.sources.feed.FeedDataSource")
      .option("path", dir).load()
    val rows = df.collect()
    assert(rows.length == 2) // malformed file skipped
    val r = df.filter($"link" === "http://x/1").collect()(0)
    assert(r.getAs[String]("feed_title") == "Jobs Feed")
    assert(r.getAs[String]("published") == "Wed, 10 Jan 2024 12:00:00 +0000")
  }

  test("a truncated poll file is skipped without printing to stderr") {
    val dir = Files.createTempDirectory("feeds-truncated").toString
    val whole = rss("F",
      ("A", "http://t/1", "Wed, 10 Jan 2024 12:00:00 +0000", "d"),
      ("B", "http://t/2", "Wed, 10 Jan 2024 13:00:00 +0000", "d"))
    writeFeed(dir, "poll-001.xml", whole)
    writeFeed(dir, "poll-002.xml", whole.take(whole.length / 2))
    val err = new java.io.ByteArrayOutputStream()
    val stderr = System.err
    System.setErr(new java.io.PrintStream(err, true, "UTF-8"))
    val rows =
      try spark.read.format("graft.sources.feed.FeedDataSource")
        .option("path", dir).load().collect()
      finally System.setErr(stderr)
    assert(err.toString("UTF-8") == "")
    assert(rows.map(_.getAs[String]("source_file")).toSet ==
      Set(Paths.get(dir, "poll-001.xml").toString))
    assert(rows.length == 2)
  }

  test("micro-batch stream picks up only newly arrived poll files") {
    val dir = Files.createTempDirectory("feeds-stream").toString
    writeFeed(dir, "poll-001.xml",
      rss("F", ("A", "http://a", "Wed, 10 Jan 2024 12:00:00 +0000", "d")))

    val stream = spark.readStream.format("graft.sources.feed.FeedDataSource")
      .option("path", dir).load()
    val q = stream.writeStream.format("memory").queryName("feed_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("feed_out").count() == 1)
      writeFeed(dir, "poll-002.xml",
        rss("F", ("B", "http://b", "Thu, 11 Jan 2024 09:00:00 +0000", "d"),
          ("C", "http://c", "Thu, 11 Jan 2024 10:00:00 +0000", "d")))
      q.processAllAvailable()
      val links = spark.table("feed_out").select("link").as[String]
        .collect().toSet
      assert(links == Set("http://a", "http://b", "http://c"))
    } finally q.stop()
  }

  test("feed source → normalizeEntries yields the canonical 9-col schema") {
    val dir = Files.createTempDirectory("feeds-norm").toString
    writeFeed(dir, "poll-001.xml", rss("Jobs",
      ("DE role", "http://n/1", "Wed, 10 Jan 2024 12:00:00 +0000",
        "<b>bold</b>&amp; rest")))
    val raw = spark.read.format("graft.sources.feed.FeedDataSource")
      .option("path", dir).load()
      .withColumnRenamed("feed_title", "feed_title")
    val batchTs = java.sql.Timestamp.valueOf("2024-02-01 00:00:00")
    val normalized = JobPipeline.normalizeEntries(raw, batchTs)
    assert(normalized.columns.toSeq == graft.model.Schemas.FeedEntryCols)
    val row = normalized.collect()(0)
    assert(row.getAs[String]("summary") == "bold& rest")
    assert(row.getAs[String]("published") == "2024-01-10 12:00:00")
  }
}
