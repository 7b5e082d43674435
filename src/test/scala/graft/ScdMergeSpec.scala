package graft

import graft.model.Schemas
import graft.operators.Merges
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Port of the reference's only executable merge spec
  * (/root/reference/tests/test_data_loader.py:17-97, via FIXTURES.md §2)
  * plus invariants the reference leaves untested.
  */
class ScdMergeSpec extends SparkSpec {
  import spark.implicits._

  private val cols = Schemas.FeedEntryCols
  private val cmp = Schemas.CompareCols

  private def entry(link: String, title: String, summary: String,
      notes: String, job: String = "Data Engineer"): (String, String, String,
      String, String, String, String, String, String) =
    (job, link, title, "2024-01-10 12:00:00", "Feed A", "rss", "15min",
      summary, notes)

  private def newData: DataFrame = Seq(
    entry("link1", "Title 1", "Sum 1", ""),
    entry("link2", "Title 2 NEW", "Sum 2 NEW", ""),
    entry("link3", "Title 3", "Sum 3", "")
  ).toDF(cols: _*)

  private def oldData: DataFrame = Seq(
    entry("link1", "Title 1", "Sum 1", "Note 1"),
    entry("link2", "Title 2 OLD", "Sum 2 OLD", "Note 2"),
    entry("link4", "Title 4", "Sum 4", "Note 4")
  ).toDF(cols: _*)

  private val batchTs = java.sql.Timestamp.valueOf("2024-02-01 00:00:00")

  test("merge_upsert: insert/update counts, notes preserved, values updated") {
    val out = Merges.mergeUpsert(oldData, newData, "link", cmp,
      dropStatus = false).cache()
    val byStatus = out.groupBy("_status").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byStatus.getOrElse("insert", 0L) == 1)
    assert(byStatus.getOrElse("update", 0L) == 1)
    assert(out.count() == 4)
    val link2 = out.filter($"link" === "link2").collect()(0)
    assert(link2.getAs[String]("notes") == "Note 2")          // preserved
    assert(link2.getAs[String]("entry_title") == "Title 2 NEW") // updated
    val link4 = out.filter($"link" === "link4").collect()(0)
    assert(link4.getAs[String]("notes") == "Note 4")          // hist preserved
  }

  test("scd1: matched keys take new values, history-only preserved") {
    val out = Merges.scd1(oldData, newData, "link", cmp).cache()
    assert(out.count() == 4)
    assert(out.filter($"link" === "link2").collect()(0)
      .getAs[String]("summary") == "Sum 2 NEW")
    // blank new notes → history notes kept
    assert(out.filter($"link" === "link2").collect()(0)
      .getAs[String]("notes") == "Note 2")
    assert(out.filter($"link" === "link3").collect()(0)
      .getAs[String]("notes") == "")
  }

  test("scd2: expire + version + remove semantics") {
    val hist = oldData
      .withColumn(Schemas.EffectiveStart, lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
      .withColumn(Schemas.EffectiveEnd, lit(null).cast("timestamp"))
      .withColumn(Schemas.CurrentFlag, lit(1))
    val out = Merges.scd2(hist, newData, "link", cmp, batchTs,
      dropStatus = false).cache()

    assert(out.count() == 5) // link1 kept, link2 ×2, link3 new, link4 expired
    val statuses = out.groupBy("_status").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(statuses.getOrElse("insert", 0L) == 2) // link2 new version + link3
    assert(statuses.getOrElse("expire", 0L) == 2) // link2 old + link4

    val link2 = out.filter($"link" === "link2").cache()
    assert(link2.count() == 2)
    assert(link2.filter($"current_flag" === 1).count() == 1)
    val cur = link2.filter($"current_flag" === 1).collect()(0)
    assert(cur.getAs[String]("entry_title") == "Title 2 NEW")
    assert(cur.getAs[String]("notes") == "Note 2") // carried forward
    val link4 = out.filter($"link" === "link4").collect()(0)
    assert(link4.getAs[Int]("current_flag") == 0)
    assert(link4.getAs[java.sql.Timestamp]("effective_end") != null)
  }

  test("scd1 is idempotent on re-merge of the same batch") {
    val once = Merges.scd1(oldData, newData, "link", cmp)
    val twice = Merges.scd1(once, newData, "link", cmp)
    assert(twice.exceptAll(once).isEmpty && once.exceptAll(twice).isEmpty)
  }

  test("scd2 keeps exactly one current version per key") {
    val hist = oldData
      .withColumn(Schemas.EffectiveStart, lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
      .withColumn(Schemas.EffectiveEnd, lit(null).cast("timestamp"))
      .withColumn(Schemas.CurrentFlag, lit(1))
    val out = Merges.scd2(hist, newData, "link", cmp, batchTs)
    val multi = out.filter(col(Schemas.CurrentFlag) === 1)
      .groupBy("link").count().filter($"count" > 1)
    assert(multi.isEmpty)
    // removed key link4 has no current version; all others exactly one
    val currents = out.filter(col(Schemas.CurrentFlag) === 1)
      .select("link").as[String].collect().toSet
    assert(currents == Set("link1", "link2", "link3"))
  }

  test("scd2 keys whose compare columns are all null still expire and insert") {
    // the presence flags are null on the unmatched side of the join; a
    // negated null flag must not drop the row
    val hist = Seq(("k1", None: Option[String]), ("k2", Some("v2"))).toDF("link", "payload")
      .withColumn(Schemas.EffectiveStart, lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
      .withColumn(Schemas.EffectiveEnd, lit(null).cast("timestamp"))
      .withColumn(Schemas.CurrentFlag, lit(1))
    val nw = Seq(("k2", Some("v2")), ("k3", None: Option[String])).toDF("link", "payload")
    def byKey(df: DataFrame) = df.select($"link", $"_status").as[(String, String)]
      .collect().sorted.toSeq
    // snapshot (default): absent k1 expires, null-payload k3 inserts
    assert(byKey(Merges.scd2(hist, nw, "link", Seq("payload"), batchTs,
      dropStatus = false)) ==
      Seq(("k1", "expire"), ("k2", "unchanged"), ("k3", "insert")))
    // incremental: absent k1 passes through
    assert(byKey(Merges.scd2(hist, nw, "link", Seq("payload"), batchTs,
      dropStatus = false, expireAbsent = false)) ==
      Seq(("k1", "preserve"), ("k2", "unchanged"), ("k3", "insert")))
  }

  test("dedupKeepLatest keeps the most recent row per key") {
    val df = Seq(
      ("k1", "2024-01-01 00:00:00", "old"),
      ("k1", "2024-01-02 00:00:00", "new"),
      ("k2", "2024-01-01 00:00:00", "only")
    ).toDF("link", "published", "payload")
    val out = Merges.dedupKeepLatest(df, "link", Seq(col("published")))
    assert(out.count() == 2)
    assert(out.filter($"link" === "k1").collect()(0)
      .getAs[String]("payload") == "new")
  }

  test("appendDedupNewWins: new rows shadow existing on key collision") {
    val existing = Seq(("k1", "old"), ("k2", "keep")).toDF("link", "v")
    val incoming = Seq(("k1", "new"), ("k3", "add")).toDF("link", "v")
    val out = Merges.appendDedupNewWins(existing, incoming, "link")
    assert(out.count() == 3)
    assert(out.filter($"link" === "k1").collect()(0).getAs[String]("v") == "new")
  }

  test("scd2 effective columns format with UTC offset (%z parity)") {
    import graft.functions.Normalize
    val df = Seq(java.sql.Timestamp.valueOf("2024-01-15 06:30:00")).toDF("ts")
    val s = df.select(Normalize.tsFormatOffset($"ts")).collect()(0).getString(0)
    assert(s == "2024-01-15 06:30:00+0000") // session pinned UTC
  }
}
