package perfbench

import java.nio.file.{Files, Path}
import java.time.Instant
import scala.collection.mutable

/** Ground truth the checks compare the program's tables against. */
final case class Expected(
    stage: Map[String, Rev],  // key -> latest revision in the stage table
    result: Map[String, Rev], // key -> revision in the result table
    entries: Long)            // poll entries the program must ingest

object Times {
  val Day = 86400L
  /** Fixed epoch for every generated timestamp. */
  val T0: Long = Instant.parse("2025-06-01T00:00:00Z").getEpochSecond
  val DaysBack = 30
  def passesFilter(r: Rev, asOf: Long): Boolean =
    !r.blank && !r.excluded && r.pub >= asOf - DaysBack * Day
}

/** `backfill` inputs: two regions of poll files spread over a year. Each
  * feed is polled at evenly spread times; a poll lists the feed's latest
  * `perPoll` postings, so consecutive polls overlap and a posting edited
  * between polls shows its newer revision afterwards. A share of each
  * region's files is cut off mid-document; those polls are the feed's
  * last, so their new postings appear nowhere else and must be missing
  * from every output.
  */
object Backfill {
  val Regions = Vector("A", "B")
  val FeedsPerRegion = 7
  val Overlap = 0.3
  val MalformedShare = 0.01

  final case class Region(name: String, dir: Path, polls: Vector[Poll],
      expected: Expected, malformedOnlyKeys: Set[String])

  val Dials = perfbench.Dials(summaryWords = 150, htmlDensity = 0.6,
    skillsPerItem = 4, editRate = 0.05, blankRate = 0.02, exclusionRate = 0.03)

  def generate(seed: Long, root: Path, filesPerRegion: Int, perPoll: Int): Vector[Region] =
    Regions.zipWithIndex.map { case (name, ri) =>
      val g = new Gen(seed * 31 + ri, Dials)
      val dir = Files.createDirectories(root.resolve(s"region-$name"))
      val polls = Vector.newBuilder[Poll]
      for (f <- 0 until FeedsPerRegion) {
        val n = filesPerRegion / FeedsPerRegion +
          (if (f < filesPerRegion % FeedsPerRegion) 1 else 0)
        polls ++= feedPolls(g, ri, f, n, perPoll)
      }
      val all = polls.result()
      val nBad = math.max(1, math.round(all.size * MalformedShare).toInt)
      val lastOfFeed = all.groupBy(_.feed).values.map(_.maxBy(_.at)).toVector.sortBy(_.feed)
      val bad = lastOfFeed.take(nBad).map(_.name).toSet
      val marked = all.map(p => if (bad(p.name)) p.copy(malformed = true) else p)
      marked.foreach(p => Rss.write(dir, p, g))
      val valid = marked.filterNot(_.malformed)
      val latest = latestOf(valid)
      val seenBad = latestOf(marked.filter(_.malformed)).keySet
      Region(name, dir, marked,
        Expected(latest, latest.filter { case (_, r) => Times.passesFilter(r, Times.T0) },
          valid.map(_.entries.size.toLong).sum),
        seenBad -- latest.keySet)
    }

  private def latestOf(polls: Vector[Poll]): Map[String, Rev] =
    polls.flatMap(_.entries).groupBy(_._1).map { case (k, es) => k -> es.map(_._2).maxBy(_.pub) }

  private def feedPolls(g: Gen, ri: Int, f: Int, n: Int, perPoll: Int): Vector[Poll] = {
    val yearStart = Times.T0 - 365 * Times.Day
    // polls evenly spread over the year, the last within 6 hours of T0
    val step = 365 * Times.Day / n
    val times = Vector.tabulate(n)(k => yearStart + (k + 1) * step - g.between(0, 6 * 3600))
    val items = mutable.ArrayBuffer.empty[Item]
    val feedTitle = s"Region $ri jobs feed $f"
    var prev = times.head - 30 * Times.Day
    times.zipWithIndex.map { case (t, k) =>
      val fresh = if (k == 0) perPoll else math.round(perPoll * (1 - Overlap)).toInt
      val window = items.takeRight(perPoll)
      for (i <- window.indices) if ((i + k) % math.round(1 / g.dials.editRate).toInt == 0) {
        val it = window(i)
        val pub = g.between(prev + 1, t + 1)
        val r = g.rev(it.link.split('/').last, pub, it.revs.size, g.dials.summaryWords)
        items(items.length - window.length + i) = it.copy(revs = it.revs :+ r)
      }
      // evenly spread creation times: every seed keeps the same share in
      // the filter's 30-day window
      val gap = (t - prev) / (fresh + 1)
      val created = Vector.tabulate(fresh)(j => prev + (j + 1) * gap + g.between(0, gap / 2))
      created.foreach { c =>
        val id = s"${ri}x${f}x${items.size}"
        items += Item(s"https://jobs.example/r$ri/f$f/$id", f, c,
          Vector(g.rev(id, c, 0, g.dials.summaryWords)))
      }
      prev = t
      Poll(f"poll-$f%02d-$k%04d.xml", f, feedTitle, t,
        items.takeRight(perPoll).map(it => it.link -> it.revAt(t)).toVector,
        malformed = false)
    }
  }
}

/** `cron` inputs: 14 feeds re-polled every 15 minutes. From round 2 on
  * every feed lists its latest `Window` postings, a few of them new, so
  * about 80% of a round is re-polled, and a few postings still in the
  * window are edited and restated with a fresh publish time. Round 1, the
  * first batch of a fresh checkpoint, lists only its new postings.
  *
  * Timing rules that keep the streaming dedup's outcome exact (the query
  * uses a 1-minute watermark on `published`): new postings and edits are
  * published inside their own round, the newest posting of feed 0 is
  * published exactly at the poll time, and an edited posting was last
  * published three or more rounds earlier. A re-polled posting is then
  * either behind the watermark or still in dedup state, and an edited
  * one is out of dedup state: seeded postings never enter it (round 1
  * does not list them, later rounds find them behind the watermark), and
  * any other posting's state expires two rounds after it was published.
  * So every new posting or edit reaches the SCD2 sink, and nothing else
  * changes the table.
  */
final class Cron(seed: Long, historyPerFeed: Int) {
  import Cron._
  private val g = new Gen(seed * 31 + 7, Dials)
  private val feeds = Vector.fill(Feeds)(mutable.ArrayBuffer.empty[Item])
  private val edited = mutable.Set.empty[String]

  /** key -> current revision (what the SCD2 table's current rows hold). */
  val latest = mutable.Map.empty[String, Rev]
  /** key -> revision the result table holds. */
  val result = mutable.Map.empty[String, Rev]
  var versions = 0L
  var edits = 0L
  var round = 0

  /** Seeded history: `historyPerFeed` postings per feed, one every 3
    * minutes up to the first poll, each with a short plain-text summary
    * (already in normalized form, so set-up can write it directly).
    */
  val history: Vector[(String, String, Rev)] = {
    val plain = g.dials.copy(summaryWords = 25, htmlDensity = 0.0)
    val hg = new Gen(seed * 31 + 8, plain)
    (for (f <- 0 until Feeds; i <- 0 until historyPerFeed) yield {
      val c = poll(0) - (historyPerFeed - 1 - i) * 180L - f
      val id = s"0x${f}x${i}"
      val r0 = hg.rev(id, c, 0, plain.summaryWords)
      val r = r0.copy(html = if (r0.blank) "" else r0.html.replaceAll("\\s+", " ").trim)
      val it = Item(s"https://jobs.example/c/f$f/$id", f, c, Vector(r))
      feeds(f) += it
      latest(it.link) = r
      versions += 1
      (feedTitle(f), it.link, r)
    }).toVector
  }

  /** Generates round `round + 1`: returns its poll files' content. */
  def next(): Vector[Poll] = {
    round += 1
    val r = round
    val (lo, hi) = (poll(r - 1) + 120, poll(r))
    val newVersions = mutable.ArrayBuffer.empty[(String, Rev)]
    for (f <- 0 until Feeds) {
      val n = NewPerRound
      val created = (Vector.fill(n)(g.between(lo + 1, hi)).sorted.init :+
        (if (f == 0) hi else g.between(lo + 1, hi))).sorted
      created.foreach { c =>
        val id = s"${r}x${f}x${feeds(f).size}"
        val it = Item(s"https://jobs.example/c/f$f/$id", f, c,
          Vector(g.rev(id, c, 0, g.dials.summaryWords)))
        feeds(f) += it
        newVersions += it.link -> it.revs.head
      }
    }
    if (r >= 2) {
      val candidates = (0 until Feeds).flatMap { f =>
        val w = feeds(f).length - Window
        feeds(f).indices.drop(math.max(0, w)).collect {
          case i if feeds(f)(i).revs.last.pub <= poll(r - 3) &&
            !edited(feeds(f)(i).link) => (f, i)
        }
      }
      val n = math.min(candidates.size, EditsPerRound)
      val chosen = mutable.LinkedHashSet.empty[(Int, Int)]
      while (chosen.size < n) chosen += candidates(g.int(candidates.size))
      chosen.foreach { case (f, i) =>
        val it = feeds(f)(i)
        val id = it.link.split('/').last
        val nr = g.rev(id, g.between(lo + 1, hi), it.revs.size, g.dials.summaryWords)
        feeds(f)(i) = it.copy(revs = it.revs :+ nr)
        edited += it.link
        newVersions += it.link -> nr
        edits += 1
      }
    }
    for ((k, rv) <- newVersions) {
      latest(k) = rv
      versions += 1
      if (Times.passesFilter(rv, poll(r))) result(k) = rv
    }
    (0 until Feeds).toVector.map { f =>
      val listed =
        if (r == 1) feeds(f).filter(_.created > poll(0)) else feeds(f).takeRight(Window)
      Poll(f"poll-r$r%06d-f$f%02d.xml", f, feedTitle(f), hi,
        listed.map(it => it.link -> it.revAt(hi)).toVector, malformed = false)
    }
  }

  def write(dir: Path, polls: Vector[Poll]): Unit = polls.foreach(Rss.write(dir, _, g))
}

object Cron {
  val Feeds = 14
  val Window = 25
  val NewPerRound = 5
  val EditsPerRound = 2
  val CadenceSec = 900L
  val Dials = perfbench.Dials(summaryWords = 150, htmlDensity = 0.6,
    skillsPerItem = 4, editRate = 0.0, blankRate = 0.02, exclusionRate = 0.03)
  def poll(r: Int): Long = Times.T0 + r * CadenceSec
  def feedTitle(f: Int): String = s"Jobs feed $f"
}
