package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.{Locale, SplittableRandom}

/** Text vocabulary shared by the generator and the ground-truth model.
  *
  * The skills dictionary is the program's own (`Skills.DefaultSkills`).
  * Filler words are chosen so that no dictionary term, exclusion keyword
  * or multi-word skill can appear except where the generator puts it;
  * [[check]] proves that over every adjacent token pair, so the model's
  * skill set for a text is exactly the set of skills it inserted.
  */
object Vocab {
  val Skills: Vector[String] = graft.functions.Skills.DefaultSkills.toVector

  val Filler: Vector[String] = Vector(
    "team", "build", "design", "deliver", "pipelines", "customer", "growth",
    "platform", "reliable", "modern", "quality", "product", "service",
    "support", "develop", "systems", "analytics", "insight", "report",
    "dashboards", "model", "cloud", "remote", "hybrid", "office", "benefits",
    "salary", "health", "dental", "vision", "equity", "bonus", "culture",
    "mission", "values", "collaborate", "partner", "stakeholders", "business",
    "requirements", "solutions", "experience", "years", "degree", "bachelor",
    "computer", "science", "engineering", "mathematics", "statistics",
    "strong", "excellent", "communication", "written", "verbal", "ownership",
    "impact", "fast", "paced", "environment", "startup", "enterprise",
    "clients", "projects", "deadlines", "manage", "lead", "mentor", "junior",
    "senior", "principal", "architecture", "database", "queries",
    "performance", "tuning", "monitoring", "alerting", "testing",
    "automation", "deployment", "security", "privacy", "compliance",
    "governance", "ingestion", "batch", "schema", "models", "features",
    "metrics", "experiments", "research", "prototype", "production",
    "operations", "incident", "response", "documentation", "review", "code",
    "standards", "best", "practices", "maintain", "improve", "optimize",
    "scale", "data", "tools", "workflows", "reporting", "teams", "hiring",
    "onsite", "travel", "flexible", "hours", "schedule", "weekly", "goals",
    "roadmap", "vendors", "budget", "planning", "coverage", "signals",
    "latency", "storage", "compute", "network", "cluster", "jobs")

  /** Words the filter stage excludes on (the benchmark's filter config). */
  val TitleExclusion = "intern"
  val SummaryExclusion = "clearance"

  val Roles: Vector[String] = Vector(
    "Data Engineer", "Senior Data Engineer", "Analytics Engineer",
    "Platform Engineer", "Machine Learning Engineer", "Data Analyst",
    "Backend Engineer", "Site Reliability Engineer", "Data Architect",
    "Software Engineer")

  val ResumeSkills: Vector[String] = Vector(
    "python", "sql", "spark", "aws", "docker", "airflow", "etl", "git",
    "linux", "kafka", "scala", "tableau")

  /** The resume every match score is computed against. */
  val Resume: String =
    "Senior engineer with experience in " + ResumeSkills.mkString(", ") +
      ". Strong communication, ownership and mentoring of junior teams."

  private def termsIn(s: String): Set[String] = {
    val l = s.toLowerCase
    (Skills :+ TitleExclusion :+ SummaryExclusion).filter(l.contains).toSet
  }

  /** Fails fast when a filler word or a token pair creates a term the
    * model does not know about.
    */
  def check(): Unit = {
    val tokens = Filler ++ Skills ++ Filler.map(_ + ".") ++
      Filler.map(_.capitalize) ++ Vector(
        "R&D", "security clearance required", "•", "\"quality\"")
    for (w <- Filler) require(termsIn(w).isEmpty, s"filler word '$w' contains a term")
    for (a <- tokens; b <- tokens) {
      val joined = termsIn(a + " " + b)
      require(joined == termsIn(a) ++ termsIn(b),
        s"token pair '$a' '$b' creates a term across the boundary")
    }
    for (r <- Roles) require(termsIn(r).isEmpty || termsIn(r) == Set("machine learning"),
      s"role '$r' contains an unexpected term")
  }

  /** Match percentage as the program defines it: matched ÷ job skills ×
    * 100, two decimals half-up, 0 when the job lists no skill.
    */
  def matchPct(job: Set[String]): Double =
    if (job.isEmpty) 0.0
    else BigDecimal(job.count(ResumeSkills.contains) * 100.0 / job.size)
      .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** `to_json` rendering of the sorted skills array. */
  def skillsJson(job: Set[String]): String =
    job.toSeq.sorted.map(s => "\"" + s + "\"").mkString("[", ",", "]")
}

/** One revision of a posting as the feed shows it. `html` is the
  * description's logical (unescaped) text; `skills` are the dictionary
  * terms it contains; `blank` means it has no text once HTML is removed.
  */
final case class Rev(title: String, html: String, pub: Long,
    skills: Set[String], blank: Boolean, excluded: Boolean)

/** A posting: one key, one or more revisions ordered by `pub`. */
final case class Item(link: String, feed: Int, created: Long, revs: Vector[Rev]) {
  def revAt(t: Long): Rev = revs.filter(_.pub <= t).last
}

/** One poll response: which feed, when, and the listed revisions. */
final case class Poll(name: String, feed: Int, feedTitle: String, at: Long,
    entries: Vector[(String, Rev)], malformed: Boolean)

/** Generator dials. */
final case class Dials(
    summaryWords: Int,
    htmlDensity: Double,
    skillsPerItem: Int,
    editRate: Double,
    blankRate: Double,
    exclusionRate: Double)

/** Seeded text and feed generator. Every choice comes from one
  * SplittableRandom, so a seed fixes every byte the benchmark writes.
  */
final class Gen(seed: Long, val dials: Dials) {
  private val rnd = new SplittableRandom(seed)

  private var revs = 0L

  /** True for an evenly spread `rate` share of calls with counter `n`:
    * shares stay exact for every seed, so every seed does the same work.
    */
  private def every(n: Long, rate: Double, phase: Double): Boolean =
    math.floor((n + 1) * rate + phase) > math.floor(n * rate + phase)

  def int(n: Int): Int = rnd.nextInt(n)
  def chance(p: Double): Boolean = rnd.nextDouble() < p
  def between(lo: Long, hi: Long): Long = lo + rnd.nextLong(math.max(1L, hi - lo))
  private def pick[T](v: Vector[T]): T = v(rnd.nextInt(v.size))

  /** A title; `excluded` titles carry the title exclusion keyword. */
  def title(id: String, excluded: Boolean, rev: Int): String = {
    val base = if (excluded) pick(Vocab.Roles) + " Intern" else pick(Vocab.Roles)
    if (rev == 0) s"$base #$id" else s"$base #$id (update $rev)"
  }

  /** An HTML description of about `words` words with `skills` inserted
    * once each. HTML density is the chance a sentence is wrapped in
    * markup and a word gap is an entity instead of a space.
    */
  def html(id: String, words: Int, skills: Set[String], clearance: Boolean): String = {
    val toks = Vector.newBuilder[String]
    toks += s"ref$id"
    (0 until words).foreach(_ => toks += pick(Vocab.Filler))
    val base = toks.result()
    val inserts = (skills.toVector.sorted ++
      (if (clearance) Vector("security clearance required") else Vector.empty))
    val all = inserts.foldLeft(base) { (v, s) =>
      val at = rnd.nextInt(v.size + 1); v.patch(at, Vector(s), 0)
    }
    val d = dials.htmlDensity
    val sb = new StringBuilder
    var i = 0
    while (i < all.size) {
      val len = 6 + rnd.nextInt(10)
      val sentence = all.slice(i, i + len)
      val body = sentence.zipWithIndex.map { case (w, j) =>
        val gap = if (j == 0) "" else if (chance(d / 3)) "&nbsp;" else " "
        val word =
          if (chance(d / 4)) s"<b>$w</b>"
          else if (chance(d / 8)) "&quot;" + w + "&quot;"
          else w
        gap + word
      }.mkString
      if (chance(d)) {
        pick(Vector("p", "li", "div")) match {
          case "li" => sb ++= s"<ul><li>$body.</li></ul>"
          case tag  => sb ++= s"<$tag>$body.</$tag>"
        }
      } else sb ++= s" $body. "
      if (chance(d / 6)) sb ++= "<br/>&#8226; R&amp;D "
      if (chance(d / 10)) sb ++= "<a href=\"https://jobs.example/apply\">apply</a> "
      i += len
    }
    sb.toString
  }

  def skillSet(): Set[String] = {
    val n = dials.skillsPerItem / 2 + rnd.nextInt(dials.skillsPerItem + 1)
    Iterator.continually(pick(Vocab.Skills)).take(n).toSet
  }

  /** A fresh revision for posting `id` at time `pub`; blank and excluded
    * revisions come at the dials' exact rates.
    */
  def rev(id: String, pub: Long, revNo: Int, words: Int): Rev = {
    revs += 1
    val blank = every(revs, dials.blankRate, 0.5)
    val exTitle = every(revs, dials.exclusionRate, 0.25)
    val clearance = !blank && every(revs, dials.exclusionRate, 0.75)
    val skills = if (blank) Set.empty[String] else skillSet()
    val text =
      if (blank) { if (chance(0.5)) "" else "<p>&nbsp;</p>" }
      else html(id, words, skills, clearance)
    Rev(title(id, exTitle, revNo), text, pub, skills, blank, exTitle || clearance)
  }
}

/** RSS rendering. Descriptions are entity-escaped HTML, as real feeds
  * ship them; "sloppy" files leave `&nbsp;` bare, which the program's
  * parser must repair before the XML parse.
  */
object Rss {
  private val Rfc = DateTimeFormatter
    .ofPattern("EEE, dd MMM yyyy HH:mm:ss Z", Locale.US).withZone(ZoneOffset.UTC)

  def rfc822(epochSec: Long): String = Rfc.format(Instant.ofEpochSecond(epochSec))

  private def esc(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  def render(p: Poll, sloppy: Boolean): Array[Byte] = {
    val sb = new StringBuilder
    sb ++= "<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<rss version=\"2.0\"><channel>"
    sb ++= s"<title>${esc(p.feedTitle)}</title><link>https://jobs.example/feed/${p.feed}</link>\n"
    for ((link, r) <- p.entries) {
      val desc = if (sloppy) esc(r.html).replace("&amp;nbsp;", "&nbsp;") else esc(r.html)
      sb ++= s"<item><title>${esc(r.title)}</title><link>$link</link>"
      sb ++= s"<pubDate>${rfc822(r.pub)}</pubDate><description>$desc</description></item>\n"
    }
    sb ++= "</channel></rss>\n"
    sb.toString.getBytes(UTF_8)
  }

  /** Writes `p` into `dir`; a malformed poll is cut off mid-document. */
  def write(dir: Path, p: Poll, g: Gen): Unit = {
    val bytes = render(p, sloppy = g.chance(0.5))
    val out =
      if (!p.malformed) bytes
      else java.util.Arrays.copyOf(bytes, (bytes.length * (40 + g.int(40))) / 100)
    Files.write(dir.resolve(p.name), out)
  }
}
