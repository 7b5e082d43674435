package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** The benchmark's own tests of its generator and model (no Spark):
  * the same seed writes byte-identical files, another seed does not,
  * and the dials produce the shares the workloads are chosen for.
  */
object SelfTest {
  private def bytes(dir: Path): Map[String, Seq[Byte]] = {
    val s = Files.walk(dir)
    try s.iterator.asScala.filter(Files.isRegularFile(_))
      .map(p => dir.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
    finally s.close()
  }

  private def cronFiles(seed: Long, dir: Path, rounds: Int): Cron = {
    val c = new Cron(seed, 50)
    Files.createDirectories(dir)
    (1 to rounds).foreach(_ => c.write(dir, c.next()))
    c
  }

  def run(work: Path): Unit = {
    Vocab.check()
    val a = Backfill.generate(5, work.resolve("a"), 40, 20)
    Backfill.generate(5, work.resolve("b"), 40, 20)
    Backfill.generate(6, work.resolve("c"), 40, 20)
    val (ba, bb, bc) = (bytes(work.resolve("a")), bytes(work.resolve("b")), bytes(work.resolve("c")))
    require(ba.size == 80 && ba == bb, "backfill: same seed must give byte-identical files")
    require(ba != bc, "backfill: another seed must give other files")

    for (r <- a) {
      require(r.polls.count(_.malformed) >= 1, s"region ${r.name}: no malformed file")
      require(r.malformedOnlyKeys.nonEmpty, s"region ${r.name}: malformed files hide no key")
      val share = r.expected.result.size.toDouble / r.expected.stage.size
      require(share > 0.02 && share < 0.25, s"region ${r.name}: filter keeps $share")
      require(r.expected.stage.values.exists(_.title.contains("(update")),
        s"region ${r.name}: no edited posting")
    }

    val c1 = cronFiles(9, work.resolve("cron1"), 6)
    cronFiles(9, work.resolve("cron2"), 6)
    require(bytes(work.resolve("cron1")) == bytes(work.resolve("cron2")),
      "cron: same seed must give byte-identical rounds")
    require(c1.edits > 0 && c1.versions == c1.latest.size + c1.edits,
      "cron: version count must be keys + edits")
    println("selftest ok")
  }
}
