package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Benchmark entry point: one JVM runs one workload.
  *
  * {{{
  * Main --workload backfill|cron --seed N --seconds S --trace 0|1
  *      --work DIR --out DIR
  * }}}
  *
  * Set-up (session start, input generation, table seeding) is done
  * `SetupPasses` times, then one untimed warm-up operation runs;
  * `setup_s` is the median pass plus the warm-up. The timed loop then
  * repeats the workload's operation, closed-loop from this one
  * thread, until `--seconds` of operation time have passed and at least
  * `MinOps` times. Outputs are checked against the generator's model
  * outside the timed region. With `--trace 1`, operations alternate
  * untraced and traced, so that the traced ones sit between untraced
  * ones on the warm-up trend; traced
  * ones run with listeners and spans on and are followed by the
  * per-layer replays, and the difference of the two medians is the
  * tracing overhead. The last stdout line is the JSON result.
  */
object Main {
  val SetupPasses = 3
  val MinOps = 3
  /** No new operation starts after this much wall time. */
  val WallCapSec = 120.0

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (a.get("selftest").contains("1")) { SelfTest.run(Paths.get(a("work"))); sys.exit(0) }
    if (a.get("train").contains("1")) { train(Paths.get(a("work"))); sys.exit(0) }
    val name = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = Paths.get(a("work"))
    val out = Paths.get(a("out"))
    Vocab.check()
    val started = System.nanoTime()
    def elapsed = (System.nanoTime() - started) / 1e9
    val cores = Runtime.getRuntime.availableProcessors

    var spark: SparkSession = null
    var w: Workload = null
    val setupTimes = (1 to SetupPasses).map { p =>
      Workload.delete(work.resolve(s"setup-${p - 1}"))
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = graft.Graft.session(s"local[$cores]", 2 * cores)
      spark.sparkContext.setLogLevel("ERROR")
      w = Workload(name, seed)
      w.setup(spark, Files.createDirectories(work.resolve(s"setup-$p")))
      (System.nanoTime() - t0) / 1e9
    }
    val warmS = {
      val t0 = System.nanoTime()
      w.warmUp()
      (System.nanoTime() - t0) / 1e9
    }

    val trace = new Trace(spark)
    val times = mutable.ArrayBuffer.empty[Double]
    val resultTimes = mutable.ArrayBuffer.empty[Double]
    val entryRates = mutable.ArrayBuffer.empty[Double]
    val rowRates = mutable.ArrayBuffer.empty[Double]
    val tracedTimes = mutable.ArrayBuffer.empty[Double]
    val untracedTimes = mutable.ArrayBuffer.empty[Double]
    val layerSamples = mutable.ArrayBuffer.empty[Map[String, Double]]
    var attempted, failed = 0
    var timed = 0.0
    var i = 0
    var consecutiveFailures = 0
    while ((timed < seconds || i < MinOps) && elapsed < WallCapSec && consecutiveFailures < 3) {
      val tracedOp = traced && i % 2 == 1
      if (tracedOp) trace.attach()
      var t0 = System.nanoTime()
      val r =
        try {
          w.prepare(i, trace)
          if (tracedOp) trace.begin()
          t0 = System.nanoTime()
          trace.span(s"op-$i")(w.op(i, trace))
        } catch { case scala.util.control.NonFatal(e) => e.printStackTrace(); OpResult(0, 0, Double.NaN, 1, 1) }
      val dt = (System.nanoTime() - t0) / 1e9
      if (tracedOp) {
        val st = trace.end()
        tracedTimes += dt
        layerSamples += w.layers(i, st)
        trace.detach()
      } else if (traced) untracedTimes += dt
      timed += dt
      times += dt
      resultTimes += (if (r.resultS.isNaN) dt else r.resultS)
      entryRates += r.entries / dt
      rowRates += r.rows / dt
      attempted += r.attempted
      failed += r.failed
      consecutiveFailures = if (r.failed > 0) consecutiveFailures + 1 else 0
      val (ca, cf) =
        try w.check(i)
        catch { case scala.util.control.NonFatal(e) => e.printStackTrace(); (1, 1) }
      attempted += ca
      failed += cf
      i += 1
    }
    val (fa, ff) =
      try w.finalCheck()
      catch { case scala.util.control.NonFatal(e) => e.printStackTrace(); (1, 1) }
    attempted += fa
    failed += ff

    val median = Workload.median _
    val metrics: Seq[(String, Double, String)] =
      if (!traced) Seq(
        ("setup_s", median(setupTimes) + warmS, "s"),
        ("entries_per_s", median(entryRates.toSeq), "1/s"),
        ("round_p50_s", median(resultTimes.toSeq), "s"),
        ("rows_per_s", median(rowRates.toSeq), "1/s"),
        ("ops_ok_ratio", 1.0 - failed.toDouble / attempted, "ratio"))
      else {
        Workload.PerLayer.map(k => (k, median(layerSamples.map(_.getOrElse(k, 0.0)).toSeq), unitOf(k))) :+
          (("trace.overhead_s", median(tracedTimes.toSeq) - median(untracedTimes.toSeq), "s"))
      }

    // human-readable report, then the JSON result as the last line
    println(s"workload $name seed $seed trace ${if (traced) 1 else 0}: " +
      s"${times.size} rounds, ${"%.3f".format(timed)} s timed, setup passes " +
      setupTimes.map("%.3f".format(_)).mkString(",") + ", warm-up " + "%.3f".format(warmS))
    println("  operation times " + times.map("%.3f".format(_)).mkString(", ") + " s; to result " +
      resultTimes.map("%.3f".format(_)).mkString(", ") + " s")
    metrics.foreach { case (k, v, u) => println(f"  $k%-28s $v%14.6f $u") }
    println(f"  ${"ops_failed_ratio"}%-28s ${failed.toDouble / attempted}%14.6f ratio" +
      s" ($failed of $attempted operations)")
    tail(resultTimes.toSeq).foreach { case (p, v) => println(f"  round_p${p}%d_s ${v}%.6f s") }

    if (traced) {
      Files.createDirectories(out)
      trace.write(out.resolve(s"trace-$name-$seed.jsonl"))
    }
    spark.stop()

    def num(v: Double): String = if (v.isNaN || v.isInfinite) "0" else v.toString
    val json = metrics.map { case (k, v, u) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {$json}}""")
    System.out.flush()
    sys.exit(0)
  }

  /** Loads the classes a run needs, for the class-data archive the
    * build dumps at JVM exit: each workload's set-up and warm-up.
    */
  private def train(work: Path): Unit = {
    val cores = Runtime.getRuntime.availableProcessors
    for (name <- Seq("backfill", "cron")) {
      val spark = graft.Graft.session(s"local[$cores]", 2 * cores)
      spark.sparkContext.setLogLevel("ERROR")
      val w = Workload(name, 0L)
      w.setup(spark, Files.createDirectories(work.resolve(s"train-$name")))
      w.warmUp()
      spark.stop()
    }
  }

  /** The highest of p90/p99 with at least ten samples beyond it. */
  private def tail(xs: Seq[Double]): Option[(Int, Double)] =
    Seq(99, 90).find(p => xs.size * (100 - p) / 100.0 >= 10).map { p =>
      val s = xs.sorted
      p -> s(math.min(s.size - 1, math.ceil(s.size * p / 100.0).toInt - 1))
    }

  private def unitOf(k: String): String =
    if (k.endsWith("_s") || k == "etl.s" || k == "filter.s" || k == "load.s" || k == "normalize.s") "s"
    else if (k.endsWith("_mb")) "MB"
    else if (k.endsWith("amplification") || k.endsWith("per_file")) "ratio"
    else "count"
}
