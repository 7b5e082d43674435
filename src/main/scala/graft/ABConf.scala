package graft

import org.apache.spark.sql.SparkSession

/** Same-JVM config A/B (not part of the library surface), the one
  * harness for timing a conf-guarded code variant against another.
  * Two config values alternate round-robin inside ONE JVM: every
  * variant sees the same host-drift windows, and per-variant min over
  * rounds isolates the config effect from the host (repo bench
  * protocol). The conf is applied BOTH before the query is built (for
  * knobs read at plan-construction time, e.g. spark.graft.*) and after
  * (for knobs Graft.tune re-pins at build time, e.g. the optimizer
  * exclusion list — those are read lazily at optimization time).
  *
  * Usage: ABConf <sfDir> <rounds> <confKey> <valA> <valB> <q[,q...]>
  *   ("" as a value means unset). With a key no query reads and both
  *   values "", the two variants are identical and the run measures
  *   host drift alone across the named queries.
  */
object ABConf {
  def main(args: Array[String]): Unit = {
    require(args.length >= 6,
      "usage: ABConf <sfDir> <rounds> <confKey> <valA> <valB> <queries>")
    val Array(sfDir, roundsS, confKey, valA, valB, qs) = args.take(6)
    val rounds = roundsS.toInt
    val queries = qs.split(",").toSeq.filter(_.nonEmpty)
    val canaries = Seq("q02_filter_project", "q20_ts_bucket", "q39_frame_sample")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Graft.tune(spark)

    def clear(): Unit = {
      Caches.release(spark)
      spark.sharedState.cacheManager.clearCache()
    }
    def set(v: String): Unit =
      if (v.isEmpty) spark.conf.unset(confKey) else spark.conf.set(confKey, v)
    def time(name: String, v: Option[String]): Double = {
      v.foreach(set)
      val df = SparkEntry.queries(name)(spark, sfDir)
      v.foreach(set) // re-apply: Graft.tune re-pins some session confs
      val t0 = System.nanoTime()
      val n = try Bench.forceAll(df)
        catch { case e: Throwable => System.err.println(s"ERR $name: $e"); -1L }
      val dt = (System.nanoTime() - t0) / 1e9
      System.err.println(f"  $name%-24s $dt%7.2fs rows=$n")
      clear()
      dt
    }

    queries.foreach(q => time(q, Some(valA))) // JVM warmup
    clear()

    val variants = Seq("A" -> valA, "B" -> valB)
    val results = collection.mutable.Map[(String, String), List[Double]]()
      .withDefaultValue(Nil)
    val canaryTimes = collection.mutable.Map[String, List[Double]]()
      .withDefaultValue(Nil)
    for (r <- 1 to rounds) {
      System.err.println(s"=== round $r/$rounds ===")
      canaries.foreach(q => canaryTimes(q) ::= time(q, Some(valA)))
      val rotated =
        if (r % 2 == 1) variants else variants.reverse
      for ((tag, v) <- rotated; q <- queries)
        results((tag, q)) ::= time(q, Some(v))
    }
    set(valA) // leave the session on variant A

    def stats(xs: List[Double]): String = {
      val s = xs.sorted
      val med =
        if (s.size % 2 == 1) s(s.size / 2)
        else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
      f"min=${s.head}%6.2f med=$med%6.2f max=${s.last}%6.2f"
    }
    println(s"\n===== ABConf $confKey: A='$valA' B='$valB' =====")
    for (q <- queries) {
      println(q)
      for ((tag, _) <- variants)
        println(f"  $tag%-2s ${stats(results((tag, q)))}")
    }
    println("canaries (drift inside this session)")
    for (q <- canaries) println(f"  $q%-22s ${stats(canaryTimes(q))}")
    spark.stop()
  }
}
