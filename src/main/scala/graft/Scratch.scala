package graft

import org.apache.spark.sql.SparkSession

/** Ad-hoc plan/timing inspection (not part of the library surface). */
object Scratch {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Graft.tune(spark)
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    // "dump:<outDir>" as the 2nd arg → write the named queries' results
    // + oracle_sql.json there (subset Verify, for check_oracle.py).
    val dump = args.drop(1).headOption.filter(_.startsWith("dump:")).map(_.drop(5))
    dump.foreach { out =>
      new java.io.File(out).mkdirs()
      val names = args.drop(2)
      names.foreach { q =>
        SparkEntry.queries(q)(spark, dir).coalesce(1)
          .write.mode("overwrite").parquet(s"$out/$q")
      }
      def esc(s: String): String = "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case '\r' => "\\r"; case '\t' => "\\t"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$out/oracle_sql.json"),
        SparkEntry.oracleSql.filter(kv => names.contains(kv._1))
          .map { case (k, v) => s"${esc(k)}: ${esc(v)}" }.mkString("{", ",", "}"))
      spark.stop(); return
    }
    for (q <- args.drop(1)) {
      // "conf:key=value" args set a session conf in place (e.g. the
      // graft.ABConf knobs, to print a knob-off variant's plan)
      if (q.startsWith("conf:")) {
        val Array(k, v) = q.drop(5).split("=", 2)
        spark.conf.set(k, v)
      } else {
      val df = if (q == "entry") SparkEntry.entry(spark)
        else SparkEntry.queries(q)(spark, dir)
      println(s"===== $q =====")
      df.explain("formatted")
      val t0 = System.nanoTime()
      val n = Bench.forceAll(df)
      println(f"[time] $q ${(System.nanoTime()-t0)/1e9}%.2f s rows=$n")
      }
    }
    spark.stop()
  }
}
