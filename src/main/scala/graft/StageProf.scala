package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Per-stage attribution of a single query's wall time (dev tool for
  * the optimization rounds): runs the named queries like Scratch, with
  * a listener that prints, per stage, the wall span, summed task time,
  * GC, shuffle read/write bytes and spill — the local-mode stand-in
  * for the Spark UI's stage table (the UI is disabled in this
  * environment). Usage: StageProf <sfDir> <query...>
  */
object StageProf {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Graft.tune(spark)
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")

    case class St(name: String, var submitted: Long = 0L, var completed: Long = 0L,
      var taskMs: Long = 0L, var gcMs: Long = 0L, var shRead: Long = 0L,
      var shWrite: Long = 0L, var spill: Long = 0L, var input: Long = 0L,
      var tasks: Int = 0)
    val stages = mutable.LinkedHashMap.empty[Int, St]
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        stages.synchronized {
          val s = stages.getOrElseUpdate(e.stageInfo.stageId,
            St(e.stageInfo.name.takeWhile(_ != '\n')))
          s.submitted = System.nanoTime()
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = stages.synchronized {
        stages.get(e.stageId).foreach { s =>
          val m = e.taskMetrics
          if (m != null) {
            s.taskMs += m.executorRunTime
            s.gcMs += m.jvmGCTime
            s.shRead += m.shuffleReadMetrics.totalBytesRead
            s.shWrite += m.shuffleWriteMetrics.bytesWritten
            s.spill += m.memoryBytesSpilled
            s.input += m.inputMetrics.bytesRead
            s.tasks += 1
          }
        }
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stages.synchronized {
          stages.get(e.stageInfo.stageId).foreach(_.completed = System.nanoTime())
        }
    }

    for (q <- args.drop(1)) {
      stages.synchronized(stages.clear())
      spark.sparkContext.addSparkListener(listener)
      val df = SparkEntry.queries(q)(spark, dir)
      val t0 = System.nanoTime()
      val n = Bench.forceAll(df)
      val wall = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.removeSparkListener(listener)
      Caches.release(spark)
      println(s"===== $q wall=${f"$wall%.3f"}s rows=$n =====")
      val t1 = stages.values.map(_.submitted).filter(_ > 0).minOption.getOrElse(t0)
      stages.synchronized {
        stages.toSeq.sortBy(_._2.submitted).foreach { case (id, s) =>
          val span = if (s.completed > s.submitted) (s.completed - s.submitted) / 1e9 else 0.0
          val start = (s.submitted - t1) / 1e9
          println(f"  stage $id%3d @$start%6.2fs span=$span%6.3fs tasks=${s.tasks}%3d " +
            f"taskSum=${s.taskMs / 1000.0}%7.2fs gc=${s.gcMs}%4dms " +
            f"in=${s.input / 1e6}%8.2fMB shR=${s.shRead / 1e6}%7.2fMB " +
            f"shW=${s.shWrite / 1e6}%7.2fMB spill=${s.spill / 1e6}%6.1fMB  ${s.name}")
        }
      }
    }
    spark.stop()
  }
}
