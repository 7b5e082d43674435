package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One timed call: `parent` is the enclosing span's id (-1 at the top). */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)

/** One finished SQL execution: its id (the one its jobs carry), wall
  * time, whether its plan scans the feed source, and the directory it
  * writes, if any.
  */
final case class Exec(id: Long, seconds: Double, readsFeed: Boolean,
    writePath: Option[String])

/** What a QueryExecutionListener saw of one query: Catalyst phase times
  * and `observe` metrics.
  */
final case class Qe(analysisS: Double, optimizationS: Double, planningS: Double,
    observed: Map[String, Map[String, Long]])

/** Engine totals for one operation, as deltas over the operation. */
final case class OpStats(
    jobs: Long, tasks: Long, taskS: Double, failedTasks: Long,
    shuffleWriteMb: Double, shuffleReadMb: Double, spillMb: Double,
    outputMb: Double, gcS: Double, heapPeakMb: Double,
    feedScanTasks: Long,
    execs: Vector[Exec],
    qes: Vector[Qe],
    jobsByExec: Map[Long, Long],
    recordsWrittenByExec: Map[Long, Long],
    progress: Vector[StreamingQueryListener.QueryProgressEvent]) {
  def catalyst(f: Qe => Double): Double = qes.map(f).sum
}

/** The traced run's collector: spans around the benchmark's calls into
  * the program, plus Spark's public listeners. Spans and events stay in
  * memory; [[write]] dumps the spans when the run ends. With tracing off
  * no listener is attached and [[span]] only runs its body.
  */
final class Trace(spark: SparkSession) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var on = false

  def enabled: Boolean = on

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = spans.size
      val parent = stack.headOption.getOrElse(-1)
      spans += Span(id, parent, name, System.nanoTime(), -1L)
      stack.push(id)
      try body
      finally {
        stack.pop()
        spans(id) = spans(id).copy(endNs = System.nanoTime())
      }
    }

  // ---- listener state, reset by begin() -------------------------------
  private object L {
    var jobs = 0L; var tasks = 0L; var taskMs = 0L; var failed = 0L
    var shW = 0L; var shR = 0L; var spill = 0L; var outB = 0L; var feedScanTasks = 0L
    val stageExec = mutable.Map.empty[Int, Long]
    val jobsByExec = mutable.Map.empty[Long, Long].withDefaultValue(0L)
    val recordsByExec = mutable.Map.empty[Long, Long].withDefaultValue(0L)
    val execs = mutable.ArrayBuffer.empty[Exec]
    val started = mutable.Map.empty[Long, (Long, String)]
    val qes = mutable.ArrayBuffer.empty[Qe]
    val progress = mutable.ArrayBuffer.empty[StreamingQueryListener.QueryProgressEvent]
    def reset(): Unit = synchronized {
      jobs = 0; tasks = 0; taskMs = 0; failed = 0; shW = 0; shR = 0; spill = 0
      outB = 0; feedScanTasks = 0
      stageExec.clear(); jobsByExec.clear(); recordsByExec.clear(); execs.clear()
      started.clear(); qes.clear()
      progress.clear()
    }
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = L.synchronized {
      L.jobs += 1
      val exec = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong).getOrElse(-1L)
      L.jobsByExec(exec) += 1
      e.stageIds.foreach(s => L.stageExec(s) = exec)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = L.synchronized {
      L.tasks += 1
      if (!e.taskInfo.successful) L.failed += 1
      val m = e.taskMetrics
      if (m != null) {
        L.taskMs += m.executorRunTime
        L.shW += m.shuffleWriteMetrics.bytesWritten
        L.shR += m.shuffleReadMetrics.totalBytesRead
        L.spill += m.diskBytesSpilled + m.memoryBytesSpilled
        L.outB += m.outputMetrics.bytesWritten
        L.recordsByExec(L.stageExec.getOrElse(e.stageId, -1L)) += m.outputMetrics.recordsWritten
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        L.synchronized(L.started(s.executionId) = (s.time, s.physicalPlanDescription))
      case x: SparkListenerSQLExecutionEnd => L.synchronized {
        L.started.remove(x.executionId).foreach { case (t0, plan) =>
          val write = WritePath.findFirstMatchIn(plan).map(_.group(1))
          L.execs += Exec(x.executionId, (x.time - t0) / 1000.0,
            plan.contains("feed("), write)
        }
      }
      case _ =>
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = L.synchronized {
      if (e.stageInfo.rddInfos.exists(_.name == "DataSourceRDD"))
        L.feedScanTasks += e.stageInfo.numTasks
    }
  }

  private def secs(qe: QueryExecution, phase: String): Double =
    qe.tracker.phases.get(phase).map(p => (p.endTimeMs - p.startTimeMs) / 1000.0).getOrElse(0.0)

  private val WritePath =
    "(?s)\\(\\d+\\) Execute InsertIntoHadoopFsRelationCommand.*?Arguments: ([^,\\s]+)".r

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit = {
      val observed = qe.observedMetrics.map { case (k, row) =>
        k -> row.schema.fieldNames.zipWithIndex.map { case (f, i) =>
          f -> Option(row.get(i)).map(_.toString.toDouble.toLong).getOrElse(0L) }.toMap
      }
      val q = Qe(secs(qe, "analysis"), secs(qe, "optimization"), secs(qe, "planning"), observed)
      L.synchronized(L.qes += q)
    }
    override def onFailure(func: String, qe: QueryExecution, ex: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      L.synchronized(L.progress += e)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def attach(): Unit = if (!on) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    on = true
  }

  def detach(): Unit = if (on) {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    on = false
  }

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)
  private var gc0 = 0L

  /** Starts one traced operation. */
  def begin(): Unit = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    L.reset()
    heapPools.foreach(_.resetPeakUsage())
    gc0 = gcBeans.map(_.getCollectionTime).sum
  }

  /** Ends the operation begun by [[begin]]: waits for the listener bus
    * to deliver every event, then returns the deltas.
    */
  def end(): OpStats = {
    val gcMs = gcBeans.map(_.getCollectionTime).sum - gc0
    val heapPeak = heapPools.map(_.getPeakUsage.getUsed).sum
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    val mb = 1024.0 * 1024.0
    L.synchronized {
      OpStats(L.jobs, L.tasks, L.taskMs / 1000.0, L.failed, L.shW / mb, L.shR / mb,
        L.spill / mb, L.outB / mb, gcMs / 1000.0, heapPeak / mb, L.feedScanTasks,
        L.execs.toVector, L.qes.toVector, L.jobsByExec.toMap, L.recordsByExec.toMap, L.progress.toVector)
    }
  }

  /** Spark jobs started since [[begin]], once the bus has caught up. */
  def jobsSoFar(): Long = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    L.synchronized(L.jobs)
  }

  /** Writes every span as one JSON object per line. */
  def write(path: java.nio.file.Path): Unit = {
    val lines = spans.map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    java.nio.file.Files.write(path, lines.asJava)
  }
}
