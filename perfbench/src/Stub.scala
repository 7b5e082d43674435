package perfbench

import graft.operators.Enrichment.{BatchTransport, Clock, DeterministicScorer, ScoreRateLimited}
import org.apache.spark.SparkContext
import org.apache.spark.util.{CollectionAccumulator, LongAccumulator}
import java.util.SplittableRandom

/** Counters the stub scorer fills in, one set per enrichment pass. */
final class ScorerCounters(sc: SparkContext) extends Serializable {
  val calls: LongAccumulator = sc.longAccumulator("scorer.calls")
  val faults: LongAccumulator = sc.longAccumulator("scorer.faults")
  val waitSec: LongAccumulator = sc.longAccumulator("scorer.wait_s")
  val gaveUpBatches: LongAccumulator = sc.longAccumulator("scorer.gave_up_batches")
  /** Hash of every description whose batch exhausted its retries. */
  val gaveUp: CollectionAccumulator[Int] = sc.collectionAccumulator[Int]("scorer.gave_up")
  def gaveUpTexts: Set[Int] = {
    import scala.jdk.CollectionConverters._
    gaveUp.value.asScala.toSet
  }
}

/** Network-free stand-in for the LLM API. Scores follow the program's
  * `DeterministicScorer` formula; each call first waits a small fixed
  * delay, then fails with a seeded chance, as a 429 with Retry-After or
  * as a transient error. The fault decision is a pure function of the
  * batch's texts and the attempt number, so which batches give up does
  * not depend on partitioning. `maxRetries` must equal the
  * `RetryingScorer`'s, so the stub knows which failure is the last.
  */
final class StubTransport(seed: Long, maxRetries: Int, pRateLimited: Double,
    pTransient: Double, delayNanos: Long, counters: ScorerCounters)
    extends BatchTransport {
  @transient private lazy val attempts = new java.util.HashMap[Integer, Integer]()
  @transient private lazy val scorer = new DeterministicScorer()

  def scoreBatch(jobTexts: Seq[String], resumeText: String): Seq[Double] = {
    counters.calls.add(1)
    java.util.concurrent.locks.LockSupport.parkNanos(delayNanos)
    val h = jobTexts.map(StubTransport.textHash).hashCode
    val attempt: Int = attempts.merge(h, 1, (a: Integer, b: Integer) => a + b)
    val u = new SplittableRandom(seed * 1000003L + h * 31L + attempt).nextDouble()
    if (u < pRateLimited + pTransient) {
      counters.faults.add(1)
      if (attempt == maxRetries) {
        counters.gaveUpBatches.add(1)
        jobTexts.foreach(t => counters.gaveUp.add(StubTransport.textHash(t)))
      }
      if (u < pRateLimited) throw ScoreRateLimited(Some(1L + (h & 1)))
      else throw new RuntimeException("transient upstream error")
    }
    jobTexts.map(scorer.score(_, resumeText))
  }
}

object StubTransport {
  def textHash(s: String): Int = if (s == null) 0 else s.hashCode
}

/** Records the backoff the scorer asks for instead of sleeping it. */
final class StubClock(counters: ScorerCounters) extends Clock {
  def sleep(seconds: Long): Unit = counters.waitSec.add(seconds)
}
