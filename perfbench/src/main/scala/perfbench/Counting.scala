package perfbench

import graft.scorer.{LogisticQaScorer, LogisticRelevanceScorer, QaCandidate, QaScorer, RelevanceScorer}

import org.apache.spark.SparkContext
import org.apache.spark.util.LongAccumulator

/** Accumulator-backed counters shared by the counting decorators. */
final class ScorerCounters(sc: SparkContext) extends Serializable {
  val relCalls: LongAccumulator    = sc.longAccumulator("perfbench.relevance.calls")
  val relRelevant: LongAccumulator = sc.longAccumulator("perfbench.relevance.relevant")
  val relPlanted: LongAccumulator  = sc.longAccumulator("perfbench.relevance.planted")
  val relNanos: LongAccumulator    = sc.longAccumulator("perfbench.relevance.nanos")
  val qaCalls: LongAccumulator     = sc.longAccumulator("perfbench.qa.calls")
  val qaNanos: LongAccumulator     = sc.longAccumulator("perfbench.qa.nanos")

  def snapshot: Map[String, Long] = Map(
    "relCalls" -> relCalls.value.longValue, "relRelevant" -> relRelevant.value.longValue,
    "relPlanted" -> relPlanted.value.longValue,
    "relNanos" -> relNanos.value.longValue, "qaCalls" -> qaCalls.value.longValue,
    "qaNanos" -> qaNanos.value.longValue)
}

/** Counts the pairs a relevance scorer sees, how many it marks
  * relevant, how many of those are `planted` (question, paragraph)
  * pairs, and the time spent inside it. `drop` makes the decorator
  * score one pair as irrelevant: the self-test's fault that the
  * esg_batch output check must catch.
  */
final class CountingRelevanceScorer(
    inner: LogisticRelevanceScorer, threshold: Double, n: ScorerCounters,
    planted: (String, String) => Boolean,
    drop: Option[(String, String)] = None) extends RelevanceScorer {
  def scoreBatch(batch: Iterator[(Long, String, String)]): Iterator[(Long, Double)] = {
    val in  = batch.toArray
    val t0  = System.nanoTime()
    val out = inner.scoreBatch(in.iterator).toArray
    n.relNanos.add(System.nanoTime() - t0)
    drop.foreach { d =>
      in.indices.foreach(i => if ((in(i)._2, in(i)._3) == d) out(i) = (out(i)._1, 0.0))
    }
    n.relCalls.add(out.length.toLong)
    n.relRelevant.add(out.count(_._2 >= threshold).toLong)
    n.relPlanted.add(in.indices.count(i => out(i)._2 >= threshold && planted(in(i)._2, in(i)._3)).toLong)
    out.iterator
  }
}

/** Counts QA-head calls and the time spent inside the head. */
final class CountingQaScorer(inner: LogisticQaScorer, n: ScorerCounters) extends QaScorer {
  def scoreBatch(batch: Iterator[(Long, String, String)]): Iterator[(Long, Seq[QaCandidate])] = {
    val t0  = System.nanoTime()
    val out = inner.scoreBatch(batch).toArray
    n.qaNanos.add(System.nanoTime() - t0)
    n.qaCalls.add(out.length.toLong)
    out.iterator
  }
}
