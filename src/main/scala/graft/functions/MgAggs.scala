package graft.functions

import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf
import org.apache.spark.sql.{Column, Encoder, Encoders}

/** MERGEABLE Misra–Gries heavy-hitter summary (Agarwal et al.,
  * "Mergeable Summaries", PODS'12) — the Aggregator form of the
  * mapPartitions MG pass q117 runs ([[TextOps.mgCandidates]]), built for
  * the places only an aggregate can go: STREAMING windowed aggregation
  * (state-store buffers merge across micro-batches) and grouped batch
  * aggregation with map-side combine.
  *
  * State: at most `s` (key → count) counters. Point updates are classic
  * MG (present → +1; room → insert; else decrement every counter,
  * dropping zeros — the arriving item is absorbed). MERGE is the
  * PODS'12 rule that makes the summary mergeable WITHOUT losing the
  * error bound: sum both maps, and if more than `s` counters survive,
  * subtract the (s+1)-th largest count from all and drop non-positives.
  *
  * Guarantees (spec-gated, AggFuzzSpec): for a stream of n total
  * updates, every reported count is in [true − n/(s+1), true], and any
  * key with true count > n/(s+1) is PRESENT in the summary — under any
  * partitioning, micro-batch slicing, or merge tree. Counts are
  * order-dependent within the bound (MG is a lossy summary), so
  * consumers recount candidates exactly when exactness matters (the
  * q117 recount pattern; [[graft.operators.SketchHeavyHitters]] is the
  * stored-state cousin that recounts against CMS instead). */
class MgSummaryAgg(s: Int)
    extends Aggregator[Long, scala.collection.mutable.HashMap[Long, Long],
      Seq[(Long, Long)]] {
  require(s > 0, s"misra_gries: s must be positive, got $s")

  override def zero: scala.collection.mutable.HashMap[Long, Long] =
    scala.collection.mutable.HashMap.empty

  override def reduce(
      m: scala.collection.mutable.HashMap[Long, Long], key: Long)
      : scala.collection.mutable.HashMap[Long, Long] = {
    m.get(key) match {
      case Some(c) => m.update(key, c + 1)
      case None if m.size < s => m.update(key, 1L)
      case None =>
        val dead = m.iterator.collect { case (k, 1L) => k }.toList
        m.mapValuesInPlace((_, c) => c - 1)
        dead.foreach(m.remove)
    }
    m
  }

  override def merge(
      x: scala.collection.mutable.HashMap[Long, Long],
      y: scala.collection.mutable.HashMap[Long, Long])
      : scala.collection.mutable.HashMap[Long, Long] = {
    y.foreach { case (k, c) => x.update(k, x.getOrElse(k, 0L) + c) }
    if (x.size > s) {
      // (s+1)-th largest count — everything at or below it may be noise
      val cut = x.values.toArray.sortInPlace()(Ordering[Long].reverse)(s)
      val dead = scala.collection.mutable.ArrayBuffer.empty[Long]
      x.mapValuesInPlace((_, c) => c - cut)
      x.foreach { case (k, c) => if (c <= 0) dead += k }
      dead.foreach(x.remove)
    }
    x
  }

  override def finish(
      m: scala.collection.mutable.HashMap[Long, Long]): Seq[(Long, Long)] =
    m.toSeq.sortBy { case (k, c) => (-c, k) }

  override def bufferEncoder
      : Encoder[scala.collection.mutable.HashMap[Long, Long]] =
    Encoders.kryo[scala.collection.mutable.HashMap[Long, Long]]
  override def outputEncoder: Encoder[Seq[(Long, Long)]] =
    ExpressionEncoder[Seq[(Long, Long)]]()
}

object Mg {
  /** `misra_gries(s, key)` → ARRAY<STRUCT<_1: key, _2: lower-bound
    * count>> ordered (count DESC, key) — ≤ s entries. */
  def summary(s: Int, key: Column): Column =
    udaf(new MgSummaryAgg(s), Encoders.scalaLong).apply(key)
}
