package graft.functions

import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf
import org.apache.spark.sql.{Column, Encoder, Encoders}

/** Bounded top-K accumulator state: `items` stays SORTED ascending and
  * never exceeds `k` entries. */
case class TopKBuf(k: Int, items: Array[Long])

/** Bounded TOP-K-SMALLEST-DISTINCT aggregate over a packed LONG sort key — the
  * scale-correct "K best per group" device: where `collect_list` +
  * `array_sort` + `slice` buffers EVERY group member (r13 measured q149's
  * candidate cut at ~4.9 s buffering 2 000-element lists per anchor) and
  * a window `row_number` sorts the whole partition, this aggregate
  * carries O(K) state per group, combines map-side (Aggregator contract:
  * partials merge), and ships at most K longs per group per partition
  * through the shuffle. At 100 TB the difference is structural: shuffle
  * volume is O(groups × K), not O(rows).
  *
  * Keys pack (priority, id) into one long — e.g. q149 packs
  * `(hamming << 56) | vec_id` so ascending long order IS the
  * (hamming ASC, id ASC) candidate rule and ties are impossible (ids are
  * unique). Repeated keys count once: q149's band join emits the same
  * candidate pair once per colliding band, and a dup occupying two of the
  * K slots would crowd out a real candidate — so the dedup rides the
  * O(log K) insert probe map-side instead of an extra `.distinct()`
  * shuffle over the (much larger) input stream. Allocation discipline:
  * inserts into a full buffer shift in place; only the warmup inserts
  * (first K) reallocate. */
class BoundedTopK(k: Int) extends Aggregator[Long, TopKBuf, Seq[Long]] {
  require(k > 0, s"bounded_topk: k must be positive, got $k")

  override def zero: TopKBuf = TopKBuf(k, Array.emptyLongArray)

  override def reduce(b: TopKBuf, v: Long): TopKBuf = {
    val it = b.items
    val n = it.length
    if (n < b.k) {
      val found = java.util.Arrays.binarySearch(it, v)
      if (found >= 0) return b // already held: count once
      val pos = -found - 1
      val out = new Array[Long](n + 1)
      System.arraycopy(it, 0, out, 0, pos)
      out(pos) = v
      System.arraycopy(it, pos, out, pos + 1, n - pos)
      TopKBuf(b.k, out)
    } else if (v < it(n - 1)) {
      val found = java.util.Arrays.binarySearch(it, v)
      if (found >= 0) return b
      val pos = -found - 1
      System.arraycopy(it, pos, it, pos + 1, n - 1 - pos)
      it(pos) = v
      b
    } else b
  }

  override def merge(x: TopKBuf, y: TopKBuf): TopKBuf = {
    if (x.items.isEmpty) return y
    if (y.items.isEmpty) return x
    val kk = math.max(x.k, y.k) // zero() buffers carry k; trust either
    val a = x.items; val b = y.items
    val out = new Array[Long](math.min(kk, a.length + b.length))
    var i = 0; var j = 0; var o = 0
    while (o < out.length && (i < a.length || j < b.length)) {
      if (j >= b.length || (i < a.length && a(i) <= b(j))) {
        if (i < a.length && j < b.length && a(i) == b(j))
          j += 1 // same value on both sides: emit once
        out(o) = a(i); i += 1
      } else { out(o) = b(j); j += 1 }
      o += 1
    }
    TopKBuf(kk, if (o == out.length) out
      else java.util.Arrays.copyOf(out, o))
  }

  override def finish(b: TopKBuf): Seq[Long] =
    scala.collection.immutable.ArraySeq.unsafeWrapArray(b.items)

  override def bufferEncoder: Encoder[TopKBuf] = Encoders.product[TopKBuf]
  override def outputEncoder: Encoder[Seq[Long]] =
    ExpressionEncoder[Seq[Long]]()
}

object TopK {
  /** `bounded_topk(k, packedKey)` → ARRAY<BIGINT> of the K smallest
    * DISTINCT packed keys, ascending. */
  def smallestKDistinct(k: Int, packed: Column): Column =
    udaf(new BoundedTopK(k), Encoders.scalaLong).apply(packed)
}
