package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Mergeable HyperLogLog register sketch (Flajolet et al., "HyperLogLog:
  * the analysis of a near-optimal cardinality estimation algorithm") over
  * pre-hashed 60-bit keys — the incremental-distinct primitive: registers
  * from disjoint batches MERGE by elementwise max, so a standing stats
  * store keeps 256 bytes per counter and absorbs new data without ever
  * re-scanning history (contrast `approx_count_distinct`, whose sketch
  * Spark exposes only as an opaque intermediate).
  *
  * Layout matches the engine-portable 60-bit md5 hash used across the
  * repo (15 hex chars → BIGINT, the q23/q113 discipline): bucket =
  * h mod 256 (p = 8), the remaining 52 bits w = h div 256 carry the rank
  * rho = (position of w's highest set bit from the 52-bit MSB) =
  * 53 − bitlength(w), i.e. `strpos(lpad(bin(w), 52, '0'), '1')` — pure
  * integer/string ops both engines replay exactly, which is what lets
  * the REGISTERS themselves be oracle-checked (the float estimate is
  * spec-land; the sketch state is exact).
  *
  * Scale: the aggregation is a 256-byte commutative-monoid fold —
  * partial-agg friendly, shuffle volume 256 ints per partition
  * regardless of input size.
  */
final case class HllBuf(regs: Array[Int])

class HllAggregator extends Aggregator[Long, HllBuf, Seq[Int]] {
  import HllAggregator._

  override def zero: HllBuf = HllBuf(new Array[Int](M))

  // reduce/merge MUTATE the buffer array in place: the buffer is owned
  // by this aggregation path (Spark hands each partial its own
  // deserialized instance), and an immutable rebuild here costs a
  // 256-element copy PER INPUT ROW on the hot path. Only finish()
  // materializes an immutable view.
  override def reduce(b: HllBuf, h: Long): HllBuf = {
    val bucket = (h % M).toInt
    val r = rho(h / M)
    if (r > b.regs(bucket)) b.regs(bucket) = r
    b
  }

  override def merge(a: HllBuf, b: HllBuf): HllBuf = {
    var i = 0
    while (i < M) { if (b.regs(i) > a.regs(i)) a.regs(i) = b.regs(i); i += 1 }
    a
  }

  override def finish(b: HllBuf): Seq[Int] = b.regs.toSeq

  override def bufferEncoder: Encoder[HllBuf] = Encoders.product[HllBuf]
  override def outputEncoder: Encoder[Seq[Int]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Int]]()
}

object HllAggregator {
  /** Register count (p = 8). 256 registers → ~6.5% standard error. */
  val M = 256

  /** Rank of a 52-bit value: leading zeros within the 52-bit width + 1;
    * w = 0 (all 52 bits zero) → 53. Equals
    * `strpos(lpad(bin(w), 52, '0'), '1')` in DuckDB. */
  def rho(w: Long): Int =
    if (w == 0L) 53 else java.lang.Long.numberOfLeadingZeros(w) - 11

  /** Standard HLL estimate with the small-range (linear counting)
    * correction. Float-land: spec-verified for accuracy, never hashed
    * against an oracle. */
  def estimate(regs: Seq[Int]): Double = {
    val m = regs.size.toDouble
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    val raw = alpha * m * m / regs.map(r => math.pow(2.0, -r)).sum
    val zeros = regs.count(_ == 0)
    if (raw <= 2.5 * m && zeros > 0) m * math.log(m / zeros) else raw
  }
}
