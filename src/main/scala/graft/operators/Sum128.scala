package graft.operators

/** `n` signed 128-bit integer accumulators, each held as a two's-complement
  * (hi, lo) pair of longs: the driver-side twin of `Tables.sum128`'s
  * aggregate buffer. Adds and merges are wrapping long arithmetic with an
  * explicit carry, so a total is the same integer whatever the row order,
  * partitioning or merge tree — the property the fixed-point churn fit
  * (`ChurnModel`) builds on.
  *
  * Doubles enter through [[addFixed]]: the term is scaled by 2^bits and
  * rounded to a long, and a term whose scaled magnitude reaches 2^62 (or
  * is NaN) throws instead of wrapping, so a total is never silently wrong.
  * With |term| < 2^62 per row, 2^65 rows fit before the 128-bit sum can
  * overflow. */
final class Sum128(val n: Int) extends Serializable {
  private val hi = new Array[Long](n)
  private val lo = new Array[Long](n)

  /** Adds the 128-bit value (h, l) to slot i. */
  private def add128(i: Int, h: Long, l: Long): Unit = {
    val a = lo(i)
    val s = a + l
    // unsigned carry-out of a + l
    val carry = ((a & l) | ((a | l) & ~s)) >>> 63
    lo(i) = s
    hi(i) += h + carry
  }

  def add(i: Int, v: Long): Unit = add128(i, v >> 63, v)

  /** Adds the exact 128-bit product a·b. */
  def addProd(i: Int, a: Long, b: Long): Unit =
    add128(i, Math.multiplyHigh(a, b), a * b)

  /** Adds round(t·2^bits); throws on a NaN or out-of-range term. */
  def addFixed(i: Int, t: Double, bits: Int): Unit = add(i, Sum128.fixed(t, bits))

  def merge(o: Sum128): this.type = {
    require(o.n == n, s"merging $n slots with ${o.n}")
    var i = 0
    while (i < n) { add128(i, o.hi(i), o.lo(i)); i += 1 }
    this
  }

  def big(i: Int): BigInt =
    (BigInt(hi(i)) << 64) + BigInt(java.lang.Long.toUnsignedString(lo(i)))

  /** Slot i as a double, read back at the fixed-point scale 2^-bits:
    * the exact integer total, correctly rounded once. */
  def toDouble(i: Int, bits: Int): Double = Math.scalb(big(i).toDouble, -bits)
}

object Sum128 {
  private val limit = Math.scalb(1.0, 62)

  /** round(t·2^bits) as a long; |t·2^bits| must stay below 2^62. */
  def fixed(t: Double, bits: Int): Long = {
    val q = Math.scalb(t, bits)
    if (!(math.abs(q) < limit))
      throw new ArithmeticException(
        s"fixed-point term $t out of range at scale 2^$bits (|term| must be < 2^${62 - bits})")
    Math.round(q)
  }
}
