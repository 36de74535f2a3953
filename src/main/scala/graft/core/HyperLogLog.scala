package graft.core

/** HyperLogLog distinct-count sketch over 64-bit hashes.
  *
  * From-scratch implementation following Flajolet, Fusy, Gandouet, Meunier
  * (2007) with the 64-bit-hash adaptation of Heule, Nunkesser, Hall
  * ("HyperLogLog in Practice", 2013): with a 64-bit hash the large-range
  * (collision) correction is unnecessary, and for the small range we use
  * linear counting over the zero registers. Dense representation only —
  * m = 2^p byte registers; at p<=18 a register array is <=256 KiB, which is
  * the right trade at this engine's scale (sketches are aggregation buffers
  * shuffled between partial and final aggregation; sparse mode optimizes
  * tiny cardinalities we don't care about).
  *
  * Standard error is 1.04/sqrt(m) (published bound; the acceptance
  * criterion of BASELINE.json, not a reference-code behavior — the
  * reference engine has no HLL; see SURVEY.md §2.7).
  *
  * Merge is register-wise max — associative, commutative, idempotent —
  * making this a mergeable aggregator in the same partial->final pattern
  * the reference demonstrates for Bloom union
  * (/root/reference/example_test.go:179-208).
  *
  * @param p precision, 4..18; m = 2^p registers
  */
final class HyperLogLog private (val p: Int, val registers: Array[Byte])
    extends Serializable {
  import HyperLogLog._

  @inline def m: Int = 1 << p

  /** Observe a 64-bit hash. */
  def add(h: Long): Unit = {
    val idx = (h >>> (64 - p)).toInt
    val rest = h << p
    // rank = leading zeros of the remaining 64-p bits, +1; rest==0 means
    // all 64-p remaining bits are zero -> rank = 64-p+1
    val rank =
      if (rest == 0L) (64 - p + 1) else java.lang.Long.numberOfLeadingZeros(rest) + 1
    if (rank > registers(idx)) registers(idx) = rank.toByte
  }

  /** Register-wise max merge; requires equal precision. */
  def merge(o: HyperLogLog): this.type = {
    require(o.p == p, "HLL precision mismatch")
    var i = 0
    while (i < registers.length) {
      if (o.registers(i) > registers(i)) registers(i) = o.registers(i)
      i += 1
    }
    this
  }

  /** Cardinality estimate using Ertl's improved raw estimator ("New
    * cardinality estimation algorithms for HyperLogLog sketches", 2017,
    * §4): replaces the classic raw-estimate/linear-counting switch (and
    * HLL++'s empirical bias tables) with closed-form corrections sigma()
    * for the zero registers and tau() for the saturated ones — unbiased
    * over the full range with no magic thresholds.
    */
  def estimate: Double = {
    val q = 64 - p // register values range over 0..q+1
    val md = m.toDouble
    // histogram of register values
    val c = new Array[Int](q + 2)
    var i = 0
    while (i < registers.length) { c(registers(i)) += 1; i += 1 }
    var z = md * tau(1.0 - c(q + 1) / md)
    var k = q
    while (k >= 1) { z = 0.5 * (z + c(k)); k -= 1 }
    z += md * sigma(c(0) / md)
    val alphaInf = 0.5 / math.log(2)
    alphaInf * md * md / z
  }

  /** Ertl's sigma: x + sum_{k>=1} x^(2^k) 2^(k-1); diverges at x=1. */
  private def sigma(x0: Double): Double = {
    if (x0 == 1.0) return Double.PositiveInfinity
    var x = x0
    var y = 1.0
    var z = x
    var zPrev = 0.0
    do {
      zPrev = z
      x = x * x
      z = z + x * y
      y = y + y
    } while (z != zPrev)
    z
  }

  /** Ertl's tau: (1/3)(1 - x - sum_{k>=1} (1 - x^(2^-k))^2 2^-k). */
  private def tau(x0: Double): Double = {
    if (x0 == 0.0 || x0 == 1.0) return 0.0
    var x = x0
    var y = 1.0
    var z = 1 - x
    var zPrev = 0.0
    do {
      zPrev = z
      x = math.sqrt(x)
      y = 0.5 * y
      val t = 1 - x
      z = z - t * t * y
    } while (z != zPrev)
    z / 3.0
  }

  /** Relative standard error bound: 1.04/sqrt(m). */
  def stdError: Double = 1.04 / math.sqrt(m.toDouble)

  def copy(): HyperLogLog = new HyperLogLog(p, registers.clone())

  /** Compact binary form: magic 'G','H', version, p, then m registers. */
  def serialize(): Array[Byte] = {
    val out = new Array[Byte](4 + m)
    out(0) = 'G'; out(1) = 'H'; out(2) = 0; out(3) = p.toByte
    System.arraycopy(registers, 0, out, 4, m)
    out
  }

  override def equals(o: Any): Boolean = o match {
    case g: HyperLogLog => p == g.p &&
      java.util.Arrays.equals(registers, g.registers)
    case _ => false
  }
  override def hashCode: Int = 31 * java.util.Arrays.hashCode(registers) + p
}

object HyperLogLog {
  /** The precision rule every HLL is built under. */
  def requirePrecision(p: Int): Unit =
    require(p >= 4 && p <= 18, s"HLL precision $p out of range [4,18]")

  def apply(p: Int): HyperLogLog = {
    requirePrecision(p)
    new HyperLogLog(p, new Array[Byte](1 << p))
  }

  def deserialize(bytes: Array[Byte]): HyperLogLog = {
    require(bytes.length >= 4 && bytes(0) == 'G' && bytes(1) == 'H',
      "not an HLL sketch")
    require(bytes(2) == 0, "unsupported HLL version")
    val p = bytes(3).toInt
    // validate BEFORE the length check: Int shifts are mod 32, so a
    // hostile p >= 32 could pass the length check with garbage m
    requirePrecision(p)
    require(bytes.length == 4 + (1 << p), "truncated HLL sketch")
    val regs = java.util.Arrays.copyOfRange(bytes, 4, bytes.length)
    // register range check: a byte of 0x80 reads as -128 and any value
    // beyond 64-p+1 is impossible from add(); unchecked, estimate()
    // indexes its histogram out of bounds long after load
    val maxReg = 64 - p + 1
    var i = 0
    while (i < regs.length) {
      require(regs(i) >= 0 && regs(i) <= maxReg,
        s"corrupt HLL sketch: register $i = ${regs(i)}")
      i += 1
    }
    new HyperLogLog(p, regs)
  }

  /** Bias-correction constant alpha_m (Flajolet et al., Fig. 3). */
  def alpha(m: Int): Double = m match {
    case 16 => 0.673
    case 32 => 0.697
    case 64 => 0.709
    case _  => 0.7213 / (1 + 1.079 / m)
  }
}
