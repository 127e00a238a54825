package graft.functions

/** HyperLogLog register kernel (Flajolet et al. 2007, the plain HLL
  * estimator — deliberately WITHOUT HLL++'s empirical bias tables, so
  * every arithmetic step is replayable in the DuckDB oracle; see the
  * q_hll_card oracle in graft.entry.CurationQueries).
  *
  * Register layout: `m = 2^p` one-byte registers. For a 64-bit input
  * hash `h`, the bucket is the TOP `p` bits (`h >>> (64-p)`) and the
  * rank observable is the LOW 32 bits taken as a 32-bit window:
  * `rho = nlz32(w) + 1` in 1..33 (`33` when the window is all zero).
  * Top-p and low-32 bits are disjoint for `p <= 32`, so bucket and
  * rank are independent hash bits, as HLL requires. The 32-bit window
  * (rather than the remaining `64-p` bits) is chosen because the
  * oracle can then compute `rho` exactly with DuckDB's `bin()` on a
  * BIGINT — no floating log2 anywhere.
  *
  * Estimator: `E = alpha_m * m^2 / sum_j 2^-M_j` with the standard
  * small-range linear-counting correction (`E <= 2.5m` and empty
  * registers present -> `m * ln(m/V)`). `sum 2^-M_j` is EXACT in
  * double arithmetic regardless of summation order (each term is a
  * power of two >= 2^-33 and the total is < m <= 2^26, well inside
  * the 53-bit mantissa), which is what makes the estimate
  * bit-reproducible across engines. No large-range correction: with a
  * 32-bit rank window the raw estimate is fine to ~10^8 distinct per
  * register set and the linear-counting branch never interacts with
  * it; beyond ~2^32 distinct VALUES callers should sketch a 64-bit
  * pre-hash anyway (the q_hll_card pattern: `hll_sketch64(fnv64(x))`),
  * where saturation sits at rho=33 ~ 8·10^9 per bucket.
  *
  * Standard-error: 1.04/sqrt(m); p=9 (512 registers, the query
  * default) gives ~4.6%.
  */
object Hll {

  /** Max register value: 32 leading zeros + 1. */
  final val MaxRho = 33

  def numRegisters(p: Int): Int = 1 << p

  /** Minimum 7: [[estimate]] uses the asymptotic bias correction
    * alpha(m) = 0.7213/(1+1.079/m), which the HLL paper only endorses
    * for m >= 128; m = 16/32/64 need the special constants
    * 0.673/0.697/0.709, and allowing those precisions here would bake
    * avoidable bias into the estimate (and into the SQL oracle replay
    * that mirrors this formula term-for-term). Below m = 128 a 128-byte
    * sketch costs nothing anyway — there is no reason to go smaller. */
  def requireP(p: Int): Unit =
    require(p >= 7 && p <= 18, s"hll precision p must be in [7, 18], got $p")

  /** Fold one pre-hashed value into the register array (mutates).
    * The input hash goes through the splitmix64 finisher first: fnv64
    * (the replayable pre-hash callers feed this) has weakly-avalanched
    * HIGH bits on short inputs — all 1-char strings land in one top-9
    * bucket — and HLL reads exactly those bits for the bucket. The
    * finisher is itself oracle-replayed (the sqlMixChain CTEs). */
  def update(regs: Array[Byte], h0: Long, p: Int): Unit = {
    val h = TextHash.mix64(h0)
    val bucket = (h >>> (64 - p)).toInt
    val w = (h & 0xffffffffL).toInt
    val rho = if (w == 0) MaxRho else Integer.numberOfLeadingZeros(w) + 1
    if (rho > regs(bucket)) regs(bucket) = rho.toByte
  }

  /** Bytewise max of `other` into `into` (mutates `into`). */
  def merge(into: Array[Byte], other: Array[Byte]): Unit = {
    require(into.length == other.length,
      s"hll merge: register widths differ (${into.length} vs ${other.length})")
    var i = 0
    while (i < into.length) {
      if (other(i) > into(i)) into(i) = other(i)
      i += 1
    }
  }

  /** Distinct-count estimate from a register array. Pure: the exact
    * arithmetic here is mirrored term-for-term by the DuckDB oracle. */
  def estimate(regs: Array[Byte]): Double = {
    val m = regs.length
    var sum = 0.0
    var zeros = 0
    var i = 0
    while (i < m) {
      val r = regs(i)
      // 2^-r exactly (r <= 33 < 63); double holds any power of two here
      sum += 1.0 / (1L << r).toDouble
      if (r == 0) zeros += 1
      i += 1
    }
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    val raw = alpha * (m.toDouble * m.toDouble) / sum
    if (raw <= 2.5 * m && zeros > 0) m.toDouble * math.log(m.toDouble / zeros)
    else raw
  }
}
