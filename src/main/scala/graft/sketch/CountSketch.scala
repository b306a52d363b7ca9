package graft.sketch

/**
 * Count-Sketch (Charikar, Chen, Farach-Colton 2002): like Count-Min but each
 * update is signed — `stat[i][h_i(k)] += s_i(k)·v` with s_i(k) = ±1 — and the
 * point query is the median over rows of `s_i(k)·stat[i][h_i(k)]`. Unbiased
 * (errors cancel), with error O(√(F₂/w)) per query — tighter than CM's ε·N
 * on heavy-tailed streams at equal width.
 *
 * Reference twin: C# `CSLine.Update` (/root/reference/Simulation/CountSketch.cs:37-56,
 * sign = parity of hash bits :40-47) and C `countsketch.h:49-54` (sign =
 * 1-bit golden-ratio hash). One deliberate deviation: the reference's
 * `ForceQuery` takes the median of only the *positive* per-row estimates
 * (/root/reference/Simulation/CountSketch.cs:105-156), a heuristic that
 * biases small counts upward; we use the textbook all-rows median (the
 * estimator the paper's guarantee covers). Sign bit here = bit 63 of the
 * row hash (our analogue of the C twin's 1-bit hash).
 *
 * Fully linear ⇒ merge = elementwise sum: associative, commutative, and the
 * sketch of a partitioned stream equals the single-pass sketch bit-exactly.
 */
final class CountSketch private (
    val depth: Int,
    val width: Int, // power of two
    val seed: Long,
    val counters: Array[Long],
    private var _totalWeight: Long
) extends Mergeable[CountSketch] {

  private val mask = width - 1
  require(depth % 2 == 1, s"depth must be odd for a well-defined median: $depth")

  def totalWeight: Long = _totalWeight

  @inline private def sign(rowHash: Long): Long = (rowHash >> 63) | 1L // -1 or +1

  @inline def update(h: Hash128, weight: Long): Unit = {
    var i = 0
    while (i < depth) {
      val rh = h.row(i)
      counters(i * width + (rh & mask).toInt) += sign(rh) * weight
      i += 1
    }
    _totalWeight += weight
  }

  def update(key: String, weight: Long): Unit =
    update(Hash128.ofString(key, seed), weight)

  @inline def query(h: Hash128): Long = {
    val ests = new Array[Long](depth)
    var i = 0
    while (i < depth) {
      val rh = h.row(i)
      ests(i) = sign(rh) * counters(i * width + (rh & mask).toInt)
      i += 1
    }
    java.util.Arrays.sort(ests) // reference sorts d values too (util.h:104-150)
    ests(depth / 2)
  }

  def query(key: String): Long = query(Hash128.ofString(key, seed))

  /** AMS second-moment estimate (Alon–Matias–Szegedy, STOC'96): each row's
    * Σ_w counter² is an unbiased F₂ estimator with Var ≤ 2F₂²/width, and
    * the all-rows median tightens the tail — |est − F₂| ≤ √(8/width)·F₂
    * with constant probability per row, amplified by the median. Count-
    * Sketch IS the AMS structure (signed row hashes), so F₂ falls out of
    * the same buffer the point queries use — no extra build pass.
    * Int64 envelope: Σ counter² ≤ depth-free per-row bound
    * width·(F₁/1)²… practically F₁ ≤ 3·10⁹ keeps every square < 2⁶³;
    * beyond that, estimate on doubles (documented, not needed at gate
    * scales). */
  def f2Estimate: Long = {
    val ests = new Array[Long](depth)
    var i = 0
    while (i < depth) {
      var s = 0L
      var j = 0
      while (j < width) { val c = counters(i * width + j); s += c * c; j += 1 }
      ests(i) = s
      i += 1
    }
    java.util.Arrays.sort(ests)
    ests(depth / 2)
  }

  def merge(other: CountSketch): CountSketch = {
    require(other.depth == depth && other.width == width && other.seed == seed,
      "incompatible Count sketches")
    var i = 0
    while (i < counters.length) { counters(i) += other.counters(i); i += 1 }
    _totalWeight += other._totalWeight
    this
  }

  def copySketch(): CountSketch =
    new CountSketch(depth, width, seed, counters.clone(), _totalWeight)

  def serialize(): Array[Byte] = {
    val bb = SketchIO.writer(4 + 4 + 4 + 8 + 8 + 8 * counters.length)
    bb.putInt(CountSketch.Magic)
    bb.putInt(depth)
    bb.putInt(width)
    bb.putLong(seed)
    bb.putLong(_totalWeight)
    SketchIO.putLongs(bb, counters)
    bb.array()
  }
}

object CountSketch {
  final val Magic = 0x43534B31 // "CSK1"
  final val DefaultSeed = 0x91d3c6a85b2f7e40L

  def apply(depth: Int, width: Int, seed: Long = DefaultSeed): CountSketch = {
    require(depth >= 1 && depth <= 63, s"depth out of range: $depth")
    val d = if (depth % 2 == 0) depth + 1 else depth
    val w = SketchIO.nextPow2(width)
    new CountSketch(d, w, seed, new Array[Long](d * w), 0L)
  }

  def deserialize(bytes: Array[Byte]): CountSketch = {
    val bb = SketchIO.reader(bytes, Magic, "Count-Sketch")
    SketchIO.need(bb, 4 + 4 + 8 + 8, "Count-Sketch")
    val depth = bb.getInt
    val width = bb.getInt
    val seed = bb.getLong
    val total = bb.getLong
    require(depth >= 1 && depth <= 63 && depth % 2 == 1 && SketchIO.isWidth(width),
      s"not a valid Count-Sketch sketch: depth $depth, width $width")
    SketchIO.need(bb, 8L * depth * width, "Count-Sketch")
    new CountSketch(depth, width, seed,
      SketchIO.getLongs(bb, depth * width), total)
  }
}
