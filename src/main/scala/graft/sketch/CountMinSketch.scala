package graft.sketch

/**
 * Count-Min sketch (Cormode & Muthukrishnan 2005): `depth × width` matrix of
 * int64 counters; update adds the weight at one bucket per row, point query
 * is the min over rows. Guarantees, for N = total weight:
 *   - never underestimates: est(k) ≥ true(k) always;
 *   - est(k) ≤ true(k) + ε·N with probability ≥ 1−δ, for width ≥ ⌈e/ε⌉ and
 *     depth ≥ ⌈ln 1/δ⌉.
 *
 * Semantics mirror the reference's C# sketch (update
 * /root/reference/Simulation/CountMin.cs:39-43,75-79; min-query :91-97) but
 * with deterministic seeded double hashing (see [[XxHash64]] scaladoc for why
 * the reference's hashing is not reproducible) and — the piece the reference
 * never needed single-threaded — an associative, commutative [[merge]]
 * (elementwise sum), which is what lets Spark run this as partial aggregation
 * per partition followed by a shuffle of O(d·w) state instead of O(distinct
 * keys). Width is rounded up to a power of two so bucket indexing is a mask,
 * not a modulo (the reference's kernel uses the same trick via
 * multiply-shift hashing, /root/reference/KernelCountMax/util.h:25-34).
 */
final class CountMinSketch private (
    val depth: Int,
    val width: Int, // power of two
    val seed: Long,
    val counters: Array[Long], // flat depth*width, row-major
    private var _totalWeight: Long
) extends Mergeable[CountMinSketch] {

  private val mask = width - 1

  def totalWeight: Long = _totalWeight

  /** ε for which the additive bound ε·N holds at this width (width ≥ e/ε). */
  def epsilon: Double = math.E / width

  /** δ for this depth (δ = e^-depth). */
  def delta: Double = math.exp(-depth)

  @inline def update(h: Hash128, weight: Long): Unit = {
    var i = 0
    while (i < depth) {
      counters(i * width + h.bucket(i, mask)) += weight
      i += 1
    }
    _totalWeight += weight
  }

  def update(key: String, weight: Long): Unit =
    update(Hash128.ofString(key, seed), weight)

  /** Allocation-free update from precomputed double-hash halves (h_i =
    * h1 + i·h2, the same rows [[Hash128]] derives). */
  @inline def updateRaw(h1: Long, h2: Long, weight: Long): Unit = {
    var i = 0
    while (i < depth) {
      counters(i * width + ((h1 + i.toLong * h2) & mask.toLong).toInt) += weight
      i += 1
    }
    _totalWeight += weight
  }

  def update(key: Long, weight: Long): Unit =
    update(Hash128.ofLong(key, seed), weight)

  @inline def query(h: Hash128): Long = {
    var min = Long.MaxValue
    var i = 0
    while (i < depth) {
      val c = counters(i * width + h.bucket(i, mask))
      if (c < min) min = c
      i += 1
    }
    min
  }

  def query(key: String): Long = query(Hash128.ofString(key, seed))
  def query(key: Long): Long = query(Hash128.ofLong(key, seed))

  /** Allocation-free query from precomputed double-hash halves (same rows
    * [[Hash128.row]] derives — bit-identical to query(Hash128(h1, h2))). */
  @inline def queryRaw(h1: Long, h2: Long): Long = {
    var min = Long.MaxValue
    var i = 0
    while (i < depth) {
      val c = counters(i * width + ((h1 + i.toLong * h2) & mask.toLong).toInt)
      if (c < min) min = c
      i += 1
    }
    min
  }

  /** Fused update + post-update query in ONE pass over the d rows: each
    * bucket index is computed once and its counter touched once (the
    * separate updateRaw-then-queryRaw sequence recomputes the indices and
    * re-reads the freshly written lines). Bit-identical to updateRaw
    * followed by queryRaw — the post-update min over the same cells. */
  @inline def updateAndQueryRaw(h1: Long, h2: Long, weight: Long): Long = {
    var min = Long.MaxValue
    var i = 0
    while (i < depth) {
      val idx = i * width + ((h1 + i.toLong * h2) & mask.toLong).toInt
      val c = counters(idx) + weight
      counters(idx) = c
      if (c < min) min = c
      i += 1
    }
    _totalWeight += weight
    min
  }

  /** Query-then-update in one pass: returns the PRE-update estimate, then
    * applies the update — the reference's threshold-gate primitive
    * (`SwitchSketch.PeekUpdate`, /root/reference/Simulation/CountMin.cs:45-50,81-89,
    * used by the FilteredSketch composition). */
  def peekUpdate(key: String, weight: Long): Long = {
    val h = Hash128.ofString(key, seed)
    val pre = query(h)
    update(h, weight)
    pre
  }

  /** Elementwise sum; associative and commutative, so merge order across
    * partitions provably cannot change the result (property-tested). */
  def merge(other: CountMinSketch): CountMinSketch = {
    require(other.depth == depth && other.width == width && other.seed == seed,
      s"incompatible CM sketches: ($depth,$width,$seed) vs (${other.depth},${other.width},${other.seed})")
    var i = 0
    val n = counters.length
    while (i < n) { counters(i) += other.counters(i); i += 1 }
    _totalWeight += other._totalWeight
    this
  }

  def copySketch(): CountMinSketch =
    new CountMinSketch(depth, width, seed, counters.clone(), _totalWeight)

  def serialize(): Array[Byte] = {
    val bb = SketchIO.writer(4 + 4 + 4 + 8 + 8 + 8 * counters.length)
    bb.putInt(SketchIO.MagicCM)
    bb.putInt(depth)
    bb.putInt(width)
    bb.putLong(seed)
    bb.putLong(_totalWeight)
    SketchIO.putLongs(bb, counters)
    bb.array()
  }
}

object CountMinSketch {
  final val DefaultSeed = 0x7a3f9d2c51b8e604L

  /** Exact-dimension constructor (width rounded up to a power of two). */
  def apply(depth: Int, width: Int, seed: Long = DefaultSeed): CountMinSketch = {
    require(depth >= 1 && depth <= 64, s"depth out of range: $depth")
    val w = SketchIO.nextPow2(width)
    new CountMinSketch(depth, w, seed, new Array[Long](depth * w), 0L)
  }

  /** Width ⌈e/ε⌉ (rounded to 2^k), depth ⌈ln 1/δ⌉ — the TNET-2018 sizing. */
  def fromErrorBounds(eps: Double, delta: Double, seed: Long = DefaultSeed): CountMinSketch = {
    require(eps > 0 && eps < 1, s"eps out of range: $eps")
    require(delta > 0 && delta < 1, s"delta out of range: $delta")
    apply(math.ceil(math.log(1.0 / delta)).toInt.max(1),
      math.ceil(math.E / eps).toInt, seed)
  }

  def deserialize(bytes: Array[Byte]): CountMinSketch = {
    val bb = SketchIO.reader(bytes, SketchIO.MagicCM, "Count-Min")
    SketchIO.need(bb, 4 + 4 + 8 + 8, "Count-Min")
    val depth = bb.getInt
    val width = bb.getInt
    val seed = bb.getLong
    val total = bb.getLong
    require(depth >= 1 && depth <= 64 && SketchIO.isWidth(width),
      s"not a valid Count-Min sketch: depth $depth, width $width")
    SketchIO.need(bb, 8L * depth * width, "Count-Min")
    val counters = SketchIO.getLongs(bb, depth * width)
    new CountMinSketch(depth, width, seed, counters, total)
  }
}
