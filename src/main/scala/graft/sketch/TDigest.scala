package graft.sketch

/**
 * t-digest (Dunning & Ertl, "Computing Extremely Accurate Quantiles Using
 * t-Digests", 2019) — merging-digest variant: centroids (mean, weight) kept
 * sorted; incoming values buffer up and are merged in one sorted sweep
 * bounded by the k1 scale function k(q) = (δ/2π)·asin(2q−1), which
 * concentrates resolution at the distribution tails.
 *
 * Second quantile algorithm alongside [[KllSketch]] per the north rule.
 * Merge folds the other digest's centroids through the same sweep —
 * associative up to the accuracy bound (like all t-digest implementations,
 * not bit-stable under re-ordering; tests assert rank error, SURVEY.md §7.5).
 * Fully deterministic for a fixed input order (no randomness anywhere).
 *
 * The sweep runs on every full buffer (each `4·δ` adds), not only on merges,
 * so it is the per-row cost of a build: one primitive stable sort, one pass,
 * and asin/sin only once per emitted centroid (see `mergeBuffer`).
 */
final class TDigest private (
    val compression: Double,
    private var means: Array[Double],
    private var weights: Array[Double],
    private var nCentroids: Int,
    private var _totalWeight: Double,
    private var _min: Double,
    private var _max: Double
) extends Mergeable[TDigest] {

  private val bufCap = math.max(64, (4 * compression).toInt)
  private var bufMeans = new Array[Double](bufCap)
  private var bufWeights = new Array[Double](bufCap)
  private var bufSize = 0
  // sweep scratch, reused across sweeps; transient, so it is not part of
  // the Java or Kryo form of a digest and comes back null
  @transient private var sortM: Array[Double] = _
  @transient private var sortW: Array[Double] = _
  @transient private var tmpM: Array[Double] = _
  @transient private var tmpW: Array[Double] = _

  def totalWeight: Double = { mergeBuffer(); _totalWeight }
  def centroidCount: Int = { mergeBuffer(); nCentroids }

  def update(x: Double): Unit = add(x, 1.0)

  def add(x: Double, w: Double): Unit = {
    require(!x.isNaN && w > 0, s"bad centroid ($x, $w)")
    if (bufSize == bufCap) mergeBuffer()
    bufMeans(bufSize) = x
    bufWeights(bufSize) = w
    bufSize += 1
    if (x < _min) _min = x
    if (x > _max) _max = x
  }

  def merge(other: TDigest): TDigest = {
    require(other.compression == compression, "incompatible t-digests")
    other.mergeBuffer()
    var i = 0
    while (i < other.nCentroids) {
      add(other.means(i), other.weights(i))
      i += 1
    }
    // add() only sees centroid MEANS — fold the other side's true extremes
    // too, or post-merge quantiles near 0/1 clamp to interior values
    if (other._min < _min) _min = other._min
    if (other._max > _max) _max = other._max
    this
  }

  @inline private def kScale(q: Double): Double =
    compression / (2.0 * math.Pi) * math.asin(2.0 * math.min(1.0, math.max(0.0, q)) - 1.0)

  /** The inverse of [[kScale]], (sin(2πk/δ) + 1)/2, or ±∞ beyond its range. */
  @inline private def qOf(k: Double): Double = {
    val a = k * (2.0 * math.Pi / compression)
    if (a <= -math.Pi / 2) Double.NegativeInfinity
    else if (a >= math.Pi / 2) Double.PositiveInfinity
    else (math.sin(a) + 1.0) / 2.0
  }

  /**
   * Folds the buffer into the centroids: one stable sort by mean, then one
   * sweep that grows the current centroid while the k1 scale spans at most
   * 1 across it. Runs every `bufCap` adds, and on every read.
   *
   * The sweep makes the same decision per element as the plain test
   * `kScale(q2) - k0 <= 1`, but calls asin once per centroid instead of once
   * per element. For each centroid it computes `k0` once and the q-band
   * [qLo, qHi] = [qOf(k0 + 1 - 1e-9) - 1e-12, qOf(k0 + 1 + 1e-9) + 1e-12];
   * below the band the element is absorbed, above it the element starts a
   * new centroid, and only inside it does the plain test run. This is exact:
   *  - the plain test is monotone in q2 (asin is semi-monotonic and every
   *    rounding step preserves order), so it is true up to some q* and
   *    false above; the band must only contain q*;
   *  - computed kScale differs from the exact k1 scale by at most about
   *    δ·1.2e-16 (≤ 1.2e-12 at δ = 10000: 1 ulp of asin, and the roundings
   *    of δ/2π and of the product), plus (δ/2π)·2^-54/√(1−x²) from
   *    rounding x = 2q−1, which is exact for q ≥ 1/4;
   *  - qOf is off from the exact inverse by about 3e-16 in q (1 ulp of sin,
   *    and the roundings of k0 ± 1 and of the angle), which shifts k by at
   *    most 3e-16·(δ/π)/√(1−x²);
   *  - the k margin 1e-9 is over 500× the first term at δ = 10000 and over
   *    5·10^4× at δ = 100; the q margin 1e-12 is worth (δ/π)·1e-12/√(1−x²)
   *    in k, over 10^4× the second term and 3000× the third at every x.
   * So no q2 outside the band is on the other side of q*. The stable sort
   * orders by `java.lang.Double.compare` (−0.0 before 0.0), with ties kept
   * in input order: centroids first, then the buffer in arrival order.
   */
  private def mergeBuffer(): Unit = {
    if (bufSize == 0) return
    val total = nCentroids + bufSize
    if (sortM == null || sortM.length < total) {
      sortM = new Array[Double](total); sortW = new Array[Double](total)
      tmpM = new Array[Double](total); tmpW = new Array[Double](total)
    }
    System.arraycopy(means, 0, sortM, 0, nCentroids)
    System.arraycopy(weights, 0, sortW, 0, nCentroids)
    System.arraycopy(bufMeans, 0, sortM, nCentroids, bufSize)
    System.arraycopy(bufWeights, 0, sortW, nCentroids, bufSize)
    bufSize = 0
    // summed before the sort: the rounding of the sum depends on its order
    var totalW = 0.0
    var i = 0
    while (i < total) { totalW += sortW(i); i += 1 }
    sortByMean(total)
    // the sweep writes centroid j over slot j, which it has already read
    val ms = sortM
    val ws = sortW
    var outN = 0
    var curM = ms(0)
    var curW = ws(0)
    var cumW = 0.0 // weight fully emitted so far
    var k0 = kScale(cumW / totalW)
    var qLo = qOf(k0 + 1.0 - 1e-9) - 1e-12
    var qHi = qOf(k0 + 1.0 + 1e-9) + 1e-12
    i = 1
    while (i < total) {
      val m = ms(i)
      val w = ws(i)
      val proposed = curW + w
      val q2 = (cumW + proposed) / totalW
      if (q2 < qLo || (q2 <= qHi && kScale(q2) - k0 <= 1.0)) {
        // absorb into current centroid (weighted mean)
        curM = curM + (m - curM) * (w / proposed)
        curW = proposed
      } else {
        ms(outN) = curM; ws(outN) = curW; outN += 1
        cumW += curW
        curM = m; curW = w
        k0 = kScale(cumW / totalW)
        qLo = qOf(k0 + 1.0 - 1e-9) - 1e-12
        qHi = qOf(k0 + 1.0 + 1e-9) + 1e-12
      }
      i += 1
    }
    ms(outN) = curM; ws(outN) = curW; outN += 1
    means = java.util.Arrays.copyOf(ms, outN)
    weights = java.util.Arrays.copyOf(ws, outN)
    nCentroids = outN
    _totalWeight = totalW
  }

  /** Stable sort of the first n (sortM, sortW) pairs by mean: insertion-sorted
    * runs of 32, then bottom-up merges between the scratch pairs. */
  private def sortByMean(n: Int): Unit = {
    val Run = 32
    var lo = 0
    while (lo < n) {
      val hi = math.min(n, lo + Run)
      var i = lo + 1
      while (i < hi) {
        val m = sortM(i); val w = sortW(i)
        var j = i
        while (j > lo && java.lang.Double.compare(sortM(j - 1), m) > 0) {
          sortM(j) = sortM(j - 1); sortW(j) = sortW(j - 1); j -= 1
        }
        sortM(j) = m; sortW(j) = w
        i += 1
      }
      lo = hi
    }
    var width = Run
    while (width < n) {
      val srcM = sortM; val srcW = sortW; val dstM = tmpM; val dstW = tmpW
      lo = 0
      while (lo < n) {
        val mid = math.min(n, lo + width)
        val hi = math.min(n, mid + width)
        var a = lo; var b = mid; var o = lo
        while (a < mid && b < hi) {
          // ties take the left run, which keeps the sort stable
          if (java.lang.Double.compare(srcM(a), srcM(b)) <= 0) {
            dstM(o) = srcM(a); dstW(o) = srcW(a); a += 1
          } else {
            dstM(o) = srcM(b); dstW(o) = srcW(b); b += 1
          }
          o += 1
        }
        System.arraycopy(srcM, a, dstM, o, mid - a); System.arraycopy(srcW, a, dstW, o, mid - a)
        o += mid - a
        System.arraycopy(srcM, b, dstM, o, hi - b); System.arraycopy(srcW, b, dstW, o, hi - b)
        lo = hi
      }
      sortM = dstM; sortW = dstW; tmpM = srcM; tmpW = srcW
      width *= 2
    }
  }

  /** Interpolated quantile over centroid midpoints, clamped to [min, max]. */
  def quantile(q: Double): Double = {
    require(q >= 0.0 && q <= 1.0, s"q out of range: $q")
    mergeBuffer()
    if (nCentroids == 0) return Double.NaN
    if (nCentroids == 1) return means(0)
    val target = q * _totalWeight
    if (target <= weights(0) / 2.0) return _min
    // walk centroid midpoints: centroid i covers cum weight around its center
    var cum = 0.0
    var i = 0
    while (i < nCentroids - 1) {
      val center = cum + weights(i) / 2.0
      val nextCenter = cum + weights(i) + weights(i + 1) / 2.0
      if (target < nextCenter) {
        if (target <= center) return means(i)
        val frac = (target - center) / (nextCenter - center)
        return means(i) + (means(i + 1) - means(i)) * frac
      }
      cum += weights(i)
      i += 1
    }
    _max
  }

  /** Estimated normalized rank of x (fraction of weight below x). */
  def rank(x: Double): Double = {
    mergeBuffer()
    if (nCentroids == 0) return Double.NaN
    if (x < _min) return 0.0
    if (x >= _max) return 1.0
    var cum = 0.0
    var i = 0
    while (i < nCentroids) {
      if (means(i) >= x) {
        // linear within centroid neighborhood
        val prevMean = if (i == 0) _min else means(i - 1)
        val prevCum = cum - (if (i == 0) 0.0 else weights(i - 1) / 2.0)
        val thisCum = cum + weights(i) / 2.0
        val frac = if (means(i) == prevMean) 0.0 else (x - prevMean) / (means(i) - prevMean)
        return math.min(1.0, math.max(0.0, (prevCum + (thisCum - prevCum) * frac) / _totalWeight))
      }
      cum += weights(i)
      i += 1
    }
    1.0
  }

  def serialize(): Array[Byte] = {
    mergeBuffer()
    val bb = SketchIO.writer(4 + 8 + 4 + 8 + 8 + 8 + nCentroids * 16)
    bb.putInt(SketchIO.MagicTD)
    bb.putDouble(compression)
    bb.putInt(nCentroids)
    bb.putDouble(_totalWeight)
    bb.putDouble(_min)
    bb.putDouble(_max)
    var i = 0
    while (i < nCentroids) { bb.putDouble(means(i)); bb.putDouble(weights(i)); i += 1 }
    bb.array()
  }
}

object TDigest {
  def apply(compression: Double = 100.0): TDigest = {
    require(compression >= 20 && compression <= 10000, s"compression out of range: $compression")
    new TDigest(compression, new Array[Double](0), new Array[Double](0), 0, 0.0,
      Double.PositiveInfinity, Double.NegativeInfinity)
  }

  def deserialize(bytes: Array[Byte]): TDigest = {
    val bb = SketchIO.reader(bytes, SketchIO.MagicTD, "t-digest")
    SketchIO.need(bb, 8 + 4 + 8 + 8 + 8, "t-digest")
    val compression = bb.getDouble
    val n = bb.getInt
    val totalW = bb.getDouble
    val mn = bb.getDouble
    val mx = bb.getDouble
    require(compression >= 20 && compression <= 10000,
      s"not a valid t-digest sketch: compression $compression")
    require(n >= 0, s"not a valid t-digest sketch: $n centroids")
    SketchIO.need(bb, 16L * n, "t-digest")
    val means = new Array[Double](n)
    val weights = new Array[Double](n)
    var i = 0
    while (i < n) { means(i) = bb.getDouble; weights(i) = bb.getDouble; i += 1 }
    new TDigest(compression, means, weights, n, totalW, mn, mx)
  }
}
