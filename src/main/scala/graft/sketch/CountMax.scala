package graft.sketch

/**
 * CountMax — the reference paper's flagship sketch (TNET 2018): a d×w matrix
 * of key-carrying majority-vote slots. Per row, the update on slot
 * s = h_i(key):
 *   - same key in slot      → counter += v
 *   - else if counter > v   → counter -= v            (vote against)
 *   - else                  → counter = v − counter; slot key := key (takeover)
 * Point query = max over rows of (counter if slot key matches else 0);
 * reversibility: the slot keys themselves enumerate heavy-hitter candidates.
 *
 * Faithful port of the update/query/GetKeys semantics written three times in
 * the reference (C# /root/reference/Simulation/CountMax.cs:32-68, C
 * /root/reference/KernelCountMax/countmax.h:49-77,101-120, C++
 * /root/reference/CountMaxLoadTest/源.c:76-92 — their de-facto differential
 * test), with two deliberate divergences per SURVEY.md §2:
 *   1. hashing — seeded per-row xxhash (the C twin reuses ONE hash for all
 *      rows because its per-line mask is dead code, countmax.h:37-39 vs :51;
 *      the C# twin's row seeds depend on a random identity hash);
 *   2. NO distributed merge — the update rule is order-sensitive, so CountMax
 *      is NOT mergeable and is kept as a single-partition parity fixture
 *      (SURVEY.md §7.5); the production heavy-hitter path is [[TopKSketch]].
 */
final class CountMax private (
    val depth: Int,
    val width: Int, // power of two
    val seed: Long,
    private val keys: Array[String], // depth*width slot keys (null = empty)
    private val counters: Array[Long],
    private var _totalWeight: Long
) extends Serializable {

  private val mask = width - 1

  def totalWeight: Long = _totalWeight

  def update(key: String, weight: Long): Unit = {
    val h = Hash128.ofString(key, seed)
    var i = 0
    while (i < depth) {
      val slot = i * width + h.bucket(i, mask)
      val slotKey = keys(slot)
      if (slotKey == null || slotKey == key) {
        keys(slot) = key
        counters(slot) += weight
      } else if (counters(slot) > weight) {
        counters(slot) -= weight
      } else {
        counters(slot) = weight - counters(slot)
        keys(slot) = key
      }
      i += 1
    }
    _totalWeight += weight
  }

  /** Max over rows of the matching slot's counter (0 if nowhere resident). */
  def query(key: String): Long = {
    val h = Hash128.ofString(key, seed)
    var max = 0L
    var i = 0
    while (i < depth) {
      val slot = i * width + h.bucket(i, mask)
      if (keys(slot) == key && counters(slot) > max) max = counters(slot)
      i += 1
    }
    max
  }

  /** Reversibility: every candidate key currently resident in a slot
    * (reference `GetAllKeys`, CountMax.cs:101-108). */
  def getAllKeys: Set[String] = keys.iterator.filter(_ != null).toSet

  def serialize(): Array[Byte] = {
    val encoded = keys.map(k =>
      if (k == null) null else k.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val strBytes = encoded.iterator.map(b => if (b == null) 0 else b.length).sum
    val bb = SketchIO.writer(4 + 4 + 4 + 8 + 8 + keys.length * 12 + strBytes)
    bb.putInt(CountMax.Magic)
    bb.putInt(depth)
    bb.putInt(width)
    bb.putLong(seed)
    bb.putLong(_totalWeight)
    var i = 0
    while (i < keys.length) {
      val kb = encoded(i)
      bb.putInt(if (kb == null) -1 else kb.length)
      if (kb != null) bb.put(kb)
      bb.putLong(counters(i))
      i += 1
    }
    bb.array()
  }
}

object CountMax {
  final val Magic = 0x434D5831 // "CMX1"
  final val DefaultSeed = 0x3a8f5c2e917d6b04L

  def apply(depth: Int, width: Int, seed: Long = DefaultSeed): CountMax = {
    require(depth >= 1 && depth <= 16)
    val w = SketchIO.nextPow2(width)
    new CountMax(depth, w, seed, new Array[String](depth * w),
      new Array[Long](depth * w), 0L)
  }

  def deserialize(bytes: Array[Byte]): CountMax = {
    val bb = SketchIO.reader(bytes, Magic, "CountMax")
    SketchIO.need(bb, 4 + 4 + 8 + 8, "CountMax")
    val depth = bb.getInt
    val width = bb.getInt
    val seed = bb.getLong
    val total = bb.getLong
    require(depth >= 1 && depth <= 16 && SketchIO.isWidth(width),
      s"not a valid CountMax sketch: depth $depth, width $width")
    // every slot holds at least a key length and a counter
    SketchIO.need(bb, 12L * depth * width, "CountMax")
    val keys = new Array[String](depth * width)
    val counters = new Array[Long](depth * width)
    var i = 0
    while (i < keys.length) {
      SketchIO.need(bb, 4, "CountMax")
      val klen = bb.getInt
      require(klen >= -1 && klen <= bb.remaining,
        s"not a valid CountMax sketch: key of $klen bytes, ${bb.remaining} left")
      if (klen >= 0) {
        val kb = new Array[Byte](klen)
        bb.get(kb)
        keys(i) = new String(kb, java.nio.charset.StandardCharsets.UTF_8)
      }
      SketchIO.need(bb, 8, "CountMax")
      counters(i) = bb.getLong
      i += 1
    }
    new CountMax(depth, width, seed, keys, counters, total)
  }
}
