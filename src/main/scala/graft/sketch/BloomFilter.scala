package graft.sketch

/**
 * Bloom filter (Bloom 1970): m-bit array, k hash functions via
 * Kirsch–Mitzenmeyer double hashing. No false negatives; false-positive
 * probability ≈ (1 − e^{−kn/m})^k for n inserted keys.
 *
 * Plays the reference's membership pre-filter role (the CountMin threshold
 * gate in front of the expensive sketch,
 * /root/reference/Simulation/FilteredSketch.cs:55-100) as a distributed
 * build: merge = bitwise OR — associative, commutative, idempotent.
 */
final class BloomFilter private (
    val numBits: Long,
    val numHashes: Int,
    val seed: Long,
    val words: Array[Long],
    private var _itemsAdded: Long
) extends Mergeable[BloomFilter] {

  def itemsAdded: Long = _itemsAdded

  @inline private def setBit(bit: Long): Unit = {
    words((bit >>> 6).toInt) |= (1L << (bit & 63))
  }

  @inline private def getBit(bit: Long): Boolean =
    (words((bit >>> 6).toInt) & (1L << (bit & 63))) != 0L

  @inline def addHash(h: Hash128): Unit = addRaw(h.h1, h.h2)

  /** [[addHash]] from the two hash halves, with no [[Hash128]]. */
  @inline def addRaw(h1: Long, h2: Long): Unit = {
    var i = 0
    while (i < numHashes) {
      setBit(((h1 + i.toLong * h2) & Long.MaxValue) % numBits)
      i += 1
    }
    _itemsAdded += 1
  }

  def add(key: String): Unit = addHash(Hash128.ofString(key, seed))
  def add(key: Long): Unit = addHash(Hash128.ofLong(key, seed))

  @inline def mightContainHash(h: Hash128): Boolean = {
    var i = 0
    while (i < numHashes) {
      if (!getBit((h.row(i) & Long.MaxValue) % numBits)) return false
      i += 1
    }
    true
  }

  def mightContain(key: String): Boolean = mightContainHash(Hash128.ofString(key, seed))
  def mightContain(key: Long): Boolean = mightContainHash(Hash128.ofLong(key, seed))

  /** Expected FPP at the current fill, (1 − e^{−kn/m})^k. */
  def expectedFpp: Double =
    math.pow(1.0 - math.exp(-numHashes.toDouble * _itemsAdded / numBits), numHashes.toDouble)

  /** Bitwise OR. Associative, commutative, idempotent. */
  def merge(other: BloomFilter): BloomFilter = {
    require(other.numBits == numBits && other.numHashes == numHashes && other.seed == seed,
      s"incompatible Bloom filters")
    var i = 0
    while (i < words.length) { words(i) |= other.words(i); i += 1 }
    _itemsAdded += other._itemsAdded
    this
  }

  def copySketch(): BloomFilter =
    new BloomFilter(numBits, numHashes, seed, words.clone(), _itemsAdded)

  def serialize(): Array[Byte] = {
    val bb = SketchIO.writer(4 + 8 + 4 + 8 + 8 + 4 + 8 * words.length)
    bb.putInt(SketchIO.MagicBloom)
    bb.putLong(numBits)
    bb.putInt(numHashes)
    bb.putLong(seed)
    bb.putLong(_itemsAdded)
    bb.putInt(words.length)
    SketchIO.putLongs(bb, words)
    bb.array()
  }
}

object BloomFilter {
  final val DefaultSeed = 0x6e91c2d84b37a5f0L

  def apply(numBits: Long, numHashes: Int, seed: Long = DefaultSeed): BloomFilter = {
    require(numBits >= 64 && numBits <= (1L << 36), s"numBits out of range: $numBits")
    require(numHashes >= 1 && numHashes <= 64, s"numHashes out of range: $numHashes")
    val nWords = ((numBits + 63) >>> 6).toInt
    new BloomFilter(numBits, numHashes, seed, new Array[Long](nWords), 0L)
  }

  /** Optimal sizing for `expectedItems` at target `fpp`:
    * m = ⌈−n ln p / (ln 2)²⌉, k = max(1, round(m/n · ln 2)). */
  def fromExpected(expectedItems: Long, fpp: Double, seed: Long = DefaultSeed): BloomFilter = {
    require(expectedItems > 0, "expectedItems must be positive")
    require(fpp > 0 && fpp < 1, s"fpp out of range: $fpp")
    val ln2 = math.log(2.0)
    val m = math.ceil(-expectedItems.toDouble * math.log(fpp) / (ln2 * ln2)).toLong.max(64L)
    val k = math.max(1, math.rint(m.toDouble / expectedItems * ln2).toInt)
    apply(m, k, seed)
  }

  def deserialize(bytes: Array[Byte]): BloomFilter = {
    val bb = SketchIO.reader(bytes, SketchIO.MagicBloom, "Bloom")
    SketchIO.need(bb, 8 + 4 + 8 + 8 + 4, "Bloom")
    val numBits = bb.getLong
    val numHashes = bb.getInt
    val seed = bb.getLong
    val items = bb.getLong
    val nWords = bb.getInt
    require(numBits >= 64 && numBits <= (1L << 36) && numHashes >= 1 &&
      numHashes <= 64 && nWords == ((numBits + 63) >>> 6),
      s"not a valid Bloom sketch: $numBits bits, $numHashes hashes, $nWords words")
    SketchIO.need(bb, 8L * nWords, "Bloom")
    val words = SketchIO.getLongs(bb, nWords)
    new BloomFilter(numBits, numHashes, seed, words, items)
  }
}
