package graft.sketch

import java.nio.{ByteBuffer, ByteOrder}

/** A sketch that merges another of its kind into itself and writes its
  * fixed binary layout; the sketch aggregates drive every kernel through
  * this pair. */
trait Mergeable[S] extends Serializable {
  def merge(other: S): S
  def serialize(): Array[Byte]
}

/**
 * Little-endian fixed-layout binary (de)serialization helpers shared by all
 * sketch kernels. Every serialized sketch starts with a 4-byte magic tag so a
 * wrong-sketch-type deserialize fails loudly instead of corrupting state.
 */
object SketchIO {
  final val MagicCM: Int = 0x434D5331 // "CMS1"
  final val MagicHLL: Int = 0x484C4C31 // "HLL1"
  final val MagicBloom: Int = 0x424C4D31 // "BLM1"
  final val MagicKLL: Int = 0x4B4C4C31 // "KLL1"
  final val MagicTD: Int = 0x54444731 // "TDG1"
  final val MagicTopK: Int = 0x54504B31 // "TPK1"

  def writer(capacity: Int): ByteBuffer =
    ByteBuffer.allocate(capacity).order(ByteOrder.LITTLE_ENDIAN)

  def reader(bytes: Array[Byte], expectMagic: Int, what: String): ByteBuffer = {
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    need(bb, 4, what)
    val magic = bb.getInt
    require(magic == expectMagic,
      s"not a serialized $what sketch (magic=0x${magic.toHexString})")
    bb
  }

  /** Fails with an IllegalArgumentException naming the sketch unless `n`
    * more bytes remain; call it before reading or allocating from a header. */
  def need(bb: ByteBuffer, n: Long, what: String): Unit =
    require(n <= bb.remaining,
      s"truncated $what sketch: needs $n more bytes, ${bb.remaining} left")

  def putLongs(bb: ByteBuffer, xs: Array[Long]): Unit = {
    var i = 0
    while (i < xs.length) { bb.putLong(xs(i)); i += 1 }
  }

  def getLongs(bb: ByteBuffer, n: Int): Array[Long] = {
    val out = new Array[Long](n)
    var i = 0
    while (i < n) { out(i) = bb.getLong; i += 1 }
    out
  }

  def putDoubles(bb: ByteBuffer, xs: Array[Double]): Unit = {
    var i = 0
    while (i < xs.length) { bb.putDouble(xs(i)); i += 1 }
  }

  def getDoubles(bb: ByteBuffer, n: Int): Array[Double] = {
    val out = new Array[Double](n)
    var i = 0
    while (i < n) { out(i) = bb.getDouble; i += 1 }
    out
  }

  /** A length-prefixed UTF-8 key of a `what` sketch; the length is checked
    * against the bytes left before it is allocated. */
  def getString(bb: ByteBuffer, what: String): String = {
    need(bb, 4, what)
    val n = bb.getInt
    require(n >= 0, s"not a valid $what sketch: key of $n bytes")
    need(bb, n, what)
    val b = new Array[Byte](n)
    bb.get(b)
    new String(b, java.nio.charset.StandardCharsets.UTF_8)
  }

  /** A counter-matrix width as [[nextPow2]] produces it: a power of two in
    * [1, 2^30]. */
  def isWidth(w: Int): Boolean = w > 0 && w <= (1 << 30) && (w & (w - 1)) == 0

  def nextPow2(n: Int): Int = {
    require(n > 0 && n <= (1 << 30), s"size out of range: $n")
    var p = 1
    while (p < n) p <<= 1
    p
  }
}
