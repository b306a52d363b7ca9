package graft.sketch

import java.nio.{ByteBuffer, ByteOrder}

import org.scalatest.funsuite.AnyFunSuite

/** Bounded decode for the counter, membership, cardinality and heavy-hitter
  * kernels (QuantileSpec holds the KLL and t-digest cases): every strict
  * prefix of a valid blob, and a header whose sizes exceed the bytes left
  * or the ranges the constructors accept, fails with one
  * IllegalArgumentException naming the sketch; the valid blob decodes to
  * the same bytes. */
class SketchDecodeSpec extends AnyFunSuite {

  /** 700 distinct keys, five of them heavy enough that every summary
    * keeps some. */
  private val keys = (0 until 3000).map(i =>
    if (i % 3 == 0) s"hot${i % 5}" else s"k${i % 700}")

  /** Asserts every truncation of `blob` and every patched header is
    * rejected naming `what`, and that `blob` itself round-trips. */
  private def check(what: String, blob: Array[Byte],
      decode: Array[Byte] => Array[Byte])(patches: (ByteBuffer => Unit)*): Unit = {
    def rejected(bytes: Array[Byte], how: String): Unit = {
      val e = intercept[IllegalArgumentException](decode(bytes))
      assert(e.getMessage.contains(what), s"$how: ${e.getMessage}")
    }
    (0 until blob.length by 3).foreach(n =>
      rejected(java.util.Arrays.copyOf(blob, n), s"prefix $n"))
    rejected(java.util.Arrays.copyOf(blob, blob.length - 1), "prefix length-1")
    patches.zipWithIndex.foreach { case (f, i) =>
      val b = blob.clone()
      f(ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN))
      rejected(b, s"patch $i")
    }
    assert(java.util.Arrays.equals(decode(blob), blob))
  }

  test("HyperLogLog decode rejects truncated blobs and oversized headers") {
    val hll = HyperLogLog(10)
    keys.foreach(hll.add)
    // header offsets: magic 0, p 4, seed 8, registers 16
    check("HyperLogLog", hll.serialize(), HyperLogLog.deserialize(_).serialize())(
      _.putInt(4, 31), _.putInt(4, 19), _.putInt(4, 3), _.putInt(4, -1),
      _.putInt(4, 11))
  }

  test("Count-Min decode rejects truncated blobs and oversized headers") {
    val cm = CountMinSketch(3, 256)
    keys.foreach(cm.update(_, 1L))
    // header offsets: magic 0, depth 4, width 8, seed 12, total 20, counters 28
    check("Count-Min", cm.serialize(), CountMinSketch.deserialize(_).serialize())(
      _.putInt(4, 1 << 20), _.putInt(4, 0), _.putInt(4, 4),
      _.putInt(8, 1 << 30), _.putInt(8, 1 << 31), _.putInt(8, 300),
      _.putInt(8, -256), _.putInt(8, 0))
  }

  test("Count-Sketch decode rejects truncated blobs and oversized headers") {
    val cs = CountSketch(3, 256)
    keys.foreach(cs.update(_, 1L))
    check("Count-Sketch", cs.serialize(), CountSketch.deserialize(_).serialize())(
      _.putInt(4, 2), _.putInt(4, 65), _.putInt(4, 5),
      _.putInt(8, 1 << 30), _.putInt(8, 300), _.putInt(8, -1))
  }

  test("Bloom decode rejects truncated blobs and oversized headers") {
    val bf = BloomFilter.fromExpected(1000, 0.01)
    keys.foreach(bf.add)
    // header offsets: magic 0, numBits 4, numHashes 12, seed 16, items 24,
    // nWords 32, words 36
    check("Bloom", bf.serialize(), BloomFilter.deserialize(_).serialize())(
      _.putInt(32, 1 << 30), _.putInt(32, -1), _.putInt(32, 1),
      _.putLong(4, 1L << 40), _.putLong(4, 63), _.putInt(12, 0),
      _.putInt(12, 65), { bb => bb.putLong(4, 1L << 36); bb.putInt(32, 1 << 30) })
  }

  test("TopK decode rejects truncated blobs, oversized headers and key lengths") {
    val tk = TopKSketch(64, 0.01, 0.05)
    keys.foreach(k => tk.update(k, 1L))
    val blob = tk.serialize()
    // header offsets: magic 0, capacity 4, CM length 8, CM 12, keys n, then
    // the first key's length
    val cmLen = ByteBuffer.wrap(blob).order(ByteOrder.LITTLE_ENDIAN).getInt(8)
    val nAt = 12 + cmLen
    check("TopK", blob, TopKSketch.deserialize(_).serialize())(
      _.putInt(4, 0), _.putInt(4, 1 << 30), _.putInt(8, 1 << 30),
      _.putInt(8, -1), _.putInt(nAt, 65), _.putInt(nAt, -1),
      _.putInt(nAt + 4, 1 << 30), _.putInt(nAt + 4, -2))
  }

  test("Misra-Gries decode rejects truncated blobs, oversized headers and key lengths") {
    val mg = MisraGries(64)
    keys.foreach(mg.update(_, 1L))
    // the key order of a blob follows its map's growth history, so start
    // from a decoded copy's blob, whose map never held more keys
    val blob = MisraGries.deserialize(mg.serialize()).serialize()
    // header offsets: magic 0, capacity 4, total 8, decrements 16, keys 24,
    // the first key's length 28
    check("Misra-Gries", blob, MisraGries.deserialize(_).serialize())(
      _.putInt(4, 0), _.putInt(24, 1 << 30), _.putInt(24, -1),
      _.putInt(28, 1 << 30), _.putInt(28, -2))
  }

  test("FSS decode rejects truncated blobs, oversized headers and key lengths") {
    val fss = FilteredSpaceSaving(64, numBuckets = 128)
    keys.foreach(fss.update(_, 1L))
    // header offsets: magic 0, entries 4, buckets 8, seed 12, total 20,
    // alpha 28, keys 28 + 8·buckets, then the first key's length
    val nAt = 28 + 8 * 128
    check("FSS", fss.serialize(), FilteredSpaceSaving.deserialize(_).serialize())(
      _.putInt(4, 0), _.putInt(8, 1 << 30), _.putInt(8, 100), _.putInt(8, -128),
      _.putInt(nAt, 1 << 30), _.putInt(nAt, -1),
      _.putInt(nAt + 4, 1 << 30), _.putInt(nAt + 4, -2))
  }

  test("CountMax decode rejects truncated blobs, oversized headers and key lengths") {
    val cmx = CountMax(2, 64)
    keys.foreach(cmx.update(_, 1L))
    // header offsets: magic 0, depth 4, width 8, seed 12, total 20, then the
    // first slot's key length 28
    check("CountMax", cmx.serialize(), CountMax.deserialize(_).serialize())(
      _.putInt(4, 0), _.putInt(4, 17), _.putInt(8, 100), _.putInt(8, -64),
      _.putInt(8, 1 << 20), _.putInt(8, 1 << 31), _.putInt(28, 1 << 30), _.putInt(28, -2))
  }
}
