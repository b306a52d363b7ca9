package graft.sketch

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, ObjectInputStream, ObjectOutputStream}

import org.apache.spark.SparkConf
import org.apache.spark.serializer.KryoSerializer
import org.scalatest.funsuite.AnyFunSuite

/**
 * The KLL update keeps its per-level capacities and item count between
 * rows instead of recomputing them on every update. It must give the same
 * sketch, byte for byte, as the update it replaced, which
 * [[KllUpdateSpec.Frozen]] keeps as the oracle.
 */
class KllUpdateSpec extends AnyFunSuite {
  import KllUpdateSpec._

  private val ks = Seq(8, 20, 200, 1000)

  private def streams(n: Int, seed: Long): Seq[(String, Array[Double])] = {
    val r = new scala.util.Random(seed)
    Seq(
      "ties 1..100" -> Array.fill(n)((r.nextInt(100) + 1).toDouble),
      "gaussian" -> Array.fill(n)(r.nextGaussian()),
      "ascending" -> Array.tabulate(n)(_.toDouble),
      "±exp(20u)" -> Array.fill(n) {
        val v = math.exp(20 * r.nextDouble()); if (r.nextBoolean()) v else -v
      })
  }

  private def assertSame(s: KllSketch, oracle: Frozen, clue: String): Unit =
    assert(java.util.Arrays.equals(s.serialize(), oracle.serialize()), clue)

  test("update is byte-identical to the recomputing update on seeded streams, read mid-stream too") {
    for (k <- ks; (name, xs) <- streams(120013, 43)) {
      val s = KllSketch(k, 5L)
      val oracle = new Frozen(k, 5L)
      var i = 0
      while (i < xs.length) {
        s.update(xs(i)); oracle.update(xs(i))
        i += 1
        if (i % 7919 == 0) assertSame(s, oracle, s"k=$k $name after $i rows")
      }
      assertSame(s, oracle, s"k=$k $name")
      assert(s.numLevels == oracle.numLevels && s.numLevels > 3, s"k=$k $name levels")
    }
  }

  test("merge path: uneven shards merged in order, and into an empty sketch, are byte-identical") {
    for (k <- ks; (name, xs) <- streams(60013, 47)) {
      // shards of 1, 100 and ~2/3 of the stream: merges across level counts
      val cuts = Seq(0, 1, 101, 40000, xs.length)
      val parts = cuts.sliding(2).map { case Seq(a, b) => xs.slice(a, b) }.toSeq
      val merged = parts.map { p => val s = KllSketch(k); p.foreach(s.update); s }
        .foldLeft(KllSketch(k))(_ merge _)
      val oracle = parts.map { p => val s = new Frozen(k, KllSketch.DefaultSeed); p.foreach(s.update); s }
        .foldLeft(new Frozen(k, KllSketch.DefaultSeed))(_ merge _)
      assertSame(merged, oracle, s"k=$k $name")
      // updates after a merge
      xs.take(5000).foreach { x => merged.update(x); oracle.update(x) }
      assertSame(merged, oracle, s"k=$k $name, updated after the merge")
    }
  }

  test("blob, Java and Kryo round trips mid-stream, then more updates, end byte-identical") {
    val r = new scala.util.Random(53)
    val xs = Array.fill(50000)(r.nextGaussian())
    val whole = KllSketch(200)
    xs.foreach(whole.update)
    val kryo = new KryoSerializer(new SparkConf()).newInstance()
    val javaRoundTrip: KllSketch => KllSketch = { s =>
      val bos = new ByteArrayOutputStream()
      val out = new ObjectOutputStream(bos)
      out.writeObject(s); out.close()
      new ObjectInputStream(new ByteArrayInputStream(bos.toByteArray)).readObject()
        .asInstanceOf[KllSketch]
    }
    val roundTrips = Seq[(String, KllSketch => KllSketch)](
      "blob" -> (s => KllSketch.deserialize(s.serialize())),
      "java" -> javaRoundTrip,
      "kryo" -> (s => kryo.deserialize[KllSketch](kryo.serialize(s))))
    for ((name, roundTrip) <- roundTrips; cut <- Seq(0, 1, 399, 1234, 40000)) {
      val s = KllSketch(200)
      xs.take(cut).foreach(s.update)
      val copy = roundTrip(s)
      xs.drop(cut).foreach(copy.update)
      assert(java.util.Arrays.equals(copy.serialize(), whole.serialize()), s"$name at $cut")
      // a read copy merged into, and merging into, a live sketch
      val live = KllSketch(200)
      xs.take(777).foreach(live.update)
      val oracle = KllSketch(200)
      xs.take(777).foreach(oracle.update)
      val ref = KllSketch(200)
      xs.take(cut).foreach(ref.update)
      assert(java.util.Arrays.equals(live.merge(roundTrip(s)).serialize(),
        oracle.merge(ref).serialize()), s"$name at $cut, merged")
    }
  }
}

object KllUpdateSpec {

  /** The KLL update before the capacity cache, frozen: every update sums
    * the stored items and recomputes every level's capacity. Same layout
    * as [[KllSketch.serialize]]. */
  final class Frozen(k: Int, seed: Long) {
    private var levels = Array(new DoubleBuf(math.min(k, 1024)))
    private var n = 0L
    private var compactions = 0L

    def numLevels: Int = levels.length

    private def capacity(level: Int, nLevels: Int): Int = {
      val depthFromTop = nLevels - 1 - level
      var cap = k.toDouble
      var i = 0
      while (i < depthFromTop) { cap *= 2.0 / 3.0; i += 1 }
      math.max(KllSketch.MinCapacity, math.ceil(cap).toInt)
    }

    private def totalCapacity: Int = levels.indices.map(capacity(_, levels.length)).sum
    private def totalItems: Int = levels.map(_.size).sum

    def update(x: Double): Unit = {
      levels(0).add(x)
      n += 1
      if (totalItems > totalCapacity) compress()
    }

    private def compress(): Unit = {
      var guard = 0
      while (totalItems > totalCapacity && guard < 64) {
        var lvl = levels.indices.find(i => levels(i).size >= capacity(i, levels.length)).getOrElse(0)
        if (lvl == levels.length - 1) levels = levels :+ new DoubleBuf(8)
        compactLevel(lvl)
        guard += 1
      }
    }

    private def compactLevel(lvl: Int): Unit = {
      val buf = levels(lvl)
      if (buf.size < 2) return
      buf.sortInPlace()
      val start = buf.size & 1
      val coin = (XxHash64.hashLong(compactions, seed) & 1L).toInt
      compactions += 1
      var i = start + coin
      while (i < buf.size) { levels(lvl + 1).add(buf(i)); i += 2 }
      if (start == 1) { val keep = buf(0); buf.clear(); buf.add(keep) }
      else buf.clear()
    }

    def merge(other: Frozen): Frozen = {
      while (levels.length < other.levels.length) levels = levels :+ new DoubleBuf(8)
      for (i <- other.levels.indices; j <- 0 until other.levels(i).size)
        levels(i).add(other.levels(i)(j))
      n += other.n
      compactions += other.compactions
      if (totalItems > totalCapacity) compress()
      this
    }

    def serialize(): Array[Byte] = {
      val bb = SketchIO.writer(4 + 4 + 8 + 8 + 8 + 4 + levels.length * 4 + totalItems * 8)
      bb.putInt(SketchIO.MagicKLL)
      bb.putInt(k)
      bb.putLong(seed)
      bb.putLong(n)
      bb.putLong(compactions)
      bb.putInt(levels.length)
      levels.foreach { b =>
        bb.putInt(b.size)
        for (j <- 0 until b.size) bb.putDouble(b(j))
      }
      bb.array()
    }
  }
}
