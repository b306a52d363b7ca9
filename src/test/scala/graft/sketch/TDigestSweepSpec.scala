package graft.sketch

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, ObjectInputStream, ObjectOutputStream}

import org.apache.spark.SparkConf
import org.apache.spark.serializer.KryoSerializer
import org.scalatest.funsuite.AnyFunSuite

/**
 * The t-digest sweep (one asin per centroid, q-band, primitive stable sort)
 * must give the same digest, byte for byte, as the plain sweep it replaced:
 * a stable boxed sort by mean and `kScale(q2) - kScale(q0) <= 1` per element.
 * [[TDigestSweepSpec.Frozen]] keeps that plain sweep as the oracle.
 */
class TDigestSweepSpec extends AnyFunSuite {
  import TDigestSweepSpec._

  private val compressions = Seq(20.0, 100.0, 1000.0, 10000.0)

  private def streams(n: Int, seed: Long): Seq[(String, Array[Double])] = {
    val r = new scala.util.Random(seed)
    Seq(
      "ties 1..100" -> Array.fill(n)((r.nextInt(100) + 1).toDouble),
      "gaussian" -> Array.fill(n)(r.nextGaussian()),
      "±exp(20u)" -> Array.fill(n) {
        val v = math.exp(20 * r.nextDouble()); if (r.nextBoolean()) v else -v
      },
      "-0.0/0.0" -> Array.fill(n)(r.nextInt(5) match {
        case 0 => -0.0
        case 1 => 0.0
        case 2 => -Double.MinPositiveValue
        case 3 => 1.0
        case _ => -0.0 * r.nextDouble()
      }))
  }

  private def assertSame(td: TDigest, oracle: Frozen, clue: String): Unit =
    assert(java.util.Arrays.equals(td.serialize(), oracle.serialize()), clue)

  test("sweep is byte-identical to the plain sweep on seeded streams, read mid-stream too") {
    for (c <- compressions; (name, xs) <- streams(3 * math.max(64, (4 * c).toInt) + 4321, 31)) {
      val td = TDigest(c)
      val oracle = new Frozen(c)
      var i = 0
      while (i < xs.length) {
        td.update(xs(i)); oracle.add(xs(i), 1.0)
        i += 1
        // a read folds a part-full buffer
        if (i % 7919 == 0) assertSame(td, oracle, s"δ=$c $name after $i rows")
      }
      assertSame(td, oracle, s"δ=$c $name")
    }
  }

  test("merge path: 6 shards reduced with merge are byte-identical to the plain sweep") {
    for (c <- compressions; (name, xs) <- streams(60013, 37)) {
      val shards = xs.grouped(xs.length / 6 + 1).toSeq
      val td = shards.map { s => val t = TDigest(c); s.foreach(t.update); t }.reduce(_ merge _)
      val oracle = shards.map { s =>
        val t = new Frozen(c); s.foreach(t.add(_, 1.0)); t
      }.reduce(_ merge _)
      assertSame(td, oracle, s"δ=$c $name")
    }
  }

  test("knife-edge weights: decisions inside the exact-fallback band match the plain sweep") {
    // Three weighted points whose second q2 lands where the first centroid's
    // k-span reaches exactly 1, at q = (1 - cos(2π/δ))/2 = sin²(π/δ), nudged
    // in steps of about 8e-12 in k, so the plain test comes out both ways
    // while every nudge stays within the band's 1e-9 margin.
    for (c <- compressions) {
      val x = math.pow(math.sin(math.Pi / c), 2)
      val counts = (-60 to 60).map { j =>
        val w2 = x / 2 * (1.0 + j * 3e-11)
        val td = TDigest(c)
        val oracle = new Frozen(c)
        for ((m, w) <- Seq(0.0 -> x / 2, 1.0 -> w2, 2.0 -> (1.0 - x))) {
          td.add(m, w); oracle.add(m, w)
        }
        assertSame(td, oracle, s"δ=$c j=$j")
        td.centroidCount
      }
      assert(counts.toSet == Set(2, 3), s"δ=$c: the nudges never straddle the edge ($counts)")
    }
  }

  test("Java and Kryo round trips mid-stream, then more updates, end byte-identical") {
    val r = new scala.util.Random(41)
    val xs = Array.fill(5000)(r.nextGaussian())
    val whole = TDigest(100)
    xs.foreach(whole.update)
    val kryo = new KryoSerializer(new SparkConf()).newInstance()
    val javaRoundTrip: TDigest => TDigest = { td =>
      val bos = new ByteArrayOutputStream()
      val out = new ObjectOutputStream(bos)
      out.writeObject(td); out.close()
      new ObjectInputStream(new ByteArrayInputStream(bos.toByteArray)).readObject().asInstanceOf[TDigest]
    }
    val kryoRoundTrip: TDigest => TDigest = td => kryo.deserialize[TDigest](kryo.serialize(td))
    for ((name, roundTrip) <- Seq("java" -> javaRoundTrip, "kryo" -> kryoRoundTrip); cut <- Seq(0, 399, 1234, 4000)) {
      val td = TDigest(100)
      xs.take(cut).foreach(td.update)
      val copy = roundTrip(td)
      xs.drop(cut).foreach(copy.update)
      assert(java.util.Arrays.equals(copy.serialize(), whole.serialize()), s"$name at $cut")
    }
    // the sweep scratch stays out of the Kryo form: the digest's own buffer
    // (2 × 400 doubles) and centroids plus a small header, nothing more
    val swept = TDigest(100)
    xs.foreach(swept.update)
    swept.centroidCount
    val bytes = kryo.serialize(swept).remaining()
    assert(bytes < (2 * 400 + 2 * swept.centroidCount) * 8 + 512, s"Kryo form is $bytes bytes")
  }
}

object TDigestSweepSpec {

  /** The plain merging sweep, frozen: every element is sorted through a
    * boxed stable sort and tested with two asin calls. Same layout as
    * [[TDigest.serialize]]. */
  final class Frozen(compression: Double) {
    private var means = new Array[Double](0)
    private var weights = new Array[Double](0)
    private var nCentroids = 0
    private var totalWeight = 0.0
    private var min = Double.PositiveInfinity
    private var max = Double.NegativeInfinity
    private val bufCap = math.max(64, (4 * compression).toInt)
    private val bufMeans = new Array[Double](bufCap)
    private val bufWeights = new Array[Double](bufCap)
    private var bufSize = 0

    def add(x: Double, w: Double): Unit = {
      if (bufSize == bufCap) mergeBuffer()
      bufMeans(bufSize) = x
      bufWeights(bufSize) = w
      bufSize += 1
      if (x < min) min = x
      if (x > max) max = x
    }

    def merge(other: Frozen): Frozen = {
      other.mergeBuffer()
      for (i <- 0 until other.nCentroids) add(other.means(i), other.weights(i))
      if (other.min < min) min = other.min
      if (other.max > max) max = other.max
      this
    }

    private def kScale(q: Double): Double =
      compression / (2.0 * math.Pi) * math.asin(2.0 * math.min(1.0, math.max(0.0, q)) - 1.0)

    private def mergeBuffer(): Unit = {
      if (bufSize == 0) return
      val total = nCentroids + bufSize
      val ms = new Array[Double](total)
      val ws = new Array[Double](total)
      System.arraycopy(means, 0, ms, 0, nCentroids)
      System.arraycopy(weights, 0, ws, 0, nCentroids)
      System.arraycopy(bufMeans, 0, ms, nCentroids, bufSize)
      System.arraycopy(bufWeights, 0, ws, nCentroids, bufSize)
      bufSize = 0
      val sorted = Array.range(0, total).sortBy(ms)(Ordering.Double.TotalOrdering)
      var totalW = 0.0
      for (i <- 0 until total) totalW += ws(i)
      val outM = new Array[Double](total)
      val outW = new Array[Double](total)
      var outN = 0
      var curM = ms(sorted(0))
      var curW = ws(sorted(0))
      var cumW = 0.0
      for (i <- 1 until total) {
        val m = ms(sorted(i))
        val w = ws(sorted(i))
        val proposed = curW + w
        val q0 = cumW / totalW
        val q2 = (cumW + proposed) / totalW
        if (kScale(q2) - kScale(q0) <= 1.0) {
          curM = curM + (m - curM) * (w / proposed)
          curW = proposed
        } else {
          outM(outN) = curM; outW(outN) = curW; outN += 1
          cumW += curW
          curM = m; curW = w
        }
      }
      outM(outN) = curM; outW(outN) = curW; outN += 1
      means = java.util.Arrays.copyOf(outM, outN)
      weights = java.util.Arrays.copyOf(outW, outN)
      nCentroids = outN
      totalWeight = totalW
    }

    def serialize(): Array[Byte] = {
      mergeBuffer()
      val bb = SketchIO.writer(4 + 8 + 4 + 8 + 8 + 8 + nCentroids * 16)
      bb.putInt(SketchIO.MagicTD)
      bb.putDouble(compression)
      bb.putInt(nCentroids)
      bb.putDouble(totalWeight)
      bb.putDouble(min)
      bb.putDouble(max)
      for (i <- 0 until nCentroids) { bb.putDouble(means(i)); bb.putDouble(weights(i)) }
      bb.array()
    }
  }
}
