package graft.sketch

import org.scalatest.funsuite.AnyFunSuite

class QuantileSpec extends AnyFunSuite {

  private def exactDiscreteQuantile(sorted: Array[Double], q: Double): Double = {
    val target = math.max(1L, math.ceil(q * sorted.length).toLong).toInt
    sorted(target - 1)
  }

  private def exactRank(sorted: Array[Double], x: Double): Double =
    sorted.count(_ < x).toDouble / sorted.length

  private val probs = Seq(0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99)

  test("KLL exact regime: no compaction → quantiles equal exact discrete quantiles") {
    val rnd = new scala.util.Random(11)
    val xs = Array.fill(5000)(rnd.nextDouble() * 1000)
    val kll = KllSketch(8192)
    xs.foreach(kll.update)
    val sorted = xs.sorted
    probs.foreach { q =>
      assert(kll.quantile(q) === exactDiscreteQuantile(sorted, q), s"q=$q")
    }
  }

  test("KLL compaction regime: rank error within bound (uniform + lognormal)") {
    val rnd = new scala.util.Random(13)
    for (dist <- Seq("uniform", "lognormal")) {
      val xs = Array.fill(200000)(dist match {
        case "uniform" => rnd.nextDouble()
        case _ => math.exp(rnd.nextGaussian() * 2)
      })
      val kll = KllSketch(200)
      xs.foreach(kll.update)
      val sorted = xs.sorted
      probs.foreach { q =>
        val est = kll.quantile(q)
        val trueRank = exactRank(sorted, est)
        // k=200 → ~1.65% normalized rank error (99% conf); allow 3%
        assert(math.abs(trueRank - q) <= 0.03, s"$dist q=$q rankErr=${math.abs(trueRank - q)}")
      }
    }
  }

  test("KLL merge preserves rank bound; merged n is the sum") {
    val rnd = new scala.util.Random(17)
    val xs = Array.fill(100000)(rnd.nextGaussian())
    val parts = StreamFixtures.split(xs.toIndexedSeq, 8)
    val merged = parts.map { p =>
      val k = KllSketch(200)
      p.foreach(k.update)
      k
    }.reduce(_ merge _)
    assert(merged.n === xs.length.toLong)
    val sorted = xs.sorted
    probs.foreach { q =>
      val est = merged.quantile(q)
      assert(math.abs(exactRank(sorted, est) - q) <= 0.04, s"q=$q")
    }
  }

  test("KLL determinism: same input order → bit-identical serialization") {
    val xs = (0 until 50000).map(i => (XxHash64.hashLong(i.toLong, 5L) % 1000).toDouble)
    val a = KllSketch(128)
    val b = KllSketch(128)
    xs.foreach(a.update)
    xs.foreach(b.update)
    assert(java.util.Arrays.equals(a.serialize(), b.serialize()))
  }

  test("KLL quantile equals a boxed stable sort over the serialized levels") {
    // (value, weight) pairs read back from the blob, sorted the way quantile
    // sorted them before: boxed indices under Ordering.Double.TotalOrdering
    def boxedQuantile(blob: Array[Byte], q: Double): Double = {
      val bb = SketchIO.reader(blob, SketchIO.MagicKLL, "KLL")
      bb.getInt; bb.getLong; bb.getLong; bb.getLong
      val pairs = (0 until bb.getInt).flatMap { lvl =>
        (0 until bb.getInt).map(_ => (bb.getDouble, 1L << lvl))
      }
      val vs = pairs.map(_._1).toArray
      val order = (0 until vs.length).sortBy(vs)(Ordering.Double.TotalOrdering)
      val target = math.max(1L, math.ceil(q * pairs.map(_._2).sum).toLong)
      var cum = 0L
      order.find { i => cum += pairs(i)._2; cum >= target }.map(vs).getOrElse(vs(order.last))
    }
    val rnd = new scala.util.Random(43)
    val streams = Seq(
      Array.fill(40000)((rnd.nextInt(100) + 1).toDouble),
      Array.fill(40000)(rnd.nextGaussian()),
      Array.fill(40000)(if (rnd.nextBoolean()) -0.0 else 0.0),
      Array.fill(3000)(rnd.nextDouble()))
    for ((xs, s) <- streams.zipWithIndex; k <- Seq(64, 200)) {
      val kll = KllSketch(k)
      xs.foreach(kll.update)
      val blob = kll.serialize()
      for (q <- 0.0 +: probs :+ 1.0) {
        val got = kll.quantile(q)
        val want = boxedQuantile(blob, q)
        assert(java.lang.Double.compare(got, want) == 0, s"stream $s k=$k q=$q: $got vs $want")
      }
    }
  }

  test("KLL decode rejects truncated blobs and oversized headers with an error naming KLL") {
    val kll = KllSketch(64)
    (0 until 5000).foreach(i => kll.update(math.sin(i.toDouble)))
    val blob = kll.serialize()
    def rejected(bytes: Array[Byte]): Unit = {
      val e = intercept[IllegalArgumentException](KllSketch.deserialize(bytes))
      assert(e.getMessage.contains("KLL"), e.getMessage)
    }
    (0 until blob.length by 3).foreach(n => rejected(java.util.Arrays.copyOf(blob, n)))
    rejected(java.util.Arrays.copyOf(blob, blob.length - 1))
    // header offsets: magic 0, k 4, seed 8, n 16, compactions 24, levels 32, level-0 size 36
    def patched(at: Int, v: Int): Array[Byte] = {
      val b = blob.clone()
      java.nio.ByteBuffer.wrap(b).order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(at, v)
      b
    }
    rejected(patched(32, 1 << 30))
    rejected(patched(32, -1))
    rejected(patched(36, 1 << 30))
    rejected(patched(36, -5))
    rejected(patched(4, 0))
    val back = KllSketch.deserialize(blob)
    assert(java.util.Arrays.equals(back.serialize(), blob))
  }

  test("t-digest decode rejects truncated blobs and oversized headers with an error naming t-digest") {
    val td = TDigest(100)
    (0 until 5000).foreach(i => td.update(math.sin(i.toDouble)))
    val blob = td.serialize()
    def rejected(bytes: Array[Byte]): Unit = {
      val e = intercept[IllegalArgumentException](TDigest.deserialize(bytes))
      assert(e.getMessage.contains("t-digest"), e.getMessage)
    }
    (0 until blob.length by 3).foreach(n => rejected(java.util.Arrays.copyOf(blob, n)))
    rejected(java.util.Arrays.copyOf(blob, blob.length - 1))
    // header offsets: magic 0, compression 4, centroids 12
    def patched(f: java.nio.ByteBuffer => Unit): Array[Byte] = {
      val b = blob.clone()
      f(java.nio.ByteBuffer.wrap(b).order(java.nio.ByteOrder.LITTLE_ENDIAN))
      b
    }
    rejected(patched(_.putInt(12, 1 << 30)))
    rejected(patched(_.putInt(12, -1)))
    rejected(patched(_.putDouble(4, 1e300)))
    rejected(patched(_.putDouble(4, Double.NaN)))
    val back = TDigest.deserialize(blob)
    assert(java.util.Arrays.equals(back.serialize(), blob))
  }

  test("KLL serialize round-trip") {
    val xs = (0 until 30000).map(_.toDouble)
    val kll = KllSketch(256)
    xs.foreach(kll.update)
    val back = KllSketch.deserialize(kll.serialize())
    assert(back.n === kll.n)
    probs.foreach(q => assert(back.quantile(q) === kll.quantile(q)))
  }

  test("t-digest rank accuracy, tails tighter than middle") {
    val rnd = new scala.util.Random(19)
    val xs = Array.fill(200000)(math.exp(rnd.nextGaussian()))
    val td = TDigest(200)
    xs.foreach(td.update)
    val sorted = xs.sorted
    probs.foreach { q =>
      val est = td.quantile(q)
      val rankErr = math.abs(exactRank(sorted, est) - q)
      assert(rankErr <= 0.02, s"q=$q rankErr=$rankErr")
    }
    // tail quantiles: very tight
    for (q <- Seq(0.001, 0.999)) {
      val est = td.quantile(q)
      assert(math.abs(exactRank(sorted, est) - q) <= 0.005, s"tail q=$q")
    }
  }

  test("t-digest merge preserves accuracy; total weight sums") {
    val rnd = new scala.util.Random(23)
    val xs = Array.fill(120000)(rnd.nextDouble() * 100)
    val parts = StreamFixtures.split(xs.toIndexedSeq, 6)
    val merged = parts.map { p =>
      val t = TDigest(200)
      p.foreach(t.update)
      t
    }.reduce(_ merge _)
    assert(merged.totalWeight === xs.length.toDouble)
    val sorted = xs.sorted
    probs.foreach { q =>
      assert(math.abs(exactRank(sorted, merged.quantile(q)) - q) <= 0.03, s"q=$q")
    }
  }

  test("t-digest bounded size: centroids ~ O(compression) at large n") {
    val td = TDigest(100)
    val rnd = new scala.util.Random(29)
    (0 until 500000).foreach(_ => td.update(rnd.nextDouble()))
    assert(td.centroidCount <= 2 * 100, s"centroids=${td.centroidCount}")
  }

  test("t-digest serialize round-trip") {
    val td = TDigest(100)
    (0 until 10000).foreach(i => td.update(math.sin(i.toDouble)))
    val back = TDigest.deserialize(td.serialize())
    assert(back.totalWeight === td.totalWeight)
    probs.foreach(q => assert(back.quantile(q) === td.quantile(q)))
  }
}
