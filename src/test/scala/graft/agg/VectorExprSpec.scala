package graft.agg

import org.apache.spark.sql.functions._
import org.apache.spark.sql.Column
import graft.SparkTestBase

/**
 * CosineMicro contract: bit-parity with the HOF formula the ANN family
 * gates were verified against, plus the null/length edge semantics the
 * zip_with padding implies.
 */
class VectorExprSpec extends SparkTestBase {

  import spark.implicits._

  graft.GraftExtensions.install(spark)

  private def hofCosMicro(a: Column, b: Column): Column = {
    def dot(x: Column, y: Column) =
      aggregate(zip_with(x, y, (p, q) => p.cast("double") * q.cast("double")),
        lit(0.0), (acc, v) => acc + v)
    def norm(x: Column) =
      sqrt(aggregate(transform(x, v => v.cast("double") * v.cast("double")),
        lit(0.0), (acc, v) => acc + v))
    floor(dot(a, b) / (norm(a) * norm(b)) * 1000000.0).cast("long")
  }

  test("bit-parity with the HOF formula on adversarial random float vectors") {
    val rng = new scala.util.Random(42)
    def vec(d: Int) = Array.fill(d)(
      (rng.nextFloat() - 0.5f) * math.pow(10, rng.nextInt(7) - 3).toFloat)
    val rows = (1 to 500).map(_ => (vec(64), vec(64))) ++
      (1 to 100).map(_ => (vec(3), vec(3))) ++
      Seq((Array(1f, 0f), Array(1f, 0f)),            // cosine exactly 1
        (Array(1f, 0f), Array(-1f, 0f)),             // exactly -1
        (Array(1e-30f, 0f), Array(1e-30f, 1e-38f)))  // denormal territory
    val df = rows.toDF("a", "b")
      .select(hofCosMicro(col("a"), col("b")).as("hof"),
        call_function("cosine_micro", col("a"), col("b")).as("native"))
    assert(df.filter(col("hof") =!= col("native")).count() === 0)
    assert(df.filter(col("hof").isNull =!= col("native").isNull).count() === 0)
  }

  test("parity holds on double arrays too (the q72 widened path)") {
    val rng = new scala.util.Random(7)
    val rows = (1 to 200).map(_ =>
      (Array.fill(64)(rng.nextGaussian()), Array.fill(64)(rng.nextGaussian())))
    val df = rows.toDF("a", "b")
      .select(hofCosMicro(col("a"), col("b")).as("hof"),
        call_function("cosine_micro", col("a"), col("b")).as("native"))
    assert(df.filter(col("hof") =!= col("native")).count() === 0)
  }

  test("null/length edge contract: null array, null element, length mismatch -> null") {
    val df = Seq(
      (Some(Seq(Some(1f), Some(2f))), None: Option[Seq[Option[Float]]]),
      (Some(Seq(Some(1f), None)), Some(Seq(Some(1f), Some(2f)))),
      (Some(Seq(Some(1f))), Some(Seq(Some(1f), Some(2f))))
    ).toDF("a", "b")
      .select(call_function("cosine_micro", col("a"), col("b")).as("native"))
    assert(df.collect().forall(_.isNullAt(0)))
  }

  test("interpreted eval matches codegen (filter pushdown / fallback paths)") {
    // force the interpreted path through a literal-only projection the
    // optimizer constant-folds via eval()
    val lit64a = typedLit(Array.fill(8)(0.25f))
    val lit64b = typedLit(Array.fill(8)(0.5f))
    val folded = spark.range(1)
      .select(call_function("cosine_micro", lit64a, lit64b).as("v"))
      .head().getLong(0)
    assert(folded === 1000000L - 1L || folded === 1000000L) // cos == 1 up to fp
    val viaRow = Seq((Array.fill(8)(0.25f), Array.fill(8)(0.5f))).toDF("a", "b")
      .select(call_function("cosine_micro", col("a"), col("b")))
      .head().getLong(0)
    assert(folded === viaRow)
  }

  private def hofDot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (p, q) => p.cast("double") * q.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  test("dot_range == dot(slice, slice) bit-exactly: prefix, full, short arrays") {
    val rng = new scala.util.Random(11)
    def vec(d: Int) = Array.fill(d)((rng.nextFloat() - 0.5f) * 100f)
    val rows = (1 to 300).map(_ => (vec(64), vec(64))) ++
      (1 to 50).map(_ => (vec(3), vec(3))) // shorter than the 16-dim prefix
    val df = rows.toDF("a", "b").select(
      hofDot(slice(col("a"), 1, 16), slice(col("b"), 1, 16)).as("hof_pre"),
      call_function("dot_range", col("a"), col("b"), lit(1), lit(16)).as("nat_pre"),
      hofDot(col("a"), col("b")).as("hof_full"),
      call_function("dot_range", col("a"), col("b"), lit(1),
        lit(Int.MaxValue)).as("nat_full"))
    assert(df.filter(col("hof_pre") =!= col("nat_pre")).count() === 0)
    assert(df.filter(col("hof_full") =!= col("nat_full")).count() === 0)
  }

  test("dot_range null contract matches slice+zip_with semantics") {
    val df = Seq(
      // null element INSIDE the range -> null
      (Some(Seq(Some(1f), None, Some(3f))), Some(Seq(Some(1f), Some(2f), Some(3f))), 1, 3),
      // null element OUTSIDE the range -> untouched, non-null
      (Some(Seq(Some(1f), Some(2f), None)), Some(Seq(Some(1f), Some(2f), Some(3f))), 1, 2),
      // sliced lengths differ -> null (zip_with padding)
      (Some(Seq(Some(1f))), Some(Seq(Some(1f), Some(2f))), 1, 2)
    ).toDF("a", "b", "s", "l")
    val vals = df.collect().map { r =>
      df.sparkSession.range(1).select(call_function("dot_range",
        typedLit(r.getSeq[Any](0)).cast("array<float>"),
        typedLit(r.getSeq[Any](1)).cast("array<float>"),
        lit(r.getInt(2)), lit(r.getInt(3)))).head()
    }
    assert(vals(0).isNullAt(0))
    assert(!vals(1).isNullAt(0) && vals(1).getDouble(0) === 5.0)
    assert(vals(2).isNullAt(0))
  }

  test("intersect_count_sorted == size(array_intersect) on sorted distinct arrays") {
    val rng = new scala.util.Random(23)
    def set(n: Int, universe: Long) =
      Seq.fill(n)(rng.nextLong().abs % universe).distinct.sorted.toArray
    val rows = (1 to 400).map { _ =>
      // small universe -> dense overlap; large -> sparse; empties included
      val u = if (rng.nextBoolean()) 50L else 1000000L
      (set(rng.nextInt(40), u), set(rng.nextInt(40), u))
    } :+ (Array.empty[Long], Array(1L, 2L)) :+ (Array.empty[Long], Array.empty[Long])
    val df = rows.toDF("a", "b").select(
      size(array_intersect(col("a"), col("b"))).as("builtin"),
      call_function("intersect_count_sorted", col("a"), col("b")).as("native"))
    assert(df.filter(col("builtin") =!= col("native")).count() === 0)
  }

  test("intersect_count_sorted null contract is position-uniform (tails included)") {
    // Seq[Option[Long]] -> ARRAY<BIGINT> with containsNull=true, so the
    // generated code keeps its null checks; the trailing-null case is the
    // VERDICT r5 wobble: a null PAST the shorter side's exhaustion point
    // must null the result exactly like a null inside the merge window
    val df = Seq(
      // null in the merge window -> null
      (Seq[Option[Long]](Some(1L), None), Seq[Option[Long]](Some(1L), Some(2L))),
      // null in the LONGER side's tail (left exhausts first) -> null
      (Seq[Option[Long]](Some(1L), Some(2L)),
        Seq[Option[Long]](Some(1L), Some(2L), None)),
      // null in the LEFT tail (right exhausts first) -> null
      (Seq[Option[Long]](Some(5L), Some(7L), None), Seq[Option[Long]](Some(5L))),
      // no nulls, nullable schema -> plain count
      (Seq[Option[Long]](Some(1L), Some(3L)), Seq[Option[Long]](Some(1L), Some(2L), Some(3L)))
    ).toDF("a", "b")
      .select(call_function("intersect_count_sorted", col("a"), col("b")).as("c"))
    val out = df.collect()
    assert(out(0).isNullAt(0))
    assert(out(1).isNullAt(0))
    assert(out(2).isNullAt(0))
    assert(!out(3).isNullAt(0) && out(3).getInt(0) === 2)
  }

  test("analysis-time type error on non-array input") {
    val ex = intercept[Exception] {
      Seq((1, 2)).toDF("a", "b")
        .select(call_function("cosine_micro", col("a"), col("b"))).collect()
    }
    assert(ex.getMessage.toLowerCase.contains("cosine_micro"))
  }
}
