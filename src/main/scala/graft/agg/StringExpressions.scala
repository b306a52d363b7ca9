package graft.agg

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * `cdc_cuts(s, window, div)` — the content-defined-chunking boundary scan
 * as ONE native pass with a genuinely ROLLING window hash and real
 * `doGenCode`: returns the ascending ARRAY<INT> of 1-based codepoint
 * positions `i ∈ [window, n]` where the char-fold hash of the trailing
 * `window` codepoints — `h = Σ c_j·131^(window-1-j) mod 4093`, i.e. the
 * project's established cross-engine fold — satisfies `h ≡ 0 (mod div)`.
 *
 * Bit-parity contract with the HOF twin
 * (`filter(sequence(window, n), i -> aggregate(chars(substring(s, i-window+1,
 * window)), 0, (acc, c) -> (acc·131 + ascii(c)) % 4093) % div = 0)`): the
 * native fold is over CODEPOINTS — exactly DuckDB's `unicode(c)`, so the
 * expression agrees with the q88 ORACLE on any input — while Spark's
 * `ascii()` is byte-valued on multibyte characters, so HOF parity is pinned
 * on single-byte (ASCII) text: the corpus contract, asserted by
 * StringExprSpec on the gate corpus and adversarial ASCII fixtures (a
 * dedicated fixture pins the codepoint handling of supplementary characters
 * against a JVM reference). Positions are codepoint indices (Spark
 * `substring`/`length` semantics), and the rolling update
 * `h' = ((h − c_out·131^(window−1)) ·131 + c_in) mod 4093` is algebraically
 * identical to recomputing the fold, so swapping this into the oracle-gated
 * query cannot move any boundary.
 *
 * Cost: O(n) codepoints per document with a reused ring buffer — the HOF
 * twin allocates a window-sized char array per POSITION (O(n·window) work
 * and allocation), which measured 4.3× across the q88 decade.
 */
case class CdcCuts(child: Expression, window: Int, div: Int)
    extends UnaryExpression {

  require(window >= 1, "cdc_cuts: window must be >= 1")
  require(div >= 1, "cdc_cuts: div must be >= 1")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "cdc_cuts"

  /** 131^(window−1) mod 4093 — the coefficient of the outgoing codepoint. */
  private val powOut: Int = {
    var p = 1; var i = 1
    while (i < window) { p = p * 131 % 4093; i += 1 }
    p
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cdc_cuts expects STRING, got ${child.dataType.catalogString}")

  override protected def nullSafeEval(input: Any): Any = {
    val str = input.asInstanceOf[UTF8String].toString
    val clen = str.length
    val n = str.codePointCount(0, clen)
    if (n < window) return UnsafeArrayData.fromPrimitiveArray(Array.emptyIntArray)
    val cuts = new Array[Int](n - window + 1)
    val ring = new Array[Int](window)
    var k = 0; var h = 0; var ci = 0; var p = 0
    while (p < window) {
      val c = str.codePointAt(ci)
      ring(p) = c; h = (h * 131 + c) % 4093
      ci += Character.charCount(c); p += 1
    }
    var pos = window
    while (pos <= n) {
      if (h % div == 0) { cuts(k) = pos; k += 1 }
      if (pos < n) {
        val c = str.codePointAt(ci); ci += Character.charCount(c)
        val slot = pos % window
        var t = h - (ring(slot) % 4093) * powOut % 4093
        if (t < 0) t += 4093
        ring(slot) = c
        h = (t * 131 + c % 4093) % 4093
      }
      pos += 1
    }
    UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(cuts, k))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ring = ctx.addMutableState("int[]", "cdcRing",
      v => s"$v = new int[$window];")
    nullSafeCodeGen(ctx, ev, s => {
      val str = ctx.freshName("str"); val n = ctx.freshName("n")
      val cuts = ctx.freshName("cuts"); val k = ctx.freshName("k")
      val h = ctx.freshName("h"); val ci = ctx.freshName("ci")
      val p = ctx.freshName("p"); val pos = ctx.freshName("pos")
      val c = ctx.freshName("c"); val t = ctx.freshName("t")
      val slot = ctx.freshName("slot")
      val uad = classOf[UnsafeArrayData].getName
      s"""
         |final String $str = $s.toString();
         |final int $n = $str.codePointCount(0, $str.length());
         |if ($n < $window) {
         |  ${ev.value} = $uad.fromPrimitiveArray(new int[0]);
         |} else {
         |  final int[] $cuts = new int[$n - $window + 1];
         |  int $k = 0; int $h = 0; int $ci = 0;
         |  for (int $p = 0; $p < $window; $p++) {
         |    final int $c = $str.codePointAt($ci);
         |    $ring[$p] = $c; $h = ($h * 131 + $c) % 4093;
         |    $ci += Character.charCount($c);
         |  }
         |  for (int $pos = $window; $pos <= $n; $pos++) {
         |    if ($h % $div == 0) { $cuts[$k++] = $pos; }
         |    if ($pos < $n) {
         |      final int $c = $str.codePointAt($ci);
         |      $ci += Character.charCount($c);
         |      final int $slot = $pos % $window;
         |      int $t = $h - ($ring[$slot] % 4093) * $powOut % 4093;
         |      if ($t < 0) { $t += 4093; }
         |      $ring[$slot] = $c;
         |      $h = ($t * 131 + $c % 4093) % 4093;
         |    }
         |  }
         |  ${ev.value} = $uad.fromPrimitiveArray(java.util.Arrays.copyOf($cuts, $k));
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): CdcCuts =
    copy(child = newChild)
}

/** Column builder of `cdc_cuts`; its SQL name is registered by
  * `graft.GraftExtensions`. */
object StringExpressions {
  def cdc_cuts(text: Column, window: Int, div: Int): Column =
    column(CdcCuts(expression(text), window, div))
}
