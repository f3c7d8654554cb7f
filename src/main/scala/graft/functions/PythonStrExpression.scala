package graft.functions

import java.math.{BigDecimal => JBigDecimal, MathContext, RoundingMode}

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `python_str(double)` -> STRING: Python 3's `str(float)` (= `repr`)
  * rendering, for bit-parity with the reference's `str(element)` coercion
  * before hashing (HLL/HyperLogLog.py:110). The goldens were produced with
  * Python 3; Python 2.7's `str(float)` is `%.12g` and is not the target.
  *
  * Spark's `CAST(d AS STRING)` follows Java conventions, which diverge from
  * Python in exactly the ways that change SHA-1 inputs:
  *  - exponent thresholds: Java switches to scientific at >= 1e7 / < 1e-3,
  *    Python at >= 1e16 / < 1e-4 (`12345678.0` vs `1.2345678E7`);
  *  - exponent spelling: Python `1e+16` / `5e-324`, Java `1.0E16` / `4.9E-324`;
  *  - specials: Python `inf` / `-inf` / `nan`, Java `Infinity` / `NaN`;
  *  - digit selection: Python repr is the SHORTEST decimal that round-trips
  *    and, among those, the one closest to the exact binary value; Java 17's
  *    `Double.toString` occasionally emits a different digit string.
  *
  * The digits come from exact arithmetic only, on one of two paths:
  *  - Short decimals, 1e-7 <= |v| < 1e15: for s = 0, 1, ... (s <= 22) while
  *    |v| * 10^s < 1e15, take d = rint(|v| * 10^s) and accept the first s
  *    with d / 10^s == |v|. Both d (< 2^53) and 10^s are exact doubles and
  *    IEEE division rounds correctly, so a match is a decimal that
  *    round-trips. A 15-digit decimal grid is coarser than the round-trip
  *    interval, so at most one candidate fits at each s, and the rounded
  *    product lands within 0.22 of it: the first match is CPython's
  *    shortest string. Every decimal of at most 15 significant digits is
  *    examined somewhere in that range, so a miss means 16 or 17 digits.
  *  - Everything else: the smallest p (from 16 after a fast-path miss,
  *    else from 1) whose correctly rounded p-digit value
  *    `new BigDecimal(|v|).round(p, HALF_EVEN)` parses back to |v|. At a
  *    power of two the gap below is half the gap above, so the nearest
  *    p-digit value can fall outside the narrow side while the one above
  *    still round-trips; there the round-up neighbour is tried too.
  *
  * Java's `%.{p-1}e` formatter (String.format) cannot stand in for the
  * rounding: it rounds from `Double.toString`'s digit string rather than the
  * exact binary value, so the result is rounded twice. Probing with it
  * renders `982321484631736448.0` as `9.823214846317365e+17` where Python
  * gives `9.823214846317364e+17` (the exact tail ...6448 rounds down).
  */
object PythonStr {

  /** 10^0 .. 10^22: every one an exact double. */
  private val Pow10: Array[Double] = Array.tabulate(23)(i => ("1e" + i).toDouble)

  /** Python `str(double)`. */
  def render(v: Double): String = format(v).toString

  /** Python `str(double)` as ASCII (hence UTF-8) bytes. */
  def renderBytes(v: Double): Array[Byte] = {
    val sb = format(v)
    val out = new Array[Byte](sb.length)
    var i = 0
    while (i < out.length) { out(i) = sb.charAt(i).toByte; i += 1 }
    out
  }

  private def format(v: Double): java.lang.StringBuilder = {
    val sb = new java.lang.StringBuilder(32)
    if (java.lang.Double.isNaN(v)) return sb.append("nan")
    if (v == Double.PositiveInfinity) return sb.append("inf")
    if (v == Double.NegativeInfinity) return sb.append("-inf")
    if (v == 0.0) return sb.append(if (1.0 / v < 0) "-0.0" else "0.0")
    val neg = v < 0
    val a = math.abs(v)
    // shortest round-tripping decimal: significand d, d * 10^-scale == a
    var d = -1L
    var scale = 0
    val fast = a >= 1e-7 && a < 1e15
    if (fast) {
      var s = 0
      while (d < 0 && s <= 22 && a * Pow10(s) < 1e15) {
        val r = math.rint(a * Pow10(s))
        if (r / Pow10(s) == a) { d = r.toLong; scale = s }
        s += 1
      }
    }
    if (d < 0) {
      val exact = new JBigDecimal(a)
      val bits = java.lang.Double.doubleToRawLongBits(a)
      val narrowBelow = (bits & ((1L << 52) - 1)) == 0 && (bits >>> 52) > 1
      var p = if (fast) 16 else 1
      while (d < 0) {
        var r = exact.round(new MathContext(p, RoundingMode.HALF_EVEN))
        if (r.doubleValue != a && narrowBelow)
          r = exact.round(new MathContext(p, RoundingMode.CEILING))
        if (r.doubleValue == a) { d = r.unscaledValue.longValue; scale = r.scale }
        p += 1
      }
    }
    // trailing zeros are not part of the shortest form (1500.0 -> "15")
    var zeros = 0
    while (d % 10 == 0) { d /= 10; zeros += 1 }
    val digits = java.lang.Long.toString(d)
    val exp = digits.length + zeros - 1 - scale
    if (neg) sb.append('-')
    if (exp >= -4 && exp < 16) {
      // positional notation
      if (exp >= digits.length - 1) {
        sb.append(digits)
        var i = digits.length - 1
        while (i < exp) { sb.append('0'); i += 1 }
        sb.append(".0")
      } else if (exp >= 0) {
        sb.append(digits, 0, exp + 1).append('.').append(digits, exp + 1, digits.length)
      } else {
        sb.append("0.")
        var i = -1
        while (i > exp) { sb.append('0'); i -= 1 }
        sb.append(digits)
      }
    } else {
      // scientific notation: 1e+16, 1.5e+20, 5e-324 (>= 2 exponent digits)
      sb.append(digits.charAt(0))
      if (digits.length > 1) sb.append('.').append(digits, 1, digits.length)
      sb.append('e').append(if (exp < 0) '-' else '+')
      val ae = math.abs(exp)
      if (ae < 10) sb.append('0')
      sb.append(ae)
    }
    sb
  }
}

/** Type-dispatching coercion used by every hash-input wrapper: DOUBLE/FLOAT
  * render via [[PythonStr]] (Python `str()` parity, the reference's
  * semantics); every other type keeps Spark's `CAST(x AS STRING)`, which
  * already matches Python for integers and strings (the reference's fixture
  * types). Resolved after analysis, when the input type is known.
  */
case class PyStrCoerce(child: Expression)
  extends org.apache.spark.sql.catalyst.expressions.RuntimeReplaceable
  with org.apache.spark.sql.catalyst.trees.UnaryLike[Expression] {

  override lazy val replacement: Expression = child.dataType match {
    case DoubleType => PythonStr(child)
    case FloatType  => PythonStr(org.apache.spark.sql.catalyst.expressions.Cast(child, DoubleType))
    case _          => org.apache.spark.sql.catalyst.expressions.Cast(child, StringType)
  }

  override protected def withNewChildInternal(c: Expression): PyStrCoerce = copy(child = c)
  override def prettyName: String = "py_str_coerce"
}

case class PythonStr(child: Expression)
  extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == DoubleType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires DOUBLE (cast floats up first), got ${child.dataType.sql}")

  override def dataType: DataType = StringType

  override def nullSafeEval(v: Any): Any =
    UTF8String.fromBytes(PythonStr.renderBytes(v.asInstanceOf[Double]))

  override protected def withNewChildInternal(c: Expression): PythonStr = copy(child = c)
  override def prettyName: String = "python_str"
}
