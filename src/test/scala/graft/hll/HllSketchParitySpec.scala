package graft.hll

import org.scalatest.funsuite.AnyFunSuite
import scala.io.Source

/** Bit-parity suite against golden values produced by RUNNING the reference
  * implementation (tools/gen_goldens.py executes
  * /root/reference/HLL/HyperLogLog.py); goldens include every published
  * expectation in the reference's own tests
  * (tests/HLL/test_HyperLogLog.py:163-181, tests/HLL/test_examples.py:86-110)
  * plus register-level SHA-1 checksums and a synthetic sweep across k/width.
  */
class HllSketchParitySpec extends AnyFunSuite {

  private def resource(name: String): String = {
    val in = getClass.getResourceAsStream("/" + name)
    require(in != null, s"missing resource $name")
    try Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  // --- tiny parser for the flat goldens.json (string -> num | str | [[i,v]]) ---
  private val goldens: Map[String, Any] = {
    val txt = resource("goldens.json")
    val entry = """"([^"]+)":\s*(\[\s*\[[^\]]*\](?:,\s*\[[^\]]*\])*\s*\]|\[\s*\]|"[^"]*"|-?[\d.eE+]+)""".r
    entry.findAllMatchIn(txt).map { m =>
      val key = m.group(1)
      val v = m.group(2).trim
      val parsed: Any =
        if (v.startsWith("\"")) v.substring(1, v.length - 1)
        else if (v.startsWith("[")) {
          val pair = """\[\s*(-?\d+),\s*(-?\d+)\s*\]""".r
          pair.findAllMatchIn(v).map(p => (p.group(1).toInt, p.group(2).toInt)).toList
        } else v.toDouble
      key -> parsed
    }.toMap
  }

  private def goldD(k: String): Double = goldens(k).asInstanceOf[Double]
  private def goldS(k: String): String = goldens(k).asInstanceOf[String]
  private def goldRegs(k: String): List[(Int, Int)] =
    goldens(k).asInstanceOf[List[(Int, Int)]]

  /** number tokens in the fixture files are exactly Python str() forms
    * (verified at generation time), so hash the raw tokens.
    */
  private def tokens(name: String): Array[String] =
    """-?\d+(?:\.\d+)?(?:[eE][-+]?\d+)?""".r.findAllIn(resource(name)).toArray

  /** data2.txt = JSON array of arrays; split on top-level boundaries. */
  private def nestedTokens(name: String): Array[Array[String]] = {
    val txt = resource(name)
    val inner = """\[([^\[\]]*)\]""".r
    inner.findAllMatchIn(txt.drop(txt.indexOf('[') + 1))
      .map(m => """-?\d+(?:\.\d+)?(?:[eE][-+]?\d+)?""".r.findAllIn(m.group(1)).toArray)
      .toArray
  }

  private def nonZero(s: HllSketch): List[(Int, Int)] =
    s.registers.zipWithIndex.collect { case (v, i) if v > 0 => (i, v.toInt) }.toList

  private def regsSha(s: HllSketch): String = {
    val md = java.security.MessageDigest.getInstance("SHA-1")
    md.digest(s.registers).map("%02x".format(_)).mkString
  }

  private val data = Seq("abc", "def", "ghi")
  private val numData = Seq("11", "11.717", "12.207", "12.7896", "11")

  test("parameters: p, m, alpha, error, threshold (ref test_HyperLogLog.py:81-89)") {
    val h = HllSketch.empty(250, 32)
    assert(h.p == 8 && h.m == 256)
    assert(math.abs(h.alpha - 0.7182725932495458) < 1e-12)
    assert(math.abs(h.error - 0.065) < 1e-4)
    val h64 = HllSketch.empty(1 << 17, 64)
    assert(Hll64Constants.threshold(h64.p - 4) == 120000.0)
  }

  test("k validation bounds (ref HLL/HyperLogLog.py:73-75)") {
    intercept[IllegalArgumentException](HllSketch.empty(2, 32))
    intercept[IllegalArgumentException](HllSketch.empty(1 << 17, 32))
    assert(HllSketch.empty(1 << 16, 32).k == (1 << 16))
    assert(HllSketch.empty(1 << 17, 64).k == (1 << 17))
    intercept[IllegalArgumentException](HllSketch.empty(1 << 19, 64))
  }

  test("register-level goldens (ref test_HyperLogLog.py:91-121)") {
    val h1 = HllSketch.empty(250, 32); h1.update("abc")
    assert(nonZero(h1) == goldRegs("regs_abc_k250_32"))
    val h2 = HllSketch.empty(250, 32); data.foreach(h2.update)
    assert(nonZero(h2) == goldRegs("regs_data_k250_32"))
    val h3 = HllSketch.empty(250, 32); (data ++ Seq("def", "abc")).foreach(h3.update)
    assert(nonZero(h3) == goldRegs("regs_data_k250_32")) // duplicate-insensitive
    val h4 = HllSketch.empty(250, 32); numData.foreach(h4.update)
    assert(nonZero(h4) == goldRegs("regs_num_k250_32"))
    val h5 = HllSketch.empty(250, 32)
    h5.update("654941.845"); h5.update("400.2024")
    assert(nonZero(h5) == goldRegs("regs_collide_k250_32")) // key collision -> max
  }

  test("small-range cardinality goldens (ref test_HyperLogLog.py:163-171)") {
    val h = HllSketch.empty(250, 32); data.foreach(h.update)
    assert(h.cardinality == goldD("card_data_k250_32")) // 3.017716672522796
    val h64 = HllSketch.empty(1 << 17, 64); data.foreach(h64.update)
    assert(h64.cardinality == goldD("card_data_k2p17_64")) // 3.0000343327992325
  }

  test("data.txt high-range goldens, both widths (ref test_HyperLogLog.py:173-181, test_examples.py:86)") {
    val toks = tokens("data.txt")
    assert(toks.length == 775)
    def card(k: Int, bits: Int): HllSketch = {
      val h = HllSketch.empty(k, bits); toks.foreach(h.update); h
    }
    val h6412 = card(1 << 12, 64)
    assert(h6412.cardinality == goldD("card_datatxt_k2p12_64")) // 645.2579301443818
    assert(regsSha(h6412) == goldS("regssha_datatxt_k2p12_64"))
    assert(card(250, 32).cardinality == goldD("card_datatxt_k250_32")) // 695.1859783711712
    assert(card(1 << 12, 32).cardinality == goldD("card_datatxt_k2p12_32"))
    assert(card(1 << 17, 64).cardinality == goldD("card_datatxt_k2p17_64")) // 638.5529193179921
  }

  test("data2.txt per-list sketches + merge golden (ref test_examples.py:99-102)") {
    val lists = nestedTokens("data2.txt")
    assert(lists.length == 15)
    val parts = lists.map { sub =>
      val h = HllSketch.empty(1 << 12, 64); sub.foreach(h.update); h
    }
    val total = parts.reduce { (a, b) => a.copySketch().merge(b) }
    assert(total.cardinality == goldD("card_data2_union_k2p12_64")) // 2875.28999
    assert(regsSha(total) == goldS("regssha_data2_union_k2p12_64"))
  }

  test("synthetic sweep across k and hash width") {
    val cases = Seq((16, 32, 100), (250, 32, 5000), (4096, 32, 20000),
      (65536, 32, 50000), (16, 64, 100), (250, 64, 5000),
      (4096, 64, 20000), (16384, 64, 50000), (262144, 64, 50000))
    cases.foreach { case (k, bits, n) =>
      val h = HllSketch.empty(k, bits)
      (0 until n).foreach(i => h.update(s"u$i"))
      assert(h.cardinality == goldD(s"card_sweep_k${k}_${bits}_n$n"),
        s"cardinality mismatch k=$k bits=$bits n=$n")
      assert(regsSha(h) == goldS(s"regssha_sweep_k${k}_${bits}_n$n"),
        s"register mismatch k=$k bits=$bits n=$n")
    }
  }

  test("merge commutativity/associativity/idempotence + k check (ref test_HyperLogLog.py:123-161)") {
    val a = HllSketch.empty(250, 32); data.foreach(a.update)
    val b = HllSketch.empty(250, 32); numData.foreach(b.update)
    val ab = a.copySketch().merge(b)
    val ba = b.copySketch().merge(a)
    assert(ab.registers.toSeq == ba.registers.toSeq)
    assert(ab.copySketch().merge(ab).registers.toSeq == ab.registers.toSeq)
    val c = HllSketch.empty(1 << 12, 32)
    intercept[IllegalArgumentException](a.copySketch().merge(c))
  }

  test("serde round-trip preserves registers and estimate") {
    val h = HllSketch.empty(1 << 12, 64)
    (0 until 10000).foreach(i => h.update(s"x$i"))
    val rt = HllSketch.deserialize(h.serialize())
    assert(rt.k == h.k && rt.bits == h.bits)
    assert(rt.registers.toSeq == h.registers.toSeq)
    assert(rt.cardinality == h.cardinality)
  }

  test("deserialize rejects truncated or corrupt buffers instead of mis-parsing") {
    val h = HllSketch.empty(1 << 12, 64)
    (0 until 100).foreach(i => h.update(s"x$i"))
    val bytes = h.serialize()
    intercept[IllegalArgumentException](HllSketch.deserialize(bytes.take(bytes.length - 1)))
    intercept[IllegalArgumentException](HllSketch.deserialize(bytes.take(8)))
    intercept[IllegalArgumentException](HllSketch.deserialize(Array[Byte](64, 12)))
    // zero-valued sparse entries (never produced by serialize; rho >= 1) are
    // dropped so they cannot skew the sparse countZero shortcut
    val zeroed = bytes.clone()
    if ((zeroed(0) & 0x80) != 0) {
      zeroed(13) = 0 // first entry's value byte
      val rt = HllSketch.deserialize(zeroed)
      assert(rt.registers.count(_ != 0) == h.registers.count(_ != 0) - 1)
    }
  }

  // the float fixture and its expected Python str() forms, from the
  // generated goldens (tools/gen_goldens.py runs the reference's Python)
  private val floatFixture: Array[Double] = Array(
    0.1, 1.5, 400.2024, 654941.845, 12345678.0, 1e16, 1.5e16,
    1e-4, 9.999e-5, 5e-324, 1.7976931348623157e308, -0.0, 2.0,
    -273.15, 6.02214076e23, 3.141592653589793, 1e15, 123456789.123)

  private def pystrGoldens: Array[String] = {
    val txt = resource("goldens.json")
    val arr = """"pystr_fixture":\s*\[([^\]]*)\]""".r.findFirstMatchIn(txt).get.group(1)
    """"([^"]*)"""".r.findAllMatchIn(arr).map(_.group(1)).toArray
  }

  // values where the digit search is hard: exact ties broken by the binary
  // tail (Java's %e rounds Double.toString's digits twice and gets them
  // wrong), the edges of the short-decimal range (1e15 and the double below
  // it, written 999999999999999.9; 1e-7 and its neighbours), 15- and
  // 16-digit decimals, and powers of two where the nearest 16-digit decimal
  // misses the narrow lower half of the round-trip interval. The strings
  // are Python 3 repr output, from the local python3:
  //   python3 -c "import math; print([repr(v) for v in [982321484631736448.0, ...]])"
  // (math.nextafter(x, 0) / (x, 2*x) for the neighbours)
  private val pystrHardCases: Seq[(Double, String)] = Seq(
    982321484631736448.0 -> "9.823214846317364e+17",
    -982321484631736448.0 -> "-9.823214846317364e+17",
    8731142118995134464.0 -> "8.731142118995134e+18",
    1e15 -> "1000000000000000.0",
    math.nextDown(1e15) -> "999999999999999.9",
    999999999999999.9 -> "999999999999999.9",
    math.nextUp(1e15) -> "1000000000000000.1",
    1e-7 -> "1e-07",
    math.nextDown(1e-7) -> "9.999999999999998e-08",
    math.nextUp(1e-7) -> "1.0000000000000001e-07",
    1e22 -> "1e+22",
    1e23 -> "1e+23",
    math.nextDown(1e23) -> "9.999999999999997e+22",
    123456789012.345 -> "123456789012.345",
    1234567890.123456 -> "1234567890.123456",
    (0.1 + 0.2) -> "0.30000000000000004",
    math.pow(2, -1017) -> "7.120236347223045e-307",
    math.pow(2, -957) -> "8.209073602596753e-289",
    math.pow(2, -808) -> "5.858190679279809e-244",
    math.pow(2, -1022) -> "2.2250738585072014e-308")

  test("Python str() rendering parity for doubles (incl. exponent-threshold divergences)") {
    val expected = pystrGoldens
    assert(expected.length == floatFixture.length)
    (floatFixture.toSeq.zip(expected) ++ pystrHardCases).foreach { case (d, want) =>
      assert(graft.functions.PythonStr.render(d) == want,
        s"render($d) = ${graft.functions.PythonStr.render(d)} != Python '$want'")
    }
  }

  /** Python 3 `repr(float)` from its definition, in exact BigDecimal
    * arithmetic: the fewest significant digits p with a p-digit decimal
    * that parses back to |v|, and of the two p-digit neighbours of |v| the
    * round-tripping one closest to it (ties to an even last digit).
    */
  private def pyReprReference(v: Double): String = {
    import java.math.{BigDecimal => JBigDecimal, MathContext, RoundingMode}
    if (v.isNaN) return "nan"
    if (v.isInfinite) return if (v > 0) "inf" else "-inf"
    if (v == 0.0) return if (1.0 / v < 0) "-0.0" else "0.0"
    val a = math.abs(v)
    val exact = new JBigDecimal(a)
    val c = Iterator.from(1).map { p =>
      val lo = exact.round(new MathContext(p, RoundingMode.FLOOR))
      val hi = exact.round(new MathContext(p, RoundingMode.CEILING))
      (lo.doubleValue == a, hi.doubleValue == a) match {
        case (true, true) =>
          val byDistance = exact.subtract(lo).compareTo(hi.subtract(exact))
          if (byDistance < 0 || (byDistance == 0 && !lo.unscaledValue.testBit(0))) Some(lo) else Some(hi)
        case (true, false) => Some(lo)
        case (false, true) => Some(hi)
        case _ => None
      }
    }.collectFirst { case Some(x) => x }.get
    val digits = c.unscaledValue.toString.reverse.dropWhile(_ == '0').reverse
    val exp = c.precision - 1 - c.scale
    val sign = if (v < 0) "-" else ""
    if (exp >= -4 && exp < 16) {
      val plain = c.stripTrailingZeros.toPlainString
      sign + (if (plain.contains('.')) plain else plain + ".0")
    } else {
      val mant = if (digits.length > 1) s"${digits.head}.${digits.tail}" else digits
      f"$sign${mant}e${if (exp < 0) "-" else "+"}${math.abs(exp)}%02d"
    }
  }

  test("python_str render equals the exact repr reference on 1M fixed-seed doubles") {
    val rng = new scala.util.Random(20231018L)
    val twoDecimal = Iterator.fill(400000) {
      (rng.nextLong() % 100000000000L) / 100.0
    }
    val randomBits = Iterator.fill(250000)(java.lang.Double.longBitsToDouble(rng.nextLong()))
    val scaledIntegers = Iterator.fill(330000) {
      val k = 1 + rng.nextInt(17)
      val n = (rng.nextLong() & Long.MaxValue) % math.pow(10, k).toLong
      s"${n}e${rng.nextInt(81) - 40}".toDouble
    }
    def neighbours(x: Double): Seq[Double] =
      Iterator.iterate(x)(math.nextDown).slice(1, 4).toSeq ++ Iterator.iterate(x)(math.nextUp).take(4)
    val powersOfTen = (-323 to 308).flatMap(e => neighbours(s"1e$e".toDouble))
    val powersOfTwo = (-1074 to 1023).flatMap(e => neighbours(math.pow(2, e)))
    var n = 0
    (twoDecimal ++ randomBits ++ scaledIntegers ++ powersOfTen ++ powersOfTwo).foreach { d =>
      val want = pyReprReference(d)
      val got = graft.functions.PythonStr.render(d)
      assert(got == want, s"render($d) [bits ${java.lang.Double.doubleToRawLongBits(d)}] = $got != $want")
      n += 1
    }
    assert(n > 990000)
  }

  test("float-column sketch matches the executed reference bit-for-bit") {
    val h = HllSketch.empty(1 << 12, 64)
    floatFixture.foreach(d => h.update(graft.functions.PythonStr.render(d)))
    assert(h.cardinality == goldD("card_floats_k2p12_64"))
    assert(regsSha(h) == goldS("regssha_floats_k2p12_64"))
  }

  test("pluggable hash (reference hash_func param): MD5/SHA-256 round-trip") {
    // build/merge/serde/estimate with each non-default hash; estimates are
    // plausible and hash-dependent (different register states than SHA-1)
    // n/m kept in the linear-counting regime: the reference's inherited
    // mid-range bias indexing (see BASELINE.md) skews n ~ m estimates for
    // EVERY hash, which would drown the signal this test is after
    val bySha = HllSketch.empty(1 << 12, 64)
    (0 until 1000).foreach(i => bySha.update(s"u$i"))
    Seq("MD5", "SHA-256").foreach { hash =>
      val a = HllSketch.empty(1 << 12, 64, hash)
      val b = HllSketch.empty(1 << 12, 64, hash)
      (0 until 500).foreach(i => a.update(s"u$i"))
      (500 until 1000).foreach(i => b.update(s"u$i"))
      val merged = a.copySketch().merge(b)
      val rt = HllSketch.deserialize(merged.serialize())
      assert(rt.hashName == hash, "hash survives the wire format")
      assert(rt.registers.toSeq == merged.registers.toSeq)
      val est = rt.cardinality
      assert(math.abs(est - 1000) / 1000.0 < 0.05, s"$hash estimate off: $est")
      assert(merged.registers.toSeq != bySha.registers.toSeq,
        s"$hash produced SHA-1's registers — hash not actually plugged in")
      // mixing hashes in a merge is rejected
      intercept[IllegalArgumentException](bySha.copySketch().merge(merged))
    }
    intercept[IllegalArgumentException](HllSketch.empty(1 << 12, 64, "CRC-32"))
  }
}
