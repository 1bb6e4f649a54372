package graft.engine

import org.scalacheck.{Gen, Prop, Properties}

/** ScalaCheck laws for the A14 JS-number renderer: whatever notation
  * `jsNumber` picks, the printed string must parse back to the EXACT
  * same double (the round-trip law JS `String(value)` satisfies), and
  * the notation rules must hold (no trailing ".0" on integral values,
  * exponent form only outside JS's fixed range). */
object RenderProps extends Properties("Render.jsNumber") {

  private val finiteDouble: Gen[Double] = Gen.oneOf(
    // uniform over bit patterns — exercises subnormals/extremes
    Gen.long.map(java.lang.Double.longBitsToDouble),
    // everyday magnitudes
    Gen.chooseNum(-1e9, 1e9),
    // integral values, incl. beyond-int range
    Gen.chooseNum(-9e15, 9e15).map(math.rint),
    // tiny magnitudes around the 1e-6 notation boundary
    Gen.chooseNum(-12, 12).flatMap(e =>
      Gen.chooseNum(1.0, 9.999).map(m => m * math.pow(10, e))))
    .retryUntil(d => !d.isNaN && !d.isInfinite)

  property("round-trip: parse(jsNumber(d)) == d exactly") =
    Prop.forAll(finiteDouble) { d =>
      java.lang.Double.parseDouble(Render.jsNumber(d)) == d ||
        (d == 0.0 && Render.jsNumber(d) == "0") // -0.0 prints "0" like JS
    }

  property("integral values below 1e21 have no decimal point") =
    Prop.forAll(Gen.chooseNum(-9e15, 9e15).map(math.rint)) { d =>
      val s = Render.jsNumber(d)
      !s.contains('.') && !s.contains('e') && !s.contains('E')
    }

  // every double from 2^53 up is integral; below 1e21 JS prints it whole
  private val bigIntegral: Gen[Double] =
    Gen.chooseNum(9007199254740992.0, 1e21).retryUntil(_ < 1e21)

  private val subnormal: Gen[Double] = Gen.oneOf(
    Gen.chooseNum(1L, (1L << 52) - 1),
    Gen.chooseNum(1L, 1000L)) // the few-digit end, next to 5e-324
    .map(java.lang.Double.longBitsToDouble)

  /** The fewest significant digits that parse back to `d`: the exact
    * value rounded half-even to p digits, for the smallest such p. */
  private def fewestDigits(d: Double): Int = {
    val exact = new java.math.BigDecimal(d)
    (1 to 17).find { p =>
      val r = exact.round(new java.math.MathContext(p, java.math.RoundingMode.HALF_EVEN))
      java.lang.Double.parseDouble(r.toString) == d
    }.get
  }

  /** Significant digits printed: the mantissa without sign, point,
    * leading or trailing zeros. */
  private def printedDigits(s: String): Int =
    s.takeWhile(_ != 'e').filter(_.isDigit).dropWhile(_ == '0')
      .reverse.dropWhile(_ == '0').length

  property("shortest: jsNumber(d) prints the fewest digits that round-trip") =
    Prop.forAll(Gen.oneOf(finiteDouble, bigIntegral, subnormal).retryUntil(_ != 0.0)) { d =>
      printedDigits(Render.jsNumber(d)) == fewestDigits(d)
    }

  property("exponent notation only outside [1e-6, 1e21)") =
    Prop.forAll(finiteDouble) { d =>
      val a = math.abs(d)
      val s = Render.jsNumber(d)
      if (a == 0.0 || (a >= 1e-6 && a < 1e21)) !s.contains('e')
      else s.contains('e')
    }
}
