package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.types.UTF8String

/** Codegen-callable runtime for the battery-6 compat functions
  * (`DuckdbCompat` round 19): each method here is invoked through
  * Catalyst's `StaticInvoke`, which inlines the call into whole-stage
  * codegen (null-propagating, no boxing beyond the JVM signature) — the
  * same native-expression lane as `CosineSimilarity`, without a bespoke
  * `Expression` subclass per scalar. Every algorithm is pinned to the
  * MEASURED behavior of the oracle engine (the reference delegates all
  * SQL to DuckDB — `/root/reference/src/duckdb.ts:46-49`), including its
  * quirks, so identical query text computes identical bits.
  */
object CompatRuntime {

  /** The `StringSplit` regex that splits on `sep` literally, as DuckDB's
    * `string_split` does (each case checked against DuckDB 1.0):
    *  - NULL: a pattern that never matches, so the string comes back
    *    whole (`string_split('a b', NULL)` = ['a b']);
    *  - '': Spark's empty pattern, which splits into characters without
    *    the trailing '' a regex split leaves (['a', 'b', 'c']);
    *  - one UTF-16 char: that char, `\`-escaped when it is a regex
    *    metacharacter — both forms take `String.split`'s fast path,
    *    which splits without compiling a Pattern (a surrogate pair is
    *    two chars and quotes like any longer separator);
    *  - longer: `Pattern.quote`, the `\Q…\E` form, which also escapes
    *    a `\E` inside the separator. */
  def splitPattern(sep: UTF8String): UTF8String =
    if (sep == null) UTF8String.fromString("(?!)")
    else {
      val s = sep.toString
      if (s.length > 1) UTF8String.fromString(java.util.regex.Pattern.quote(s))
      else if (s.nonEmpty && ".$|()[{^?*+\\".indexOf(s.charAt(0)) >= 0)
        UTF8String.fromString("\\" + s)
      else sep
    }

  /** Non-negative gcd; gcd(0, 0) = 0 (measured: gcd(-12, 18) = 6). */
  def gcd(a: Long, b: Long): Long = {
    var x = math.abs(a)
    var y = math.abs(b)
    while (y != 0) { val t = x % y; x = y; y = t }
    x
  }

  /** Non-negative lcm; 0 when either input is 0 (measured: lcm(0,5)=0,
    * lcm(-4,6)=12). Divide-before-multiply keeps intermediate magnitude
    * at |a*b|/gcd. */
  def lcm(a: Long, b: Long): Long =
    if (a == 0L || b == 0L) 0L
    else math.abs(a / gcd(a, b) * b)

  /** Round to the next even integer AWAY from zero; even integers are
    * fixed points (measured: even(2.1)=4, even(2.0)=2, even(3.0)=4,
    * even(-0.5)=-2, even(0)=0). */
  def even(x: Double): Double =
    if (x >= 0) { val c = math.ceil(x); if (c % 2 == 0) c else c + 1 }
    else { val f = math.floor(x); if (f % 2 == 0) f else f - 1 }

  /** IEEE sign BIT (measured: signbit('-0.0'::double) is true,
    * signbit('nan') false, signbit('-inf') true) — not `x < 0`. */
  def signbit(x: Double): Boolean =
    java.lang.Double.doubleToRawLongBits(x) < 0L

  /** Code point of the first character; -1 for the empty string
    * (measured: unicode('') = -1, unicode('😀') = 128512). */
  def unicode(s: UTF8String): Int = {
    val str = s.toString
    if (str.isEmpty) -1 else str.codePointAt(0)
  }

  /** NFD-decompose and drop combining marks; characters without a
    * decomposition pass through (measured: 'ßæøñç' → 'ßæønc'). */
  def stripAccents(s: UTF8String): UTF8String = {
    import java.text.Normalizer
    val str = s.toString
    // only the normalize call is guarded by isNormalized — the mark
    // filter must ALWAYS run, or combining marks that arrive already
    // NFD-decomposed ('a' + U+0301) would pass through unstripped
    val decomposed =
      if (Normalizer.isNormalized(str, Normalizer.Form.NFD)) str
      else Normalizer.normalize(str, Normalizer.Form.NFD)
    UTF8String.fromString(decomposed.filterNot(c =>
      Character.getType(c) == Character.NON_SPACING_MARK))
  }

  /** TRUE Damerau-Levenshtein (transposed substrings may be edited
    * again — measured: ('CA','ABC') = 2 where the restricted OSA
    * distance is 3), over code points. Standard alphabet-indexed DP
    * with the (la+2)×(lb+2) matrix. */
  def damerauLevenshtein(a: UTF8String, b: UTF8String): Long = {
    val s = codePoints(a.toString)
    val t = codePoints(b.toString)
    val (la, lb) = (s.length, t.length)
    if (la == 0) return lb.toLong
    if (lb == 0) return la.toLong
    val inf = la + lb
    val d = Array.ofDim[Int](la + 2, lb + 2)
    d(0)(0) = inf
    var i = 0
    while (i <= la) { d(i + 1)(1) = i; d(i + 1)(0) = inf; i += 1 }
    var j = 0
    while (j <= lb) { d(1)(j + 1) = j; d(0)(j + 1) = inf; j += 1 }
    val last = new java.util.HashMap[Int, Int]()
    i = 1
    while (i <= la) {
      var db = 0
      j = 1
      while (j <= lb) {
        val i1 = last.getOrDefault(t(j - 1), 0)
        val j1 = db
        val cost = if (s(i - 1) == t(j - 1)) { db = j; 0 } else 1
        d(i + 1)(j + 1) = math.min(
          math.min(d(i)(j) + cost,            // substitute / match
            math.min(d(i + 1)(j) + 1,         // insert
              d(i)(j + 1) + 1)),              // delete
          d(i1)(j1) + (i - i1 - 1) + 1 + (j - j1 - 1)) // transpose
        j += 1
      }
      last.put(s(i - 1), i)
      i += 1
    }
    d(la + 1)(lb + 1).toLong
  }

  private def codePoints(s: String): Array[Int] = {
    val out = new Array[Int](s.codePointCount(0, s.length))
    var i = 0
    var k = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      out(k) = cp; k += 1
      i += Character.charCount(cp)
    }
    out
  }

  private val byteUnits = Array("KiB", "MiB", "GiB", "TiB", "PiB")

  /** Human bytes, DuckDB's exact CASCADE algorithm (measured, including
    * its lossy decimal): magnitudes under 1024 print "N byte[s]"
    * (singular at ±1); otherwise the magnitude decomposes into
    * per-binary-unit digits (each level is the integer quotient of the
    * previous, keeping the remainder AT THAT LEVEL), the largest
    * non-zero unit prints — capped at PiB — and the single decimal is
    * `remainder_in_next_lower_unit * 10 / 1024`, truncated. The
    * remainder is in LOWER-UNIT counts, not bytes, so 25 900 000 B
    * (24.70 MiB exactly) prints '24.6 MiB': 716 KiB of remainder →
    * 7160/1024 = 6 (verified against the oracle row-by-row; a plain
    * truncation of the exact ratio says 24.7 and hash-mismatches).
    * Sign preserved ('-2.0 KiB'); Long.MaxValue → '8191.9 PiB'. */
  def formatBytes(n: Long): UTF8String = {
    // magnitude as unsigned-safe BigInt (|Long.MinValue| overflows Long)
    val mag = BigInt(n).abs
    val out =
      if (mag < 1024) {
        val unit = if (mag == 1) " byte" else " bytes"
        s"$n$unit"
      } else {
        // cascade: digits(i) = count of unit i (0 = bytes .. 5 = PiB),
        // each level's remainder stays at that level
        val digits = new Array[BigInt](byteUnits.length + 1)
        digits(0) = mag
        var i = 1
        while (i <= byteUnits.length) {
          digits(i) = digits(i - 1) / 1024
          digits(i - 1) = digits(i - 1) % 1024
          i += 1
        }
        var idx = byteUnits.length // highest non-zero level, 1-based
        while (idx > 1 && digits(idx) == 0) idx -= 1
        // PiB cap: levels above the array roll back into the printed
        // whole part (Long can't exceed it, but keep the math honest)
        val whole = digits(idx)
        val tenth = digits(idx - 1) * 10 / 1024
        val sign = if (n < 0) "-" else ""
        s"$sign$whole.$tenth ${byteUnits(idx - 1)}"
      }
    UTF8String.fromString(out)
  }

  /** ASCII bar chart, DuckDB's exact rendering (measured): the clamped
    * fraction times `width` gives block units — full blocks U+2588,
    * then one partial block in EIGHTHS (U+2589..U+258F, truncated) —
    * and the bar is padded with spaces while its UTF-8 BYTE length
    * (3 bytes per block char) is below `width` (measured:
    * bar(1,0,8,8) = '█' + 5 spaces, bar(4,0,8,8) = 4 blocks + none).
    * Out-of-range and NaN fractions clamp to [0, 1]. */
  def bar(x: Double, min: Double, max: Double, width: Double): UTF8String = {
    var units = (x - min) / (max - min) * width
    if (units.isNaN || units < 0) units = 0
    if (units > width) units = width
    val full = math.floor(units).toInt
    val eighths = math.floor((units - full) * 8).toInt
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < full) { sb.append('█'); i += 1 }
    if (eighths > 0) sb.append((0x2590 - eighths).toChar)
    var bytes = 3 * sb.length
    while (bytes < width) { sb.append(' '); bytes += 1 }
    UTF8String.fromString(sb.toString)
  }

  /** Jaro similarity over UTF-8 BYTES (measured: 'über' counts 5 —
    * DuckDB matches bytes, not code points), with DuckDB's edge order:
    * either side empty → 0.0 (even two empties), equal non-empty → 1.0.
    * The final float association `(m/l1 + m/l2 + (m-t)/m) / 3.0` was
    * pinned bitwise against the oracle on 3000/3000 fuzzed pairs. */
  def jaro(a: UTF8String, b: UTF8String): Double = {
    val s1 = a.getBytes
    val s2 = b.getBytes
    val (l1, l2) = (s1.length, s2.length)
    if (l1 == 0 || l2 == 0) return 0.0
    if (java.util.Arrays.equals(s1, s2)) return 1.0
    val window = math.max(l1, l2) / 2 - 1
    val m1 = new Array[Boolean](l1)
    val m2 = new Array[Boolean](l2)
    var m = 0
    var i = 0
    while (i < l1) {
      var j = math.max(0, i - window)
      val hi = math.min(l2, i + window + 1)
      var hit = false
      while (!hit && j < hi) {
        if (!m2(j) && s2(j) == s1(i)) {
          m1(i) = true; m2(j) = true; m += 1; hit = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    var t = 0
    var k = 0
    i = 0
    while (i < l1) {
      if (m1(i)) {
        while (!m2(k)) k += 1
        if (s1(i) != s2(k)) t += 1
        k += 1
      }
      i += 1
    }
    t /= 2
    (m.toDouble / l1 + m.toDouble / l2 +
      (m - t).toDouble / m) / 3.0
  }

  /** Jaro-Winkler: the prefix boost (≤4 common BYTES, p = 0.1) applies
    * only when the Jaro score EXCEEDS 0.7 — fuzzed bitwise: the
    * unconditional variant mismatched 239/3000, the thresholded one
    * 0/3000. */
  def jaroWinkler(a: UTF8String, b: UTF8String): Double = {
    val j = jaro(a, b)
    if (j <= 0.7) return j
    val s1 = a.getBytes
    val s2 = b.getBytes
    var l = 0
    while (l < 4 && l < s1.length && l < s2.length && s1(l) == s2(l)) l += 1
    j + l * 0.1 * (1.0 - j)
  }

  private def checkPair(name: String, a: ArrayData, b: ArrayData): Int = {
    val n = a.numElements()
    if (b.numElements() != n) throw new IllegalArgumentException(
      s"$name: list dimensions must match (${n} vs ${b.numElements()}," +
        " as in DuckDB)")
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i))
        throw new IllegalArgumentException(
          s"$name: lists can not contain NULL values (as in DuckDB)")
      i += 1
    }
    n
  }

  /** Sequential left-fold dot product over double lists — the element
    * order DuckDB uses, so results are bit-identical. */
  def listInner(a: ArrayData, b: ArrayData): Double = {
    val n = checkPair("list_inner_product", a, b)
    var s = 0.0d
    var i = 0
    while (i < n) { s += a.getDouble(i) * b.getDouble(i); i += 1 }
    s
  }

  /** Euclidean distance: sqrt of the sequential squared-difference
    * fold (measured bit-equal on distinguishing inputs). */
  def listDistance(a: ArrayData, b: ArrayData): Double = {
    val n = checkPair("list_distance", a, b)
    var s = 0.0d
    var i = 0
    while (i < n) {
      val d = a.getDouble(i) - b.getDouble(i)
      s += d * d
      i += 1
    }
    math.sqrt(s)
  }

  /** Cosine similarity `dot / (sqrt(na) * sqrt(nb))` — the DENOMINATOR
    * ASSOCIATION measured against the oracle on distinguishing inputs
    * (dot/sqrt(na*nb) differs in the last bit and was refuted 6/6);
    * same operation sequence as [[CosineSimilarity]]. */
  def listCosine(a: ArrayData, b: ArrayData): Double = {
    val n = checkPair("list_cosine_similarity", a, b)
    var dot = 0.0d
    var na = 0.0d
    var nb = 0.0d
    var i = 0
    while (i < n) {
      val x = a.getDouble(i)
      val y = b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }
}
