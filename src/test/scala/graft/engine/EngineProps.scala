package graft.engine

import org.scalacheck.{Gen, Prop, Properties}

/** ScalaCheck properties for the router's TEXT rewrite pipeline: every
  * pure-text shim must be the IDENTITY on statements that carry none of
  * its triggers at code level — even when the trigger words, brackets,
  * and braces appear inside string literals, quoted identifiers, or
  * comments. This is the over-triggering guard: a shim that fires on
  * trigger-free text silently corrupts arbitrary user SQL, which is the
  * one failure mode the dialect router must never have. */
object EngineProps extends Properties("EngineRewrites") {

  // code tokens free of every shim trigger (no USING/EXCLUDE/REPLACE/
  // SIMILAR/ASOF/QUALIFY/COLUMNS keywords, no bare [ or {)
  private val ident = Gen.oneOf(
    "tbl", "amount", "kind", "users", "order_x", "sel", "a", "b1")
  private val num = Gen.chooseNum(0, 9999).map(_.toString)
  // literals and comments may carry EVERY trigger — they are not code
  private val shielded = Gen.oneOf(
    "'USING SAMPLE 5 ROWS'", "'x [1] and { y: 1 }'", "'QUALIFY rank()'",
    "'it''s an ASOF JOIN'", "'a SIMILAR TO b'", "'* EXCLUDE (c)'",
    "'date_diff(''day'', a, b)'", "'$1 bound ? param'",
    "'x GLOB ''a*'''",
    "\"weird [ident] {x}\"", "`odd [col] {y}`",
    "-- USING SAMPLE 9 QUALIFY [1] {a: 2} datediff('h', x, y)\n",
    "/* ASOF JOIN t ON x SIMILAR TO 'p' [3,4] */")
  private val symbol = Gen.oneOf("(", ")", ",", "*", "=", "+", "<", ">")
  private val token: Gen[String] =
    Gen.frequency(4 -> ident, 2 -> num, 2 -> shielded, 2 -> symbol)

  private val statement: Gen[String] = for {
    n <- Gen.chooseNum(1, 20)
    ts <- Gen.listOfN(n, token)
  } yield "SELECT " + ts.mkString(" ")

  private def allPureShims(s: String): String =
    // every pure-text shim of the router's table, applied in sequence
    // (order is irrelevant for the identity property), plus the dollar-
    // quote conversion that runs on the raw statement before the table.
    // Trailing commas are excluded BY DESIGN — a generated `, )`
    // sequence IS that pass's trigger.
    (Engine.shims.collect {
      case t: TextShim if t.name != "trailing-commas" => t
    } :+ ((q: String) => Engine.rewriteDollarQuotes(q)))
      .foldLeft(s)((acc, f) => f(acc))

  property("pure-text shims are the identity on trigger-free statements") =
    Prop.forAll(statement) { s => allPureShims(s) == s }

  property("shims are the identity regardless of paren balance") =
    // the scanners must not corrupt text even when parens do not balance
    // (mid-edit statements reach tryQuery constantly)
    Prop.forAll(statement, Gen.oneOf("(", ")", "((", "))")) { (s, p) =>
      val t = s + " " + p
      allPureShims(t) == t
    }

  property("bindPrepared is the identity on parameter-free statements") =
    // $n and ? inside literals/comments are shielded text, not params —
    // a zero-argument EXECUTE must replay the statement byte-identically
    Prop.forAll(statement) { s => Engine.bindPrepared(s, Nil) == s }

  property("literal rewrite converts exactly the unshielded brackets") =
    // the subscript pass runs first: what reaches the literal pass is
    // only list brackets
    Prop.forAll(ident, ident) { (a, b) =>
      val brackets = (q: String) =>
        Engine.rewriteDuckdbLiterals(Engine.rewriteSubscripts(q))
      brackets(s"SELECT [$a, $b]") == s"SELECT array($a, $b)" &&
        brackets(s"SELECT $a[$b]") == s"SELECT graft_subscript($a, $b)"
    }
}
