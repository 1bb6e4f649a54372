package graft.engine

import org.scalacheck.{Gen, Prop, Properties}

/** ScalaCheck properties for the A12 splitter (SURVEY §5 item 3). */
object SqlProps extends Properties("Sql") {

  private val simpleStmt: Gen[String] = for {
    n <- Gen.chooseNum(1, 8)
    cs <- Gen.listOfN(n, Gen.alphaNumChar)
  } yield "S" + cs.mkString

  // A statement that may embed quoted semicolons/comments — the splitter
  // must treat it as one unit.
  private val trickyStmt: Gen[String] = for {
    base <- simpleStmt
    decoration <- Gen.oneOf(
      s"$base '; not a split; '",
      s"$base \"quoted;ident\"",
      s"$base /* c; c */",
      s"$base 'it''s'",
      s"$base `semi;colon`",
      s"$base `it's`",
      s"$base `tick``;quote`",
      base)
  } yield decoration

  property("split(join(stmts)) == stmts") =
    Prop.forAll(Gen.listOf(trickyStmt)) { stmts =>
      Sql.splitStatements(stmts.mkString(";")) == stmts.filter(_.nonEmpty)
    }

  property("statementAtPosition always returns a statement of the script") =
    Prop.forAll(Gen.nonEmptyListOf(simpleStmt)) { stmts =>
      val script = stmts.mkString("; ")
      (0 to script.length).forall { pos =>
        stmts.contains(Sql.statementAtPosition(script, pos))
      }
    }

  property("segments cover the whole input contiguously") =
    Prop.forAll(Gen.asciiPrintableStr) { s =>
      val segs = Sql.segments(s)
      segs.head.start == 0 && segs.last.end == s.length &&
        segs.sliding(2).forall {
          case Seq(a, b) => b.start == a.end + 1 // the dropped ';'
          case _ => true
        }
    }
}
