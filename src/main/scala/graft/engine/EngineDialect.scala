package graft.engine

import org.apache.spark.sql.SparkSession

import EngineLex.{codeMask, finds}

/** The dialect shims of the statement router (A6): DuckDB spellings
  * Spark's parser lacks, rewritten over the `codeMask` lexing of the
  * statement before `spark.sql` sees it. Each shim's place in the
  * pipeline is its place in `Engine.shims`. Mixed into [[Engine]];
  * split out by file only — every member is `Engine.<member>` to the
  * package and the specs. */
private[engine] trait EngineDialect {
  this: Engine.type =>

  /** `USING SAMPLE n% | n PERCENT [(method)]` → Spark
    * `TABLESAMPLE (n PERCENT)` — DuckDB's sampling clause, recognized by
    * the two-word `USING SAMPLE` anchor (a join's USING is always
    * followed by a paren, never SAMPLE). The method name in parens drops
    * — both engines then sample probabilistically — but two shapes
    * REFUSE rather than silently diverge: a SEED (DuckDB's seed promises
    * reproducibility and Spark's TABLESAMPLE SQL has nowhere to honor
    * it; the sample values can never match across engines anyway —
    * `c_sample_hash` documents the portable hash-sampling discipline),
    * and a ROWS count, including DuckDB's bare `USING SAMPLE 10`
    * default-unit form (Spark's `TABLESAMPLE (n ROWS)` is a
    * DETERMINISTIC head-LIMIT — a user's 'sample 1000 rows for stats'
    * would silently become 'first 1000 rows', a bias worse than any
    * value mismatch; `ORDER BY rand() LIMIT n` is the faithful
    * spelling, suggested in the refusal). PERCENT-only passthrough is
    * the documented contract. */
  private[engine] val rewriteUsingSample: TextShim = TextShim("using-sample",
      finds("SAMPLE"), Scope.Query) { lx =>
    val s = lx.s
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      val ch = s.charAt(i)
      if (lx.code(i) && s.regionMatches(true, i, "USING", 0, 5) &&
          (i == 0 || s.charAt(i - 1).isWhitespace)) {
        var j = i + 5
        while (j < s.length && s.charAt(j).isWhitespace) j += 1
        if (s.regionMatches(true, j, "SAMPLE", 0, 6)) {
          var k = j + 6
          while (k < s.length && s.charAt(k).isWhitespace) k += 1
          val numStart = k
          while (k < s.length &&
            (s.charAt(k).isDigit || s.charAt(k) == '.')) k += 1
          require(k > numStart, s"USING SAMPLE needs a sample size")
          val num = s.substring(numStart, k)
          def refuseRows(): Nothing = throw new IllegalArgumentException(
            s"USING SAMPLE $num ROWS is not routed: Spark's TABLESAMPLE" +
              s" ($num ROWS) is a deterministic head-LIMIT, not a random" +
              s" sample — use USING SAMPLE p PERCENT, or ORDER BY rand()" +
              s" LIMIT $num for a random row count")
          var unit: String = null
          if (k < s.length && s.charAt(k) == '%') { unit = "PERCENT"; k += 1 }
          else {
            while (k < s.length && s.charAt(k).isWhitespace) k += 1
            if (s.regionMatches(true, k, "PERCENT", 0, 7)) {
              unit = "PERCENT"; k += 7
            } else refuseRows() // explicit ROWS or DuckDB's bare
              // default-unit form (`USING SAMPLE 10` means 10 rows)
          }
          var m = k
          while (m < s.length && s.charAt(m).isWhitespace) m += 1
          if (m < s.length && s.charAt(m) == '(') {
            val close = s.indexOf(')', m)
            require(close > m, "unbalanced sample-method parens")
            require(!s.substring(m, close).contains(","),
              "USING SAMPLE with a seed is not routed (Spark's" +
                " TABLESAMPLE cannot honor the reproducibility promise)")
            k = close + 1
          }
          sb.append(s"TABLESAMPLE ($num $unit)")
          i = k
        } else { sb.append(ch); i += 1 }
      } else { sb.append(ch); i += 1 }
    }
    sb.toString
  }

  /** `* EXCLUDE (cols)` → `* EXCEPT (cols)`: DuckDB and Spark spell the
    * same star modifier with different keywords, so the shim is a
    * keyword swap — anchored to a preceding `*` (outside string
    * literals), which is exactly the one position where EXCLUDE is the
    * modifier and not an identifier. Applies inside subqueries too (the
    * anchor makes it position-safe, unlike the statement-level routes).
    * `* REPLACE (…)` routes separately (`rewriteStarReplace` below —
    * schema-aware, statement-level); this shim runs first so a combined
    * `* EXCLUDE (…) REPLACE (…)` reaches it in EXCEPT spelling. */
  private[engine] val rewriteStarExclude: TextShim = TextShim("star-exclude",
      finds("EXCLUDE"), Scope.Query) {
    // the swap needs the full modifier shape `* EXCLUDE (` — a bare
    // `* exclude` or `* exclude_fee` is multiplication by a column
    // (underscore continues an identifier; '(' is what separates the
    // modifier from arithmetic on a column named exclude)
    _.replaceInCode(("(?i)\\*(\\p{javaWhitespace}*)EXCLUDE" +
      "(?![\\p{javaLetterOrDigit}_])(?=\\p{javaWhitespace}*\\()").r)(
      m => Some("*" + m.group(1) + "EXCEPT"))
  }

  /** ASOF [LEFT] JOIN — DuckDB's time-series join statement: for each
    * left row, match the right row with equal keys and the greatest
    * right-timestamp at-or-before the left's (for `>=`; the other three
    * inequality directions mirror). Spark has no ASOF JOIN, so the
    * rewrite is the INTERVAL-JOIN formulation — the scalable translation:
    * the right relation gains each row's validity interval end
    * (`lead(ts) OVER (PARTITION BY keys ORDER BY ts)` — `lag` for
    * forward joins), and ASOF becomes an ordinary equi-join on the keys
    * with the inequality plus the interval bound as join filters; Spark
    * plans the hash/sort-merge join the equi-keys admit, with no
    * window over the left side and no nested loop. Exactly one
    * inequality conjunct is required; every ON reference must be
    * qualified (the canonical typed form); the right relation is a table
    * name or a parenthesized subquery with an alias. A bare `SELECT *`
    * list swaps to `* EXCEPT` of the helper column. Ties among right
    * rows on (keys, ts) leave one arbitrary winner — DuckDB's pick is
    * likewise unspecified. Statement-level, first ASOF only (a second
    * fails loudly in Spark's parser). */
  private[engine] val rewriteAsofJoin: TextShim = TextShim("asof-join",
    finds("^(SELECT|WITH)\\b", "ASOF"), Scope.Query)(asofJoin)

  private def asofJoin(lx: Lexed): String = {
    val s = lx.s
    // find the first top-level ASOF actually followed by [LEFT] JOIN —
    // a column or alias legally NAMED asof (`SELECT ts AS asof …`) is
    // not a join and must leave the statement untouched
    var ai = -1
    var leftJoin = false
    var p = 0
    def skipWs(): Unit =
      while (p < s.length && s.charAt(p).isWhitespace) p += 1
    def word(kw: String): Boolean =
      s.regionMatches(true, p, kw, 0, kw.length) &&
        (p + kw.length == s.length ||
          !s.charAt(p + kw.length).isLetterOrDigit) && {
          p += kw.length; skipWs(); true
        }
    var searchFrom = 0
    while (ai < 0) {
      val rel = firstTopLevelKeyword(s.substring(searchFrom), Seq("ASOF"))
        .getOrElse(return s)
      val cand = searchFrom + rel
      p = cand + 4
      skipWs()
      val l = word("LEFT")
      if (word("JOIN")) { ai = cand; leftJoin = l }
      else searchFrom = cand + 4
    }
    // right relation: identifier or balanced parenthesized subquery
    val bStart = p
    if (p < s.length && s.charAt(p) == '(') {
      val close = lx.closeOf(p)
      require(close >= 0, "unbalanced parens in ASOF JOIN right relation")
      p = close + 1
    } else {
      while (p < s.length && (s.charAt(p).isLetterOrDigit ||
        s.charAt(p) == '_' || s.charAt(p) == '.')) p += 1
      require(p > bStart, "ASOF JOIN needs a right relation")
    }
    val bRel = s.substring(bStart, p)
    skipWs()
    word("AS") // optional
    var bAlias: String = null
    if (!s.regionMatches(true, p, "ON", 0, 2) ||
        (p + 2 < s.length && s.charAt(p + 2).isLetterOrDigit)) {
      val aStart = p
      while (p < s.length && (s.charAt(p).isLetterOrDigit ||
        s.charAt(p) == '_')) p += 1
      bAlias = s.substring(aStart, p)
      skipWs()
    }
    if (bAlias == null) {
      require(!bRel.startsWith("("),
        "ASOF JOIN subquery relation needs an alias")
      bAlias = bRel
    }
    require(word("ON"),
      "ASOF JOIN needs an ON condition — the USING shorthand is not" +
        " routed (its merged output columns have no Spark spelling):" +
        " write ON l.k = r.k AND l.ts >= r.ts and project explicitly")
    val tail = s.substring(p)
    val condEnd = firstTopLevelKeyword(tail,
      Seq("WHERE", "GROUP", "HAVING", "WINDOW", "QUALIFY", "ORDER",
        "LIMIT", "OFFSET", "UNION", "INTERSECT", "EXCEPT"))
      .getOrElse(tail.length)
    val cond = tail.substring(0, condEnd).trim
    val rest = tail.substring(condEnd)
    // classify conjuncts: qualified equi-keys + exactly one inequality
    def stripQ(r: String): (String, String) = {
      val t0 = r.trim
      t0.split('.') match {
        case Array(q, c) =>
          (q.trim.stripPrefix("`").stripSuffix("`"),
            c.trim.stripPrefix("`").stripSuffix("`"))
        case _ => throw new IllegalArgumentException(
          s"routed ASOF JOIN needs qualified ON references: $r")
      }
    }
    def findOp(c: String): (String, Int) = {
      val lc = codeMask(c)
      val i = (0 until c.length).find(i => lc.code(i) && lc.depth(i) == 0 &&
        "<>=".indexOf(c.charAt(i)) >= 0).getOrElse(
        throw new IllegalArgumentException(
          s"ASOF ON conjunct has no comparison: $c"))
      if (c.charAt(i) != '=' && i + 1 < c.length && c.charAt(i + 1) == '=')
        (c.charAt(i) + "=", i)
      else (c.charAt(i).toString, i)
    }
    val bKeys = Seq.newBuilder[String]
    var ineq: Option[(String, String, String)] = None // (bTs, aTsText, dirOp)
    splitOnKeyword(cond, "AND").map(_.trim).filter(_.nonEmpty).foreach {
      conj =>
        val (op, idx) = findOp(conj)
        val lhs = conj.substring(0, idx)
        val rhs = conj.substring(idx + op.length)
        if (op == "=") {
          val (lq, lc) = stripQ(lhs); val (rq, rc) = stripQ(rhs)
          val bSide =
            if (lq.equalsIgnoreCase(bAlias)) lc
            else if (rq.equalsIgnoreCase(bAlias)) rc
            else throw new IllegalArgumentException(
              s"ASOF ON equi conjunct must involve $bAlias: $conj")
          bKeys += bSide
        } else {
          require(ineq.isEmpty,
            s"routed ASOF JOIN supports exactly one inequality: $cond")
          val (lq, lc) = stripQ(lhs); val (rq0, _) = stripQ(rhs)
          // normalize so the LEFT side of dirOp is the A expression
          val (bTs, aTs, dirOp) =
            if (rq0.equalsIgnoreCase(bAlias)) (stripQ(rhs)._2, lhs.trim, op)
            else if (lq.equalsIgnoreCase(bAlias))
              (lc, rhs.trim, op match {
                case ">" => "<"
                case "<" => ">"
                case ">=" => "<="
                case "<=" => ">="
              })
            else throw new IllegalArgumentException(
              s"ASOF inequality must involve $bAlias: $conj")
          ineq = Some((bTs, aTs, dirOp))
        }
    }
    val (bTs, aTs, dirOp) = ineq.getOrElse(
      throw new IllegalArgumentException(
        "ASOF JOIN needs an inequality conjunct"))
    val backward = dirOp == ">=" || dirOp == ">"
    val adjFn = if (backward) "lead" else "lag"
    val part =
      if (bKeys.result().isEmpty) ""
      else s"PARTITION BY ${bKeys.result().mkString(", ")} "
    val newB =
      s"""(SELECT __graft_b.*, $adjFn($bTs) OVER (
         |    ${part}ORDER BY $bTs) AS __graft_adj
         |  FROM $bRel __graft_b) $bAlias"""
        .stripMargin
    // the interval bound closes the match to the single nearest row
    val bound = dirOp match {
      case ">=" => s"($bAlias.__graft_adj IS NULL OR" +
        s" $aTs < $bAlias.__graft_adj)"
      case ">" => s"($bAlias.__graft_adj IS NULL OR" +
        s" $aTs <= $bAlias.__graft_adj)"
      case "<=" => s"($bAlias.__graft_adj IS NULL OR" +
        s" $aTs > $bAlias.__graft_adj)"
      case "<" => s"($bAlias.__graft_adj IS NULL OR" +
        s" $aTs >= $bAlias.__graft_adj)"
    }
    val joinKw = if (leftJoin) "LEFT JOIN" else "JOIN"
    val head0 = s.substring(0, ai)
    // a star in the select list would leak the helper column: scrub a
    // bare `*` (also mid-list: `*, extra`) and the b-side qualified
    // `bAlias.*` with the matching EXCEPT form; other items (a-side
    // stars, explicit columns) cannot reference the helper
    val head = {
      val si = firstTopLevelKeyword(head0, Seq("SELECT"))
      val fi = firstTopLevelKeyword(head0, Seq("FROM"))
      (si, fi) match {
        case (Some(x), Some(y)) =>
          val afterSel = head0.substring(x + "SELECT".length, y)
          val (distinctKw, list) =
            if (afterSel.trim.matches("(?is)^DISTINCT\\b.*"))
              (" DISTINCT", afterSel.trim.substring("DISTINCT".length))
            else ("", afterSel)
          // bare or bAlias-qualified stars hide the helper (modifier
          // items included); a-side-qualified stars cannot reference it
          // and must NOT gain an EXCEPT for a column they don't have
          val items = weaveStarHelper(
            splitTopLevel(list, ','), "__graft_adj",
            q => q.isEmpty || q.equalsIgnoreCase(bAlias))
          head0.substring(0, x) + "SELECT" + distinctKw + " " +
            items.mkString(", ") + " " + head0.substring(y)
        case _ => head0
      }
    }
    s"$head$joinKw $newB ON $cond AND $bound$rest"
  }

  /** `* [EXCEPT (cols)] REPLACE (expr AS col, …)` — DuckDB's REPLACE
    * star modifier (EXCLUDE has already shimmed to EXCEPT by the time
    * this runs). Spark has no REPLACE spelling, so the modifier desugars
    * to what it is DEFINED as: the source relation's columns in
    * declaration order, minus the EXCEPT list, with each REPLACE
    * expression substituted in place under its original name. The
    * column order comes from the FROM relation's ANALYZED schema —
    * obtained by analyzing `SELECT * FROM <from-part>` (with the
    * statement's WITH prefix, so CTE sources resolve), which plans
    * nothing and reads nothing. Statement-level, first star-REPLACE
    * item only; a REPLACE target absent from the schema refuses. */
  /** Weave a helper column into each star item's hidden set: an
    * existing `* EXCLUDE/EXCEPT (…)` list gains it as one more member,
    * a bare star gains ` EXCEPT (helper)` right after the star (the
    * position the downstream star-modifier parsers expect — so a bare
    * `* REPLACE (…)` becomes `* EXCEPT (helper) REPLACE (…)`, the
    * grammar rewriteStarReplace consumes). Only items whose star
    * QUALIFIER satisfies `qualifierOk` ("" = unqualified) are touched —
    * an other-qualified star must not gain an EXCEPT for a column its
    * relation doesn't have. The one weaving implementation behind both
    * the DISTINCT ON and ASOF helper scrubs. */
  private[engine] def weaveStarHelper(items: Seq[String], helper: String,
      qualifierOk: String => Boolean): Seq[String] = {
    val modRe =
      "(?is)^(?:([A-Za-z_]\\w*)\\s*\\.\\s*)?(\\*\\s*(?:EXCLUDE|EXCEPT)\\s*\\()(.*)$".r
    val starRe = "(?s)^(?:([A-Za-z_]\\w*)\\s*\\.\\s*)?\\*(.*)$".r
    items.map(_.trim).map {
      case modRe(q, starPre, rest) if qualifierOk(Option(q).getOrElse("")) =>
        Option(q).map(_ + ".").getOrElse("") + starPre + helper + ", " + rest
      case starRe(q, rest) if qualifierOk(Option(q).getOrElse("")) =>
        Option(q).map(_ + ".").getOrElse("") + s"* EXCEPT ($helper)" + rest
      case item => item
    }
  }

  /** (selectIdx, fromIdx, distinctKw, select items) of a SELECT…FROM
    * statement, when both keywords sit at top level in order — the
    * shared front half of the select-list rewrites (REPLACE, COLUMNS). */
  private[engine] def selectListParts(
      s: String): Option[(Int, Int, String, Seq[String])] =
    for {
      si <- firstTopLevelKeyword(s, Seq("SELECT"))
      fi <- firstTopLevelKeyword(s, Seq("FROM")) if fi > si
    } yield {
      val afterSel = s.substring(si + "SELECT".length, fi)
      val (distinctKw, list) =
        if (afterSel.trim.matches("(?is)^DISTINCT\\b.*"))
          (" DISTINCT", afterSel.trim.substring("DISTINCT".length))
        else ("", afterSel)
      (si, fi, distinctKw, splitTopLevel(list, ',').map(_.trim))
    }

  /** ANALYZED schema of `SELECT * FROM <the statement's FROM part>` —
    * pure analysis, no job runs; the statement's WITH prefix rides
    * along so CTE sources resolve. The shared schema probe behind the
    * REPLACE and COLUMNS desugars. */
  private[engine] def fromPartSchema(spark: SparkSession, s: String, si: Int,
      fi: Int): org.apache.spark.sql.types.StructType = {
    val tailFromFrom = s.substring(fi + "FROM".length)
    val cut = firstTopLevelKeyword(tailFromFrom,
      Seq("WHERE", "GROUP", "HAVING", "WINDOW", "QUALIFY", "ORDER",
        "LIMIT", "OFFSET", "UNION", "INTERSECT", "EXCEPT"))
      .getOrElse(tailFromFrom.length)
    val probe = s.substring(0, si) + "SELECT * FROM " +
      tailFromFrom.substring(0, cut)
    sql(spark, probe).schema
  }

  private[engine] def rewriteStarReplace(
      spark: SparkSession, s: String): String = {
    val (si, fi, distinctKw, items) =
      selectListParts(s).getOrElse(return s)
    val idx = items.indexWhere(it => it.startsWith("*") &&
      "(?is)^.*\\bREPLACE\\s*\\(.*$".r.matches(it))
    if (idx < 0) return s
    val item = items(idx)
    // parse the item: '*' [EXCEPT (cols)] REPLACE (assignments)
    val itemLx = codeMask(item)
    var p = 1
    def skipWs(): Unit =
      while (p < item.length && item.charAt(p).isWhitespace) p += 1
    def balanced(): String = {
      require(p < item.length && item.charAt(p) == '(',
        s"malformed star modifier: $item")
      val start = p
      p = itemLx.closeOf(start) + 1
      require(p > 0, s"unbalanced parens in star modifier: $item")
      item.substring(start + 1, p - 1)
    }
    skipWs()
    val excluded: Set[String] =
      if (item.regionMatches(true, p, "EXCEPT", 0, 6)) {
        p += 6; skipWs()
        val cols = balanced()
        skipWs()
        splitTopLevel(cols, ',').map(_.trim
          .stripPrefix("`").stripSuffix("`").toLowerCase).toSet
      } else Set.empty
    require(item.regionMatches(true, p, "REPLACE", 0, 7),
      s"malformed star modifier: $item")
    p += 7; skipWs()
    val assignments = splitTopLevel(balanced(), ',').map { a =>
      val parts = splitOnKeyword(a, "AS")
      require(parts.size >= 2,
        s"REPLACE item must be <expr> AS <col>: $a")
      val name = parts.last.trim.stripPrefix("`").stripSuffix("`")
      // a cast's AS is parenthesized, so the LAST top-level AS is the
      // alias separator; the text before it (minus the 2-char keyword)
      // is the expression
      val exprText =
        a.substring(0, a.length - parts.last.length - "AS".length).trim
      (name.toLowerCase, (name, exprText))
    }.toMap
    skipWs()
    require(p >= item.length,
      s"unexpected trailing text in star modifier: $item")
    val schema = fromPartSchema(spark, s, si, fi)
    assignments.keys.foreach { n =>
      require(schema.fields.exists(_.name.equalsIgnoreCase(n)),
        s"REPLACE target $n is not a column of the source relation")
    }
    val expanded = schema.fields.toSeq
      .filterNot(f => excluded.contains(f.name.toLowerCase))
      .map { f =>
        assignments.get(f.name.toLowerCase) match {
          case Some((_, e)) => s"$e AS ${Sql.sqlIdentifier(f.name)}"
          case None => Sql.sqlIdentifier(f.name)
        }
      }
    val newItems = items.updated(idx, expanded.mkString(", "))
    s.substring(0, si) + "SELECT" + distinctKw + " " +
      newItems.mkString(", ") + " " + s.substring(fi)
  }

  /** `expr [NOT] SIMILAR TO 'pattern'` → `expr [NOT] RLIKE
    * '^(?:pattern)$'` — the SQL-standard regex predicate (DuckDB/
    * Postgres surface). SIMILAR TO matches the ENTIRE string, RLIKE
    * searches, so the pattern anchors inside a non-capturing group.
    * Only the literal-pattern form routes (the anchoring happens in
    * text); a computed pattern, or a literal that never closes, stays
    * for Spark's parser to refuse loudly. */
  private[engine] val rewriteSimilarTo: TextShim = TextShim("similar-to",
      finds("\\bSIMILAR\\s+TO\\b"))(lx => anchoredRlike(lx, identity) { i =>
    val m = similarTo.pattern.matcher(lx.s).region(i, lx.s.length)
    Option.when(m.lookingAt())(m.end)
  })
  private val similarTo = "(?i)SIMILAR\\p{javaWhitespace}+TO".r

  /** `<op> 'pattern'` → `RLIKE '^(?:<regex(pattern)>)$'`, a whole-string
    * match, for each operator that starts a word in code; `opEnd(i)`
    * gives the index just past an operator starting at i. The literal
    * must close, or the text stays for Spark's parser to refuse. */
  private def anchoredRlike(lx: Lexed, regex: String => String)(
      opEnd: Int => Option[Int]): String = {
    val s = lx.s
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      val lit = if (lx.code(i) && (i == 0 || s.charAt(i - 1).isWhitespace))
        opEnd(i).flatMap(lx.literalAfter) else None
      lit match {
        case Some((body, end)) =>
          sb.append("RLIKE '^(?:").append(regex(body)).append(")$'")
          i = end
        case None => sb.append(s.charAt(i)); i += 1
      }
    }
    sb.toString
  }

  /** `<q1> UNION [ALL] BY NAME <q2> …` — DuckDB's column-name union
    * (missing columns NULL-fill; output columns in first-appearance
    * order). Spark SQL has no BY NAME set operator (only the DataFrame
    * `unionByName`), so the statement desugars against the branches'
    * ANALYZED schemas — the same no-job probe REPLACE/COLUMNS use: each
    * branch becomes a positional SELECT over the union of names, with
    * `CAST(NULL AS <type>)` for columns the branch lacks (the type
    * taken from the first branch that has the column, matching DuckDB's
    * left-to-right binding). Chains of the SAME operator are supported;
    * mixing ALL and DISTINCT by-name steps in one chain refuses (the
    * rewrite would have to invent an association DuckDB resolves by
    * precedence). The trailing ORDER BY/LIMIT of the last branch
    * applies to the whole union, as in plain SQL. */
  private[engine] def rewriteUnionByName(
      spark: SparkSession, s: String): String = {
    // top-level UNION tokens whose following tokens read
    // [ALL|DISTINCT] BY NAME — collect (start, endExclusive, isAll)
    case class Hit(start: Int, end: Int, all: Boolean)
    val hits = allTopLevelKeyword(s, "UNION").flatMap { i =>
      var j = i + "UNION".length
      def skipWs(): Unit =
        while (j < s.length && s.charAt(j).isWhitespace) j += 1
      def take(kw: String): Boolean = {
        skipWs()
        val ok = s.regionMatches(true, j, kw, 0, kw.length) &&
          (j + kw.length == s.length ||
            !s.charAt(j + kw.length).isLetterOrDigit)
        if (ok) j += kw.length
        ok
      }
      val all = take("ALL")
      if (!all) take("DISTINCT") // explicit DISTINCT reads as not-ALL
      if (take("BY") && take("NAME")) Some(Hit(i, j, all)) else None
    }
    if (hits.isEmpty) return s
    require(hits.map(_.all).distinct.length == 1,
      "UNION BY NAME chains mixing ALL and DISTINCT are not routed —" +
        " parenthesize the sub-unions")
    val all = hits.head.all
    // branch texts between the operators
    val cuts = hits.map(h => (h.start, h.end))
    val branches0 = (Seq(0) ++ cuts.map(_._2))
      .zip(cuts.map(_._1) ++ Seq(s.length))
      .map { case (from, to) => s.substring(from, to).trim }
    // the final branch's ORDER BY/LIMIT tail belongs to the whole union
    val (lastBody, tail) = {
      val last = branches0.last
      firstTopLevelKeyword(last, Seq("ORDER", "LIMIT", "OFFSET")) match {
        case Some(c) => (last.substring(0, c).trim, " " + last.substring(c))
        case None => (last, "")
      }
    }
    val branches = branches0.init :+ lastBody
    branches.foreach { b =>
      require(b.matches("(?is)^(SELECT|FROM|VALUES|WITH)\\b.*"),
        s"UNION BY NAME branch must be a query — got: ${b.take(40)}")
    }
    // analyzed schemas (no job); sql() applies the full router to each
    // branch, so path tables / dialect spellings inside them resolve
    val schemas = branches.map(b => sql(spark, b).schema)
    val unionCols = scala.collection.mutable.LinkedHashMap
      .empty[String, (String, String)] // lower -> (first spelling, type)
    schemas.foreach(_.fields.foreach { f =>
      if (!unionCols.contains(f.name.toLowerCase))
        unionCols(f.name.toLowerCase) = (f.name, f.dataType.sql)
    })
    val op = if (all) " UNION ALL " else " UNION "
    val rewritten = branches.zip(schemas).zipWithIndex.map {
      case ((b, schema), idx) =>
        val items = unionCols.values.map { case (name, tpe) =>
          schema.fields.find(_.name.equalsIgnoreCase(name)) match {
            case Some(f) =>
              s"${Sql.sqlIdentifier(f.name)} AS ${Sql.sqlIdentifier(name)}"
            case None =>
              s"CAST(NULL AS $tpe) AS ${Sql.sqlIdentifier(name)}"
          }
        }.mkString(", ")
        s"SELECT $items FROM (\n$b\n) __graft_ubn$idx"
    }.mkString(op)
    rewritten + tail
  }

  /** `date_diff('part', …)` / `datediff('part', …)` →
    * `graft_date_diff('part', …)` — DuckDB's boundary-counting
    * date_diff takes its part as a STRING, but Spark's grammar owns
    * `date_diff(unit, a, b)` (the timestampdiff rule rejects a quoted
    * unit before any function-registry lookup), so the compat builder
    * (`DuckdbCompat`, `graft_date_diff`) is reachable only by renaming
    * the call in text. ONLY calls whose first argument opens with a
    * string literal rename — Spark's own `date_diff(DAY, a, b)` and
    * 2-arg `datediff(end, start)` pass through untouched, so no Spark
    * spelling changes meaning. Comment/quote-aware via the shared
    * scanner. */
  private[engine] val rewriteDateDiff: TextShim = TextShim("date-diff",
      finds("\\bDATE_?DIFF\\s*\\(")) { lx =>
    val s = lx.s
    val out = new StringBuilder
    var i = 0
    while (i < s.length) {
      val nameLen =
        if (lx.code(i) && s.regionMatches(true, i, "DATE_DIFF", 0, 9)) 9
        else if (lx.code(i) && s.regionMatches(true, i, "DATEDIFF", 0, 8)) 8
        else 0
      val isCall = nameLen > 0 &&
        (i == 0 || (!s.charAt(i - 1).isLetterOrDigit &&
          s.charAt(i - 1) != '_' && s.charAt(i - 1) != '.')) && {
          var j = i + nameLen
          while (j < s.length && s.charAt(j).isWhitespace) j += 1
          j < s.length && s.charAt(j) == '(' && {
            var k = j + 1
            while (k < s.length && s.charAt(k).isWhitespace) k += 1
            k < s.length && s.charAt(k) == '\''
          }
        }
      if (isCall) {
        out.append("graft_date_diff")
        i += nameLen
      } else { out.append(s.charAt(i)); i += 1 }
    }
    out.toString
  }

  /** Translate a glob pattern to the regex it means: `*` → `.*`, `?`
    * → `.`, `[...]` passes as a class with leading `!` as negation,
    * every other regex metacharacter escaped. */
  private[engine] def globToRegex(g: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < g.length) {
      g.charAt(i) match {
        case '*' => sb.append(".*")
        case '?' => sb.append('.')
        case '[' =>
          val j = g.indexOf(']', i + 1)
          if (j < 0) sb.append("\\[") // unclosed class: literal bracket
          else {
            val body0 = g.substring(i + 1, j)
            val body =
              if (body0.startsWith("!")) "^" + body0.substring(1) else body0
            sb.append('[').append(body).append(']')
            i = j
          }
        case c if "\\.^$+{}()|".indexOf(c) >= 0 =>
          sb.append('\\').append(c)
        case c => sb.append(c)
      }
      i += 1
    }
    sb.toString
  }

  /** `expr [NOT] GLOB 'pattern'` → `expr [NOT] RLIKE '^(?:regex)$'` —
    * DuckDB's (SQLite-lineage) glob predicate: case-sensitive
    * whole-string match. Literal patterns only (the translation is
    * textual); a computed pattern, or a literal that never closes,
    * stays for Spark's parser to refuse loudly. */
  private[engine] val rewriteGlob: TextShim = TextShim("glob",
      finds("\\bGLOB\\b"))(lx => anchoredRlike(lx, globToRegex) { i =>
    val s = lx.s
    Option.when(s.regionMatches(true, i, "GLOB", 0, 4) &&
      (i + 4 >= s.length || s.charAt(i + 4).isWhitespace))(i + 4)
  })

  /** `struct_pack(k := v, …)` → `named_struct('k', v, …)` — DuckDB's
    * functional struct constructor (the call-form twin of the `{…}`
    * literal). The `:=` named-argument syntax has no Spark analog, so
    * the shim rewrites each top-level `name := expr` argument into the
    * quoted-name/value pair named_struct takes. Nested calls rewrite
    * innermost-first via recursion on the argument text. A non-`:=`
    * argument refuses — silently positional-packing would mis-name
    * every field. */
  private[engine] val rewriteStructPack: TextShim = TextShim("struct-pack",
      finds("\\bSTRUCT_PACK\\s*\\(")) { lx =>
    val s = lx.s
    val out = new StringBuilder
    var i = 0
    while (i < s.length) {
      val isCall = lx.code(i) &&
        s.regionMatches(true, i, "STRUCT_PACK", 0, 11) &&
        (i == 0 || !s.charAt(i - 1).isLetterOrDigit &&
          s.charAt(i - 1) != '_') && {
          var j = i + 11
          while (j < s.length && s.charAt(j).isWhitespace) j += 1
          j < s.length && s.charAt(j) == '('
        }
      if (isCall) {
        val j = s.indexOf('(', i + 11)
        val end = lx.closeOf(j)
        require(end > 0, "unbalanced parens in struct_pack(...)")
        val args = rewriteStructPack(s.substring(j + 1, end)) // nested
        val pairs = splitTopLevel(args, ',').map { a =>
          val idx = a.indexOf(":=")
          require(idx > 0,
            s"struct_pack arguments must be name := value — got: $a")
          val name = a.substring(0, idx).trim
            .stripPrefix("`").stripSuffix("`")
          s"${Sql.sqlStringLiteral(name)}, ${a.substring(idx + 2).trim}"
        }
        out.append("named_struct(").append(pairs.mkString(", ")).append(")")
        i = end + 1
      } else { out.append(s.charAt(i)); i += 1 }
    }
    out.toString
  }

  /** Whether the `[` at `i` opens a subscript or a slice, not a list
    * literal: DuckDB's grammar reads a bracket that IMMEDIATELY follows
    * an identifier, `)`, `]`, `}`, a backtick identifier or a string
    * literal as one — except the `ARRAY[` constructor. */
  private def isSubscript(lx: Lexed, i: Int): Boolean = {
    val prev = if (i > 0) lx.s.charAt(i - 1) else ' '
    (prev.isLetterOrDigit || prev == '_' || ")]}`'".contains(prev)) &&
      keywordBefore(lx, i, "ARRAY") < 0
  }

  /** Start of the constructor keyword `kw` that owns the bracket at
    * `at` — `ARRAY[…]`, `MAP {…}`, whitespace allowed between — or -1
    * when there is none. */
  private def keywordBefore(lx: Lexed, at: Int, kw: String): Int = {
    val s = lx.s
    var k = at
    while (k > 0 && lx.code(k - 1) && s.charAt(k - 1).isWhitespace) k -= 1
    val st = k - kw.length
    def word(c: Char) = c.isLetterOrDigit || "_.`".contains(c)
    if (st >= 0 && lx.code(st) && s.regionMatches(true, st, kw, 0, kw.length) &&
        (st == 0 || !word(s.charAt(st - 1)))) st
    else -1
  }

  /** DuckDB's subscripts and slices — `x[i]`, `x[a:b]`, `x[a:]`,
    * `x[:b]`, `x[:]` — each become ONE call on their base, which the
    * analyzer resolves by the base's type (`DuckdbCompat`): the text
    * cannot tell a list from a string, a struct or a map.
    *   x[i]   → graft_subscript(x, i)
    *   x[a:b] → list_slice(x, a, b), an omitted a spelled 1 and an
    *            omitted b -1
    * The base walks left over identifier chains, call, subscript and
    * literal groups, quoted identifiers and one string literal
    * (`exprStartLeft`). An empty `[]` (a type suffix) stays; step
    * slices refuse. Runs before the literal pass, so every bracket that
    * pass sees opens a list. */
  private[engine] val rewriteSubscripts: TextShim = TextShim("subscripts",
    _.contains("["))(subscripts)

  private def subscripts(lx: Lexed): String = {
    val s = lx.s
    var i = 0
    while (i < s.length) {
      if (lx.code(i) && s.charAt(i) == '[' && isSubscript(lx, i)) {
        val end = lx.balance(i, '[', ']')
        val content = if (end > 0) s.substring(i + 1, end).trim else ""
        val baseStart = if (content.isEmpty) i else exprStartLeft(lx, i)
        if (baseStart < i) {
          val base = s.substring(baseStart, i)
          val call = sliceParts(content) match {
            case None => s"graft_subscript($base, $content)"
            case Some((lo, hi)) =>
              s"list_slice($base, ${lo.getOrElse("1")}, ${hi.getOrElse("-1")})"
          }
          return rewriteSubscripts(
            s.substring(0, baseStart) + call + s.substring(end + 1))
        }
      }
      i += 1
    }
    s
  }

  /** DuckDB's collection LITERAL syntax → Spark's constructor
    * functions: `[e1, …]` and `ARRAY[e1, …]` → `array(e1, …)`,
    * `{'k': v, …}` → `named_struct('k', v, …)`, and `MAP {k: v, …}` →
    * `graft_map(k, v, …)`, Spark's pairwise map under a name that
    * `DuckdbCompat`'s two-list `map` dispatch leaves alone. It runs
    * after `subscripts`, which has made every adjacent bracket a call,
    * so each bracket left opens a list.
    * Colons swap to argument commas only at a struct's or a map's own
    * nesting level; `::` cast syntax (valid in both engines) passes
    * through. Pure text rewrite, idempotent (the output holds no
    * bracket or brace), applied AFTER the table-function route so a
    * `read_parquet([…])` list is consumed as paths, not expressions. */
  private[engine] val rewriteDuckdbLiterals: TextShim = TextShim("literals",
      s => s.exists(c => c == '[' || c == '{')) { lx =>
    val s = lx.s
    val sb = new StringBuilder
    // stack of open constructs: 'L' list, 'S' struct, 'M' map, 'P' paren
    val stack = scala.collection.mutable.Stack.empty[Char]
    // drop the ARRAY/MAP keyword that owns the bracket at i, if any:
    // the keyword and the blanks after it were copied to sb verbatim
    def dropKeyword(i: Int, kw: String): Boolean = {
      val k = keywordBefore(lx, i, kw)
      if (k >= 0) sb.setLength(sb.length - (i - k))
      k >= 0
    }
    var i = 0
    while (i < s.length) {
      val ch = s.charAt(i)
      if (!lx.code(i)) sb.append(ch)
      else ch match {
        case '(' => stack.push('P'); sb.append(ch)
        case ')' =>
          if (stack.headOption.contains('P')) stack.pop()
          sb.append(ch)
        case '[' =>
          dropKeyword(i, "ARRAY")
          stack.push('L'); sb.append("array(")
        case '{' =>
          val map = dropKeyword(i, "MAP")
          stack.push(if (map) 'M' else 'S')
          sb.append(if (map) "graft_map(" else "named_struct(")
        case ']' | '}' =>
          if (stack.headOption.exists(_ != 'P')) stack.pop()
          sb.append(')')
        case ':' if i + 1 < s.length && s.charAt(i + 1) == ':' =>
          sb.append("::"); i += 1 // cast syntax, both engines
        case ':' if stack.headOption.exists(c => c == 'S' || c == 'M') =>
          sb.append(',')
        case c => sb.append(c)
      }
      i += 1
    }
    sb.toString
  }

  /** Apply the Query-scope shims to parenthesized SUBQUERY bodies — CTE
    * definitions, derived tables, IN/EXISTS/scalar subqueries: any
    * depth-1 paren group whose content opens like a query runs through
    * `rewriteQueryBody`, innermost groups first via recursion; the
    * Token-scope shims then read the bodies in the statement's one
    * scan. This is what lets a QUALIFY / DISTINCT ON / FROM-first /
    * ASOF sit inside `WITH c AS (…)` or a derived table, not only at
    * statement level. Groups that do not open like a query (function
    * arguments, column lists) are descended for nested groups but
    * otherwise untouched. */
  private[engine] def rewriteSubqueryBodies(
      spark: SparkSession, lx: Lexed): String = {
    val s = lx.s
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      if (lx.code(i) && s.charAt(i) == '(' && lx.depth(i) == 0) {
        val j = lx.closeOf(i)
        if (j < 0) { // unbalanced — leave for Spark's parser
          sb.append(s.substring(i)); i = s.length
        } else {
          val content = s.substring(i + 1, j)
          val pivotRe = "(?is)^PIVOT\\s+(.+)$".r
          val unpivotRe = "(?is)^UNPIVOT\\s+(.+)$".r
          val inner = content.trim match {
            case pivotRe(rest) =>
              // DuckDB allows the PIVOT STATEMENT as a table expression
              // — substitute the SQL it desugars to in place
              rewriteQueryBody(spark, pivotStatementSql(spark, rest))
            case unpivotRe(rest) =>
              rewriteQueryBody(spark, unpivotStatementSql(rest))
            case q if q.matches("(?is)^(SELECT|WITH|VALUES|FROM)\\b.*") =>
              rewriteQueryBody(spark, content)
            case _ if content.contains('(') =>
              rewriteSubqueryBodies(spark, codeMask(content))
            case _ => content
          }
          sb.append('(').append(inner).append(')')
          i = j + 1
        }
      } else { sb.append(s.charAt(i)); i += 1 }
    }
    sb.toString
  }

  /** `COLUMNS('regex')` — DuckDB's regex column selector (its signature
    * star-expression sugar). Spark has no analog, so the call desugars
    * against the FROM relation's ANALYZED schema — the same no-job probe
    * REPLACE uses: each select-list item containing exactly one
    * COLUMNS('re') call expands to one item per matching column in
    * declaration order (unanchored regex search, DuckDB's semantics),
    * with the call text replaced by the column identifier — so a
    * wrapped form like `max(COLUMNS('re'))` expands to one aggregate
    * per column, as DuckDB defines it. A regex matching nothing
    * refuses (DuckDB errors too). Statement-level, select-list items
    * only (the lambda/EXCLUDE variants of COLUMNS are not routed). */
  private[engine] def rewriteColumnsFn(
      spark: SparkSession, s: String): String = {
    val (si, fi, distinctKw, items) =
      selectListParts(s).getOrElse(return s)
    val colRe = "(?is)^(.*?)\\bCOLUMNS\\s*\\(\\s*'([^']*)'\\s*\\)(.*)$".r
    // COLUMNS(*) / COLUMNS(* EXCLUDE (a, b)) — the star form (round 19):
    // every source column, minus an EXCLUDE list resolved (and spelled
    // back) against the analyzed schema, absent names refusing loudly.
    // EXCEPT is accepted too: the star-EXCLUDE keyword shim runs
    // EARLIER in the pipeline and has already re-spelled the modifier
    // by the time this pass reads the item.
    val starRe = ("(?is)^(.*?)\\bCOLUMNS\\s*\\(\\s*\\*\\s*" +
      "(?:(?:EXCLUDE|EXCEPT)\\s*\\(([^)]*)\\)\\s*)?\\)(.*)$").r
    if (!items.exists(i => colRe.matches(i) || starRe.matches(i))) return s
    lazy val schema = fromPartSchema(spark, s, si, fi)
    def onePerItem(item: String, pre: String, post: String): Unit =
      require(!"(?is)^.*\\bCOLUMNS\\s*\\(.*$".r.matches(pre + post),
        s"one COLUMNS(...) call per select item: $item")
    val newItems = items.flatMap {
      case item @ colRe(pre, re, post) =>
        onePerItem(item, pre, post)
        val rx = re.r
        val matched = schema.fields.toSeq
          .filter(f => rx.findFirstIn(f.name).isDefined)
        require(matched.nonEmpty,
          s"COLUMNS('$re') matches no column of the source relation")
        matched.map(f => pre + Sql.sqlIdentifier(f.name) + post)
      case item @ starRe(pre, excl, post) =>
        onePerItem(item, pre, post)
        val excluded = Option(excl).toSeq.flatMap(_.split(',').toSeq)
          .map(_.trim.stripPrefix("`").stripSuffix("`")).filter(_.nonEmpty)
        excluded.foreach(x =>
          require(schema.fields.exists(_.name.equalsIgnoreCase(x)),
            s"COLUMNS(* EXCLUDE (...)): $x is not a column of the" +
              " source relation"))
        val matched = schema.fields.toSeq.filterNot(f =>
          excluded.exists(_.equalsIgnoreCase(f.name)))
        require(matched.nonEmpty,
          "COLUMNS(* EXCLUDE (...)) excludes every source column")
        matched.map(f => pre + Sql.sqlIdentifier(f.name) + post)
      case item => Seq(item)
    }
    s.substring(0, si) + "SELECT" + distinctKw + " " +
      newItems.mkString(", ") + " " + s.substring(fi)
  }

  /** QUALIFY — the filter-on-window-results clause (DuckDB/Snowflake).
    * Spark has no QUALIFY, so a statement carrying one at top level
    * rewrites to the form it is sugar for: the predicate joins the
    * select list as a boolean item (window functions are legal there,
    * and Spark's lateral column aliases let it reference rank aliases
    * from the same list), the whole head becomes a subquery filtered on
    * that item, and the helper column drops via `* EXCEPT`. The ORDER
    * BY/LIMIT tail stays outside, after the filter — QUALIFY's clause
    * order. DISTINCT heads route too: DuckDB's clause order is window →
    * QUALIFY → DISTINCT, so the DISTINCT moves to the OUTER projection
    * (filter inside, dedup outside — `c_sql_qualify_distinct`); a
    * WITH-headed DISTINCT ON shape refuses loudly (stripping only the
    * DISTINCT keyword would corrupt it). A set-op head fails loudly at
    * analysis (the helper column unbalances the branches) — never
    * silently mis-filters. */
  private[engine] val rewriteQualify: TextShim = TextShim("qualify",
    // query statements only: a QUALIFY inside CREATE VIEW … AS SELECT
    // would wrap the DDL in a SELECT — leave non-queries to Spark's
    // parser (its error names the unexpected clause)
    finds("^(SELECT|WITH)\\b", "QUALIFY"), Scope.Query) { lx =>
    val s = lx.s
    firstTopLevelKeyword(s, Seq("QUALIFY")) match {
      case None => s
      case Some(qi) =>
        val head = s.substring(0, qi).trim
        val after = s.substring(qi + "QUALIFY".length)
        val cut = firstTopLevelKeyword(after, Seq("ORDER", "LIMIT", "OFFSET"))
          .getOrElse(after.length)
        val pred = after.substring(0, cut).trim
        val trailing = after.substring(cut).trim
        val si = firstTopLevelKeyword(head, Seq("SELECT")).getOrElse(
          throw new IllegalArgumentException(
            s"QUALIFY without a SELECT head: $head"))
        val fi = firstTopLevelKeyword(head, Seq("FROM")).getOrElse(
          throw new IllegalArgumentException(
            s"QUALIFY without a FROM clause: $head"))
        require(fi > si, "malformed QUALIFY statement")
        // a DISTINCT head: DuckDB's clause order is window → QUALIFY →
        // DISTINCT, so the dedup moves OUTSIDE the filter — the inner
        // query computes the list + predicate per source row, the
        // filtered result deduplicates at the outer level
        val afterSel = head.substring(si + "SELECT".length, fi)
        val isDistinct = afterSel.trim.matches("(?is)^DISTINCT\\b.*")
        require(!afterSel.trim.matches("(?is)^DISTINCT\\s+ON\\b.*"),
          "QUALIFY over a WITH-headed DISTINCT ON is not routed —" +
            " move the DISTINCT ON into its own CTE")
        val innerHead =
          if (!isDistinct) head.substring(0, fi)
          else head.substring(0, si) + "SELECT " +
            afterSel.trim.substring("DISTINCT".length).trim + " "
        val innerText =
          innerHead + s", ($pred) AS __graft_q " + head.substring(fi)
        val outerSel = if (isDistinct) "SELECT DISTINCT" else "SELECT"
        s"""$outerSel * EXCEPT (__graft_q) FROM (
           |$innerText
           |) __graft_qual WHERE __graft_q $trailing""".stripMargin
    }
  }

  /** Dollar-quoted strings — `$$…$$` / `$tag$…$tag$` (DuckDB/Postgres) →
    * standard single-quoted literals with `'` doubled. This runs FIRST,
    * on the raw statement, because dollar-quoted content may contain
    * `'` characters that would desynchronize `codeMask` (and with it
    * every routing keyword scan) if left in place. Disambiguation from
    * prepared-statement parameters follows both grammars' rule: an
    * opener is `$` + optional identifier TAG + `$` with nothing between
    * — `$1` (digit after `$`) and `$name` (no closing `$`) never match.
    * The closer is the identical tag; `$$` inside a `$tag$` body stays
    * literal. NOTE the A12 script splitter deliberately does NOT learn
    * dollar quotes — like the reference's lexer (App.tsx:69-135), it
    * would split a `;` inside `$$…$$`; per-statement conversion here
    * matches what the reference surface can actually carry. */
  private[engine] def rewriteDollarQuotes(s: String): String = {
    if (!s.contains("$")) return s
    val openerRe = "^\\$([A-Za-z_]\\w*)?\\$".r
    // the lexing up to the FIRST code-position opener is exact (nothing
    // before it is dollar-quoted); the text after its closer re-lexes
    val lx = codeMask(s)
    (0 until s.length).iterator
      .filter(i => lx.code(i) && s.charAt(i) == '$')
      .flatMap(i => openerRe.findFirstIn(s.substring(i)).map(i -> _))
      .nextOption() match {
      case None => s
      case Some((i, tag)) =>
        val bodyStart = i + tag.length
        val close = s.indexOf(tag, bodyStart)
        require(close >= 0,
          s"unterminated dollar-quoted string opened with $tag")
        s.substring(0, i) +
          Sql.sqlStringLiteral(s.substring(bodyStart, close)) +
          rewriteDollarQuotes(s.substring(close + tag.length))
    }
  }

  /** Trailing commas (DuckDB tolerates them in select lists, GROUP BY,
    * and collection literals) — a comma whose next code token is `)`,
    * `]`, `}`, end-of-statement, or the FROM keyword is syntax Spark
    * rejects and no valid Spark statement contains, so dropping it is
    * semantics-free at every nesting depth. Comments between the comma
    * and the boundary are preserved. */
  private[engine] val rewriteTrailingCommas: TextShim = TextShim(
      "trailing-commas", _.contains(","), Scope.Query) { lx =>
    val s = lx.s
    def comment(j: Int) = lx.shield(j) == '-' || lx.shield(j) == '/'
    val drop = new Array[Boolean](s.length)
    var i = 0
    while (i < s.length) {
      if (lx.code(i) && s.charAt(i) == ',') {
        var j = i + 1
        while (j < s.length && (comment(j) || s.charAt(j).isWhitespace)) j += 1
        val trailing = j >= s.length || s.charAt(j) == ')' ||
          s.charAt(j) == ']' || s.charAt(j) == '}' ||
          (s.regionMatches(true, j, "FROM", 0, 4) &&
            (j + 4 >= s.length ||
              !(s.charAt(j + 4).isLetterOrDigit || s.charAt(j + 4) == '_')))
        if (trailing) drop(i) = true
      }
      i += 1
    }
    if (!drop.contains(true)) s
    else {
      val sb = new StringBuilder
      var k = 0
      while (k < s.length) { if (!drop(k)) sb.append(s.charAt(k)); k += 1 }
      sb.toString
    }
  }

  /** Python-style lambda syntax (`lambda x: expr`, `lambda a, b: expr`
    * — DuckDB ≥ 1.3's preferred spelling) → the arrow form both engines'
    * higher-order functions take (`x -> expr`, `(a, b) -> expr`). The
    * single following `:` converts; `::` casts never match. */
  private[engine] val rewriteLambdaSyntax: TextShim = TextShim(
      "lambda-syntax", finds("\\bLAMBDA\\b"))(_.replaceInCode(lambdaRe) { m =>
    val params = m.group(1).split(",").map(_.trim)
    Some(if (params.length == 1) s"${params.head} ->"
      else params.mkString("(", ", ", ") ->"))
  })
  private val lambdaRe =
    "(?is)\\blambda\\s+([A-Za-z_]\\w*(?:\\s*,\\s*[A-Za-z_]\\w*)*)\\s*:(?!:)".r

  // Aggregates where DuckDB permits ORDER BY but the result cannot
  // depend on it — the clause simply drops.
  private[engine] val aggOrderInsensitive = Set(
    "sum", "count", "avg", "mean", "min", "max", "stddev", "stddev_samp",
    "stddev_pop", "variance", "var_samp", "var_pop", "bit_and", "bit_or",
    "bit_xor", "bool_and", "bool_or", "median", "mode", "product",
    "approx_count_distinct", "kurtosis", "skewness", "entropy", "sem",
    "corr", "covar_pop", "covar_samp", "geomean", "favg", "fsum", "kahan_sum")
  private[engine] val aggOrderRewritable = Set(
    "string_agg", "listagg", "group_concat", "first", "any_value",
    "arbitrary", "last", "array_agg", "list", "collect_list")

  /** DuckDB's inline ORDER BY inside aggregate calls —
    * `agg(args ORDER BY keys)` — which Spark's grammar rejects. Per
    * family:
    *   - order-insensitive aggregates (sum/count/avg/…) drop the clause;
    *   - string_agg/listagg/group_concat move it to Spark 4's standard
    *     `WITHIN GROUP (ORDER BY …)` clause verbatim (multi-key, DESC,
    *     and DISTINCT all supported there — measured);
    *   - first/any_value/arbitrary → `min_by(arg, key)` (DESC →
    *     max_by); last is the mirror; multi-key wraps the keys in a
    *     struct (struct ordering = lexicographic). min_by/max_by skip
    *     NULL keys, which IS DuckDB's ASC NULLS LAST / DESC NULLS
    *     FIRST-avoiding default — an explicit non-default NULLS
    *     ordering refuses;
    *   - array_agg/list → sorted-collect: collect structs of
    *     (keys, value), array_sort, project the value back out
    *     (DESC → reverse); ties break by the VALUE field (deterministic)
    *     where DuckDB's tie order is input order (nondeterministic
    *     under parallelism) — callers wanting cross-engine stability
    *     use keys that determine the value, as anywhere else;
    *   - mixed ASC/DESC directions on the by-key families and DISTINCT
    *     outside string_agg refuse loudly rather than silently
    *     diverging.
    * Enclosing-call detection is paren-depth-based, so subquery and
    * window ORDER BYs (enclosing paren has no aggregate name before it
    * — `OVER (`, `FROM (`, `IN (`) never match, at any nesting. */
  private[engine] val rewriteAggOrderBy: TextShim = TextShim("agg-order-by",
    finds("\\bORDER\\s+BY\\b"))(aggOrderBy)

  private def aggOrderBy(lx: Lexed): String = {
    val s = lx.s
    var i = 0
    while (i < s.length) {
      val isOrder = lx.code(i) && lx.depth(i) >= 1 &&
        s.regionMatches(true, i, "ORDER", 0, 5) &&
        (i == 0 || !(s.charAt(i - 1).isLetterOrDigit || s.charAt(i - 1) == '_')) && {
          var k = i + 5
          (k < s.length && s.charAt(k).isWhitespace) && {
            while (k < s.length && s.charAt(k).isWhitespace) k += 1
            s.regionMatches(true, k, "BY", 0, 2) &&
              (k + 2 >= s.length ||
                !(s.charAt(k + 2).isLetterOrDigit || s.charAt(k + 2) == '_'))
          }
        }
      if (isOrder) {
        val d = lx.depth(i)
        var o = i - 1
        while (o >= 0 &&
          !(lx.code(o) && s.charAt(o) == '(' && lx.depth(o) == d - 1))
          o -= 1
        var p = o - 1
        while (p >= 0 && s.charAt(p).isWhitespace) p -= 1
        val nameEnd = p + 1
        while (p >= 0 && (s.charAt(p).isLetterOrDigit || s.charAt(p) == '_'))
          p -= 1
        val fn = s.substring(p + 1, nameEnd).toLowerCase
        if (fn.nonEmpty &&
            (aggOrderInsensitive(fn) || aggOrderRewritable(fn))) {
          val c = lx.closeOf(o)
          require(c >= 0, s"unbalanced parens in $fn(...)")
          val byIdx = s.toLowerCase.indexOf("by", i + 5)
          val argsText = s.substring(o + 1, i).trim
          val keysText = s.substring(byIdx + 2, c).trim
          val replacement = aggOrderRewrite(fn, argsText, keysText)
          return rewriteAggOrderBy(
            s.substring(0, p + 1) + replacement + s.substring(c + 1))
        }
      }
      i += 1
    }
    s
  }

  /** One ordered-aggregate call's rewritten text — see rewriteAggOrderBy. */
  private[engine] def aggOrderRewrite(
      fn: String, argsText: String, keysText: String): String = {
    if (aggOrderInsensitive(fn)) return s"$fn($argsText)"
    if (Set("string_agg", "listagg", "group_concat")(fn))
      return s"$fn($argsText) WITHIN GROUP (ORDER BY $keysText)"
    val distinct = argsText.matches("(?is)^DISTINCT\\b.*")
    require(!distinct,
      s"$fn(DISTINCT … ORDER BY …) is not routed: DISTINCT changes" +
        " which row carries each value — deduplicate in a subquery," +
        " or use string_agg/listagg where DISTINCT routes")
    // parse key specs: expr [ASC|DESC] [NULLS FIRST|LAST], uniform direction
    val keySpecRe =
      "(?is)^(.*?)(?:\\s+(ASC|DESC))?(?:\\s+NULLS\\s+(FIRST|LAST))?\\s*$".r
    val specs = splitTopLevel(keysText, ',').map(_.trim).map {
      case keySpecRe(e, dir, nulls) =>
        val desc = dir != null && dir.equalsIgnoreCase("DESC")
        val defaultNulls = if (desc) "FIRST" else "LAST"
        // min_by/max_by skip NULL keys entirely, which matches DuckDB's
        // DEFAULT null order (nulls sort away from the picked end); an
        // explicit non-default NULLS cannot be honored there, and the
        // sorted-collect family makes no promise about null KEYS at all
        // — both refuse instead of silently diverging
        require(nulls == null ||
            (Set("first", "any_value", "arbitrary", "last")(fn) &&
              nulls.equalsIgnoreCase(defaultNulls)),
          s"$fn(… ORDER BY … NULLS $nulls) is not routed here — filter" +
            " NULL keys explicitly or drop the NULLS clause")
        (e.trim, desc)
    }
    val dirs = specs.map(_._2).distinct
    require(dirs.size == 1,
      s"$fn(… ORDER BY …) with mixed ASC/DESC keys is not routed —" +
        " uniform direction only (negate a numeric key to flip one)")
    val desc = dirs.head
    val keyExpr =
      if (specs.size == 1) specs.head._1
      else specs.map(_._1).mkString("struct(", ", ", ")")
    fn match {
      case "first" | "any_value" | "arbitrary" =>
        if (desc) s"max_by($argsText, $keyExpr)"
        else s"min_by($argsText, $keyExpr)"
      case "last" =>
        if (desc) s"min_by($argsText, $keyExpr)"
        else s"max_by($argsText, $keyExpr)"
      case "array_agg" | "list" | "collect_list" =>
        val pairs = specs.zipWithIndex
          .map { case ((e, _), ix) => s"'o$ix', $e" }.mkString(", ")
        val sorted =
          s"array_sort(collect_list(named_struct($pairs, 'v', $argsText)))"
        val ordered = if (desc) s"reverse($sorted)" else sorted
        s"transform($ordered, s -> s.v)"
      case other =>
        throw new IllegalArgumentException(
          s"$other(… ORDER BY …) is not routed: the inline aggregate" +
            " ORDER BY routes for string_agg/listagg/group_concat," +
            " first/last/any_value, array_agg/list, and all" +
            " order-insensitive aggregates")
    }
  }

  // DuckDB-only type names Spark's parser rejects (or reads as another
  // type), mapped for CAST/`::` sites and CREATE TABLE column lists.
  // Names both grammars share (INTEGER, BIGINT, DOUBLE, DATE, DECIMAL,
  // VARCHAR(n), …) pass through untouched.
  private[engine] val duckOnlyTypes = Map(
    "VARCHAR" -> "STRING", "TEXT" -> "STRING", "BPCHAR" -> "STRING",
    "TIMESTAMPTZ" -> "TIMESTAMP", "DATETIME" -> "TIMESTAMP",
    "INT1" -> "TINYINT", "INT2" -> "SMALLINT", "INT4" -> "INT",
    "INT8" -> "BIGINT", "SIGNED" -> "INT",
    "UTINYINT" -> "SMALLINT", "USMALLINT" -> "INT",
    "UINTEGER" -> "BIGINT", "UBIGINT" -> "DECIMAL(20,0)",
    "HUGEINT" -> "DECIMAL(38,0)",
    "FLOAT4" -> "FLOAT", "REAL" -> "FLOAT", "FLOAT8" -> "DOUBLE",
    "BOOL" -> "BOOLEAN", "LOGICAL" -> "BOOLEAN",
    "BYTEA" -> "BINARY", "BLOB" -> "BINARY")

  /** Map one type text (name, optional `(args)`, optional `[]` list
    * suffixes) through `duckOnlyTypes`; `TYPE[]` becomes
    * `ARRAY<TYPE>` (a DuckDB-only spelling at any base type). Unknown
    * names pass through for Spark's parser to judge. */
  private[engine] def mapTypeText(t0: String): String = {
    val t = t0.trim
    val m = "(?s)^([A-Za-z_]\\w*)\\s*(\\([^)]*\\))?\\s*((?:\\[\\s*\\])*)\\s*$".r
    t match {
      case m(name, args, brackets) =>
        // a parenthesized-args form (VARCHAR(10), DECIMAL(p,s)) is
        // Spark-valid spelling — only the BARE DuckDB-only names map
        val base =
          if (args == null && duckOnlyTypes.contains(name.toUpperCase))
            duckOnlyTypes(name.toUpperCase)
          else name + Option(args).getOrElse("")
        val dims = if (brackets == null) 0 else brackets.count(_ == '[')
        (1 to dims).foldLeft(base)((acc, _) => s"ARRAY<$acc>")
      case _ => t
    }
  }

  /** DuckDB type names at the two unambiguous type sites — after `::`
    * and as the AS-operand of CAST/TRY_CAST — mapped via
    * `duckOnlyTypes` (`x::VARCHAR` is THE DuckDB to-string idiom and a
    * Spark parse error bare). Aliases legally named text/varchar
    * elsewhere never match: only these two grammar positions are
    * types. */
  private val castCall = finds("\\bCAST\\s*\\(")
  private[engine] val rewriteDuckCastTypes: TextShim = TextShim("cast-types",
      s => s.contains("::") || castCall(s)) { lx =>
    val s = lx.s
    // pass 1: `:: TYPE [()] [[]...]`
    val colonRe =
      "::\\s*([A-Za-z_]\\w*)(\\s*\\([^)]*\\))?((?:\\s*\\[\\s*\\])*)".r
    val s1 = lx.replaceInCode(colonRe) { m =>
      val whole = m.matched.substring(2)
      Some(mapTypeText(whole)).filter(_ != whole.trim).map("::" + _)
    }
    // pass 2: CAST(expr AS TYPE) / TRY_CAST — the LAST top-level AS
    // inside the call's parens delimits the type
    val lx1 = if (s1 == s) lx else codeMask(s1)
    val castRe = "(?i)\\b(?:TRY_)?CAST\\s*\\(".r
    castRe.findAllMatchIn(s1).find(m => lx1.code(m.start)) match {
      case None => s1
      case Some(m) =>
        val open = s1.indexOf('(', m.start)
        val close = lx1.closeOf(open)
        if (close < 0) s1 // unbalanced mid-edit text — leave it
        else {
          val content = s1.substring(open + 1, close)
          // last top-level AS within the call
          val asRe = "(?i)\\bAS\\b".r
          val lc = codeMask(content)
          val asIdx = asRe.findAllMatchIn(content)
            .filter(x => lc.code(x.start) && lc.depth(x.start) == 0)
            .map(_.start).toSeq.lastOption
          val newContent = asIdx match {
            case Some(i0) =>
              val typeText = content.substring(i0 + 2)
              val mapped = mapTypeText(typeText)
              // the expr side may itself carry casts — recurse
              rewriteDuckCastTypes(content.substring(0, i0)) +
                "AS " + mapped
            case None => rewriteDuckCastTypes(content)
          }
          s1.substring(0, open + 1) + newContent +
            rewriteDuckCastTypes(s1.substring(close))
        }
    }
  }

  /** Strip DuckDB's CTE materialization hints — `WITH x AS [NOT]
    * MATERIALIZED (…)` → `AS (…)`. A pure planner hint: Spark decides
    * CTE reuse itself (and the engine's explicit materialization tool
    * is CREATE TEMP TABLE). */
  private[engine] val rewriteMaterializedCte: TextShim = TextShim(
      "materialized-cte", finds("\\bMATERIALIZED\\b")) {
    _.replaceInCode("(?is)\\bAS\\s+(?:NOT\\s+)?MATERIALIZED\\s*\\(".r)(
      _ => Some("AS ("))
  }

  /** `//` → Spark's ` DIV ` — DuckDB's integer-division operator.
    * Both truncate toward zero ((-7)//2 = -7 DIV 2 = -3, measured), so
    * the operators are the same operation in different spellings. `//`
    * is never SQL comment syntax, and comment/string occurrences are
    * shielded by codeMask. */
  private[engine] val rewriteIntDiv: TextShim = TextShim("int-div",
      _.contains("//")) { lx =>
    val s = lx.s
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      if (lx.code(i) && s.charAt(i) == '/' &&
          i + 1 < s.length && lx.code(i + 1) && s.charAt(i + 1) == '/') {
        sb.append(" DIV "); i += 2
      } else { sb.append(s.charAt(i)); i += 1 }
    }
    sb.toString
  }

  /** The two exponentiation spellings whose Spark reading silently
    * DIVERGES or fails: `^` is POWER in DuckDB but bitwise XOR in
    * Spark — the one operator both grammars parse to DIFFERENT
    * operations — and `**` (DuckDB power) is a Spark parse error. Both
    * refuse loudly naming power(); an engine that computed xor where a
    * migrating script meant exponentiation would be silent wrongness
    * (the regexp-flags precedent). Bitwise xor is DuckDB's xor(a, b)
    * (`DuckdbCompat`), named in the refusal. */
  private[engine] val checkCaretPow: TextShim = TextShim("caret-pow",
      s => s.contains("^") || s.contains("**")) { lx =>
    val s = lx.s
    var i = 0
    while (i < s.length) {
      if (lx.code(i)) {
        if (s.charAt(i) == '*' && i + 1 < s.length &&
            lx.code(i + 1) && s.charAt(i + 1) == '*')
          throw new IllegalArgumentException(
            "** (DuckDB exponentiation) has no Spark operator —" +
              " write power(a, b)")
        if (s.charAt(i) == '^')
          throw new IllegalArgumentException(
            if (i + 1 < s.length && s.charAt(i + 1) == '@')
              "^@ (DuckDB starts-with) has no Spark operator — write" +
                " starts_with(string, prefix)"
            else
              "^ is POWER in DuckDB but bitwise XOR in Spark — the same" +
                " text computes two different things. Write power(a, b)" +
                " for exponentiation, or xor(a, b) for xor")
      }
      i += 1
    }
    s
  }

  /** Default null ORDER parity — DuckDB sorts NULLS LAST by default in
    * BOTH directions (default_null_order='nulls_last', measured);
    * Spark's ASC default is NULLS FIRST. An `ORDER BY x` over a
    * nullable key therefore puts NULLs at OPPOSITE ends — silently.
    * The pass appends `NULLS LAST` to every sort key that carries no
    * explicit NULLS clause and is not DESC (Spark's DESC default IS
    * NULLS LAST — already DuckDB's), in every ORDER BY at every depth:
    * statement-level, subqueries, and window specifications (window
    * default null order is the same setting in DuckDB). `ORDER BY ALL`
    * keeps Spark's expansion untouched. Keys already explicit are
    * untouched, so the pass is idempotent. */
  private[engine] val rewriteOrderByNulls: TextShim = TextShim("nulls-order",
    finds("\\bORDER\\s+BY\\b"))(orderByNulls)

  private def orderByNulls(lx: Lexed): String = {
    val s = lx.s
    val terminators = Seq("LIMIT", "OFFSET", "FETCH", "ROWS", "RANGE",
      "GROUPS", "WINDOW", "UNION", "INTERSECT", "EXCEPT")
    var i = 0
    while (i < s.length) {
      val isOrder = lx.code(i) &&
        s.regionMatches(true, i, "ORDER", 0, 5) &&
        (i == 0 || !(s.charAt(i - 1).isLetterOrDigit || s.charAt(i - 1) == '_')) && {
          var k = i + 5
          (k < s.length && s.charAt(k).isWhitespace) && {
            while (k < s.length && s.charAt(k).isWhitespace) k += 1
            s.regionMatches(true, k, "BY", 0, 2) &&
              (k + 2 >= s.length ||
                !(s.charAt(k + 2).isLetterOrDigit || s.charAt(k + 2) == '_'))
          }
        }
      if (isOrder) {
        val d = lx.depth(i)
        val byIdx = s.toLowerCase.indexOf("by", i + 5)
        val keysStart = byIdx + 2
        // clause end: a ')' closing our depth, a same-depth terminator
        // keyword, or end of text
        var e = keysStart
        var end = -1
        while (end < 0 && e < s.length) {
          if (lx.code(e)) {
            val c = s.charAt(e)
            if (c == ')' && lx.depth(e) == d) end = e
            else if (lx.depth(e) == d &&
              (e == 0 || !(s.charAt(e - 1).isLetterOrDigit ||
                s.charAt(e - 1) == '_')) &&
              terminators.exists(t =>
                s.regionMatches(true, e, t, 0, t.length) &&
                  (e + t.length >= s.length ||
                    !(s.charAt(e + t.length).isLetterOrDigit ||
                      s.charAt(e + t.length) == '_')))) end = e
          }
          e += 1
        }
        if (end < 0) end = s.length
        val span = s.substring(keysStart, end)
        // split keys at same-depth commas (relative depth 0 within span)
        val pieces = splitTopLevel(span, ',')
        val explicitRe = "(?is).*\\bNULLS\\s+(FIRST|LAST)\\s*$"
        val descRe = "(?is).*\\bDESC\\s*$"
        val allRe = "(?is)^\\s*ALL\\s*$"
        // the DESC/NULLS/ALL checks and the insertion point look only
        // at CODE characters: a trailing `-- comment` on a sort key
        // must neither hide an explicit DESC nor swallow the appended
        // clause into the comment (where it would silently parse away)
        var pieceOff = 0
        val masked = pieces.map { p =>
          val base = keysStart + pieceOff
          pieceOff += p.length + 1
          val chars = p.toCharArray
          var j = 0
          while (j < chars.length) {
            if (!lx.code(base + j)) chars(j) = ' '
            j += 1
          }
          (p, new String(chars), base)
        }
        val needsWork = masked.exists { case (_, m, _) =>
          m.trim.nonEmpty && !m.matches(explicitRe) &&
            !m.matches(descRe) && !m.matches(allRe)
        }
        if (needsWork) {
          val fixed = masked.map { case (p, m, base) =>
            if (m.trim.isEmpty || m.matches(explicitRe) ||
              m.matches(descRe) || m.matches(allRe)) p
            else {
              // insert after the LAST code character of the piece, so
              // trailing comments/whitespace stay after the clause
              var last = p.length - 1
              while (last >= 0 &&
                (!lx.code(base + last) || p.charAt(last).isWhitespace))
                last -= 1
              p.substring(0, last + 1) + " NULLS LAST" +
                p.substring(last + 1)
            }
          }.mkString(",")
          return rewriteOrderByNulls(
            s.substring(0, keysStart) + fixed + s.substring(end))
        }
      }
      i += 1
    }
    s
  }

  /** DuckDB/Postgres regex-match operators: `a ~ 'p'` is a FULL match
    * (regexp_full_match — 'abc' ~ 'b' is false, measured), `!~` its
    * negation, and `~~`/`!~~` are LIKE/NOT LIKE. The LIKE pair swaps
    * operator-for-operator (any pattern expression); the regex pair
    * anchors a LITERAL pattern into the RLIKE it means (`'^(?:p)$'`,
    * the SIMILAR TO discipline) and refuses a computed pattern — a
    * partial-match RLIKE would silently differ. A `~` whose right-hand
    * side is not a string literal, or whose left neighbor is not an
    * operand end, stays untouched (Spark's prefix bitwise NOT). */
  private[engine] val rewriteTildeMatch: TextShim = TextShim("tilde-match",
      _.contains("~")) { lx =>
    val s = lx.s
    val sb = new StringBuilder
    var i = 0
    def operandEndBefore(p0: Int): Boolean = {
      var p = p0 - 1
      while (p >= 0 && s.charAt(p).isWhitespace) p -= 1
      p >= 0 && (s.charAt(p).isLetterOrDigit || s.charAt(p) == '_' ||
        s.charAt(p) == '\'' || s.charAt(p) == '`' ||
        s.charAt(p) == ')' || s.charAt(p) == ']')
    }
    while (i < s.length) {
      val ch = s.charAt(i)
      if (lx.code(i) && (ch == '~' || (ch == '!' && i + 1 < s.length &&
          lx.code(i + 1) && s.charAt(i + 1) == '~'))) {
        val neg = ch == '!'
        val tildes = {
          var k = if (neg) i + 1 else i
          var n = 0
          while (k < s.length && lx.code(k) && s.charAt(k) == '~') {
            n += 1; k += 1
          }
          n
        }
        val opEnd = i + (if (neg) 1 else 0) + tildes
        if (tildes == 2) {
          // ~~ / !~~ — LIKE in operator clothes, any pattern expression
          sb.append(if (neg) " NOT LIKE " else " LIKE ")
          i = opEnd
        } else if (tildes == 1 && operandEndBefore(i)) {
          lx.literalAfter(opEnd) match {
            case Some((pat, after)) =>
              sb.append(if (neg) " NOT RLIKE " else " RLIKE ")
                .append("'^(?:").append(pat).append(")$'")
              i = after
            case None =>
              // a pattern literal that never closes stays for Spark's
              // parser to reject, like any unterminated literal
              val unterminated = s.substring(opEnd).trim.startsWith("'")
              if (neg && !unterminated) throw new IllegalArgumentException(
                "!~ with a computed pattern is not routed — write NOT" +
                  " regexp_like(s, concat('^(?:', p, ')$'))")
              else { sb.append(ch); i += 1 } // prefix bitwise NOT
          }
        } else { sb.append(ch); i += 1 }
      } else { sb.append(ch); i += 1 }
    }
    sb.toString
  }

  /** POSITIONAL JOIN refuses: DuckDB zips two relations by ROW ORDER,
    * and row order is not a distributed invariant this engine can
    * promise (a parallel scan's order varies run to run) — silently
    * zipping would pair arbitrary rows. The refusal names the explicit
    * spelling that is order-sound. */
  private[engine] val checkPositionalJoin: TextShim = TextShim(
      "positional-join", finds("\\bPOSITIONAL\\s+JOIN\\b")) { lx =>
    val s = lx.s
    if ("(?is)\\bPOSITIONAL\\s+JOIN\\b".r.findAllMatchIn(s)
        .exists(m => lx.code(m.start)))
      throw new IllegalArgumentException(
        "POSITIONAL JOIN is not routed: row order is not a distributed" +
          " invariant — number each side explicitly with row_number()" +
          " OVER (ORDER BY <stable key>) and join on it")
    s
  }

  /** Day-of-week field parity — DuckDB's `dow` runs Sunday=0..Saturday=6
    * while Spark's runs Sunday=1..Saturday=7 (an off-by-one BOTH
    * grammars accept silently), and DuckDB's `isodow` (Monday=1) is
    * spelled `dayofweek_iso` in Spark. `EXTRACT(dow FROM x)` →
    * `(EXTRACT(dayofweek FROM x) - 1)`, `EXTRACT(isodow FROM x)` →
    * `EXTRACT(dayofweek_iso FROM x)`, and the same two fields through
    * `date_part('…', x)` / `datepart`. */
  private[engine] val rewriteDowField: TextShim = TextShim("dow-field",
      finds("\\b(?:DOW|ISODOW)\\b")) { lx =>
    val s = lx.s
    val extractRe =
      "(?is)\\bEXTRACT\\s*\\(\\s*(DOW|ISODOW)\\s+FROM\\b".r
    val datePartRe =
      "(?is)\\b(?:DATE_PART|DATEPART)\\s*\\(\\s*'(dow|isodow)'\\s*,".r
    val hit = extractRe.findAllMatchIn(s).find(m => lx.code(m.start))
      .map(m => (m, m.group(1).toLowerCase, "extract"))
      .orElse(datePartRe.findAllMatchIn(s).find(m => lx.code(m.start))
        .map(m => (m, m.group(1).toLowerCase, "date_part")))
    hit match {
      case None => s
      case Some((m, field, kind)) =>
        val close = lx.closeOf(s.indexOf('(', m.start))
        require(close >= 0, "unbalanced parens in extract/date_part")
        val call = s.substring(m.start, close + 1)
        // replaceFirst targets the FIELD token — it precedes any column
        // legally named dow/isodow inside the FROM-expression
        val fixedCall =
          if (kind == "extract") {
            if (field == "dow")
              call.replaceFirst("(?is)\\bDOW\\b", "dayofweek")
            else call.replaceFirst("(?is)\\bISODOW\\b", "dayofweek_iso")
          } else call.replaceFirst("(?is)'(dow|isodow)'",
            if (field == "dow") "'dayofweek'" else "'dayofweek_iso'")
        val replaced =
          if (field == "dow") s"($fixedCall - 1)" else fixedCall
        rewriteDowField(
          s.substring(0, m.start) + replaced + s.substring(close + 1))
    }
  }

  /** Split subscript content at its ONE top-level `:` (w.r.t. parens
    * brackets and braces; `::` casts never split) → (lower?, upper?); None
    * when the content is a plain subscript. Step slices (two colons)
    * refuse. */
  private[engine] def sliceParts(
      content: String): Option[(Option[String], Option[String])] = {
    val lc = codeMask(content)
    var pd = 0; var bd = 0
    val colons = scala.collection.mutable.Buffer.empty[Int]
    var i = 0
    while (i < content.length) {
      if (lc.code(i)) {
        val c = content.charAt(i)
        if (c == '(') pd += 1 else if (c == ')') pd -= 1
        else if (c == '[' || c == '{') bd += 1
        else if (c == ']' || c == '}') bd -= 1
        else if (c == ':' && pd == 0 && bd == 0) {
          if (i + 1 < content.length && content.charAt(i + 1) == ':' &&
              lc.code(i + 1)) i += 1 // '::' cast — skip the pair
          else colons += i
        }
      }
      i += 1
    }
    colons.toSeq match {
      case Seq() => None
      case Seq(k) =>
        val lo = content.substring(0, k).trim
        val hi = content.substring(k + 1).trim
        Some((Option(lo).filter(_.nonEmpty), Option(hi).filter(_.nonEmpty)))
      case _ => throw new IllegalArgumentException(
        s"step slices ([a:b:s]) are not routed — compose slice() with" +
          s" filter() over element indexes instead: [$content]")
    }
  }

  /** Start index of the expression that ENDS (exclusive) at `end` — the
    * subscript/slice base: walks left over identifier chains (`a.b.c`),
    * balanced call, subscript and literal groups (`f(…)`, `m['k']`,
    * `[1, 2]`, `MAP {…}`), quoted identifiers, and one string literal. */
  private[engine] def exprStartLeft(lx: Lexed, end: Int): Int = {
    val s = lx.s
    var j = end
    var done = false
    while (!done && j > 0) {
      val c = s.charAt(j - 1)
      if (!lx.code(j - 1)) {
        // a backtick identifier continues the walk; a string-literal
        // base ('abc'[…]) ends it; anything else ends it, excluded
        val q = lx.shield(j - 1)
        if (q == '`' || q == '\'') {
          var k = j - 1
          while (k > 0 && lx.shield(k - 1) == q) k -= 1
          j = k
          done = q == '\''
        } else done = true
      } else if (c == ')' || c == ']' || c == '}') {
        val open = c match { case ')' => '(' case ']' => '[' case _ => '{' }
        var bal = 0; var k = j - 1; var found = -1
        while (k >= 0 && found < 0) {
          if (lx.code(k)) {
            if (s.charAt(k) == c) bal += 1
            else if (s.charAt(k) == open) { bal -= 1; if (bal == 0) found = k }
          }
          k -= 1
        }
        // a constructor keyword belongs to its group: ARRAY [1], MAP {…}
        val kw = c match {
          case ']' => keywordBefore(lx, found, "ARRAY")
          case '}' => keywordBefore(lx, found, "MAP")
          case _ => -1
        }
        if (found < 0) done = true else j = if (kw >= 0) kw else found
      } else if (c.isLetterOrDigit || c == '_') {
        var k = j - 1
        while (k > 0 && (s.charAt(k - 1).isLetterOrDigit ||
          s.charAt(k - 1) == '_')) k -= 1
        j = k
      } else if (c == '.') {
        j -= 1
      } else done = true
    }
    j
  }

  /** DuckDB list comprehensions — `[expr FOR x IN list [IF cond]]` →
    * the `list_transform` / `list_filter` composition they are sugar
    * for. Runs after `subscripts`, so no bracket left is a subscript,
    * and before the collection-literal pass (which would consume the
    * brackets as an array constructor). Nested comprehensions rewrite
    * via recursion on the pieces. */
  private val forWord = finds("\\bFOR\\b")
  private[engine] val rewriteListComprehension: TextShim = TextShim(
    "list-comprehension", s => s.contains("[") && forWord(s))(listComprehension)

  private def listComprehension(lx: Lexed): String = {
    val s = lx.s
    var i = 0
    while (i < s.length) {
      if (lx.code(i) && s.charAt(i) == '[') {
        val end = lx.balance(i, '[', ']')
        if (end > 0) comprehensionParts(s.substring(i + 1, end)).foreach {
          case (exprT, v, listT, condT) =>
            val list = rewriteListComprehension(listT)
            val expr = rewriteListComprehension(exprT)
            val body = condT match {
              case Some(c) =>
                s"list_transform(list_filter($list, $v ->" +
                  s" ${rewriteListComprehension(c)}), $v -> $expr)"
              case None => s"list_transform($list, $v -> $expr)"
            }
            return rewriteListComprehension(
              s.substring(0, i) + body + s.substring(end + 1))
        }
      }
      i += 1
    }
    s
  }

  /** Split one bracket's content into comprehension parts:
    * (expr, var, list, cond?) when it is `expr FOR var IN list [IF
    * cond]` with FOR/IF at the content's own top level (parens AND
    * brackets); None for a plain list literal. */
  private[engine] def comprehensionParts(
      content: String): Option[(String, String, String, Option[String])] = {
    val lc = codeMask(content)
    def topKw(kw: String, from: Int): Int = {
      var pd = 0; var bd = 0
      var i = from
      while (i < content.length) {
        if (lc.code(i)) {
          val c = content.charAt(i)
          if (c == '(') pd += 1 else if (c == ')') pd -= 1
          else if (c == '[') bd += 1 else if (c == ']') bd -= 1
          else if (pd == 0 && bd == 0 &&
            content.regionMatches(true, i, kw, 0, kw.length) &&
            (i == 0 || content.charAt(i - 1).isWhitespace) &&
            (i + kw.length < content.length &&
              content.charAt(i + kw.length).isWhitespace)) return i
        }
        i += 1
      }
      -1
    }
    val forIdx = topKw("FOR", 0)
    if (forIdx < 0) return None
    val exprT = content.substring(0, forIdx).trim
    val afterFor = content.substring(forIdx + 3)
    val inRe = "(?is)^\\s*([A-Za-z_]\\w*)\\s+IN\\s+(.*)$".r
    afterFor match {
      case inRe(v, rest) =>
        val ifIdx = topKw("IF", content.length - rest.length)
        if (ifIdx < 0) Some((exprT, v, rest.trim, None))
        else {
          val listT = content.substring(
            content.length - rest.length, ifIdx).trim
          Some((exprT, v, listT,
            Some(content.substring(ifIdx + 2).trim)))
        }
      case _ => None
    }
  }

}
