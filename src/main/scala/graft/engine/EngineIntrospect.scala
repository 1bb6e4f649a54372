package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}

import EngineLex.codeMask

/** The catalog/introspection statement routes (A6): ALTER column
  * surgery, CREATE MACRO, PREPARE/EXECUTE, statement-form PIVOT/
  * UNPIVOT, DISTINCT ON, FROM-first, EXPORT/IMPORT DATABASE,
  * PRAGMA/SHOW, and the DESCRIBE/SUMMARIZE surfaces. Mixed into
  * [[Engine]]; split out by file only. */
private[engine] trait EngineIntrospect {
  this: Engine.type =>

  private[engine] val corTableRe =
    ("(?is)^CREATE\\s+OR\\s+REPLACE\\s+TABLE\\s+" +
      "([A-Za-z_][A-Za-z0-9_]*)(.*)$").r

  // CREATE [OR REPLACE] TEMP[ORARY] TABLE [IF NOT EXISTS] <rest> —
  // captured with their trailing whitespace so the re-spelled
  // statement preserves the original spacing
  private[engine] val tempTableRe =
    ("(?is)^CREATE\\s+(OR\\s+REPLACE\\s+)?TEMP(?:ORARY)?\\s+TABLE\\s+" +
      "(IF\\s+NOT\\s+EXISTS\\s+)?(.+)$").r

  // same name alternatives as insertHeadRe: bare, backquoted, or
  // dot-qualified — the PK registry lookup normalizes all three
  private[engine] val insertOrRe =
    ("(?is)^INSERT\\s+OR\\s+(REPLACE|IGNORE)\\s+INTO\\s+" +
      "(`[^`]+`|[A-Za-z_][\\w.]*)\\s*(.+)$").r

  /** Target name of a DROP TABLE — behind the PK-registry retirement
    * in `sql`. */
  private[engine] val dropTableNameRe =
    "(?is)^DROP\\s+TABLE\\s+(?:IF\\s+EXISTS\\s+)?(`[^`]+`|[\\w.]+)".r

  /** Target name of any CREATE VIEW/TABLE statement — the one shared
    * extraction behind the auto-claim release in `sql`. */
  private[engine] val ddlCreateNameRe =
    ("(?is)^CREATE\\s+(?:OR\\s+REPLACE\\s+)?(?:GLOBAL\\s+)?" +
      "(?:TEMP(?:ORARY)?\\s+)?(?:EXTERNAL\\s+)?(?:VIEW|TABLE)\\s+" +
      "(?:IF\\s+NOT\\s+EXISTS\\s+)?(`[^`]+`|[\\w.]+)").r

  /** CREATE TABLE only (never VIEW), with the IF NOT EXISTS marker
    * captured — behind the PK-registry retirement in `sql`: a CREATE
    * VIEW whose name matches a keyed table must NOT erase that table's
    * constraint, and an IF NOT EXISTS no-op on an existing table must
    * leave its registration untouched. */
  private[engine] val ddlCreateTableNameRe =
    ("(?is)^CREATE\\s+(?:OR\\s+REPLACE\\s+)?(?:GLOBAL\\s+)?" +
      "(?:TEMP(?:ORARY)?\\s+)?(?:EXTERNAL\\s+)?TABLE\\s+" +
      "(IF\\s+NOT\\s+EXISTS\\s+)?(`[^`]+`|[\\w.]+)").r

  // ALTER TABLE column surgery (r18): Spark's v1 session-catalog
  // parquet tables support ADD COLUMNS natively but reject DROP/RENAME
  // COLUMN outright ("does not support DROP COLUMN" — verified), so
  // those route through the SAME copy-on-write machinery as the DML
  // statements: one distributed rewrite of the data files with the
  // column dropped/renamed, then the catalog's stored schema follows
  // (`alterTableDataSchema`). A full rewrite is the honest cost of a
  // physical schema change at any scale — DuckDB pays its storage-level
  // equivalent. Only the explicit COLUMN-keyword spellings route;
  // Spark's own ALTER TABLE forms (ADD COLUMNS (...), RENAME TO) pass
  // through untouched.
  private[engine] val alterAddColRe =
    ("(?is)^ALTER\\s+TABLE\\s+([A-Za-z_]\\w*)\\s+ADD\\s+COLUMN\\s+" +
      "(IF\\s+NOT\\s+EXISTS\\s+)?(`[^`]+`|[A-Za-z_]\\w*)\\s+(.+)$").r
  private[engine] val alterDropColRe =
    ("(?is)^ALTER\\s+TABLE\\s+([A-Za-z_]\\w*)\\s+DROP\\s+COLUMN\\s+" +
      "(IF\\s+EXISTS\\s+)?(`[^`]+`|[A-Za-z_]\\w*)\\s*$").r
  private[engine] val alterRenameColRe =
    ("(?is)^ALTER\\s+TABLE\\s+([A-Za-z_]\\w*)\\s+RENAME\\s+COLUMN\\s+" +
      "(`[^`]+`|[A-Za-z_]\\w*)\\s+TO\\s+(`[^`]+`|[A-Za-z_]\\w*)\\s*$").r

  private[engine] def runAlterDropColumn(
      spark: SparkSession, table: String, ifExists: Boolean,
      col0: String): DataFrame = {
    val colName = col0.stripPrefix("`").stripSuffix("`")
    val target = spark.table(table)
    target.schema.fields.find(_.name.equalsIgnoreCase(colName)) match {
      case None if ifExists => spark.emptyDataFrame
      case None => throw new IllegalArgumentException(
        s"ALTER TABLE $table DROP COLUMN $colName: no such column")
      case Some(f) =>
        require(target.schema.fields.length > 1,
          s"ALTER TABLE $table: cannot drop the only column")
        val out = withTablePath(spark, table) { path =>
          Dml.rewriteAllFiles(spark, path)(_.drop(f.name))
        }
        forceDataSchema(spark, table, org.apache.spark.sql.types
          .StructType(target.schema.fields.filterNot(
            _.name.equalsIgnoreCase(colName))))
        out
    }
  }

  /** Point the catalog's stored data schema at what the rewritten files
    * now hold. Goes through the EXTERNAL catalog directly:
    * `SessionCatalog.alterTableDataSchema` refuses any change that
    * removes a field ("We don't support dropping columns yet") — the
    * guard exists because the FILES would disagree, which is exactly
    * what the copy-on-write rewrite has already fixed by the time this
    * runs. */
  private[engine] def forceDataSchema(
      spark: SparkSession, table: String,
      newSchema: org.apache.spark.sql.types.StructType): Unit = {
    val ident = org.apache.spark.sql.catalyst.TableIdentifier(table)
    val meta = spark.sessionState.catalog.getTableMetadata(ident)
    spark.sessionState.catalog.externalCatalog.alterTableDataSchema(
      meta.database, meta.identifier.table, newSchema)
    spark.sessionState.catalog.refreshTable(ident)
    spark.catalog.refreshTable(table)
  }

  private[engine] def runAlterRenameColumn(
      spark: SparkSession, table: String, old0: String,
      new0: String): DataFrame = {
    val oldC = old0.stripPrefix("`").stripSuffix("`")
    val newC = new0.stripPrefix("`").stripSuffix("`")
    val target = spark.table(table)
    val f = target.schema.fields.find(_.name.equalsIgnoreCase(oldC))
      .getOrElse(throw new IllegalArgumentException(
        s"ALTER TABLE $table RENAME COLUMN $oldC: no such column"))
    require(!target.schema.fields.exists(_.name.equalsIgnoreCase(newC)),
      s"ALTER TABLE $table RENAME COLUMN: $newC already exists")
    val out = withTablePath(spark, table) { path =>
      Dml.rewriteAllFiles(spark, path)(_.withColumnRenamed(f.name, newC))
    }
    forceDataSchema(spark, table, org.apache.spark.sql.types.StructType(
      target.schema.fields.map(x =>
        if (x.name.equalsIgnoreCase(oldC)) x.copy(name = newC) else x)))
    out
  }

  // transaction brackets and index DDL — migrating-script surface
  private[engine] val txnNoopRe =
    "(?is)^(?:BEGIN(?:\\s+TRANSACTION)?|COMMIT|END(?:\\s+TRANSACTION)?)\\s*$".r
  private[engine] val rollbackRe = "(?is)^(?:ROLLBACK|ABORT)\\b.*$".r
  private[engine] val createIndexRe =
    ("(?is)^CREATE\\s+(UNIQUE\\s+)?INDEX\\s+(?:IF\\s+NOT\\s+EXISTS\\s+)?" +
      "([A-Za-z_]\\w*)\\s+ON\\b.*$").r
  private[engine] val dropIndexRe =
    "(?is)^DROP\\s+INDEX\\s+(?:IF\\s+EXISTS\\s+)?[A-Za-z_]\\w*\\s*$".r

  // --- CREATE MACRO: DuckDB's SQL abstraction tool ------------------------
  //
  // `CREATE [OR REPLACE] MACRO f(a, b) AS <expr>` is how a DuckDB user
  // names a reusable expression in exactly the saved-script workflow the
  // reference serves (delegated surface, /root/reference/src/duckdb.ts:
  // 46-49). DuckDB macros are UNTYPED templates — parameter types bind at
  // the call site — so the faithful Spark analog is not the typed
  // TEMPORARY FUNCTION DDL (which demands parameter types the statement
  // doesn't carry) but plan-time expansion: the body parses ONCE at
  // CREATE (loud errors at definition, like DuckDB's binder), and a
  // session-registered function builder substitutes each call's argument
  // EXPRESSIONS for the named parameters. The expanded tree inlines into
  // codegen like hand-written SQL — zero invocation cost at any scale,
  // the same property the `c_sql_macro` TEMPORARY FUNCTION twin has.
  // Scalar macros route; `AS TABLE …` refuses naming CREATE VIEW.
  private[engine] val macroStmtRe =
    ("(?is)^CREATE\\s+(OR\\s+REPLACE\\s+)?(?:TEMP(?:ORARY)?\\s+)?" +
      "MACRO\\s+(.+)$").r
  private[engine] val dropMacroRe =
    "(?is)^DROP\\s+MACRO\\s+(IF\\s+EXISTS\\s+)?([A-Za-z_]\\w*)\\s*$".r

  private[engine] def runCreateMacro(
      spark: SparkSession, orReplace: Boolean, rest: String): Unit = {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
    val headRe = "(?s)^([A-Za-z_]\\w*)\\s*\\((.*)$".r
    val (name, afterParen) = rest.trim match {
      case headRe(n, t) => (n, t)
      case other => throw new IllegalArgumentException(
        s"CREATE MACRO needs <name>(<params>) AS <expr> — got: $other")
    }
    // the parameter list's close, read by the lexer over the list with
    // the opening paren that headRe consumed
    val close = codeMask("(" + afterParen).closeOf(0) - 1
    require(close >= 0, s"CREATE MACRO $name: unbalanced parameter list")
    val params = splitTopLevel(afterParen.substring(0, close), ',')
      .map(_.trim).filter(_.nonEmpty)
    params.foreach { p =>
      require(p.matches("[A-Za-z_]\\w*"),
        if (p.contains(":="))
          s"CREATE MACRO $name: parameter defaults ($p) are not routed —" +
            " pass the argument explicitly at each call"
        else s"CREATE MACRO $name: parameters must be bare names — got: $p")
    }
    require(params.map(_.toLowerCase).distinct.length == params.length,
      s"CREATE MACRO $name: duplicate parameter names")
    val asBodyRe = "(?is)^\\s*AS\\s+(.+)$".r
    val body = afterParen.substring(close + 1) match {
      case asBodyRe(b) => b.trim
      case other => throw new IllegalArgumentException(
        s"CREATE MACRO $name: expected AS <expr> after the parameter" +
          s" list — got: ${other.trim}")
    }
    if (body.matches("(?is)^TABLE\\b.*"))
      throw new IllegalArgumentException(
        s"CREATE MACRO $name AS TABLE is not routed — a parameterless" +
          " table macro is CREATE [TEMP] VIEW; a parameterized one has" +
          " no engine analog (inline the query or use a CTE)")
    val registry = spark.sessionState.functionRegistry
    val ident = FunctionIdentifier(name)
    if (!orReplace && registry.functionExists(ident))
      throw new IllegalArgumentException(
        s"CREATE MACRO $name: a function with this name already exists —" +
          " use CREATE OR REPLACE MACRO")
    // parse once at definition time, with the clause shims applied to
    // the body text (the same surface a select-list expression gets)
    val parsed =
      spark.sessionState.sqlParser.parseExpression(rewriteExpr(spark, body))
    val lowerParams = params.map(_.toLowerCase)
    val builder = (args: Seq[Expression]) => {
      require(args.length == params.length,
        s"macro $name expects ${params.length} arguments," +
          s" got ${args.length}")
      val bind = lowerParams.zip(args).toMap
      parsed.transformUp {
        case a: UnresolvedAttribute if a.nameParts.length == 1 &&
            bind.contains(a.nameParts.head.toLowerCase) =>
          bind(a.nameParts.head.toLowerCase)
      }
    }
    registry.registerFunction(ident,
      new ExpressionInfo(getClass.getCanonicalName, name), builder)
  }

  private[engine] def runDropMacro(
      spark: SparkSession, ifExists: Boolean, name: String): Unit = {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val registry = spark.sessionState.functionRegistry
    val ident = FunctionIdentifier(name)
    if (registry.functionExists(ident)) registry.dropFunction(ident)
    else if (!ifExists) throw new IllegalArgumentException(
      s"DROP MACRO $name: no such function — DROP MACRO IF EXISTS to" +
        " ignore")
    ()
  }

  // --- PREPARE / EXECUTE / DEALLOCATE -------------------------------------
  //
  // DuckDB-WASM supports prepared statements; an editor user's
  // parameterized snippets (`PREPARE q AS SELECT … WHERE x > $1;
  // EXECUTE q(5)`) route as driver-side template binding: the statement
  // TEXT is stored per session (EngineState), EXECUTE substitutes `$n`/`?` parameters
  // (quote/comment-aware via the shared codeMask) with the call's
  // argument expressions, and the bound text runs through the normal
  // router — so prepared statements compose with every dialect shim.
  // An honest analog of DuckDB's plan-once-bind-later only in API shape:
  // this engine re-plans per EXECUTE (Catalyst planning is not the
  // bottleneck at any data scale this engine targets).
  private[engine] val prepareRe =
    "(?is)^PREPARE\\s+([A-Za-z_]\\w*)\\s+AS\\s+(.+)$".r
  private[engine] val executeRe =
    "(?is)^EXECUTE\\s+([A-Za-z_]\\w*)\\s*(?:\\((.*)\\))?\\s*$".r
  private[engine] val deallocRe =
    "(?is)^DEALLOCATE\\s+(?:PREPARE\\s+)?([A-Za-z_]\\w*)\\s*$".r
  private[engine] val attachRe = "(?is)^(ATTACH|DETACH)\\b.*$".r

  /** Substitute `$n` (1-based), `?` (positional), or `$name` (named —
    * bound by EXECUTE's `name := expr` arguments) parameters in a
    * prepared statement's text with the argument expressions, outside
    * strings/comments/quoted identifiers. Each substitution is
    * parenthesized so an argument expression never re-associates with
    * surrounding operators. Mixed styles, out-of-range indexes,
    * unbound names, and unused arguments refuse — a silently-ignored
    * parameter is a wrong query. */
  private[engine] def bindPrepared(
      text: String, args: Seq[String],
      named: Map[String, String] = Map.empty): String = {
    val lx = codeMask(text)
    val sb = new StringBuilder
    var i = 0
    var qIdx = 0
    var used = Set.empty[Int]
    var usedNames = Set.empty[String]
    var sawDollar = false
    var sawQ = false
    var sawNamed = false
    while (i < text.length) {
      val ch = text.charAt(i)
      if (lx.code(i) && ch == '$' && i + 1 < text.length &&
          text.charAt(i + 1).isDigit) {
        var j = i + 1
        while (j < text.length && text.charAt(j).isDigit) j += 1
        val n = text.substring(i + 1, j).toInt
        require(n >= 1 && n <= args.length,
          s"prepared statement references $$$n but EXECUTE passed" +
            s" ${args.length} argument(s)")
        sawDollar = true
        used += n
        sb.append('(').append(args(n - 1)).append(')')
        i = j
      } else if (lx.code(i) && ch == '$' && i + 1 < text.length &&
          (text.charAt(i + 1).isLetter || text.charAt(i + 1) == '_')) {
        var j = i + 1
        while (j < text.length && (text.charAt(j).isLetterOrDigit ||
          text.charAt(j) == '_')) j += 1
        val pname = text.substring(i + 1, j).toLowerCase
        require(named.contains(pname),
          s"prepared statement references $$$pname but EXECUTE bound" +
            s" [${named.keys.toSeq.sorted.mkString(", ")}] — bind it" +
            s" with EXECUTE q($pname := ...)")
        sawNamed = true
        usedNames += pname
        sb.append('(').append(named(pname)).append(')')
        i = j
      } else if (lx.code(i) && ch == '?') {
        require(qIdx < args.length,
          s"prepared statement has more ? parameters than the" +
            s" ${args.length} argument(s) EXECUTE passed")
        sawQ = true
        used += qIdx + 1
        sb.append('(').append(args(qIdx)).append(')')
        qIdx += 1
        i += 1
      } else { sb.append(ch); i += 1 }
    }
    require(Seq(sawDollar, sawQ, sawNamed).count(identity) <= 1,
      "prepared statement mixes $n / ? / $name parameter styles")
    require(used.size == args.length,
      s"EXECUTE passed ${args.length} argument(s) but the statement" +
        s" uses ${used.size} parameter(s)")
    require(usedNames == named.keySet,
      s"EXECUTE bound [${named.keySet.toSeq.sorted.mkString(", ")}]" +
        s" but the statement uses" +
        s" [${usedNames.toSeq.sorted.mkString(", ")}]")
    sb.toString
  }

  // PIVOT <table> ON <col> USING <agg>(<operand>) [GROUP BY <cols>]
  // [ORDER BY …] [LIMIT …] — DuckDB's dynamic-pivot STATEMENT (delegated
  // surface; `c_pivot_dynamic` witnesses the DataFrame-side mechanism).
  // The route discovers the pivot-key domain with one DISTINCT pass —
  // the honest, documented cost of DYNAMIC pivot (output SCHEMA depends
  // on data; same bounded collect as `pivotDynamic`) — then emits
  // Spark's native PIVOT clause over the discovered IN list. Null keys
  // drop (DuckDB would emit a "NULL" column); key columns come out
  // value-sorted, as DuckDB orders them. One USING aggregate is
  // supported; without a GROUP BY, DuckDB's primary documented form
  // groups by every column NOT referenced in ON/USING — derived here
  // from the FROM relation's ANALYZED schema (pure analysis, no job —
  // the same probe rewriteStarReplace uses), matching by identifier
  // mention so an expression over a column excludes it from the
  // implicit keys exactly as DuckDB does.
  private[engine] val pivotStmtRe = "(?is)^PIVOT\\s+(.+)$".r

  private[engine] def runPivotStatement(
      spark: SparkSession, rest: String): DataFrame =
    sql(spark, pivotStatementSql(spark, rest))

  /** The routed PIVOT statement as the Spark SQL text it desugars to —
    * separated from execution so a parenthesized `(PIVOT …)` SUBQUERY
    * (DuckDB allows the statement as a table expression) can substitute
    * the text in place via `rewriteSubqueryBodies`. Key-domain
    * discovery runs HERE (one DISTINCT pass at rewrite time — dynamic
    * pivot's documented cost; the output schema depends on data either
    * way). */
  private[engine] def pivotStatementSql(
      spark: SparkSession, rest: String): String = {
    def cutAt(s: String, kw: String): (String, String) =
      firstTopLevelKeyword(s, Seq(kw)) match {
        case Some(i) =>
          (s.substring(0, i).trim, s.substring(i + kw.length).trim)
        case None => throw new IllegalArgumentException(
          s"routed PIVOT needs an $kw clause: PIVOT <table> ON <col>" +
            " USING <agg>(<expr>) [GROUP BY <cols>]")
      }
    val (table, afterOn) = cutAt(rest, "ON")
    val (onExpr, afterUsing) = cutAt(afterOn, "USING")
    val src = sourceItem(table, "__graft_piv_src")
    // the aggregate text runs to GROUP BY if present, else to the
    // ORDER/LIMIT tail, else to the end
    val aggCut = firstTopLevelKeyword(afterUsing,
      Seq("GROUP", "ORDER", "LIMIT", "OFFSET")).getOrElse(afterUsing.length)
    val aggText = afterUsing.substring(0, aggCut).trim
    val afterAgg = afterUsing.substring(aggCut)
    val (groupCols, trailing) =
      firstTopLevelKeyword(afterAgg, Seq("GROUP")) match {
        case Some(0) =>
          val byStripped = afterAgg.replaceFirst("(?is)^GROUP\\s+BY\\s+", "")
          val cut = firstTopLevelKeyword(byStripped,
            Seq("ORDER", "LIMIT", "OFFSET")).getOrElse(byStripped.length)
          (byStripped.substring(0, cut).trim,
            byStripped.substring(cut).trim)
        case _ =>
          // implicit GROUP BY: every source column not mentioned in the
          // ON or USING text (identifier match, case-insensitive). An
          // identifier immediately followed by '(' is a FUNCTION name,
          // not a column mention — a column legally named `count` must
          // stay an implicit key under USING COUNT(v), as DuckDB keeps
          // it
          // an `AS alias` names an OUTPUT column, not a source-column
          // reference — strip alias clauses before the scan so an
          // incidental alias word (`USING COUNT(*) AS total` over a
          // table with a `total` column) never drops a column from the
          // implicit keys; likewise common expression KEYWORDS are not
          // column mentions (an unquoted keyword could not reference a
          // column anyway)
          val scanText = s"$onExpr $aggText"
            .replaceAll("(?is)\\bAS\\s+[A-Za-z_]\\w*", " ")
          val kw = Set("as", "and", "or", "not", "case", "when", "then",
            "else", "end", "null", "true", "false", "is", "in", "like",
            "between", "distinct", "interval")
          val mentioned = "([A-Za-z_][A-Za-z0-9_]*)\\s*(\\()?".r
            .findAllMatchIn(scanText)
            .filter(_.group(2) == null)
            .map(_.group(1).toLowerCase).toSet -- kw
          val schema = sql(spark, s"SELECT * FROM $src").schema
          val implicitCols = schema.fields.toSeq
            .filterNot(f => mentioned.contains(f.name.toLowerCase))
            .map(f => Sql.sqlIdentifier(f.name))
          require(implicitCols.nonEmpty,
            "routed PIVOT without GROUP BY: every source column is" +
              " referenced in ON/USING, leaving no implicit group keys")
          (implicitCols.mkString(", "), afterAgg.trim)
      }
    require(splitTopLevel(aggText, ',').size == 1,
      s"routed PIVOT supports a single USING aggregate — got: $aggText")
    val aggRe = "(?s)^(\\w+)\\s*\\((.*)\\)$".r
    val (fn, operand) = aggText.trim match {
      case aggRe(f, arg) => (f, arg.trim)
      case other => throw new IllegalArgumentException(
        s"routed PIVOT USING must be <agg>(<expr>): $other")
    }
    require(!operand.matches("(?is)^DISTINCT\\b.*"),
      "routed PIVOT does not support DISTINCT aggregates")
    // COUNT(*) has no operand expression; count a constant instead
    val valExpr = if (operand == "*") "1" else operand
    // domain discovery: one DISTINCT pass, bounded by the pivot-key
    // cardinality (the documented dynamic-pivot collect)
    val rawKeys = sql(spark,
      s"SELECT DISTINCT ($onExpr) AS __graft_pk FROM $src")
      .collect().map(_.get(0)).filter(_ != null).toSeq
    // DuckDB orders the generated columns by key VALUE — numerically for
    // numeric keys (1, 2, …, 10), not by their string form (1, 10, 2).
    // Exact decimal comparison (not doubleValue, which ties distinct
    // BIGINTs past 2^53); a non-decimal numeric rendering (NaN/Infinity)
    // falls back to string order.
    val sortedKeys =
      if (rawKeys.forall(_.isInstanceOf[java.lang.Number]))
        try rawKeys.sortBy(v => BigDecimal(v.toString))
        catch { case _: NumberFormatException => rawKeys.sortBy(_.toString) }
      else rawKeys.sortBy(_.toString)
    val keys = sortedKeys.map {
      case s: String => (s, Sql.sqlStringLiteral(s))
      case n: java.lang.Number => (n.toString, n.toString)
      case other => (other.toString, Sql.sqlStringLiteral(other.toString))
    }
    require(keys.nonEmpty, "PIVOT key domain is empty (all-null keys?)")
    val inList = keys.map { case (name, lit) =>
      s"$lit AS ${Sql.sqlIdentifier(name)}"
    }.mkString(", ")
    val pivoted =
      s"""(SELECT $groupCols, ($onExpr) AS __graft_pk,
         |    ($valExpr) AS __graft_val
         |  FROM $src
         |) PIVOT ($fn(__graft_val) FOR __graft_pk IN ($inList))"""
        .stripMargin
    // COUNT parity: DuckDB backfills a missing (group, key) combination
    // with 0 — a count over no rows — while Spark's pivot leaves the
    // absent cell NULL. Coalesce the key columns for COUNT aggregates;
    // the outer projection re-references the group columns by name, so
    // this repair needs them to BE names (expressions would re-compute).
    val outer =
      if (fn.equalsIgnoreCase("COUNT")) {
        val gcols = splitTopLevel(groupCols, ',').map(_.trim)
        require(gcols.forall(
          _.matches("[A-Za-z_][A-Za-z0-9_]*|`[^`]+`")),
          "routed PIVOT with COUNT needs plain-column GROUP BY names" +
            s" (the 0-backfill re-references them): $groupCols")
        val keyCols = keys.map { case (name, _) =>
          val id = Sql.sqlIdentifier(name)
          s"coalesce($id, CAST(0 AS BIGINT)) AS $id"
        }
        s"SELECT ${(gcols ++ keyCols).mkString(", ")} FROM $pivoted"
      } else s"SELECT * FROM $pivoted"
    s"$outer\n$trailing"
  }

  // UNPIVOT <table|(subq)> ON <cols> INTO NAME <n> VALUE <v> — DuckDB's
  // wide-to-long STATEMENT. Spark has the same operator as a
  // table-expression clause, so the route is a pure text re-spelling:
  // `SELECT * FROM <src> UNPIVOT (<v> FOR <n> IN (<cols>))`. Both
  // engines exclude NULL cells by default, so semantics align without
  // adaptation. Statement-level and (like PIVOT) as a parenthesized
  // subquery via `rewriteSubqueryBodies`.
  private[engine] val unpivotStmtRe = "(?is)^UNPIVOT\\s+(.+)$".r

  /** A PIVOT/UNPIVOT source as a FROM item. Spark needs an alias on a
    * parenthesized subquery: the user's own (`(…) AS s`, `(…) s`) is
    * kept, and a bare one gets `dflt`. */
  private def sourceItem(table: String, dflt: String): String =
    if (!table.startsWith("(")) table
    else {
      val close = codeMask(table).closeOf(0)
      if (close >= 0 && table.substring(close + 1).trim.nonEmpty) table
      else s"$table $dflt"
    }

  private[engine] def unpivotStatementSql(rest: String): String = {
    val oi = firstTopLevelKeyword(rest, Seq("ON")).getOrElse(
      throw new IllegalArgumentException(
        "routed UNPIVOT needs ON: UNPIVOT <table> ON <cols>" +
          " INTO NAME <col> VALUE <col>"))
    val table = rest.substring(0, oi).trim
    val afterOn = rest.substring(oi + "ON".length)
    val ii = firstTopLevelKeyword(afterOn, Seq("INTO")).getOrElse(
      throw new IllegalArgumentException(
        "routed UNPIVOT needs INTO NAME <col> VALUE <col>"))
    val onCols = afterOn.substring(0, ii).trim
    val nv = "(?is)^NAME\\s+(`[^`]+`|\\w+)\\s+VALUE\\s+(`[^`]+`|\\w+)(.*)$".r
    afterOn.substring(ii + "INTO".length).trim match {
      case nv(n, v, trailing) =>
        // only clause keywords may follow — anything else (DuckDB's
        // multi-value `VALUE v1, v2` form included) must refuse, not
        // splice into the generated SQL as a phantom relation
        require(trailing.trim.isEmpty ||
          trailing.trim.matches("(?is)^(ORDER|LIMIT|OFFSET)\\b.*"),
          "routed UNPIVOT supports a single NAME/VALUE pair and an" +
            s" ORDER BY/LIMIT tail — unexpected: $trailing")
        val src = sourceItem(table, "__graft_unp_src")
        s"SELECT * FROM $src UNPIVOT ($v FOR $n IN ($onCols))$trailing"
      case other => throw new IllegalArgumentException(
        s"routed UNPIVOT INTO must be NAME <col> VALUE <col>: $other")
    }
  }

  // SELECT DISTINCT ON (keys) list FROM … — the DuckDB/Postgres
  // pick-one-row-per-key idiom (delegated surface; `c_distinct_on`
  // already witnesses the DataFrame-side translation, this routes the
  // STATEMENT). Spark has no DISTINCT ON, so the statement rewrites to
  // the rewrite it is sugar for: a row_number window partitioned by the
  // keys, ordered by the statement's ORDER BY (which in DISTINCT ON
  // decides WHICH row survives per key), filtered to rn = 1 — with the
  // ORDER BY/LIMIT tail re-applied outside for the final ordering.
  // Without an ORDER BY the surviving row is undefined in DuckDB too;
  // the rewrite falls back to ordering by the keys (every partition row
  // ties — an arbitrary-but-explicit pick, matching the undefinedness).
  // GROUP BY / HAVING / set-op tails are out of the supported shape and
  // refuse loudly.
  private[engine] val donRe = "(?is)^SELECT\\s+DISTINCT\\s+ON\\s*\\((.*)$".r

  private[engine] def distinctOnToWindow(afterParen: String): String = {
    // keys: to the first top-level `)` (the opening paren was consumed)
    val lx = codeMask(afterParen)
    val close = (0 until afterParen.length).find(i =>
      lx.code(i) && afterParen.charAt(i) == ')' && lx.depth(i) == 0)
      .getOrElse(-1)
    require(close >= 0, "unbalanced parens in DISTINCT ON key list")
    val keys = afterParen.substring(0, close).trim
    val rest = afterParen.substring(close + 1)
    val fromIdx = firstTopLevelKeyword(rest, Seq("FROM")).getOrElse(
      throw new IllegalArgumentException(
        "DISTINCT ON statement needs a FROM clause"))
    val list = rest.substring(0, fromIdx).trim
    val tail = rest.substring(fromIdx + "FROM".length).trim
    firstTopLevelKeyword(tail,
      Seq("GROUP", "HAVING", "QUALIFY", "WINDOW", "UNION", "INTERSECT",
        "EXCEPT")).foreach { _ =>
      throw new IllegalArgumentException(
        "routed DISTINCT ON supports SELECT … FROM … [WHERE …]" +
          " [ORDER BY …] [LIMIT …] — aggregates/set-ops are not routed")
    }
    // inner relation text vs the ORDER BY/LIMIT tail
    val cut = firstTopLevelKeyword(tail, Seq("ORDER", "LIMIT", "OFFSET"))
      .getOrElse(tail.length)
    val inner = tail.substring(0, cut).trim
    val trailing = tail.substring(cut).trim
    // the window order decides which row survives per key: the
    // statement's ORDER BY items if present, else the keys
    val ord = firstTopLevelKeyword(trailing, Seq("ORDER")) match {
      case Some(0) =>
        val afterBy = trailing.replaceFirst("(?is)^ORDER\\s+BY\\s+", "")
        val lim = firstTopLevelKeyword(afterBy, Seq("LIMIT", "OFFSET"))
          .getOrElse(afterBy.length)
        afterBy.substring(0, lim).trim
      case _ => keys
    }
    // scrub the helper column from EVERY star item, not only a bare-`*`
    // list: `*, expr`, qualified `alias.*`, and star items carrying
    // EXCLUDE/EXCEPT/REPLACE modifiers all expand the inner SELECT *
    // and would otherwise leak __graft_rn into the output schema
    val outList = weaveStarHelper(
      splitTopLevel(list, ','), "__graft_rn", _ => true).mkString(", ")
    s"""SELECT $outList FROM (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY $keys ORDER BY $ord) AS __graft_rn
       |  FROM $inner) __graft_don
       |WHERE __graft_rn = 1 $trailing""".stripMargin
  }

  // DuckDB FROM-first statement syntax (delegated surface,
  // /root/reference/src/duckdb.ts:46-49): `FROM t` and
  // `FROM t WHERE … LIMIT …` read as implicit SELECT *, and
  // `FROM t SELECT cols …` carries an explicit select list (trailing
  // clauses — WHERE/GROUP BY/ORDER BY/… — follow the list, as DuckDB
  // accepts). Spark 4.1 parses `FROM t` and `FROM t SELECT …` itself,
  // but not a select-less `FROM t WHERE …` or `FROM t LIMIT …`, so the
  // `from-first` shim rewrites the text to SELECT-first form and
  // re-enters the shim table (path-table rewrite and the rest of the
  // routing still apply). A FROM-first subquery body is rewritten too:
  // `rewriteSubqueryBodies` runs every body that opens with FROM
  // through the same table.
  private[engine] val fromFirstRe = "(?is)^FROM\\s+(.+)$".r

  /** Keywords that can follow a FROM-first select list; the rewrite
    * re-inserts FROM before the first of them. */
  private[engine] val clauseKeywords = Seq("WHERE", "GROUP", "HAVING", "QUALIFY",
    "WINDOW", "ORDER", "LIMIT", "OFFSET", "UNION", "INTERSECT", "EXCEPT")

  private[engine] def fromFirstToSelect(rest: String): String =
    firstTopLevelKeyword(rest, Seq("SELECT")) match {
      case None => s"SELECT * FROM ${rest.trim}"
      case Some(i) =>
        val src = rest.substring(0, i).trim
        val sel = rest.substring(i + "SELECT".length).trim
        firstTopLevelKeyword(sel, clauseKeywords) match {
          case None => s"SELECT $sel FROM $src"
          case Some(j) =>
            s"SELECT ${sel.substring(0, j).trim} FROM $src" +
              s" ${sel.substring(j)}"
        }
    }

  /** DESCRIBE convenience (Tier C introspection — the DuckDB `DESCRIBE
    * <table/query>` one-liner a UI user leans on, delegated surface via
    * /root/reference/src/duckdb.ts:46-49): the result's schema as rows of
    * (column_name, column_type, null). Built from `df.schema` — pure
    * driver-side metadata, NO job runs (DuckDB's DESCRIBE is likewise a
    * binder-only operation), which is the property that matters at 100 TB:
    * describing a petabyte table costs the same as describing 10 rows.
    * Type names render in Spark's SQL dialect (engine-specific by nature,
    * so spec-checked rather than oracle-hashed). */
  def describe(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // DuckDB's exact column set (r18 shape parity): key/default/extra
    // are always NULL here — this engine keeps no constraint metadata —
    // but a migrating user's tooling indexes the columns by name
    df.schema.fields.toSeq
      .map(f => (f.name, f.dataType.sql,
        if (f.nullable) "YES" else "NO",
        Option.empty[String], Option.empty[String], Option.empty[String]))
      .toDF("column_name", "column_type", "null", "key", "default", "extra")
  }

  /** DuckDB's `PRAGMA table_info` output shape (cid, name, type,
    * notnull, dflt_value, pk): notnull is real schema metadata;
    * dflt_value and pk are always NULL/false — this engine keeps no
    * constraint metadata. Pure driver-side metadata, no job. */
  private[engine] def tableInfo(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
      (i, f.name, f.dataType.sql, !f.nullable, Option.empty[String], false)
    }.toDF("cid", "name", "type", "notnull", "dflt_value", "pk")
  }

  /** SUMMARIZE convenience (DuckDB's per-column profile one-liner): the
    * full DuckDB column set — min / max / approx_unique / avg / std /
    * q25 / q50 / q75 / count / null_percentage per column, in DuckDB's
    * EXACT column names and order (r18: a migrating user's tooling
    * reads these names) — computed in ONE distributed aggregate pass
    * (one job, map-side partials — not a per-column scan loop: at
    * 100 TB the difference between 1 scan and N_cols scans is the
    * whole cost). Spark's own `df.summary()` skips non-numeric columns
    * and runs no distinct counts; this wrapper profiles EVERY column:
    * approx_count_distinct and approx_percentile (the only sane
    * distinct/quantiles at scale — DuckDB's own approx_unique/q* are
    * approximate too), min/max rendered through the A14 formatter so
    * timestamps/decimals read naturally, avg/std/quantiles only where
    * numeric. Stat VALUES are engine-specific (approx sketches differ)
    * → shape spec-checked, not oracle-hashed. */
  def summarize(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.RowOrdering
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.NumericType
    val spark = df.sparkSession
    import spark.implicits._
    // non-orderable types (maps) support neither min/max nor the hash
    // inside approx_count_distinct — their profile is count-only, nulls
    // elsewhere, rather than an AnalysisException for the whole frame
    def orderable(f: org.apache.spark.sql.types.StructField): Boolean =
      RowOrdering.isOrderable(f.dataType)
    // Columns are addressed by INDEX, not name: duplicate column names
    // (routine after joins) make name lookups ambiguous, and embedded
    // backticks break quoting — a positional rename to __c$i sidesteps
    // both, and the output still reports the ORIGINAL names.
    val positional = df.toDF(df.columns.indices.map(i => s"__c$i"): _*)
    val aggs = df.schema.fields.zipWithIndex.flatMap { case (f, i) =>
      val c = col(s"__c$i")
      Seq(count(c).as(s"cnt_$i")) ++
        (if (orderable(f)) Seq(
          approx_count_distinct(c).as(s"dst_$i"),
          min(c).as(s"min_$i"),
          max(c).as(s"max_$i"))
        else Nil) ++
        (f.dataType match {
          case _: NumericType => Seq(
            avg(c).cast("double").as(s"avg_$i"),
            stddev_samp(c.cast("double")).as(s"std_$i"),
            percentile_approx(c.cast("double"),
              array(lit(0.25), lit(0.5), lit(0.75)), lit(10000))
              .as(s"q_$i"))
          case _ => Nil
        })
    }
    val total = count(lit(1)).as("__total")
    val row = positional.agg(total, aggs.toSeq: _*).collect()(0)
    val n = row.getAs[Long]("__total")
    df.schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
      def s(prefix: String): String =
        if (!orderable(f)) null
        else {
          val v = row.getAs[Any](s"${prefix}_$i")
          if (v == null) null else Render.formatCell(v)
        }
      def numStat(prefix: String): String =
        if (!f.dataType.isInstanceOf[NumericType]) null
        else Option(row.getAs[Any](s"${prefix}_$i"))
          .map(v => Render.formatCell(v)).orNull
      val qs: Seq[String] =
        if (!f.dataType.isInstanceOf[NumericType]) Seq(null, null, null)
        else Option(row.getAs[scala.collection.Seq[Double]](s"q_$i"))
          .map(_.map(v => Render.formatCell(v)).toSeq)
          .getOrElse(Seq(null, null, null))
      val cnt = row.getAs[Long](s"cnt_$i")
      val dst: Option[Long] =
        if (orderable(f)) Some(row.getAs[Long](s"dst_$i")) else None
      // DuckDB's column ORDER and NAMES exactly; null_percentage is a
      // percent (DuckDB renders DECIMAL(5,2) — the value is 0..100)
      (f.name, f.dataType.sql, s("min"), s("max"), dst,
        numStat("avg"), numStat("std"), qs(0), qs(1), qs(2), cnt,
        if (n == 0) 0.0 else (n - cnt).toDouble * 100.0 / n.toDouble)
    }.toDF("column_name", "column_type", "min", "max", "approx_unique",
      "avg", "std", "q25", "q50", "q75", "count", "null_percentage")
  }

}
