package graft.engine

import java.nio.file.Path

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{
  UnresolvedAttribute, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.{
  And, EqualTo, Expression, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{
  Assignment, DeleteFromTable, InsertAction, InsertStarAction, LogicalPlan,
  MergeIntoTable, OneRowRelation, Project, SubqueryAlias, UpdateAction,
  UpdateTable}
import org.apache.spark.sql.catalyst.util.QuotingUtils
import org.apache.spark.sql.graft.{ParquetFooters, ParsedColumn}
import org.apache.spark.sql.types.StructField

/** A relation a DML statement names: its catalog name, the qualifiers a
  * clause may call it by, and the alias a join gives it. */
private[engine] final case class DmlRel(
    name: String, quals: Set[String], alias: String)

/** The user-typed DML statement routes (A6): DELETE/UPDATE/MERGE (read
  * once, by Spark's parser)/upsert/RETURNING via the copy-on-write
  * rewriter in [[Dml]], plus COPY TO/FROM and the insert-source binding
  * shared by all insert shapes. Mixed into [[Engine]]; split out by
  * file only. */
private[engine] trait EngineDml {
  this: Engine.type =>

  // --- user-typed DML: one parse, routed to the copy-on-write rewriter ----
  //
  // The reference's delegation point executes any DuckDB SQL, so a user
  // can type `UPDATE`/`DELETE`/`MERGE` against a table they created.
  // Spark's session-catalog parquet tables reject DML outright (row-level
  // ops need a DSv2 table format), so the engine closes the gap itself.
  // The statement gets the clause pass (`rewriteExpr`) once, RETURNING
  // items included; the lexer splits off RETURNING, cuts the source out
  // of the join spellings Spark's grammar lacks (`UPDATE … FROM s`,
  // `DELETE … USING s`) and respells a tuple SET; Spark's parser reads
  // the rest once (DeleteFromTable, UpdateTable, MergeIntoTable). The
  // parsed WHERE and SET values run as Columns in the copy-on-write file
  // rewrite of `engine/Dml.scala`. When the WHERE's top-level
  // conjunction bounds a long/timestamp/date column by literals, the
  // rewrite takes the footer-stats-PRUNED path (`pruneRange`); any other
  // shape takes the full rewrite, never wrong pruning. Targets must be
  // catalog TABLES (bare, quoted or database-qualified): temp views over
  // registered (read-only) files refuse instead of mutating inputs.

  /** The statement's first word, upper-cased. */
  private[engine] def firstWord(s: String): String =
    s.takeWhile(c => c.isLetterOrDigit || c == '_').toUpperCase

  private def dmlRel(spark: SparkSession, plan: LogicalPlan): DmlRel =
    plan match {
      case SubqueryAlias(a, r: UnresolvedRelation) =>
        val rel = dmlRel(spark, r)
        rel.copy(quals = rel.quals + a.name.toLowerCase, alias = a.name)
      case r: UnresolvedRelation =>
        val last = r.multipartIdentifier.last
        DmlRel(catalogName(spark, r.multipartIdentifier),
          Set(last.toLowerCase), last)
      case other => throw new IllegalArgumentException(
        s"routed DML needs a plain relation: ${other.simpleString(80)}")
    }

  /** Run a DELETE, UPDATE or MERGE statement: one clause pass, one
    * parse, then the route of the parsed plan. */
  private[engine] def runDml(spark: SparkSession, statement: String): DataFrame = {
    val (stmt, returning) = splitReturning(rewriteExpr(spark, statement))
    val (text, source) = plainDml(stmt)
    val plan = spark.sessionState.sqlParser.parsePlan(text)
    val src = source.map(s => DmlRel(s, Set(s.toLowerCase), s))
    returning match {
      case Some(items) => runReturning(spark, plan, source.isDefined, items)
      case None => plan match {
        case DeleteFromTable(t, cond) =>
          val target = dmlRel(spark, t)
          src match {
            case Some(s) => runDeleteUsing(spark, target, s, cond)
            case None => runDelete(spark, target.name, Some(cond))
          }
        case UpdateTable(t, as, cond) =>
          val target = dmlRel(spark, t)
          src match {
            // plainDml refuses an UPDATE … FROM without a WHERE
            case Some(s) => runUpdateFrom(spark, target, as, s, cond.get)
            case None => runUpdate(spark, target.name, setList(as), cond)
          }
        case m: MergeIntoTable => runMerge(spark, m)
      }
    }
  }

  /** The text Spark's parser reads for a DML statement, and the source
    * the lexer cut out at top level: `UPDATE t SET … FROM s WHERE …` and
    * `DELETE FROM t USING s WHERE …`, which Spark's grammar lacks, become
    * a plain UPDATE or DELETE; a tuple SET becomes the comma form. */
  private def plainDml(stmt: String): (String, Option[String]) = {
    def cut(kw: String, what: String) = {
      val where = firstTopLevelKeyword(stmt, Seq("WHERE"))
      val head = where.fold(stmt)(stmt.substring(0, _))
      firstTopLevelKeyword(head, Seq(kw)).fold((stmt, Option.empty[String])) { i =>
        val src = head.substring(i + kw.length).trim
        require(src.matches("[A-Za-z_]\\w*"),
          s"routed $what needs a plain source relation: $src")
        val w = where.getOrElse(throw new IllegalArgumentException(
          s"$what needs a WHERE joining target to source"))
        (head.substring(0, i) + stmt.substring(w), Some(src))
      }
    }
    firstWord(stmt) match {
      case "UPDATE" =>
        val (text, src) = cut("FROM", "UPDATE … FROM")
        (commaSets(text), src)
      case "DELETE" => cut("USING", "DELETE … USING")
      case _ => (stmt, None)
    }
  }

  /** `SET (a, b) = (x, y)` — DuckDB/Postgres tuple assignment — as the
    * comma form `SET a = x, b = y`, the same one-projection semantics. */
  private def commaSets(stmt: String): String = {
    val lx = EngineLex.codeMask(stmt)
    val open = firstTopLevelKeyword(stmt, Seq("SET"))
      .fold(-1)(i => stmt.indexWhere(!_.isWhitespace, i + 3))
    if (open < 0 || stmt.charAt(open) != '(') stmt
    else {
      val close = lx.closeOf(open)
      val vOpen = if (close < 0) -1 else stmt.indexOf('(', close)
      val vClose = if (vOpen < 0) -1 else lx.closeOf(vOpen)
      require(vClose > 0 && stmt.substring(close + 1, vOpen).trim == "=",
        s"malformed tuple SET assignment: ${stmt.substring(open)}")
      def items(from: Int, to: Int) =
        splitTopLevel(stmt.substring(from + 1, to), ',').map(_.trim)
      val (ns, vs) = (items(open, close), items(vOpen, vClose))
      require(ns.size == vs.size && ns.forall(_.nonEmpty),
        s"tuple SET assigns ${ns.size} column(s) from ${vs.size}" +
          " value(s) — the lists must pair up")
      stmt.substring(0, open) + ns.zip(vs).map { case (n, v) => s"$n = $v" }
        .mkString(", ") + stmt.substring(vClose + 1)
    }
  }

  /** A parsed SET list as (column, value) assignments. */
  private def setList(as: Seq[Assignment]): Seq[(String, Column)] =
    as.map(a => (ref(a.key)._2, ParsedColumn(a.value)))

  // DELETE FROM t USING s WHERE <cond> — the DuckDB/Postgres join
  // delete: remove target rows for which SOME source row satisfies the
  // condition. The copy-on-write transform is a LEFT ANTI join against
  // the broadcast (upsert-batch-sized, as for MERGE) source under the
  // condition — anti-join keeps exactly the rows with NO qualifying
  // match, the statement's EXISTS-delete semantics, NULL keeping the row.
  private def runDeleteUsing(spark: SparkSession, target: DmlRel,
      src: DmlRel, cond: Expression): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val source = spark.table(src.name)
    // the equi-key shape takes the key-span-PRUNED delete (a file whose
    // head-key footer range misses the source's key span is never
    // opened); any richer condition takes the full anti-join rewrite
    val equiKeys =
      try Some(joinKeys(cond, target.quals, src.quals, "DELETE USING"))
      catch { case _: IllegalArgumentException => None }
    withTablePath(spark, target.name) { path =>
      equiKeys match {
        case Some(keys) => Dml.deleteUsingKeys(spark, path, source, keys)
        case None =>
          Dml.rewriteAllFiles(spark, path)(df =>
            df.alias(target.alias).join(broadcast(source.alias(src.alias)),
              ParsedColumn(cond), "left_anti"))
      }
    }
  }

  /** A column reference of a join condition or assignment —
    * (qualifier?, column); any other expression reads as its SQL, so
    * it never pairs with a column. */
  private def ref(e: Expression): (Option[String], String) = e match {
    case UnresolvedAttribute(Seq(q, c)) => (Some(q.toLowerCase), c)
    case UnresolvedAttribute(Seq(c)) => (None, c)
    case a: UnresolvedAttribute =>
      throw new IllegalArgumentException(s"unsupported column ref: ${a.sql}")
    case other => (None, other.sql)
  }

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other => Seq(other)
  }

  /** Same-named equi-key columns from an AND of `t.k = s.k` conjuncts
    * — the join shape MERGE, UPDATE … FROM and DELETE … USING route
    * (richer conditions refuse loudly). */
  private def joinKeys(cond: Expression, tQuals: Set[String],
      sQuals: Set[String], what: String): Seq[String] =
    conjuncts(cond).map {
      case conj @ EqualTo(l, r) =>
        val (q1, c1) = ref(l); val (q2, c2) = ref(r)
        require(c1.equalsIgnoreCase(c2),
          s"$what keys must pair the same-named column: ${conj.sql}")
        val quals = Set(q1, q2).flatten
        require(quals.exists(tQuals) && quals.exists(sQuals),
          s"$what conjunct must join target to source: ${conj.sql}")
        c1
      case conj => throw new IllegalArgumentException(
        s"$what supports equi-key conjuncts: ${conj.sql}")
    }

  /** Same-named source-column assignments — the `col = source.col`
    * shape MERGE and UPDATE … FROM route. */
  private def joinSets(as: Seq[Assignment], tQuals: Set[String],
      sQuals: Set[String], what: String): Seq[String] =
    as.map { a =>
      val (lq, lc) = ref(a.key); val (rq, rc) = ref(a.value)
      require(lq.forall(tQuals) && rq.forall(sQuals) &&
        lc.equalsIgnoreCase(rc),
        s"routed $what supports SET col = source.col of the same name" +
          s" — got: ${a.key.sql} = ${a.value.sql}")
      lc
    }

  /** The routed `UPDATE t SET … FROM s WHERE …` executor — the
    * UPDATE-only merge (`Dml.updateFromAll`). */
  private def runUpdateFrom(spark: SparkSession, target: DmlRel,
      as: Seq[Assignment], src: DmlRel, cond: Expression): DataFrame = {
    val keys = joinKeys(cond, target.quals, src.quals, "UPDATE … FROM")
    val setCols = joinSets(as, target.quals, src.quals, "UPDATE … FROM")
    val sourceDf = spark.table(src.name)
    withTablePath(spark, target.name)(path =>
      Dml.updateFromAll(spark, path, sourceDf, keys, setCols))
  }

  // MERGE INTO target [[AS] t] USING source [[AS] s] ON <equi-keys>
  //   WHEN MATCHED THEN UPDATE SET <assignments>
  //   WHEN NOT MATCHED THEN INSERT <* | (cols) VALUES (vals)>
  // — the canonical upsert, routed to the copy-on-write merge
  // (`Dml.mergeIntoAll`) in its same-named shape: ON conjoins `t.k = s.k`
  // equi-keys, each SET copies the same-named source column, and INSERT
  // is the full source row (`*`, or a column list covering it with
  // identity values). Anything richer refuses — never a silently
  // different merge.
  private def runMerge(spark: SparkSession, m: MergeIntoTable): DataFrame = {
    val target = dmlRel(spark, m.targetTable)
    val src = dmlRel(spark, m.sourceTable)
    val (sets, insert) =
      (m.matchedActions, m.notMatchedActions, m.notMatchedBySourceActions) match {
        case (Seq(UpdateAction(None, as, false)), Seq(InsertStarAction(None)),
            Seq()) => (as, Nil)
        case (Seq(UpdateAction(None, as, false)), Seq(InsertAction(None, ins)),
            Seq()) => (as, ins)
        case _ => throw new IllegalArgumentException(
          "routed MERGE supports WHEN MATCHED THEN UPDATE SET … WHEN NOT" +
            " MATCHED THEN INSERT * or (cols) VALUES (cols), unconditioned")
      }
    // ON: top-level AND of target-key = source-key, same column name
    val srcKeys = joinKeys(m.mergeCondition, target.quals, src.quals, "MERGE ON")
    // SET: same-named source column per assignment
    val setCols = joinSets(sets, target.quals, src.quals, "MERGE")
    val sourceDf = spark.table(src.name)
    // INSERT: `*`, or an explicit (cols) VALUES (vals) spelling of the
    // identical full-row insert
    if (insert.nonEmpty) {
      val cs = insert.map(a => ref(a.key)._2.toLowerCase)
      require(cs == insert.map(a => ref(a.value)._2.toLowerCase),
        "routed MERGE INSERT values must be the same-named source" +
          s" columns: (${insert.map(_.key.sql).mkString(", ")}) VALUES" +
          s" (${insert.map(_.value.sql).mkString(", ")})")
      val full = sourceDf.columns.map(_.toLowerCase).toSet
      require(cs.toSet == full,
        "routed MERGE INSERT must cover the full source row — got" +
          s" ${cs.mkString(", ")} of ${full.mkString(", ")}")
    }
    withTablePath(spark, target.name)(path =>
      Dml.mergeIntoAll(spark, path, sourceDf, srcKeys, setCols))
  }

  // INSERT INTO t [(cols)] <SELECT…|VALUES…> ON CONFLICT (keys)
  //   DO UPDATE SET col = EXCLUDED.col, … | DO NOTHING
  // — DuckDB's native upsert spelling (far more typed by its users than
  // MERGE INTO), routed onto the same copy-on-write merge the MERGE
  // statement uses: DO UPDATE maps to `Dml.mergeIntoAll` (matched keys
  // take the proposed row's columns via a broadcast join inside the file
  // rewrite; fresh keys append), DO NOTHING to `Dml.insertOnlyAll`
  // (insert-branch only — no file is ever rewritten). Source columns
  // bind to the target POSITIONALLY (or to the explicit column list),
  // with the target's types — DuckDB's INSERT semantics. The supported
  // assignment shape is `col = EXCLUDED.col` of the same name (EXCLUDED
  // being DuckDB/Postgres's name for the proposed row); anything richer
  // refuses loudly. DuckDB enforces a unique index on the conflict
  // target at table-creation time; this engine has no index metadata, so
  // the equivalent runtime guard is mergeCore's source-key uniqueness
  // check (duplicate conflict keys in one INSERT refuse there, exactly
  // as DuckDB errors on them).
  private[engine] def insertConflictSplit(
      s: String): Option[(String, String, Seq[String], Option[String])] = {
    // \s* after the table name: the no-space column-list spelling
    // `INSERT INTO t(a,b) …` is the common one
    val head = "(?is)^INSERT\\s+INTO\\s+([A-Za-z_]\\w*)\\s*(.+)$".r
    s match {
      case head(table, rest) =>
        // scan ALL top-level CONFLICT tokens, not just the first: an
        // INSERT body whose join condition references a column literally
        // named `conflict` (… JOIN b ON conflict = 1 …) must not hijack
        // the route. A hit routes only when preceded by ON AND its tail
        // parses as a conflict action; the LAST parseable hit wins (the
        // real clause closes the statement).
        val onTail = "(?is)^(.*\\S)\\s+ON\\s*$".r
        val act = ("(?is)^\\(([^)]*)\\)\\s*DO\\s+" +
          "(?:(NOTHING)|UPDATE\\s+SET\\s+(.+))\\s*$").r
        val candidates = allTopLevelKeyword(rest, "CONFLICT").reverse
          .flatMap { ci =>
            rest.substring(0, ci) match {
              case onTail(body) =>
                Some((body, rest.substring(ci + "CONFLICT".length).trim))
              case _ => None // a top-level CONFLICT not preceded by ON
            }
          }
        val parsed = candidates.collectFirst {
          case (body, act(keysText, nothing, sets)) =>
            val keys = keysText.split(',').toSeq
              .map(_.trim.stripPrefix("`").stripSuffix("`"))
              .filter(_.nonEmpty)
            (body, keys, Option(nothing), sets)
        }
        parsed match {
          case Some((body, keys, nothing, sets)) if keys.nonEmpty =>
            Some((table, body.trim, keys,
              if (nothing.isDefined) None else Some(sets)))
          case Some(_) => None
          case None =>
            // an ON CONFLICT( that parses as NO action is a botched
            // conflict clause — keep the targeted refusal instead of
            // Spark's generic parse error
            candidates.find(_._2.startsWith("(")).foreach { case (_, t) =>
              throw new IllegalArgumentException(
                "INSERT … ON CONFLICT supports (keys) DO NOTHING |" +
                  s" DO UPDATE SET …: ON CONFLICT $t")
            }
            None
        }
      case _ => None
    }
  }

  private[engine] def runUpsert(
      spark: SparkSession, table: String, body: String,
      keys: Seq[String], doUpdate: Option[String]): DataFrame = {
    val target = spark.table(table)
    def targetField(n: String) =
      target.schema.fields.find(_.name.equalsIgnoreCase(n)).getOrElse(
        throw new IllegalArgumentException(
          s"INSERT … ON CONFLICT: column $n not in table $table"))
    // the proposed rows: shared positional binding (boundInsertSource)
    val source = boundInsertSource(spark, table, body)
    keys.foreach { k =>
      require(source.columns.exists(_.equalsIgnoreCase(k)),
        s"ON CONFLICT key $k is not among the inserted columns")
    }
    val setCols = doUpdate.map { sets =>
      splitTopLevel(sets, ',').map { a =>
        val eq = splitTopLevel(a, '=')
        require(eq.size == 2, s"malformed DO UPDATE assignment: $a")
        val lhs = eq(0).trim.stripPrefix("`").stripSuffix("`")
        val rhs = eq(1).trim
        val exc = "(?is)^EXCLUDED\\s*\\.\\s*`?([A-Za-z_]\\w*)`?$".r
        rhs match {
          case exc(rcol) =>
            require(lhs.equalsIgnoreCase(rcol),
              "routed ON CONFLICT supports SET col = EXCLUDED.col of the" +
                s" same name — got: $a")
          case _ => throw new IllegalArgumentException(
            "routed ON CONFLICT assignments must read EXCLUDED.<col>:" +
              s" $a")
        }
        require(!keys.exists(_.equalsIgnoreCase(lhs)),
          s"DO UPDATE must not reassign the conflict key $lhs")
        targetField(lhs).name
      }
    }
    // conflict keys that are the table's PRIMARY KEY refuse a NULL key
    // too, as DuckDB does and as the OR IGNORE / OR REPLACE shorthand does
    def lower(ks: Seq[String]) = ks.map(_.toLowerCase).toSet
    val refuse = pkOf(spark, table).filter(lower(_) == lower(keys)).map(_ =>
      (f: Dml.SourceKeys) =>
        requirePkSound(f, keys, s"INSERT INTO $table ... ON CONFLICT"))
    withTablePath(spark, table) { path =>
      setCols match {
        case Some(cols) =>
          Dml.mergeIntoAll(spark, path, source, keys, cols, refuse)
        case None => Dml.insertOnlyAll(spark, path, source, keys, refuse)
      }
    }
  }

  // COPY (SELECT …)|table TO 'path' [(FORMAT fmt[, HEADER])] — DuckDB's
  // result-export statement (delegated surface,
  // /root/reference/src/duckdb.ts:46-49), routed to the engine's
  // distributed writers (`Export.writeCsv/writeParquet/writeJson`): the
  // export runs as executor tasks, the driver never holds the result.
  // The source backtracks greedily so subquery parens inside the SELECT
  // never truncate it.
  private[engine] val copyRe =
    ("(?is)^COPY\\s+(\\(.+\\)|[A-Za-z_]\\w*)\\s+TO\\s+'([^']+)'" +
      "(?:\\s*\\((.*)\\))?\\s*$").r

  // COPY <table> FROM 'path' [(FORMAT fmt[, HEADER])] — DuckDB's import
  // statement, the symmetric half of COPY TO: load a file (or a
  // directory of part files, which is what the engine's own COPY TO
  // writes) into an EXISTING table, matching columns by POSITION with
  // the table's types (DuckDB semantics). The read applies the target
  // table's schema, so csv/json typing is the table's, not an inference.
  private[engine] val copyFromRe =
    ("(?is)^COPY\\s+([A-Za-z_]\\w*)\\s+FROM\\s+'([^']+)'" +
      "(?:\\s*\\((.*)\\))?\\s*$").r

  // EXPORT DATABASE 'dir' [(FORMAT parquet|csv)] / IMPORT DATABASE 'dir'
  // — DuckDB's whole-catalog persistence pair. The Spark analog: every
  // session relation (catalog tables AND the registered temp views)
  // exports its DATA as one distributed write per relation, plus a
  // `load.sql` of engine-runnable DDL that recreates each relation as a
  // view over the exported files — through this engine's OWN routed
  // read_parquet/read_csv table functions in glob form, so the export
  // is consumable by this engine (IMPORT DATABASE) and, for bare
  // relation names, by DuckDB too (globs resolve in both; quoted
  // identifiers differ — backticks here, double quotes there).
  // Relations re-enter as SESSION VIEWS
  // over the exported files (zero-copy on import; DuckDB rebuilds
  // mutable tables instead — a user needing mutability re-materializes
  // with CREATE TABLE AS). Export into a directory a current relation
  // is READING from is the one unsupported shape (the overwrite would
  // race the scan) — export to a fresh directory.
  private[engine] val exportDbRe =
    "(?is)^EXPORT\\s+DATABASE\\s+'([^']+)'(?:\\s*\\((.*)\\))?\\s*$".r
  private[engine] val importDbRe = "(?is)^IMPORT\\s+DATABASE\\s+'([^']+)'\\s*$".r

  private[engine] def runExportDatabase(
      spark: SparkSession, dir: String, opts: Option[String]): DataFrame = {
    val (fmt0, _) = parseCopyOptions(opts, "EXPORT")
    val format = fmt0.getOrElse("parquet")
    require(format == "parquet" || format == "csv",
      s"EXPORT DATABASE supports parquet/csv — got $format")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    val readFn = if (format == "parquet") "read_parquet" else "read_csv"
    // bounded driver-side metadata: one row per catalog relation. The
    // engine's auto-registered path-table views are skipped — DuckDB's
    // catalog never holds them (a quoted-path scan leaves no entry),
    // and their data already lives in the original files.
    val names = spark.catalog.listTables().collect().toSeq
      .filter(t => t.isTemporary || Option(t.database).forall(_ == "default"))
      .map(_.name).distinct.sorted
      .filterNot(Catalog.isAutoRegisteredView(spark, _))
    val exported = names.flatMap { name =>
      val df = spark.table(Sql.sqlIdentifier(name))
      if (df.isStreaming) None // streaming views have no batch snapshot
      else {
        val path = s"$dir/$name.$format"
        if (format == "parquet") Export.writeParquet(df, path)
        else Export.writeCsv(df, path)
        Some((name, path))
      }
    }
    val load = exported.map { case (name, path) =>
      // glob form: the export is a DIRECTORY of part files, and the
      // glob resolves in both this engine and DuckDB (a bare directory
      // path would not in DuckDB). Identifier quoting is this engine's
      // (backticks) — bare relation names read identically in both.
      s"CREATE OR REPLACE VIEW ${Sql.sqlIdentifier(name)} AS " +
        s"SELECT * FROM $readFn([${
          Sql.sqlStringLiteral(s"$path/*.$format")}]);"
    }.mkString("\n")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "load.sql"), load + "\n")
    import spark.implicits._
    exported.toDF("name", "path")
  }

  private[engine] val pragmaTableInfoRe =
    ("(?is)^PRAGMA\\s+table_info\\s*\\(\\s*" +
      "(?:'([^']+)'|([A-Za-z_]\\w*))\\s*\\)\\s*$").r
  private[engine] val pragmaShowTablesRe = "(?is)^PRAGMA\\s+show_tables\\s*$".r

  private[engine] val truncateRe =
    "(?is)^TRUNCATE\\s+(?:TABLE\\s+)?([A-Za-z_`][\\w`.]*)\\s*$".r
  private[engine] val showAllTablesRe = "(?is)^SHOW\\s+ALL\\s+TABLES\\s*$".r
  private[engine] val useNoopRe = "(?is)^USE\\s+([\\w.]+)\\s*$".r
  private[engine] val sequenceRe =
    ("(?is)^(CREATE|DROP)\\s+(?:OR\\s+REPLACE\\s+)?(?:TEMP(?:ORARY)?\\s+)?" +
      "SEQUENCE\\b.*$").r
  private[engine] val explainAnalyzeRe = "(?is)^EXPLAIN\\s+ANALYZE\\s+(.+)$".r

  /** `SHOW ALL TABLES` — DuckDB's catalog-wide listing, in DuckDB's
    * exact column shape (database, schema, name, column_names,
    * column_types, temporary). Driver-side metadata over the session
    * catalog, no job; database/schema carry DuckDB's default names
    * since this engine runs one session catalog. */
  private[engine] def showAllTables(spark: SparkSession): DataFrame = {
    val rows: java.util.List[Row] = new java.util.ArrayList[Row]
    spark.sql("SHOW TABLES").collect()
      .sortBy(_.getAs[String]("tableName")).foreach { r =>
        val name = r.getAs[String]("tableName")
        // a catalog entry whose storage is gone (dropped underneath a
        // long-lived session) still LISTS — DuckDB's listing does not
        // resolve each relation either; its columns read empty
        val schema = scala.util.Try(spark.table(name).schema)
          .getOrElse(org.apache.spark.sql.types.StructType(Nil))
        rows.add(Row("memory", "main", name,
          schema.fields.toSeq.map(_.name),
          schema.fields.toSeq.map(_.dataType.sql),
          r.getAs[Boolean]("isTemporary")))
      }
    import org.apache.spark.sql.types._
    spark.createDataFrame(rows, StructType(Seq(
      StructField("database", StringType),
      StructField("schema", StringType),
      StructField("name", StringType),
      StructField("column_names", ArrayType(StringType)),
      StructField("column_types", ArrayType(StringType)),
      StructField("temporary", BooleanType))))
  }
  // assignment-shaped settings pragmas only: name=value or name(value)
  private[engine] val pragmaSettingRe =
    "(?is)^PRAGMA\\s+[A-Za-z_]\\w*\\s*(?:=\\s*\\S.*|\\(.*\\))\\s*$".r
  private[engine] val maintenanceNoopRe =
    "(?is)^(VACUUM|ANALYZE|CHECKPOINT)\\s*;?\\s*$".r
  private[engine] val showTableRe = "(?is)^SHOW\\s+([A-Za-z_]\\w*)\\s*$".r
  private[engine] val ShowKeywords = Set("tables", "databases", "schemas", "views",
    "functions", "columns", "partitions", "create", "all", "namespaces",
    "catalogs", "tblproperties")

  /** Shared FORMAT/HEADER parser for both COPY directions: returns
    * (explicit format, explicit header value). Unknown options refuse —
    * silently ignoring one would read/write a file the user didn't ask
    * for. The CALLER interprets header semantics (the csv writer always
    * emits one, so COPY TO refuses HEADER false; the reader honors
    * DuckDB's HEADER-false default). */
  private[engine] def parseCopyOptions(
      opts: Option[String], direction: String): (Option[String], Option[Boolean]) = {
    val (fmt, header, partitionBy, compression) =
      parseCopyOptionsFull(opts, direction)
    require(partitionBy.isEmpty || direction == "TO",
      s"COPY $direction does not take PARTITION_BY (a partitioned" +
        " directory read auto-discovers its partition columns)")
    require(compression.isEmpty || direction == "TO",
      s"COPY $direction does not take COMPRESSION (reads auto-detect" +
        " the codec from the files)")
    (fmt, header)
  }

  private[engine] def parseCopyOptionsFull(
      opts: Option[String], direction: String)
      : (Option[String], Option[Boolean], Seq[String], Option[String]) = {
    var fmt: Option[String] = None
    var header: Option[Boolean] = None
    var partitionBy: Seq[String] = Nil
    var compression: Option[String] = None
    opts.toSeq.flatMap(o => splitTopLevel(o, ','))
      .map(_.trim).filter(_.nonEmpty).foreach { o =>
        val parts = o.split("\\s+")
        parts(0).toUpperCase match {
          case "FORMAT" if parts.length == 2 =>
            fmt = Some(parts(1).stripPrefix("'").stripSuffix("'").toLowerCase)
          case "HEADER" if parts.length == 1 => header = Some(true)
          case "HEADER" if parts.length == 2 &&
              (parts(1).equalsIgnoreCase("true") || parts(1) == "1") =>
            header = Some(true)
          case "HEADER" if parts.length == 2 &&
              (parts(1).equalsIgnoreCase("false") || parts(1) == "0") =>
            header = Some(false)
          case "PARTITION_BY" =>
            // PARTITION_BY (a, b) | PARTITION_BY a — DuckDB's
            // hive-partitioned write option
            val cols = o.substring("PARTITION_BY".length).trim
              .stripPrefix("(").stripSuffix(")")
            partitionBy = cols.split(',').toSeq.map(_.trim
              .stripPrefix("`").stripSuffix("`")).filter(_.nonEmpty)
            require(partitionBy.nonEmpty,
              s"COPY $direction PARTITION_BY needs at least one column")
          case "OVERWRITE_OR_IGNORE"
              if parts.length == 1 || parts.length == 2 &&
                (parts(1).equalsIgnoreCase("true") || parts(1) == "1") =>
            // DuckDB's allow-existing-directory flag for partitioned
            // writes; this engine's writes are mode(overwrite) — a
            // strictly stronger guarantee — so the flag is a no-op and
            // migrating scripts carrying it run unchanged
          case "COMPRESSION" if parts.length == 2 =>
            // passed to the Spark writer verbatim — an unknown codec
            // fails loudly there, never writes an unasked-for file
            compression =
              Some(parts(1).stripPrefix("'").stripSuffix("'").toLowerCase)
          case _ => throw new IllegalArgumentException(
            s"COPY $direction option not supported: $o")
        }
      }
    (fmt, header, partitionBy, compression)
  }

  /** A COPY's format when it names none: the path's extension, else
    * DuckDB's csv default. */
  private def formatOfPath(path: String): String = {
    val lower = path.toLowerCase
    if (lower.endsWith(".parquet")) "parquet"
    else if (lower.endsWith(".json") || lower.endsWith(".ndjson")) "json"
    else if (lower.endsWith(".orc")) "orc"
    else "csv"
  }

  private[engine] def runCopyFrom(
      spark: SparkSession, table: String, path: String,
      opts: Option[String]): DataFrame = {
    val (fmt, headerOpt) = parseCopyOptions(opts, "FROM")
    // DuckDB's COPY FROM defaults HEADER to FALSE — honoring that
    // matters: reading a headerless file with header=true would consume
    // the first DATA row as a header and silently lose it
    val header = headerOpt.getOrElse(false)
    val format = fmt.getOrElse(formatOfPath(path))
    val schema = spark.table(table).schema
    import org.apache.spark.sql.functions.col
    val read = format match {
      case "csv" =>
        // with an explicit schema Spark pads a narrow file with NULLs, so
        // probe the file's own width first — a width mismatch must refuse
        // (DuckDB errors too), never silently null-fill or drop columns
        val fileWidth = spark.read
          .option("header", header.toString).csv(path).columns.length
        require(fileWidth == schema.length,
          s"COPY FROM: file has $fileWidth columns," +
            s" table $table has ${schema.length}")
        spark.read.option("header", header.toString).schema(schema).csv(path)
      // json fields are named, not positional: absent fields read NULL —
      // the format's own semantics, not a width error
      case "json" | "ndjson" => spark.read.schema(schema).json(path)
      case "parquet" => ParquetFooters.read(spark, Seq(path))
      case "orc" => spark.read.orc(path)
      case other => throw new IllegalArgumentException(
        s"COPY FROM supports csv/parquet/json/orc formats — got $other")
    }
    require(read.columns.length == schema.length,
      s"COPY FROM: file has ${read.columns.length} columns," +
        s" table $table has ${schema.length}")
    // positional alignment with the table's types, then positional insert
    val aligned = read.toDF(schema.fieldNames.toSeq: _*)
      .select(schema.fields.map(f => col(f.name).cast(f.dataType)).toSeq: _*)
    // PRIMARY KEY enforcement (file reads are deterministic — no
    // checkpoint needed before checking what will land)
    pkOf(spark, table).foreach { keys =>
      requireSoundAbsentKeys(spark, table, aligned, keys,
        s"COPY $table FROM")
    }
    aligned.write.insertInto(table)
    import spark.implicits._
    Seq((path, format)).toDF("path", "format")
  }

  private[engine] def runCopy(
      spark: SparkSession, source: String, path: String,
      opts: Option[String]): DataFrame = {
    // options via the shared parser; the csv writer always emits
    // headers, so an explicit HEADER false refuses — silently writing
    // one anyway is exactly the "file the user didn't ask for" case
    val (fmt, headerOpt, partitionBy, compression) =
      parseCopyOptionsFull(opts, "TO")
    if (headerOpt.contains(false))
      throw new IllegalArgumentException(
        "COPY ... (HEADER false) is not supported: the csv writer" +
          " always emits a header row")
    val s = source.trim
    val df =
      if (s.startsWith("(")) sql(spark, s.stripPrefix("(").stripSuffix(")"))
      else sql(spark, s"SELECT * FROM $s")
    val format = fmt.getOrElse(formatOfPath(path))
    if (partitionBy.nonEmpty || compression.isDefined) {
      // DuckDB's PARTITION_BY write maps exactly onto Spark's
      // hive-style partitionBy: one col=value directory level per key,
      // partition columns dropped from the data files in BOTH engines.
      // This is the scale-relevant export shape — a downstream reader
      // partition-prunes on the directory keys. COMPRESSION passes to
      // the writer verbatim (zstd/gzip/snappy/… — codec validity is the
      // writer's loud check).
      partitionBy.foreach { c =>
        require(df.columns.exists(_.equalsIgnoreCase(c)),
          s"COPY TO PARTITION_BY column $c is not in the result")
      }
      val w0 = df.write.mode("overwrite")
      val w1 =
        if (partitionBy.nonEmpty) w0.partitionBy(partitionBy: _*) else w0
      val writer = compression.fold(w1)(c => w1.option("compression", c))
      format match {
        case "csv" =>
          writer.option("header", "true").option("escape", "\"").csv(path)
        case "parquet" => writer.parquet(path)
        case "json" | "ndjson" => writer.json(path)
        case "orc" => writer.orc(path)
        case other => throw new IllegalArgumentException(
          s"COPY TO supports csv/parquet/json/orc formats — got $other")
      }
    } else format match {
      case "csv" => Export.writeCsv(df, path)
      case "parquet" => Export.writeParquet(df, path)
      case "json" | "ndjson" => Export.writeJson(df, path)
      case "orc" => Export.writeOrc(df, path)
      case other => throw new IllegalArgumentException(
        s"COPY TO supports csv/parquet/json/orc formats — got $other")
    }
    // a repeated COPY to the same path replaces the part files; drop any
    // cached listing so a registered path-table view re-reads fresh
    spark.catalog.refreshByPath(path)
    import spark.implicits._
    Seq((path, format)).toDF("path", "format")
  }

  /** Split a trailing top-level RETURNING clause off a DML statement. */
  private[engine] def splitReturning(s: String): (String, Option[String]) =
    firstTopLevelKeyword(s, Seq("RETURNING")) match {
      case Some(i) => (s.substring(0, i).trim,
        Some(s.substring(i + "RETURNING".length).trim))
      case None => (s, None)
    }

  /** RETURNING's items, read as a SELECT's select list. */
  private def returningItems(spark: SparkSession, items: String): Seq[Column] = {
    require(items.nonEmpty, "RETURNING needs at least one expression")
    spark.sessionState.sqlParser.parsePlan(s"SELECT $items") match {
      case Project(list, OneRowRelation()) => list.map(ParsedColumn(_))
      case _ => throw new IllegalArgumentException(
        s"RETURNING takes a select list — got: $items")
    }
  }

  /** DuckDB/Postgres RETURNING on a parsed DELETE or UPDATE (`join`:
    * the statement named a USING/FROM source, which refuses — the
    * affected-row set of a join is not cleanly separable from the
    * rewrite). The result is the AFFECTED rows — DELETE's OLD values,
    * UPDATE's NEW ones, read through the same parsed WHERE and SET the
    * rewrite then applies — projected through the items and snapshotted
    * eagerly (localCheckpoint) BEFORE the copy-on-write rewrite replaces
    * the files the snapshot would otherwise re-read; the client receives
    * those rows anyway, so the checkpoint is bounded by what the
    * statement promises. The rewrite re-evaluates SET and WHERE (the
    * table has no row identity to join the snapshot back by), so a
    * non-deterministic or current-time expression would return other
    * values than it lands: that combination refuses instead of lying. */
  private def runReturning(spark: SparkSession, plan: LogicalPlan,
      join: Boolean, items: String): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val cols = returningItems(spark, items)
    def returned(what: String, rows: DataFrame)(rewrite: => Unit) = {
      require(!unstableExprs(rows),
        s"RETURNING is not routed for $what with non-deterministic or" +
          " current-time expressions: the rewrite re-evaluates them, so" +
          " the returned values would differ from the landed ones —" +
          " compute the value first (e.g. into a temp table), then" +
          " UPDATE/DELETE with the materialized value")
      val out = rows.select(cols: _*).localCheckpoint(true)
      rewrite
      out
    }
    plan match {
      case _: DeleteFromTable if join => throw new IllegalArgumentException(
        "RETURNING is not routed for DELETE ... USING — run the join" +
          " SELECT first, then the DELETE")
      case _: UpdateTable if join => throw new IllegalArgumentException(
        "RETURNING is not routed for UPDATE ... FROM — run the join" +
          " SELECT first, then the UPDATE")
      case DeleteFromTable(t, cond) =>
        val table = dmlRel(spark, t).name
        returned("DELETE", spark.table(table).filter(wherePred(Some(cond))))(
          runDelete(spark, table, Some(cond)))
      case UpdateTable(t, as, cond) =>
        val table = dmlRel(spark, t).name
        val sets = setList(as)
        // the NEW values of exactly the matched rows: the same
        // assignment projection the update itself applies
        returned("UPDATE", Dml.applyAssignments(
          spark.table(table).filter(wherePred(cond)), lit(true), sets))(
          runUpdate(spark, table, sets, cond))
      case other => throw new IllegalArgumentException(
        "RETURNING is routed for plain INSERT INTO / UPDATE / DELETE" +
          s" statements — got: ${other.nodeName}")
    }
  }

  /** RETURNING on an INSERT: the landed rows. */
  private[engine] def runInsertReturning(
      spark: SparkSession, stmt: String, retExprs: String): DataFrame = {
    val cols = returningItems(spark, rewriteExpr(spark, retExprs))
    stmt match {
      case ins if insertConflictSplit(ins).isDefined =>
        throw new IllegalArgumentException(
          "RETURNING is not routed for INSERT ... ON CONFLICT (the" +
            " landed rows depend on the conflict action) — read the" +
            " keys back after the upsert")
      case insertHeadRe(table, body) =>
        // the landed rows INSERT FROM THE SNAPSHOT itself (never by
        // re-running the statement: a nondeterministic source would
        // land different rows than it returned), with columns absent
        // from an explicit column list NULL-filled to the target's
        // schema — DuckDB's subset-insert behavior, and RETURNING *
        // sees the full landed row. A registered PRIMARY KEY enforces
        // here exactly as on the plain insert route (the snapshot is
        // what gets checked AND what lands).
        //
        // The pin is CONDITIONAL for literal-only sources (r22): a
        // VALUES/inline-table source provably cannot read the target
        // (so the post-insert re-evaluation the caller's action
        // triggers sees the same rows) and `stableSnapshot` still pins
        // it if it smuggles a non-deterministic or row-set-unstable
        // expression. Any source with a real relation leaf keeps the
        // eager checkpoint — `INSERT INTO t SELECT ... FROM t
        // RETURNING *` would otherwise return post-insert rows.
        val landed = {
          val bound = boundInsertSource(spark, table, body)
          // leaves of subquery plans count too: a scalar subquery over
          // the target would otherwise be re-read after the insert
          val literalOnly = !planExists(bound.queryExecution.analyzed) {
            case _: org.apache.spark.sql.catalyst.plans.logical
              .LocalRelation => false
            case _: org.apache.spark.sql.catalyst.plans.logical
              .OneRowRelation => false
            case _: org.apache.spark.sql.catalyst.plans.logical
              .Range => false
            case leaf => leaf.children.isEmpty
          }
          if (literalOnly) stableSnapshot(bound)
          else bound.localCheckpoint(true)
        }
        pkOf(spark, table).foreach { keys =>
          requireKeysBound(landed, keys, s"INSERT INTO $table")
          requireSoundAbsentKeys(spark, table, landed, keys,
            s"INSERT INTO $table")
        }
        val fullRows = paddedToTarget(spark, table, landed)
        fullRows.write.mode("append").insertInto(table)
        fullRows.select(cols: _*)
      case other => throw new IllegalArgumentException(
        "RETURNING is routed for plain INSERT INTO / UPDATE / DELETE" +
          s" statements — got: ${other.take(40)}")
    }
  }

  // the table may be spelled bare, backquoted, or dot-qualified — a
  // narrower pattern would let `INSERT INTO \`t\`` fall through to the
  // native append and silently bypass a registered PRIMARY KEY
  private[engine] val insertHeadRe =
    "(?is)^INSERT\\s+INTO\\s+(`[^`]+`|[A-Za-z_][\\w.]*)\\s*(.+)$".r

  /** The rows a plain `INSERT INTO t [(cols)] <query|VALUES>` lands:
    * the body run through the router, bound POSITIONALLY to the target
    * columns (or the explicit column list) with the target's types —
    * DuckDB's INSERT binding. Shared by the routed upsert and
    * RETURNING. */
  private[engine] def boundInsertSource(
      spark: SparkSession, table: String, body: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val target = spark.table(table)
    val (explicitCols, srcText) =
      if (body.startsWith("(")) {
        val end = EngineLex.codeMask(body).closeOf(0)
        require(end > 0, "unbalanced column list in INSERT")
        val cols = splitTopLevel(body.substring(1, end), ',')
          .map(_.trim.stripPrefix("`").stripSuffix("`")).filter(_.nonEmpty)
        (Some(cols), body.substring(end + 1).trim)
      } else (None, body)
    def targetField(n: String) =
      target.schema.fields.find(_.name.equalsIgnoreCase(n)).getOrElse(
        throw new IllegalArgumentException(
          s"INSERT: column $n not in table $table"))
    val insertCols = explicitCols.getOrElse(target.columns.toSeq)
      .map(n => targetField(n).name)
    val src0 = sql(spark, srcText)
    require(src0.columns.length == insertCols.length,
      s"INSERT provides ${src0.columns.length} columns for" +
        s" ${insertCols.length} target columns")
    src0.toDF(insertCols: _*)
      .select(insertCols.map(n =>
        col(n).cast(targetField(n).dataType).as(n)).toSeq: _*)
  }

  private[engine] def runDelete(spark: SparkSession, table: String,
      where: Option[Expression]): DataFrame = {
    // SQL DELETE removes rows where the predicate is TRUE; NULL keeps
    val pred = wherePred(where)
    withTablePath(spark, table)(path =>
      rewriteRouted(spark, path, where)(_.filter(!pred)))
  }

  /** A parsed WHERE (absent: every row), TRUE only where the predicate
    * is TRUE: NULL reads as false. */
  private def wherePred(where: Option[Expression]): Column = {
    import org.apache.spark.sql.functions.{coalesce, lit}
    coalesce(ParsedColumn(where.getOrElse(Literal.TrueLiteral)), lit(false))
  }

  private[engine] def runUpdate(spark: SparkSession, table: String,
      assignments: Seq[(String, Column)],
      where: Option[Expression]): DataFrame = {
    val pred = wherePred(where)
    // PRIMARY KEY enforcement: an UPDATE that assigns a key column can
    // mint a duplicate or a NULL key (DuckDB refuses both) — pre-check
    // the PROJECTED post-state, one bounded aggregate BEFORE the
    // rewrite, only when a key column is actually assigned
    pkOf(spark, table).filter(keys => assignments.exists { case (c, _) =>
      keys.exists(_.equalsIgnoreCase(c))
    }).foreach { keys =>
      val post = Dml.applyAssignments(spark.table(table), pred, assignments)
      requirePkSound(Dml.sourceKeys(post, keys, withSpan = false), keys,
        s"UPDATE $table")
    }
    withTablePath(spark, table)(path =>
      rewriteRouted(spark, path, where)(
        Dml.applyAssignments(_, pred, assignments)))
  }

  /** Execute a routed mutation with footer-stats pruning when the WHERE
    * yields a provable range, else as the full rewrite. */
  private[engine] def rewriteRouted(
      spark: SparkSession, path: String, where: Option[Expression])(
      transform: DataFrame => DataFrame): Dml.Stats =
    where.flatMap(w => pruneRange(spark, path, w)) match {
      case Some((c, lo, hi)) =>
        Dml.copyOnWrite(spark, path, c, lo, hi)(transform)
      case None => Dml.rewriteAllFiles(spark, path)(transform)
    }

  /** Extract a SOUND prune range from a routed WHERE clause: if any
    * top-level conjunct compares one unqualified long/timestamp/date
    * column against exact literals, every mutated row is confined to [lo, hi)
    * on that column (pred TRUE ⇒ each conjunct TRUE ⇒ col in range), so
    * the copy-on-write may skip files whose footer stats prove
    * disjointness. Conservative by construction: literal forms whose
    * physical-unit conversion isn't exact (doubles, unparsable strings),
    * ORs, functions over the column, other columns' conjuncts — all
    * simply don't narrow the range, and an empty extraction means the
    * full rewrite, never wrong pruning. */
  private[engine] def pruneRange(
      spark: SparkSession, path: String,
      where: Expression): Option[(String, Long, Long)] = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types._
    // the layout's physical schema (footer read, no job) — the prune
    // column must be INT64-backed for Dml's statistics fold
    val schema = ParquetFooters.read(spark, Seq(path)).schema
    def colOf(e: Expression): Option[StructField] = e match {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
          if a.nameParts.size == 1 =>
        schema.fields.find(_.name.equalsIgnoreCase(a.nameParts.head))
      case _ => None
    }
    // literal → the column's physical INT64 unit + a SLACK, or None:
    // integral literals for long columns (slack 0); date/timestamp/
    // string literals (micros, via Catalyst's own cast to the column's
    // timestamp FLAVOR — the testdata's parquet reads as TIMESTAMP_NTZ
    // under Spark 4's inferTimestampNTZ default, while typed
    // TIMESTAMP '…' literals are LTZ, so the cast also absorbs the zone
    // conversion) for timestamp columns. A cast CROSSING the LTZ↔NTZ
    // flavor boundary under a session zone with DST transitions is not
    // monotonic (wall-clock vs instant order disagree by the transition
    // delta around a fall-back), and Spark's runtime coercion may apply
    // the row-dependent conversion — so crossing casts under a
    // non-fixed-offset zone carry a 1-day slack that WIDENS the bound on
    // whichever side it lands (sound: prune less, never wrong). Under a
    // fixed-offset zone (this engine pins UTC) slack is 0 and bounds
    // stay exact. Fractional/other literal forms don't prune.
    def unit(l: Literal, t: DataType): Option[(Long, Long)] =
      (l.dataType, t) match {
        case (ByteType | ShortType | IntegerType | LongType, LongType) =>
          Some((l.value.toString.toLong, 0L))
        // DATE columns are INT32 days in the footer stats — calendar
        // arithmetic, no zone flavor to cross, so slack is always 0
        case (DateType | StringType, DateType) =>
          val zone = spark.sessionState.conf.sessionLocalTimeZone
          try Option(Cast(l, DateType, Some(zone)).eval(null))
            .map(v => (v.asInstanceOf[Int].toLong, 0L))
          catch { case _: Exception => None }
        case (DateType | TimestampType | TimestampNTZType | StringType,
            TimestampType | TimestampNTZType) =>
          val crossing = (l.dataType, t) match {
            case (TimestampType, TimestampNTZType) |
                (TimestampNTZType, TimestampType) => true
            case _ => false
          }
          val zone = spark.sessionState.conf.sessionLocalTimeZone
          val slack =
            if (crossing &&
              !java.time.ZoneId.of(zone).getRules.isFixedOffset)
              86400L * 1000000L
            else 0L
          try Option(Cast(l, t, Some(zone)).eval(null))
            .map(v => (v.asInstanceOf[Long], slack))
          catch { case _: Exception => None }
        case _ => None
      }
    def incr(v: Long): Long = if (v == Long.MaxValue) v else v + 1
    // slack-widened bound helpers (micros values sit far from Long's
    // edges, but keep the MaxValue sentinel intact)
    def loosenLo(v: Long, slack: Long): Long =
      if (v == Long.MinValue) v else v - slack
    def loosenHi(v: Long, slack: Long): Long =
      if (v >= Long.MaxValue - slack) Long.MaxValue else v + slack
    // fold bounds per column over the conjuncts, both operand orders
    val bounds =
      scala.collection.mutable.LinkedHashMap.empty[String, (Long, Long)]
    def narrow(f: StructField, lo: Option[Long], hi: Option[Long]): Unit = {
      val (l0, h0) =
        bounds.getOrElse(f.name, (Long.MinValue, Long.MaxValue))
      bounds(f.name) =
        (math.max(l0, lo.getOrElse(Long.MinValue)),
          math.min(h0, hi.getOrElse(Long.MaxValue)))
    }
    def fold(e: Expression): Unit = e match {
      case c: BinaryComparison if c.right.isInstanceOf[Literal] =>
        for (f <- colOf(c.left);
             (v, s) <- unit(c.right.asInstanceOf[Literal], f.dataType)) c match {
          case _: GreaterThanOrEqual => narrow(f, Some(loosenLo(v, s)), None)
          case _: GreaterThan => narrow(f, Some(loosenLo(incr(v), s)), None)
          case _: LessThan => narrow(f, None, Some(loosenHi(v, s)))
          case _: LessThanOrEqual => narrow(f, None, Some(loosenHi(incr(v), s)))
          case _: EqualTo =>
            narrow(f, Some(loosenLo(v, s)), Some(loosenHi(incr(v), s)))
          case _ => () // <=> does not narrow
        }
      // literal-first spellings mirror with flipped comparison
      case GreaterThanOrEqual(l: Literal, a) => fold(LessThanOrEqual(a, l))
      case GreaterThan(l: Literal, a) => fold(LessThan(a, l))
      case LessThan(l: Literal, a) => fold(GreaterThan(a, l))
      case LessThanOrEqual(l: Literal, a) => fold(GreaterThanOrEqual(a, l))
      case EqualTo(l: Literal, a) => fold(EqualTo(a, l))
      case _ => () // unrecognized conjunct: doesn't narrow, stays sound
    }
    conjuncts(where).foreach(fold)
    // prefer a two-sided range; else any one-sided bound still prunes
    val useful = bounds.filter { case (_, (lo, hi)) =>
      lo != Long.MinValue || hi != Long.MaxValue }
    useful.find { case (_, (lo, hi)) =>
      lo != Long.MinValue && hi != Long.MaxValue }
      .orElse(useful.headOption)
      .map { case (c, (lo, hi)) => (c, lo, hi) }
  }

  /** Resolve a DML target to its storage path, run the rewrite, refresh
    * the catalog's file listing, and report (n_files, n_rewritten). */
  private[engine] def withTablePath(spark: SparkSession, table: String)(
      op: String => Dml.Stats): DataFrame = {
    val stats = op(tablePath(spark, table))
    spark.catalog.refreshTable(table)
    import spark.implicits._
    Seq((stats.nFiles.toLong, stats.nRewritten.toLong))
      .toDF("n_files", "n_rewritten")
  }

  /** The directory of a catalog table's copy-on-write layout — the one
    * place a table's metadata is resolved for the rewriter, refusing the
    * shapes it cannot mutate. */
  private[engine] def tablePath(spark: SparkSession, table: String): String = {
    val catalog = spark.sessionState.catalog
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
    require(!catalog.isTempView(ident),
      s"DML target '$table' is a view over registered files — only catalog" +
        " tables are mutable")
    val meta = catalog.getTableMetadata(ident)
    // the rewriter reads/writes parquet part files; a csv/json/orc table
    // (or a view) would silently no-op (no .parquet files to rewrite) —
    // refuse loudly
    require(meta.tableType != org.apache.spark.sql.catalyst.catalog
      .CatalogTableType.VIEW &&
      meta.provider.exists(_.equalsIgnoreCase("parquet")),
      s"DML target '$table' uses provider ${meta.provider.getOrElse("?")} —" +
        " the copy-on-write rewriter supports parquet tables")
    // a PARTITIONED BY table keeps its data in partition subdirectories;
    // Dml.dataFiles lists only the top level, so the rewrite would find 0
    // files and report success while mutating nothing — refuse loudly
    // (same silent-no-op class as the provider guard above)
    require(meta.partitionColumnNames.isEmpty,
      s"DML target '$table' is partitioned by " +
        s"${meta.partitionColumnNames.mkString(", ")} — the copy-on-write" +
        " rewriter supports unpartitioned parquet tables")
    java.nio.file.Paths.get(meta.location).toString
  }

  // --- PRIMARY KEY metadata + enforcement (round 19) ----------------------
  //
  // DuckDB's INSERT OR REPLACE/IGNORE shorthand resolves its conflict
  // key from the table's PRIMARY KEY — metadata this engine previously
  // refused to accept (and with it, the shorthand). The round-19 deal:
  // the routed column-list CREATE TABLE records a declared PRIMARY KEY
  // in a session registry, and every ROUTED write path then ENFORCES it
  // (plain INSERT, COPY FROM, key-assigning UPDATE) exactly as DuckDB
  // does — measured: every insert flavor refuses a key repeated within
  // the batch; plain INSERT/COPY refuse collisions with existing rows;
  // UPDATE refuses an assignment that duplicates a key; NULL keys
  // refuse. Accepting the constraint WITHOUT the checks would be the
  // silent-wrongness this file refuses elsewhere (the old rationale for
  // rejecting PRIMARY KEY outright); with them, the shorthand routes.
  // Known non-enforcing path: MERGE INTO — Spark-native surface DuckDB
  // 1.x does not parse, so no migrating DuckDB script reaches it; its
  // route documents the gap.
  // The registry itself (name → key columns in the declared spelling,
  // plus per-name generations) is per session, in `EngineState`. Every
  // routed CREATE of a name clears the old entry (the column-list route
  // re-registers when it declares a key); DROP TABLE clears; ALTER
  // RENAME COLUMN follows the rename; ALTER DROP COLUMN of a key column
  // refuses (as DuckDB refuses dropping an indexed column).

  /** Registry key for a table spelling: backquotes stripped, lowercased,
    * and QUALIFIED with the resolved database — an unqualified spelling
    * takes the session's current database (ADVICE r20: dropping the
    * qualifier collapsed db1.t and db2.t into one entry, so a PK
    * registered for one was enforced on — or retired by — the other
    * whenever column names lined up). A qualified or quoted CREATE and
    * a bare INSERT in the same database still meet in the SAME entry. */
  private[engine] def pkName(spark: SparkSession, raw: String): String = {
    val unq = raw.trim.stripPrefix("`").stripSuffix("`")
    val (db, bare) =
      if (unq.contains('.')) {
        val i = unq.lastIndexOf('.')
        (unq.substring(0, i), unq.substring(i + 1))
      } else (spark.catalog.currentDatabase, unq)
    s"${db.replace("`", "").toLowerCase}." +
      bare.stripPrefix("`").stripSuffix("`").toLowerCase
  }

  /** The name the catalog APIs resolve for a table's name parts: a
    * current-database qualifier drops, and a part is quoted only when it
    * must be (a quoted plain word reads bare). */
  private def catalogName(spark: SparkSession, parts: Seq[String]): String =
    QuotingUtils.quoteNameParts(parts match {
      case Seq(db, t) if db.equalsIgnoreCase(spark.catalog.currentDatabase) =>
        Seq(t)
      case ps => ps
    })

  /** An INSERT target's written spelling as [[catalogName]]. */
  private[engine] def tableRef(spark: SparkSession, raw: String): String =
    catalogName(spark,
      spark.sessionState.sqlParser.parseMultipartIdentifier(raw))

  /** The registered key of `table`, validated against its CURRENT
    * schema — a table re-created or renamed outside the routed paths
    * drops its stale entry instead of enforcing a phantom constraint. */
  private[engine] def pkOf(
      spark: SparkSession, table: String): Option[Seq[String]] = {
    val ident = table.trim.stripPrefix("`").stripSuffix("`")
    EngineState.of(spark).pkValidated(pkName(spark, table)) { keys =>
      spark.catalog.tableExists(ident) && {
        val fields = spark.table(ident).schema.fieldNames
        keys.forall(k => fields.exists(_.equalsIgnoreCase(k)))
      }
    }
  }

  /** Refuse a key repeated WITHIN the written batch or a NULL in any
    * key column — both halves of the PRIMARY KEY contract DuckDB
    * enforces on every insert flavor (measured: plain INSERT and OR
    * IGNORE raise 'duplicate key', OR REPLACE raises 'can not update
    * the same row twice in the same command'; NULL keys violate the
    * implied NOT NULL). `facts` is the batch's one source-key aggregate
    * (`Dml.sourceKeys`), which also carries the span the footer prune
    * consumes. */
  private[engine] def requirePkSound(
      facts: Dml.SourceKeys, keys: Seq[String], what: String): Unit = {
    if (facts.nullKey.isDefined) throw new IllegalArgumentException(
      s"$what: NULL in PRIMARY KEY column(s) ${keys.mkString(", ")}" +
        " violates the constraint (as in DuckDB)")
    facts.duplicate.foreach { v =>
      val key = keys.zipWithIndex
        .map { case (k, i) => s"$k: ${v.get(i)}" }.mkString(", ")
      throw new IllegalArgumentException(
        s"""$what: duplicate key "$key" violates the PRIMARY KEY""" +
          " constraint (repeated within the written rows, as in DuckDB)")
    }
  }

  /** True when `p` holds for a node of `plan` OR of any subquery plan
    * under it, nested ones included. `TreeNode.exists` walks children
    * only, so a classifier built on it misses a LIMIT or a table read
    * inside `(SELECT ...)`; every source classifier here goes through
    * this walker instead. */
  private[engine] def planExists(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)(
      p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan => Boolean)
      : Boolean =
    (plan +: plan.subqueriesAll).exists(_.exists(p))

  /** Snapshot a source only when it actually needs it: a
    * non-deterministic or current-time expression would make the
    * checked rows differ from the landed ones (each action re-plans,
    * so even current_timestamp moves between jobs); a stable source
    * skips the checkpoint job and its materialization. Same expression
    * classes as RETURNING's refusal (`unstableExprs`) — PLUS (r22, ADVICE r21) the
    * plan shapes that are Catalyst-deterministic yet ROW-SET-unstable
    * across evaluations: LIMIT/OFFSET/TABLESAMPLE without a total
    * order, dropDuplicates' arbitrary representative, window functions
    * over a possibly-non-total order, and tie-arbitrary aggregates
    * (first/last/any_value/max_by/min_by/mode/collect_*). Each
    * evaluation of such a plan may legally return DIFFERENT rows, so
    * the uniqueness guard could certify rows the write never lands —
    * the checkpoint makes every consumer see one snapshot. Conservative
    * by construction: pinning a stable source costs one small job;
    * skipping the pin on an unstable one corrupts the check. */
  private[engine] def stableSnapshot(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.aggregate.{
      AggregateExpression, AnyValue, Collect, First, Last, MaxMinBy, Mode}
    import org.apache.spark.sql.catalyst.plans.{logical => l}
    val plan = df.queryExecution.analyzed
    val orderUnstable = planExists(plan) {
      case _: l.GlobalLimit | _: l.LocalLimit | _: l.Offset | _: l.Tail |
          _: l.Sample | _: l.Deduplicate | _: l.Window => true
      case a: l.Aggregate => a.aggregateExpressions.exists(_.exists {
        case ae: AggregateExpression => ae.aggregateFunction match {
          case _: First | _: Last | _: AnyValue | _: Collect[_] |
              _: MaxMinBy | _: Mode => true
          case _ => false
        }
        case _ => false
      })
      case _ => false
    }
    if (unstableExprs(df) || orderUnstable) df.localCheckpoint(true) else df
  }

  /** True when the plan, its subqueries included, evaluates a
    * non-deterministic or current-time expression — each evaluation
    * may yield other values. */
  private def unstableExprs(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.{
      CurrentDate, CurrentTimestamp, LocalTimestamp, Now}
    planExists(df.queryExecution.analyzed)(p =>
      p.expressions.exists(e => e.exists {
        case x if !x.deterministic => true
        case _: CurrentTimestamp | _: CurrentDate | _: Now |
            _: LocalTimestamp => true
        case _ => false
      }))
  }

  /** The footer-prunable layout of a PRIMARY KEY table: its data files
    * and key fields, when `table` is an unpartitioned parquet catalog
    * table with an INT64 head key — the shapes whose footer statistics
    * fold to a key range. Metadata only, no job; any failure
    * (unroutable name, missing table, unlistable directory) yields None
    * and the caller scans the whole table. */
  private[engine] def pkLayout(
      spark: SparkSession, table: String,
      keys: Seq[String]): Option[(Seq[Path], Seq[StructField])] =
    try {
      val ident = tableRef(spark, table)
      val path = tablePath(spark, ident)
      val schema = spark.table(ident).schema
      val fields =
        keys.map(k => schema.fields.find(_.name.equalsIgnoreCase(k)).get)
      if (fields.head.dataType != org.apache.spark.sql.types.LongType) None
      else Some((Dml.layoutFiles(path), fields))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** The key columns of the layout's rows a batch with head-key `span`
    * can collide with: only files whose head-key footer [min,max]
    * overlaps the span are read (sound: a colliding row's key ∈ batch
    * span ⇒ its file's range overlaps). Zero overlapping files (an
    * empty batch, a span in a gap) is an empty relation — provably no
    * collision, no read. */
  private[engine] def pkSlice(
      spark: SparkSession, layout: (Seq[Path], Seq[StructField]),
      span: Option[(Long, Long)]): DataFrame = {
    val (files, fields) = layout
    Dml.keysIn(spark,
      Dml.keyFiles(spark, files, Some(fields.head.name), span), fields)
  }

  /** The PRIMARY KEY check of a written batch, before any write — so a
    * refused statement lands nothing (DuckDB's statement atomicity,
    * measured): ONE aggregate over the (pinned) batch certifies
    * in-batch soundness and yields its head-key span, then the batch's
    * keys probe the footer-pruned slice of the table for a collision.
    * Join shape for scale: the slice probes a BROADCAST of the batch's
    * keys (map-side semi-join, one scan, no table shuffle) — the batch
    * is the small side by construction. On a key-clustered 100 TB
    * layout a small INSERT reads footers plus a handful of files
    * instead of the table; a table that is not a prunable layout
    * (`pkLayout`) is scanned whole. The span is sound for the probe
    * because both read the SAME pinned source (callers pass
    * stableSnapshot-pinned batches). */
  private[engine] def requireSoundAbsentKeys(
      spark: SparkSession, table: String, source: DataFrame,
      keys: Seq[String], what: String): Unit = {
    import org.apache.spark.sql.functions.{broadcast, col}
    val layout = pkLayout(spark, table, keys)
    val facts = Dml.sourceKeys(source, keys, withSpan = layout.isDefined)
    requirePkSound(facts, keys, what)
    layout.fold(spark.table(table))(pkSlice(spark, _, facts.span))
      .join(broadcast(source.select(keys.map(col): _*)), keys, "left_semi")
      .limit(1).collect().headOption.foreach { r =>
        val key = keys.map(k => s"$k: ${r.getAs[Any](k)}").mkString(", ")
        throw new IllegalArgumentException(
          s"""$what: duplicate key "$key" violates the PRIMARY KEY""" +
            s" constraint on $table (as in DuckDB) — INSERT OR REPLACE /" +
            " INSERT OR IGNORE / ON CONFLICT spell the upsert intents")
      }
  }

  /** NULL-pad a bound subset-insert to the target's full schema —
    * DuckDB's subset-insert behavior; shared by RETURNING and the
    * PK-enforced insert routes. */
  private[engine] def paddedToTarget(
      spark: SparkSession, table: String, landed: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val full = spark.table(table).schema.fields.toSeq.map { f =>
      if (landed.columns.exists(_.equalsIgnoreCase(f.name))) col(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }
    landed.select(full: _*)
  }

  private[engine] def requireKeysBound(
      landed: DataFrame, keys: Seq[String], what: String): Unit =
    keys.foreach(k =>
      require(landed.columns.exists(_.equalsIgnoreCase(k)),
        s"$what must provide PRIMARY KEY column $k — an omitted key" +
          " would land NULL and violate the constraint (as in DuckDB)"))

  /** Plain INSERT INTO a table with a registered PRIMARY KEY: bind the
    * source once (snapshotted only when unstable — see stableSnapshot),
    * enforce NULL / batch / table uniqueness, then append. PK-less
    * tables never reach this route — their inserts stay on Spark's
    * native path. */
  private[engine] def runCheckedInsert(
      spark: SparkSession, table: String, body: String,
      keys: Seq[String]): DataFrame = {
    val landed = stableSnapshot(boundInsertSource(spark, table, body))
    requireKeysBound(landed, keys, s"INSERT INTO $table")
    requireSoundAbsentKeys(spark, table, landed, keys, s"INSERT INTO $table")
    paddedToTarget(spark, table, landed)
      .write.mode("append").insertInto(table)
    spark.emptyDataFrame
  }

  /** INSERT OR REPLACE / OR IGNORE — the shorthand whose conflict key
    * IS the table's PRIMARY KEY. REPLACE is delete+insert per
    * conflicting key (missing subset columns land NULL — measured),
    * mapped onto the key-span-pruned merge; IGNORE drops conflicting
    * incoming rows (insert-if-absent). Both refuse in-batch duplicate
    * keys and NULL keys, as DuckDB does. */
  private[engine] def runInsertOrShorthand(
      spark: SparkSession, kind: String, table: String,
      body: String): DataFrame = {
    val verb = s"INSERT OR ${kind.toUpperCase}"
    val keys = pkOf(spark, table).getOrElse(
      throw new IllegalArgumentException(
        s"$verb INTO $table resolves its conflict key from the table's" +
          " PRIMARY KEY, and this table has none registered — declare" +
          " one in the routed CREATE TABLE (col TYPE PRIMARY KEY /" +
          " PRIMARY KEY (cols)), or name the key explicitly: INSERT ..." +
          " ON CONFLICT (keys) DO " +
          (if (kind.equalsIgnoreCase("REPLACE"))
            "UPDATE SET col = EXCLUDED.col, ..." else "NOTHING")))
    val landed = stableSnapshot(boundInsertSource(spark, table, body))
    requireKeysBound(landed, keys, s"$verb INTO $table")
    // the merge's one source-key aggregate refuses with the PRIMARY
    // KEY's messages (NULL keys too), not MERGE's duplicate refusal
    val refuse = Some((f: Dml.SourceKeys) => requirePkSound(f, keys, verb))
    val padded = paddedToTarget(spark, table, landed)
    val nonKeys = spark.table(table).schema.fieldNames.toSeq
      .filterNot(f => keys.exists(_.equalsIgnoreCase(f)))
    withTablePath(spark, table) { path =>
      if (kind.equalsIgnoreCase("REPLACE"))
        Dml.mergeIntoAll(spark, path, padded, keys, nonKeys, refuse)
      else Dml.insertOnlyAll(spark, path, padded, keys, refuse)
    }
  }

}
