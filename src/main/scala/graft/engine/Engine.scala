package graft.engine

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import EngineLex.{codeMask, finds}

/** The engine's SQL execution surface — the Spark analog of the reference's
  * single delegation point (`/root/reference/src/duckdb.ts:46-59`: `query`,
  * `exec`, `send` wrapping one DuckDB connection). Spark's `spark.sql` plays
  * the role of `conn.query`; the temp-view catalog plays the virtual FS of
  * registered files.
  *
  * Scale note: these run arbitrary user SQL through Catalyst — pushdown,
  * pruning, AQE all apply. Nothing here materializes on the driver except
  * `stream`, which pulls one partition at a time (the analog of the
  * reference's Arrow record-batch iterator, used only for export).
  */
object Engine
    extends EngineLex with EngineDialect with EngineDialectTail with EngineDml
    with EngineIntrospect {

  /** A6: materializing query — one statement, full result. Lazy DataFrame;
    * the caller decides how to materialize (collect page / iterator).
    * Quoted path literals in FROM/JOIN position are rewritten to
    * registered views first (Catalog.rewritePathTables) so the
    * reference's `FROM 'file.csv'` dialect works for every supported
    * format, not just parquet's native path syntax. Runs under the
    * local executor's task loader (`TaskLoader`), so a class a routed
    * statement compiles on the driver is the one its tasks reuse. */
  def sql(spark: SparkSession, statement: String): DataFrame =
    TaskLoader.within(spark)(route(spark, statement))

  private def route(spark: SparkSession, statement: String): DataFrame = {
    // DuckDB introspection one-liners a reference user types verbatim
    // (delegated surface, /root/reference/src/duckdb.ts:46-49): Spark has
    // no SUMMARIZE statement and spells DESCRIBE-a-query `DESCRIBE
    // QUERY`, so both route to the engine's describe/summarize — the
    // target may be a table name, a quoted path table, or a full SELECT.
    // dollar-quoted strings convert FIRST, on the raw text: their
    // bodies may contain quote characters that would desynchronize
    // every downstream keyword scan (see rewriteDollarQuotes)
    val trimmed =
      rewriteDollarQuotes(statement).trim.stripSuffix(";").trim
    // EVERY routed CREATE of a view/table makes its target a USER
    // relation — release any auto-registration claim on the name here,
    // once, so no individual route (AS-body DDL, CREATE OR REPLACE
    // TABLE, plain column-list CREATE) can forget to
    ddlCreateNameRe.findFirstMatchIn(trimmed).foreach { m =>
      Catalog.releaseAutoClaim(spark,
        m.group(1).stripPrefix("`").stripSuffix("`"))
    }
    // a routed CREATE TABLE (never VIEW) or DROP TABLE retires any
    // PRIMARY KEY registered for the name — but only AFTER the
    // statement SUCCEEDS (a failed CREATE must not disarm the
    // surviving table's constraint), and not for an IF NOT EXISTS
    // no-op on an existing table (nothing was replaced). The plan is
    // computed here, pre-execution, because the IF NOT EXISTS decision
    // needs the BEFORE-state of the catalog; it applies below, after
    // the dispatch returns without throwing. The per-name pkGen guard keeps a
    // statement that itself registered a key (column-list CREATE with
    // a PK clause, including via the TEMP TABLE / OR REPLACE
    // recursions) from erasing its own registration.
    val pkRetirePlan: Option[String] =
      ddlCreateTableNameRe.findFirstMatchIn(trimmed) match {
        case Some(m) =>
          val name = pkName(spark, m.group(2))
          if (m.group(1) != null && spark.catalog.tableExists(
              m.group(2).stripPrefix("`").stripSuffix("`"))) None
          else Some(name)
        case None =>
          dropTableNameRe.findFirstMatchIn(trimmed).map(m => pkName(spark, m.group(1)))
      }
    // per-name generation snapshot (ADVICE r20): retirement is vetoed
    // only by a registration OF THIS NAME during the statement, never by
    // a concurrent registration of an unrelated name
    val state = EngineState.of(spark)
    val pkGenBefore = pkRetirePlan.map(n => (n, state.pkGen(n)))
    def retirePkAfterSuccess(): Unit =
      pkGenBefore.foreach { case (name, gen) =>
        state.pkRetireIfUnchanged(name, gen)
      }
    // INSERT … RETURNING (DuckDB/Postgres); DML reads its own (runDml)
    if (firstWord(trimmed) == "INSERT") splitReturning(trimmed) match {
      case (stmt, Some(ret)) => return runInsertReturning(spark, stmt, ret)
      case _ => ()
    }
    val summarizeRe = "(?is)^SUMMARIZE\\s+(.+)$".r
    val describeSelRe = "(?is)^DESCRIBE\\s+(SELECT\\b.+)$".r
    val describePathRe = "(?is)^DESCRIBE\\s+'([^']+)'$".r
    val describeFnRe = "(?is)^DESCRIBE\\s+(read_\\w+\\s*\\(.+\\))\\s*$".r
    val routed = trimmed match {
      case summarizeRe(target) => summarize(sqlTarget(spark, target))
      case describeSelRe(sel) => describe(sql(spark, sel))
      case describePathRe(path) =>
        // DESCRIBE 'file.parquet' — DuckDB describes a path table like
        // any relation; route through the quoted-path rewrite so every
        // supported format works (still driver-side metadata, no job)
        describe(sqlTarget(spark, s"'$path'"))
      case describeFnRe(call) =>
        // DESCRIBE read_parquet('…') — the table-function spelling of
        // the same introspection one-liner
        describe(sqlTarget(spark, call))
      case txnNoopRe() =>
        // BEGIN/COMMIT/END: DuckDB scripts bracket work in transactions;
        // this engine auto-commits each statement, and starting/closing
        // a transaction that contains only auto-committed statements is
        // a no-op — SEMANTICS differ only at ROLLBACK, which refuses
        // below instead of silently not rolling back
        spark.emptyDataFrame
      case rollbackRe() =>
        throw new IllegalArgumentException(
          "ROLLBACK is not supported: statements auto-commit (no" +
            " transaction log) — a rollback promise cannot be honored")
      case createIndexRe(unique, name) =>
        // CREATE INDEX is a physical-layout hint DuckDB users carry in
        // schema scripts; Spark has no index objects and the engine's
        // analog (footer-stats pruning over clustered layouts) needs no
        // declaration — a plain index no-ops so migrating scripts run.
        // UNIQUE refuses: it promises a CONSTRAINT this engine cannot
        // enforce, and silently dropping a constraint is wrongness.
        if (unique != null) throw new IllegalArgumentException(
          s"CREATE UNIQUE INDEX $name: uniqueness constraints are not" +
            " enforced by this engine — validate with a COUNT(*) vs" +
            " COUNT(DISTINCT key) check instead")
        spark.emptyDataFrame
      case dropIndexRe() => spark.emptyDataFrame
      case macroStmtRe(orReplace, rest) =>
        runCreateMacro(spark, orReplace != null, rest)
        spark.emptyDataFrame
      case dropMacroRe(ifExists, name) =>
        runDropMacro(spark, ifExists != null, name)
        spark.emptyDataFrame
      case alterAddColRe(table, ifNot, colName, typeText) =>
        // DuckDB's singular ADD COLUMN c TYPE re-spells onto Spark's
        // ADD COLUMNS (c TYPE) — existing rows read NULL in both
        // engines. A DEFAULT clause refuses: DuckDB backfills existing
        // rows with the default, which here would be a full rewrite —
        // add the column, then UPDATE it (the routed UPDATE does the
        // rewrite explicitly).
        require(firstTopLevelKeyword(typeText, Seq("DEFAULT")).isEmpty,
          s"ALTER TABLE $table ADD COLUMN ... DEFAULT is not routed:" +
            " existing rows would need a backfill rewrite — add the" +
            " column, then UPDATE it")
        val c = colName.stripPrefix("`").stripSuffix("`")
        if (ifNot != null && spark.table(table).schema.fields
            .exists(_.name.equalsIgnoreCase(c))) spark.emptyDataFrame
        // mapTypeText (not Catalog.duckTypeToSpark): the routed CREATE
        // TABLE path accepts parameterized and array spellings
        // (VARCHAR(20), TEXT[], ARRAY<INT>) via mapTypeText — the same
        // column must be addable as it is creatable.
        else spark.sql(s"ALTER TABLE $table ADD COLUMNS" +
          s" (${Sql.sqlIdentifier(c)} ${mapTypeText(typeText.trim)})")
      case alterDropColRe(table, ifExists, colName) =>
        // a PRIMARY KEY column cannot be dropped (DuckDB refuses
        // dropping an indexed column too); non-key columns drop freely
        val dropped = colName.stripPrefix("`").stripSuffix("`")
        pkOf(spark, table).foreach { keys =>
          require(!keys.exists(_.equalsIgnoreCase(dropped)),
            s"ALTER TABLE $table DROP COLUMN $dropped: the column is" +
              " part of the PRIMARY KEY (as in DuckDB) — re-create the" +
              " table to change its key")
        }
        runAlterDropColumn(spark, table, ifExists != null, colName)
      case alterRenameColRe(table, oldName, newName) =>
        val out = runAlterRenameColumn(spark, table, oldName, newName)
        // a renamed key column follows in the PK registry
        state.pkRenameColumn(pkName(spark, table),
          oldName.stripPrefix("`").stripSuffix("`"),
          newName.stripPrefix("`").stripSuffix("`"))
        out
      case prepareRe(name, text) =>
        // PREPARE stores the RAW statement text; binding and the full
        // router (every dialect shim included) apply at EXECUTE time, so
        // prepared statements compose with the same surface typed SQL gets
        state.prepared.update(name.toLowerCase, text)
        spark.emptyDataFrame
      case executeRe(name, argText) =>
        val stored = state.prepared.getOrElse(name.toLowerCase,
          throw new IllegalArgumentException(
            s"EXECUTE $name: no prepared statement with this name —" +
              " PREPARE it first"))
        val args = Option(argText).map(splitTopLevel(_, ','))
          .getOrElse(Nil).map(_.trim).filter(_.nonEmpty)
        // `name := expr` arguments bind DuckDB's NAMED parameters
        // ($name placeholders); plain arguments bind positionally
        val namedArgRe = "(?s)^([A-Za-z_]\\w*)\\s*:=\\s*(.+)$".r
        val named = args.collect {
          case namedArgRe(k, v) => k.toLowerCase -> v.trim
        }
        require(named.isEmpty || named.size == args.size,
          s"EXECUTE $name mixes named (k := v) and positional arguments")
        sql(spark, bindPrepared(stored,
          if (named.nonEmpty) Nil else args, named.toMap))
      case deallocRe(name) =>
        if (state.prepared.remove(name.toLowerCase).isEmpty)
          throw new IllegalArgumentException(
            s"DEALLOCATE $name: no prepared statement with this name")
        spark.emptyDataFrame
      case attachRe(kw) =>
        // DuckDB's multi-catalog surface; this engine runs ONE session
        // catalog over registered files — refuse with the working
        // alternatives rather than a raw parse error
        throw new IllegalArgumentException(
          s"${kw.toUpperCase} is not supported: this engine has a single" +
            " session catalog — register the files as path tables/views" +
            " (read_parquet/read_csv), or IMPORT DATABASE 'dir' for a" +
            " directory exported by EXPORT DATABASE")
      case dml if Set("DELETE", "UPDATE", "MERGE")(firstWord(dml)) =>
        // RETURNING and the join spellings included: one clause pass,
        // one parse by Spark's parser, the copy-on-write rewriter
        runDml(spark, dml)
      case ins if insertConflictSplit(ins).isDefined =>
        val (table, body, keys, doUpdate) = insertConflictSplit(ins).get
        runUpsert(spark, table, body, keys, doUpdate)
      case insertOrRe(kind, table, body) =>
        // DuckDB's INSERT OR REPLACE/IGNORE shorthand resolves the key
        // from the table's PRIMARY KEY — registered by the routed
        // column-list CREATE TABLE since round 19 (a PK-less target
        // still refuses, naming the explicit ON CONFLICT spelling)
        runInsertOrShorthand(spark, kind, tableRef(spark, table), body)
      case insertHeadRe(table, body) if pkOf(spark, table).isDefined =>
        // plain INSERT into a PRIMARY-KEY'd table takes the ENFORCED
        // route (NULL/batch/table uniqueness checked before any write,
        // as DuckDB's constraint does); PK-less inserts fall through to
        // Spark's native path below, unchanged — the table may be
        // spelled bare, backquoted, or current-db-qualified
        runCheckedInsert(spark, tableRef(spark, table), body,
          pkOf(spark, table).get)
      case copyFromRe(table, path, opts) =>
        runCopyFrom(spark, table, path, Option(opts))
      case exportDbRe(dir, opts) =>
        runExportDatabase(spark, dir, Option(opts))
      case importDbRe(dir) =>
        val script = java.nio.file.Files.readString(
          java.nio.file.Paths.get(dir, "load.sql"))
        runScript(spark, script).getOrElse(spark.emptyDataFrame)
      case copyRe(src, path, opts) => runCopy(spark, src, path, Option(opts))
      case pragmaTableInfoRe(t1, t2) =>
        // PRAGMA table_info('t') — DuckDB's column-introspection
        // one-liner, in DuckDB's EXACT output shape (cid, name, type,
        // notnull, dflt_value, pk — r18): notnull is real schema
        // metadata; dflt_value/pk are always NULL/false (no constraint
        // metadata here). Driver-side metadata, no job.
        tableInfo(spark.table(Option(t1).getOrElse(t2)))
      case pragmaSettingRe() =>
        // assignment-shaped PRAGMAs (PRAGMA threads=4, PRAGMA
        // memory_limit='2GB', PRAGMA enable_progress_bar(false)) are
        // host-tuning hints with no object here — migrating scripts
        // carry them, so they no-op; BARE introspection pragmas other
        // than the two routed above still fail loudly (silently
        // returning nothing for PRAGMA version would be wrongness)
        spark.emptyDataFrame
      case maintenanceNoopRe(kw) =>
        // VACUUM (DuckDB documents it as a near-no-op), bare ANALYZE
        // (statistics live in parquet footers here — always current,
        // nothing to recompute), CHECKPOINT (no WAL to flush; parquet
        // is already at rest): each is a maintenance verb whose WORK
        // this engine's storage model has no analog of, so the
        // statement no-ops rather than failing a migrating script.
        // Spark's own ANALYZE TABLE ... COMPUTE STATISTICS does not
        // match this route and passes through untouched.
        spark.emptyDataFrame
      case pragmaShowTablesRe() =>
        spark.sql("SHOW TABLES")
          .select(org.apache.spark.sql.functions.col("tableName").as("name"))
      case truncateRe(name) =>
        // DuckDB spells it without the TABLE keyword; Spark requires it.
        // Both spellings land here (the engine's TEMP TABLE route makes
        // truncatable catalog tables); a PARTITION-spec TRUNCATE is
        // Spark-native surface and passes through the default branch.
        spark.sql(s"TRUNCATE TABLE $name")
      case showAllTablesRe() => showAllTables(spark)
      case useNoopRe(target)
          if Set("memory", "main", "memory.main")(target.toLowerCase) =>
        // USE memory / USE main — DuckDB's own default catalog/schema
        // names, carried by migrating scripts (often right after an
        // ATTACH): selecting the default is a no-op here. Any other USE
        // passes through to Spark's USE (real databases exist).
        spark.emptyDataFrame
      case sequenceRe(verb) =>
        throw new IllegalArgumentException(
          s"$verb SEQUENCE is not supported: a sequence serializes id" +
            " assignment through a single counter — at this engine's" +
            " scale generate ids with row_number() OVER (ORDER BY …)," +
            " monotonically_increasing_id(), or uuid()")
      case explainAnalyzeRe(rest) =>
        // DuckDB's EXPLAIN ANALYZE runs the statement and returns the
        // plan; Spark has no SQL spelling for an EXECUTED plan, so the
        // route runs the routed query to completion through the noop
        // sink (as Bench does — count() lets Catalyst prune final
        // projections/sorts, so the timed execution would not match the
        // displayed plan) and returns the formatted physical plan plus
        // the measured wall time, in DuckDB's two-column shape. Plan
        // TEXT is engine-specific by nature (like DESCRIBE).
        val df = sql(spark, rest)
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val secs = (System.nanoTime() - t0) / 1e9
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        val st = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField(
            "explain_key", org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField(
            "explain_value", org.apache.spark.sql.types.StringType)))
        spark.createDataFrame(
          java.util.Arrays.asList(
            Row("analyzed_plan", plan),
            Row("total_time", f"$secs%.3f s")), st)
      case showTableRe(name)
          if !ShowKeywords.contains(name.toLowerCase) &&
            spark.catalog.tableExists(name) =>
        // DuckDB's `SHOW <table>` is DESCRIBE shorthand; Spark's SHOW
        // grammar has no such form. Guarded by tableExists so Spark's
        // own SHOW statements (TABLES/DATABASES/…) pass through and a
        // typo'd name still gets Spark's loud SHOW parse error
        describe(spark.table(name))
      case pivotStmtRe(rest) => runPivotStatement(spark, rest)
      case unpivotStmtRe(rest) => sql(spark, unpivotStatementSql(rest))
      case tempTableRe(orReplace, ifNotExists, rest) =>
        // DuckDB scripts lean on CREATE TEMP TABLE; Spark has no
        // temporary TABLES (only lazily-evaluated temporary VIEWS —
        // "use CREATE TEMPORARY VIEW instead", which would silently
        // change INSERT/UPDATE semantics). The statement routes as the
        // MATERIALIZED catalog table it behaves as — writable,
        // INSERT-able, DML-routable — with ONE documented divergence:
        // lifetime is until DROP, not session end (this engine has no
        // session-scoped writable store to bind it to). Re-enters the
        // router so OR REPLACE takes the safe swap route and AS-bodies
        // get the dialect shims. A temp-table NAME is fresh per session
        // by definition, so a stale warehouse directory left by a
        // previous session's temp table (the in-memory catalog forgets
        // tables at JVM exit; their directories survive) clears when
        // the catalog holds no such table — without this, re-running a
        // temp-table script in a new session dies on
        // LOCATION_ALREADY_EXISTS, which no DuckDB script expects.
        "^[A-Za-z_]\\w*".r.findFirstIn(rest.trim).foreach { name =>
          if (!spark.catalog.tableExists(name)) {
            val loc = spark.sessionState.catalog.defaultTablePath(
              org.apache.spark.sql.catalyst.TableIdentifier(name))
            val dir = java.nio.file.Paths.get(loc)
            if (java.nio.file.Files.exists(dir)) {
              import scala.jdk.CollectionConverters._
              java.nio.file.Files.walk(dir).iterator().asScala.toSeq
                .reverse.foreach(java.nio.file.Files.deleteIfExists(_))
            }
          }
        }
        sql(spark, "CREATE " + Option(orReplace).getOrElse("") +
          "TABLE " + Option(ifNotExists).getOrElse("") + rest)
      case corTableRe(name, rest) =>
        // DuckDB's CREATE OR REPLACE TABLE (its own oracle idiom for
        // idempotent scripts); Spark's v1 catalog only supports REPLACE
        // on v2 table formats, so the engine routes create-under-a-
        // temp-name, drop the original, rename into place: a CREATE that
        // FAILS (typo'd column, bad source) leaves the existing table
        // and its data fully intact — a naive drop-then-create would
        // have destroyed it before discovering the statement was broken
        // (DuckDB's REPLACE is transactional; this is the closest
        // non-transactional analog, with only a reader-visibility gap
        // between drop and rename). TEMPORARY VIEW replace is
        // Spark-native and never lands here (the regex requires TABLE
        // right after REPLACE).
        val tmp = s"${name}__graft_cor_tmp"
        spark.sql(s"DROP TABLE IF EXISTS $tmp")
        sql(spark, s"CREATE TABLE $tmp$rest")
        try {
          spark.sql(s"DROP TABLE IF EXISTS $name")
          spark.sql(s"ALTER TABLE $tmp RENAME TO $name")
        } catch {
          case e: Throwable =>
            // the replacement data survives under the temp name either way
            throw new IllegalStateException(
              s"CREATE OR REPLACE TABLE $name: swap failed after build —" +
                s" new data is intact under $tmp", e)
        }
        // a PRIMARY KEY declared in the replacement's column list was
        // registered under the BUILD name by the recursive CREATE —
        // follow the rename, so `CREATE OR REPLACE TABLE t (k …
        // PRIMARY KEY)` enforces on t, not on a ghost. No key in the
        // new definition → drop the replaced table's old entry (the
        // registry never outlives the definition that declared it).
        state.pkMove(pkName(spark, tmp), pkName(spark, name))
        spark.emptyDataFrame
      case ddl if splitCreateCols(ddl).isDefined =>
        // plain column-list CREATE TABLE: DuckDB type names map to
        // Spark's (TEXT/bare VARCHAR → STRING, TIMESTAMPTZ → TIMESTAMP,
        // TYPE[] → ARRAY<TYPE>, …); NOT NULL / DEFAULT ride through.
        // PRIMARY KEY (inline or table-level) is ACCEPTED since round
        // 19: it registers in the session PK registry and every routed
        // write path ENFORCES it (see EngineDml's PK block) — accepted
        // *because* it is enforced. The remaining enforcement
        // constraints (UNIQUE / CHECK / REFERENCES) still REFUSE — the
        // CREATE UNIQUE INDEX precedent: silently dropping a constraint
        // the engine cannot enforce would let violations land without
        // a sound.
        val (prefix, cols, suffix) = splitCreateCols(ddl).get
        val (defs, pk) = extractPrimaryKey(cols)
        // IF NOT EXISTS on an existing table is a catalog no-op — the
        // surviving table's registration must not move either way
        val ineNoop = ddlCreateTableNameRe.findFirstMatchIn(ddl).exists(m =>
          m.group(1) != null && spark.catalog.tableExists(
            m.group(2).stripPrefix("`").stripSuffix("`")))
        val out =
          spark.sql(s"$prefix(${defs.map(mapColumnDef).mkString(", ")})$suffix")
        if (!ineNoop) ddlCreateNameRe.findFirstMatchIn(ddl).foreach { m =>
          state.pkRegister(pkName(spark, m.group(1)), pk)
        }
        out
      case ddl if splitDdlAs(ddl).isDefined =>
        // CREATE …VIEW/TABLE … AS <query>: the dialect rewrites apply to
        // the query BODY (a saved view definition legitimately carries
        // QUALIFY / FROM-first / DISTINCT ON / read_parquet — the same
        // surface a top-level statement gets), then the DDL prefix goes
        // to Spark unchanged. The reference's own generated union-view
        // DDL (`CREATE OR REPLACE VIEW v AS SELECT * FROM
        // read_parquet([...]);`, /root/reference/src/App.tsx:316-327)
        // lands here verbatim: the body's table-function call rewrites
        // to a registered temp view, and because Spark refuses a
        // PERSISTENT view over temporary objects while the reference's
        // whole catalog is session-scoped (an in-memory DB), that one
        // refusal retries as the session-scoped TEMPORARY view it means.
        val (prefix, body) = splitDdlAs(ddl).get
        val rewrittenBody = rewriteQueryText(spark, body)
        try spark.sql(s"$prefix $rewrittenBody")
        catch {
          case e: org.apache.spark.sql.AnalysisException
              if e.getCondition == "INVALID_TEMP_OBJ_REFERENCE" &&
                ddl.matches("(?is)^CREATE\\s+(OR\\s+REPLACE\\s+)?VIEW\\b.*") =>
            val tempPrefix =
              prefix.replaceFirst("(?i)\\bVIEW\\b", "TEMPORARY VIEW")
            spark.sql(s"$tempPrefix $rewrittenBody")
        }
      case _ =>
        spark.sql(rewriteQueryText(spark, trimmed))
    }
    retirePkAfterSuccess()
    routed
  }

  private val readCall = finds("read_")

  /** The dialect shim table: the one rewrite pipeline, in order. A
    * top-level statement runs it whole, once; a query body (reached
    * through `subquery-bodies`, innermost first, or re-entered after a
    * reshaping shim) runs only its Query entries, and each Token entry
    * then scans the statement once (`Scope`). The order is data that
    * `ShimTableSpec` asserts:
    *   - FROM-first, DISTINCT ON and UNION BY NAME re-spell the
    *     statement into a new shape, whose Query pass re-enters;
    *   - subquery bodies run before every outer shim — their rewritten
    *     form is what the outer shims and the REPLACE/COLUMNS schema
    *     probes must see, and a body must be fully reshaped before its
    *     statement-level shims (QUALIFY, ASOF) wrap it;
    *   - nulls-order runs after agg-order-by: inline aggregate ORDER BYs
    *     are consumed into WITHIN GROUP / min_by first, and the
    *     null-order default then applies to every remaining (and
    *     generated WITHIN GROUP) sort key;
    *   - star-exclude runs before star-replace and columns, which read
    *     the EXCEPT spelling;
    *   - the bracket passes run after path tables, so a
    *     `read_parquet([…])` list is consumed as paths first;
    *     subscripts turns every adjacent bracket into a call, so the
    *     list comprehensions and the literal pass after it read each
    *     bracket left as a list. */
  private[engine] val shims: Vector[Shim] = Vector(
    TextShim("from-first", s => fromFirstRe.matches(s), Scope.Query,
      reenter = true)(
      _.s match { case fromFirstRe(rest) => fromFirstToSelect(rest) }),
    TextShim("distinct-on", s => donRe.matches(s), Scope.Query,
      reenter = true)(_.s match { case donRe(rest) => distinctOnToWindow(rest) }),
    Shim("union-by-name",
      finds("\\bBY\\s+NAME\\b", "^(SELECT|FROM|VALUES|WITH)\\b"),
      Scope.Query, reenter = true)((spark, lx) => rewriteUnionByName(spark, lx.s)),
    Shim("subquery-bodies", _.contains("("), Scope.Query)(rewriteSubqueryBodies),
    rewriteTildeMatch, rewriteAtTimeZone, rewriteIgnoreNulls,
    rewriteTrailingCommas, rewriteLambdaSyntax, rewriteAggOrderBy,
    checkPositionalJoin, checkCaretPow, rewriteIntDiv, rewriteDowField,
    rewriteDuckCastTypes, rewriteMaterializedCte, rewriteOrderByNulls,
    rewriteStarExclude, rewriteSimilarTo, rewriteGlob, rewriteDateDiff,
    Shim("columns", finds("^(SELECT|WITH)\\b", "\\bCOLUMNS\\s*\\("),
      Scope.Query)((spark, lx) => rewriteColumnsFn(spark, lx.s)),
    Shim("star-replace", finds("^(SELECT|WITH)\\b", "\\*.*\\bREPLACE\\s*\\("),
      Scope.Query)((spark, lx) => rewriteStarReplace(spark, lx.s)),
    rewriteUsingSample, rewriteAsofJoin, rewriteQualify,
    // a table path needs a quote or a read_* call
    Shim("path-tables", s => s.contains("'") || readCall(s))(
      (spark, lx) => Catalog.rewritePathTables(spark, lx)._1),
    rewriteSubscripts, rewriteListComprehension, rewriteDuckdbLiterals,
    rewriteStructPack)

  private val queryShims = shims.filter(_.scope == Scope.Query)
  private[engine] val clauseShims =
    shims.filter(s => s.scope == Scope.Token || s.name == "subquery-bodies")

  /** Run the shim table over one query's text — what the router's
    * default branch applies to a top-level statement, reusable for a
    * DDL statement's AS-body. Text in, text out — routes that produce a
    * DataFrame directly (SUMMARIZE, PIVOT statements, DML) stay
    * top-level-only. */
  private[engine] def rewriteQueryText(spark: SparkSession, q: String): String =
    runShims(spark, shims, q)

  /** A query body's pass: the Query entries only. */
  private[engine] def rewriteQueryBody(spark: SparkSession, q: String): String =
    runShims(spark, queryShims, q)

  /** A clause's pass — a whole DELETE/UPDATE/MERGE statement, a macro
    * body — reads the dialect of a SELECT: the Query pass on its
    * subquery bodies, then every Token entry. */
  private[engine] def rewriteExpr(spark: SparkSession, e: String): String =
    runShims(spark, clauseShims, e)

  /** Run `table` over the text in order. The text is lexed once, and
    * again only after a shim has changed it. When a reshaping shim
    * fires, its output runs the Query pass and then only the Token
    * entries after it: the Query pass has already run the rest. */
  private def runShims(
      spark: SparkSession, table: Vector[Shim], q0: String): String = {
    @annotation.tailrec
    def run(s: String, lexed: Option[Lexed], i: Int, tokensOnly: Boolean): String =
      if (i == table.length) s
      else if ((tokensOnly && table(i).scope != Scope.Token) ||
          !table(i).trigger(s)) run(s, lexed, i + 1, tokensOnly)
      else {
        val lx = lexed.getOrElse(codeMask(s))
        val out = table(i).rewrite(spark, lx)
        if (out == s) run(s, Some(lx), i + 1, tokensOnly)
        else if (table(i).reenter)
          run(rewriteQueryBody(spark, out), None, i + 1, tokensOnly = true)
        else run(out, None, i + 1, tokensOnly)
      }
    run(q0.trim.stripSuffix(";").trim, None, 0, tokensOnly = false)
  }

  /** Split a plain column-list `CREATE TABLE name (cols…) suffix` into
    * (prefix incl. nothing after the name, column pieces, suffix after
    * the close paren) — None for CTAS (no column list) and everything
    * else. */
  private[engine] def splitCreateCols(
      s: String): Option[(String, Seq[String], String)] = {
    val headRe = ("(?is)^(CREATE\\s+(?:OR\\s+REPLACE\\s+)?TABLE\\s+" +
      "(?:IF\\s+NOT\\s+EXISTS\\s+)?(?:`[^`]+`|[A-Za-z_][\\w.]*)\\s*)\\(.*$").r
    s match {
      case headRe(prefix) =>
        val open = prefix.length
        val close = codeMask(s).closeOf(open)
        if (close < 0) None
        else Some((prefix, splitTopLevel(
          s.substring(open + 1, close), ',').map(_.trim).filter(_.nonEmpty),
          s.substring(close + 1)))
      case _ => None
    }
  }

  /** Pull a PRIMARY KEY declaration out of the column pieces — inline
    * (`col TYPE PRIMARY KEY …`) or table-level (`PRIMARY KEY (a, b)`),
    * at most one; the stripped pieces flow on to mapColumnDef (which
    * still refuses the constraints the engine does NOT enforce). A
    * "PRIMARY KEY" inside a quoted literal (e.g. a DEFAULT string)
    * never matches — the keyword must precede the piece's first quote. */
  private[engine] def extractPrimaryKey(
      cols: Seq[String]): (Seq[String], Option[Seq[String]]) = {
    // the named-constraint spelling (CONSTRAINT nm PRIMARY KEY (…)) is
    // the same declaration; the name has nothing to attach to here
    val tableRe = ("(?is)^(?:CONSTRAINT\\s+(?:`[^`]+`|[A-Za-z_]\\w*)\\s+)?" +
      "PRIMARY\\s+KEY\\s*\\((.+)\\)\\s*$").r
    val pkWord = "(?is)\\bPRIMARY\\s+KEY\\b".r
    var pk: Option[Seq[String]] = None
    def set(keys: Seq[String]): Unit = {
      require(pk.isEmpty,
        "CREATE TABLE declares more than one PRIMARY KEY")
      require(keys.nonEmpty && keys.forall(_.nonEmpty),
        "empty PRIMARY KEY column list")
      pk = Some(keys)
    }
    val defs = cols.flatMap { piece0 =>
      val piece = piece0.trim
      val quoteAt = piece.indexOf('\'')
      val hit = pkWord.findFirstMatchIn(piece)
        .filter(m => quoteAt < 0 || m.start < quoteAt)
      piece match {
        case tableRe(list) if hit.isDefined =>
          set(splitTopLevel(list, ',')
            .map(_.trim.stripPrefix("`").stripSuffix("`")))
          None
        case _ if hit.isDefined =>
          val nameRe = "(?s)^(`[^`]+`|[A-Za-z_]\\w*)\\s+.*$".r
          piece match {
            case nameRe(name) =>
              set(Seq(name.stripPrefix("`").stripSuffix("`")))
              val m = hit.get
              Some((piece.substring(0, m.start).trim + " " +
                piece.substring(m.end).trim).trim)
            case _ => Some(piece)
          }
        case _ => Some(piece)
      }
    }
    (defs, pk)
  }

  /** One column definition of a routed CREATE TABLE — type mapped via
    * mapTypeText, NOT NULL / DEFAULT kept, enforcement constraints
    * refused. Table-level constraint entries refuse whole. */
  private[engine] def mapColumnDef(piece: String): String = {
    val p = piece.trim
    require(!p.matches(
      "(?is)^(PRIMARY|UNIQUE|CHECK|FOREIGN|CONSTRAINT)\\b.*"),
      s"table constraint '${p.take(40)}' is not enforced by this engine" +
        " — drop it; name upsert keys in ON CONFLICT (…) explicitly and" +
        " validate uniqueness with COUNT(*) vs COUNT(DISTINCT key)")
    val colRe = "(?s)^(`[^`]+`|[A-Za-z_]\\w*)\\s+(.*)$".r
    p match {
      case colRe(name, rest) =>
        val typeRe = ("(?s)^([A-Za-z_]\\w*(?:\\s*\\([^)]*\\))?" +
          "(?:\\s*\\[\\s*\\])*)\\s*(.*)$").r
        rest match {
          case typeRe(typeText, constraints) =>
            require(!constraints.matches(
              "(?is).*\\b(PRIMARY\\s+KEY|UNIQUE|CHECK|REFERENCES)\\b.*"),
              s"column $name declares a constraint this engine cannot" +
                " enforce — drop it (ON CONFLICT names its keys" +
                " explicitly; validate uniqueness with COUNT(*) vs" +
                " COUNT(DISTINCT key))")
            (Seq(name, mapTypeText(typeText)) ++
              Option(constraints.trim).filter(_.nonEmpty)).mkString(" ")
          case _ => p
        }
      case _ => p
    }
  }

  /** Split `CREATE …VIEW/TABLE … AS <query>` into (DDL prefix incl. AS,
    * query body) at the first top-level AS — None when the statement is
    * not an AS-DDL (plain CREATE TABLE with a column list, other
    * statements). The body must open like a query; anything else stays
    * whole for Spark's parser. */
  private[engine] def splitDdlAs(s: String): Option[(String, String)] =
    if (!s.matches("(?is)^CREATE\\s+(OR\\s+REPLACE\\s+)?(GLOBAL\\s+)?" +
        "(TEMP(ORARY)?\\s+)?(VIEW|TABLE)\\b.*")) None
    else firstTopLevelKeyword(s, Seq("AS")).flatMap { i =>
      val body = s.substring(i + 2).trim
      if (body.matches("(?is)^(SELECT|WITH|FROM|VALUES)\\b.*"))
        Some((s.substring(0, i + 2), body))
      else None
    }

  /** A7: fire-and-forget exec (DDL) — run, discard result. Spark DDL
    * statements execute eagerly inside `spark.sql`. */
  def exec(spark: SparkSession, statement: String): Unit = {
    sql(spark, statement)
    ()
  }

  /** A8: streaming query — per-partition iterator to the driver (the analog
    * of `conn.send`'s record-batch stream). The plan executes, and the
    * driver compiles its classes, when `toLocalIterator` returns; that runs
    * under the local task loader (`TaskLoader`), so the jobs the iterator
    * starts later reuse those classes. */
  def stream(df: DataFrame): Iterator[Row] = {
    import scala.jdk.CollectionConverters._
    TaskLoader.within(df.sparkSession)(df.toLocalIterator()).asScala
  }

  /** EXPLAIN surface (Tier C): the plan text a user would get from
    * `EXPLAIN <mode>` — engine-specific by nature, so exposed as an API
    * (and asserted on in PlanSpec) rather than an oracle-checked query. */
  def explain(df: DataFrame, mode: String = "formatted"): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString(mode))

  /** B30: run a multi-statement script split by the A12 lexer; DDL executes
    * for side effects, and the LAST statement's result is returned (None for
    * an empty/DDL-only script). */
  def runScript(spark: SparkSession, script: String): Option[DataFrame] =
    Sql.splitStatements(script).foldLeft(Option.empty[DataFrame]) {
      (_, stmt) => Some(sql(spark, stmt))
    }

  /** Error surface: the reference catches engine failures and shows
    * `err.message` (`/root/reference/src/App.tsx:382-383,441-444`). The
    * analog contract here: analysis/parse errors (the errors a SQL author
    * causes) come back as Left(message) instead of a stack trace. Runtime
    * task failures still surface on materialization — at scale those are
    * infrastructure events, not statement authoring errors. A quoted path
    * table that resolves to no file gets a targeted hint ahead of the
    * analyzer's message. (ParseException needs no separate case: it
    * extends AnalysisException.) Routes through `sql`, so the engine's
    * SUMMARIZE/DESCRIBE/DML statement routing applies on the
    * error-surfaced path exactly as on the direct one; the routed DML's
    * guard-rail refusals (IllegalArgumentException — e.g. DML on a temp
    * view) surface as messages like any other authoring error. */
  def tryQuery(spark: SparkSession, statement: String): Either[String, DataFrame] = {
    // probed only after a failure; the probe itself may refuse (bad
    // table-function arguments), which `sql` has just reported, so it
    // degrades to no hint
    def hint = {
      val missing =
        try Catalog.rewritePathTables(spark, statement)._2
        catch { case _: IllegalArgumentException => Nil }
      if (missing.isEmpty) ""
      else s"no such file for path table(s): ${missing.mkString(", ")}\n"
    }
    try Right(sql(spark, statement))
    catch {
      case e: org.apache.spark.sql.AnalysisException =>
        Left(hint + e.getMessage)
      case e: IllegalArgumentException =>
        Left(hint + e.getMessage)
    }
  }
}
