package graft.engine

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.ParquetFooters

/** Import/catalog layer — A1-A4 and A9 (`/root/reference/src/fileImport.ts`,
  * `src/duckdb.ts:41-44`, `src/App.tsx:316-327`).
  *
  * The reference copies every file's bytes into the engine's virtual FS
  * (`registerFileBuffer`), which is why its README warns against large
  * folders. Spark needs no copy: registration is a lazy `spark.read` plus a
  * temp view, and the first query streams from disk in parallel — strictly
  * better at scale, same observable surface (path-addressable tables + an
  * optional union view over all parquet files).
  *
  * Format routing (A1/A4 + SURVEY §7.4.2-3):
  *  - `.parquet` → self-describing;
  *  - `.csv` → header + schema inference (DuckDB auto-detects both);
  *  - `.ndjson` → Spark's default line-delimited JSON reader;
  *  - `.json` → `multiLine=true` (a top-level JSON array, which DuckDB
  *    auto-detects but Spark must be told about).
  */
object Catalog {

  /** A1/A2's metadata record (`fileImport.ts:1-5`). */
  final case class ImportedFile(path: String, size: Long)

  // .orc is a beyond-reference extension (the reference imports only the
  // first four); Spark reads/writes ORC natively, so the engine accepts
  // it through the same routing.
  private val SupportedExts = Seq(".parquet", ".csv", ".json", ".ndjson",
    ".orc")

  /** A1: supported-format filter (case-insensitive extension). */
  def isSupportedFilePath(path: String): Boolean = {
    val lower = path.toLowerCase
    SupportedExts.exists(lower.endsWith)
  }

  /** A2: recursive directory scan — relative paths, sorted for determinism
    * (the reference preserves directory-iteration order, which is
    * filesystem-dependent; sorting is the reproducible choice). */
  def collectFiles(root: Path): Seq[ImportedFile] = {
    val stream = Files.walk(root)
    try
      stream.iterator().asScala
        .filter(Files.isRegularFile(_))
        .map(p => root.relativize(p).toString)
        .filter(isSupportedFilePath)
        .toSeq.sorted
        .map(rel => ImportedFile(rel, Files.size(root.resolve(rel))))
    finally stream.close()
  }

  /** Temp-view name for a relative path: the reference keeps the raw path as
    * the table name (path-addressable); Spark view names can't contain
    * `/`/`.`, so sanitize deterministically. */
  def viewNameFor(path: String): String = {
    val base = path.replaceAll("[^A-Za-z0-9_]", "_")
    if (base.headOption.exists(c => c.isDigit)) s"t_$base" else base
  }

  /** Glob-pattern predicate shared by the path-existence check and the
    * stamp (they MUST agree — a path one side treats as a glob and the
    * other stats literally yields a constant stamp and permanent
    * staleness). */
  private[engine] def isGlobPath(p: String): Boolean =
    p.exists(c => c == '*' || c == '?') || p.contains("[")

  /** Cheap change fingerprint of a path set. Per path: for a FILE, its
    * (mtime, size); for a DIRECTORY, its own mtime plus every child's
    * (name, mtime, size) — an IN-PLACE part-file overwrite (cp over an
    * existing name) changes the child's mtime but NOT the directory's,
    * so the dir mtime alone would serve stale rows. A glob walks up to
    * its first non-glob ancestor directory; a path with no statable
    * base stamps uniquely per call, forcing a fresh registration
    * (correctness over cache). Same-length in-place overwrites inside
    * the filesystem's mtime resolution are below this fingerprint's
    * horizon — the documented limit. */
  private def pathStamp(paths: Seq[String]): String =
    paths.map { raw =>
      var base = raw
      while (base.nonEmpty && isGlobPath(base))
        base = Option(Paths.get(base).getParent).map(_.toString)
          .getOrElse("")
      val f = new java.io.File(base)
      if (base.isEmpty || !f.exists) s"?${System.nanoTime()}"
      else if (f.isDirectory) {
        val kids = Option(f.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
          .map(c => s"${c.getName}:${c.lastModified}:${c.length}")
          .sorted.mkString(",")
        s"${f.lastModified}:${md5hex(kids).take(12)}"
      } else s"${f.lastModified}:${f.length}"
    }.mkString("|")

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString

  /** Collision-safe view name for a path in this session: the sanitized
    * name, unless a DIFFERENT path already claimed it (distinct raw paths
    * can sanitize identically — `x-y.csv` vs `x_y.csv` — and the second
    * registration would silently serve the first file's data). The loser
    * gets a short path-hash suffix; the reference never collides because
    * its table name IS the raw path, so this restores that injectivity. */
  def claimViewName(spark: SparkSession, path: String): String = {
    val st = EngineState.of(spark)
    st.pathView.getOrElseUpdate(path, {
      // claim by atomic putIfAbsent (not check-then-act): under concurrent
      // first claims of two colliding paths, exactly one wins the base
      // name and the other observes the foreign owner and takes the
      // suffixed name. The md5 suffix makes a suffixed-name collision
      // practically impossible, so one fallback level suffices.
      val base = viewNameFor(path)
      def owns(name: String): Boolean =
        !st.userClaimed.contains(name) &&
          st.viewOwner.putIfAbsent(name, path).forall(_ == path)
      if (owns(base)) base
      else {
        val alt = s"${base}_${md5hex(path).take(6)}"
        owns(alt) // records ownership; collision here is ~impossible
        alt
      }
    })
  }

  /** True when `name` is one of the engine's AUTO-registered path-table
    * views (quoted-path rewrites, imports, table-function sets) rather
    * than a relation the user created. DuckDB's catalog never contains
    * these — `SELECT * FROM 'f.parquet'` leaves no entry there — so
    * whole-catalog operations (EXPORT DATABASE) must skip them: their
    * data lives in the original files already. */
  def isAutoRegisteredView(spark: SparkSession, name: String): Boolean =
    EngineState.of(spark).viewOwner.contains(name)

  /** A user's own CREATE VIEW/TABLE re-using an auto-registered name
    * turns it into a USER relation: the router calls this on EVERY
    * routed CREATE so (a) catalog-wide operations stop skipping the
    * name, (b) the path-to-name binding drops — the next quoted-path
    * reference re-claims under a SUFFIXED name rather than replacing
    * the user's view — and (c) the freshness stamp dies with the old
    * registration. */
  def releaseAutoClaim(spark: SparkSession, name: String): Unit = {
    val st = EngineState.of(spark)
    st.viewOwner.remove(name).foreach(st.pathView.remove)
    st.viewStamp.remove(name)
    st.userClaimed.put(name, ())
    ()
  }

  /** Read one file with the format its extension names (`readSet`). A
    * parquet schema comes from the footers, read on the driver
    * (`ParquetFooters`), so registering parquet runs no job; csv and json
    * store no schema, and inferring one still runs a job. */
  def read(spark: SparkSession, absolute: Path): DataFrame = {
    val p = absolute.toString
    if (!isSupportedFilePath(p))
      throw new IllegalArgumentException(s"unsupported format: $p")
    readSet(spark, formatOf(p), Seq(p), Map.empty)
  }

  /** The format a path's extension names: parquet, csv, json, ndjson or
    * orc for a supported path (a glob's extension included). */
  private def formatOf(path: String): String =
    path.toLowerCase.split('.').last

  /** B3 for every supported format: DuckDB (and so the reference's default
    * SQL — `/root/reference/src/App.tsx:16-17`, README examples) accepts a
    * quoted file path as a table: `SELECT * FROM 'dir/file.csv'`. Spark
    * has that syntax only as `format.`path`` and can't attach reader
    * options to it, so rewrite each FROM/JOIN-position single-quoted path
    * literal with a supported extension to a registered temp view: an
    * already-registered view (same `viewNameFor` sanitization as import)
    * is referenced directly; an unregistered path that exists on disk is
    * registered lazily through the extension router `read` (still zero
    * byte-copy — the view is a lazy scan). Paths that resolve to nothing
    * are left in place (Spark's analyzer reports them) and returned so
    * `Engine.tryQuery` can surface a targeted hint. */
  /** One lexed token: [start, end) span; quoted=true for `'...'` string
    * literals (span includes the quotes, `text` excludes them). */
  private final case class Tok(start: Int, end: Int, text: String, quoted: Boolean)

  /** The statement's tokens over the router's lexer (`EngineLex.codeMask`):
    * words, `'...'` literals (text unescaped), quoted identifiers (opaque,
    * quotes kept) and single symbols; comments drop. */
  private def tokens(lx: Lexed): Vector[Tok] = {
    val sql = lx.s
    val out = Vector.newBuilder[Tok]
    var i = 0
    val n = sql.length
    while (i < n) {
      val ch = sql.charAt(i)
      if (!lx.code(i)) {
        val end = lx.regionEnd(i)
        lx.shield(i) match {
          case '\'' =>
            val close = if (end == n && lx.unclosed) n else end - 1
            out += Tok(i, end, sql.substring(i + 1, close).replace("''", "'"),
              quoted = true)
          case '"' | '`' => out += Tok(i, end, sql.substring(i, end), quoted = false)
          case _ => () // comment
        }
        i = end
      } else if (ch.isLetterOrDigit || ch == '_' || ch == '.') {
        val s = i
        while (i < n && (sql.charAt(i).isLetterOrDigit ||
          sql.charAt(i) == '_' || sql.charAt(i) == '.')) i += 1
        out += Tok(s, i, sql.substring(s, i), quoted = false)
      } else {
        if (!ch.isWhitespace) out += Tok(i, i + 1, ch.toString, quoted = false)
        i += 1
      }
    }
    out.result()
  }

  // `FROM` also appears inside TRIM/EXTRACT/SUBSTRING/OVERLAY(...) where
  // the following literal is a string OPERAND, not a table. Subqueries
  // also sit inside parens, so the discriminator is WHICH call opened the
  // enclosing paren: a paren-context stack records the token preceding
  // each `(`, and the rewrite is skipped only when the nearest enclosing
  // paren belongs to one of the operand-FROM functions.
  private val OperandFromFns = Set("trim", "extract", "substring", "overlay")

  // DuckDB's file-reading table functions in table position — the form
  // the reference's OWN generated union-view DDL uses verbatim
  // (`/root/reference/src/App.tsx:316-327` emits `CREATE OR REPLACE VIEW
  // v AS SELECT * FROM read_parquet(['p1', 'p2', …]);` through `exec`).
  // Spark has no such functions, so a call in FROM/JOIN position
  // rewrites to a registered temp view over the named files — lazy scan,
  // zero byte-copy, mergeSchema for read_parquet's union-by-name
  // semantics. The format comes from the FUNCTION name (DuckDB
  // semantics: read_csv reads csv whatever the extension).
  private val TableFnFormat = Map(
    "read_parquet" -> "parquet",
    "read_csv" -> "csv", "read_csv_auto" -> "csv",
    "read_json" -> "json", "read_json_auto" -> "json",
    "read_ndjson" -> "ndjson", "read_ndjson_auto" -> "ndjson")

  /** One scan of a path set in `fmt`: a table function's, a glob's, or
    * one file's (`read`). A parquet set of several paths or a glob
    * always merges schemas by name — DuckDB's `union_by_name=true` and
    * the A9 union view's contract; one plain path reads as it is. csv
    * reads headered with RFC-4180 doubled-quote escapes (Spark's
    * default escape is backslash; DuckDB auto-detects — SURVEY
    * §7.4.2). `.json` files read as whole-document JSON (`multiLine`)
    * only when EVERY path says so; ndjson/mixed sets use the
    * line-delimited reader. `opts` carries the routed named options
    * (csv header/delim). */
  private def readSet(
      spark: SparkSession, fmt: String, paths: Seq[String],
      opts: Map[String, String]): DataFrame = {
    // hive_partitioning=true (r18): recover col=value directory keys as
    // COLUMNS, DuckDB's partitioned-read option. Spark auto-discovers
    // partitions for a bare directory read, but the DuckDB idiom is a
    // GLOB ('dir/*/*.parquet') — there Spark needs the explicit
    // basePath (the deepest non-glob prefix) or the keys silently
    // vanish from the schema.
    val hive =
      opts.get("hive_partitioning").exists(_.equalsIgnoreCase("true"))
    val baseOpt =
      if (!hive) Map.empty[String, String]
      else {
        require(paths.forall(isGlobPath),
          "hive_partitioning=true expects glob paths" +
            " (read_parquet('dir/*/*.parquet', hive_partitioning=true));" +
            " a bare directory path recovers partitions without the" +
            " option")
        val bases = paths.map(globBase).distinct
        require(bases.length == 1 && bases.head.nonEmpty,
          "hive_partitioning=true needs paths sharing one non-glob base" +
            " directory")
        Map("basePath" -> bases.head)
      }
    fmt match {
      case "parquet" =>
        val set = paths.length > 1 || paths.exists(isGlobPath)
        ParquetFooters.read(spark, paths,
          if (set) baseOpt + ("mergeSchema" -> "true") else baseOpt)
      case "csv" =>
        // columns= carries an explicit Spark-DDL schema: inference off,
        // header defaulting to FALSE (Spark cannot sniff a header the
        // way DuckDB's detector does — pass header=true explicitly)
        val explicit = opts.get("columns")
        val header = opts.getOrElse("header",
          if (explicit.isDefined) "false" else "true").toLowerCase
        val base0 = spark.read.options(baseOpt).option("header", header)
          .option("escape", "\"")
        val base = explicit match {
          case Some(ddl) => base0.schema(ddl)
          case None => base0.option("inferSchema", "true")
        }
        opts.get("delim").orElse(opts.get("sep"))
          .fold(base)(d => base.option("sep", d))
          .csv(paths: _*)
      case "orc" => spark.read.options(baseOpt).orc(paths: _*)
      case "json" if paths.forall(_.toLowerCase.endsWith(".json")) =>
        spark.read.options(baseOpt).option("multiLine", "true").json(paths: _*)
      case _ => spark.read.options(baseOpt).json(paths: _*)
    }
  }

  /** DuckDB type spelling → Spark DDL type for `columns=` schemas: the
    * router's one DuckDB type map (`Engine.mapTypeText`, over
    * `duckOnlyTypes`) spells it, and only a scalar type Spark names the
    * same way is accepted; anything else refuses (a guessed type reads
    * the file differently than asked). */
  private[engine] def duckTypeToSpark(t: String): String = {
    val mapped = Engine.mapTypeText(t.toUpperCase)
      .replaceFirst("^NUMERIC\\(", "DECIMAL(")
    if (columnTypes(mapped) ||
        mapped.matches("DECIMAL\\(\\s*\\d+\\s*,\\s*\\d+\\s*\\)"))
      mapped
    else throw new IllegalArgumentException(
      s"columns=: type '${t.trim.toUpperCase}' is not mapped — use one of" +
        " the shared SQL type names (VARCHAR/INTEGER/BIGINT/DOUBLE/" +
        "BOOLEAN/DATE/TIMESTAMP/DECIMAL(p,s)/...)")
  }

  private val columnTypes = Set("STRING", "INT", "INTEGER", "BIGINT",
    "LONG", "SMALLINT", "SHORT", "TINYINT", "DOUBLE", "FLOAT", "BOOLEAN",
    "DATE", "TIMESTAMP", "BINARY")

  /** The deepest non-glob directory prefix of a path — the basePath a
    * hive-partitioned glob read anchors partition discovery at. */
  private def globBase(p: String): String =
    p.split('/').takeWhile(c => !c.exists("*?[{".contains(_)))
      .mkString("/")

  /** Register (once) a temp view over a table-function's resolved path
    * set and return its name — content-addressed by format + paths, so
    * the same call text across statements reuses one view. */
  private def claimSetView(
      spark: SparkSession, fmt: String, resolved: Seq[String],
      opts: Map[String, String] = Map.empty): String = {
    val key = ((fmt +: resolved) ++
      opts.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" })
      .mkString("\u0001")
    val st = EngineState.of(spark)
    val view = st.pathView.getOrElseUpdate(key, {
      val base = s"t_${fmt}set_${md5hex(key).take(10)}"
      val name = if (st.userClaimed.contains(base)) s"${base}_u" else base
      st.viewOwner.putIfAbsent(name, key)
      name
    })
    // stamp-checked reuse (see EngineState.viewStamp): re-register only
    // when the underlying paths changed since registration, so a
    // COPY-overwritten path re-reads fresh while the steady state costs
    // one stat per path
    val stamp = pathStamp(resolved)
    if (!spark.catalog.tableExists(view) ||
        !st.viewStamp.get(view).contains(stamp)) {
      readSet(spark, fmt, resolved, opts).createOrReplaceTempView(view)
      st.viewStamp.put(view, stamp)
    }
    view
  }

  def rewritePathTables(
      spark: SparkSession, statement: String): (String, Seq[String]) =
    rewritePathTables(spark, EngineLex.codeMask(statement))

  private[engine] def rewritePathTables(
      spark: SparkSession, lx: Lexed): (String, Seq[String]) = {
    val statement = lx.s
    val st = EngineState.of(spark)
    val toks = tokens(lx)
    val missing = Seq.newBuilder[String]
    val edits = Seq.newBuilder[(Tok, String)]
    val parenFn = scala.collection.mutable.Stack.empty[String]
    for (idx <- toks.indices) {
      val t = toks(idx)
      if (t.text == "(" && !t.quoted)
        parenFn.push(
          if (idx > 0 && !toks(idx - 1).quoted) toks(idx - 1).text.toLowerCase
          else "")
      else if (t.text == ")" && !t.quoted && parenFn.nonEmpty) parenFn.pop()
      if (t.quoted && idx > 0 && isSupportedFilePath(t.text)) {
        // the keyword must be a bare word: a QUOTED 'from' before the
        // literal is adjacent-string-literal concatenation ('from' '/x'),
        // not a table position
        val prev = toks(idx - 1)
        val kw = prev.text.toLowerCase
        val tableFrom = !prev.quoted && (kw == "from" || kw == "join") &&
          !parenFn.headOption.exists(OperandFromFns.contains)
        // a quoted GLOB ('dir/*.parquet') is DuckDB's shorthand for the
        // table function over the pattern: the same set view, format by
        // extension, so both spellings share one registration
        if (tableFrom && isGlobPath(t.text)) {
          edits += ((t, Sql.sqlIdentifier(
            claimSetView(spark, formatOf(t.text), Seq(t.text)))))
        } else if (tableFrom) {
          val path = t.text
          val view = claimViewName(spark, path)
          val registered = spark.catalog.tableExists(view)
          // an import-registered path resolves to where its bytes live
          val loc = st.pathLocation.getOrElse(path, path)
          val p = Paths.get(loc)
          if (registered || Files.exists(p)) {
            // same stamp-checked freshness as the table-function route:
            // a COPY-overwritten path must re-read fresh, not serve the
            // registration-time listing snapshot
            val stamp = pathStamp(Seq(loc))
            if (!registered ||
                (Files.exists(p) &&
                  !st.viewStamp.get(view).contains(stamp))) {
              read(spark, p).createOrReplaceTempView(view)
              st.pathLocation.putIfAbsent(path, path)
              st.viewStamp.put(view, stamp)
            }
            edits += ((t, Sql.sqlIdentifier(view)))
          } else missing += path
        }
      }
      // read_parquet / read_csv / read_json call in table position —
      // the reference's generated-DDL form. Parse the call's argument
      // tokens to the balancing close paren: quoted tokens are paths
      // (bare or inside DuckDB's [...] list literal), and a small set of
      // NAMED options is honored — union_by_name=true (mergeSchema IS
      // union-by-name), header=true/false and delim/sep='c' for csv.
      // Anything else refuses loudly: silently ignoring a reader option
      // would scan a file differently than the user asked.
      if (!t.quoted && TableFnFormat.contains(t.text.toLowerCase) &&
          idx > 0 && !toks(idx - 1).quoted &&
          Seq("from", "join").contains(toks(idx - 1).text.toLowerCase) &&
          !parenFn.headOption.exists(OperandFromFns.contains) &&
          idx + 1 < toks.length && !toks(idx + 1).quoted &&
          toks(idx + 1).text == "(") {
        val fn = t.text.toLowerCase
        var end = -1
        var k = idx + 2
        var depth = 1
        while (k < toks.length && end < 0) { // find the balancing paren
          val tk = toks(k)
          if (!tk.quoted && tk.text == "(") depth += 1
          else if (!tk.quoted && tk.text == ")") {
            depth -= 1; if (depth == 0) end = k
          }
          k += 1
        }
        require(end > 0, s"unbalanced parens in $fn(...)")
        val inner = toks.slice(idx + 2, end)
        val paths = Seq.newBuilder[String]
        val options = scala.collection.mutable.LinkedHashMap.empty[String, String]
        val NamedOpts =
          Set("union_by_name", "header", "delim", "sep", "hive_partitioning")
        var j = 0
        while (j < inner.length) {
          val tk = inner(j)
          if (tk.quoted) { paths += tk.text; j += 1 }
          else if (Seq("[", "]", ",").contains(tk.text)) j += 1
          else if (tk.text.equalsIgnoreCase("columns") &&
              j + 2 < inner.length && !inner(j + 1).quoted &&
              inner(j + 1).text == "=" && !inner(j + 2).quoted &&
              inner(j + 2).text == "{") {
            // columns={'name': 'TYPE', …} — DuckDB's explicit-schema
            // read. The struct literal's quoted tokens are NAMES and
            // TYPES, consumed here so they never read as paths; the
            // value stored is the Spark schema DDL the reader takes.
            // NOTE the header default: DuckDB still SNIFFS a header
            // row even with columns= (measured); Spark cannot sniff,
            // so without an explicit header option the first line is
            // DATA — pass header=true for headered files.
            var k = j + 3
            val fields = Seq.newBuilder[String]
            var curName: Option[String] = None
            var done = false
            while (k < inner.length && !done) {
              val t2 = inner(k)
              if (!t2.quoted && t2.text == "}") { done = true; k += 1 }
              else if (!t2.quoted && (t2.text == ":" || t2.text == ","))
                k += 1
              else if (t2.quoted && curName.isEmpty) {
                curName = Some(t2.text); k += 1
              } else if (t2.quoted) {
                fields += s"${Sql.sqlIdentifier(curName.get)} " +
                  duckTypeToSpark(t2.text)
                curName = None
                k += 1
              } else throw new IllegalArgumentException(
                s"$fn: columns= expects {'name': 'TYPE', ...} — got" +
                  s" '${t2.text}'")
            }
            require(done && curName.isEmpty,
              s"$fn: malformed columns= struct literal")
            val ddl = fields.result()
            require(ddl.nonEmpty, s"$fn: columns= needs at least one column")
            options += ("columns" -> ddl.mkString(", "))
            j = k
          }
          else if (NamedOpts.contains(tk.text.toLowerCase) &&
              j + 2 < inner.length && inner(j + 1).text == "=") {
            options += (tk.text.toLowerCase -> inner(j + 2).text)
            j += 3
          } else throw new IllegalArgumentException(
            s"$fn: unsupported argument '${tk.text}' — routed calls take" +
              " path literals (bare or in a [...] list) and the named" +
              " options union_by_name/header/delim/hive_partitioning/" +
              "columns")
        }
        options.foreach {
          case ("union_by_name", v) => require(v.equalsIgnoreCase("true"),
            s"$fn: union_by_name=$v is not routed (multi-file reads" +
              " always unify by name here)")
          case ("header", v) =>
            require(v.equalsIgnoreCase("true") || v.equalsIgnoreCase("false"),
              s"$fn: header must be true/false, got $v")
          case ("hive_partitioning", v) =>
            require(v.equalsIgnoreCase("true") || v.equalsIgnoreCase("false"),
              s"$fn: hive_partitioning must be true/false, got $v")
          case _ => () // delim/sep carry their literal value
        }
        val ps = paths.result()
        require(ps.nonEmpty, s"$fn needs at least one path literal")
        // a path registered through the import layer resolves to where
        // its bytes live; anything else must exist on disk as written —
        // except GLOB patterns (read_parquet('dir/*.parquet'), DuckDB's
        // daily idiom), which Spark's reader resolves itself and reports
        // loudly when they match nothing
        val resolved = ps.map(p => st.pathLocation.getOrElse(p, p))
        val absent = ps.zip(resolved)
          .collect { case (raw, r)
            if !isGlobPath(r) && !Files.exists(Paths.get(r)) => raw }
        if (absent.nonEmpty) missing ++= absent
        else {
          val fmtName = TableFnFormat(fn)
          // per-format option validity: silently ignoring an option
          // would read the file differently than asked
          if (fmtName != "csv")
            require(!options.contains("header") &&
              !options.contains("delim") && !options.contains("sep") &&
              !options.contains("columns"),
              s"$fn: header/delim/columns options apply to read_csv only")
          // union_by_name holds for parquet (mergeSchema) and json
          // (Spark's multi-file json reader unifies by name); csv would
          // need per-file header alignment Spark doesn't do — refuse
          require(fmtName != "csv" || !options.contains("union_by_name"),
            s"$fn: union_by_name is not routed for csv (Spark infers" +
              " one schema across the file set, not per-file headers)")
          val view = claimSetView(spark, fmtName, resolved, options.toMap)
          edits += ((Tok(t.start, toks(end).end, "", quoted = false),
            Sql.sqlIdentifier(view)))
        }
      }
    }
    val out = edits.result().sortBy(_._1.start).reverse
      .foldLeft(statement) { case (acc, (t, repl)) =>
        acc.substring(0, t.start) + repl + acc.substring(t.end)
      }
    (out, missing.result())
  }

  /** A4: register one file as a temp view; returns the (collision-safe)
    * view name. No byte copy — the scan stays lazy and distributed. A
    * parquet file registers from its footer, read on the driver, with no
    * job; a csv or json file still runs its schema-inference job. */
  def registerFile(spark: SparkSession, root: Path, file: ImportedFile): String = {
    val name = claimViewName(spark, file.path)
    read(spark, root.resolve(file.path)).createOrReplaceTempView(name)
    // the raw import path stays addressable by the SQL-text routes (the
    // reference's generated read_parquet DDL names these same paths)
    EngineState.of(spark).pathLocation
      .put(file.path, root.resolve(file.path).toString)
    name
  }

  /** A9: union view over all imported parquet files (`src/App.tsx:316-327`).
    * DuckDB's `read_parquet([...])` unifies schemas by name; Spark needs
    * `mergeSchema` for the same union-by-name semantics (SURVEY §7.4.4).
    * Files that all share one footer schema need no merge and no job. */
  def createOrReplaceParquetView(
      spark: SparkSession, root: Path, imported: Seq[ImportedFile],
      tableName: String): Option[String] = {
    val paths = imported.map(_.path)
      .filter(_.toLowerCase.endsWith(".parquet"))
      .map(root.resolve(_).toString)
    if (paths.isEmpty) None
    else {
      val name = Sql.sqlIdentifier(tableName)
      ParquetFooters.read(spark, paths, Map("mergeSchema" -> "true"))
        .createOrReplaceTempView(tableName)
      Some(name)
    }
  }

  /** Import a folder end to end (A2 + A4 + optional A9), returning the
    * per-file view names — the Spark analog of `importFiles`
    * (`src/App.tsx:329-354`) without the sequential byte copy. */
  def importFolder(
      spark: SparkSession, root: Path,
      unionViewName: Option[String] = None): (Seq[ImportedFile], Seq[String]) = {
    val files = collectFiles(root)
    val views = files.map(registerFile(spark, root, _))
    unionViewName.foreach(createOrReplaceParquetView(spark, root, files, _))
    (files, views)
  }
}
