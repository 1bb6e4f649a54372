package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.{
  FunctionRegistry, UnresolvedExtractValue}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types.{
  ArrayType, BinaryType, BooleanType, DataType, DoubleType, IntegerType,
  LongType, MapType, NullType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** DuckDB function-name compatibility pack (round 16): the reference
  * delegates arbitrary SQL to DuckDB (`/root/reference/src/duckdb.ts:
  * 46-49`), and a migrating user's saved queries are full of DuckDB
  * spellings for functions Spark has under other names. Each alias here
  * is injected through the public `SparkSessionExtensions` function
  * point and builds the NATIVE Catalyst expression directly — zero
  * wrapper cost, full codegen, indistinguishable from typing the Spark
  * name. Names Spark already defines are registered only as
  * DISPATCHED extensions (date_sub/regexp_replace by arity, date_add and
  * length by argument type: the builtin form is rebuilt verbatim, the
  * DuckDB form is new — a builtin call's meaning never changes; date_diff is
  * grammar-owned in Spark and routes via `graft_date_diff` + the
  * Engine text shim instead), and only where the semantics genuinely
  * match;
  * near-misses are adapted in the builder (string_split turns its
  * separator into a regex that matches it literally, because DuckDB
  * splits on a literal while Spark's split takes a regex), dispatched
  * on the argument's resolved type (`length`/`len` count a list's
  * elements and keep Spark's length for strings), or left out
  * entirely (list_sum's NULL rules) so an alias never silently computes
  * something different.
  *
  * strftime: DuckDB formats with C-style % codes, Spark with
  * java.time patterns — the builder translates the % codes when the
  * format is a literal (the overwhelmingly common case) and refuses a
  * non-literal format rather than guessing; literal text between codes
  * is single-quoted so letters never leak as pattern characters.
  */
object DuckdbCompat {

  private type Builder = Seq[Expression] => Expression

  private def arity(name: String, n: Int)(
      args: Seq[Expression]): Seq[Expression] = {
    require(args.length == n,
      s"$name expects $n arguments, got ${args.length}")
    args
  }

  /** Spark's own builder of a regexp extraction, given group 0 when the
    * call names no group, as in DuckDB. */
  private def groupZero(name: String): Seq[Expression] => Expression = {
    val builtin = FunctionRegistry.builtin
      .lookupFunctionBuilder(FunctionIdentifier(name)).get
    args => builtin(if (args.length == 2) args :+ Literal(0) else args)
  }

  /** Adapt a two-parameter HOF lambda's INDEX base: DuckDB's `(x, i)`
    * index is 1-based, Spark's 0-based (measured divergence, SURVEY
    * §7 #17) — the `list_*` names promise DuckDB semantics, so body
    * references to the index variable read `i + 1`. Parse-time bodies
    * reference lambda variables as UnresolvedNamedLambdaVariable nodes
    * (same class as the parameter declarations); the analyzer binds
    * the wrapped reference exactly as it would the bare one.
    * One-parameter lambdas pass through untouched. */
  private def oneBasedIndexLambda(f: Expression): Expression = f match {
    case LambdaFunction(body, args, hidden) if args.size == 2 =>
      args(1) match {
        case v: UnresolvedNamedLambdaVariable if v.nameParts.size == 1 =>
          val idx = v.nameParts.head
          def shadows(lf: LambdaFunction): Boolean =
            lf.arguments.exists {
              case a: UnresolvedNamedLambdaVariable =>
                a.nameParts.size == 1 &&
                  a.nameParts.head.equalsIgnoreCase(idx)
              case _ => false
            }
          // manual recursion so a NESTED lambda that rebinds the index
          // name keeps its own variable untouched
          def wrap(e: Expression): Expression = e match {
            case lf: LambdaFunction if shadows(lf) => lf
            case r: UnresolvedNamedLambdaVariable
                if r.nameParts.size == 1 &&
                  r.nameParts.head.equalsIgnoreCase(idx) =>
              Add(r, Literal(1))
            case other => other.mapChildren(wrap)
          }
          LambdaFunction(wrap(body), args, hidden)
        case _ => f
      }
    case _ => f
  }

  /** `t` with every nested element, value and field nullable: the type a
    * step may be cast to when its nullability is not known yet. */
  private def anyNulls(t: DataType): DataType = t match {
    case ArrayType(e, _) => ArrayType(anyNulls(e), containsNull = true)
    case MapType(k, v, _) => MapType(anyNulls(k), anyNulls(v), true)
    case StructType(fs) => StructType(fs.map(f =>
      f.copy(dataType = anyNulls(f.dataType), nullable = true)))
    case other => other
  }

  /** Translate a DuckDB strftime %-format to a java.time pattern. */
  private[functions] def cFormatToJava(fmt: String): String = {
    val codes = Map(
      'Y' -> "yyyy", 'y' -> "yy", 'm' -> "MM", 'd' -> "dd",
      'H' -> "HH", 'I' -> "hh", 'M' -> "mm", 'S' -> "ss",
      'f' -> "SSSSSS", 'g' -> "SSS", 'j' -> "DDD",
      'a' -> "EEE", 'A' -> "EEEE", 'b' -> "MMM", 'B' -> "MMMM",
      'p' -> "a")
    val out = new StringBuilder
    val lit = new StringBuilder
    def flush(): Unit = {
      if (lit.nonEmpty) {
        val s = lit.toString
        if (s.exists(c => c.isLetter || c == '\''))
          out.append("'").append(s.replace("'", "''")).append("'")
        else out.append(s)
        lit.clear()
      }
    }
    var i = 0
    while (i < fmt.length) {
      val ch = fmt.charAt(i)
      if (ch == '%' && i + 1 < fmt.length) {
        val c = fmt.charAt(i + 1)
        if (c == '%') { lit.append('%'); i += 2 }
        else codes.get(c) match {
          case Some(p) => flush(); out.append(p); i += 2
          case None => throw new IllegalArgumentException(
            s"strftime: unsupported format code %$c in '$fmt'")
        }
      } else { lit.append(ch); i += 1 }
    }
    flush()
    out.toString
  }

  private def aliases: Seq[(String, Builder)] = Seq(
    // --- string/list family -------------------------------------------
    // DuckDB splits on a LITERAL separator; Spark's split takes a regex,
    // so the separator becomes the regex `CompatRuntime.splitPattern`
    // spells for it: once at plan time for a literal, per row for a
    // computed one. A one-character separator becomes that character
    // (escaped when a regex metacharacter), which Java's String.split
    // splits on without compiling a Pattern; the `\Q…\E` form it used
    // before missed that fast path, so every row of every call compiled
    // one (c_sql_duckdb_list_fns, four splits per row: 0.34 → 0.21 s in
    // `graft.Bench` at sf0.1 on a 4-core host, `local[4]`).
    "string_split" -> { args0 =>
      val args = arity("string_split", 2)(args0)
      val pattern = args(1) match {
        case Literal(v, _: StringType | NullType) =>
          Literal(CompatRuntime.splitPattern(v.asInstanceOf[UTF8String]))
        case sep =>
          StaticInvoke(CompatRuntime.getClass, StringType, "splitPattern",
            Seq(Cast(sep, StringType)), propagateNull = false,
            returnNullable = false)
      }
      StringSplit(args(0), pattern, Literal(-1))
    },
    "string_split_regex" -> { args0 =>
      val args = arity("string_split_regex", 2)(args0)
      StringSplit(args(0), args(1), Literal(-1))
    },
    "list_transform" -> { args0 =>
      val args = arity("list_transform", 2)(args0)
      ArrayTransform(args(0), oneBasedIndexLambda(args(1)))
    },
    "list_filter" -> { args0 =>
      val args = arity("list_filter", 2)(args0)
      ArrayFilter(args(0), oneBasedIndexLambda(args(1)))
    },
    "list_contains" -> { args0 =>
      val args = arity("list_contains", 2)(args0)
      ArrayContains(args(0), args(1))
    },
    // DuckDB returns NULL for an absent element where Spark's
    // array_position returns 0 — adapt with NULLIF so `IS NULL`
    // absence tests migrate correctly
    "list_position" -> { args0 =>
      val args = arity("list_position", 2)(args0)
      new NullIf(ArrayPosition(args(0), args(1)), Literal(0L))
    },
    // DuckDB's list_distinct also drops NULL elements; Spark's
    // array_distinct keeps one — compose with array_compact
    "list_distinct" -> { args0 =>
      val args = arity("list_distinct", 1)(args0)
      ArrayCompact(ArrayDistinct(args(0)))
    },
    // DuckDB's list_sort defaults are ASC / NULLS LAST (its global
    // default null order — measured against DuckDB 1.0, not assumed) —
    // that is Spark's array_sort, NOT sort_array (whose ascending order
    // puts NULLs FIRST). Explicit order arguments map where a native
    // ordering exists; DESC + NULLS FIRST has none and refuses.
    "list_sort" -> { args0 =>
      def ord(e: Expression, what: Seq[String]): String = e match {
        case Literal(s, org.apache.spark.sql.types.StringType)
            if s != null && what.contains(s.toString.toUpperCase) =>
          s.toString.toUpperCase
        case _ => throw new IllegalArgumentException(
          s"list_sort order arguments must be literal" +
            s" ${what.mkString(" / ")}")
      }
      args0 match {
        case Seq(l) => new ArraySort(l)
        case Seq(l, o) => ord(o, Seq("ASC", "DESC")) match {
          case "ASC" => new ArraySort(l)
          case _ => new SortArray(l, Literal(false))
        }
        case Seq(l, o, n) =>
          (ord(o, Seq("ASC", "DESC")),
            ord(n, Seq("NULLS FIRST", "NULLS LAST"))) match {
            case ("ASC", "NULLS LAST") => new ArraySort(l)
            case ("ASC", "NULLS FIRST") => new SortArray(l)
            case ("DESC", "NULLS LAST") => new SortArray(l, Literal(false))
            case _ => throw new IllegalArgumentException(
              "list_sort DESC NULLS FIRST has no native Spark ordering" +
                " — sort ASC NULLS LAST and list_reverse, or order rows" +
                " instead")
          }
        case _ => throw new IllegalArgumentException(
          "list_sort takes 1-3 arguments")
      }
    },
    "list_reverse" -> { args0 =>
      val args = arity("list_reverse", 1)(args0)
      Reverse(args(0))
    },
    // count of DISTINCT NON-NULL elements (DuckDB skips NULLs;
    // measured: list_unique([1,1,2,NULL,NULL]) = 2), BIGINT like DuckDB
    "list_unique" -> { args0 =>
      val args = arity("list_unique", 1)(args0)
      Cast(Size(ArrayCompact(ArrayDistinct(args(0)))),
        org.apache.spark.sql.types.LongType)
    },
    // DuckDB's list_has_any IGNORES NULL elements (([NULL],[NULL]) is
    // false) where Spark's arrays_overlap is three-valued — compacting
    // both sides makes overlap two-valued and exact; NULL list
    // arguments stay NULL in both
    "list_has_any" -> { args0 =>
      val args = arity("list_has_any", 2)(args0)
      ArraysOverlap(ArrayCompact(args(0)), ArrayCompact(args(1)))
    },
    // every NON-NULL element of the second list present in the first
    // (measured: list_has_all([1],[NULL]) is true — NULL needles are
    // ignored): compact the needles, set-subtract, test emptiness
    "list_has_all" -> { args0 =>
      val args = arity("list_has_all", 2)(args0)
      EqualTo(Size(ArrayExcept(ArrayCompact(args(1)), args(0))),
        Literal(0))
    },
    // DuckDB's list_intersect dedups AND drops NULL elements (measured:
    // ([1,2,2,NULL],[2,3,NULL]) = [2]), and a NULL list argument yields
    // [] rather than NULL — compose compact over the native intersect
    // and branch the null-argument case into an empty slice of the
    // other side. (Both arguments NULL yields NULL here — DuckDB can't
    // even type that literal call.)
    "list_intersect" -> { args0 =>
      val args = arity("list_intersect", 2)(args0)
      If(Or(IsNull(args(0)), IsNull(args(1))),
        Slice(Coalesce(Seq(args(0), args(1))), Literal(1), Literal(0)),
        ArrayCompact(ArrayIntersect(args(0), args(1))))
    },
    "list_min" -> { args0 =>
      val args = arity("list_min", 1)(args0)
      ArrayMin(args(0))
    },
    "list_max" -> { args0 =>
      val args = arity("list_max", 1)(args0)
      ArrayMax(args(0))
    },
    "array_to_string" -> { args0 =>
      val args = arity("array_to_string", 2)(args0)
      ArrayJoin(args(0), args(1), None)
    },
    // length/len dispatch on the argument's resolved type, as DuckDB
    // does: a list gives its element count (BIGINT; NULL list → NULL),
    // anything else is Spark's own length (strings, binary, NULL)
    "length" -> lengthBuilder("length"),
    "len" -> lengthBuilder("len"),
    "array_length" -> { args0 =>
      val args = arity("array_length", 1)(args0)
      Size(args(0))
    },
    "starts_with" -> { args0 =>
      val args = arity("starts_with", 2)(args0)
      StartsWith(args(0), args(1))
    },
    "ends_with" -> { args0 =>
      val args = arity("ends_with", 2)(args0)
      EndsWith(args(0), args(1))
    },
    "list_append" -> { args0 =>
      val args = arity("list_append", 2)(args0)
      ArrayAppend(args(0), args(1))
    },
    "list_prepend" -> { args0 =>
      // DuckDB's argument order is (element, list)
      val args = arity("list_prepend", 2)(args0)
      ArrayPrepend(args(1), args(0))
    },
    // DuckDB SKIPS NULL inputs (list_concat([1], NULL) -> [1]; both NULL
    // -> NULL) where Spark's Concat is null-on-any-null — branch on
    // nullness so the NULL semantics match exactly. Binary, as DuckDB
    // signs it (list_concat(ANY[], ANY[])).
    "list_concat" -> { args0 =>
      val args = arity("list_concat", 2)(args0)
      If(IsNull(args(0)), args(1),
        If(IsNull(args(1)), args(0), Concat(args)))
    },
    // DuckDB's functional list constructor (the call-form twin of the
    // [..] literal the router rewrites)
    "list_value" -> { args0 => CreateArray(args0) },
    // list_slice(x, begin, end) — DuckDB's 1-based slice with an
    // INCLUSIVE end, of a list or a string (measured): a negative bound
    // counts from the end (-1 is the last element), a begin below 1
    // reads as 1, and a NULL bound gives NULL. The router spells the
    // `x[a:b]` slice as this call, an omitted bound as 1 or -1.
    "list_slice" -> { args0 =>
      val Seq(x, lo, hi) = arity("list_slice", 3)(args0)
      val text = x.resolved && x.dataType.isInstanceOf[StringType]
      val n = if (text) Length(x) else Size(x, legacySizeOfNull = false)
      def fromEnd(i: Expression) =
        If(LessThan(i, Literal(0)), Add(Add(n, i), Literal(1)), i)
      // If, not Greatest: a NULL bound must stay NULL
      def atLeast(e: Expression, m: Int) =
        If(LessThan(e, Literal(m)), Literal(m), e)
      val from = atLeast(fromEnd(lo), 1)
      val len = atLeast(Add(Subtract(fromEnd(hi), from), Literal(1)), 0)
      if (text) Substring(x, from, len) else Slice(x, from, len)
    },
    // regexp_matches with DuckDB's optional FLAGS argument: each
    // supported flag maps to the regex's own inline modifier, prepended
    // to the pattern so computed patterns work too ('c' = DuckDB's
    // explicit case-sensitive default, a no-op)
    "regexp_matches" -> { args0 =>
      args0 match {
        case Seq(s, re) => RLike(s, re)
        case Seq(s, re, flags) =>
          RLike(s, regexFlagged(re, flags, "regexp_matches"))
        case _ => throw new IllegalArgumentException(
          "regexp_matches takes (string, pattern[, flags])")
      }
    },
    // regexp_replace with DuckDB's flags: 'g' IS Spark's replace-all
    // semantics, so g/gi route onto the native RegExpReplace (with the
    // case flag as an inline (?i) prefix). The 2x3-arg form rebuilds
    // Spark's builtin verbatim (replace ALL) — NOTE the documented
    // divergence: DuckDB without 'g' replaces only the FIRST match, a
    // semantics Spark has no native expression for, so flag-less and
    // g-less-flagged calls keep/refuse rather than silently diverge:
    // 3-arg stays Spark's builtin meaning (it is Spark's function), a
    // 4-arg call WITHOUT g refuses loudly naming the difference.
    "regexp_replace" -> { args0 =>
      args0 match {
        case Seq(s, re, rep) => RegExpReplace(s, re, rep)
        case Seq(s, re, rep, flags) =>
          val f = literalFlags(flags, "regexp_replace")
          require(f.contains('g'),
            "regexp_replace flags without 'g' are not routed: Spark" +
              " replaces ALL occurrences while DuckDB without g" +
              " replaces only the first — add g, or restructure")
          RegExpReplace(s, regexFlagged(re,
            Literal(f.filterNot(_ == 'g')), "regexp_replace"), rep)
        case _ => throw new IllegalArgumentException(
          "regexp_replace takes (string, pattern, replacement[, flags])")
      }
    },
    // --- aggregate family ---------------------------------------------
    // DuckDB's signature pick-the-row aggregates: arg_max(x, by) is the
    // x of the row maximizing by — Spark's native max_by/min_by exactly
    "arg_max" -> { args0 =>
      val args = arity("arg_max", 2)(args0)
      aggregate.MaxBy(args(0), args(1))
    },
    "arg_min" -> { args0 =>
      val args = arity("arg_min", 2)(args0)
      aggregate.MinBy(args(0), args(1))
    },
    // quantile_cont = exact linear-interpolated quantile — Spark's
    // native `percentile` aggregate computes the same definition
    "quantile_cont" -> { args0 =>
      val args = arity("quantile_cont", 2)(args0)
      new aggregate.Percentile(args(0), args(1))
    },
    // --- time family --------------------------------------------------
    // epoch_us/epoch_ms of a TIMESTAMP_NTZ (DuckDB's naive TIMESTAMP)
    // count its wall clock from 1970-01-01 00:00, in any session zone:
    // the NTZ value is read as a UTC instant, not in the session zone
    "epoch_us" -> { args0 =>
      UnixMicros(naiveAsUtc(arity("epoch_us", 1)(args0).head))
    },
    "epoch_ms" -> { args0 =>
      UnixMillis(naiveAsUtc(arity("epoch_ms", 1)(args0).head))
    },
    "strftime" -> { args0 =>
      val args = arity("strftime", 2)(args0)
      args(1) match {
        case Literal(fmt, org.apache.spark.sql.types.StringType)
            if fmt != null =>
          DateFormatClass(args(0),
            Literal(cFormatToJava(fmt.toString)))
        case _ => throw new IllegalArgumentException(
          "strftime requires a literal format string (the %-code" +
            " translation happens at plan time)")
      }
    },
    // strptime — the PARSE twin of strftime, same %-code translation,
    // same literal-format-only contract
    "strptime" -> { args0 =>
      val args = arity("strptime", 2)(args0)
      args(1) match {
        case Literal(fmt, org.apache.spark.sql.types.StringType)
            if fmt != null =>
          new ParseToTimestamp(args(0),
            Literal(cFormatToJava(fmt.toString)))
        case _ => throw new IllegalArgumentException(
          "strptime requires a literal format string (the %-code" +
            " translation happens at plan time)")
      }
    },
    // graft_date_diff('part', a, b) — DuckDB's date_diff/datediff:
    // part BOUNDARIES crossed from a to b (signed; date_diff('month',
    // Jan-31, Feb-01) = 1), which is NOT Spark's timestampdiff
    // (complete intervals — that is DuckDB's date_sub, below). Each
    // part builds the boundary arithmetic natively: calendar parts from
    // field extraction, clock parts from floor-divided epochs. The name
    // is graft-prefixed because Spark's GRAMMAR owns `date_diff(unit,
    // a, b)` — a 3-arg call parses through the timestampdiff rule
    // before any registry lookup, so the DuckDB quoted-'part' spelling
    // can only reach this builder through the router's text shim
    // (`Engine.rewriteDateDiff` renames exactly the quoted-first-arg
    // calls); 2-arg calls pass through as Spark's own date_diff.
    "graft_date_diff" -> dateDiffBuilder("date_diff"),
    // date_sub('part', a, b) — DuckDB's COMPLETE-intervals count, which
    // IS Spark's timestampdiff semantics exactly. 2-arg = Spark's own
    // date_sub(date, days), rebuilt verbatim.
    "date_sub" -> { args0 =>
      args0 match {
        case Seq(d, days) => DateSub(d, days)
        case Seq(part, a, b) =>
          new TimestampDiff(partLiteral(part, "date_sub").toUpperCase,
            Cast(a, org.apache.spark.sql.types.TimestampType),
            Cast(b, org.apache.spark.sql.types.TimestampType))
        case _ => throw new IllegalArgumentException(
          "date_sub takes (date, days) or ('part', start, end)")
      }
    },
    // date_add(d, INTERVAL …) — DuckDB's add-an-interval spelling. An
    // INTERVAL second argument builds Add, which the analyzer's binary-
    // arithmetic resolution rewrites to the proper date/time addition
    // (the same path `d + INTERVAL 1 MONTH` takes); any other second
    // argument is Spark's own date_add(date, days), rebuilt verbatim.
    // The dispatch tests the ARGUMENT's resolved type: interval
    // literals (the DuckDB spelling) are always resolved at this point.
    "date_add" -> { args0 =>
      val args = arity("date_add", 2)(args0)
      import org.apache.spark.sql.types.{CalendarIntervalType, DayTimeIntervalType, YearMonthIntervalType}
      val isInterval = args(1).resolved && (args(1).dataType match {
        case CalendarIntervalType | _: YearMonthIntervalType |
            _: DayTimeIntervalType => true
        case _ => false
      })
      if (isInterval) Add(args(0), args(1)) else DateAdd(args(0), args(1))
    },
    // list_reduce(l, (acc, x) -> …) — DuckDB folds from the FIRST
    // element (measured with duckdb 1.0.0: [1,2,3] → 6, [5] → 5, a NULL
    // list → NULL, [1, NULL, 3] → NULL through the lambda's own NULL
    // rule, [] raises). Spark's aggregate() takes an explicit start, so
    // the first element is the start and the rest fold; each step is cast
    // to the element type, DuckDB's accumulator type. A list of untyped
    // NULLs reduces to NULL. DuckDB's three-parameter (acc, x, i) form
    // refuses.
    "list_reduce" -> { args0 =>
      val Seq(l, f) = arity("list_reduce", 2)(args0)
      val (body, params, hidden) = f match {
        case LambdaFunction(b, ps, h) if ps.size == 2 => (b, ps, h)
        case _ => throw new IllegalArgumentException(
          "list_reduce takes a two-parameter lambda (acc, x) -> …; the" +
            " three-parameter (acc, x, i) form is not supported")
      }
      val list = l.dataType match {
        case NullType => Cast(l, ArrayType(NullType))
        case _: ArrayType => l
        case other => throw new IllegalArgumentException(
          s"list_reduce expects a list, got ${other.sql}")
      }
      val elem = list.dataType.asInstanceOf[ArrayType].elementType
      val n = Size(list, legacySizeOfNull = false)
      val emptyError = CreateMap(Seq(Literal("errorMessage"),
        Literal("Cannot perform list_reduce on an empty input list")))
      // the start raises on an empty list; a NULL list never reads it
      val first = If(EqualTo(n, Literal(0)),
        RaiseError(Literal("USER_RAISED_EXCEPTION"), emptyError, elem),
        ElementAt(list, Literal(1)))
      val step = if (elem == NullType) Literal(null) else Cast(body, anyNulls(elem))
      val rest = Slice(list, Literal(2),
        Greatest(Seq(Subtract(n, Literal(1)), Literal(0))))
      new ArrayAggregate(rest, first, LambdaFunction(step, params, hidden))
    },
    // list_aggregate(l, 'name') — DuckDB's apply-an-aggregate-to-a-list
    // function. Literal names only (the expression is chosen at plan
    // time): min/max map to the native array extremes, count to the
    // non-NULL size (DuckDB skips NULL elements), sum to the native
    // aggregate() fold over the compacted list with a zero derived from
    // the element type (0 * first element — NULL on an empty/all-NULL
    // list, exactly DuckDB's sum). Other names refuse, pointing at the
    // aggregate() higher-order function.
    "list_aggregate" -> { args0 =>
      val args = arity("list_aggregate", 2)(args0)
      val name = args(1) match {
        case Literal(s, org.apache.spark.sql.types.StringType)
            if s != null => s.toString.toLowerCase
        case _ => throw new IllegalArgumentException(
          "list_aggregate requires a literal aggregate name")
      }
      name match {
        case "min" => ArrayMin(args(0))
        case "max" => ArrayMax(args(0))
        case "count" => Cast(Size(ArrayCompact(args(0))),
          org.apache.spark.sql.types.LongType)
        case "sum" =>
          val l = ArrayCompact(args(0))
          // try_element_at: an EMPTY list must yield a NULL zero (sum
          // of nothing is NULL), not element_at's out-of-bounds error
          val zero = Multiply(new TryElementAt(l, Literal(1)), Literal(0))
          val acc = UnresolvedNamedLambdaVariable(Seq("__graft_acc"))
          val x = UnresolvedNamedLambdaVariable(Seq("__graft_x"))
          new ArrayAggregate(l, zero,
            LambdaFunction(Add(acc, x), Seq(acc, x)))
        case other => throw new IllegalArgumentException(
          s"list_aggregate('$other') is not mapped — use the aggregate()" +
            " higher-order function (min/max/count/sum are mapped)")
      }
    },
    // list(x) — DuckDB's collect aggregate. It KEEPS NULL elements
    // where Spark's collect_list drops them, so each element wraps in a
    // never-null struct before collection and unwraps with a transform
    // — same two-phase partial aggregation, NULLs survive. Element
    // order is undefined in BOTH engines (DuckDB documents no order
    // guarantee; Spark collects in partition-arrival order) — sort with
    // list_sort for a deterministic result.
    "list" -> { args0 =>
      val args = arity("list", 1)(args0)
      val agg = aggregate.CollectList(
        CreateNamedStruct(Seq(Literal("v"), args(0))))
        .toAggregateExpression()
      val x = UnresolvedNamedLambdaVariable(Seq("__graft_le"))
      ArrayTransform(agg, LambdaFunction(
        org.apache.spark.sql.catalyst.analysis
          .UnresolvedExtractValue(x, Literal("v")), Seq(x)))
    },
    // histogram(x) — value→count map per group, entries key-sorted,
    // NULLs skipped; a native TypedImperativeAggregate (graft.functions
    // .Histogram) since Spark has no map-building counting aggregate
    "histogram" -> { args0 =>
      val args = arity("histogram", 1)(args0)
      Histogram(args(0))
    },

    // --- round-18 battery-3 additions ---------------------------------
    // row(a, b, …) — DuckDB's anonymous struct constructor (fields v1,
    // v2, … there; Spark's CreateStruct names them col1, col2 — both
    // positional, accessed positionally)
    "row" -> { args0 => CreateStruct(args0) },
    // epoch(ts) — seconds since the epoch as DOUBLE (fractional part
    // kept), which is exactly Spark's timestamp→double cast
    "epoch" -> { args0 =>
      Cast(arity("epoch", 1)(args0).head,
        org.apache.spark.sql.types.DoubleType)
    },
    // today() — DuckDB's current_date spelling
    "today" -> { args0 =>
      arity("today", 0)(args0); CurrentDate()
    },
    "struct_extract" -> { args0 =>
      val args = arity("struct_extract", 2)(args0)
      structExtract(args(0), args(1))
    },
    // week(d) — ISO week number in both engines (measured: 2024-01-15
    // → 3 on each); weekofyear is Spark's name for the same field
    "week" -> { args0 =>
      WeekOfYear(Cast(arity("week", 1)(args0).head,
        org.apache.spark.sql.types.DateType))
    },
    // dayname/monthname — DuckDB returns FULL names ('Monday',
    // 'January'); Spark's builtins abbreviate ('Mon', 'Jan'), so these
    // SHADOW the builtins with the full-name date_format (the len /
    // regexp_replace precedent: where a shared name silently diverges,
    // the engine's surface follows DuckDB)
    "dayname" -> { args0 =>
      DateFormatClass(Cast(arity("dayname", 1)(args0).head,
        org.apache.spark.sql.types.TimestampType), Literal("EEEE"))
    },
    "monthname" -> { args0 =>
      DateFormatClass(Cast(arity("monthname", 1)(args0).head,
        org.apache.spark.sql.types.TimestampType), Literal("MMMM"))
    },
    // ord(c) — DuckDB's codepoint function (alias of unicode): the
    // code point of the FIRST character, -1 for the empty string
    // (measured — Spark's ascii returns 0 there, so the round-19
    // battery re-pointed this from Ascii to the shared helper)
    "ord" -> unicodeBuilder("ord"),
    // prefix/suffix — DuckDB's boolean affix tests
    "prefix" -> { args0 =>
      val a = arity("prefix", 2)(args0); StartsWith(a(0), a(1))
    },
    "suffix" -> { args0 =>
      val a = arity("suffix", 2)(args0); EndsWith(a(0), a(1))
    },
    // format('{} {1}', …) — DuckDB's fmt-style braces translated to the
    // printf spelling format_string takes; literal formats only (the
    // translation is chosen at plan time). Auto {} and manual {n}
    // indexing must not mix — DuckDB's own rule, measured.
    "format" -> { args0 =>
      require(args0.nonEmpty, "format expects a format string")
      val fmt = args0.head match {
        case Literal(s, org.apache.spark.sql.types.StringType)
            if s != null => s.toString
        case _ => throw new IllegalArgumentException(
          "format requires a literal format string")
      }
      FormatString((Literal(bracesToPercent(fmt)) +: args0.tail): _*)
    },
    // --- round-19 battery-5 additions ---------------------------------
    // strpos(haystack, needle) — 1-based first position, 0 when absent,
    // 1 for the empty needle (measured); Spark's instr is the same
    // function with the same argument order
    "strpos" -> { args0 =>
      val a = arity("strpos", 2)(args0)
      StringInstr(a(0), a(1))
    },
    // list_extract / list_element — 1-based element access, NULL out of
    // bounds AND at index 0, negative indexes count from the end
    // (measured). element_at with failOnError=false covers all but the
    // 0 case (Spark refuses 0 even non-ANSI), so 0 remaps to an
    // always-out-of-bounds index, which is NULL.
    "list_extract" -> { args0 => listExtract("list_extract", args0) },
    "list_element" -> { args0 => listExtract("list_element", args0) },
    // graft_subscript(x, i) — DuckDB's `x[i]`, which the router spells
    // as this call because the text cannot tell a list from a string, a
    // struct or a map. The base's resolved type picks DuckDB 1.0's
    // reading (measured): a list's 1-based element (list_extract), a
    // string's 1-based character ('' at 0 and out of range), a
    // struct's field (struct_extract), and a map's value under the key
    // as a list of at most one element. Any other type keeps Spark's
    // own extraction.
    "graft_subscript" -> { args0 =>
      val Seq(x, i) = arity("graft_subscript", 2)(args0)
      x.dataType match {
        case _: ArrayType => listExtract("graft_subscript", args0)
        case _: StringType =>
          If(EqualTo(i, Literal(0)), Literal(""), Substring(x, i, Literal(1)))
        case _: StructType => structExtract(x, i)
        case MapType(_, valueType, _) =>
          If(ArrayContains(MapKeys(x), i),
            CreateArray(Seq(new ElementAt(x, i, None, false))),
            Literal.create(Seq.empty, ArrayType(valueType)))
        case _ => UnresolvedExtractValue(x, i)
      }
    },
    // map(keys, values) over two lists is DuckDB's MAP constructor
    // (`MAP(['a', 'b'], [1, 2])`, two entries; unequal lengths refuse
    // with DuckDB's message); every other arity keeps Spark's pairwise
    // map, which `graft_map` names for the literal pass's `MAP {k: v}`
    "map" -> {
      case Seq(k, v) if Seq(k, v).forall(_.dataType.isInstanceOf[ArrayType]) =>
        val m = MapFromArrays(k, v)
        If(Not(EqualTo(Size(k, false), Size(v, false))),
          Cast(new RaiseError(Literal("The map key list does not align" +
            " with the map value list (as in DuckDB)")), m.dataType), m)
      case args => CreateMap(args)
    },
    "graft_map" -> (args => CreateMap(args)),
    // xor(a, b) — DuckDB's bitwise xor (Spark spells it `^`, which
    // DuckDB reads as power); Spark's coercion widens the two integral
    // types and refuses any other, as DuckDB does
    "xor" -> { args0 =>
      val Seq(a, b) = arity("xor", 2)(args0)
      BitwiseXor(a, b)
    },
    // concat skips NULL arguments in DuckDB ('a' for concat('a', NULL),
    // '' when every argument is NULL) where Spark's returns NULL: over
    // scalar arguments it is concat_ws('', …) on their string forms.
    // Lists and binary values keep Spark's concat; `||` is NULL in both.
    "concat" -> { args =>
      if (args.exists(a => a.dataType.isInstanceOf[ArrayType] ||
          a.dataType.isInstanceOf[MapType] || a.dataType == BinaryType))
        Concat(args)
      else ConcatWs(Literal("") +: args.map(a =>
        if (a.dataType.isInstanceOf[StringType]) a else Cast(a, StringType)))
    },
    // two-argument regexp_extract(_all) reads group 0, the whole match,
    // in DuckDB ('abc123' for ('abc123', '([a-z]+)([0-9]+)'), measured)
    "regexp_extract" -> groupZero("regexp_extract"),
    "regexp_extract_all" -> groupZero("regexp_extract_all"),
    // list_zip(l1, …, ln) — element-wise zip padded to the LONGEST list
    // with NULLs (measured), struct fields named list_1…list_n (DuckDB's
    // documented naming; the container's 1.0 oracle leaves them unnamed,
    // so cross-engine witnesses access fields POSITIONALLY via
    // struct_extract's numeric form below). Spark's arrays_zip pads
    // identically — only the field names need pinning.
    "list_zip" -> { args0 =>
      require(args0.nonEmpty, "list_zip expects at least one list")
      new ArraysZip(args0,
        args0.indices.map(i => Literal(s"list_${i + 1}")))
    },
    // age(t1[, t2]) — Postgres-family calendar-component subtraction,
    // algorithm MEASURED against the oracle engine (it differs from
    // Postgres in the day-borrow month: DuckDB borrows days_in_month of
    // t2's month, Postgres of the month before t1's): with t1 >= t2,
    // borrow a day when time-of-day(t1) < time-of-day(t2), then borrow
    // a month when the adjusted day(t1) < day(t2) adding
    // days_in_month(t2); t1 < t2 mirrors to -(age(t2, t1)). One-arg
    // form anchors t1 at today midnight (DuckDB: current_date).
    "age" -> { args0 =>
      require(args0.length == 1 || args0.length == 2,
        s"age expects 1 or 2 arguments, got ${args0.length}")
      val t1 = if (args0.length == 2) args0.head
        else Cast(CurrentDate(), org.apache.spark.sql.types.TimestampType)
      ageInterval(t1, args0.last)
    },
    // jaccard(s1, s2) — similarity of the two strings' CHARACTER sets
    // (case-sensitive, measured: 'Aa' vs 'aA' → 1.0, 'ABC' vs 'abc' →
    // 0.0); empty input refuses as DuckDB does ("argument too short")
    "jaccard" -> { args0 =>
      val a = arity("jaccard", 2)(args0)
      def chars(e: Expression): Expression =
        ArrayRemove(ArrayDistinct(
          StringSplit(e, Literal(""), Literal(-1))), Literal(""))
      val sim = Divide(
        Cast(Size(ArrayIntersect(chars(a(0)), chars(a(1)))),
          org.apache.spark.sql.types.DoubleType),
        Cast(Size(ArrayUnion(chars(a(0)), chars(a(1)))),
          org.apache.spark.sql.types.DoubleType))
      If(Or(LessThan(Length(a(0)), Literal(1)),
          LessThan(Length(a(1)), Literal(1))),
        Cast(new RaiseError(Literal(
          "jaccard: an argument is too short (both strings must be" +
            " non-empty, as in DuckDB)")),
          org.apache.spark.sql.types.DoubleType),
        sim)
    },
    // hamming(s1, s2) — count of positions whose characters differ;
    // refuses unequal lengths as DuckDB does. BIGINT like the oracle.
    // `mismatches` is DuckDB's alias for the same function.
    "hamming" -> hammingBuilder("hamming"),
    "mismatches" -> hammingBuilder("mismatches"),
    // --- round-19 battery-6 additions ---------------------------------
    // Scalar tail registered as codegen'd statics on [[CompatRuntime]]
    // via StaticInvoke (null-propagating, whole-stage-codegen inlined;
    // each method's Scaladoc records the MEASURED oracle semantics);
    // pre-Casts pin the JVM signatures. Pure JDK statics (isinf /
    // isfinite / nextafter) invoke java.lang directly.
    "gcd" -> longPairBuilder("gcd", "gcd"),
    "greatest_common_divisor" ->
      longPairBuilder("greatest_common_divisor", "gcd"),
    "lcm" -> longPairBuilder("lcm", "lcm"),
    "least_common_multiple" ->
      longPairBuilder("least_common_multiple", "lcm"),
    // even — round to the next even integer AWAY from zero (DOUBLE)
    "even" -> { args0 =>
      val a = arity("even", 1)(args0)
      StaticInvoke(CompatRuntime.getClass, DoubleType, "even",
        Seq(Cast(a.head, DoubleType)))
    },
    // signbit — the IEEE sign BIT (true for -0.0 and -inf, false for
    // NaN), not `x < 0`
    "signbit" -> { args0 =>
      val a = arity("signbit", 1)(args0)
      StaticInvoke(CompatRuntime.getClass, BooleanType, "signbit",
        Seq(Cast(a.head, DoubleType)))
    },
    // isinf / isfinite — Spark has only isnan; java.lang.Double's
    // statics are the exact predicates (NaN is neither)
    "isinf" -> { args0 =>
      val a = arity("isinf", 1)(args0)
      StaticInvoke(classOf[java.lang.Double], BooleanType, "isInfinite",
        Seq(Cast(a.head, DoubleType)))
    },
    "isfinite" -> { args0 =>
      val a = arity("isfinite", 1)(args0)
      StaticInvoke(classOf[java.lang.Double], BooleanType, "isFinite",
        Seq(Cast(a.head, DoubleType)))
    },
    // nextafter(a, b) — IEEE next representable double toward b
    "nextafter" -> { args0 =>
      val a = arity("nextafter", 2)(args0)
      StaticInvoke(classOf[java.lang.Math], DoubleType, "nextAfter",
        Seq(Cast(a(0), DoubleType), Cast(a(1), DoubleType)))
    },
    // unicode(s) — code point of the FIRST character, -1 for ''
    // (measured; Spark's ascii diverges on the empty string)
    "unicode" -> unicodeBuilder("unicode"),
    // strip_accents — NFD-decompose, drop combining marks
    "strip_accents" -> { args0 =>
      val a = arity("strip_accents", 1)(args0)
      StaticInvoke(CompatRuntime.getClass, StringType, "stripAccents",
        Seq(a.head))
    },
    // damerau_levenshtein — TRUE Damerau (transposed substrings may be
    // edited again: ('CA','ABC') = 2, where the OSA restriction says 3)
    "damerau_levenshtein" -> { args0 =>
      val a = arity("damerau_levenshtein", 2)(args0)
      StaticInvoke(CompatRuntime.getClass, LongType, "damerauLevenshtein",
        Seq(a(0), a(1)))
    },
    // editdist3 — DuckDB's alias for plain Levenshtein (measured:
    // editdist3('duck','dcuk') = 2 = levenshtein); BIGINT like the
    // oracle (Spark's builtin returns INT)
    "editdist3" -> { args0 =>
      val a = arity("editdist3", 2)(args0)
      Cast(Levenshtein(a(0), a(1)), LongType)
    },
    // format_bytes — binary units, ONE decimal digit TRUNCATED,
    // singular '1 byte', sign preserved, capped at PiB (all measured)
    "format_bytes" -> { args0 =>
      val a = arity("format_bytes", 1)(args0)
      StaticInvoke(CompatRuntime.getClass, StringType, "formatBytes",
        Seq(Cast(a.head, LongType)))
    },
    // bar(x, min, max[, width=80]) — block-glyph bar chart padded with
    // spaces to `width` UTF-8 BYTES (measured quirk: each block glyph
    // counts 3)
    "bar" -> { args0 =>
      require(args0.length == 3 || args0.length == 4,
        s"bar expects 3 or 4 arguments, got ${args0.length}")
      val widened = (args0 :+ Literal(80.0d)).take(4)
        .map(e => Cast(e, DoubleType))
      StaticInvoke(CompatRuntime.getClass, StringType, "bar", widened)
    },
    // to_base(n, radix[, min_length]) — uppercase digits via Spark's
    // conv; min_length zero-PADS only (measured: never truncates);
    // negative input refuses as DuckDB does
    "to_base" -> { args0 =>
      require(args0.length == 2 || args0.length == 3,
        s"to_base expects 2 or 3 arguments, got ${args0.length}")
      val n = Cast(args0.head, LongType)
      val conv = Conv(Cast(n, StringType), Literal(10),
        Cast(args0(1), IntegerType))
      val padded =
        if (args0.length == 3) {
          val len = Cast(args0(2), IntegerType)
          If(GreaterThanOrEqual(Length(conv), len), conv,
            StringLPad(conv, len, Literal("0")))
        } else conv
      If(LessThan(n, Literal(0L)),
        Cast(new RaiseError(Literal("to_base: number must be greater" +
          " than or equal to 0 (as in DuckDB)")), StringType),
        padded)
    },
    // to_hex / from_hex — Spark's hex/unhex are the same functions
    // under other names (uppercase digits, two's-complement negatives,
    // BLOB round-trip — measured identical)
    "to_hex" -> { args0 => Hex(arity("to_hex", 1)(args0).head) },
    "from_hex" -> { args0 => Unhex(arity("from_hex", 1)(args0).head) },
    // list_inner_product / list_distance / list_cosine_similarity —
    // sequential left folds over double lists, bit-identical to the
    // oracle (the cosine DENOMINATOR ASSOCIATION was measured on
    // distinguishing inputs); length mismatch and NULL elements refuse
    // as DuckDB does. list_dot_product is DuckDB's alias.
    "list_inner_product" -> vectorBuilder("list_inner_product",
      "listInner"),
    "list_dot_product" -> vectorBuilder("list_dot_product", "listInner"),
    "list_distance" -> vectorBuilder("list_distance", "listDistance"),
    "list_cosine_similarity" -> vectorBuilder("list_cosine_similarity",
      "listCosine"),
    // --- round-19 battery-7 additions ---------------------------------
    // jaro / jaro-winkler string similarity — byte-based with DuckDB's
    // measured edges and float association (see CompatRuntime)
    "jaro_similarity" -> { args0 =>
      val a = arity("jaro_similarity", 2)(args0)
      StaticInvoke(CompatRuntime.getClass, DoubleType, "jaro",
        Seq(a(0), a(1)))
    },
    "jaro_winkler_similarity" -> { args0 =>
      val a = arity("jaro_winkler_similarity", 2)(args0)
      StaticInvoke(CompatRuntime.getClass, DoubleType, "jaroWinkler",
        Seq(a(0), a(1)))
    },
    // quantile_disc(x, q) — the DISCRETE quantile (an order statistic,
    // exact and deterministic): the element at index max(1, ceil(q·n))
    // of the sorted non-null values, 1-based — the index rule pinned
    // against the oracle on 500/500 fuzzed (values, q) draws (the two
    // q·(n−1) spellings mismatched 206 and 228). `quantile` is
    // DuckDB's alias for the same function. Composes two native
    // aggregates (sorted collect + count) in one expression; the
    // collected group materializes like DuckDB's own exact quantile —
    // bounded group sizes, the documented exact-vs-sketch trade
    // (c_approx_quantile carries the sketch path).
    "quantile_disc" -> quantileDiscBuilder("quantile_disc"),
    "quantile" -> quantileDiscBuilder("quantile"),
    // list_any_value — the FIRST non-NULL element (measured:
    // list_any_value([NULL, 7, 8]) = 7; NULL when none)
    "list_any_value" -> { args0 =>
      val a = arity("list_any_value", 1)(args0)
      val v = UnresolvedNamedLambdaVariable(Seq("graft_lav"))
      new ElementAt(ArrayFilter(a.head,
        LambdaFunction(IsNotNull(v), Seq(v))), Literal(1), None, false)
    },
    // scalar generate_series / range (see seriesBuilder; the
    // FROM-position forms stay on the injected table functions)
    "generate_series" -> seriesBuilder("generate_series",
      inclusive = true),
    "range" -> seriesBuilder("range", inclusive = false))

  /** Scalar (SELECT-position) generate_series / range — DuckDB returns
    * a BIGINT LIST there, distinct from the FROM-position table forms
    * (which stay on the injected TABLE functions): generate_series is
    * END-INCLUSIVE, range END-EXCLUSIVE, the one-arg forms anchor at 0
    * (series 0..n, range 0..n−1), and a wrong-direction span is the
    * EMPTY list (measured: generate_series(4,1) = [], range(4,1) = [])
    * where Spark's sequence would either flip direction or refuse. The
    * step must be a literal — its SIGN picks the guard and the
    * exclusive-end adjustment; bounds may be columns. The typed empty
    * list spells as filter(sequence(a,a), false). */
  private def seriesBuilder(
      name: String, inclusive: Boolean): Builder = { args0 =>
    require(args0.nonEmpty && args0.length <= 3,
      s"$name takes 1-3 arguments, got ${args0.length}")
    val (a0, b0, stepE) = args0 match {
      case Seq(b) => (Literal(0L), b, Literal(1L))
      case Seq(a, b) => (a, b, Literal(1L))
      case Seq(a, b, st) => (a, b, st)
    }
    require(stepE.foldable,
      s"$name needs a literal step (its sign shapes the bounds)")
    val step = stepE.eval(null) match {
      case n: Number => n.longValue
      case other => throw new IllegalArgumentException(
        s"$name step must be integral, got $other")
    }
    require(step != 0L, s"$name step must not be 0 (as in DuckDB)")
    val a = Cast(a0, org.apache.spark.sql.types.LongType)
    val bIncl0 = Cast(b0, org.apache.spark.sql.types.LongType)
    // exclusive end pulls one unit toward the start
    val bIncl = if (inclusive) bIncl0
      else Subtract(bIncl0, Literal(if (step > 0) 1L else -1L))
    val x = UnresolvedNamedLambdaVariable(Seq("graft_gs"))
    val empty = ArrayFilter(new Sequence(a, a),
      LambdaFunction(Literal(false), Seq(x)))
    val wrongWay = if (step > 0) LessThan(bIncl, a) else GreaterThan(bIncl, a)
    If(wrongWay, empty, new Sequence(a, bIncl, Some(Literal(step))))
  }

  /** DuckDB's synonym surface for already-registered builders — each
    * injects the CANONICAL builder under the alternate spelling, so
    * semantics (and refusal messages, which name the canonical
    * function) are defined exactly once. */
  private val synonyms: Seq[(String, String)] = Seq(
    "list_aggr" -> "list_aggregate",
    "array_aggregate" -> "list_aggregate",
    "array_aggr" -> "list_aggregate",
    "array_slice" -> "list_slice",
    "list_pack" -> "list_value",
    "array_reverse" -> "list_reverse")

  private def quantileDiscBuilder(name: String): Builder = { args0 =>
    val a = arity(name, 2)(args0)
    val sorted = new SortArray(
      aggregate.CollectList(a(0)).toAggregateExpression(), Literal(true))
    val n = aggregate.Count(Seq(a(0))).toAggregateExpression()
    val q = Cast(a(1), DoubleType)
    val nD = Cast(n, DoubleType)
    // measured: q ranges over [-1, 1]; a NEGATIVE q is the quantile of
    // the DESCENDING order (quantile_disc(x, -0.25) on (1,2,3,4) = 4),
    // which maps onto the ascending list as index n - k + 1; outside
    // the range DuckDB raises a binder error, not NULL/clamp
    val kPos = Greatest(Seq(Literal(1L), Ceil(Multiply(q, nD))))
    // outer clamp (ADVICE r20): for n ≥ 1 and q ∈ [-1,0) the index is
    // already in [1,n] — unchanged; for an empty/all-NULL group (n = 0)
    // it would be 0, and ElementAt raises INVALID_INDEX_OF_ZERO even
    // with failOnError=false, where DuckDB returns NULL (measured).
    // Clamped to 1, ElementAt(empty, 1, failOnError=false) yields NULL.
    val kNeg = Greatest(Seq(Literal(1L),
      Add(Subtract(Cast(n, LongType), Greatest(Seq(Literal(1L),
        Ceil(Multiply(UnaryMinus(q), nD))))), Literal(1L))))
    val idx = If(LessThan(q, Literal(0.0)), kNeg, kPos)
    val guarded = If(
      Or(LessThan(q, Literal(-1.0)), GreaterThan(q, Literal(1.0))),
      Cast(new RaiseError(Literal(s"$name can only take parameters in" +
        " the range [-1, 1] (as in DuckDB)")), LongType),
      idx)
    new ElementAt(sorted, Cast(guarded, IntegerType), None, false)
  }

  private def hammingBuilder(name: String): Builder = { args0 =>
    val a = arity(name, 2)(args0)
    def chars(e: Expression): Expression =
      ArrayRemove(StringSplit(e, Literal(""), Literal(-1)), Literal(""))
    val x = UnresolvedNamedLambdaVariable(Seq("graft_h_x"))
    val y = UnresolvedNamedLambdaVariable(Seq("graft_h_y"))
    val b = UnresolvedNamedLambdaVariable(Seq("graft_h_b"))
    val diffs = ZipWith(chars(a(0)), chars(a(1)),
      LambdaFunction(Not(EqualTo(x, y)), Seq(x, y)))
    val count = Cast(Size(ArrayFilter(diffs, LambdaFunction(b, Seq(b)))),
      LongType)
    If(Not(EqualTo(Length(a(0)), Length(a(1)))),
      Cast(new RaiseError(Literal(
        s"$name: strings must be of equal length (as in DuckDB)")),
        LongType),
      count)
  }

  /** BIGINT-pair static on [[CompatRuntime]] (gcd / lcm). */
  private def longPairBuilder(name: String, fn: String): Builder =
    { args0 =>
      val a = arity(name, 2)(args0)
      StaticInvoke(CompatRuntime.getClass, LongType, fn,
        Seq(Cast(a(0), LongType), Cast(a(1), LongType)))
    }

  private def unicodeBuilder(name: String): Builder = { args0 =>
    val a = arity(name, 1)(args0)
    StaticInvoke(CompatRuntime.getClass, IntegerType, "unicode",
      Seq(a.head))
  }

  /** Double-list-pair static on [[CompatRuntime]]; casts both sides to
    * array<double> so integer literals inside list constructors work
    * exactly as DuckDB coerces them. */
  private def vectorBuilder(name: String, fn: String): Builder =
    { args0 =>
      val a = arity(name, 2)(args0)
      StaticInvoke(CompatRuntime.getClass, DoubleType, fn,
        a.map(e => Cast(e, ArrayType(DoubleType))))
    }

  private def listExtract(
      name: String, args0: Seq[Expression]): Expression = {
    val a = arity(name, 2)(args0)
    val i = Cast(a(1), IntegerType)
    val idx = If(EqualTo(i, Literal(0)), Literal(Int.MaxValue), i)
    new ElementAt(a(0), idx, None, false)
  }

  /** struct_extract(s, k) — field access as a function call;
    * UnresolvedExtractValue is the same node `s.name` parses to. A
    * numeric k is DuckDB's 1-BASED positional access (its only way into
    * an unnamed struct, e.g. list_zip's elements on the oracle engine)
    * → GetStructField by ordinal, which works on any struct and
    * resolves its type lazily from the child. */
  private def structExtract(s: Expression, k: Expression): Expression =
    k match {
      case Literal(n: Int, IntegerType) => GetStructField(s, n - 1)
      case Literal(n: Long, LongType) => GetStructField(s, n.toInt - 1)
      case _ => UnresolvedExtractValue(s, k)
    }

  /** DuckDB's age(t1, t2) as a composed tree of codegen'd builtins.
    * Component-wise calendar subtraction for t1 >= t2 (mirrored via
    * interval negation otherwise): borrow a day when t1's time-of-day
    * is earlier than t2's, then borrow a month when the adjusted day is
    * smaller than t2's, adding days_in_month of T2'S month (measured —
    * age('2024-07-04','1994-03-15') is 30y 3m 20d in DuckDB where the
    * Postgres borrow rule would give 19d). */
  private def ageInterval(t1e: Expression, t2e: Expression): Expression = {
    import org.apache.spark.sql.types.{
      DateType, DecimalType, IntegerType, LongType, TimestampType}
    def pos(a0: Expression, b0: Expression): Expression = {
      val a = Cast(a0, TimestampType)
      val b = Cast(b0, TimestampType)
      def micOfDay(t: Expression): Expression =
        Subtract(UnixMicros(t),
          UnixMicros(Cast(Cast(t, DateType), TimestampType)))
      val (da, db) = (Cast(a, DateType), Cast(b, DateType))
      val moDiff = Add(
        Multiply(Subtract(Year(da), Year(db)), Literal(12)),
        Subtract(Month(da), Month(db)))
      val (soda, sodb) = (micOfDay(a), micOfDay(b))
      val timeBorrow = LessThan(soda, sodb)
      val d1 = Subtract(DayOfMonth(da),
        If(timeBorrow, Literal(1), Literal(0)))
      val sodDiff = Add(Subtract(soda, sodb),
        If(timeBorrow, Literal(86400000000L), Literal(0L)))
      val dayBorrow = LessThan(d1, DayOfMonth(db))
      val dimB = DayOfMonth(LastDay(db))
      val days = Add(Subtract(d1, DayOfMonth(db)),
        If(dayBorrow, dimB, Literal(0)))
      val months = Subtract(moDiff, If(dayBorrow, Literal(1), Literal(0)))
      // integral div/rem on the microsecond remainder
      val hours = Cast(IntegralDivide(sodDiff, Literal(3600000000L)),
        IntegerType)
      val hourMicros = Multiply(Cast(hours, LongType), Literal(3600000000L))
      val afterH = Subtract(sodDiff, hourMicros)
      val mins = Cast(IntegralDivide(afterH, Literal(60000000L)), IntegerType)
      val secMicros = Subtract(afterH,
        Multiply(Cast(mins, LongType), Literal(60000000L)))
      val secs = Cast(
        Divide(Cast(secMicros, DecimalType(20, 6)),
          Literal(org.apache.spark.sql.types.Decimal(1000000L),
            DecimalType(7, 0))),
        DecimalType(8, 6))
      new MakeInterval(Literal(0), months, Literal(0), days,
        hours, mins, secs)
    }
    val geq = GreaterThanOrEqual(
      Cast(t1e, TimestampType), Cast(t2e, TimestampType))
    If(geq, pos(t1e, t2e), UnaryMinus(pos(t2e, t1e)))
  }

  /** Translate a DuckDB fmt-style format ({} auto, {n} manual, {{ }}
    * escapes) to java.util.Formatter syntax. */
  private[functions] def bracesToPercent(fmt: String): String = {
    val out = new StringBuilder
    var auto = false
    var manual = false
    var i = 0
    while (i < fmt.length) {
      val ch = fmt.charAt(i)
      if (ch == '{' && i + 1 < fmt.length && fmt.charAt(i + 1) == '{') {
        out.append('{'); i += 2
      } else if (ch == '}' && i + 1 < fmt.length &&
          fmt.charAt(i + 1) == '}') {
        out.append('}'); i += 2
      } else if (ch == '{') {
        val close = fmt.indexOf('}', i)
        require(close > 0, s"format: unterminated {} in '$fmt'")
        val body = fmt.substring(i + 1, close).trim
        if (body.isEmpty) { auto = true; out.append("%s") }
        else {
          require(body.forall(_.isDigit),
            s"format: only {} and {n} placeholders route — got {$body}")
          manual = true
          out.append("%").append(body.toInt + 1).append("$s")
        }
        require(!(auto && manual),
          "format: cannot mix automatic {} and manual {n} indexing")
        i = close + 1
      } else if (ch == '%') { out.append("%%"); i += 1 }
      else { out.append(ch); i += 1 }
    }
    out.toString
  }

  /** The literal flag characters of a regexp function's flags argument
    * — validated against the supported set (g global, i insensitive,
    * s dotall, m multiline, c case-sensitive no-op). */
  private def literalFlags(e: Expression, fn: String): String = e match {
    case Literal(s, org.apache.spark.sql.types.StringType) if s != null =>
      val f = s.toString
      val bad = f.filterNot("giscm".contains(_))
      require(bad.isEmpty, s"$fn: unsupported regexp flag(s) '$bad'")
      f
    case _ => throw new IllegalArgumentException(
      s"$fn requires a literal flags string")
  }

  /** Prepend the inline modifiers a flags string maps to ((?i)/(?s)/
    * (?m)) to the pattern expression — Concat, so computed patterns
    * work; g and c have no inline form (g is the caller's semantics
    * choice, c the default). */
  private def regexFlagged(
      re: Expression, flags: Expression, fn: String): Expression = {
    val inline = literalFlags(flags, fn).distinct.collect {
      case 'i' => "(?i)"
      case 's' => "(?s)"
      case 'm' => "(?m)"
    }.mkString
    if (inline.isEmpty) re else Concat(Seq(Literal(inline), re))
  }

  /** Shared 3-arg/2-arg builder for date_diff and its datediff alias. */
  private def dateDiffBuilder(name: String): Builder = {
    case Seq(end, start) => DateDiff(end, start) // Spark's builtin form
    case Seq(part, a, b) => boundariesBetween(
      partLiteral(part, name), a, b)
    case args => throw new IllegalArgumentException(
      s"$name takes (end, start) or ('part', start, end) —" +
        s" got ${args.length} arguments")
  }

  /** The literal part name of a date_diff/date_sub call, lowercased and
    * de-pluralized; non-literal parts refuse (the arithmetic is chosen
    * at plan time). */
  private def partLiteral(e: Expression, fn: String): String = e match {
    case Literal(s, org.apache.spark.sql.types.StringType) if s != null =>
      val p = s.toString.toLowerCase
      if (p.length > 1 && p.endsWith("s")) p.stripSuffix("s") else p
    case _ => throw new IllegalArgumentException(
      s"$fn requires a literal part name as its first argument")
  }

  /** DuckDB date_diff: the number of `part` boundaries crossed between
    * `a` and `b` (signed), as BIGINT. Calendar parts difference the
    * extracted fields; 'week' differences Monday-truncated dates; clock
    * parts difference FLOOR-divided epoch seconds/micros (floor, not
    * truncate — pre-epoch values divide toward -∞ via a pmod). */
  private def boundariesBetween(
      part: String, a: Expression, b: Expression): Expression = {
    import org.apache.spark.sql.types.{DateType, LongType, TimestampType}
    def asDate(e: Expression) = Cast(e, DateType)
    def asTs(e: Expression) = Cast(e, TimestampType)
    def floorDiv(x: Expression, u: Long): Expression =
      new IntegralDivide(Subtract(x, Pmod(x, Literal(u))), Literal(u))
    def epochDiff(unitMicros: Long): Expression =
      Subtract(floorDiv(UnixMicros(asTs(b)), unitMicros),
        floorDiv(UnixMicros(asTs(a)), unitMicros))
    val out: Expression = part match {
      case "year" => Subtract(Year(b), Year(a))
      case "quarter" =>
        Add(Multiply(Subtract(Year(b), Year(a)), Literal(4)),
          Subtract(Quarter(b), Quarter(a)))
      case "month" =>
        Add(Multiply(Subtract(Year(b), Year(a)), Literal(12)),
          Subtract(Month(b), Month(a)))
      case "week" =>
        // Monday-start week boundaries in both engines; the day span
        // between week-truncated dates is an exact multiple of 7
        new IntegralDivide(
          DateDiff(TruncDate(asDate(b), Literal("week")),
            TruncDate(asDate(a), Literal("week"))), Literal(7))
      case "day" => DateDiff(asDate(b), asDate(a))
      case "hour" => epochDiff(3600L * 1000000L)
      case "minute" => epochDiff(60L * 1000000L)
      case "second" => epochDiff(1000000L)
      case "millisecond" => epochDiff(1000L)
      case "microsecond" => epochDiff(1L)
      case other => throw new IllegalArgumentException(
        s"date_diff part '$other' is not supported (year/quarter/month/" +
          "week/day/hour/minute/second/millisecond/microsecond)")
    }
    Cast(out, LongType) // DuckDB returns BIGINT for every part
  }

  private def lengthBuilder(name: String): Builder = { args0 =>
    val arg = arity(name, 1)(args0).head
    if (arg.resolved && arg.dataType.isInstanceOf[ArrayType])
      Cast(Size(arg, legacySizeOfNull = false), LongType)
    else Length(arg)
  }

  /** A TIMESTAMP_NTZ read as the UTC instant with the same wall clock
    * (so its epoch is the wall clock's); other types pass through. */
  private def naiveAsUtc(e: Expression): Expression =
    if (e.resolved &&
        e.dataType == org.apache.spark.sql.types.TimestampNTZType)
      Cast(e, org.apache.spark.sql.types.TimestampType, Some("UTC"))
    else e

  /** Install every alias through the public extension point; composes
    * with the optimizer-rule extensions in `Session.builder`. */
  def install(ext: SparkSessionExtensions): Unit = {
    aliases.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(getClass.getCanonicalName, name), builder))
    }
    locally {
      val byName = aliases.toMap
      synonyms.foreach { case (syn, canon) =>
        ext.injectFunction((FunctionIdentifier(syn),
          new ExpressionInfo(getClass.getCanonicalName, syn),
          byName(canon)))
      }
    }
    // unnest in SELECT position — DuckDB's row-expander, Spark's explode
    // (same single-generator-per-select rule applies; a second unnest
    // fails loudly at analysis, where DuckDB would zip them)
    ext.injectFunction((FunctionIdentifier("unnest"),
      new ExpressionInfo(getClass.getCanonicalName, "unnest"),
      (args: Seq[Expression]) => Explode(arity("unnest", 1)(args).head)))
    // generate_series — DuckDB's INCLUSIVE-end table function
    // ((stop) | (start, stop) | (start, stop, step)), mapped onto
    // Spark's native Range plan (exclusive end, so the bound shifts by
    // one step-sign). Bounds must be literals: Range is a leaf plan
    // whose extent exists before execution — same restriction Spark's
    // own range() has. Output column is Spark's `id`; alias it as
    // DuckDB queries usually do (`generate_series(5) t(x)`).
    ext.injectTableFunction((FunctionIdentifier("generate_series"),
      new ExpressionInfo(getClass.getCanonicalName, "generate_series"),
      (args: Seq[Expression]) => {
        def lit(e: Expression, what: String): Long = {
          require(e.foldable,
            s"generate_series $what must be a literal")
          e.eval(null) match {
            case n: Number => n.longValue
            case other => throw new IllegalArgumentException(
              s"generate_series $what must be integral, got $other")
          }
        }
        val (start, stop, step) = args match {
          case Seq(s0) => (0L, lit(s0, "stop"), 1L)
          case Seq(a, b) => (lit(a, "start"), lit(b, "stop"), 1L)
          case Seq(a, b, c) =>
            (lit(a, "start"), lit(b, "stop"), lit(c, "step"))
          case _ => throw new IllegalArgumentException(
            "generate_series takes 1-3 arguments")
        }
        require(step != 0L, "generate_series step must not be 0")
        val endExclusive = if (step > 0) stop + 1 else stop - 1
        org.apache.spark.sql.catalyst.plans.logical.Range(
          start, endExclusive, step, None)
      }))
  }
}
