package graft.engine

import org.apache.spark.sql.SparkSession

/** Memoized SparkSession factory — the Spark analog of the reference's
  * lazy one-time DuckDB-WASM bootstrap (`/root/reference/src/duckdb.ts:14-39`:
  * single engine instance, single connection, concurrent callers share one
  * promise). `getOrCreate()` is already idempotent; we memoize the configured
  * builder so every caller (Verify, Bench, tests) shares ONE config source —
  * round 1 shipped divergent ad-hoc sessions (VERDICT.md #3).
  *
  * Config notes (scale-first):
  *  - shuffle.partitions defaults to the local core count (32), not 200 —
  *    on a real cluster this would be set to ~2-3x total cores or left to AQE
  *    coalescing, which is enabled.
  *  - AQE on: runtime join-strategy switch + skew-join splitting + partition
  *    coalescing, the knobs that matter at 100 TB.
  *  - UTC everywhere: session TZ for SQL semantics AND the JVM default zone
  *    (java.sql.Timestamp/driver-side formatting are JVM-zone sensitive —
  *    ADVICE.md r1), so results never depend on the host's zone.
  *  - Session artifact isolation off. Spark's default gives every
  *    `SparkSession` its own executor-side classloader, and the codegen
  *    cache is keyed on (classloader, source), so each fresh `newSession()`
  *    (a workbench slot, every suite) recompiled the classes an earlier
  *    session had compiled (CodegenCacheSpec: a statement re-run in a
  *    second fresh session compiled 2 classes again). Nothing here adds a
  *    session artifact (no `addArtifact`, no `ADD JAR`, no per-session
  *    jar), so every session can share the context's loader.
  *  - Codegen cache of 1000 entries, not Spark's 100. The cache is sized
  *    once per JVM, at the first compile. A perfbench run (4-core host,
  *    one seed per workload) compiled 509 classes on interactive and 444
  *    on bulk with both defaults; with both settings it compiles 275 and
  *    239, one per distinct (classloader, source) key, since no entry is
  *    evicted below 1000. The 100-entry LRU is smaller than that working
  *    set and evicted a pipeline's classes between its rounds.
  *  - One compile per class on local masters. The cache key's loader is
  *    the calling thread's context loader: the driver's whole-stage
  *    validation compile ran under the caller's loader and the first
  *    task under the executor's, so each new source compiled twice (81
  *    of 158 in a bulk perfbench run). `getOrCreate` reads the
  *    executor's task loader once per context, with one one-task job
  *    before any statement (`TaskLoader`), and every engine path that runs
  *    a plan does so under it, restoring the caller's loader after:
  *    `Engine.sql`, `Engine.stream`, the render path (`FirstPage`), the
  *    CSV parts (`EachPartition`), every `Export.write*` and
  *    `graft.Bench`'s action (TaskLoaderSpec, one case per path). An
  *    action a caller runs on a DataFrame directly still compiles each
  *    new class twice.
  *  - `ParamLiterals`: int, long, double, date and timestamp literals of
  *    filters and projections reach generated code as parameters, not
  *    as source text, so a statement re-run with an edited literal
  *    reuses its classes (ParamLiteralsSpec). Scans keep their literals.
  */
object Session {
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  lazy val spark: SparkSession = builder().getOrCreate()

  def builder(master: String = s"local[$cpus]"): SparkSession.Builder = {
    java.util.TimeZone.setDefault(java.util.TimeZone.getTimeZone("UTC"))
    new SparkSession.Builder {
      // a local context's task classloader is read as the context starts
      override def getOrCreate(): SparkSession =
        TaskLoader.capture(super.getOrCreate())
    }
      .master(master)
      .appName("graft")
      // engine-level Catalyst rules (e.g. the NULLIF pushdown rewrite) ride
      // the public extension point so they apply to ALL user SQL, as does
      // the DuckDB function-name compatibility pack (string_split,
      // list_transform, epoch_us, strftime %-codes, …)
      .withExtensions(graft.plans.NullifPushdown.install)
      // int/long/double/date/timestamp literals of filters and projections
      // reach generated code as parameters, so an edited literal reuses
      // its statement's classes
      .withExtensions(graft.plans.ParamLiterals.install)
      .withExtensions(graft.functions.DuckdbCompat.install)
      // native vector folds (graft_dot / graft_l2_slice, r21) — consumed
      // by the LSH bucket and PQ distance expression strings
      .withExtensions(graft.functions.VectorOps.install)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      // Current testdata stores events.ts as TIMESTAMP(MICROS, ntz), which
      // reads natively as TIMESTAMP_NTZ — this flag does not touch it. It
      // only softens a TIMESTAMP(NANOS) parquet from a hard read failure
      // into a BIGINT-nanos column; NOTHING downstream converts that BIGINT
      // anymore (the nanos→micros adapter was removed with the micros
      // testdata), so nanos-encoded events data is NOT supported end to
      // end — Tables.eventTs/eventUs assume micros-native TIMESTAMP_NTZ,
      // and feeding them a BIGINT would silently misread (ADVICE r14).
      // Restoring nanos support means branching those adapters on dtype.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "1000")
  }

  /** Driver-harness session: local[$SPARK_GRAFT_CPUS] with WARN logging.
    * Single CPU default lives in `cpus` (VERDICT r3 #6). */
  def forHarness(): SparkSession = {
    val s = builder().getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
