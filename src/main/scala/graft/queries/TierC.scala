package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

import Tables._

/** Tier C — the delegated SQL surface (SURVEY.md §2 Tier C). The reference
  * passes arbitrary SQL verbatim to DuckDB (`/root/reference/src/duckdb.ts:
  * 46-49`); our analog surface is Spark SQL + the DataFrame API. Each query
  * here is a named, deterministic, oracle-checked witness of one category:
  * joins, windows, set ops, grouping sets/rollup/cube, distinct aggregates,
  * FILTER clauses, subqueries, CTEs, JSON functions, higher-order array
  * functions, interval arithmetic.
  *
  * A query whose DuckDB text returns the builder's rows through the
  * engine's SQL path, with the same physical operators, IS that text
  * (`Tables.q`, registry below): the joins left/semi/anti/range, most
  * windows, the aggregates, sampling, histogram, retention, the funnels,
  * sessionization and the scalar witnesses. A DataFrame builder stays
  * only for one of these reasons:
  *  - a hand-shaped plan the text does not give (pre-aggregation before
  *    the Expand or the pivot): c_rollup, c_cube, c_pivot, c_string_agg,
  *    c_unpivot, c_window_groups;
  *  - an explicit physical choice (hint, salting, Bloom filter, UDAF):
  *    c_join_inner, c_join_theta, c_salted_agg, c_salted_join,
  *    c_bloom_semijoin, c_udaf_sumsq;
  *  - its text is another declared query's: c_grouping_reagg
  *    (c_sql_grouping_sets), c_window_range_bucketed (c_window_range);
  *  - a measured baseline reads the builder: c_stats_moments
  *    (perfbench's watchlist);
  *  - the text was slower in the `graft.Bench` A/B beyond the builder's
  *    run-to-run spread: c_event_hourly, c_window_frame, c_window_ranks.
  *    Each builder groups on the raw truncated timestamp and formats the
  *    few bucket rows after the aggregate; the text formats every row;
  *  - the routed text fails or differs (`routed_expected_failures.txt`,
  *    RoutedOracleSpec): c_gapfill, c_higher_order, c_json_extract,
  *    c_kmv_distinct, c_nested_types, c_pivot_dynamic,
  *    c_window_frame_exclude;
  *  - a different plan, slower as text: c_join_asof. The text's ASOF
  *    JOIN routes as a broadcast hash join under a top-k; the builder is
  *    one union and one running-`last` window (221 → 255 ms at sf0.1,
  *    builder → text medians of interleaved runs, `local[4]`);
  *  - no oracle (rows-only): c_current_date, c_approx_distinct,
  *    c_approx_quantile.
  *
  * Determinism rules as in Templates: fixed literals, unique-key ORDER BY,
  * money summed exactly in DECIMAL and cast to DOUBLE only at the output
  * edge (never a multi-operand reduction over raw doubles — those are
  * order-sensitive and diverge across engines). Computed integer outputs
  * (row_number, size, json ints) are cast to BIGINT on both sides because
  * Spark yields INT where DuckDB yields BIGINT/HUGEINT.
  *
  * Scale notes are per-query; the common pattern — pushed scan → partial
  * agg → small shuffle — holds at 100 TB because group-key cardinality
  * (supplier × month, mktsegment, event_type) grows far slower than input.
  */
object TierC {

  /** Exact decimal sum (NO double cast — for intermediate aggregates that
    * are summed or compared again downstream; cast to double at the edge). */
  private def decSum(c: String): Column =
    sum(col(c).cast(DecimalType(18, 2)))
  private def oDecSum(x: String): String =
    s"SUM(CAST($x AS DECIMAL(18,2)))"

  // --- Joins ---------------------------------------------------------------

  /** Inner 3-way join: the big fact table joins orders on the shuffle key
    * and the tiny customer dim via an explicit broadcast — at 100 TB
    * lineitem⋈orders is a co-partitioned sort-merge/shuffled-hash join on
    * l_orderkey while customer (~small) ships to every executor, avoiding a
    * second full shuffle. */
  val joinInner: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(t(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_items"), dsum("l_extendedprice").as("revenue"))
      .orderBy(col("c_mktsegment"))

  val joinInnerSql: String =
    s"""SELECT c_mktsegment, COUNT(*) AS n_items,
       |  ${oDsum("l_extendedprice")} AS revenue
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |GROUP BY c_mktsegment
       |ORDER BY c_mktsegment""".stripMargin

  /** Left outer join against a pre-aggregated subquery: aggregate lineitem
    * per order FIRST (map-side-combinable, shrinks the join input by the
    * lines-per-order factor), then left-join — the at-scale shape for
    * "orders with/without recent shipments". Inner sums stay exact DECIMAL;
    * only the final output casts to DOUBLE. */
  val joinLeftSql: String =
    s"""SELECT o_orderpriority, COUNT(*) AS n_orders,
       |  COUNT(l_orderkey) AS n_matched,
       |  CAST(SUM(COALESCE(sub_cost, 0)) AS DOUBLE) AS shipped_value
       |FROM orders
       |LEFT JOIN (
       |  SELECT l_orderkey, ${oDecSum("l_extendedprice")} AS sub_cost
       |  FROM lineitem WHERE l_shipdate >= TIMESTAMP '1998-06-01'
       |  GROUP BY l_orderkey
       |) ON o_orderkey = l_orderkey
       |GROUP BY o_orderpriority
       |ORDER BY o_orderpriority""".stripMargin

  /** Left-semi join (EXISTS): customers having at least one big order. */
  val joinSemiSql: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |              WHERE o_custkey = c_custkey AND o_totalprice > 450000)
      |ORDER BY c_custkey""".stripMargin

  /** Left-anti join (NOT EXISTS): customers with no big order. */
  val joinAntiSql: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey AND o_totalprice > 450000)
      |ORDER BY c_custkey""".stripMargin

  /** As-of join: each purchase event matched to the MOST RECENT prior (or
    * simultaneous) click by the same user. Spark has no ASOF JOIN operator
    * (DuckDB does — the oracle uses it), so this is the scalable union +
    * running-`last()` formulation: tag both sides, union, and take
    * `last(click_ts, ignoreNulls)` over (user, time) with side 0 (click)
    * ordered before side 1 (purchase) at equal timestamps so `>=`
    * semantics match. ONE shuffle on user_id + a per-partition sort —
    * never a per-row subquery or a range self-join; at 100 TB this is the
    * standard log-enrichment shape (skewed users handled by AQE).
    * Timestamps compared and emitted at exact microsecond epoch integers
    * on both sides (`Tables.eventUs` ↔ the oracle's `epoch_us(ts)`). */
  val joinAsof: Q = (s, dir) => {
    // ONE scan with a conditional projection, not a union of two filtered
    // scans — the IN filter pushes down and the side/carry columns are
    // map-side expressions (PlanSpec asserts the single scan).
    val tagged = t(s, dir, "events")
      .filter(col("event_type").isin("purchase", "click"))
      .select(col("user_id"),
        eventUs.as("us"),
        when(col("event_type") === "purchase", 1).otherwise(0).as("side"),
        when(col("event_type") === "purchase", col("event_id"))
          .as("event_id"),
        when(col("event_type") === "click",
          eventUs).as("c_us"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged
      .withColumn("click_us", last(col("c_us"), ignoreNulls = true).over(w))
      .filter(col("side") === 1)
      .select(col("event_id"), col("us").as("purchase_us"), col("click_us"))
      .orderBy(col("event_id"))
      .limit(2000)
  }

  val joinAsofSql: String =
    """SELECT p.event_id, CAST(epoch_us(p.ts) AS BIGINT) AS purchase_us,
      |  CAST(epoch_us(c.ts) AS BIGINT) AS click_us
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |ASOF LEFT JOIN
      |  (SELECT user_id, ts FROM events WHERE event_type = 'click') c
      |  ON p.user_id = c.user_id AND p.ts >= c.ts
      |ORDER BY p.event_id LIMIT 2000""".stripMargin

  /** Pure inequality (theta/band) join: events bucketed into value bands
    * from a 3-row literal dim. No equi-key exists, so Spark plans a
    * BroadcastNestedLoopJoin — the ONLY scale-safe shape for a non-equi
    * join, and safe exactly because the build side is constant-size; the
    * probe side streams without a shuffle. */
  val joinTheta: Q = (s, dir) => {
    val bands = s.createDataFrame(Seq(
      ("low", 0.0, 10.0), ("mid", 10.0, 100.0), ("high", 100.0, 1e18)))
      .toDF("name", "lo", "hi")
    t(s, dir, "events")
      .join(broadcast(bands),
        col("value") >= col("lo") && col("value") < col("hi"))
      .groupBy(col("name"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("users"))
      .orderBy(col("name"))
  }

  val joinThetaSql: String =
    """WITH bands AS (SELECT * FROM (VALUES ('low', 0.0, 10.0),
      |  ('mid', 10.0, 100.0), ('high', 100.0, 1e18)) AS v(name, lo, hi))
      |SELECT name, COUNT(*) AS n,
      |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS users
      |FROM events JOIN bands ON value >= lo AND value < hi
      |GROUP BY name ORDER BY name""".stripMargin

  /** Equi + range join: lineitem rows shipped within 60 days of their
    * order's date. The equi key (orderkey) drives a co-partitioned
    * sort-merge/shuffled-hash join at scale; the BETWEEN band is evaluated
    * as a join residual on co-located rows — never a cross product. */
  val joinRangeSql: String =
    """SELECT o_orderpriority, COUNT(*) AS n_early
      |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      | AND l_shipdate BETWEEN o_orderdate AND o_orderdate + INTERVAL 60 DAY
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** Custom UDAF (typed Aggregator) in a grouped aggregation: exact sum of
    * squares per return flag, registered for SQL on the fly (idempotent).
    * See graft.functions.SumSq for the two-phase scale story. */
  val udafSumsq: Q = (s, dir) => {
    s.udf.register("sum_sq",
      udaf(graft.functions.SumSq, org.apache.spark.sql.Encoders.scalaLong))
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(expr("sum_sq(CAST(l_linenumber AS BIGINT))").as("ssq"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"))
  }

  val udafSumsqSql: String =
    """SELECT l_returnflag,
      |  CAST(SUM(CAST(l_linenumber AS BIGINT) * l_linenumber) AS BIGINT)
      |    AS ssq,
      |  COUNT(*) AS n
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** GROUPING SETS via re-aggregation (the "partial rollup" scale rewrite):
    * Spark's native GROUPING SETS expands every input row once per
    * grouping set (3× map CPU on the full fact table — see
    * `c_sql_grouping_sets` for the operator witness). Here the finest
    * level is aggregated ONCE (6 rows), persisted, and the coarser levels
    * re-aggregate that tiny intermediate — valid because COUNT/SUM are
    * decomposable and the decimal sums re-aggregate exactly. Same output,
    * same oracle, one scan instead of a 3× Expand. */
  val groupingReagg: Q = (s, dir) => {
    // memoized persist (ADVICE r5): one cached copy per (session, dir),
    // not one per invocation
    val base = memoPersist(s, dir, "reagg_base") {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), decSum("l_extendedprice").as("rev"))
    }
    val lvl2 = base.select(col("l_returnflag").as("flag"),
      col("l_linestatus").as("status"), col("n"), col("rev"))
    val lvl1 = base.groupBy(col("l_returnflag"))
      .agg(sum(col("n")).as("n"), sum(col("rev")).as("rev"))
      .select(col("l_returnflag").as("flag"), lit("ALL").as("status"),
        col("n"), col("rev"))
    val lvl0 = base.agg(sum(col("n")).as("n"), sum(col("rev")).as("rev"))
      .select(lit("ALL").as("flag"), lit("ALL").as("status"),
        col("n"), col("rev"))
    lvl2.unionByName(lvl1).unionByName(lvl0)
      .select(col("flag"), col("status"), col("n"),
        col("rev").cast(DoubleType).as("revenue"))
      .orderBy(col("flag"), col("status"))
  }

  /** DISTINCT ON (the DuckDB idiom for first-row-per-group): Spark has no
    * DISTINCT ON, so the router's `distinct-on` shim expresses it as
    * row_number over the same (partition, order) and keeps rank 1 — the
    * canonical translation a reference user switching engines needs. One
    * shuffle on the group key; the window never sees unaggregated skew
    * beyond each key's rows. */
  val distinctOnSql: String =
    """SELECT DISTINCT ON (o_custkey) o_custkey, o_orderkey, o_totalprice
      |FROM orders ORDER BY o_custkey, o_totalprice DESC, o_orderkey"""
      .stripMargin

  /** Ordered string aggregation: DuckDB `string_agg(... ORDER BY ...)` ↔
    * Spark `array_join(array_sort(collect_list(...)))`. collect_list order
    * is partition-dependent, so the EXPLICIT sort is what makes the result
    * deterministic at any parallelism — never rely on arrival order. */
  /** Two-stage SALTED aggregation, the skew mitigation for a hot group
    * key: stage 1 groups on (key, salt) so a hot key splits across 13
    * reducers, stage 2 merges the partials per key. Declared-query-
    * checkable BECAUSE the inner sums are exact DECIMAL — decimal
    * addition is associative, so re-associating by salt cannot change
    * the result and the oracle is the PLAIN group-by (a double-summed
    * salting would differ by float association order). The salt derives
    * from stable row content, so the split is deterministic too. */
  val saltedAgg: Q = (s, dir) => {
    val li = t(s, dir, "lineitem")
    val salt = pmod(hash(col("l_orderkey"), col("l_linenumber")), lit(13))
    li.groupBy(col("l_returnflag"), salt.as("_salt"))
      .agg(decSum("l_extendedprice").as("partial"), count(lit(1)).as("n"))
      .groupBy(col("l_returnflag"))
      .agg(sum(col("partial")).cast(DoubleType).as("revenue"),
        sum(col("n")).as("n_items"))
      .orderBy(col("l_returnflag"))
  }

  val saltedAggSql: String =
    s"""SELECT l_returnflag, ${oDsum("l_extendedprice")} AS revenue,
       |  COUNT(*) AS n_items
       |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""
      .stripMargin

  /** SALTED JOIN — the join-side twin of `c_salted_agg` for hot PROBE
    * keys: when one dim key owns a disproportionate share of fact rows, a
    * plain shuffle join lands that key's entire fact slice on ONE reducer.
    * The manual fix (what AQE's skew-join split does adaptively, expressed
    * as a deterministic operator): replicate each dim row `nSalts`× with a
    * salt column (map-side explode — the dim ships nSalts copies, never
    * the fact), salt each fact row by a stable row-content hash, and join
    * on (key, salt) — the hot key now spreads across nSalts reducers.
    * Result ≡ the plain join by construction (every fact row meets exactly
    * the one replica carrying its salt), so the oracle is the PLAIN
    * join+aggregate and the hash match proves the rewrite is lossless.
    * merge hints force the sort-merge shape the salting exists for —
    * a broadcast join has no skew to fix (and at 100 TB the dim that
    * needs salting is too big to broadcast). PlanSpec asserts the join
    * exchange hashes on the WIDENED (key, salt) space. */
  val saltedJoin: Q = (s, dir) => {
    val nS = 8
    val fact = t(s, dir, "lineitem")
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice"))
      .withColumn("f_salt",
        pmod(hash(col("l_orderkey"), col("l_linenumber")), lit(nS)))
    val dim = t(s, dir, "supplier")
      .select(col("s_suppkey"), col("s_nationkey"))
      .withColumn("d_salt", explode(expr(s"sequence(0, ${nS - 1})")))
    fact.hint("merge")
      .join(dim.hint("merge"),
        col("l_suppkey") === col("s_suppkey") &&
          col("f_salt") === col("d_salt"))
      .groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("n_items"),
        dsum("l_extendedprice").as("revenue"))
      .orderBy(col("s_nationkey"))
  }

  val saltedJoinSql: String =
    s"""SELECT s_nationkey, COUNT(*) AS n_items,
       |  ${oDsum("l_extendedprice")} AS revenue
       |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
       |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin

  /** BLOOM SEMI-JOIN REDUCTION — the classic 100 TB trick for a selective
    * join against a dim too big to broadcast: build a compact Bloom filter
    * over the dim keys (m=4096 bits, k=3 Murmur3 positions — the build is
    * a distinct-positions aggregate whose result is ≤ m ints, a bounded
    * collect like the IVF codebook load; at scale this is exactly the
    * artifact Spark's own `InjectRuntimeFilter` ships), then drop
    * non-matching fact rows MAP-SIDE before the join shuffle. False
    * positives are pruned by the exact semi-join that follows, so the
    * result ≡ the plain semi-join and the oracle is the PLAIN `IN`
    * subquery — the hash match proves the prefilter is conservative
    * (sound), while PlanSpec pins that the bloom test sits under the
    * fact scan where it cuts shuffled bytes. merge hints force the
    * sort-merge shape the reduction exists for. */
  val bloomSemijoin: Q = (s, dir) => {
    val m = 4096
    val kHashes = 3
    val dimKeys = t(s, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
    val buildPos = (0 until kHashes).map(i =>
      pmod(hash(col("c_custkey"), lit(i)), lit(m)).cast("int"))
    val positions = dimKeys.select(explode(array(buildPos: _*)).as("p"))
      .distinct().collect().map(_.getInt(0))
    val words = new Array[Long](m / 64)
    positions.foreach(p => words(p / 64) |= (1L << (p % 64)))
    // CAST('<v>' AS BIGINT) instead of an `L`-suffixed literal (ADVICE
    // r11): a word equal to Long.MinValue renders as -9223372036854775808L,
    // which the SQL parser reads as unary minus over an overflowing
    // positive literal and rejects; the string cast round-trips every
    // 64-bit value.
    val bloomLit = words.map(w => s"CAST('$w' AS BIGINT)")
      .mkString("array(", ", ", ")")
    val bloomPass = (0 until kHashes).map { i =>
      val pos = s"CAST(pmod(hash(o_custkey, $i), $m) AS INT)"
      expr(s"(shiftright(element_at($bloomLit," +
        s" CAST($pos div 64 + 1 AS INT)), $pos % 64) & 1) = 1")
    }.reduce(_ && _)
    t(s, dir, "orders")
      .filter(bloomPass)
      .hint("merge")
      .join(dimKeys.hint("merge"),
        col("o_custkey") === col("c_custkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), dsum("o_totalprice").as("total"))
      .orderBy(col("o_orderpriority"))
  }

  val bloomSemijoinSql: String =
    s"""SELECT o_orderpriority, COUNT(*) AS n,
       |  ${oDsum("o_totalprice")} AS total
       |FROM orders
       |WHERE o_custkey IN (SELECT c_custkey FROM customer
       |                    WHERE c_mktsegment = 'BUILDING')
       |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  val stringAgg: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(array_join(array_sort(collect_set(col("l_linestatus"))), ",")
        .as("statuses"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"))

  val stringAggSql: String =
    """SELECT l_returnflag,
      |  string_agg(DISTINCT l_linestatus, ',' ORDER BY l_linestatus)
      |    AS statuses,
      |  COUNT(*) AS n
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""
      .stripMargin

  /** RANGE frame (value-based window bounds, vs the ROWS frames in
    * c_window_frame): for each supplier's item count, the sum of counts
    * within 10 BELOW it. RANGE includes ALL value-peers in the frame, so
    * the result is deterministic under order-by ties — the property ROWS
    * frames lack on non-unique keys. Window runs over the ~|suppliers|
    * aggregate, not raw rows (the same pre-aggregation discipline as
    * c_window_topk) — but the unpartitioned ORDER BY n window is still a
    * SINGLE-task sort of |suppliers| rows, and suppliers grow with the
    * data. This query stays as the RANGE-frame operator witness;
    * `c_window_range_bucketed` below is the formulation that scales. */
  val windowRangeSql: String =
    """SELECT l_suppkey, n,
      |  CAST(SUM(n) OVER (ORDER BY n
      |    RANGE BETWEEN 10 PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS band_sum
      |FROM (SELECT l_suppkey, COUNT(*) AS n FROM lineitem
      |      GROUP BY l_suppkey)
      |ORDER BY l_suppkey""".stripMargin

  /** Time-interval RANGE frame: each event's trailing-1-hour activity
    * count per user — the sliding-window-per-row shape (rate counters,
    * burst detection) that tumbling windows can't express. Both engines
    * range over the microsecond timestamp with the same `INTERVAL 1 HOUR`
    * bound; RANGE makes equal-ts peers share a frame on both engines, so ties
    * cannot reorder results. One shuffle on user_id; the frame scan is
    * the standard running-window pass over each partition sorted once. */
  val windowRangeTimeSql: String =
    s"""SELECT event_id, user_id, ${oSec("ts")} AS t,
       |  COUNT(*) OVER (PARTITION BY user_id ORDER BY ts
       |    RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
       |    AS n_1h
       |FROM events
       |ORDER BY event_id""".stripMargin

  /** Scalable twin of `c_window_range` (VERDICT r5 #4): identical
    * RANGE-frame semantics — band_sum = sum of n over ALL rows whose value
    * lies in [n-10, n] — computed as a range-bucketed equi self-join
    * instead of an unpartitioned window, so the same oracle window SQL
    * verifies it. A row's frame spans at most two width-10 value buckets,
    * so each CONTRIBUTOR row is duplicated to buckets (b, b+1) and the
    * join is a plain equi join on the TARGET's bucket id followed by the
    * exact range filter. That keys the shuffle on bucket id — parallel
    * across the value range with no global sort; a hot bucket is ordinary
    * join skew (AQE skew-join splits it), not a mandatory single task.
    * This is the standard range-join decomposition (bucket width = frame
    * width ⇒ ≤ 2 candidate buckets per row). */
  val windowRangeBucketed: Q = (s, dir) => {
    val n = t(s, dir, "lineitem")
      .groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("n"))
    val targets = n.withColumn("b", expr("n DIV 10"))
    val contrib = n
      .select(col("n").as("cn"), expr("n DIV 10").as("cb"))
      .select(col("cn"),
        explode(expr("array(cb, cb + CAST(1 AS BIGINT))")).as("b"))
    targets.join(contrib, Seq("b"))
      .filter(col("cn") >= col("n") - 10 && col("cn") <= col("n"))
      .groupBy(col("l_suppkey"), col("n"))
      .agg(sum(col("cn")).as("band_sum"))
      .select(col("l_suppkey"), col("n"), col("band_sum"))
      .orderBy(col("l_suppkey"))
  }

  /** GROUPS frame mode (DuckDB `GROUPS BETWEEN 1 PRECEDING AND CURRENT
    * ROW`; delegated surface at /root/reference/src/duckdb.ts:46-49).
    * Spark has no GROUPS frames, so this witnesses the canonical
    * translation: a GROUPS frame counts PEER GROUPS (runs of equal
    * ORDER-BY values), and `dense_rank()` numbers exactly those groups
    * 1,2,3,… — so `GROUPS BETWEEN k PRECEDING AND CURRENT ROW` over key
    * ≡ `RANGE BETWEEN k PRECEDING AND CURRENT ROW` over `dense_rank()`
    * of key (RANGE on the rank keeps value-peers sharing a frame, which
    * ROWS would not). Semantics here: each event's activity count over
    * its own day AND its user's previous ACTIVE day — not the calendar
    * day before, the previous distinct day present, which only GROUPS
    * can say in one frame clause. Scale: both windows share one
    * partitionBy(user_id) shuffle, and the second sort (by dense_rank)
    * is the same order as the first (by day), so the physical plan is
    * one exchange + one sort + two window passes over per-user runs. */
  val windowGroups: Q = (s, dir) => {
    val day = to_date(eventTs(col("ts")))
    val dr = dense_rank()
      .over(Window.partitionBy(col("user_id")).orderBy(day))
    val w = Window.partitionBy(col("user_id")).orderBy(col("dr"))
      .rangeBetween(-1, 0)
    t(s, dir, "events")
      .withColumn("day", day).withColumn("dr", dr)
      .withColumn("n2d", count(lit(1)).over(w))
      .select(col("event_id"), col("user_id"),
        date_format(col("day"), "yyyy-MM-dd").as("day"), col("n2d"))
      .orderBy(col("event_id"))
  }

  /** The container's DuckDB parses but does not implement GROUPS frames
    * ("GROUPS mode for window functions is not implemented yet"), so the
    * oracle derives the identical semantics by an INDEPENDENT route —
    * per-(user, day) group counts, LAG over groups, join back to rows —
    * which cross-checks the dense_rank translation rather than echoing
    * it. GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW over day ≡ current
    * day-group's count + previous distinct day-group's count. */
  val windowGroupsSql: String =
    """WITH g AS (
      |  SELECT user_id, CAST(ts AS DATE) AS d, COUNT(*) AS n
      |  FROM events GROUP BY user_id, CAST(ts AS DATE)),
      |g2 AS (
      |  SELECT user_id, d,
      |    n + COALESCE(LAG(n) OVER (PARTITION BY user_id ORDER BY d), 0)
      |      AS n2d
      |  FROM g)
      |SELECT e.event_id, e.user_id, strftime(e.d, '%Y-%m-%d') AS day,
      |  g2.n2d
      |FROM (SELECT event_id, user_id, CAST(ts AS DATE) AS d
      |      FROM events) e
      |JOIN g2 USING (user_id, d)
      |ORDER BY event_id""".stripMargin

  /** Window-frame EXCLUDE clause (DuckDB `EXCLUDE CURRENT ROW / GROUP /
    * TIES`; delegated surface). Spark frames have no EXCLUDE, so this
    * witnesses the subtraction translation over a RANGE frame:
    *   EXCLUDE CURRENT ROW ≡ frame_sum − x        (NULL if frame = {x})
    *   EXCLUDE GROUP       ≡ frame_sum − peer_sum (NULL if frame = peers)
    *   EXCLUDE TIES        ≡ frame_sum − peer_sum + x   (never empty)
    * where peer_sum/peer_cnt come from a second window keyed by the
    * ORDER-BY VALUE (PARTITION BY n) — on a RANGE frame bounded at
    * CURRENT ROW the peer group always lies wholly inside the frame, so
    * the subtraction is exact; a ROWS frame can cut a peer group and
    * would need the positional-intersection form instead (refuse, don't
    * approximate). The empty-frame cases go through COUNT twins of the
    * same windows because SQL's SUM over an excluded-to-empty frame is
    * NULL, not 0. All-integer arithmetic; same unpartitioned-window
    * caveat (and bucketed scaling twin) as `c_window_range`. */
  val windowFrameExclude: Q = (s, dir) => {
    val n = t(s, dir, "lineitem")
      .groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("n"))
    val wf = Window.orderBy(col("n")).rangeBetween(-10, 0)
    val wp = Window.partitionBy(col("n"))
    n.select(col("l_suppkey"), col("n"),
        sum(col("n")).over(wf).as("fs"),
        count(lit(1)).over(wf).as("cf"),
        sum(col("n")).over(wp).as("ps"),
        count(lit(1)).over(wp).as("cp"))
      .select(col("l_suppkey"), col("n"),
        when(col("cf") === 1, lit(null)).otherwise(col("fs") - col("n"))
          .cast(LongType).as("ex_cur"),
        when(col("cf") === col("cp"), lit(null))
          .otherwise(col("fs") - col("ps")).cast(LongType).as("ex_grp"),
        (col("fs") - col("ps") + col("n")).cast(LongType).as("ex_ties"))
      .orderBy(col("l_suppkey"))
  }

  /** Oracle: the real EXCLUDE clauses, verbatim. */
  val windowFrameExcludeSql: String =
    """SELECT l_suppkey, n,
      |  CAST(SUM(n) OVER (ORDER BY n RANGE BETWEEN 10 PRECEDING AND
      |    CURRENT ROW EXCLUDE CURRENT ROW) AS BIGINT) AS ex_cur,
      |  CAST(SUM(n) OVER (ORDER BY n RANGE BETWEEN 10 PRECEDING AND
      |    CURRENT ROW EXCLUDE GROUP) AS BIGINT) AS ex_grp,
      |  CAST(SUM(n) OVER (ORDER BY n RANGE BETWEEN 10 PRECEDING AND
      |    CURRENT ROW EXCLUDE TIES) AS BIGINT) AS ex_ties
      |FROM (SELECT l_suppkey, COUNT(*) AS n FROM lineitem
      |      GROUP BY l_suppkey)
      |ORDER BY l_suppkey""".stripMargin

  /** Fixed-width histogram by floor-division bucketing (no width_bucket in
    * the oracle dialect; FLOOR(x / w) is deterministic on both engines).
    * min/max per bucket are single stored values — no float accumulation —
    * so they hash-match without canonicalization. One two-phase aggregate;
    * bucket count is bounded by the value range, not the input size. */
  val histogramSql: String =
    """SELECT CAST(FLOOR(value / 20) AS BIGINT) AS bucket, COUNT(*) AS n,
      |  CAST(MIN(value) AS DOUBLE) AS lo, CAST(MAX(value) AS DOUBLE) AS hi
      |FROM events GROUP BY bucket ORDER BY bucket""".stripMargin

  /** PIVOT: status columns from row values. Explicit value list ("F","O")
    * so the plan is a single two-phase aggregate — Spark's pivot WITHOUT
    * the list first runs a distinct scan to discover values, an extra pass
    * worth avoiding at 100 TB when the domain is known. */
  val pivot_ : Q = (s, dir) =>
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(decSum("l_quantity").cast(DoubleType))
      .orderBy(col("l_returnflag"))

  val pivotSql: String =
    """SELECT l_returnflag,
      |  CAST(SUM(CASE WHEN l_linestatus = 'F'
      |    THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS F,
      |  CAST(SUM(CASE WHEN l_linestatus = 'O'
      |    THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS O
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Dynamic PIVOT — the DuckDB convenience where the engine DISCOVERS the
    * pivot domain from the data (`PIVOT ... ON col` with no IN list,
    * delegated surface via /root/reference/src/duckdb.ts:46-49). Spark has
    * no single-statement equivalent; the at-scale translation is TWO JOBS:
    * (1) a distinct scan over the pivot column to learn the domain
    * (collected to the driver — bounded by the domain's cardinality, which
    * is small by construction or the pivot result would be unreadably
    * wide), (2) the same two-phase pivot aggregate as `c_pivot` with the
    * discovered list. That extra pass is exactly what the static-list
    * `c_pivot` avoids when the domain is known — this query documents the
    * cost of not knowing it. Keys are sorted so column order (and the
    * driver's name-sorted hash) is deterministic; DuckDB's dynamic PIVOT
    * likewise emits value-named columns, so the schemas line up without
    * either side hardcoding the domain into the pivot itself. */
  val pivotDynamic: Q = (s, dir) => {
    val li = t(s, dir, "lineitem")
    // NULL pivot keys are dropped before sorting (Scala's String sort
    // NPEs on null); DuckDB's dynamic PIVOT emits a "NULL" column for a
    // null key, so a nullable pivot column would need the sentinel-column
    // treatment — l_returnflag is non-null, and the guard keeps a stray
    // null from crashing the domain discovery either way.
    val keys = li.select(col("l_returnflag")).distinct()
      .collect().map(_.getString(0)).filter(_ != null).sorted.toSeq
    val wide = li.groupBy(col("l_linestatus"))
      .pivot("l_returnflag", keys)
      .agg(decSum("l_quantity"))
    wide.select(col("l_linestatus") +:
        keys.map(k => col(s"`$k`").cast(DoubleType).as(k)): _*)
      .orderBy(col("l_linestatus"))
  }

  /** Oracle: DuckDB's genuinely dynamic PIVOT (no IN list — the engine
    * discovers A/N/R from the data); the outer SELECT only fixes the
    * output types and column order for the hash compare. */
  val pivotDynamicSql: String =
    """SELECT l_linestatus,
      |  CAST("A" AS DOUBLE) AS A, CAST("N" AS DOUBLE) AS N,
      |  CAST("R" AS DOUBLE) AS R
      |FROM (PIVOT lineitem ON l_returnflag
      |      USING SUM(CAST(l_quantity AS DECIMAL(18,2)))
      |      GROUP BY l_linestatus)
      |ORDER BY l_linestatus""".stripMargin

  /** Deterministic sampling — the `TABLESAMPLE` / `USING SAMPLE` twin
    * (DuckDB surface via /root/reference/src/duckdb.ts:46-49). Engine
    * sampling RNGs (Spark's Bernoulli XORShift, DuckDB's reservoir) never
    * agree across engines OR across partitionings of the same data, so the
    * portable primitive — and the better one at 100 TB, where a sample
    * must be REPRODUCIBLE across reruns and engines to be debuggable — is
    * a hash-rank rule: keep a row iff md5(salt || key) falls under the
    * rate threshold. Same discipline as `p_corpus_mix`/
    * `p_sample_stratified`; the first two hex chars < '04' keep 4/256 ≈
    * 1.56% uniformly, scan-local (no shuffle, pushable behind any
    * downstream agg), and the SAME rows come back on every engine. */
  val sampleHashSql: String =
    """SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DOUBLE)
      |  AS o_totalprice
      |FROM orders
      |WHERE SUBSTR(md5('smp_' || CAST(o_orderkey AS VARCHAR)), 1, 2) < '04'
      |ORDER BY o_orderkey""".stripMargin

  /** UNPIVOT (melt): wide aggregate → (key, measure, value) long form via
    * Dataset.unpivot — a Generator-backed map-side expansion, no shuffle
    * beyond the aggregate's own. */
  val unpivot_ : Q = (s, dir) =>
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(dsum("l_quantity").as("sum_qty"),
        dsum("l_extendedprice").as("sum_price"))
      .unpivot(Array(col("l_returnflag")),
        Array(col("sum_qty"), col("sum_price")), "measure", "value")
      .orderBy(col("l_returnflag"), col("measure"))

  val unpivotSql: String =
    s"""WITH a AS (SELECT l_returnflag,
       |  ${oDsum("l_quantity")} AS sum_qty,
       |  ${oDsum("l_extendedprice")} AS sum_price
       |  FROM lineitem GROUP BY l_returnflag)
       |SELECT l_returnflag, 'sum_qty' AS measure, sum_qty AS value FROM a
       |UNION ALL
       |SELECT l_returnflag, 'sum_price' AS measure, sum_price AS value
       |FROM a
       |ORDER BY l_returnflag, measure""".stripMargin

  // --- Window functions ----------------------------------------------------

  /** Top-3 suppliers per month via row_number — the aggregate shrinks the
    * data before the window, so the window partitions (one month each) are
    * tiny regardless of input scale. */
  val windowTopkSql: String =
    s"""SELECT mes, account_id, CAST(cost_dec AS DOUBLE) AS cost, rn FROM (
       |  SELECT mes, account_id, cost_dec,
       |    ROW_NUMBER() OVER (PARTITION BY mes
       |                       ORDER BY cost_dec DESC, account_id) AS rn
       |  FROM (
       |    SELECT ${oMonth("l_shipdate")} AS mes, l_suppkey AS account_id,
       |      ${oDecSum("l_extendedprice")} AS cost_dec
       |    FROM lineitem GROUP BY mes, account_id))
       |WHERE rn <= 3
       |ORDER BY mes DESC, rn""".stripMargin

  /** lag() month-over-month delta. Subtraction happens in exact DECIMAL;
    * cast to DOUBLE only on output. The unpartitioned window runs in ONE
    * task by construction — safe here because it sits on top of the
    * monthly aggregate (dozens of rows at any input scale), never on raw
    * data; an unpartitioned window over a fact table would be a
    * scale-killer. */
  val windowLagSql: String =
    s"""SELECT mes, CAST(total_dec AS DOUBLE) AS total,
       |  CAST(prev_dec AS DOUBLE) AS prev,
       |  CAST(total_dec - prev_dec AS DOUBLE) AS delta
       |FROM (
       |  SELECT mes, total_dec,
       |    LAG(total_dec, 1) OVER (ORDER BY mes) AS prev_dec
       |  FROM (
       |    SELECT ${oMonth("l_shipdate")} AS mes,
       |      ${oDecSum("l_extendedprice")} AS total_dec
       |    FROM lineitem GROUP BY mes))
       |ORDER BY mes""".stripMargin

  /** ROWS frames: running total (UNBOUNDED PRECEDING) + moving 3-month
    * minimum of the item count. Exact types inside both frames. */
  val windowFrame: Q = (s, dir) => {
    val m = t(s, dir, "lineitem")
      .groupBy(date_trunc("month", col("l_shipdate")).as("_m"))
      .agg(count(lit(1)).as("n_items"),
        decSum("l_extendedprice").as("total_dec"))
      .select(dstr(col("_m")).as("mes"), col("n_items"), col("total_dec"))
    val wRun = Window.orderBy(col("mes"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wMov = Window.orderBy(col("mes")).rowsBetween(-2, 0)
    m.select(col("mes"), col("n_items"),
      sum(col("total_dec")).over(wRun).cast(DoubleType).as("running_total"),
      min(col("n_items")).over(wMov).as("min3_items"))
      .orderBy(col("mes"))
  }

  val windowFrameSql: String =
    s"""SELECT mes, n_items,
       |  CAST(SUM(total_dec) OVER (ORDER BY mes
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
       |    AS running_total,
       |  MIN(n_items) OVER (ORDER BY mes
       |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS min3_items
       |FROM (
       |  SELECT ${oMonth("l_shipdate")} AS mes, COUNT(*) AS n_items,
       |    ${oDecSum("l_extendedprice")} AS total_dec
       |  FROM lineitem GROUP BY mes)
       |ORDER BY mes""".stripMargin

  /** Cohort retention: users bucketed by the ISO week of their first
    * `signup` event; for each (cohort week, activity week) pair, how
    * many of the cohort's users had ANY event in that week. The shape
    * is the canonical retention triangle computed with NO self-join of
    * the events table: one per-user aggregate for the cohort week, one
    * distinct (user, week) activity projection, and a join keyed on
    * user_id — group-key cardinality (weeks × weeks) is tiny at any
    * input scale. */
  private def oWeek(x: String): String =
    s"strftime(date_trunc('week', $x), '%Y-%m-%d')"

  val retentionSql: String =
    s"""WITH cohort AS (
       |  SELECT user_id, ${oWeek("MIN(ts)")} AS cohort_week
       |  FROM events WHERE event_type = 'signup' GROUP BY user_id),
       |activity AS (
       |  SELECT DISTINCT user_id, ${oWeek("ts")} AS act_week FROM events)
       |SELECT c.cohort_week, a.act_week, COUNT(*) AS n_users
       |FROM cohort c JOIN activity a ON c.user_id = a.user_id
       |WHERE a.act_week >= c.cohort_week
       |GROUP BY c.cohort_week, a.act_week
       |ORDER BY c.cohort_week, a.act_week""".stripMargin

  /** Funnel analysis (view → click → purchase): the classic sequential-
    * conversion query. Stage timestamps chain as conditional MINs over
    * the SAME user partition — t1 = first view, t2 = first click at or
    * after t1, t3 = first purchase at or after t2 — so the whole funnel
    * is ONE shuffle on user_id with three window passes over it, never a
    * per-stage self-join of the events table. All-integer microsecond
    * comparisons; the summary is four exact counts. `horizonUs` gives
    * the time-bounded form (each stage also within `h` of the prior);
    * `None` adds no predicate. */
  private def funnelStagedSql(horizonUs: Option[Long]): String = {
    def bound(prev: String): String =
      horizonUs.fold("")(h => s" AND us <= $prev + $h")
    s"""WITH e AS (SELECT user_id, event_type,
       |             CAST(epoch_us(ts) AS BIGINT) AS us FROM events),
       |w1 AS (SELECT *, MIN(CASE WHEN event_type = 'view' THEN us END)
       |         OVER (PARTITION BY user_id) AS t1 FROM e),
       |w2 AS (SELECT *, MIN(CASE WHEN event_type = 'click' AND us >= t1
       |         ${bound("t1")} THEN us END)
       |         OVER (PARTITION BY user_id) AS t2 FROM w1),
       |w3 AS (SELECT *, MIN(CASE WHEN event_type = 'purchase' AND us >= t2
       |         ${bound("t2")} THEN us END)
       |         OVER (PARTITION BY user_id) AS t3 FROM w2),
       |u AS (SELECT DISTINCT user_id, t1, t2, t3 FROM w3)
       |SELECT COUNT(*) AS n_users,
       |  CAST(SUM(CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_view,
       |  CAST(SUM(CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_view_click,
       |  CAST(SUM(CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_full_funnel
       |FROM u""".stripMargin
  }

  val funnelSql: String = funnelStagedSql(None)

  /** Time-bounded funnel — the form real funnels take: each stage must
    * fire within a horizon of the prior stage (view → click within 7
    * days → purchase within 7 days of the click), not merely after it.
    * Identical plan shape to the funnel (ONE user_id shuffle, three
    * chained window passes — PlanSpec gates both). */
  val funnelWindowSql: String =
    funnelStagedSql(Some(604800000000L)) // 7 days in microseconds

  /** Batch sessionization over events: gap-based session ids via
    * lag + running sum, all in exact integer MICROSECONDS (epoch
    * arithmetic on integers, so oracle parity is exact; outputting the
    * start as bigint micros also sidesteps temporal canonicalization).
    * Ties on ts_us are harmless: equal timestamps give diff 0 on either
    * lag order, so session assignment is order-insensitive. Scale: both
    * windows partition by user_id — state is per-user and the shuffle is
    * one hash partition by user. */
  val sessionizeSql: String =
    """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us FROM events),
      |m AS (SELECT user_id, ts_us,
      |        CASE WHEN ts_us - LAG(ts_us) OVER (PARTITION BY user_id
      |                 ORDER BY ts_us) > 21600000000 THEN 1 ELSE 0 END
      |          AS is_new
      |      FROM e),
      |s AS (SELECT user_id, ts_us,
      |        CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |          AS BIGINT) AS sid
      |      FROM m)
      |SELECT user_id, sid AS session_id, MIN(ts_us) AS start_us,
      |  COUNT(*) AS n_events
      |FROM s GROUP BY user_id, sid
      |ORDER BY user_id, start_us""".stripMargin

  /** The rank-function family over the monthly aggregate: rank/dense_rank
    * (tie-tolerant by definition), ntile, lead, and first_value with a
    * full-frame window. Every window ORDER BY ends in the unique `mes` so
    * ties cannot leak nondeterminism into lead/first_value. */
  val windowRanks: Q = (s, dir) => {
    val m = t(s, dir, "lineitem")
      .groupBy(date_trunc("month", col("l_shipdate")).as("_m"))
      .agg(count(lit(1)).as("n"))
      .select(dstr(col("_m")).as("mes"), col("n"))
    val byNDesc = Window.orderBy(desc("n"), col("mes"))
    val byMes = Window.orderBy(col("mes"))
    m.select(col("mes"), col("n"),
        rank().over(byNDesc).cast(LongType).as("rnk"),
        dense_rank().over(byNDesc).cast(LongType).as("drnk"),
        ntile(4).over(byMes).cast(LongType).as("quartile"),
        lead(col("n"), 1).over(byMes).as("next_n"),
        first_value(col("mes")).over(
          byNDesc.rowsBetween(Window.unboundedPreceding,
            Window.unboundedFollowing)).as("busiest"))
      .orderBy(col("mes"))
  }

  val windowRanksSql: String =
    s"""WITH m AS (SELECT ${oMonth("l_shipdate")} AS mes, COUNT(*) AS n
       |           FROM lineitem GROUP BY mes)
       |SELECT mes, n,
       |  CAST(RANK() OVER (ORDER BY n DESC, mes) AS BIGINT) AS rnk,
       |  CAST(DENSE_RANK() OVER (ORDER BY n DESC, mes) AS BIGINT) AS drnk,
       |  CAST(NTILE(4) OVER (ORDER BY mes) AS BIGINT) AS quartile,
       |  LEAD(n, 1) OVER (ORDER BY mes) AS next_n,
       |  FIRST_VALUE(mes) OVER (ORDER BY n DESC, mes
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
       |    AS busiest
       |FROM m ORDER BY mes""".stripMargin

  /** percent_rank + cume_dist — the two relative-rank window functions
    * the ranks query doesn't cover. Deterministic because the window
    * ORDER BY ends on the unique o_orderkey (no rank ties) and each value
    * is ONE division of exact small integers ((rank-1)/(N-1), c/N) — the
    * same IEEE op on both engines, hence bit-equal. January-1995 slice
    * keeps the output bounded; the low-cardinality partition key is the
    * witness role (at 100 TB a global relative rank would use the
    * range-bucketed formulation `c_window_range_bucketed` demonstrates). */
  val windowPctSql: String =
    """SELECT o_orderpriority, o_orderkey,
      |  percent_rank() OVER (PARTITION BY o_orderpriority
      |    ORDER BY o_totalprice, o_orderkey) AS pct_rank,
      |  cume_dist() OVER (PARTITION BY o_orderpriority
      |    ORDER BY o_totalprice, o_orderkey) AS cume
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1995-02-01 00:00:00'
      |ORDER BY o_orderpriority, o_orderkey LIMIT 500""".stripMargin

  /** Statistical aggregates (mean/variance/stddev/correlation) with the
    * repo's float discipline applied to MOMENTS: the native stddev/corr
    * aggregates use engine-specific merge formulas whose results depend
    * on partitioning and differ between engines, so this query instead
    * accumulates the exact DECIMAL power sums (Σx, Σx², Σy, Σy², Σxy —
    * order-insensitive at any parallelism, identical cross-engine) and
    * derives each statistic with ONE identical double expression tree on
    * both sides — deterministic under the regime sweep and hash-equal
    * against the oracle. This is also the 100 TB shape: power sums
    * combine map-side and merge associatively; the derivation is 5
    * scalar ops on a 4-row result. */
  val statsMoments: Q = (s, dir) => {
    val varE = "(CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * " +
      "CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) / CAST(n - 1 AS DOUBLE)"
    val corrE =
      """(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
        |  CAST(s1 AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |SQRT((CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE) -
        |    CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)) *
        |  (CAST(n AS DOUBLE) * CAST(sy2 AS DOUBLE) -
        |    CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))""".stripMargin
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(l_quantity AS DECIMAL(18,2))")).as("s1"),
        sum(expr("CAST(l_quantity AS DECIMAL(18,2)) * " +
          "CAST(l_quantity AS DECIMAL(18,2))")).as("s2"),
        sum(expr("CAST(l_extendedprice AS DECIMAL(18,2))")).as("sy"),
        sum(expr("CAST(l_extendedprice AS DECIMAL(18,2)) * " +
          "CAST(l_extendedprice AS DECIMAL(18,2))")).as("sy2"),
        sum(expr("CAST(l_quantity AS DECIMAL(18,2)) * " +
          "CAST(l_extendedprice AS DECIMAL(18,2))")).as("sxy"))
      .select(col("l_returnflag"), col("n"),
        expr("CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)").as("mean_qty"),
        expr(varE).as("var_qty"),
        expr(s"SQRT($varE)").as("std_qty"),
        expr(corrE).as("corr_qty_price"))
      .orderBy(col("l_returnflag"))
  }

  val statsMomentsSql: String = {
    val varE = "(CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * " +
      "CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) / CAST(n - 1 AS DOUBLE)"
    val corrE =
      """(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
        |  CAST(s1 AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |SQRT((CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE) -
        |    CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)) *
        |  (CAST(n AS DOUBLE) * CAST(sy2 AS DOUBLE) -
        |    CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))""".stripMargin
    s"""WITH a AS (
       |  SELECT l_returnflag, COUNT(*) AS n,
       |    SUM(CAST(l_quantity AS DECIMAL(18,2))) AS s1,
       |    SUM(CAST(l_quantity AS DECIMAL(18,2)) *
       |        CAST(l_quantity AS DECIMAL(18,2))) AS s2,
       |    SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy,
       |    SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
       |        CAST(l_extendedprice AS DECIMAL(18,2))) AS sy2,
       |    SUM(CAST(l_quantity AS DECIMAL(18,2)) *
       |        CAST(l_extendedprice AS DECIMAL(18,2))) AS sxy
       |  FROM lineitem GROUP BY l_returnflag)
       |SELECT l_returnflag, n,
       |  CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean_qty,
       |  $varE AS var_qty,
       |  SQRT($varE) AS std_qty,
       |  $corrE AS corr_qty_price
       |FROM a ORDER BY l_returnflag""".stripMargin
  }

  /** Exact continuous percentiles (Spark `percentile` ↔ DuckDB
    * `quantile_cont`, both linear interpolation). l_quantity is
    * integer-valued, so quartile interpolation lands on exact binary
    * fractions and parity is exact; the HASH-FREE approx variant is
    * `c_approx_quantile` (engines use different sketches by design). */
  val percentileSql: String =
    """SELECT l_returnflag,
      |  quantile_cont(l_quantity, 0.5) AS med,
      |  quantile_cont(l_quantity, 0.25) AS q1,
      |  quantile_cont(l_quantity, 0.75) AS q3
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Approximate quantile (rows-only: sketch algorithms differ between
    * engines by design, like c_approx_distinct). */
  val approxQuantile: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(expr("percentile_approx(l_extendedprice, 0.5, 1000)").as("med"))
      .orderBy(col("l_returnflag"))

  // --- Grouping extensions -------------------------------------------------

  /** ROLLUP over two dims; NULL grouping keys rendered 'ALL' so the output
    * is string-typed and unambiguous (the data has no real NULLs here).
    *
    * Pre-aggregated to the FINEST grouping first, then ROLLUP over the
    * partials (r22, guide §2.3 "aggregate before you shuffle"): Spark's
    * Expand duplicates every INPUT row once per grouping set, so the
    * decimal money-sum ran 3× per fact row; summing once per (flag,
    * status) and re-aggregating the handful of partial rows shuffles and
    * expands ~10⁵× fewer rows at sf0.1 (and the ratio grows with the
    * fact table). Exactness: decimal addition re-associates exactly —
    * sum-of-sums equals the one-level sum (the re-sum widens to
    * DECIMAL(38,2), MORE overflow headroom, then the same single cast to
    * DOUBLE); COUNT re-aggregates as SUM of partial counts. Real-NULL
    * group keys (none in this data) survive identically: the fine
    * aggregate keeps NULL as a key value and the ROLLUP over partials
    * emits the same detail/subtotal rows the direct ROLLUP would. */
  val rollup: Q = (s, dir) => {
    val fine = t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("_n"),
        sum(col("l_extendedprice")
          .cast(org.apache.spark.sql.types.DecimalType(18, 2))).as("_rev"))
    fine.rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("_n")).as("n"),
        sum(col("_rev")).cast("double").as("revenue"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("status"),
        col("n"), col("revenue"))
      .orderBy(col("flag"), col("status"))
  }

  val rollupSql: String =
    s"""SELECT COALESCE(l_returnflag, 'ALL') AS flag,
       |  COALESCE(l_linestatus, 'ALL') AS status,
       |  COUNT(*) AS n, ${oDsum("l_extendedprice")} AS revenue
       |FROM lineitem
       |GROUP BY ROLLUP (l_returnflag, l_linestatus)
       |ORDER BY flag, status""".stripMargin

  /** CUBE over two dims (adds the by-status-only slice ROLLUP lacks).
    * Pre-aggregated to the finest grouping like `rollup` above (r22):
    * the 4-way Expand runs over the handful of partial rows, not every
    * fact row. */
  val cube_ : Q = (s, dir) =>
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("_n"))
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("_n")).as("n"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("status"), col("n"))
      .orderBy(col("flag"), col("status"))

  val cubeSql: String =
    """SELECT COALESCE(l_returnflag, 'ALL') AS flag,
      |  COALESCE(l_linestatus, 'ALL') AS status, COUNT(*) AS n
      |FROM lineitem
      |GROUP BY CUBE (l_returnflag, l_linestatus)
      |ORDER BY flag, status""".stripMargin

  // --- Aggregate extensions ------------------------------------------------

  /** DISTINCT aggregates — two distinct counts + a plain count in one agg
    * (Spark plans an expand + two-phase agg; scales as a shuffle on the
    * group key × distinct column). */
  val aggDistinctSql: String =
    """SELECT l_returnflag, COUNT(DISTINCT l_suppkey) AS n_supp,
      |  COUNT(DISTINCT l_partkey) AS n_part, COUNT(*) AS n
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** FILTER (WHERE …) aggregate clause — SQL-standard syntax both engines
    * support; Spark compiles it to If() inside the aggregate, so it stays
    * one scan + one agg, no self-join. */
  val aggFilterSql: String =
    """SELECT l_linestatus, COUNT(*) AS n,
      |  COUNT(*) FILTER (WHERE l_returnflag = 'R') AS n_returned,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
      |       FILTER (WHERE l_quantity > 25) AS DOUBLE) AS big_qty_revenue
      |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin

  // --- Nested / JSON / scalar breadth -------------------------------------

  /** Higher-order array functions over documents.text: split → transform →
    * aggregate, all inside codegen, no explode blow-up. Integer arithmetic
    * only, so exact on both engines. */
  val higherOrder: Q = (s, dir) =>
    t(s, dir, "documents")
      .orderBy(col("doc_id")).limit(100) // top-k BEFORE the per-row work
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast(LongType).as("n_words"),
        expr("aggregate(transform(split(text, ' '), x -> length(x)), 0, " +
          "(acc, x) -> acc + x)").cast(LongType).as("total_len"))
      .orderBy(col("doc_id"))

  val higherOrderSql: String =
    """SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
      |  CAST(list_sum(list_transform(string_split(text, ' '),
      |       x -> length(x))) AS BIGINT) AS total_len
      |FROM documents ORDER BY doc_id LIMIT 100""".stripMargin

  /** Nested-type construction + access + generator: struct field access,
    * map extraction, posexplode over a constructed array (Catalyst
    * Generator). DuckDB's map extraction yields a single-element list,
    * hence the `[1]` on the oracle side only. */
  val nestedTypes: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .filter(col("l_orderkey") <= 3)
      .select(col("l_orderkey"), col("l_linenumber"),
        struct(col("l_returnflag").as("f")).as("st"),
        map(lit("s"), col("l_linestatus")).as("mp"),
        posexplode(array(col("l_quantity"), col("l_discount"), col("l_tax"))))
      .select(col("l_orderkey"), col("l_linenumber"),
        col("pos").cast(LongType).as("pos"), col("col").as("val"),
        col("st.f").as("flag"),
        element_at(col("mp"), "s").as("status"))
      // (l_orderkey, l_linenumber) is not unique — order by every column
      // so any residual tie is an identical row
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("pos"),
        col("val"), col("flag"), col("status"))

  val nestedTypesSql: String =
    """SELECT l_orderkey, l_linenumber, i - 1 AS pos,
      |  arr[CAST(i AS INT)] AS val, st.f AS flag, mp['s'][1] AS status
      |FROM (SELECT l_orderkey, l_linenumber,
      |        [l_quantity, l_discount, l_tax] AS arr,
      |        {'f': l_returnflag} AS st,
      |        MAP(['s'], [l_linestatus]) AS mp
      |      FROM lineitem WHERE l_orderkey <= 3),
      |     (SELECT unnest(range(1, 4)) AS i)
      |ORDER BY l_orderkey, l_linenumber, pos, val, flag, status""".stripMargin

  /** JSON extraction from the events.props string column (get_json_object ↔
    * json_extract_string). DuckDB SUM(BIGINT) widens to HUGEINT, so the
    * oracle casts back to BIGINT. */
  val jsonExtract: Q = (s, dir) =>
    t(s, dir, "events")
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast(LongType).as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
        count(col("k")).as("n_k"))
      .orderBy(col("event_type"))

  val jsonExtractSql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
      |       AS BIGINT) AS sum_k,
      |  COUNT(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_k
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** INTERVAL date arithmetic on a FIXED literal (B25's semantics without
    * wall-clock nondeterminism — SURVEY §7.4). */
  val intervalSql: String =
    s"""SELECT l_returnflag, COUNT(*) AS n,
       |  ${oDsum("l_extendedprice")} AS revenue
       |FROM lineitem
       |WHERE l_shipdate >= TIMESTAMP '1998-09-01' - INTERVAL '30' DAY
       |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Event-time aggregation over the events table: hour-bucketed counts
    * and exact money sums, reading `ts` through the `Tables.eventTs`
    * adapter so the physical timestamp encoding stays a non-event. */
  val eventHourly: Q = (s, dir) =>
    t(s, dir, "events")
      .groupBy(date_trunc("hour", eventTs(col("ts"))).as("_h"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), dsum("value").as("total_value"))
      .select(tstr(col("_h")).as("hora"), col("event_type"), col("n"),
        col("total_value"))
      .orderBy(col("hora"), col("event_type"))

  val eventHourlySql: String =
    s"""SELECT ${oSec("date_trunc('hour', ts)")} AS hora, event_type,
       |  COUNT(*) AS n, ${oDsum("value")} AS total_value
       |FROM events
       |GROUP BY hora, event_type
       |ORDER BY hora, event_type""".stripMargin

  /** Time-series gap filling: the dates-spine pattern — a regular hourly
    * spine generated from the series bounds, LEFT-joined to the sparse
    * per-hour aggregate, absent hours emitted as explicit zeros (673 of
    * 720 hours have purchases at sf0.01; the other 47 must appear as 0,
    * not vanish — the difference between a chart with holes and a
    * correct one). Scale shape: the bounds are a 2-scalar aggregate, the
    * spine is `sequence()` over them (rows = series length, independent
    * of corpus size), and the corpus-sized work is the same partial-agg
    * groupBy as `c_event_hourly`; the spine side of the join is tiny and
    * broadcasts. */
  val gapfill: Q = (s, dir) => {
    val ev = t(s, dir, "events")
    val spine = ev
      .agg(min(date_trunc("hour", eventTs(col("ts")))).as("h0"),
        max(date_trunc("hour", eventTs(col("ts")))).as("h1"))
      .select(explode(expr("sequence(h0, h1, interval 1 hour)")).as("_h"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy(date_trunc("hour", eventTs(col("ts"))).as("_h"))
      .agg(count(lit(1)).as("n_raw"), dsum("value").as("v_raw"))
    spine.join(purchases, Seq("_h"), "left")
      .select(tstr(col("_h")).as("hora"),
        coalesce(col("n_raw"), lit(0L)).as("n"),
        coalesce(col("v_raw"), lit(0.0)).as("total_value"))
      .orderBy(col("hora"))
  }

  val gapfillSql: String =
    s"""WITH b AS (
       |  SELECT CAST(date_trunc('hour', MIN(ts)) AS TIMESTAMP) AS h0,
       |         CAST(date_trunc('hour', MAX(ts)) AS TIMESTAMP) AS h1
       |  FROM events),
       |spine AS (
       |  SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
       |  FROM b),
       |c AS (
       |  SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS h,
       |    COUNT(*) AS n, ${oDsum("value")} AS tv
       |  FROM events WHERE event_type = 'purchase' GROUP BY h)
       |SELECT ${oSec("spine.h")} AS hora,
       |  COALESCE(c.n, 0) AS n, COALESCE(c.tv, 0.0) AS total_value
       |FROM spine LEFT JOIN c ON spine.h = c.h
       |ORDER BY hora""".stripMargin

  /** B9 semantics witness: NULLIF(...) IS NOT NULL, the predicate t5/t6
    * also use (`NullifPushdown` turns it into a pushed-down NotEq) — this
    * query exists to pin the null-check semantics themselves. */
  val isNotNullSql: String =
    """SELECT l_returnflag, COUNT(*) AS n FROM lineitem
      |WHERE NULLIF(l_linestatus, 'F') IS NOT NULL
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // --- Declared without an oracle (driver records rows-only) ---------------

  /** B24 CURRENT_DATE — wall-clock, so no hash oracle; testdata dates are
    * all in the past, making rows>0 stable. */
  val currentDate: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") <= current_date())
      .agg(count(lit(1)).as("n"))

  /** Approx HLL distinct — algorithms differ across engines by design, so
    * no hash oracle (SURVEY §7.3); declared to witness the capability. */
  val approxDistinct: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(approx_count_distinct(col("l_partkey")).as("approx_parts"))
      .orderBy(col("l_returnflag"))

  /** KMV (k-minimum-values) distinct-count sketch — the DETERMINISTIC
    * approx-distinct twin of `c_approx_distinct`: where HLL internals
    * differ across engines (hence rows-only), KMV is pure relational
    * algebra over md5-derived 48-bit hashes — k smallest distinct hash
    * values, estimate = (k-1) * 2^48 / kth_min — so both engines compute
    * the identical sketch and the result hash-matches. Estimate lands
    * within ~1/sqrt(k) of the true count (measured ~6% at k=256). At
    * scale: the k-minimum set is a parallel top-k (TakeOrderedAndProject)
    * and KMV sketches merge by unioning and re-taking k — the same
    * mergeability HLL offers, with cross-engine reproducibility. */
  val kmvDistinct: Q = (s, dir) => {
    graft.functions.Md5PrefixLong.register(s)
    val k = 256
    val h = t(s, dir, "lineitem")
      // ≡ conv(substring(md5(..),1,12),16,10) cast long (digest fold, r21)
      .select(expr("graft_md5_long(CAST(l_orderkey AS STRING), 12)").as("h"))
      .distinct()
      .orderBy(col("h")).limit(k)
    h.agg(count(lit(1)).as("k"), max(col("h")).as("kth"),
      ((count(lit(1)) - 1).cast(DoubleType) * 281474976710656L.toDouble /
        max(col("h"))).as("est_distinct"))
  }

  val kmvDistinctSql: String =
    """WITH h AS (SELECT DISTINCT
      |  CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 12))
      |    AS BIGINT) AS h FROM lineitem),
      |k AS (SELECT h FROM h ORDER BY h LIMIT 256)
      |SELECT COUNT(*) AS k, MAX(h) AS kth,
      |  CAST(COUNT(*) - 1 AS DOUBLE) * 281474976710656 / MAX(h)
      |    AS est_distinct
      |FROM k""".stripMargin

  // --- Registry ------------------------------------------------------------

  val queries: Map[String, Q] = Map(
    "c_join_inner" -> joinInner,
    "c_join_left" -> q(joinLeftSql),
    "c_join_semi" -> q(joinSemiSql),
    "c_join_anti" -> q(joinAntiSql),
    "c_join_asof" -> joinAsof,
    "c_join_theta" -> joinTheta,
    "c_join_range" -> q(joinRangeSql),
    "c_udaf_sumsq" -> udafSumsq,
    "c_pivot" -> pivot_,
    "c_pivot_dynamic" -> pivotDynamic,
    "c_sample_hash" -> q(sampleHashSql),
    "c_unpivot" -> unpivot_,
    "c_grouping_reagg" -> groupingReagg,
    "c_histogram" -> q(histogramSql),
    "c_window_range" -> q(windowRangeSql),
    "c_window_range_time" -> q(windowRangeTimeSql),
    "c_window_range_bucketed" -> windowRangeBucketed,
    "c_window_groups" -> windowGroups,
    "c_window_frame_exclude" -> windowFrameExclude,
    "c_distinct_on" -> q(distinctOnSql),
    "c_string_agg" -> stringAgg,
    "c_salted_agg" -> saltedAgg,
    "c_salted_join" -> saltedJoin,
    "c_bloom_semijoin" -> bloomSemijoin,
    "c_window_pct" -> q(windowPctSql),
    "c_stats_moments" -> statsMoments,
    "c_window_topk" -> q(windowTopkSql),
    "c_window_lag" -> q(windowLagSql),
    "c_window_frame" -> windowFrame,
    "c_window_ranks" -> windowRanks,
    "c_percentile" -> q(percentileSql),
    "c_approx_quantile" -> approxQuantile,
    "c_rollup" -> rollup,
    "c_cube" -> cube_,
    "c_agg_distinct" -> q(aggDistinctSql),
    "c_agg_filter" -> q(aggFilterSql),
    "c_higher_order" -> higherOrder,
    "c_nested_types" -> nestedTypes,
    "c_json_extract" -> jsonExtract,
    "c_event_hourly" -> eventHourly,
    "c_gapfill" -> gapfill,
    "c_sessionize" -> q(sessionizeSql),
    "c_funnel" -> q(funnelSql),
    "c_funnel_window" -> q(funnelWindowSql),
    "c_retention" -> q(retentionSql),
    "c_interval" -> q(intervalSql),
    "c_is_not_null" -> q(isNotNullSql),
    "c_current_date" -> currentDate,
    "c_approx_distinct" -> approxDistinct,
    "c_kmv_distinct" -> kmvDistinct)

  val oracle: Map[String, String] = Map(
    "c_join_inner" -> joinInnerSql,
    "c_join_left" -> joinLeftSql,
    "c_join_semi" -> joinSemiSql,
    "c_join_anti" -> joinAntiSql,
    "c_join_asof" -> joinAsofSql,
    "c_join_theta" -> joinThetaSql,
    "c_join_range" -> joinRangeSql,
    "c_udaf_sumsq" -> udafSumsqSql,
    "c_pivot" -> pivotSql,
    "c_pivot_dynamic" -> pivotDynamicSql,
    "c_sample_hash" -> sampleHashSql,
    "c_unpivot" -> unpivotSql,
    "c_grouping_reagg" -> TierCSql.groupingSets,
    "c_histogram" -> histogramSql,
    "c_window_range" -> windowRangeSql,
    "c_window_range_time" -> windowRangeTimeSql,
    "c_window_range_bucketed" -> windowRangeSql, // same semantics, same oracle
    "c_window_groups" -> windowGroupsSql,
    "c_window_frame_exclude" -> windowFrameExcludeSql,
    "c_distinct_on" -> distinctOnSql,
    "c_string_agg" -> stringAggSql,
    "c_salted_agg" -> saltedAggSql,
    "c_salted_join" -> saltedJoinSql,
    "c_bloom_semijoin" -> bloomSemijoinSql,
    "c_window_pct" -> windowPctSql,
    "c_stats_moments" -> statsMomentsSql,
    "c_window_topk" -> windowTopkSql,
    "c_window_lag" -> windowLagSql,
    "c_window_frame" -> windowFrameSql,
    "c_window_ranks" -> windowRanksSql,
    "c_percentile" -> percentileSql,
    // c_approx_quantile: no oracle (rows-only), like c_approx_distinct
    "c_rollup" -> rollupSql,
    "c_cube" -> cubeSql,
    "c_agg_distinct" -> aggDistinctSql,
    "c_agg_filter" -> aggFilterSql,
    "c_higher_order" -> higherOrderSql,
    "c_nested_types" -> nestedTypesSql,
    "c_json_extract" -> jsonExtractSql,
    "c_event_hourly" -> eventHourlySql,
    "c_gapfill" -> gapfillSql,
    "c_kmv_distinct" -> kmvDistinctSql,
    "c_sessionize" -> sessionizeSql,
    "c_funnel" -> funnelSql,
    "c_funnel_window" -> funnelWindowSql,
    "c_retention" -> retentionSql,
    "c_interval" -> intervalSql,
    "c_is_not_null" -> isNotNullSql)
    // c_current_date / c_approx_distinct: deliberately no oracle (rows-only)
}
