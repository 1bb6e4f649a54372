package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.engine.EngineState
import Tables._

/** Declared queries over REWRITTEN storage layouts — the hash-backed twin
  * of ScaleSpec's layout assertions (VERDICT r8 task 7). `Scale
  * .writePartitioned` is the single highest-leverage layout decision for a
  * 100 TB fact table queried by a low-cardinality key: each key value
  * becomes a directory, and an equality filter on it never lists — let
  * alone reads — the other directories. ScaleSpec proves the pruning shape;
  * this query proves the DATA: the full write → prune → read → aggregate
  * pipeline hash-matches the oracle aggregating the ORIGINAL table, so a
  * row lost/duplicated/mangled by the layout rewrite (or a partition
  * directory mis-encoded on read-back) fails CORRECTNESS, not just a spec.
  */
object Layout {

  // One layout write per (session, sfDir, kind): Verify/Bench invoke each
  // query up to 3 times and the plan gates re-build the frame — rewriting
  // the table each time would turn a read benchmark into a write benchmark.
  // mode("overwrite") keeps a stale layout from a previous JVM harmless.
  // The SESSION is part of the key (ADVICE r11): bucketedPair and
  // unionByNameView register catalog tables/views in a SPECIFIC session,
  // so a second SparkSession in the same JVM must re-register its own
  // rather than silently reading a name that only exists in the first
  // session's catalog (path-only layouts just rewrite once per session —
  // a write, not a correctness hazard). The memo lives in `EngineState`
  // under `layout/<kind>`; its doc comment covers retention.
  private[queries] def written(s: SparkSession, dir: String, kind: String)(
      build: => String): String =
    EngineState.of(s).memo(dir, s"layout/$kind")(build)

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  // Per-JVM pid component (ADVICE r9): two concurrent harness JVMs on one
  // host would otherwise mode(overwrite) the SAME tmp directory
  // concurrently and could interleave into a corrupt mixed layout.
  private val pid = ProcessHandle.current.pid

  /** Layout root under java.io.tmpdir, unique per (kind, sfDir, JVM). */
  private[queries] def tmpRoot(kind: String, dir: String): String =
    s"${System.getProperty("java.io.tmpdir")}" +
      s"/graft_layout_${kind}_${md5hex(dir).take(12)}_p$pid"

  /** `orders` rewritten under java.io.tmpdir partitioned by o_orderstatus
    * (3 values — exactly the low-cardinality key the layout is for);
    * returns the layout root. Keyed by sfDir hash so sf0.001 plan gates
    * and sf0.01 Verify runs never read each other's layout. */
  private def partitionedOrders(s: SparkSession, dir: String): String =
    written(s, dir, "orders") {
      val path = tmpRoot("orders", dir)
      graft.engine.Scale.writePartitioned(
        t(s, dir, "orders"), path, "o_orderstatus")
      path
    }

  /** Partition-pruned aggregate over the rewritten layout: the filter on
    * the partition column must reach the scan as a PartitionFilter (gated
    * in PlanSpec), i.e. only the o_orderstatus=F directories are listed.
    * The oracle runs the same aggregate on the ORIGINAL orders table, so a
    * hash match certifies the layout roundtrip preserved every row. */
  val partPrune: Q = (s, dir) => {
    val path = partitionedOrders(s, dir)
    s.read.parquet(path)
      .filter(col("o_orderstatus") === "F")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), dsum("o_totalprice").as("total"))
      .orderBy(col("o_orderpriority"))
  }

  val partPruneSql: String =
    """SELECT o_orderpriority, COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM orders WHERE o_orderstatus = 'F'
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** `orders` + `customer` rewritten as BUCKETED catalog tables on the
    * join key (`Scale.writeBucketed`: same key, same bucket count ⇒
    * co-located joins with no shuffle exchange on either side — the single
    * biggest join cost lever for fact⋈fact at 100 TB). Returns the two
    * table names; written once per (sfDir, JVM). saveAsTable is the only
    * way Spark persists bucket metadata, so names carry the dir hash AND
    * the pid to keep concurrent harness JVMs off each other's tables. */
  private[queries] def bucketedPair(
      s: SparkSession, dir: String): (String, String) = {
    val ot = written(s, dir, "bkt_orders") {
      val name = s"graft_bkt_orders_${md5hex(dir).take(12)}_p$pid"
      graft.engine.Scale.writeBucketed(
        t(s, dir, "orders").select(col("o_custkey"), col("o_totalprice")),
        name, "o_custkey", 8)
      name
    }
    val ct = written(s, dir, "bkt_customer") {
      val name = s"graft_bkt_customer_${md5hex(dir).take(12)}_p$pid"
      graft.engine.Scale.writeBucketed(
        t(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment")),
        name, "c_custkey", 8)
      name
    }
    (ot, ct)
  }

  /** `orders` rewritten range-sorted by o_orderdate into 8 files
    * (`Scale.writeSorted`): repartitionByRange gives each file a disjoint
    * date range and sortWithinPartitions orders rows inside, so every row
    * group's min/max footer stats are TIGHT and a date-range filter skips
    * whole files and row groups — the stats-tightening layout for
    * high-cardinality range keys, third leg of the partitioned/bucketed/
    * sorted triad. `private[queries]` so LayoutSpec can read the same
    * layout's parquet footers for the stat-level skipping assertion. */
  private[queries] def sortedOrders(s: SparkSession, dir: String): String =
    written(s, dir, "sorted_orders") {
      val path = tmpRoot("sorted_orders", dir)
      graft.engine.Scale.writeSorted(
        t(s, dir, "orders").select(col("o_orderkey"), col("o_orderdate"),
          col("o_totalprice")),
        path, "o_orderdate", 8)
      path
    }

  /** Row-group-skipping aggregate over the sorted layout (VERDICT r9 #4):
    * a tight Q1-1995 range filter (~4% of the 6.6-year span) over the
    * date-sorted rewrite. The filter pushes to the parquet scan, where the
    * sorted layout's disjoint min/max stats let the reader skip the other
    * ~96% of row groups at footer-read time (LayoutSpec asserts the
    * overlap set is a strict subset BY READING THE FOOTERS); the oracle
    * aggregates the ORIGINAL table under the same predicate, so a hash
    * match certifies the sorted rewrite lost/duplicated nothing. */
  val sortSkip: Q = (s, dir) => {
    val path = sortedOrders(s, dir)
    s.read.parquet(path)
      .filter(col("o_orderdate") >= ts("1995-01-01") &&
        col("o_orderdate") < ts("1995-04-01"))
      .agg(count(lit(1)).as("n"), dsum("o_totalprice").as("total"),
        dstr(min(col("o_orderdate"))).as("first_day"),
        dstr(max(col("o_orderdate"))).as("last_day"))
  }

  val sortSkipSql: String =
    """SELECT COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
      |  strftime(MIN(o_orderdate), '%Y-%m-%d') AS first_day,
      |  strftime(MAX(o_orderdate), '%Y-%m-%d') AS last_day
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1995-04-01 00:00:00'""".stripMargin

  /** Shuffle-free bucketed join, certified by DATA (VERDICT r9 #2): both
    * sides read from their bucketed layouts and join on the bucket key
    * with ZERO exchanges anywhere in the plan — the `merge` hints pin
    * sort-merge (fact⋈fact at scale is never broadcastable; without the
    * hint the sf0.001 customer side would auto-broadcast and the gate
    * would certify nothing), bucketing supplies both sides' partitioning,
    * and the follow-up per-customer aggregate reuses the SAME bucket
    * partitioning (group keys ⊇ partition key), so even the aggregation
    * adds no exchange; the final order-by rides TakeOrderedAndProject.
    * PlanSpec asserts SortMergeJoin + zero Exchange. The oracle runs the
    * identical join+aggregate on the ORIGINAL tables, so a hash match
    * certifies the bucketed rewrite preserved every row of both tables. */
  val bucketJoin: Q = (s, dir) => {
    val (ot, ct) = bucketedPair(s, dir)
    s.table(ot).hint("merge")
      .join(s.table(ct).hint("merge"),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_custkey"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"), dsum("o_totalprice").as("total"))
      .orderBy(col("c_custkey"))
      .limit(200)
  }

  val bucketJoinSql: String =
    """SELECT c_custkey, c_mktsegment, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_custkey, c_mktsegment
      |ORDER BY c_custkey LIMIT 200""".stripMargin

  /** Two parquet files with OVERLAPPING-BUT-DIFFERENT schemas — the same
    * 25 nations, one file carrying (key, name), the other (key, regionkey)
    * — unioned through the engine's A9 import path
    * (`Catalog.createOrReplaceParquetView`, mergeSchema). SURVEY §7.4 #4
    * names this a deliberate parity hazard: DuckDB's `read_parquet`
    * unifies by NAME, Spark's default union is by POSITION; the A9 path
    * must fill each file's missing columns with NULL exactly as the
    * oracle's explicit NULL-padded UNION ALL does. Registered once per
    * (sfDir, JVM); the view reads lazily so the union never copies bytes. */
  private def unionByNameView(s: SparkSession, dir: String): String =
    written(s, dir, "union_by_name") {
      val root = tmpRoot("union_by_name", dir)
      t(s, dir, "nation").select(col("n_nationkey"), col("n_name"))
        .coalesce(1).write.mode("overwrite").parquet(s"$root/a.parquet")
      t(s, dir, "nation").select(col("n_nationkey"), col("n_regionkey"))
        .coalesce(1).write.mode("overwrite").parquet(s"$root/b.parquet")
      val view = s"graft_union_${md5hex(dir).take(8)}_p$pid"
      graft.engine.Catalog.createOrReplaceParquetView(
        s, java.nio.file.Paths.get(root),
        Seq(graft.engine.Catalog.ImportedFile("a.parquet", 0L),
          graft.engine.Catalog.ImportedFile("b.parquet", 0L)),
        view)
      view
    }

  val unionByName: Q = (s, dir) => {
    val view = unionByNameView(s, dir)
    s.table(view)
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      .orderBy(col("n_nationkey"), col("n_name").asc_nulls_last)
  }

  val unionByNameSql: String =
    """SELECT n_nationkey, n_name, CAST(NULL AS INTEGER) AS n_regionkey
      |FROM nation
      |UNION ALL
      |SELECT n_nationkey, CAST(NULL AS VARCHAR) AS n_name, n_regionkey
      |FROM nation
      |ORDER BY n_nationkey, n_name NULLS LAST""".stripMargin

  // --- Z-order layout: 2-D clustering for multi-dim pruning ---------------

  /** (min, max) bounds of lineitem's two clustering keys, memoized per
    * (session, sfDir). One tiny 2-column agg here; at 100 TB these are
    * column statistics already sitting in the metastore / parquet footers
    * — never a scan. */
  private[queries] def liBounds(
      s: SparkSession, dir: String): (Long, Long, Long, Long) =
    EngineState.of(s).memo(dir, "stats/li_bounds") {
      val r = t(s, dir, "lineitem")
        .agg(min(col("l_partkey")), max(col("l_partkey")),
          min(col("l_suppkey")), max(col("l_suppkey"))).collect()(0)
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    }

  /** The 2-D query box, derived from the bounds with integer arithmetic
    * (identical in Scala and the oracle's `//`): part keys in the span's
    * second eighth, supp keys in [span/8, span/2) — non-empty at every SF
    * because both spans exceed 8. Literals in the plan, so the box reaches
    * the scan as PushedFilters and the footer stats actually skip. */
  private def liBox(s: SparkSession, dir: String): (Long, Long, Long, Long) = {
    val (pmin, pmax, smin, smax) = liBounds(s, dir)
    val (pspan, sspan) = (pmax - pmin + 1, smax - smin + 1)
    (pmin + pspan / 8, pmin + pspan / 4, smin + sspan / 8, smin + sspan / 2)
  }

  /** `lineitem`'s (part, supp, quantity, price) rewritten Z-ORDERED by
    * (l_partkey, l_suppkey) — the multi-dimensional fourth leg of the
    * layout family: partitioning covers low-cardinality equality keys,
    * bucketing covers join keys, single-key sorting covers ONE range key;
    * Z-ordering is the layout for a table queried by range on TWO
    * independent keys. Both keys are scaled to a common 8-bit width from
    * their bounds (an unbalanced interleave degenerates to a plain sort on
    * the wider key), Morton-interleaved, and range-sorted into 16 files,
    * so every file's footer carries a tight min/max RECTANGLE of the key
    * plane and a filter on either key — or a 2-D box — skips most of the
    * corpus at footer-read time. The scaling only affects WRITE-time
    * clustering; the stored columns are untouched, which is why the
    * read-back hash can match the original-table oracle exactly. */
  private[queries] def zorderLineitem(s: SparkSession, dir: String): String =
    written(s, dir, "zorder_li") {
      val path = tmpRoot("zorder_li", dir)
      val (pmin, pmax, smin, smax) = liBounds(s, dir)
      val li = t(s, dir, "lineitem").select(
        col("l_partkey"), col("l_suppkey"), col("l_quantity"),
        col("l_extendedprice"))
      val zx = expr(
        s"CAST(((l_partkey - $pmin) * 256) DIV ${pmax - pmin + 1} AS BIGINT)")
      val zy = expr(
        s"CAST(((l_suppkey - $smin) * 256) DIV ${smax - smin + 1} AS BIGINT)")
      graft.engine.Scale.writeZOrdered(li, path, zx, zy, 16)
      path
    }

  /** 2-D box aggregate answered FROM the Z-ordered layout (the zorder twin
    * of `c_sort_skip`): the box predicate pushes to the scan, where the
    * Z-layout's rectangular footer stats skip the files outside the box on
    * EITHER dimension (LayoutSpec reads the footers and proves the skip —
    * and proves the single-key-sorted contrast layout cannot skip on the
    * second key). The oracle aggregates the ORIGINAL lineitem under the
    * same box, so a hash match certifies the Z rewrite lost/duplicated/
    * mangled nothing. */
  val zorderSkip: Q = (s, dir) => {
    val path = zorderLineitem(s, dir)
    val (plo, phi, slo, shi) = liBox(s, dir)
    s.read.parquet(path)
      .filter(col("l_partkey") >= plo && col("l_partkey") < phi &&
        col("l_suppkey") >= slo && col("l_suppkey") < shi)
      .agg(count(lit(1)).as("n"), dsum("l_quantity").as("qty"),
        min(col("l_partkey")).as("p_first"),
        max(col("l_partkey")).as("p_last"),
        min(col("l_suppkey")).as("s_first"),
        max(col("l_suppkey")).as("s_last"))
  }

  val zorderSkipSql: String =
    """WITH b AS (SELECT MIN(l_partkey) AS pmin, MAX(l_partkey) AS pmax,
      |                  MIN(l_suppkey) AS smin, MAX(l_suppkey) AS smax
      |           FROM lineitem)
      |SELECT COUNT(*) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty,
      |  MIN(l_partkey) AS p_first, MAX(l_partkey) AS p_last,
      |  MIN(l_suppkey) AS s_first, MAX(l_suppkey) AS s_last
      |FROM lineitem, b
      |WHERE l_partkey >= pmin + (pmax - pmin + 1) // 8
      |  AND l_partkey <  pmin + (pmax - pmin + 1) // 4
      |  AND l_suppkey >= smin + (smax - smin + 1) // 8
      |  AND l_suppkey <  smin + (smax - smin + 1) // 2""".stripMargin

  // --- Copy-on-write DML: UPDATE/DELETE/MERGE as layout rewrites ----------

  /** DELETE and UPDATE predicates/assignments shared by the Spark rewrite
    * and the oracle script — Q1-1996 rows drop, summer-1997 prices
    * double (a ×2 on a double is EXACT — pure exponent arithmetic — so
    * both engines hold identical values afterwards). */
  private val delLo = "1996-01-01"; private val delHi = "1996-04-01"
  private val updLo = "1997-06-01"; private val updHi = "1997-09-01"

  /** `orders` rewritten date-sorted (the `sortedOrders` shape, plus the
    * status column), then MUTATED IN PLACE by the copy-on-write rewriter
    * (`engine/Dml.scala`, VERDICT r14 #1): a DELETE of Q1-1996 and an
    * UPDATE doubling summer-1997 prices, each a footer-stats-pruned
    * file rewrite — on the date-sorted layout the two quarter-wide
    * predicates each touch ~1 of 8 files; the other files are never
    * opened (DmlSpec proves them byte-identical). Built once per
    * (session, sfDir, JVM): DML is NOT idempotent (a second ×2 would
    * double again), so the memo is correctness here, not just economy. */
  private[queries] def dmlOrders(s: SparkSession, dir: String): String =
    written(s, dir, "dml_orders") {
      val path = tmpRoot("dml_orders", dir)
      graft.engine.Scale.writeSorted(
        t(s, dir, "orders").select(col("o_orderkey"), col("o_orderdate"),
          col("o_orderstatus"), col("o_totalprice")),
        path, "o_orderdate", 8)
      graft.engine.Dml.deleteWhere(s, path, "o_orderdate",
        graft.engine.Dml.dayMicros(delLo), graft.engine.Dml.dayMicros(delHi),
        col("o_orderdate") >= ts(delLo) && col("o_orderdate") < ts(delHi))
      graft.engine.Dml.updateWhere(s, path, "o_orderdate",
        graft.engine.Dml.dayMicros(updLo), graft.engine.Dml.dayMicros(updHi),
        col("o_orderdate") >= ts(updLo) && col("o_orderdate") < ts(updHi),
        Seq("o_totalprice" -> col("o_totalprice") * lit(2)))
      path
    }

  /** Post-DML aggregate over the mutated layout; the oracle replays the
    * IDENTICAL DELETE + UPDATE as real DuckDB DML on a temp table copy of
    * `orders` (the reference's delegation surface runs exactly such
    * statements, `/root/reference/src/duckdb.ts:46-49`), so a hash match
    * certifies the pruned file rewrite left precisely the rows real DML
    * semantics leave — nothing extra deleted, nothing double-updated,
    * untouched files' rows intact. */
  val dmlRewrite: Q = (s, dir) => {
    val path = dmlOrders(s, dir)
    s.read.parquet(path)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), dsum("o_totalprice").as("total"),
        dstr(min(col("o_orderdate"))).as("first_day"),
        dstr(max(col("o_orderdate"))).as("last_day"))
      .orderBy(col("o_orderstatus"))
  }

  val dmlRewriteSql: String =
    s"""CREATE OR REPLACE TEMP TABLE graft_dml_oracle AS
       |  SELECT o_orderkey, o_orderdate, o_orderstatus, o_totalprice
       |  FROM orders;
       |DELETE FROM graft_dml_oracle
       |  WHERE o_orderdate >= TIMESTAMP '$delLo 00:00:00'
       |    AND o_orderdate < TIMESTAMP '$delHi 00:00:00';
       |UPDATE graft_dml_oracle SET o_totalprice = o_totalprice * 2
       |  WHERE o_orderdate >= TIMESTAMP '$updLo 00:00:00'
       |    AND o_orderdate < TIMESTAMP '$updHi 00:00:00';
       |SELECT o_orderstatus, COUNT(*) AS n,
       |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
       |  strftime(MIN(o_orderdate), '%Y-%m-%d') AS first_day,
       |  strftime(MAX(o_orderdate), '%Y-%m-%d') AS last_day
       |FROM graft_dml_oracle
       |GROUP BY o_orderstatus ORDER BY o_orderstatus;""".stripMargin

  // --- MERGE INTO (upsert) as copy-on-write + append ----------------------

  private val mrgLo = "1998-01-01"; private val mrgHi = "1998-02-01"

  /** Deterministic upsert source, derived from the January-1998 slice of
    * `orders`: every such order is a MATCHED row (status → 'M', price
    * ×2), and every 3rd key also contributes a NOT-MATCHED insert under
    * a fresh negative key. Computed identically on both sides. */
  private def mergeSource(s: SparkSession, dir: String) = {
    val win = t(s, dir, "orders")
      .filter(col("o_orderdate") >= ts(mrgLo) && col("o_orderdate") < ts(mrgHi))
      .select(col("o_orderkey"), col("o_orderdate"),
        col("o_orderstatus"), col("o_totalprice"))
    val matchedRows = win
      .withColumn("o_orderstatus", lit("M"))
      .withColumn("o_totalprice", col("o_totalprice") * lit(2))
    val insertRows = win.filter(col("o_orderkey") % 3 === 0)
      .select((col("o_orderkey") * -1 - lit(1000000L)).as("o_orderkey"),
        col("o_orderdate"), lit("N").as("o_orderstatus"),
        lit(100.25).as("o_totalprice"))
    matchedRows.unionByName(insertRows)
  }

  /** The same sorted `orders` layout upserted via `Dml.mergeInto`
    * (VERDICT r14 #6): matched keys rewrite only the files overlapping
    * the source's date span; fresh keys append as new files. */
  private[queries] def mergedOrders(s: SparkSession, dir: String): String =
    written(s, dir, "merge_orders") {
      val path = tmpRoot("merge_orders", dir)
      graft.engine.Scale.writeSorted(
        t(s, dir, "orders").select(col("o_orderkey"), col("o_orderdate"),
          col("o_orderstatus"), col("o_totalprice")),
        path, "o_orderdate", 8)
      graft.engine.Dml.mergeInto(s, path, "o_orderdate",
        graft.engine.Dml.dayMicros(mrgLo), graft.engine.Dml.dayMicros(mrgHi),
        mergeSource(s, dir), Seq("o_orderkey"),
        Seq("o_orderstatus", "o_totalprice"))
      path
    }

  /** Post-MERGE aggregate; the oracle replays the upsert as the
    * UPDATE-then-INSERT script MERGE is defined as for this source (every
    * source key either matches — the January-1998 window — or is fresh — the
    * negative keys), so a hash match certifies both branches: matched
    * rows updated exactly once, fresh rows appended exactly once, and no
    * row outside the window disturbed. */
  val dmlMerge: Q = (s, dir) => {
    val path = mergedOrders(s, dir)
    s.read.parquet(path)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), dsum("o_totalprice").as("total"),
        min(col("o_orderkey")).as("k_min"),
        max(col("o_orderkey")).as("k_max"))
      .orderBy(col("o_orderstatus"))
  }

  val dmlMergeSql: String =
    s"""CREATE OR REPLACE TEMP TABLE graft_merge_oracle AS
       |  SELECT o_orderkey, o_orderdate, o_orderstatus, o_totalprice
       |  FROM orders;
       |UPDATE graft_merge_oracle
       |  SET o_orderstatus = 'M', o_totalprice = o_totalprice * 2
       |  WHERE o_orderdate >= TIMESTAMP '$mrgLo 00:00:00'
       |    AND o_orderdate < TIMESTAMP '$mrgHi 00:00:00';
       |INSERT INTO graft_merge_oracle
       |  SELECT o_orderkey * -1 - 1000000, o_orderdate, 'N',
       |    CAST(100.25 AS DOUBLE)
       |  FROM orders
       |  WHERE o_orderdate >= TIMESTAMP '$mrgLo 00:00:00'
       |    AND o_orderdate < TIMESTAMP '$mrgHi 00:00:00'
       |    AND o_orderkey % 3 = 0;
       |SELECT o_orderstatus, COUNT(*) AS n,
       |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
       |  MIN(o_orderkey) AS k_min, MAX(o_orderkey) AS k_max
       |FROM graft_merge_oracle
       |GROUP BY o_orderstatus ORDER BY o_orderstatus;""".stripMargin

  val queries: Map[String, Q] = Map(
    "c_part_prune" -> partPrune,
    "c_bucket_join" -> bucketJoin,
    "c_sort_skip" -> sortSkip,
    "c_zorder_skip" -> zorderSkip,
    "c_union_by_name" -> unionByName,
    "c_dml_rewrite" -> dmlRewrite,
    "c_dml_merge" -> dmlMerge)

  val oracle: Map[String, String] = Map(
    "c_part_prune" -> partPruneSql,
    "c_bucket_join" -> bucketJoinSql,
    "c_sort_skip" -> sortSkipSql,
    "c_zorder_skip" -> zorderSkipSql,
    "c_union_by_name" -> unionByNameSql,
    "c_dml_rewrite" -> dmlRewriteSql,
    "c_dml_merge" -> dmlMergeSql)
}
