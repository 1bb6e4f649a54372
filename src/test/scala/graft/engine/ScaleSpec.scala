package graft.engine

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Bucketed co-located joins (no shuffle) + salted skew aggregation. */
class ScaleSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("bucketed tables join with no shuffle exchange") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .select("l_orderkey", "l_extendedprice")
    val o = spark.read.parquet(s"$dir/orders.parquet")
      .select("o_orderkey", "o_orderpriority")
    Scale.writeBucketed(li, "li_bucketed", "l_orderkey", 8)
    Scale.writeBucketed(o, "o_bucketed", "o_orderkey", 8)

    // disable auto-broadcast so the planner has to pick the join the
    // bucketing exists for (fact⋈fact at scale is never broadcastable)
    val thresholdKey = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(thresholdKey)
    try {
      spark.conf.set(thresholdKey, "-1")
      val joined = spark.table("li_bucketed")
        .join(spark.table("o_bucketed"),
          col("l_orderkey") === col("o_orderkey"))
      val plan = Engine.explain(joined)
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle:\n$plan")
      assert(plan.contains("SortMergeJoin"), plan)
      // and it still computes the right thing
      assert(joined.count() ==
        li.join(o, col("l_orderkey") === col("o_orderkey")).count())
    } finally spark.conf.set(thresholdKey, prev)
  }

  test("partitioned layout prunes: a filter reads only its directories") {
    val ev = spark.read.parquet(s"$dir/events.parquet")
      .select(col("event_id"), col("event_type"), col("value"))
    val out = java.nio.file.Files.createTempDirectory("parted").toString
    Scale.writePartitioned(ev, out, "event_type")
    val clicks = spark.read.parquet(out)
      .filter(col("event_type") === "click")
    val plan = Engine.explain(clicks)
    assert(plan.contains("PartitionFilters") &&
      plan.contains("event_type"), s"expected partition filter:\n$plan")
    // pruned read returns exactly the click rows (partition column itself
    // is directory-encoded, not stored in the files)
    assert(clicks.count() ==
      ev.filter(col("event_type") === "click").count())
  }

  test("range-sorted layout: disjoint per-file key ranges, data intact") {
    val ev = spark.read.parquet(s"$dir/events.parquet")
      .select(col("event_id"), col("value"))
    val out = java.nio.file.Files.createTempDirectory("sorted").toString
    Scale.writeSorted(ev, out, "event_id", 4)
    val back = spark.read.parquet(out)
    assert(back.count() == ev.count())
    // per-file min/max must not overlap: that disjointness is exactly what
    // makes the parquet stats effective for range filters
    import org.apache.spark.sql.functions.{input_file_name, min => fmin, max => fmax}
    val ranges = back
      .groupBy(input_file_name().as("f"))
      .agg(fmin("event_id").as("lo"), fmax("event_id").as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) => assert(hi1 < lo2, ranges.toSeq)
      case _ =>
    }
  }

  test("mortonInterleave matches a bit-by-bit reference on 1024 pairs") {
    // The Z-order layout's entire skipping guarantee rides on the
    // parallel-prefix spread being a CORRECT interleave; check it against
    // the naive bit loop, plus the locality property the layout uses:
    // within a fixed b, z is strictly increasing in a (and vice versa),
    // so per-key range predicates map to contiguous z-runs inside a box.
    // Only the low 31 bits of each key interleave (ADVICE r12): bit 31 of
    // b would reach the Long sign bit and invert the SIGNED sort order
    // writeZOrdered relies on, so the reference masks identically.
    def ref(a0: Long, b0: Long): Long = {
      val a = a0 & 0x7FFFFFFFL
      val b = b0 & 0x7FFFFFFFL
      var z = 0L
      var i = 0
      while (i < 31) {
        z |= ((a >> i) & 1L) << (2 * i)
        z |= ((b >> i) & 1L) << (2 * i + 1)
        i += 1
      }
      z
    }
    // deterministic pseudo-random 32-bit pairs + the edge corners
    val pairs = (0 until 1000).map { i =>
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"mi_$i".getBytes("UTF-8"))
      def u32(off: Int): Long =
        java.nio.ByteBuffer.wrap(h, off, 4).getInt.toLong & 0xFFFFFFFFL
      (u32(0), u32(4))
    } ++ Seq((0L, 0L), (0xFFFFFFFFL, 0xFFFFFFFFL), (0xFFFFFFFFL, 0L),
      (0L, 0xFFFFFFFFL), (1L, 2L), (255L, 256L))
    import spark.implicits._
    val got = pairs.toDF("a", "b")
      .select(col("a"), col("b"),
        Scale.mortonInterleave(col("a"), col("b")).as("z"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2)))
      .toMap
    pairs.foreach { case (a, b) =>
      assert(got((a, b)) == ref(a, b),
        f"interleave($a%d, $b%d) = ${got((a, b))}%d != ref ${ref(a, b)}%d")
    }
    // monotonicity in each key with the other fixed — INCLUDING the full
    // 31-bit corner, under the SIGNED Long ordering the layout sorts with
    // (the ADVICE r12 failure mode: a 32-bit key put bit 63 in play and
    // the top quadrant sorted before the bottom)
    val probe = Seq(3L, 7L, 100L, 1000L, 4096L, 0x40000000L, 0x7FFFFFFFL)
    val inA = probe.map(a => ref(a, 0x7FFFFFFFL))
    assert(inA == inA.sorted, "z must increase with a at fixed b")
    val inB = probe.map(b => ref(0x7FFFFFFFL, b))
    assert(inB == inB.sorted, "z must increase with b at fixed a")
    assert(ref(0x7FFFFFFFL, 0x7FFFFFFFL) >= 0L,
      "31-bit inputs must never produce a negative (sign-bit) z-code")
  }

  test("AQE splits a skewed join partition at runtime (skew=true)") {
    // The runtime half of the skew story: `c_salted_join` is the MANUAL
    // mitigation (pre-planned (key, salt) widening); this pins the
    // AUTOMATIC one — AQE's OptimizeSkewedJoin observing the actual
    // shuffle sizes and splitting the hot partition into advisory-sized
    // slices, each re-joined against a duplicated build side. At 100 TB
    // the manual salt is for KNOWN hot keys baked into a pipeline; AQE
    // covers the unknown ones, and this test proves the session config
    // actually delivers that (thresholds scaled down to test-data sizes
    // — the ratios, not the absolutes, are what a cluster would tune).
    val tuned = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1", // force a shuffle join
      // 16 reducers so the non-hot keys yield a meaningful MEDIAN size
      // for skew detection (the suite default of 2 would fold the median
      // into the hot partition itself)
      "spark.sql.shuffle.partitions" -> "16",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "32KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1MB",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1KB")
    val prev = tuned.map { case (k, _) => k -> spark.conf.get(k) }
    try {
      tuned.foreach { case (k, v) => spark.conf.set(k, v) }
      // ~80% of fact rows land on key 7; md5 payload keeps the hot
      // shuffle partition incompressible enough to trip the threshold
      val fact = spark.range(0, 120000).select(
        when(col("id") % 5 =!= 0, lit(7L)).otherwise(col("id") % 32)
          .as("k"),
        md5(col("id").cast("string")).as("pad"))
      val dim = spark.range(0, 32).select(
        col("id").as("dk"), concat(lit("d"), col("id")).as("dname"))
      val joined = fact.join(dim, col("k") === col("dk"))
      // execute THIS dataframe (count() plans a different query and
      // would leave joined's adaptive plan unfinalized)
      assert(joined.collect().length == 120000) // every fact key resolves
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("isFinalPlan=true"), finalPlan)
      assert(finalPlan.contains("skew=true"),
        s"AQE must mark the hot partition's join as skewed:\n$finalPlan")
      assert(finalPlan.contains("AQEShuffleRead"),
        s"runtime shuffle reader missing — AQE not engaged:\n$finalPlan")
    } finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }
}
