package graft.engine

import org.scalatest.funsuite.AnyFunSuite

/** The fused PK batch check (r22): one job certifies in-batch soundness
  * AND yields the head-key span the footer prune consumes — the refusal
  * semantics and messages must be exactly those of the separate
  * in-batch and existing-key checks it replaced. Plus the r22
  * stableSnapshot hardening: row-set-unstable-but-deterministic sources
  * (LIMIT, first/any_value, dropDuplicates) must pin to a snapshot. */
class PkFusedCheckSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.spark

  private def freshTable(name: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    spark.sql(s"CREATE TABLE $name (k BIGINT, v STRING) USING parquet")
    spark.sql(s"INSERT INTO $name VALUES (1, 'a'), (10, 'b')")
    spark.sql(s"INSERT INTO $name VALUES (100, 'c'), (110, 'd')")
  }

  test("fused check refuses in-batch duplicates with the sound message") {
    import spark.implicits._
    freshTable("pk_fused_t")
    val e = intercept[IllegalArgumentException] {
      Engine.requireSoundAbsentKeys(spark, "pk_fused_t",
        Seq((7L, "x"), (7L, "y")).toDF("k", "v"), Seq("k"), "INSERT")
    }
    assert(e.getMessage.contains("duplicate key") &&
      e.getMessage.contains("repeated within the written rows"))
  }

  test("fused check refuses NULL keys with the sound message") {
    import spark.implicits._
    freshTable("pk_fused_t2")
    val src = Seq(Some(7L), None).toDF("k")
      .withColumn("v", org.apache.spark.sql.functions.lit("x"))
    val e = intercept[IllegalArgumentException] {
      Engine.requireSoundAbsentKeys(spark, "pk_fused_t2",
        src, Seq("k"), "INSERT")
    }
    assert(e.getMessage.contains("NULL in PRIMARY KEY"))
  }

  test("fused check refuses an existing key and passes a fresh batch") {
    import spark.implicits._
    freshTable("pk_fused_t3")
    val e = intercept[IllegalArgumentException] {
      Engine.requireSoundAbsentKeys(spark, "pk_fused_t3",
        Seq((110L, "dup")).toDF("k", "v"), Seq("k"), "INSERT")
    }
    assert(e.getMessage.contains("duplicate key") &&
      e.getMessage.contains("pk_fused_t3"))
    // fresh keys sail through the pruned path; empty batches trivially
    Engine.requireSoundAbsentKeys(spark, "pk_fused_t3",
      Seq((111L, "new")).toDF("k", "v"), Seq("k"), "INSERT")
    Engine.requireSoundAbsentKeys(spark, "pk_fused_t3",
      Seq.empty[(Long, String)].toDF("k", "v"), Seq("k"), "INSERT")
  }

  test("one source-key aggregate: span, duplicate and NULL witnesses") {
    import spark.implicits._
    val span = Dml.sourceKeys(
      Seq(5L, 99L, 42L).toDF("k"), Seq("k"), withSpan = true)
    assert(span == Dml.SourceKeys(None, None, Some((5L, 99L))))
    // an empty batch has no span: no target row can collide with it
    val empty = Dml.sourceKeys(
      Seq.empty[Long].toDF("k"), Seq("k"), withSpan = true)
    assert(empty == Dml.SourceKeys(None, None, None))
    val noSpan = Dml.sourceKeys(
      Seq(5L).toDF("k"), Seq("k"), withSpan = false)
    assert(noSpan.span.isEmpty)
    // the witnesses name the violating tuple; the span skips NULL keys
    val bad = Dml.sourceKeys(
      Seq(Some(7L), Some(7L), None, Some(3L)).toDF("k"), Seq("k"),
      withSpan = true)
    assert(bad.duplicate.map(_.getLong(0)).contains(7L))
    assert(bad.nullKey.exists(_.isNullAt(0)))
    assert(bad.span.contains((3L, 7L)))
    // two all-NULL key tuples group together: a duplicate (MERGE's
    // uniqueness semantics), and a NULL key (the PRIMARY KEY's)
    val twoNulls = Dml.sourceKeys(
      Seq(Option.empty[Long], Option.empty[Long]).toDF("k"), Seq("k"),
      withSpan = true)
    assert(twoNulls.duplicate.isDefined && twoNulls.nullKey.isDefined &&
      twoNulls.span.isEmpty)
  }

  test("stableSnapshot pins row-set-unstable deterministic sources") {
    import spark.implicits._
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    // stable shapes pass through untouched
    assert(Engine.stableSnapshot(base) eq base)
    val filtered = base.filter("k > 1")
    assert(Engine.stableSnapshot(filtered) eq filtered)
    // LIMIT without total order, dropDuplicates, first() must pin
    def pinned(df: org.apache.spark.sql.DataFrame): Boolean =
      !(Engine.stableSnapshot(df) eq df)
    assert(pinned(base.limit(2)))
    assert(pinned(base.dropDuplicates("v")))
    assert(pinned(base.groupBy("v")
      .agg(org.apache.spark.sql.functions.first("k").as("k"))))
    // the same shapes inside a subquery: a LIMIT without total order in
    // a scalar subquery may pick a different row on each evaluation
    base.createOrReplaceTempView("pk_fused_u")
    assert(pinned(spark.sql("SELECT (SELECT k FROM pk_fused_u LIMIT 1) AS k")))
    assert(pinned(spark.sql(
      "SELECT k FROM pk_fused_u WHERE k IN (SELECT k FROM pk_fused_u LIMIT 2)")))
    val stableSub = spark.sql(
      "SELECT (SELECT max(k) FROM pk_fused_u) AS k")
    assert(Engine.stableSnapshot(stableSub) eq stableSub)
  }
}
