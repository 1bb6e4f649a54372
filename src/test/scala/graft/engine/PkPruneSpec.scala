package graft.engine

import org.scalatest.funsuite.AnyFunSuite

/** The PK existing-key check's footer prune (r21, VERDICT r20 #1): a
  * small INSERT against a key-clustered layout must open only files
  * whose head-key footer [min,max] overlaps the batch's key span —
  * certified on the FILE SELECTION itself (`pkSlice`'s inputFiles, fed
  * the span of the batch's one source-key aggregate), not only the
  * end-to-end effect. */
class PkPruneSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.spark

  private def freshTable(name: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    spark.sql(s"CREATE TABLE $name (k BIGINT, v STRING) USING parquet")
    // three inserts → three disjoint key-span file groups
    spark.sql(s"INSERT INTO $name VALUES (1, 'a'), (10, 'b')")
    spark.sql(s"INSERT INTO $name VALUES (100, 'c'), (110, 'd')")
    spark.sql(s"INSERT INTO $name VALUES (1000, 'e'), (1010, 'f')")
  }

  /** The slice of `table` the fused check probes for `batch`, as the
    * check itself computes it; None when the table is not prunable. */
  private def slice(table: String,
      batch: org.apache.spark.sql.DataFrame)
      : Option[org.apache.spark.sql.DataFrame] =
    Engine.pkLayout(spark, table, Seq("k")).map { layout =>
      Engine.pkSlice(spark, layout,
        Dml.sourceKeys(batch, Seq("k"), withSpan = true).span)
    }

  test("only key-span-overlapping files are selected") {
    import spark.implicits._
    freshTable("pk_prune_t")
    val all = spark.table("pk_prune_t").inputFiles.toSet
    assert(all.size >= 3, s"expected >=3 part files, got ${all.size}")

    // batch span [10, 100]: the 1000-group files can never overlap it
    val rel = slice("pk_prune_t", Seq(10L, 100L).toDF("k"))
    assert(rel.isDefined, "prune preconditions should hold")
    val opened = rel.get.inputFiles.toSet
    assert(opened.nonEmpty && opened.subsetOf(all))
    assert(opened.size < all.size,
      s"prune opened all ${all.size} files — no file was skipped")
    // the selected slice holds exactly the keys inside the span — the
    // 110 row may ride along only if it shares a file with 100
    val ks = rel.get.select("k").as[Long].collect().toSet
    assert(ks.contains(10L) && ks.contains(100L) && !ks.contains(1000L) &&
      !ks.contains(1010L), s"unexpected slice: $ks")
    // a span inside a gap between file ranges proves no collision
    val gap = slice("pk_prune_t", Seq(500L).toDF("k"))
    assert(gap.isDefined && gap.get.inputFiles.isEmpty)
  }

  test("a span overlapping no file proves no collision without any read") {
    import spark.implicits._
    freshTable("pk_prune_t2")
    val rel = slice("pk_prune_t2", Seq(50000L).toDF("k"))
    assert(rel.isDefined)
    assert(rel.get.inputFiles.isEmpty, "no file overlaps [50000,50000]")
    assert(rel.get.count() == 0)
    // empty batch: nothing can collide
    val relEmpty = slice("pk_prune_t2", Seq.empty[Long].toDF("k"))
    assert(relEmpty.isDefined && relEmpty.get.count() == 0)
  }

  test("non-INT64 head key falls back to the full scan (None)") {
    spark.sql("DROP TABLE IF EXISTS pk_prune_s")
    spark.sql("CREATE TABLE pk_prune_s (k STRING, v STRING) USING parquet")
    spark.sql("INSERT INTO pk_prune_s VALUES ('x', 'a')")
    assert(Engine.pkLayout(spark, "pk_prune_s", Seq("k")).isEmpty)
  }

  test("pruned check still refuses a genuine collision end-to-end") {
    import spark.implicits._
    freshTable("pk_prune_t3")
    val e = intercept[IllegalArgumentException] {
      Engine.requireSoundAbsentKeys(spark, "pk_prune_t3",
        Seq((110L, "dup")).toDF("k", "v"), Seq("k"), "INSERT INTO pk_prune_t3")
    }
    assert(e.getMessage.contains("duplicate key"))
    // and a non-colliding batch sails through the pruned path
    Engine.requireSoundAbsentKeys(spark, "pk_prune_t3",
      Seq((111L, "new")).toDF("k", "v"), Seq("k"), "INSERT INTO pk_prune_t3")
  }
}
