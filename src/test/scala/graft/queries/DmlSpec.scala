package graft.queries

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.{Dml, Engine, Scale}

/** Mechanism certification for the copy-on-write DML rewriter (VERDICT
  * r14 #1): the hash-backed `c_dml_rewrite`/`c_dml_merge` queries prove
  * the post-DML DATA matches real DML semantics; this spec proves the
  * COPY-ON-WRITE claim itself — the prune selects a strict subset of
  * files, and every file outside the mutation's key range survives the
  * operation BYTE-identical (never rewritten, not even value-identically
  * re-encoded). Together: DML is correct and actually pruned.
  */
class DmlSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def md5(f: Path): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(Files.readAllBytes(f)).map("%02x".format(_)).mkString

  private def fileHashes(path: String): Map[String, String] = {
    val st = Files.list(Paths.get(path))
    try st.iterator().asScala
      .filter(p => p.getFileName.toString.endsWith(".parquet") &&
        !p.getFileName.toString.startsWith("."))
      .map(p => p.getFileName.toString -> md5(p)).toMap
    finally st.close()
  }

  private def freshLayout(tag: String): String = {
    val path = Layout.tmpRoot(tag, dir) + s"_${System.nanoTime()}"
    Scale.writeSorted(
      Tables.t(spark, dir, "orders").select(col("o_orderkey"),
        col("o_orderdate"), col("o_orderstatus"), col("o_totalprice")),
      path, "o_orderdate", 8)
    path
  }

  private def orig: DataFrame =
    Tables.t(spark, dir, "orders").select(col("o_orderkey"),
      col("o_orderdate"), col("o_orderstatus"), col("o_totalprice"))

  /** Exact set equality (bag semantics) between the mutated layout and
    * the transform applied to the pristine table in memory. */
  private def assertSameRows(path: String, expect: DataFrame): Unit = {
    val got = spark.read.parquet(path)
    assert(got.exceptAll(expect).count() == 0 &&
      expect.exceptAll(got).count() == 0,
      "mutated layout must equal the transform of the original table")
  }

  test("DELETE: prunes to overlapping files; untouched files byte-identical") {
    val path = freshLayout("dmlspec_del")
    val before = fileHashes(path)
    val pred = col("o_orderdate") >= Tables.ts("1996-01-01") &&
      col("o_orderdate") < Tables.ts("1996-04-01")
    val stats = Dml.deleteWhere(spark, path, "o_orderdate",
      Dml.dayMicros("1996-01-01"), Dml.dayMicros("1996-04-01"), pred)

    // the prune must have selected SOME files but strictly fewer than all
    // — a quarter-wide predicate on a 6.6-year-span date-sorted layout
    assert(stats.nFiles == 8, s"expected 8 data files, got ${stats.nFiles}")
    assert(stats.nRewritten >= 1 && stats.nRewritten < stats.nFiles,
      s"prune must be partial: rewrote ${stats.nRewritten}/${stats.nFiles}")

    val after = fileHashes(path)
    // untouched originals survive byte-identical; rewritten ones are gone
    val kept = before.keySet.intersect(after.keySet)
    assert(kept.size == stats.nFiles - stats.nRewritten,
      s"kept ${kept.size} of ${before.size}, rewrote ${stats.nRewritten}")
    kept.foreach { name =>
      assert(before(name) == after(name),
        s"untouched file $name changed bytes — copy-on-write violated")
    }
    assertSameRows(path, orig.filter(!pred))
  }

  test("UPDATE: conditional assignment within pruned files only") {
    val path = freshLayout("dmlspec_upd")
    val before = fileHashes(path)
    val pred = col("o_orderdate") >= Tables.ts("1997-06-01") &&
      col("o_orderdate") < Tables.ts("1997-09-01")
    val stats = Dml.updateWhere(spark, path, "o_orderdate",
      Dml.dayMicros("1997-06-01"), Dml.dayMicros("1997-09-01"), pred,
      Seq("o_totalprice" -> col("o_totalprice") * lit(2)))
    assert(stats.nRewritten >= 1 && stats.nRewritten < stats.nFiles)
    val after = fileHashes(path)
    before.keySet.intersect(after.keySet).foreach { name =>
      assert(before(name) == after(name), s"untouched $name changed")
    }
    assertSameRows(path, orig.withColumn("o_totalprice",
      when(pred, col("o_totalprice") * lit(2)).otherwise(col("o_totalprice"))))
  }

  test("no-overlap predicate is a metadata no-op: zero files rewritten") {
    val path = freshLayout("dmlspec_noop")
    val before = fileHashes(path)
    val stats = Dml.deleteWhere(spark, path, "o_orderdate",
      Dml.dayMicros("2030-01-01"), Dml.dayMicros("2030-04-01"),
      col("o_orderdate") >= Tables.ts("2030-01-01"))
    assert(stats.nRewritten == 0, "future-dated predicate overlaps nothing")
    assert(fileHashes(path) == before, "no-op must not touch any file")
  }

  test("MERGE: matched rows rewritten in pruned files, fresh keys appended") {
    val path = freshLayout("dmlspec_mrg")
    val before = fileHashes(path)
    val win = orig.filter(col("o_orderdate") >= Tables.ts("1998-01-01") &&
      col("o_orderdate") < Tables.ts("1998-02-01"))
    val source = win
      .withColumn("o_orderstatus", lit("M"))
      .withColumn("o_totalprice", col("o_totalprice") * lit(2))
      .unionByName(win.filter(col("o_orderkey") % 3 === 0)
        .select((col("o_orderkey") * -1 - lit(1000000L)).as("o_orderkey"),
          col("o_orderdate"), lit("N").as("o_orderstatus"),
          lit(100.25).as("o_totalprice")))
    val stats = Dml.mergeInto(spark, path, "o_orderdate",
      Dml.dayMicros("1998-01-01"), Dml.dayMicros("1998-02-01"),
      source, Seq("o_orderkey"), Seq("o_orderstatus", "o_totalprice"))
    assert(stats.nRewritten >= 1 && stats.nRewritten < stats.nFiles)
    val after = fileHashes(path)
    before.keySet.intersect(after.keySet).foreach { name =>
      assert(before(name) == after(name), s"untouched $name changed")
    }
    // the NOT-MATCHED branch really appended (fresh negative keys on disk)
    assert(spark.read.parquet(path).filter(col("o_orderkey") < 0).count() > 0,
      "not-matched source keys must be appended")
    val matchPred = col("o_orderdate") >= Tables.ts("1998-01-01") &&
      col("o_orderdate") < Tables.ts("1998-02-01")
    val expect = orig
      .withColumn("o_orderstatus",
        when(matchPred, lit("M")).otherwise(col("o_orderstatus")))
      .withColumn("o_totalprice",
        when(matchPred, col("o_totalprice") * lit(2))
          .otherwise(col("o_totalprice")))
      .unionByName(win.filter(col("o_orderkey") % 3 === 0)
        .select((col("o_orderkey") * -1 - lit(1000000L)).as("o_orderkey"),
          col("o_orderdate"), lit("N").as("o_orderstatus"),
          lit(100.25).as("o_totalprice")))
    assertSameRows(path, expect)
  }

  test("mergeIntoAll key-prunes the MATCHED branch from the source span") {
    // layout clustered by the merge KEY: a narrow-key source must
    // rewrite only the files whose head-key footer range overlaps its
    // span — the statement-routed merge's 100 TB shape (no explicit
    // prune range, yet only a handful of files open)
    val path = Layout.tmpRoot("dmlspec_mrgspan", dir) + s"_${System.nanoTime()}"
    Scale.writeSorted(orig, path, "o_orderkey", 8)
    val before = fileHashes(path)
    val source = orig.filter(col("o_orderkey").between(100, 300))
      .withColumn("o_orderstatus", lit("K"))
    val stats = Dml.mergeIntoAll(spark, path, source,
      Seq("o_orderkey"), Seq("o_orderstatus"))
    assert(stats.nRewritten >= 1 && stats.nRewritten < stats.nFiles,
      s"matched branch must span-prune: ${stats.nRewritten}/${stats.nFiles}")
    val after = fileHashes(path)
    before.keySet.intersect(after.keySet).foreach { name =>
      assert(before(name) == after(name), s"untouched $name changed")
    }
    val expect = orig.withColumn("o_orderstatus",
      when(col("o_orderkey").between(100, 300), lit("K"))
        .otherwise(col("o_orderstatus")))
    assertSameRows(path, expect)
  }

  test("deleteUsingKeys span-prunes and removes exactly the source keys") {
    val path = Layout.tmpRoot("dmlspec_delu", dir) + s"_${System.nanoTime()}"
    Scale.writeSorted(orig, path, "o_orderkey", 8)
    val before = fileHashes(path)
    val total = spark.read.parquet(path).count()
    val source = orig.filter(col("o_orderkey").between(200, 400))
      .select(col("o_orderkey"))
    val nDel = source.count()
    val stats = Dml.deleteUsingKeys(spark, path, source, Seq("o_orderkey"))
    assert(stats.nRewritten >= 1 && stats.nRewritten < stats.nFiles,
      s"join delete must span-prune: ${stats.nRewritten}/${stats.nFiles}")
    val after = fileHashes(path)
    before.keySet.intersect(after.keySet).foreach { name =>
      assert(before(name) == after(name), s"untouched $name changed")
    }
    assert(spark.read.parquet(path).count() == total - nDel)
    assert(spark.read.parquet(path)
      .filter(col("o_orderkey").between(200, 400)).count() == 0)
  }

  test("MERGE refuses a source with duplicate keys (no silent row fan-out)") {
    // SQL MERGE errors on multiple matches; the left-join translation
    // would instead multiply matched target rows — so the precondition
    // is enforced before any file moves
    val path = freshLayout("dmlspec_dup")
    val before = fileHashes(path)
    val dupSource = orig
      .filter(col("o_orderdate") >= Tables.ts("1998-01-01") &&
        col("o_orderdate") < Tables.ts("1998-02-01"))
      .limit(4)
    val doubled = dupSource.unionByName(dupSource) // every key twice
    val e = intercept[IllegalArgumentException] {
      Dml.mergeInto(spark, path, "o_orderdate",
        Dml.dayMicros("1998-01-01"), Dml.dayMicros("1998-02-01"),
        doubled, Seq("o_orderkey"), Seq("o_orderstatus", "o_totalprice"))
    }
    assert(e.getMessage.contains("duplicate keys"), e.getMessage)
    assert(fileHashes(path) == before, "refusal must leave the layout intact")
  }

  test("MERGE insert check reads only files overlapping the source key span") {
    // key-clustered layout: each file carries a tight o_orderkey range,
    // so a narrow source span must select a strict subset of files for
    // the WHEN-NOT-MATCHED existence check (VERDICT r15 #2)
    val path = Layout.tmpRoot("dmlspec_ins", dir) + s"_${System.nanoTime()}"
    Scale.writeSorted(orig, path, "o_orderkey", 8)
    val files = Dml.layoutFiles(path)
    assert(files.size == 8)
    val keys = orig.agg(min(col("o_orderkey")), max(col("o_orderkey")))
      .head()
    val (kLo, kHi) = (keys.getLong(0), keys.getLong(1))
    val mid = kLo + (kHi - kLo) / 2
    // a span covering ~1/8 of the key range: strict subset, never empty
    val narrow = Dml.overlapping(spark, files, "o_orderkey",
      mid, mid + (kHi - kLo) / 8)
    assert(narrow.nonEmpty && narrow.size < files.size,
      s"narrow span selected ${narrow.size}/${files.size} files")
    // a span past the key range proves full disjointness
    assert(Dml.overlapping(spark, files, "o_orderkey",
      kHi + 1000000, kHi + 2000000).isEmpty,
      "out-of-range span must select no files")
    // and the full span selects everything (sanity)
    assert(Dml.overlapping(spark, files, "o_orderkey", kLo, kHi).size == 8)
  }

  test("MERGE: fully-matched source appends no empty part file") {
    val path = freshLayout("dmlspec_noins")
    val nRows = spark.read.parquet(path).count()
    // every source key exists in the target: zero not-matched rows
    val source = orig.limit(20)
      .withColumn("o_orderstatus", lit("Z"))
    Dml.mergeIntoAll(spark, path, source,
      Seq("o_orderkey"), Seq("o_orderstatus"))
    assert(spark.read.parquet(path).count() == nRows,
      "no inserts: total rows unchanged")
    // the empty insert relation must not have landed a 0-row part file
    // (statless files defeat every future footer prune on the layout)
    Dml.layoutFiles(path).foreach { f =>
      assert(spark.read.parquet(f.toString).count() > 0,
        s"empty appended part file: $f")
    }
  }

  test("MERGE: a source reading FROM the target merges against the snapshot") {
    val path = freshLayout("dmlspec_self")
    // legal SQL MERGE: the source is a query over the target itself —
    // double every January price. The merge must evaluate the source
    // against the PRE-merge table even though the matched branch
    // replaces the very files the source reads.
    val source = spark.read.parquet(path)
      .filter(col("o_orderdate") >= Tables.ts("1998-01-01") &&
        col("o_orderdate") < Tables.ts("1998-02-01"))
      .select(col("o_orderkey"), col("o_orderdate"),
        col("o_orderstatus"), (col("o_totalprice") * 2).as("o_totalprice"))
    val expectJan = source.collect().toSet
    Dml.mergeIntoAll(spark, path, source,
      Seq("o_orderkey"), Seq("o_totalprice"))
    val gotJan = spark.read.parquet(path)
      .filter(col("o_orderdate") >= Tables.ts("1998-01-01") &&
        col("o_orderdate") < Tables.ts("1998-02-01")).collect().toSet
    assert(gotJan == expectJan,
      "prices must double exactly once (snapshot source, no re-read of" +
        " post-merge files)")
  }

  test("MERGE resolves key and SET names case-insensitively, like Spark SQL") {
    val path = freshLayout("dmlspec_case")
    val source = orig.limit(10)
      .select(col("o_orderkey").as("O_ORDERKEY"),
        col("o_orderdate"), lit("C").as("O_ORDERSTATUS"),
        col("o_totalprice"))
    val keys = source.select(col("O_ORDERKEY")).collect()
      .map(_.getLong(0)).toSet
    Dml.mergeIntoAll(spark, path, source,
      Seq("o_orderkey"), Seq("o_orderstatus"))
    val updated = spark.read.parquet(path)
      .filter(col("o_orderstatus") === "C").collect()
      .map(_.getLong(0)).toSet
    assert(updated == keys,
      "uppercase source columns must merge onto lowercase target columns")
  }

  /** A catalog table over two part files holding the disjoint key
    * ranges [0, 1000) and [1000, 2000); returns its layout directory. */
  private def twoFileTable(t: String): String = {
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (k BIGINT, v STRING) USING parquet")
    Seq((0L, 1000L), (1000L, 2000L)).foreach { case (lo, hi) =>
      spark.range(lo, hi).select(col("id").as("k"), lit("a").as("v"))
        .coalesce(1).write.mode("append").insertInto(t)
    }
    spark.catalog.refreshTable(t)
    Paths.get(spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(t)).location).toString
  }

  test("a DELETE that empties a file lands no zero-row part in its place") {
    val t = s"dmlspec_empty_p${ProcessHandle.current.pid}"
    try {
      val path = twoFileTable(t)
      assert(Dml.layoutFiles(path).size == 2)
      Engine.sql(spark, s"DELETE FROM $t WHERE k < 1000")
      // a statless zero-row part would be "affected" for every later
      // footer prune; the emptied file must simply be gone
      assert(Dml.layoutFiles(path).size == 1)
      assert(spark.table(t).count() == 1000)
    } finally spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("a full-table DELETE keeps the table readable and writable") {
    val t = s"dmlspec_all_p${ProcessHandle.current.pid}"
    try {
      val path = twoFileTable(t)
      Engine.sql(spark, s"DELETE FROM $t")
      // one zero-row file stays: the schema lives in its footer
      assert(Dml.layoutFiles(path).size == 1)
      assert(Engine.sql(spark, s"SELECT count(*) FROM $t").head().getLong(0)
        == 0L)
      Engine.sql(spark, s"INSERT INTO $t VALUES (5, 'x'), (6, 'y')")
      Engine.sql(spark, s"DELETE FROM $t WHERE k = 5")
      assert(spark.table(t).collect().map(_.getLong(0)).toSeq == Seq(6L))
      Engine.sql(spark, s"DELETE FROM $t WHERE k >= 0")
      assert(spark.table(t).count() == 0 &&
        Dml.layoutFiles(path).size == 1)
    } finally spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("MERGE with string source keys against a BIGINT target prunes numerically") {
    val t = s"dmlspec_strkey_p${ProcessHandle.current.pid}"
    try {
      val path = twoFileTable(t)
      import spark.implicits._
      // lexicographically '1500' < '9': a span folded over the strings
      // would be the empty [1500, 9], pruning every file, so neither key
      // would match and both rows would append as duplicates
      val source = Seq(("9", "x"), ("1500", "y")).toDF("k", "v")
      val stats = Dml.mergeIntoAll(spark, path, source, Seq("k"), Seq("v"))
      assert(stats.nRewritten == 2, s"both key ranges must be rewritten: $stats")
      val got = spark.read.parquet(path).filter(col("v") =!= "a")
        .select(col("k").cast("long"), col("v")).as[(Long, String)]
        .collect().toSet
      assert(got == Set((9L, "x"), (1500L, "y")))
      assert(spark.read.parquet(path).count() == 2000)
      // a fresh string key appends under the layout's BIGINT type
      Dml.mergeIntoAll(spark, path, Seq(("5000", "z")).toDF("k", "v"),
        Seq("k"), Seq("v"))
      Dml.layoutFiles(path).foreach { f =>
        assert(spark.read.parquet(f.toString).schema("k").dataType ==
          org.apache.spark.sql.types.LongType, s"$f")
      }
      assert(spark.read.parquet(path).filter(col("k") === 5000L)
        .collect().map(_.getString(1)).toSeq == Seq("z"))
    } finally spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("MERGE replayed with the same source leaves the rows unchanged") {
    val t = s"dmlspec_replay_p${ProcessHandle.current.pid}"
    try {
      val path = twoFileTable(t)
      import spark.implicits._
      // one matched key and one fresh key: a replay must update the
      // matched row to the same value and find the fresh key present
      val source = Seq((1500L, "m"), (5000L, "n")).toDF("k", "v")
      def rows: Seq[(Long, String)] = spark.read.parquet(path)
        .as[(Long, String)].collect().toSeq.sorted
      Dml.mergeIntoAll(spark, path, source, Seq("k"), Seq("v"))
      val once = rows
      assert(once.size == 2001 && once.contains((1500L, "m")) &&
        once.contains((5000L, "n")))
      Dml.mergeIntoAll(spark, path, source, Seq("k"), Seq("v"))
      assert(rows == once, "a replayed merge must not change the rows")
    } finally spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("routed DELETE and UPDATE read l[1] as DuckDB's first element") {
    val t = s"dmlspec_sub_p${ProcessHandle.current.pid}"
    try {
      Engine.runScript(spark,
        s"""DROP TABLE IF EXISTS $t;
           |CREATE TABLE $t (k BIGINT, l BIGINT[]);
           |INSERT INTO $t VALUES (1, [5, 6]), (2, [6, 5]), (3, [7, 8]);
           |DELETE FROM $t WHERE l[1] = 5;
           |UPDATE $t SET k = l[2] WHERE l[1] = 6""".stripMargin)
      val rows = spark.table(t).collect().map(_.getLong(0)).sorted.toSeq
      assert(rows == Seq(3L, 5L))
    } finally Engine.exec(spark, s"DROP TABLE IF EXISTS $t")
  }

  test("ON CONFLICT on the PRIMARY KEY refuses a NULL key, as DuckDB does") {
    val t = s"dmlspec_pknull_p${ProcessHandle.current.pid}"
    try {
      Engine.runScript(spark,
        s"""DROP TABLE IF EXISTS $t;
           |CREATE TABLE $t (k BIGINT PRIMARY KEY, v STRING);
           |INSERT INTO $t VALUES (1, 'a')""".stripMargin)
      Seq("DO NOTHING", "DO UPDATE SET v = EXCLUDED.v").foreach { action =>
        val e = intercept[IllegalArgumentException](Engine.sql(spark,
          s"INSERT INTO $t VALUES (NULL, 'x') ON CONFLICT (k) $action"))
        assert(e.getMessage.contains("NULL in PRIMARY KEY"), action)
      }
      assert(spark.table(t).count() == 1)
    } finally Engine.exec(spark, s"DROP TABLE IF EXISTS $t")
  }

  /** A routed table of four rows — (k, v, s, b): (1, 7, 'abc', NULL),
    * (6, 3, 'xyz', NULL), (7, 2, 'a', NULL), (4, 5, NULL, NULL) — after
    * `stmt`, as (k, v, s, b) tuples in k order. */
  private def afterStmt(tag: String, stmt: String => String)
      : Seq[(Long, Long, String, Any)] = {
    val t = s"dmlspec_${tag}_p${ProcessHandle.current.pid}"
    try {
      Engine.runScript(spark,
        s"""DROP TABLE IF EXISTS $t;
           |CREATE TABLE $t (k BIGINT, v BIGINT, s STRING, b BOOLEAN);
           |INSERT INTO $t VALUES (1, 7, 'abc', NULL), (6, 3, 'xyz', NULL),
           |  (7, 2, 'a', NULL), (4, 5, NULL, NULL)""".stripMargin)
      Engine.sql(spark, stmt(t))
      spark.table(t).collect().toSeq
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.get(3)))
        .sortBy(_._1)
    } finally Engine.exec(spark, s"DROP TABLE IF EXISTS $t")
  }

  // Expected rows below are DuckDB 1.0.0's for the same statements.

  test("a routed UPDATE refuses ^ as a SELECT does, leaving the table as it was") {
    val select = intercept[IllegalArgumentException](
      Engine.sql(spark, "SELECT 7 ^ 2")).getMessage
    val t = s"dmlspec_caret_p${ProcessHandle.current.pid}"
    try {
      Engine.runScript(spark,
        s"""DROP TABLE IF EXISTS $t;
           |CREATE TABLE $t (k BIGINT, v BIGINT);
           |INSERT INTO $t VALUES (1, 7)""".stripMargin)
      val e = intercept[IllegalArgumentException](
        Engine.sql(spark, s"UPDATE $t SET v = v ^ 2"))
      assert(e.getMessage == select)
      assert(spark.table(t).collect().map(_.getLong(1)).toSeq == Seq(7L))
    } finally Engine.exec(spark, s"DROP TABLE IF EXISTS $t")
  }

  test("a routed DELETE reads // as DuckDB's integer division") {
    assert(afterStmt("intdiv", t => s"DELETE FROM $t WHERE k // 2 = 3")
      .map(_._1) == Seq(1L, 4L))
  }

  test("a routed DELETE reads ~ as DuckDB's full regex match") {
    assert(afterStmt("tilde", t => s"DELETE FROM $t WHERE s ~ 'a.*'")
      .map(_._1) == Seq(4L, 6L))
  }

  test("a routed UPDATE reads DuckDB's BOOL type name in a CAST") {
    assert(afterStmt("bool", t => s"UPDATE $t SET b = CAST(k % 2 AS BOOL)")
      .map(r => (r._1, r._4)) ==
      Seq((1L, true), (4L, false), (6L, false), (7L, true)))
  }

  test("a routed DELETE reads a quoted parquet path in a WHERE subquery") {
    import spark.implicits._
    val fx = s"target/dmlspec/keys_p${ProcessHandle.current.pid}.parquet"
    Seq(1L, 6L).toDF("k").coalesce(1).write.mode("overwrite").parquet(fx)
    assert(afterStmt("path",
      t => s"DELETE FROM $t WHERE k IN (SELECT k FROM '$fx')")
      .map(_._1) == Seq(4L, 7L))
  }

  test("INSERT's column list is read by the lexer: a quoted `a)` is one name") {
    val t = s"dmlspec_paren_p${ProcessHandle.current.pid}"
    try {
      Engine.runScript(spark,
        s"""DROP TABLE IF EXISTS $t;
           |CREATE TABLE $t (`a)` INT, b INT)""".stripMargin)
      val ret = Engine.sql(spark,
        s"INSERT INTO $t (`a)`, b) VALUES (1, 2) RETURNING *")
      assert(ret.collect().map(r => (r.getInt(0), r.getInt(1))).toSeq ==
        Seq((1, 2)))
      assert(spark.table(t).collect().map(r => (r.getInt(0), r.getInt(1)))
        .toSeq == Seq((1, 2)))
    } finally Engine.exec(spark, s"DROP TABLE IF EXISTS $t")
  }

  test("quoted and database-qualified DML targets route, PRIMARY KEY included") {
    val t = s"dmlspec_quoted_p${ProcessHandle.current.pid}"
    try {
      Engine.runScript(spark,
        s"""DROP TABLE IF EXISTS $t;
           |CREATE TABLE $t (k BIGINT PRIMARY KEY, v BIGINT);
           |INSERT INTO $t VALUES (1, 10), (2, 20), (3, 30), (4, 40), (5, 50);
           |CREATE OR REPLACE TEMP VIEW ${t}_src AS
           |  SELECT * FROM VALUES (4L, 44L), (9L, 90L) s(k, v)""".stripMargin)
      Engine.sql(spark, s"DELETE FROM `$t` WHERE k = 1")
      Engine.sql(spark, s"DELETE FROM default.$t WHERE k = 2")
      Engine.sql(spark, s"UPDATE `$t` SET v = 0 WHERE k = 3")
      // the quoted spelling meets the table's registered PRIMARY KEY
      val e = intercept[IllegalArgumentException](
        Engine.sql(spark, s"UPDATE `$t` SET k = 4 WHERE k = 5"))
      assert(e.getMessage.contains("PRIMARY KEY"), e.getMessage)
      Engine.sql(spark,
        s"MERGE INTO default.$t USING ${t}_src ON $t.k = ${t}_src.k" +
          s" WHEN MATCHED THEN UPDATE SET v = ${t}_src.v" +
          " WHEN NOT MATCHED THEN INSERT *")
      val rows = spark.table(t).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(rows == Seq((3L, 0L), (4L, 44L), (5L, 50L), (9L, 90L)))
    } finally Engine.exec(spark, s"DROP TABLE IF EXISTS $t")
  }
}
