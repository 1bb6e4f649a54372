package graft.engine

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions.{col, lit}

/** Spark jobs per routed DML shape. Each route runs its copy-on-write
  * steps (source-key check, footer prune, rewrite, landing) as a fixed
  * sequence of driver-blocking jobs; at script granularity each job's
  * fixed cost dominates a small statement, so a refactor of those steps
  * must not add one. The bounds are the counts measured before the
  * steps were folded onto one implementation each (local[2], a
  * two-file BIGINT-keyed table). */
class DmlJobsSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.spark

  /** A catalog table `name` over two part files holding the disjoint key
    * ranges [0, 1000) and [1000, 2000); `pk` registers k as its PRIMARY
    * KEY through the routed CREATE TABLE. */
  private def twoFileTable(name: String, pk: Boolean = false): Unit = {
    Engine.exec(spark, s"DROP TABLE IF EXISTS $name")
    Engine.exec(spark,
      s"CREATE TABLE $name (k BIGINT${if (pk) " PRIMARY KEY" else ""}," +
        " v VARCHAR)")
    Seq((0L, 1000L), (1000L, 2000L)).foreach { case (lo, hi) =>
      spark.range(lo, hi).select(col("id").as("k"), lit("a").as("v"))
        .coalesce(1).write.mode("append").insertInto(name)
    }
    spark.catalog.refreshTable(name)
  }

  /** The key source the join-shaped routes read: one key inside the
    * second file, one fresh. */
  private def source(name: String): Unit =
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW $name AS" +
      " SELECT * FROM VALUES (1500L, 'x'), (5000L, 'y') AS s(k, v)")

  private def jobs(stmt: String): Int =
    graft.TestSpark.jobsFiredBy(Engine.sql(spark, stmt))

  private val shapes: Seq[(String, Int, Boolean, String => String)] = Seq(
    ("pruned DELETE", 1, false,
      t => s"DELETE FROM $t WHERE k >= 1500 AND k < 1510"),
    ("pruned UPDATE", 1, false,
      t => s"UPDATE $t SET v = 'u' WHERE k >= 1500 AND k < 1510"),
    ("ON CONFLICT DO UPDATE", 7, false,
      t => s"INSERT INTO $t VALUES (1500, 'x'), (5000, 'y')" +
        " ON CONFLICT (k) DO UPDATE SET v = EXCLUDED.v"),
    ("ON CONFLICT DO NOTHING", 5, false,
      t => s"INSERT INTO $t VALUES (1500, 'x'), (5000, 'y')" +
        " ON CONFLICT (k) DO NOTHING"),
    ("MERGE", 7, false,
      t => s"MERGE INTO $t USING dml_jobs_src ON $t.k = dml_jobs_src.k" +
        " WHEN MATCHED THEN UPDATE SET v = dml_jobs_src.v" +
        " WHEN NOT MATCHED THEN INSERT *"),
    ("UPDATE FROM", 5, false,
      t => s"UPDATE $t SET v = dml_jobs_src.v FROM dml_jobs_src" +
        s" WHERE $t.k = dml_jobs_src.k"),
    ("DELETE USING", 5, false,
      t => s"DELETE FROM $t USING dml_jobs_src WHERE $t.k = dml_jobs_src.k"),
    ("PK INSERT", 5, true,
      t => s"INSERT INTO $t VALUES (5000, 'y')"),
    ("INSERT OR REPLACE", 7, true,
      t => s"INSERT OR REPLACE INTO $t VALUES (1500, 'x'), (5000, 'y')"),
    ("INSERT OR IGNORE", 5, true,
      t => s"INSERT OR IGNORE INTO $t VALUES (1500, 'x'), (5000, 'y')"),
    ("key-assigning UPDATE", 4, true,
      t => s"UPDATE $t SET k = 6000 WHERE k = 1500"))

  shapes.foreach { case (shape, bound, pk, stmt) =>
    test(s"$shape fires at most $bound jobs") {
      val t = "dml_jobs_t"
      twoFileTable(t, pk)
      source("dml_jobs_src")
      val n = jobs(stmt(t))
      assert(n <= bound, s"$shape fired $n jobs (bound $bound)")
    }
  }
}
