package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the declared-query inventory (SURVEY.md §2): one named
  * deterministic query per implemented operator, each with a DuckDB-dialect
  * `oracleSql` twin that the driver hash-compares at sf0.01.
  */
object SparkEntry {

  /** Flagship query (template 1 analog, `/root/reference/src/App.tsx:154-164`)
    * on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Tables.q(Templates.t1AccountSummarySql)(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Templates.queries ++ Probes.queries ++ TierC.queries ++
      TierCSql.queries ++ Dedup.queries ++ Similarity.queries ++
      TextOps.queries ++ Media.queries ++ Layout.queries ++
      Curation.queries ++ Bpe.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    Templates.oracle ++ Probes.oracle ++ TierC.oracle ++
      TierCSql.oracle ++ Dedup.oracle ++ Similarity.oracle ++
      TextOps.oracle ++ Media.oracle ++ Layout.oracle ++
      Curation.oracle ++ Bpe.oracle
}
