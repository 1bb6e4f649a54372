package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Physical layouts that need explicit opt-in: bucketing for co-located
  * joins, and partitioning, range-sorting and Z-ordering for file and
  * row-group skipping. (Pushdown, AQE partition coalescing and skew-join
  * splitting are already on by default in `Session`; these are the layout
  * decisions Spark cannot make for you.)
  */
object Scale {

  /** Persist a DataFrame as a parquet table bucketed (and sorted) by the
    * join key. Two tables bucketed by the same key into the same bucket
    * count join with NO shuffle exchange on either side — at 100 TB this
    * converts every fact⋈fact join on the bucket key from a full-data
    * shuffle into local merges (asserted shuffle-free in ScaleSpec). */
  def writeBucketed(
      df: DataFrame, table: String, key: String, buckets: Int): Unit =
    df.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, key).sortBy(key)
      .saveAsTable(table)

  /** Persist a DataFrame as parquet PARTITIONED by a column: each distinct
    * value becomes a directory, and a reader filtering on that column
    * touches only its directories (partition pruning — the file-layout
    * twin of row-group skipping, and the single highest-leverage layout
    * decision for a 100 TB fact table queried by date/category). Use for
    * low-cardinality keys; high-cardinality keys belong in bucketing. */
  def writePartitioned(
      df: DataFrame, path: String, partitionCol: String): Unit =
    df.write.mode("overwrite").partitionBy(partitionCol).parquet(path)

  /** Persist parquet range-sorted by a column: `repartitionByRange` gives
    * each output file a disjoint key range and `sortWithinPartitions`
    * orders rows inside, so every row group's min/max stats are TIGHT and
    * a filter on the sort key skips whole files and row groups (the
    * stats-tightening layout for high-cardinality range-filter keys —
    * completes the triad with `writePartitioned` for low-cardinality
    * equality keys and `writeBucketed` for join keys). */
  def writeSorted(
      df: DataFrame, path: String, sortCol: String, files: Int): Unit =
    df.repartitionByRange(files, col(sortCol))
      .sortWithinPartitions(sortCol)
      .write.mode("overwrite").parquet(path)

  /** Morton (Z-order) interleave of two non-negative keys into one 64-bit
    * value: bit i of `a` lands at bit 2i, bit i of `b` at bit 2i+1, so
    * sorting by the result orders rows along the Z space-filling curve and
    * rows close in EITHER key stay close on disk. The classic
    * parallel-prefix spread (O(log w) shifts/masks per key, pure codegen
    * arithmetic — no UDF). Callers should first scale both keys to the
    * SAME bit width (an unbalanced interleave degenerates to a
    * lexicographic sort on the wider key); the low 31 BITS of each key are
    * used — not 32, because bit 31 of `b` would land at bit 63 (the Long
    * sign bit) and every downstream consumer sorts the z-code with
    * SIGNED comparison (writeZOrdered's repartitionByRange), which would
    * order the upper half of the key space BEFORE the lower and break the
    * Z-curve's locality contract (ADVICE r12). Keys wider than 31 bits
    * are masked, folding distant keys together rather than inverting
    * their order. */
  def mortonInterleave(a: Column, b: Column): Column = {
    def spread(c: Column): Column = {
      var x = c.bitwiseAND(lit(0x7FFFFFFFL))
      x = x.bitwiseOR(shiftleft(x, 16)).bitwiseAND(lit(0x0000FFFF0000FFFFL))
      x = x.bitwiseOR(shiftleft(x, 8)).bitwiseAND(lit(0x00FF00FF00FF00FFL))
      x = x.bitwiseOR(shiftleft(x, 4)).bitwiseAND(lit(0x0F0F0F0F0F0F0F0FL))
      x = x.bitwiseOR(shiftleft(x, 2)).bitwiseAND(lit(0x3333333333333333L))
      x.bitwiseOR(shiftleft(x, 1)).bitwiseAND(lit(0x5555555555555555L))
    }
    spread(a).bitwiseOR(shiftleft(spread(b), 1))
  }

  /** Persist parquet Z-ORDERED by two columns: range-partition and sort by
    * the Morton interleave, then drop it — each file (and row group) gets
    * a contiguous Z range, i.e. a small RECTANGLE of the 2-D key space, so
    * min/max footer stats are tight on BOTH columns and a filter on either
    * key (or a 2-D box) skips most row groups. This is what a single-key
    * sort cannot give: sorted-by-A tightens only A's stats — a B-only
    * filter scans everything (LayoutSpec proves the contrast by footer).
    * `a`/`b` must already be scaled to a common bit width. */
  def writeZOrdered(
      df: DataFrame, path: String, a: Column, b: Column, files: Int): Unit =
    df.withColumn("_z", mortonInterleave(a, b))
      .repartitionByRange(files, col("_z"))
      .sortWithinPartitions("_z")
      .drop("_z")
      .write.mode("overwrite").parquet(path)
}
