package graft.engine

import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row}
import org.apache.spark.sql.graft.EachPartition

/** CSV export — A15 (RFC-4180 escaper) and A16 (streaming export);
  * reference `/root/reference/src/arrow.ts:17-26,47-88`,
  * `src/App.tsx:504-531`.
  *
  * Two paths, mirroring the reference's split:
  *  - `toCsvParts`: the whole result as CSV text on the driver, in the
  *    reference's ~1e6-char flush parts, every cell through the A14
  *    formatter. The statement runs as one job and the executors render
  *    the lines; the driver only cuts them into parts. For interactive
  *    export of a result a human will open: the result must fit in the
  *    driver's memory and under `spark.driver.maxResultSize`.
  *  - `writeCsv`: the at-scale path — a fully distributed
  *    `df.write.csv(header=true)`, which is RFC-4180 and never funnels the
  *    dataset through the driver. A 100 TB export must use this one.
  */
object Export {

  /** A15: quote iff the cell contains `"`, `,`, `\n` or `\r`; double
    * internal quotes (`src/arrow.ts:17-22`). */
  def csvEscape(value: String): String =
    if (value.exists(c => c == '"' || c == ',' || c == '\n' || c == '\r'))
      "\"" + value.replace("\"", "\"\"") + "\""
    else value

  /** A15: one CRLF-terminated CSV line (`src/arrow.ts:24-26`). */
  def csvLine(cells: Seq[String]): String =
    cells.map(csvEscape).mkString(",") + "\r\n"

  final case class CsvExport(parts: Seq[String], rows: Long, columns: Int)

  /** The reference's flush-chunk size (`src/arrow.ts:53`). */
  val FlushChars = 1000000

  /** A16: the whole result as CSV text — header from the schema, cells
    * through the A14 formatter, cut into parts of ~`flushChars` chars (a
    * part closes at the first line end at or past `flushChars`).
    *
    * The statement runs ONCE, as one job (`EachPartition`): each task
    * renders its own rows to CSV lines, so the cell formatting runs on
    * the executors, and returns the lines as one string plus their end
    * offsets. The driver walks the partitions in order and cuts the
    * parts. The whole CSV therefore lives on the driver, as the parts,
    * and the tasks' results pass through it once more on the way in: a
    * result over `spark.driver.maxResultSize` fails with Spark's own
    * error. Results that size go through `writeCsv`. */
  def toCsvParts(
      df: DataFrame, header: Boolean = true,
      flushChars: Int = FlushChars): CsvExport = {
    val columns = df.columns
    val partitions = EachPartition(df, "toCsvParts") { rows =>
      val text = new StringBuilder
      val ends = Array.newBuilder[Int]
      rows.foreach { row =>
        text.append(csvLine(row.toSeq.map(Render.formatCell)))
        ends += text.length
      }
      (text.result(), ends.result())
    }
    val parts = Seq.newBuilder[String]
    val buffer = new StringBuilder
    var rows = 0L
    if (header) buffer.append(csvLine(columns.toSeq))
    for ((text, ends) <- partitions) {
      var from = 0
      for (end <- ends) {
        buffer.underlying.append(text, from, end)
        from = end
        rows += 1
        if (buffer.length >= flushChars) {
          parts += buffer.result()
          buffer.clear()
        }
      }
    }
    if (buffer.nonEmpty) parts += buffer.result()
    CsvExport(parts.result(), rows, columns.length)
  }

  /** The distributed export: executors write in parallel, header per part
    * file, RFC-4180 quoting — the only correct shape at 100 TB.
    * escape="\"" because Spark's writer defaults to BACKSLASH escapes,
    * which is not RFC-4180 (`"say \"hi\""` instead of `"say ""hi"""`) —
    * caught by the ExportSpec round-trip. */
  def writeCsv(df: DataFrame, path: String): Unit =
    write(df)(_.option("header", "true").option("escape", "\"").csv(path))

  /** Distributed NDJSON export (the `COPY TO (FORMAT json)` analog of the
    * delegated writer surface) — one JSON object per line, readable back by
    * `Catalog`'s `.ndjson` route. */
  def writeJson(df: DataFrame, path: String): Unit = write(df)(_.json(path))

  /** Distributed parquet export (`COPY TO (FORMAT parquet)` analog) —
    * self-describing schema, the right interchange format at scale. */
  def writeParquet(df: DataFrame, path: String): Unit =
    write(df)(_.parquet(path))

  /** Distributed ORC export (beyond-reference: Spark-native columnar
    * alternative, readable back through `Catalog`'s `.orc` route). */
  def writeOrc(df: DataFrame, path: String): Unit = write(df)(_.orc(path))

  /** Every distributed writer runs here: overwrite mode, under the local
    * task loader (`TaskLoader`), so the driver and the tasks compile each
    * class once. */
  private def write(df: DataFrame)(format: DataFrameWriter[Row] => Unit): Unit =
    TaskLoader.within(df.sparkSession)(format(df.write.mode("overwrite")))
}
