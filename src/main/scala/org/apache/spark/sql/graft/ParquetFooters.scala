package org.apache.spark.sql.graft

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile

import org.apache.spark.deploy.SparkHadoopUtil
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{
  ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.{HadoopFSUtils, ThreadUtils}

/** Parquet schemas from footers read on the driver. `spark.read.parquet`
  * infers its schema with a Spark job (`mergeSchemasInParallel`), even
  * for one file; a read handed the footer schema with `.schema(s)` plans
  * the same relation and runs no job until it is queried.
  *
  * The schema is used only when it is exactly what inference would
  * give: every footer of the path set converts to the same `StructType`.
  * Spark's inference reads one of those footers, or merges all of them,
  * and both give that schema. Anything else (schemas that differ, a
  * subdirectory or hive partition, a summary file, a missing path, a
  * footer that does not read) leaves the reader to infer as before, so
  * Spark's merge, partition discovery, errors and `ignoreCorruptFiles`
  * handling apply unchanged. Lives in an `org.apache.spark.sql`
  * subpackage for Spark's footer reader and schema converter, like
  * `FirstPage`. */
object ParquetFooters {

  /** One file's footer, opened with `conf`: the session's
    * `newHadoopConf()`, what Spark opens the files with. Without
    * `rowGroups` the row-group metadata (statistics, row counts) is
    * skipped; a schema does not need it. */
  def footer(conf: Configuration, file: Path, rowGroups: Boolean): ParquetMetadata =
    ParquetFooterReader.readFooter(HadoopInputFile.fromPath(file, conf),
      if (rowGroups) ParquetMetadataConverter.NO_FILTER
      else ParquetMetadataConverter.SKIP_ROW_GROUPS)

  /** `spark.read.options(options).parquet(paths: _*)`, handed the footer
    * schema when there is one. A `basePath` turns on partition discovery,
    * which the footers cannot see, so such a read infers as before. */
  def read(spark: SparkSession, paths: Seq[String],
      options: Map[String, String] = Map.empty): DataFrame = {
    val reader = spark.read.options(options)
    val known =
      if (options.keys.exists(_.equalsIgnoreCase("basePath"))) None
      else schema(spark, paths)
    known.fold(reader)(s => reader.schema(s)).parquet(paths: _*)
  }

  /** The schema `spark.read.parquet(paths: _*)` infers, from the footers,
    * or None when the footers alone cannot say (see the object doc). */
  def schema(spark: SparkSession, paths: Seq[String]): Option[StructType] =
    try {
      val conf = spark.sessionState.newHadoopConf()
      dataFiles(conf, paths).filter(_.nonEmpty).flatMap { files =>
        val footers = ThreadUtils.parmap(files, "parquet-footers",
          math.min(files.size, 8)) { f =>
          new Footer(f, footer(conf, f, rowGroups = false))
        }
        // the converter `mergeSchemasInParallel` builds: these five
        // settings, the constructor's defaults for the rest
        val c = spark.sessionState.conf
        val converter = new ParquetToSparkSchemaConverter(
          assumeBinaryIsString = c.isParquetBinaryAsString,
          assumeInt96IsTimestamp = c.isParquetINT96AsTimestamp,
          inferTimestampNTZ = c.parquetInferTimestampNTZEnabled,
          nanosAsLong = c.legacyParquetNanosAsLong,
          respectUnknownTypeAnnotation =
            c.parquetReaderRespectUnknownTypeAnnotation)
        val schemas = footers.map(ParquetFileFormat.readSchemaFromFooter(_, converter))
        Some(schemas.head).filter(h => schemas.forall(_ == h))
      }
    } catch { case NonFatal(_) => None }

  /** The data files Spark would list for `paths`: globs expanded, plain
    * directories listed one level deep, names Spark skips (`_*`, `.*`)
    * left out. None when the set holds anything the footers cannot
    * stand for: a subdirectory (partitions), a summary or streaming
    * metadata file, a skipped name given as a root, a glob matching
    * nothing. A missing path throws (the caller's None). */
  private def dataFiles(conf: Configuration, paths: Seq[String]): Option[Seq[Path]] = {
    val matched: Seq[Seq[FileStatus]] = paths.map { raw =>
      val p = new Path(raw)
      val fs = p.getFileSystem(conf)
      if (SparkHadoopUtil.get.isGlobPath(p))
        Option(fs.globStatus(p)).map(_.toSeq).getOrElse(Seq.empty)
      else Seq(fs.getFileStatus(p))
    }
    val roots = matched.flatten
    def skipped(st: FileStatus) = HadoopFSUtils.shouldFilterOutPathName(st.getPath.getName)
    def plainFile(st: FileStatus) = st.isFile && !st.getPath.getName.startsWith("_")
    // a streaming sink's `_spark_metadata` log stays in: Spark reads the
    // files that log names, not the listing
    val files = roots.flatMap { r =>
      if (!r.isDirectory) Seq(r)
      else r.getPath.getFileSystem(conf).listStatus(r.getPath).toSeq
        .filter(k => k.getPath.getName == "_spark_metadata" || !skipped(k))
    }
    if (matched.exists(_.isEmpty) || roots.exists(skipped) ||
        !files.forall(plainFile)) None
    else Some(files.map(_.getPath))
  }
}
