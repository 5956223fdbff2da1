package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.spark.SparkException
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.errors.{QueryCompilationErrors, QueryExecutionErrors}
import org.apache.spark.sql.internal.SessionStateHelper
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** Parquet data-schema inference on the driver, without a Spark job.
  *
  * `spark.read.parquet(path)` infers the schema through
  * `ParquetFileFormat.mergeSchemasInParallel`, which ships a footer
  * reader to a one-task job even when it reads a single footer. This
  * object runs that same reader (`readParquetFootersInParallel` +
  * `readSchemaFromFooter`, converter flags from the session conf at
  * call time) on the driver, over the files `ParquetUtils.inferSchema`
  * would pick:
  *
  *   - by default one footer: a root `_common_metadata`, else a root
  *     `_metadata`, else the first data file in path order (a file
  *     path is its own data file; a directory is walked down through
  *     its partition directories only as far as that first file);
  *   - with `spark.sql.parquet.mergeSchema=true`, every data file
  *     (none when `spark.sql.parquet.respectSummaryFiles` is set), then
  *     every `_metadata`, then every `_common_metadata`, merged in that
  *     order as Spark merges them.
  *
  * Hidden names are skipped with Spark's own listing filter, and a
  * directory's subdirectories are walked only when they are partition
  * directories (`k=v`), as `InMemoryFileIndex` does. Summary files are
  * looked for at the root only, where Parquet's committer writes them.
  * The path is a literal path, not a glob. Errors are Spark's own:
  * `PATH_NOT_FOUND` for a missing path, `UNABLE_TO_INFER_SCHEMA` when
  * there is no footer to read, `CANNOT_MERGE_SCHEMAS` on a conflict.
  *
  * Lives in Spark's package because the footer reader is
  * `private[parquet]`.
  */
object DriverFooterSchema {

  def infer(spark: SparkSession, path: String): StructType = {
    val conf = SessionStateHelper.getSqlConf(spark)
    val hadoopConf = SessionStateHelper.getHadoopConf(spark, Map.empty[String, String])
    val raw = new Path(path)
    val fs = raw.getFileSystem(hadoopConf)
    val root = fs.makeQualified(raw)
    if (!fs.exists(root)) throw QueryCompilationErrors.dataPathNotExistError(root.toString)

    val top = listed(fs, root)
      .filter(s => !s.isDirectory || s.getPath.getName.contains("="))
    def summary(name: String) =
      top.find(s => !s.isDirectory && s.getPath.getName == name)
    val touch: Seq[FileStatus] =
      if (conf.isParquetSchemaMergingEnabled) {
        val (summaries, data) = leaves(fs, top).toSeq.partition(isSummary)
        (if (conf.isParquetSchemaRespectSummaries) Nil else data) ++
          summaries.filter(_.getPath.getName == ParquetFileWriter.PARQUET_METADATA_FILE) ++
          summaries.filter(_.getPath.getName == ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)
      } else {
        summary(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)
          .orElse(summary(ParquetFileWriter.PARQUET_METADATA_FILE))
          .orElse(leaves(fs, top).find(s => !isSummary(s)))
          .toSeq
      }

    val converter = new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = conf.isParquetBinaryAsString,
      assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
      inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
      nanosAsLong = conf.legacyParquetNanosAsLong,
      respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation)
    val schemas = ParquetFileFormat
      .readParquetFootersInParallel(hadoopConf, touch, conf.ignoreCorruptFiles)
      .map(ParquetFileFormat.readSchemaFromFooter(_, converter))
    if (schemas.isEmpty) throw QueryCompilationErrors.dataSchemaNotSpecifiedError("Parquet")
    schemas.reduceLeft { (merged, next) =>
      try merged.merge(next, conf.caseSensitiveAnalysis)
      catch {
        case e: SparkException =>
          throw QueryExecutionErrors.failedMergingSchemaError(merged, next, e)
      }
    }
  }

  private def isSummary(s: FileStatus): Boolean = {
    val name = s.getPath.getName
    name == ParquetFileWriter.PARQUET_METADATA_FILE ||
      name == ParquetFileWriter.PARQUET_COMMON_METADATA_FILE
  }

  /** The visible entries of `p` (`p` itself when it is a file), sorted
    * so that a depth-first walk yields leaves in full-path order. */
  private def listed(fs: FileSystem, p: Path): Seq[FileStatus] =
    fs.listStatus(p).toSeq
      .filterNot(s => HadoopFSUtils.shouldFilterOutPathName(s.getPath.getName))
      .sortBy(s => if (s.isDirectory) s.getPath.getName + "/" else s.getPath.getName)

  /** Leaves under `entries` in path order, listed lazily: finding the
    * first one lists one directory per level. */
  private def leaves(fs: FileSystem, entries: Seq[FileStatus]): Iterator[FileStatus] =
    entries.iterator.flatMap { s =>
      if (s.isDirectory) leaves(fs, listed(fs, s.getPath)) else Iterator.single(s)
    }
}
