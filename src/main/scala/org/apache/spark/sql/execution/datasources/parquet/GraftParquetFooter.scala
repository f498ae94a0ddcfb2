package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.errors.QueryCompilationErrors
import org.apache.spark.sql.execution.datasources.{DataSource, InMemoryFileIndex}
import org.apache.spark.sql.types.StructType

/** Bridge to the Spark-private pieces of parquet schema inference
  * (`ParquetUtils.inferSchema` with `mergeSchema` off), run on the
  * driver instead of inside `SchemaMergeUtils.mergeSchemasInParallel`'s
  * one-task Spark job. Every step is Spark's own: the path check and
  * glob (`DataSource.checkAndGlobPathIfNecessary`, which raises
  * `[PATH_NOT_FOUND]`), the leaf listing with hidden files skipped
  * (`InMemoryFileIndex`), the footer read and the footer → StructType
  * conversion with the same five SQLConf flags. Lives under Spark's
  * parquet package solely to reach those `private[sql]` members;
  * contains no Spark code.
  */
object GraftParquetFooter {

  /** The schema Spark's own parquet read of `path` would infer, or
    * None when `spark.sql.parquet.mergeSchema` is on (a merge over
    * every footer is left to Spark). Raises `[UNABLE_TO_INFER_SCHEMA]` when there is
    * no footer to read (an empty directory, or only `_SUCCESS`). */
  def schema(spark: SparkSession, path: String): Option[StructType] = {
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val conf = session.sessionState.conf
    if (conf.isParquetSchemaMergingEnabled) return None
    val hadoopConf = session.sessionState.newHadoopConf()
    val roots = DataSource.checkAndGlobPathIfNecessary(Seq(path), hadoopConf,
      checkEmptyGlobPath = true, checkFilesExist = true, enableGlobbing = true)
    // ParquetUtils.splitFiles + the no-merge pick: _common_metadata,
    // then _metadata, then the first data file in path order
    val files = new InMemoryFileIndex(session, roots, Map.empty, None)
      .allFiles().sortBy(_.getPath.toString)
    def named(name: String): Option[FileStatus] =
      files.find(_.getPath.getName == name)
    val summaries = Set(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE,
      ParquetFileWriter.PARQUET_METADATA_FILE)
    val toTouch = named(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)
      .orElse(named(ParquetFileWriter.PARQUET_METADATA_FILE))
      .orElse(files.find(f => !summaries.contains(f.getPath.getName)))
    // ParquetFileFormat.mergeSchemasInParallel's converter, same flags
    val converter = new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = conf.isParquetBinaryAsString,
      assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
      inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
      nanosAsLong = conf.legacyParquetNanosAsLong,
      respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation)
    val footer = ParquetFileFormat.readParquetFootersInParallel(
      hadoopConf, toTouch.toSeq, conf.ignoreCorruptFiles).headOption
    footer match {
      case Some(f) => Some(ParquetFileFormat.readSchemaFromFooter(f, converter))
      case None => throw QueryCompilationErrors.dataSchemaNotSpecifiedError("Parquet")
    }
  }
}
