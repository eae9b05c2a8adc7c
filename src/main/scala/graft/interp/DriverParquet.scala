package graft.interp

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapred.FileSplit
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.hadoop.mapreduce.{JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.parquet.hadoop.ParquetInputFormat
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.classic.SparkSession
import org.apache.spark.sql.execution.datasources.parquet._
import org.apache.spark.sql.execution.datasources.{DataSourceUtils, PartitionedFile}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Reads a few small Parquet files on the driver with Spark's own
  * vectorized reader, the one a Parquet scan runs in its tasks.
  *
  * A scan through Spark broadcasts the session's Hadoop configuration
  * (about a thousand properties) and launches a job; for the one or two
  * files an ingest batch adds, that fixed cost dwarfs the read. This
  * reader sets up the configuration the way `ParquetFileFormat` does for
  * its tasks — requested schema, the session's time zone and Parquet
  * flags, the footer's datetime rebase modes — and reads in the calling
  * thread. Columns the file lacks (added by a later
  * `ALTER TABLE ADD COLUMNS`) read as NULL, as in a scan.
  */
private[graft] object DriverParquet {

  /** Whether Spark itself would read `schema` with the vectorized reader. */
  def supports(conf: SQLConf, schema: StructType): Boolean =
    conf.parquetVectorizedReaderEnabled && ParquetUtils.isBatchReadSupportedForSchema(conf, schema)

  /** Calls `f` on every row of each file, given as (path, length,
    * modification time), read as `schema`. The row is reused: copy what
    * must outlive the call. */
  def foreach(spark: SparkSession, schema: StructType, options: Map[String, String],
      files: Seq[(String, Long, Long)])(f: InternalRow => Unit): Unit = {
    val sqlConf = spark.sessionState.conf
    val conf = spark.sessionState.newHadoopConfWithOptions(options)
    conf.set(ParquetInputFormat.READ_SUPPORT_CLASS, classOf[ParquetReadSupport].getName)
    conf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, schema.json)
    conf.set(ParquetWriteSupport.SPARK_ROW_SCHEMA, schema.json)
    conf.set(SQLConf.SESSION_LOCAL_TIMEZONE.key, sqlConf.sessionLocalTimeZone)
    conf.setBoolean(SQLConf.NESTED_SCHEMA_PRUNING_ENABLED.key, sqlConf.nestedSchemaPruningEnabled)
    conf.setBoolean(SQLConf.CASE_SENSITIVE.key, sqlConf.caseSensitiveAnalysis)
    conf.setBoolean(SQLConf.PARQUET_BINARY_AS_STRING.key, sqlConf.isParquetBinaryAsString)
    conf.setBoolean(SQLConf.PARQUET_INT96_AS_TIMESTAMP.key, sqlConf.isParquetINT96AsTimestamp)
    conf.setBoolean(SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key,
      sqlConf.parquetInferTimestampNTZEnabled)
    conf.setBoolean(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key, sqlConf.legacyParquetNanosAsLong)
    conf.setBoolean(SQLConf.PARQUET_READER_RESPECT_UNKNOWN_TYPE_ANNOTATION.key,
      sqlConf.parquetReaderRespectUnknownTypeAnnotation)
    val parquetOptions = new ParquetOptions(options, sqlConf)
    files.foreach { case (path, length, mtime) =>
      readFile(conf, sqlConf, parquetOptions, path, length, mtime, f)
    }
  }

  private def readFile(conf: Configuration, sqlConf: SQLConf, parquetOptions: ParquetOptions,
      path: String, length: Long, mtime: Long, f: InternalRow => Unit): Unit = {
    val hadoopPath = new Path(path)
    val file = PartitionedFile(InternalRow.empty, SparkPath.fromPath(hadoopPath), 0, length,
      Array.empty[String], mtime, length)
    val opened = ParquetFooterReader.openFileAndReadFooter(conf, file, false)
    val footer = opened.footer()
    val meta = footer.getFileMetaData
    val datetimeRebase = DataSourceUtils.datetimeRebaseSpec(
      meta.getKeyValueMetaData.get(_), parquetOptions.datetimeRebaseModeInRead)
    val int96Rebase = DataSourceUtils.int96RebaseSpec(
      meta.getKeyValueMetaData.get(_), parquetOptions.int96RebaseModeInRead)
    val convertTz =
      if (sqlConf.isParquetINT96TimestampConversion && meta.getCreatedBy.startsWith("parquet-mr"))
        DateTimeUtils.getZoneId(sqlConf.sessionLocalTimeZone)
      else null
    val reader = new VectorizedParquetRecordReader(convertTz,
      datetimeRebase.mode.toString, datetimeRebase.timeZone,
      int96Rebase.mode.toString, int96Rebase.timeZone,
      false, sqlConf.parquetVectorizedReaderBatchSize)
    val attempt = new TaskAttemptID(new TaskID(new JobID(), TaskType.MAP, 0), 0)
    try {
      reader.initialize(new FileSplit(hadoopPath, 0, length, Array.empty[String]),
        new TaskAttemptContextImpl(conf, attempt), Some(opened.inputFile()), None, Some(footer))
      reader.initBatch(new StructType(), InternalRow.empty)
      while (reader.nextKeyValue()) f(reader.getCurrentValue.asInstanceOf[InternalRow])
    } finally reader.close()
  }
}
