package graft

import graft.ingest.IngestPipeline
import graft.ingest.SchemaInfer.Message
import graft.interp.DriverParquet
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** The driver-side Parquet read behind incremental aggregates
  * (`interp.DriverParquet`): every file reads exactly as a Spark scan of
  * the same file with the same schema reads it. Files are written by the
  * ingest pipeline, so they carry the types and the schema evolution
  * ingest produces. */
class DriverParquetSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    val wh = java.nio.file.Files.createTempDirectory("driver-parquet-wh").toString
    SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", wh)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }

  private val runId = java.lang.Long.toString(System.nanoTime(), 36)

  private def classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  /** The table's parquet files in write order, as (path, length, mtime). */
  private def files(table: String): Seq[(String, Long, Long)] = {
    val dir = new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir"), table)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(dir).toSeq.filter(_.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getModificationTime)
      .map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
  }

  private def driverRows(schema: StructType, file: (String, Long, Long)): Seq[Row] = {
    val toRow = CatalystTypeConverters.createToScalaConverter(schema)
    val out = Seq.newBuilder[Row]
    DriverParquet.foreach(classic, schema, Map.empty, Seq(file))(r => out += toRow(r.copy()).asInstanceOf[Row])
    out.result()
  }

  private def sparkRows(schema: StructType, file: (String, Long, Long)): Seq[Row] =
    spark.read.schema(schema).parquet(file._1).collect().toSeq

  private def ingest(table: String, jsons: String*): Unit =
    IngestPipeline.processBatch(spark, jsons.map(j => Message(table, j)))

  test("every type ingest writes, with NULLs, reads as a Spark scan reads it") {
    val table = s"driver_parquet_${runId}_types"
    ingest(table,
      """{"_id": "a", "flag": true, "x": 1.5, "at": "2024-03-01T10:15:30.123456Z", "day": "2024-03-01", "s": "héllo"}""",
      """{"_id": "b", "flag": false, "x": -0.0, "at": "1969-12-31T23:59:59Z", "day": "1900-01-01", "s": ""}""",
      """{"_id": "c", "flag": null, "x": null, "at": null, "day": null, "s": null}""")
    val schema = spark.table(table).schema
    assert(schema.map(_.dataType.typeName).toSet ==
      Set("string", "timestamp", "boolean", "double", "date"), schema)
    val Seq(file) = files(table)
    val got = driverRows(schema, file)
    assert(got.length == 3)
    assert(got == sparkRows(schema, file))
    assert(got.exists(r => (0 until r.length).drop(2).forall(r.isNullAt)), got)
  }

  test("a file written before ALTER TABLE ADD COLUMNS reads the new column as NULL") {
    val table = s"driver_parquet_${runId}_evolve"
    ingest(table, """{"_id": "a", "v": 1}""", """{"_id": "b", "v": 2}""")
    ingest(table, """{"_id": "c", "v": 3, "extra": "x"}""")
    val schema = spark.table(table).schema
    assert(schema.fieldNames.toSeq.takeRight(2) == Seq("v", "extra"), schema)
    val Seq(before, after) = files(table)
    val old = driverRows(schema, before)
    assert(old == sparkRows(schema, before))
    assert(old.map(_.getAs[String]("extra")) == Seq(null, null))
    assert(driverRows(schema, after) == sparkRows(schema, after))
    assert(driverRows(schema, after).map(_.getAs[String]("extra")) == Seq("x"))
  }

  test("a 0-row file reads as no rows") {
    val dir = java.nio.file.Files.createTempDirectory("driver-parquet-empty").resolve("t").toString
    spark.range(0).selectExpr("id AS v", "CAST(id AS STRING) AS s").coalesce(1).write.parquet(dir)
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val Seq(f) = fs.listStatus(path).toSeq.filter(_.getPath.getName.endsWith(".parquet"))
    val file = (f.getPath.toString, f.getLen, f.getModificationTime)
    val schema = StructType.fromDDL("v BIGINT, s STRING")
    assert(driverRows(schema, file).isEmpty)
    assert(sparkRows(schema, file).isEmpty)
  }
}
