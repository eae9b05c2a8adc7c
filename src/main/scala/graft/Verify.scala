package graft
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated entry names — builder-side
    // iteration only (the driver always passes exactly two args)
    val only: Set[String] =
      if (args.length > 2) args(2).split(",").toSet else Set.empty
    val spark = Sessions.root()
    new java.io.File(outDir).mkdirs()
    dump(spark, sfDir,
      SparkEntry.queries.filter { case (name, _) => only.isEmpty || only(name) }, outDir)
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }

  /** Writes each entry's result to `outDir/<name>` as parquet. An entry's
    * directory is deleted before it runs, so a failing entry leaves no
    * output at all — never the previous run's, which the compare would
    * read as this run's and pass. */
  private[graft] def dump(spark: SparkSession, sfDir: String,
      queries: Iterable[(String, (SparkSession, String) => DataFrame)],
      outDir: String): Unit =
    queries.foreach { case (name, fn) =>
      val dir = new Path(outDir, name)
      dir.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(dir, true)
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(dir.toString)
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
}
