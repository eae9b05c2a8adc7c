package graft.exprs

import org.apache.spark.sql.SparkSession

/** `getenv(name)` scalar UDF, enabled only while init-SQL runs
  * (ref: server/util/duckdb.go:14-57 — the reference registers it
  * before init SQL and removes/disables it after, so dashboard SQL can
  * never read the environment). */
object Getenv {
  @volatile private var enabled = false

  def register(spark: SparkSession): Unit = {
    spark.udf.register("getenv", (name: String) =>
      if (enabled) Option(System.getenv(name)).getOrElse("") else "")
  }

  /** Run `body` with getenv enabled (the init-SQL window). */
  def withEnabled[T](body: => T): T = {
    enabled = true
    try body finally enabled = false
  }
}
