package org.apache.spark.sql.graftsession

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.catalog.{ExternalCatalogEvent, ExternalCatalogEventListener}
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** The `private[sql]`/`private[spark]` members graft.Sessions needs to
  * know the functions request sessions are born with and to see catalog
  * changes, as `org.apache.spark.graftdev.ListenerDrain` does for the
  * listener bus. Only `extensions` and `holdsNoVariables` run while
  * requests are served. */
object SessionHooks {

  /** The extensions `spark` and every `newSession()` of it share: a new
    * session's state is built from them, its function registry as
    * `registerFunctions(FunctionRegistry.builtin.clone())`. */
  def extensions(spark: SparkSession): SparkSessionExtensions =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].extensions

  /** Each function in the registry a `newSession()` of `ext` starts with,
    * by its `ExpressionInfo` (a registration makes a new one). */
  def bornFunctions(ext: SparkSessionExtensions): Map[FunctionIdentifier, ExpressionInfo] = {
    val born = ext.registerFunctions(FunctionRegistry.builtin.clone())
    born.listFunction().map(id => id -> born.lookupFunction(id).get).toMap
  }

  /** Whether `spark` holds no session variable (`DECLARE VARIABLE`).
    * A variable's value is folded into every plan that reads it, so a
    * statement's text alone does not say what it computes. */
  def holdsNoVariables(spark: SparkSession): Boolean =
    spark.sessionState.catalogManager.tempVariableManager.isEmpty

  /** Run `f` on every change to `spark`'s catalog (databases, tables,
    * views, functions), synchronously, in the thread that made it. */
  def onCatalogEvent(spark: SparkSession)(f: ExternalCatalogEvent => Unit): Unit =
    spark.sharedState.externalCatalog.addListener(new ExternalCatalogEventListener {
      override def onEvent(event: ExternalCatalogEvent): Unit = f(event)
    })
}
