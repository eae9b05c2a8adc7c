package org.apache.spark.sql.graftsession

import org.apache.hadoop.conf.Configuration
import org.apache.spark.SparkContext
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions, classic}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.catalog.{ExternalCatalogEvent, ExternalCatalogEventListener}
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import org.apache.spark.util.HadoopFSUtils

/** The `private[sql]`/`private[spark]` members graft.Sessions needs to
  * make request sessions, know the functions they are born with and see
  * catalog changes, as `org.apache.spark.graftdev.ListenerDrain` does for
  * the listener bus, and to list a table as a file index does. All but
  * `bornFunctions` and `onCatalogEvent` run while requests are served. */
object SessionHooks {

  /** What `spark.newSession()` makes, except that `options` are its
    * initial session options: its SQL conf starts from them when its
    * session state is built. Making it builds no session state and
    * copies no conf; `newSession()` followed by a `conf.set` would build
    * both. */
  def newSession(spark: SparkSession, options: Map[String, String]): SparkSession = {
    val root = spark.asInstanceOf[classic.SparkSession]
    sessionConstructor.newInstance(root.sparkContext, Some(root.sharedState), None, root.extensions,
      options, Map.empty[String, String])
  }

  /** The class-private constructor `newSession()` calls: (context,
    * shared state, parent session state, extensions, initial session
    * options, job tags). Public in bytecode, so no access check is
    * lifted. */
  private val sessionConstructor = classOf[classic.SparkSession].getConstructor(
    classOf[SparkContext], classOf[Option[_]], classOf[Option[_]], classOf[SparkSessionExtensions],
    classOf[Map[_, _]], classOf[Map[_, _]])

  /** The options `spark`'s SQL conf starts from, over the Spark conf;
    * `newSession()` passes them on. */
  def initialOptions(spark: SparkSession): Map[String, String] =
    spark.asInstanceOf[classic.SparkSession].initialSessionOptions

  private val sessionStateField = {
    val f = classOf[classic.SparkSession].getDeclaredField("sessionState")
    f.setAccessible(true)
    f
  }

  /** Whether `spark`'s session state (SQL conf, catalog, function
    * registry, analyzer) has been built. It is built on first use and
    * never dropped, so a session for which this is false holds no temp
    * view, variable, function or setting of its own. */
  def stateBuilt(spark: SparkSession): Boolean = sessionStateField.get(spark) != null

  /** The Hadoop configuration every session of `spark`'s root starts
    * from; a session's own is this plus its SQL conf. Shared: read it,
    * never change it. */
  def hadoopConf(spark: SparkSession): Configuration = spark.sharedState.hadoopConf

  /** Whether a file index drops a file or directory of this name when it
    * lists (`_SUCCESS`, `_temporary`, hidden and `._COPYING_` names). */
  def listingDrops(name: String): Boolean = HadoopFSUtils.shouldFilterOutPathName(name)

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
