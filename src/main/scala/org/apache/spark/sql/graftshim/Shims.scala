package org.apache.spark.sql.graftshim

import org.apache.spark.internal.config.ConfigEntry
import org.apache.spark.sql.{Column, DataFrame, SparkSession, classic}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Access shim: `ExpressionUtils` (Column ⇄ Expression bridging) is
  * `private[sql]` in Spark 4, so extension libraries reach it from inside
  * the package tree. Only public Spark APIs are re-exported; no behavior.
  */
object Shims {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** V2 `Predicate` → V1 `Filter` (`PredicateUtils` is `private[sql]`):
    * runtime group filtering hands the rewrite scan V2 predicates, and
    * the catalog's stats pruning speaks V1. */
  def predicateToV1(
      p: org.apache.spark.sql.connector.expressions.filter.Predicate)
      : Option[org.apache.spark.sql.sources.Filter] =
    org.apache.spark.sql.internal.connector.PredicateUtils.toV1(p)

  /** Hive-compatible partition-path escaping (`ExternalCatalogUtils` is
    * `private[sql]`): [[graft.storage.GraftCatalog]]'s writer must encode
    * partition directory names exactly as Spark's readers decode them. */
  def escapePathName(part: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName(part)

  def defaultPartitionName: String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.DEFAULT_PARTITION_NAME

  def unescapePathName(part: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName(part)

  /** `df`'s plan on a clone of its session with `confs` set on the clone
    * only (`cloneSession` is `private[sql]`). The clone shares the
    * SparkContext and SharedState (CacheManager, catalogs) and copies the
    * conf, temp views, extensions and query listeners — the same move
    * Spark's CacheManager makes to plan a cache under other confs
    * (`getOrCloneSessionWithConfigsOff`). The caller's conf is never
    * written, so queries planned concurrently on it never observe `confs`. */
  def withConf(df: DataFrame, confs: (ConfigEntry[Boolean], Boolean)*): DataFrame = {
    val clone = df.sparkSession.asInstanceOf[classic.SparkSession].cloneSession()
    confs.foreach { case (entry, value) => clone.sessionState.conf.setConf(entry, value) }
    onSession(df, clone)
  }

  /** `df`'s analyzed plan as a DataFrame of `session`, which shares
    * `df`'s SharedState (`Dataset.ofRows` is `private[sql]`). */
  def onSession(df: DataFrame, session: SparkSession): DataFrame =
    classic.Dataset.ofRows(session.asInstanceOf[classic.SparkSession],
      df.asInstanceOf[classic.Dataset[_]].logicalPlan)

  /** Block until every queued listener event has been delivered
    * (`SparkContext.listenerBus` is `private[spark]`): a profiler reading
    * its own SparkListener state right after an action must drain the
    * asynchronous bus first or the tail — typically the slowest — stages
    * are nondeterministically missing. */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    // best-effort: the no-arg wait throws after its 10 s default — a
    // profiler would rather print a few missing tail stages than crash
    // after the timed iterations already ran
    try sc.listenerBus.waitUntilEmpty()
    catch { case _: java.util.concurrent.TimeoutException => () }
}
