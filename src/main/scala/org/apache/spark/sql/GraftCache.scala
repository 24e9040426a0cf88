package org.apache.spark.sql

import org.apache.spark.sql.internal.SQLConf

/** Bridge to Spark's `private[sql]` session cloning, for a cache whose
  * plan must compile under a conf the caller's session does not carry.
  *
  * Setting the conf on the caller's session and restoring it afterwards
  * is a race as soon as two threads cache through the same session: one
  * thread's restore can leave the other's value behind session-wide, or
  * a cache can be built under the wrong value. A clone owns its own
  * SQLConf but shares the CacheManager, so a plan cached through the
  * clone is still matched, and read, by every query of the parent.
  */
object GraftCache {
  /** Cache `ds` with its plan compiled under
    * `canChangeCachedPlanOutputPartitioning=true` (AQE may coalesce the
    * stored partitions by measured bytes).
    *
    * Clone cost: the CacheManager itself clones the session on every
    * cache build to switch auto bucketed scan off (Spark 4.1.2,
    * `CacheManager.getOrCloneSessionWithConfigsOff`). Switching it off
    * on this clone as well makes the CacheManager reuse the clone, so a
    * sized cache still pays exactly one clone, as a plain one does. */
  def persistSized(ds: Dataset[_]): Unit = {
    val d = ds.asInstanceOf[classic.Dataset[_]]
    val child = d.sparkSession.cloneSession()
    val conf = child.sessionState.conf
    conf.setConf(SQLConf.CAN_CHANGE_CACHED_PLAN_OUTPUT_PARTITIONING, true)
    conf.setConf(SQLConf.AUTO_BUCKETED_SCAN_ENABLED, false)
    child.sharedState.cacheManager.cacheQuery(child,
      d.queryExecution.normalized, None, conf.defaultCacheStorageLevel)
  }
}
