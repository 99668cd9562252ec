package org.apache.spark.perfbenchshim

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

/** Access to two `private[spark]` hooks the benchmark's tracer needs.
  * Lives under `org.apache.spark` for access only.
  */
object Bus {

  /** Block until every listener event posted so far is delivered, so
    * counters read afterwards are complete for the work already done.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Number of CacheManager entries (`Dataset.cache`/`persist`). */
  def cacheEntries(spark: SparkSession): Int = {
    val cm = spark.sharedState.cacheManager
    val f = cm.getClass.getDeclaredFields.find(_.getName.endsWith("cachedData"))
    f.map { fld =>
      fld.setAccessible(true)
      fld.get(cm) match {
        case s: scala.collection.Seq[_] => s.size
        case _ => 0
      }
    }.getOrElse(0)
  }
}
