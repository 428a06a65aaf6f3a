package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryListenerBus

/** What a session holds that a query could leave behind: its temp views
  * (each by the identity of its relation, so a same-name replacement
  * shows), its confs, its active streams, the shared CacheManager's entry
  * count, and the number of `StreamingQueryListenerBus`es on the
  * context's `LiveListenerBus` (each session's stream manager adds one and
  * never removes it). The catalog, cache manager and listener bus are
  * private[sql] / private[spark], hence this package.
  */
final case class SessionFootprint(
    tempViews: Map[String, AnyRef],
    confs: Map[String, String],
    activeStreams: Int,
    cacheEntries: Int,
    streamingListenerBuses: Int) {

  /** Each way `after` differs from this footprint, as a readable line. */
  def changes(after: SessionFootprint): Seq[String] = {
    val views = (tempViews.keySet ++ after.tempViews.keySet).toSeq.sorted.collect {
      case v if !tempViews.contains(v) => s"temp view $v added"
      case v if !after.tempViews.contains(v) => s"temp view $v dropped"
      case v if !(tempViews(v) eq after.tempViews(v)) => s"temp view $v replaced"
    }
    val confChanges = (confs.keySet ++ after.confs.keySet).toSeq.sorted.collect {
      case k if confs.get(k) != after.confs.get(k) =>
        s"conf $k: ${confs.get(k)} -> ${after.confs.get(k)}"
    }
    views ++ confChanges ++
      Seq("active streams" -> (activeStreams, after.activeStreams),
        "cache entries" -> (cacheEntries, after.cacheEntries),
        "streaming listener buses" -> (streamingListenerBuses, after.streamingListenerBuses))
        .collect { case (what, (a, b)) if a != b => s"$what: $a -> $b" }
  }
}

object SessionFootprint {
  def of(spark: SparkSession): SessionFootprint = {
    val s = spark.asInstanceOf[classic.SparkSession]
    val catalog = s.sessionState.catalog
    SessionFootprint(
      catalog.getTempViewNames().flatMap(v => catalog.getRawTempView(v).map(v -> _)).toMap,
      s.conf.getAll,
      s.streams.active.length,
      s.sharedState.cacheManager.numCachedEntries,
      s.sparkContext.listenerBus.findListenersByClass[StreamingQueryListenerBus]().size)
  }
}
