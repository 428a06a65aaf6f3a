package graft

import org.apache.spark.sql.graft.{ListenerBusBridge, SessionFootprint}

/** Every q_stream_* query leaves the session as it found it: run all 14
  * in one session, and after each one no temp view was added or replaced,
  * no session conf changed, no stream is still active, the CacheManager
  * holds no new entry and the context's listener bus holds no new
  * streaming listener bus. The drains return their rows as local
  * relations ([[graft.streaming.StateScope.drain]]), so no result needs
  * a sink view.
  */
class DrainHygieneSpec extends SparkTestBase {

  test("each q_stream_* query leaves no view, conf, stream, cache entry or listener bus behind") {
    val drains = SparkEntry.queries.keys.filter(_.startsWith("q_stream_")).toSeq.sorted
    assert(drains.size == 14, drains)
    spark.streams // the session's own stream manager (and its bus), built once per session
    val leaks = drains.flatMap { name =>
      ListenerBusBridge.drain(spark)
      val before = SessionFootprint.of(spark)
      SparkEntry.queries(name)(spark, sf).collect()
      ListenerBusBridge.drain(spark)
      val changes = before.changes(SessionFootprint.of(spark))
      if (changes.isEmpty) None else Some(s"$name left: ${changes.mkString("; ")}")
    }
    assert(leaks.isEmpty, leaks.mkString("\n"))
  }
}
