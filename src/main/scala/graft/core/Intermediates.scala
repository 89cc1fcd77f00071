package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Lifecycle registry for the DataFrames graft persists INTERNALLY
  * (rank/zip partition-offset inputs, dedup shingle/band tables, …).
  *
  * `DataFrame.persist` pins blocks in the CacheManager until an explicit
  * `unpersist` — there is no GC-driven cleanup as with raw RDDs — so a
  * long-lived session issuing many rank/zip/dedup calls would accumulate
  * cache blocks until eviction pressure degrades every later job. graft
  * can't unpersist eagerly itself: the returned (lazy) plan still reads
  * the cached data, and for range-sorted inputs the cache is
  * load-bearing for CORRECTNESS (two executions of an unpersisted
  * range-sort may sample different partition bounds than the offsets
  * collected from the first). So every internal persist registers here,
  * and the application calls [[release]] at its natural boundary —
  * after consuming one query's results, before starting the next (the
  * bench does exactly this between queries). */
object Intermediates {
  private val tracked =
    java.util.Collections.synchronizedList(new java.util.ArrayList[DataFrame]())

  private[graft] def track(df: DataFrame): DataFrame = {
    tracked.add(df)
    df
  }

  /** Number of internally-persisted intermediates currently tracked. */
  def trackedCount: Int = tracked.size()

  /** Unpersist every internally-persisted intermediate. Call only when
    * all results derived from prior graft calls have been consumed. */
  def release(blocking: Boolean = false): Unit = {
    val snapshot = tracked.synchronized {
      val s = new java.util.ArrayList[DataFrame](tracked)
      tracked.clear()
      s
    }
    snapshot.forEach(df => df.unpersist(blocking))
    // Streaming state-store providers are the OTHER leak at this
    // boundary: a bounded (AvailableNow) run's providers stay registered
    // — holding their state maps on heap and a slot in the maintenance
    // scan — although the temp checkpoint is never revisited. A session
    // that has run many bounded streams would otherwise accumulate
    // gigabytes of dead join/dedup state. The unload is JVM-wide and
    // would also drop a LIVE query's providers and stop the maintenance
    // task under it, so it runs only while the current session has no
    // active streaming query.
    val session =
      SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
    if (session.forall(_.streams.active.isEmpty))
      org.apache.spark.sql.execution.streaming.state.GraftStateStoreAccess
        .unloadAllProviders()
  }
}
