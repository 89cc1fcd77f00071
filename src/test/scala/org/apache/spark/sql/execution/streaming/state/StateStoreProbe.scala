package org.apache.spark.sql.execution.streaming.state

/** Test-side view of StateStore's loaded providers (an object-private
  * map, so it is read reflectively). */
object StateStoreProbe {
  def loadedProviders: Int = {
    val m = StateStore.getClass.getDeclaredMethod("loadedProviders")
    m.setAccessible(true)
    val loaded = m.invoke(StateStore).asInstanceOf[collection.Map[_, _]]
    loaded.synchronized(loaded.size)
  }
}
