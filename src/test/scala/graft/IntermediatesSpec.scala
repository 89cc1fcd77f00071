package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.execution.streaming.state.StateStoreProbe
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.core.Intermediates

class IntermediatesSpec extends SparkSpec {
  import spark.implicits._

  test("release() leaves a live stream's state stores alone; the stream " +
      "keeps committing batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val q = input.toDF().groupBy(col("value")).agg(count(lit(1)).as("n"))
      .writeStream.queryName("intermediates_live").format("memory")
      .outputMode(OutputMode.Complete()).start()
    try {
      input.addData("a", "b", "a")
      q.processAllAvailable()
      val loaded = StateStoreProbe.loadedProviders
      assert(loaded > 0)
      Intermediates.release()
      assert(StateStoreProbe.loadedProviders == loaded,
        "release() unloaded the state stores of an active query")
      input.addData("a", "c")
      q.processAllAvailable()
      assert(q.isActive && q.exception.isEmpty)
      assert(q.lastProgress.batchId == 1L)
      assert(spark.table("intermediates_live").as[(String, Long)].collect()
        .toMap == Map("a" -> 3L, "b" -> 1L, "c" -> 1L))
    } finally q.stop()
    // with no stream running, release() unloads the dead providers
    Intermediates.release()
    assert(StateStoreProbe.loadedProviders == 0)
  }
}
