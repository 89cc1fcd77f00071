package graft

import org.apache.spark.sql.functions.col
import graft.core.{GraftSession, Pipe}
import graft.streaming.NioCheckpointFileManager

/** `GraftSession` is the only session builder, so its confs are graft's
  * posture everywhere: a conf it drops is dropped by every main and by
  * the test suite. */
class GraftSessionSpec extends SparkSpec {

  private val posture = Seq(
    "spark.sql.shuffle.partitions" -> "4",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    NioCheckpointFileManager.ConfKey -> NioCheckpointFileManager.ConfValue,
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true")

  test("GraftSession.local(4) sets graft's session posture") {
    // the suite shares one JVM-wide session; on it getOrCreate re-applies
    // GraftSession's runtime confs, so unsetting them first makes the
    // asserts read what GraftSession itself sets, whichever session
    // happened to create the context
    val saved = posture.map { case (k, _) => k -> spark.conf.getOption(k) }
    posture.foreach { case (k, _) => spark.conf.unset(k) }
    try {
      val s = GraftSession.local(4)
      assert(s.sparkContext.master == "local[4]")
      posture.foreach { case (k, v) =>
        assert(s.conf.getOption(k).contains(v), s"$k")
      }
      assert(s.sparkContext.getConf.get("spark.ui.enabled") == "false")
      assert(s.sparkContext.uiWebUrl.isEmpty)
    } finally {
      saved.foreach { case (k, v) => v.foreach(spark.conf.set(k, _)) }
      // GraftSession logs at WARN; keep the suite at SparkSpec's ERROR
      spark.sparkContext.setLogLevel("ERROR")
    }
  }

  test("GraftSession installs GraftExtensions: the top-k rule and strategy") {
    val df = Pipe(spark.range(0, 20).toDF("id").withColumn("g", col("id") % 3))
      .topPerGroup(2, Seq(col("g")), Seq(col("id").desc)).df
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TopKPartial"), plan)
    assert(df.count() == 6)
  }

  test("GraftSession installs GraftExtensions: graft_cosine in SQL text") {
    val got = spark.sql(
      "SELECT graft_cosine(array(1D, 0D), array(1D, 0D))").head().getDouble(0)
    assert(got == 1.0)
  }
}
