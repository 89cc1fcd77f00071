package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (one JVM-wide session — Spark's
  * getOrCreate reuses it across suites, keeping `sbt test` fast). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  // overridable so plan-shape suites (PlanAuditSpec) can re-assert
  // against a larger scale factor — "no plan flips at 10× data"
  def sfDir = sys.env.getOrElse("SPARK_GRAFT_TEST_SF_DIR",
    "/root/testdata/sf0.001")

  /** Number of Spark jobs that `f` starts on this thread. Listener events
    * arrive asynchronously but in order, so a marker job run after `f`
    * flushes every earlier job start to the count. */
  def jobsDuring(f: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"jobs-during-${java.util.UUID.randomUUID()}"
    val marker = "jobs-during-marker"
    val starts = new java.util.concurrent.LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties)
          .filter(_.getProperty("spark.jobGroup.id") == group)
          .foreach(p => starts.add(
            String.valueOf(p.getProperty("spark.job.description"))))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "")
      f
      sc.setJobGroup(group, marker)
      sc.parallelize(Seq(1), 1).count()
      def next() = starts.poll(60, java.util.concurrent.TimeUnit.SECONDS)
      var n = 0
      var d = next()
      while (d != marker) {
        assert(d != null, "listener never saw the marker job")
        n += 1
        d = next()
      }
      n
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = graft.core.GraftSession.local(4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
