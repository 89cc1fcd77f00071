package graft.core

import org.apache.spark.sql.SparkSession
import graft.functions.GraftExtensions
import graft.streaming.NioCheckpointFileManager

/** The one graft session builder. Every main and the test suite start
  * their session here, because these confs are part of graft's
  * semantics rather than tuning:
  *  - shuffle partitions sized to cores — not the 200 default that would
  *    fragment local runs and under-provision a 1000-executor cluster,
  *    where the conf is expected to be overridden per deployment;
  *  - nanosAsLong + UTC decide how `ts` reads ([[Tables.normalize]]);
  *  - local-scheme checkpoints run through fork-free NIO I/O; remote
  *    schemes delegate to the stock Hadoop manager (see the class doc);
  *  - AQE may re-plan INSIDE cached plans: persisted intermediates
  *    otherwise pin tiny tables at the full shuffle-partition count, and
  *    every later pass re-schedules those near-empty tasks;
  *  - [[GraftExtensions]] is installed once, here: the `graft_cosine`
  *    SQL function, and the rule + strategy that plan `Pipe.topPerGroup`
  *    as the partial/final top-k operator.
  */
object GraftSession {
  /** `SPARK_GRAFT_CPUS`, default 4: the local cores of every graft main. */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(4)

  def local(cores: Int = cpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config(NioCheckpointFileManager.ConfKey,
        NioCheckpointFileManager.ConfValue)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
