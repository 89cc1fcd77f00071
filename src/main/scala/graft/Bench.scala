package graft
import graft.core.GraftSession

/** Per-round benchmark: runs every SparkEntry query at the driver-chosen
  * scale factor and prints one JSON line (also written to
  * `target/bench.json`, where the driver can read it without scraping
  * sbt's [info]/[error]-prefixed stdout).
  *
  * Each query runs three times and reports the MEDIAN — this host shows
  * 10–60× per-query swings between identical runs from outside load, so
  * single samples are noise. A warm-up action runs first so JVM/codegen
  * startup is not attributed to the first query; queries run in sorted
  * name order for stable attribution. */
object Bench {
  private val Runs = 3

  /** Data directory of the bench and of [[graft.tools.Probe]]. */
  def sfDir: String =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  def main(args: Array[String]): Unit = {
    val sfDir = Bench.sfDir
    val cpus = GraftSession.cpus
    val spark = GraftSession.local(cpus)
    // warm-up: session init, parquet footer reads, first codegen
    graft.core.Tables(spark, sfDir, "lineitem").limit(10).count()
    val all = SparkEntry.queries ++ SparkEntry.benchOnly
    val results = all.toSeq.sortBy(_._1).map { case (name, fn) =>
      val times = (1 to Runs).flatMap { _ =>
        val t0 = System.nanoTime()
        // toRdd.count() evaluates the FULL projection: a DataFrame count()
        // lets Catalyst prune every computed column, so map-only queries
        // would benchmark an empty-schema scan instead of their real work
        val ok =
          try { fn(spark, sfDir).queryExecution.toRdd.count(); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            false
          }
        val dt = (System.nanoTime() - t0) / 1e9
        // queries persist their own intermediates; drop them so later
        // runs/queries aren't taxed by accumulated cache blocks — and
        // drain the driver-side registry too, or its plan references
        // accumulate across 68 queries × 3 runs
        graft.core.Intermediates.release()
        spark.sqlContext.clearCache()
        if (ok) Some(dt) else None
      }
      // LOWER median on even counts: when one of 3 runs fails, picking
      // the upper of the surviving 2 would record the worst sample on a
      // host with documented 10-60x per-query swings
      name -> (if (times.isEmpty) None
               else Some((times.sorted.apply((times.size - 1) / 2), times.size)))
    }
    val succeeded = results.collect { case (k, Some(v)) => k -> v }
    val failed = results.collect { case (k, None) => k }
    val qs = succeeded.map { case (k, (v, _)) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // per-query successful-run counts, so a 2-run lower-median row is
    // distinguishable from a true 3-run median in the published ledger
    val runsJson = succeeded.map { case (k, (_, n)) => "\"" + k + "\":" + n }
      .mkString("{", ",", "}")
    // total = successful medians only; failures are listed, not summed
    // (the old -1.0 sentinel made a failing run look FASTER than a clean one)
    val total = succeeded.map(_._2._1).sum
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
        s""""failed":$failedJson,"runs_per_query":$Runs,""" +
        s""""query_runs":$runsJson,"cpus":$cpus,"sf":"$sfDir"}"""
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get("target"))
    java.nio.file.Files.writeString(java.nio.file.Paths.get("target/bench.json"), line)
    spark.stop()
    // print AFTER spark.stop() so no late Spark shutdown chatter can land
    // between the JSON and end-of-stream; with StdoutOutput + showSuccess
    // off (build.sbt) this is the last line of the sbt invocation
    println(line)
    System.out.flush()
  }
}
