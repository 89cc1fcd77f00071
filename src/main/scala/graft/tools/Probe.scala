package graft.tools

import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.streaming.StreamingQueryListener
import graft.SparkEntry
import graft.core.{GraftSession, Intermediates}

/** Per-query diagnostics. Runs each named SparkEntry query (bench-only
  * variants included) twice: every listed query cold, in list order, then
  * every one warm, in the same order. First-run JIT, codegen and
  * state-store-init cost is thus separable from the steady-state profile,
  * and each warm run follows the same JVM state (all the cold runs), not
  * whichever rows happen to precede it in the list. It prints
  *  - `[job]` for every Spark job: id, stages, call site;
  *  - `[stage]` for every completed stage: tasks, wall, executor run and
  *    CPU time, deserialization, GC;
  *  - `[probe] batch=...` for every streaming micro-batch;
  *  - `[sample]` the hottest executor-thread stacks, every 700 ms;
  *  - `[probe] <query> (<run>) rows=... build=... exec=...`: wall time
  *    to construct the DataFrame (eager actions included) and to run it.
  *
  * Given a plan directory, it also writes each query's
  * `explain("formatted")` text to `<planDir>/<query>.txt`, taken after
  * the warm run so the adaptive plan shows its final form.
  *
  * Usage: runMain graft.tools.Probe <query,query,...> [planDir]
  *   the data dir comes from SPARK_GRAFT_SF_DIR (as for [[graft.Bench]]),
  *   the session from [[GraftSession]].
  */
object Probe {
  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println(
        "usage: runMain graft.tools.Probe <query,query,...> [planDir]")
      sys.exit(2)
    }
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val planDir = args.lift(1).map(Paths.get(_))
    planDir.foreach(Files.createDirectories(_))
    val dir = graft.Bench.sfDir
    val spark = GraftSession.local()
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit =
        println(s"[probe] started ${e.name} at ${System.nanoTime()/1000000}ms")
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        println(s"[probe] batch=${p.batchId} rows=${p.numInputRows} " +
          s"durationMs=${p.durationMs} stateOps=${p.stateOperators.length}")
      }
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        println(s"[probe] terminated at ${System.nanoTime()/1000000}ms")
    })
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        println(s"[job] id=${e.jobId} stages=${e.stageIds.mkString(",")} " +
          s"site=${Option(e.properties)
            .map(_.getProperty("callSite.short", "?")).getOrElse("?")}")
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val s = e.stageInfo
        val wall = for {
          a <- s.completionTime; b <- s.submissionTime
        } yield a - b
        println(s"[stage] id=${s.stageId} tasks=${s.numTasks} " +
          s"wall=${wall.getOrElse(-1L)}ms " +
          s"exeRun=${s.taskMetrics.executorRunTime}ms " +
          s"exeCpu=${s.taskMetrics.executorCpuTime / 1000000}ms " +
          s"deser=${s.taskMetrics.executorDeserializeTime}ms " +
          s"gc=${s.taskMetrics.jvmGCTime}ms " +
          s"name=${s.name.take(60)}")
      }
    })
    // in-process stack sampler: local mode means executor threads live in
    // THIS JVM, so sample "Executor task launch worker" stacks directly
    val sampler = new Thread(() => {
      while (true) {
        Thread.sleep(700)
        val stacks = Thread.getAllStackTraces()
        val it = stacks.entrySet().iterator()
        val counts = scala.collection.mutable.Map.empty[String, Int]
        while (it.hasNext) {
          val e = it.next()
          if (e.getKey.getName.startsWith("Executor task launch")) {
            val top = e.getValue.take(6).map(f =>
              s"${f.getClassName.split('.').last}.${f.getMethodName}")
              .mkString("<-")
            val k = s"[${e.getKey.getState}] $top"
            counts(k) = counts.getOrElse(k, 0) + 1
          }
        }
        if (counts.nonEmpty) {
          println("[sample] ----")
          counts.toSeq.sortBy(-_._2).take(5).foreach { case (k, n) =>
            println(s"[sample] x$n $k") }
        }
      }
    })
    sampler.setDaemon(true)
    sampler.start()
    val all = SparkEntry.queries ++ SparkEntry.benchOnly
    names.filterNot(all.contains).foreach(n => println(s"[probe] $n UNKNOWN"))
    val known = names.filter(all.contains)
    for (run <- Seq("cold", "warm"); name <- known) {
      println(s"[probe] ===== $name ($run) =====")
      try {
        val t0 = System.nanoTime()
        val qe = all(name)(spark, dir).queryExecution
        val t1 = System.nanoTime()
        val n = qe.toRdd.count()
        val t2 = System.nanoTime()
        println(f"[probe] $name ($run) rows=$n " +
          f"build=${(t1 - t0) / 1e9}%.2f s exec=${(t2 - t1) / 1e9}%.2f s")
        if (run == "warm") planDir.foreach { d =>
          val out = d.resolve(s"$name.txt")
          Files.writeString(out, qe.explainString(FormattedMode))
          println(s"[probe] wrote $out")
        }
      } catch { case NonFatal(e) =>
        println(s"[probe] $name ($run) FAILED: ${e.getMessage}")
      } finally {
        Intermediates.release()
        spark.sqlContext.clearCache()
      }
    }
    spark.stop()
  }
}
