package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.core.{Intermediates, Tables}
import graft.piglatin.{PigParser, PigScript}

/** Closed-loop benchmark driver: one client thread, one `local[4]`
  * session, a fixed number of passes over a workload's rows: one cold,
  * one warm-up and four warm passes. The pass count does not depend on
  * how fast the passes run, so every run reports the same passes.
  *
  * Every phase is timed from outside, around the benchmark's own calls
  * into graft's public functions. With `--trace 1` a `SparkListener` and
  * a `StreamingQueryListener` attach the Spark jobs and micro-batches to
  * the phase that started them, and the direct table-load and Pig
  * parse/compile probes run after every pass.
  *
  * Usage: Main --workload W --seed N --trace 0|1 --data DIR --run DIR
  * Writes `result.json` (and with tracing `spans.json`) into the run
  * directory; the harness checks row counts and computes the metrics. */
object Main {
  private final case class Opts(workload: String, seed: Long, trace: Boolean,
      data: String, run: String)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("trace") == "1", m("data"),
      m("run"))
  }

  /** Passes after the cold one that are not reported. */
  private val Warmup = 1
  /** Reported passes: about 18 s (relational) and 25 s (pipelines) on
    * 4 cores. Fixed, because pass time keeps falling with
    * JIT warm-up and every run must report the same stretch of it. */
  private val WarmPasses = 4

  private def session(): SparkSession = {
    // the same session posture as graft.Bench, pinned to four cores
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config(graft.streaming.NioCheckpointFileManager.ConfKey,
        graft.streaming.NioCheckpointFileManager.ConfValue)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def secondsSince(t: Long): Double = (System.nanoTime() - t) / 1e9

  def main(args: Array[String]): Unit = {
    val tMain = System.nanoTime()
    val o = parse(args)
    var spark: SparkSession = null
    val tr = new Tracer(Option(spark).map(_.sparkContext).orNull, o.trace)
    val jobs = new JobTrace(tr)
    val streams = new StreamTrace(tr)

    // set-up: session start plus the run-owned state the passes use
    val runSpan = tr.open("run", o.workload)
    val setupSpan = tr.open("setup", "")
    val tSession = System.nanoTime()
    spark = session()
    val sessionStartMs = secondsSince(tSession) * 1000
    if (o.trace) {
      spark.sparkContext.addSparkListener(jobs)
      spark.streams.addListener(streams)
    }
    val out = Files.createDirectories(Paths.get(o.run, "derived")).toString
    val queries = Workloads.queries(o.workload, out)
    val rng = new scala.util.Random(o.seed)
    tr.close(setupSpan)
    // from main() to the first timed query: a cold JVM and session
    val setupS = secondsSince(tMain)

    val records = mutable.ArrayBuffer[Map[String, Any]]()
    val passes = mutable.ArrayBuffer[Map[String, Any]]()
    for (pass <- 1 to 1 + Warmup + WarmPasses) {
      val ps = tr.open("pass", pass.toString)
      rng.shuffle(queries).foreach { case (row, fn) =>
        records += runQuery(tr, spark, o.data, pass, row, fn)
      }
      tr.close(ps)
      passes += Map("pass" -> pass, "wall_s" -> ps.durMs / 1000)
      if (o.trace) probes(tr, spark, o.data, out)
    }
    val heapPeakMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

    if (o.trace) {
      // a last job flushes the listener queue: once its end is seen, every
      // earlier job and task event has been delivered
      tr.current = JobTrace.Sentinel
      spark.sparkContext.setLocalProperty(Tracer.SpanKey, JobTrace.Sentinel.toString)
      spark.sparkContext.parallelize(Seq(1), 1).count()
      val until = System.nanoTime() + 30000000000L
      while (!(jobs.drained && streams.drained) && System.nanoTime() < until)
        Thread.sleep(20)
      tr.current = runSpan.id
    }
    spark.stop()
    tr.close(runSpan)

    val result = Map(
      "workload" -> o.workload, "seed" -> o.seed, "trace" -> o.trace,
      "warmup" -> Warmup,
      "setup_s" -> setupS,
      "session_start_ms" -> sessionStartMs,
      "heap_peak_mb" -> heapPeakMb,
      "rows" -> queries.map(_._1),
      "oracle" -> queries.map { case (r, _) => r -> SparkEntry.oracleSql.get(r) }.toMap,
      "passes" -> passes.toSeq,
      "queries" -> records.toSeq)
    Files.writeString(Paths.get(o.run, "result.json"), Json(result))
    if (o.trace)
      Files.writeString(Paths.get(o.run, "spans.json"), Json(tr.spans.map { s =>
        Map("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind,
          "name" -> s.name, "start" -> s.start, "end" -> s.end,
          "attrs" -> s.attrs.toMap)
      }))
    // end the JVM here even if a library thread outlives the session
    sys.exit(0)
  }

  /** One query: build the frame, plan it, run the full projection, then
    * release the intermediates it persisted. */
  private def runQuery(tr: Tracer, spark: SparkSession, dir: String,
      pass: Int, row: String, fn: Workloads.Query): Map[String, Any] = {
    val q = tr.open("query", row)
    val rec = mutable.LinkedHashMap[String, Any]("pass" -> pass, "row" -> row)
    try {
      val (df, b) = tr.timed("build", row)(fn(spark, dir))
      rec("build_ms") = b.durMs
      val (qe, p) = tr.timed("plan", row) {
        val qe = df.queryExecution
        qe.executedPlan
        qe
      }
      rec("plan_ms") = p.durMs
      // toRdd.count() evaluates the full projection, as graft.Bench does
      val (n, e) = tr.timed("exec", row)(qe.toRdd.count())
      rec("exec_ms") = e.durMs
      rec("rows") = n
      val phases = qe.tracker.phases
      Seq("analysis", "optimization", "planning").foreach { k =>
        rec(s"${k}_ms") = phases.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
      }
    } catch {
      case t: Throwable =>
        rec("error") = s"${t.getClass.getName}: ${t.getMessage}".take(500)
    }
    rec("tracked") = Intermediates.trackedCount
    val (_, r) = tr.timed("release", row) {
      Intermediates.release()
      spark.sqlContext.clearCache()
    }
    rec("release_ms") = r.durMs
    tr.close(q)
    rec.toMap
  }

  /** Direct layer probes: one `Tables.apply` per table, and the parse and
    * compile of each relational Pig script on preloaded tables. */
  private def probes(tr: Tracer, spark: SparkSession, dir: String,
      out: String): Unit = {
    Workloads.ensurePigRegion(spark, dir, out)
    val ps = tr.open("probes", "")
    Tables.names.foreach(t => tr.timed("tables.load", t)(Tables(spark, dir, t)))
    Workloads.pigScripts(out).foreach { case (row, script, alias, rels) =>
      val pre = rels.map { case (rel, t) => rel -> Tables(spark, dir, t) }
      tr.timed("piglatin.parse", row)(PigParser.parseScript(script))
      tr.timed("piglatin.compile", row)(
        PigScript.query(spark, script, alias, tables = pre))
    }
    tr.close(ps)
  }
}

/** Minimal JSON encoder for the result files. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case x => quote(x.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
