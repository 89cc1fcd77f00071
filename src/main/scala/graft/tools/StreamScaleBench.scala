package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.apache.spark.sql.types._
import graft.cep.Matcher
import graft.streaming.Streams

/** Scale-stress harness for the streaming CEP reorder buffer
  * ([[Streams.streamMatchStepsReordered]]): synthesizes a factor-N event
  * stream with a HOSTILE key-cardinality profile, replays it through the
  * watermark-delayed reorder buffer one file per micro-batch, and records
  * the state-store PEAK alongside wall time — the evidence that state is
  * bounded by delay + WITHIN horizon, not by stream length or total key
  * cardinality.
  *
  * Two profiles, because the bound has two sides:
  *
  *  - `steady`: copy c of the base events shifts event time by c×span and
  *    salts keys into a DISJOINT range — the stream gets factor× longer
  *    and factor× more distinct keys at CONSTANT in-horizon density. A
  *    correct eviction story shows a FLAT state peak (a leak would grow
  *    it toward factor×: every key that ever lived would still hold a
  *    state row).
  *  - `dense`: copies overlay the SAME time span (keys still disjoint) —
  *    in-horizon density grows factor×, so the peak SHOULD grow ≈factor×.
  *    This is the honest half of the claim: state is proportional to
  *    events inside the delay+WITHIN horizon, to neither history nor
  *    lifetime key count.
  *
  * Disorder is real, not simulated: each event's ARRIVAL order is its
  * event time plus a per-event hash jitter in [0, delay), and micro-batch
  * files are cut along arrival order — so events arrive up to the full
  * watermark delay out of event-time order, the exact disorder the buffer
  * contracts to absorb (jitter < delay ⇒ no event is ever dropped as too
  * late; see the frontier proof on [[Streams.streamMatchStepsReordered]]).
  *
  * Every run is differentialed in-harness against the batch engine
  * ([[Matcher.matchSeq]]) under the emission bound (a match emits iff the
  * final watermark released its completing event) — a scale row that
  * stopped matching batch truth would fail the tool, not just read slow.
  *
  * Usage: runMain graft.tools.StreamScaleBench [factors] [ledgerPath]
  *   factors  comma list, default "1,10,100"
  *   SPARK_GRAFT_SCALE_BASE  base dir (default /root/testdata/sf0.1)
  */
object StreamScaleBench {

  private val DelayMicros  = 30L * 60 * 1000000L // reorder watermark delay
  private val WithinMicros = 3600L * 1000000L    // pattern WITHIN horizon
  private val Pattern = Seq(
    Matcher.Pos(Matcher.typeIs("signup")),
    Matcher.Pos(Matcher.typeIs("purchase")))

  def main(args: Array[String]): Unit = {
    val factors = args.headOption.getOrElse("1,10,100")
      .split(",").map(_.trim.toInt).toSeq
    val ledger = args.lift(1).getOrElse("bench/bench_r08_scale_stream.json")
    val base = sys.env.getOrElse("SPARK_GRAFT_SCALE_BASE", "/root/testdata/sf0.1")
    val spark = graft.core.GraftSession.local()
    // recentProgress is the authoritative per-batch state-peak source;
    // the default 100-entry ring would silently drop the early batches
    // of a 240-file run
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "2000")

    val ev0 = loadBaseEvents(spark, base)
    val spanMicros = {
      val r = ev0.agg(min("tsMicros"), max("tsMicros")).head()
      r.getLong(1) - r.getLong(0) + 3600L * 1000000L
    }

    val rows = for {
      profile <- Seq("steady", "dense")
      f <- factors
    } yield runOne(spark, ev0, spanMicros, f, profile)

    val qs = rows.map { r =>
      s""""${r.profile}_f${r.factor}":{"events":${r.events},"keys":${r.keys},""" +
        s""""files":${r.files},"batches":${r.batches},"wall_sec":${r.wallSec},""" +
        s""""rows_out":${r.rowsOut},"peak_state_rows":${r.peakRows},""" +
        s""""peak_state_bytes":${r.peakBytes},"batch_equal":${r.equal}}"""
    }.mkString("{", ",", "}")
    val line =
      s"""{"metric":"stream_scale_stress","query":"streamMatchStepsReordered",""" +
        s""""pattern":"signup->purchase","within_sec":3600,"delay_sec":1800,""" +
        s""""base":"$base","runs":$qs}"""
    println(line)
    Option(java.nio.file.Paths.get(ledger).getParent)
      .foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(ledger), line)
    require(rows.forall(_.equal),
      "streaming output diverged from the batch engine at scale")
    spark.stop()
  }

  private case class RunRow(profile: String, factor: Int, events: Long,
                            keys: Long, files: Int, batches: Int,
                            wallSec: Double, rowsOut: Long, peakRows: Long,
                            peakBytes: Long, equal: Boolean)

  /** Base events in the streaming [[Matcher.Event]] shape (tsMicros as a
    * plain long; the stream side re-attaches the TimestampType column). */
  private def loadBaseEvents(spark: SparkSession, base: String): DataFrame = {
    graft.core.Tables(spark, base, "events").select(col("user_id").as("key"),
      unix_micros(col("ts")).as("tsMicros"),
      col("event_type").as("etype"), col("event_id").as("id"), col("value"))
  }

  private def runOne(spark: SparkSession, ev0: DataFrame, spanMicros: Long,
                     factor: Int, profile: String): RunRow = {
    import spark.implicits._
    val dir = java.nio.file.Paths.get(s"target/stream_scale/${profile}_f$factor")
    org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    java.nio.file.Files.createDirectories(dir)

    // copy c: keys salted into a disjoint range (hostile lifetime
    // cardinality), ids kept globally unique, event time shifted by
    // c×span (steady) or left overlaid (dense); arrival = event time +
    // hash jitter in [0, delay) — real disorder up to the full bound
    val shift = if (profile == "steady") spanMicros else 0L
    val ev = ev0.select(col("*"),
        explode(sequence(lit(0), lit(factor - 1))).as("copy"))
      .select(
        (col("key") + col("copy") * 10000000L).as("key"),
        (col("tsMicros") + col("copy") * shift).as("tsMicros"),
        col("etype"),
        (col("id") * factor + col("copy")).as("id"),
        col("value"))
      .withColumn("arrival", col("tsMicros") +
        pmod(xxhash64(col("id"), lit(42)), lit(DelayMicros)))

    // micro-batch files = contiguous arrival-time slices. steady grows
    // the file count with the stream (constant per-batch load); dense
    // keeps it fixed (per-batch load grows with density)
    val nFiles = if (profile == "steady") math.min(6 * factor, 240) else 48
    val bounds = ev.agg(min("arrival"), max("arrival")).head()
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1) + 1)
    val tmp = dir.resolve("_build")
    ev.withColumn("bucket",
        width_bucket(col("arrival"), lit(lo), lit(hi), lit(nFiles)))
      .drop("arrival")
      .write.partitionBy("bucket").parquet(tmp.toString)
    // flatten bucket dirs into mtime-ordered files (FileStreamSource
    // processes oldest-first; names kept aligned as a tiebreak)
    var idx = 0
    val t0ms = System.currentTimeMillis() - 86400000L
    (1 to nFiles).foreach { b =>
      val bd = tmp.resolve(s"bucket=$b")
      if (java.nio.file.Files.isDirectory(bd)) {
        java.nio.file.Files.list(bd).sorted().forEach { p =>
          if (p.getFileName.toString.endsWith(".parquet")) {
            val dst = dir.resolve(f"ev-$idx%05d.parquet")
            java.nio.file.Files.move(p, dst)
            java.nio.file.Files.setLastModifiedTime(dst,
              java.nio.file.attribute.FileTime.fromMillis(t0ms + idx * 2000L))
            idx += 1
          }
        }
      }
    }
    org.apache.commons.io.FileUtils.deleteQuietly(tmp.toFile)

    // ---- the streaming run: one file per micro-batch -----------------------
    val schema = StructType(Seq(
      StructField("key", LongType), StructField("tsMicros", LongType),
      StructField("etype", StringType), StructField("id", LongType),
      StructField("value", DoubleType)))
    val evs = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dir.toString)
      .as[Matcher.Event]
    val m = Streams.streamMatchStepsReordered(evs, Pattern, WithinMicros,
      watermarkDelay = "30 minutes")
    val qname = s"stream_scale_${profile}_f$factor"
    val t0 = System.nanoTime()
    val q = m.toDF().writeStream.queryName(qname)
      .outputMode(OutputMode.Append()).format("memory")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val wall = (System.nanoTime() - t0) / 1e9
    val progress = q.recentProgress.toSeq
    val peaks = progress.flatMap(_.stateOperators)
    val peakRows = if (peaks.isEmpty) 0L else peaks.map(_.numRowsTotal).max
    val peakBytes = if (peaks.isEmpty) 0L else peaks.map(_.memoryUsedBytes).max

    // ---- batch differential under the emission bound -----------------------
    // final watermark = floor(max event ms) - delay; a match emits iff it
    // released the completing event. matchSeq drives the same automaton
    // over the sorted table, so this checks the reorder buffer's release.
    val static = spark.read.parquet(dir.toString)
    val maxTs = static.agg(max("tsMicros")).head.getLong(0)
    val wmMicros = (maxTs / 1000L - DelayMicros / 1000L) * 1000L
    val expected = Matcher.matchSeq(static, "key", "tsMicros", "etype", "id",
        "value", Pattern, WithinMicros)
      .where(col("endMicros") <= wmMicros)
      .select(col("key"), element_at(col("ids"), 1).as("a"),
        element_at(col("ids"), 2).as("b"))
    val got = spark.table(qname)
      .select(col("key"), element_at(col("ids"), 1).as("a"),
        element_at(col("ids"), 2).as("b"))
    val rowsOut = got.count()
    val equal = got.exceptAll(expected).isEmpty &&
      expected.exceptAll(got).isEmpty
    spark.catalog.dropTempView(qname)

    val events = static.count()
    val keys = factor.toLong * ev0.select("key").distinct().count()
    println(f"[stream-scale] $profile%-7s f=$factor%3d events=$events%9d " +
      f"keys=$keys%7d files=$idx%3d batches=${progress.length}%4d " +
      f"wall=$wall%7.2fs out=$rowsOut%8d peakRows=$peakRows%7d " +
      f"peakMB=${peakBytes / 1e6}%8.1f equal=$equal")
    RunRow(profile, factor, events, keys, idx, progress.length, wall,
      rowsOut, peakRows, peakBytes, equal)
  }
}
