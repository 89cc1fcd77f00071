package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Point-read vs segment-scan evidence for the WARC offset index
  * (SURVEY §2 row 71b): write an indexed corpus once, then time
  *  (a) the full segment scan,
  *  (b) an index-filtered point-read of a scattered ~1/stride subset.
  * The claim under test: fetching k documents costs k seeks + k member
  * inflations, NOT a corpus scan — the property that makes a 100 TB
  * archive queryable.
  *
  * Usage: runMain graft.tools.WarcSeekBench [docsParquet] [outDir] [stride] [ledger]
  */
object WarcSeekBench {
  def main(args: Array[String]): Unit = {
    val docs0 = args.headOption.getOrElse(
      graft.core.Tables.path("target/scale100", "documents"))
    val out = args.lift(1).getOrElse("target/warc_seek_bench")
    val stride = args.lift(2).map(_.toInt).getOrElse(500)
    val ledger = args.lift(3).getOrElse("bench/bench_r08_warc_seek.json")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.sources.Warc

    val docs = spark.read.parquet(docs0)
    val n = docs.count()
    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }
    // segments sized by repartition so scan parallelism is honest
    val (_, tWrite) = timed {
      Warc.writeIndexed(docs.repartition(cpus.toInt), out,
        uri = concat(lit("urn:graft:doc:"), col("doc_id")),
        payload = col("text"))
    }
    // steady-state timings: first run pays codegen/footer warmup, the
    // second is the honest per-operation cost
    def steady[A](f: => A): (A, Double) = { timed(f); timed(f) }
    val (scanBytes, tScan) = steady {
      Warc.read(spark, out)
        .agg(sum(length(col("content")))).head().getLong(0)
    }
    def seek(str: Int): (Long, Double) = steady {
      Warc.readIndexed(spark, out,
        regexp_extract(col("target_uri"), "(\\d+)$", 1)
          .cast("long") % str === 7).count()
    }
    // two hit densities: seek cost must track HITS (plus the index
    // scan's fixed cost), not corpus size
    val (hits, tSeek) = seek(stride)
    val (hits10, tSeek10) = seek(stride * 10)
    val line =
      s"""{"metric":"warc_seek","docs":$n,"stride":$stride,""" +
        s""""hits":$hits,"hits_sparse":$hits10,""" +
        s""""scan_payload_bytes":$scanBytes,""" +
        s""""write_sec":$tWrite,"scan_sec":$tScan,"seek_sec":$tSeek,""" +
        s""""seek_sparse_sec":$tSeek10,""" +
        s""""scan_over_seek":${tScan / tSeek},""" +
        // the numbers that extrapolate: scans are corpus-proportional,
        // point-reads are fixed-cost + per-hit marginal
        s""""scan_over_seek_sparse":${tScan / tSeek10},""" +
        s""""seek_ms_per_hit":${
          (tSeek - tSeek10) * 1000.0 / math.max(1L, hits - hits10)}}"""
    println(line)
    Option(java.nio.file.Paths.get(ledger).getParent)
      .foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(ledger), line)
    spark.stop()
  }
}
