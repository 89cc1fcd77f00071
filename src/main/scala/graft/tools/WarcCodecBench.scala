package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** WARC codec envelope A/B — the round-8 100× crawl run was codec-bound
  * (WARC leg 20.5× wall at 100× rows), so this pins WHERE the time goes:
  * write + read of the documents table as WARC segments under each
  * codec (none / gzip member-per-record / zstd frame-per-record), same
  * session window, median of `runs`. Output: one JSON ledger with
  * per-codec write/read medians and the compressed byte size — the
  * evidence behind the "prefer zstd framing for hot corpora" guidance.
  *
  * Usage: runMain graft.tools.WarcCodecBench [ledgerPath] [runs]
  *   SPARK_GRAFT_SCALE_BASE  docs dir (default /root/testdata/sf0.1)
  */
object WarcCodecBench {
  def main(args: Array[String]): Unit = {
    val ledger = args.headOption.getOrElse("bench/bench_r09_warc_codec.json")
    val runs = args.lift(1).map(_.toInt).getOrElse(3)
    val base = sys.env.getOrElse("SPARK_GRAFT_SCALE_BASE",
      "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val docs = graft.core.Tables(spark, base, "documents")
      .select(concat(lit("https://example.org/doc/"), col("doc_id"))
        .as("uri"), col("text"))
      .persist()
    docs.count() // materialize once so codec timings exclude the scan

    def dirSize(p: String): Long = {
      val d = new java.io.File(p)
      Option(d.listFiles()).map(_.filterNot(_.getName.startsWith("_"))
        .map(_.length()).sum).getOrElse(0L)
    }
    def median(xs: Seq[Double]): Double = xs.sorted.apply((xs.size - 1) / 2)

    val rows = Seq("none", "gzip", "zstd").map { codec =>
      val out = s"target/warc_codec_bench/$codec"
      val (ws, rs) = (1 to runs).map { _ =>
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
        val t0 = System.nanoTime()
        graft.sources.Warc.write(docs, out, col("uri"), col("text"),
          codec = codec)
        val w = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        val n = graft.sources.Warc.read(spark, out)
          .queryExecution.toRdd.count()
        val r = (System.nanoTime() - t1) / 1e9
        require(n > 0, s"codec $codec read back 0 records")
        (w, r)
      }.unzip
      val bytes = dirSize(out)
      val (wm, rm) = (median(ws), median(rs))
      println(f"[codec] $codec%-5s write=$wm%6.2fs read=$rm%6.2fs bytes=$bytes")
      s""""$codec":{"write_sec":$wm,"read_sec":$rm,"bytes":$bytes}"""
    }
    val line = s"""{"metric":"warc_codec","base":"$base","runs":$runs,""" +
      s""""median":"lower","codecs":${rows.mkString("{", ",", "}")}}"""
    println(line)
    Option(java.nio.file.Paths.get(ledger).getParent)
      .foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(ledger), line)
    spark.stop()
  }
}
