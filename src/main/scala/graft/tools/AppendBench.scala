package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental-dedup scale evidence: on the factor-N synthetic corpus
  * (built by [[ScaleBench.synthesize]]), this tool
  *
  *  (a) ASSERTS the equivalence contracts engine-side at scale —
  *      `exactAppend(exactIndex(C), Δ) ≡ exactIndex(C ∪ Δ)` and
  *      `lsh(C).pairs ∪ minhashAppend(index(C), Δ).newPairs ≡
  *       lsh(C ∪ Δ).pairs` — the same invariants DedupIncrementalSpec
  *      proves on toy frames, now on ~10× the sf0.1 corpus; and
  *
  *  (b) MEASURES full-rebuild vs append wall time. The append path's
  *      whole value claim is |index| + |Δ| ≪ |C ∪ Δ|: folding a 1×
  *      shard into a 10× index should cost about the shard's share of
  *      a full rebuild, not the rebuild.
  *
  * Δ = the sf0.01 documents (a ~1% shard — the production shape:
  * yesterday's 100 GB on top of a 100 TB corpus) re-idized into a
  * disjoint range (+10M, far above the synthesizer's
  * `doc_id·factor + copy` ids and the dedup queries' +1e6 planted
  * offset) with content left verbatim. Output grows by the shard's
  * matched pairs — linear, not quadratic.
  *
  * Usage: runMain graft.tools.AppendBench [factor] [ledgerPath]
  *   SPARK_GRAFT_SCALE_BASE / SPARK_GRAFT_SCALE_DIR as in [[ScaleBench]].
  */
object AppendBench {

  def main(args: Array[String]): Unit = {
    val factor = args.headOption.map(_.toInt).getOrElse(10)
    val ledger = args.lift(1).getOrElse("bench/bench_r07_append.json")
    val base = sys.env.getOrElse("SPARK_GRAFT_SCALE_BASE", "/root/testdata/sf0.1")
    val scaled = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "target/scale10")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    ScaleBench.synthesize(spark, base, scaled, factor)
    val work = "target/append_bench"

    val corpus = graft.core.Tables(spark, scaled, "documents")
      .select(col("doc_id"), col("text"))
    val deltaSrc = sys.env.getOrElse("SPARK_GRAFT_APPEND_DELTA",
      "/root/testdata/sf0.01")
    val delta = graft.core.Tables(spark, deltaSrc, "documents")
      .select((col("doc_id") + 10000000L).as("doc_id"), col("text"))
    val union = corpus.unionByName(delta)

    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = f
      val dt = (System.nanoTime() - t0) / 1e9
      graft.core.Intermediates.release()
      spark.sqlContext.clearCache()
      (r, dt)
    }
    def run(df: DataFrame): Long = df.queryExecution.toRdd.count()

    import graft.dedup.{Dedup, Incremental}

    // ---- exact -------------------------------------------------------------
    // production shape: the index already sits on disk; append reads it
    val (_, exIndexSec) = timed {
      Incremental.exactIndex(corpus, "doc_id", "text")
        .write.mode("overwrite").parquet(s"$work/exact_index")
    }
    val exIndex = spark.read.parquet(s"$work/exact_index")
    val (_, exAppendSec) = timed {
      run(Incremental.exactAppend(exIndex, delta, "doc_id", "text"))
    }
    val (_, exRebuildSec) = timed {
      run(Incremental.exactIndex(union, "doc_id", "text"))
    }
    val (exDiff, _) = timed {
      val incr = Incremental.exactAppend(exIndex, delta, "doc_id", "text")
      val full = Incremental.exactIndex(union, "doc_id", "text")
      full.exceptAll(incr).count() + incr.exceptAll(full).count()
    }

    // ---- MinHash + LSH -----------------------------------------------------
    val (_, mhIndexSec) = timed {
      Incremental.saveMinhashIndex(
        Incremental.minhashIndex(corpus, "doc_id", "text"), s"$work/mh_index")
    }
    val mhIndex = Incremental.loadMinhashIndex(spark, s"$work/mh_index")
    val (_, mhAppendSec) = timed {
      run(Incremental.minhashAppend(mhIndex, delta, "doc_id", "text")._1)
    }
    val (_, mhRebuildSec) = timed {
      run(Dedup.minhashLsh(union, "doc_id", "text"))
    }
    val (mhDiff, _) = timed {
      val incr = Dedup.minhashLsh(corpus, "doc_id", "text")
        .select(col("id_a"), col("id_b"))
        .unionByName(Incremental.minhashAppend(mhIndex, delta,
          "doc_id", "text")._1.select(col("id_a"), col("id_b")))
      val full = Dedup.minhashLsh(union, "doc_id", "text")
        .select(col("id_a"), col("id_b"))
      full.exceptAll(incr).count() + incr.exceptAll(full).count()
    }

    require(exDiff == 0L,
      s"exact equivalence VIOLATED at factor $factor: $exDiff differing rows")
    require(mhDiff == 0L,
      s"minhash equivalence VIOLATED at factor $factor: $mhDiff differing pairs")

    val line =
      s"""{"metric":"append_vs_rebuild","factor":$factor,"base":"$base",""" +
        s""""delta":"$deltaSrc",""" +
        s""""scaled":"$scaled",""" +
        s""""exact":{"index_build_sec":$exIndexSec,"append_sec":$exAppendSec,""" +
        s""""rebuild_sec":$exRebuildSec,"append_over_rebuild":${exAppendSec / exRebuildSec},""" +
        s""""equivalent":true},""" +
        s""""minhash":{"index_build_sec":$mhIndexSec,"append_sec":$mhAppendSec,""" +
        s""""rebuild_sec":$mhRebuildSec,"append_over_rebuild":${mhAppendSec / mhRebuildSec},""" +
        s""""equivalent":true}}"""
    println(line)
    Option(java.nio.file.Paths.get(ledger).getParent)
      .foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(ledger), line)
    spark.stop()
  }
}
