package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Quantifies the [[graft.core.ModelStore]] train-once-reuse win: for
  * each trained artifact the pipeline uses (IVF centroids, residual PQ
  * codebooks, BPE merges at both 200 and 32k budgets) measure
  *
  *   cold_sec — store empty: fingerprint input, TRAIN, write; and
  *   warm_sec — store hot: fingerprint input, LOAD, decode;
  *
  * then assert the loaded model equals the trained one (the store's
  * bit-exact round-trip contract, here on production-sized models).
  * `speedup = cold/warm` is the per-job saving every pipeline run after
  * the first enjoys — at 100 TB the training sample stays bounded
  * (seeded TakeOrdered ≤2048 rows) but the 32k-merge BPE train is
  * minutes of driver time, which the store converts into one
  * metadata-fingerprint pass + a file read.
  *
  * Usage: runMain graft.tools.ModelStoreBench [sfDir] [ledgerPath]
  */
object ModelStoreBench {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val ledger = args.lift(1).getOrElse("bench/bench_r07_modelstore.json")
    val storeDir = "target/model_store_msbench"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(storeDir))

    import graft.core.ModelStore
    val emb = graft.core.Tables(spark, sfDir, "embeddings")
    val corpus = emb.where(col("vec_id") >= 5)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val docs = graft.core.Tables(spark, sfDir, "documents")

    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }

    val seed = 42
    val rows = Seq[(String, () => Any)](
      ("ivf_centroids_64", () => ModelStore.cachedCentroids(storeDir,
        s"ivf-64-$seed", corpus)(
        graft.sim.Similarity.ivfCentroids(corpus, nCells = 64, seed = seed))),
      ("pq_res_codebooks", () => {
        // coarse centroids route through the store too — the warm path
        // must not retrain the coarse quantizer it depends on
        val coarse = ModelStore.cachedCentroids(storeDir,
          s"ivf-64-$seed", corpus)(
          graft.sim.Similarity.ivfCentroids(corpus, nCells = 64, seed = seed))
        ModelStore.cachedCodebooks(storeDir, s"pqres-8-16-64-$seed", corpus)(
          graft.sim.Pq.residualCodebooks(corpus, coarse, m = 8, k = 16,
            seed = seed))
      }),
      ("bpe_200", () => ModelStore.cachedMerges(storeDir, s"bpe-200-$seed",
        docs)(graft.text.Bpe.train(docs, "text", numMerges = 200,
          seed = seed))),
      ("bpe_32k", () => ModelStore.cachedMerges(storeDir, s"bpe-32768-$seed",
        docs)(graft.text.Bpe.train(docs, "text", numMerges = 32768,
          seed = seed)))
    ).map { case (name, fetch) =>
      val (cold, coldSec) = timed(fetch())
      val (warm, warmSec) = timed(fetch())
      // deep compare: Array == is reference equality, so canonicalize
      // nested arrays to Seqs first
      def canon(x: Any): Any = x match {
        case s: Seq[_] => s.map(canon)
        case a: Array[_] => a.toSeq.map(canon)
        case other => other
      }
      require(canon(cold) == canon(warm),
        s"ModelStore round-trip VIOLATED for $name: loaded != trained")
      println(f"[modelstore] $name%-18s cold=$coldSec%7.2fs warm=$warmSec%6.2fs " +
        f"speedup=${coldSec / warmSec}%5.1fx")
      s""""$name":{"cold_sec":$coldSec,"warm_sec":$warmSec,""" +
        s""""speedup":${coldSec / warmSec},"roundtrip_exact":true}"""
    }

    val line = s"""{"metric":"modelstore_train_once","sf_dir":"$sfDir",""" +
      s""""models":${rows.mkString("{", ",", "}")}}"""
    println(line)
    Option(java.nio.file.Paths.get(ledger).getParent)
      .foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(ledger), line)
    spark.stop()
  }
}
