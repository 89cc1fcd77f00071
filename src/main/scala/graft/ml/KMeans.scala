package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType}

import graft.sim.Similarity

/** First-class k-means clustering over an embedding column — the topic/
  * domain clustering step in front of mixture balancing, cluster-scoped
  * dedup (SemDeDup's regime) and per-cluster curation. Spherical
  * k-means: centroids L2-normalized, assignment by max dot product
  * (equivalently min angular distance) — the natural metric for
  * normalized text embeddings.
  *
  * Scale shape (the IVF coarse-quantizer discipline, shared code):
  * training runs driver-side on a bounded seeded sample (one corpus
  * pass, TakeOrdered top-`sampleSize` by seeded hash — never a full
  * collect), assignment is a narrow map with the centroids folded in as
  * literals via the native [[graft.functions.NearestCells]] loop. No
  * shuffle anywhere at any corpus size; the centroids are the only
  * driver-held state (k × dim doubles).
  */
object KMeans {

  /** Train on a seeded sample of `df` and return the centroids
    * (deterministic: same data + seed → same centroids everywhere). */
  def fit(df: DataFrame, vecCol: String, k: Int, iters: Int = 10,
          seed: Long = 42L, sampleSize: Int = 2048): Seq[Array[Double]] =
    Similarity.ivfCentroids(df, k, vecCol, seed, sampleSize, iters)

  /** Cluster id for a vector column against trained centroids — argmax
    * dot with ties to the LOWEST centroid index (the rule every oracle
    * replays), one compiled loop per row. */
  def assignTo(vec: Column, centroids: Seq[Array[Double]]): Column =
    element_at(Similarity.probeCells(
      vec.cast(ArrayType(DoubleType)), centroids, 1), 1)

  /** Train + assign: `df` plus a `cluster` int column. */
  def assign(df: DataFrame, vecCol: String, k: Int, iters: Int = 10,
             seed: Long = 42L, sampleSize: Int = 2048): DataFrame =
    df.withColumn("cluster", assignTo(col(vecCol), fit(df, vecCol, k,
      iters, seed, sampleSize)))

  /** Per-cluster audit: size + mean cosine of members to their centroid
    * (partial-agg shape: one narrow pass, one k-row exchange). */
  def clusterStats(df: DataFrame, vecCol: String,
                   centroids: Seq[Array[Double]]): DataFrame = {
    val v = col(vecCol).cast(ArrayType(DoubleType))
    val assigned = df.withColumn("cluster", assignTo(v, centroids))
    val cosToCentroid = graft.functions.GraftFunctions.cosine(
      v, element_at(array(centroids.map(c => lit(c)): _*),
        col("cluster") + 1))
    assigned
      .select(col("cluster"), cosToCentroid.as("cos"))
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n"), avg(col("cos")).as("mean_cos"))
  }
}
