package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window

/** Similarity search over embedding columns (SURVEY.md §2 rows 62–63).
  *
  * Embeddings are `array<float>` columns; all math is `zip_with` +
  * `aggregate` higher-order functions (codegen'd, no UDF). The brute-force
  * path broadcasts the (small) query set against the corpus; the LSH path
  * buckets both sides so candidate generation is an equi-join — the shape
  * that survives a 1000-executor scale-up.
  */
object Similarity {

  /** Dot product of two array<double> columns (sequential sum — the same
    * accumulation order a single-threaded oracle uses). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity; 0.0 for zero vectors. */
  def cosine(a: Column, b: Column): Column = {
    val d = norm(a) * norm(b)
    when(d === 0.0, lit(0.0)).otherwise(dot(a, b) / d)
  }

  /** Embedding dimensionality, probed from the first non-null vector
    * (driver-side, one-row action); clear error on empty/all-null input
    * instead of a bare NoSuchElementException. */
  def dimOf(df: DataFrame, vecCol: String): Int = {
    val probe = df.where(col(vecCol).isNotNull)
      .select(size(col(vecCol))).limit(1).collect()
    require(probe.nonEmpty,
      s"cannot infer embedding dimensionality: no non-null '$vecCol' rows")
    probe(0).getInt(0)
  }

  /** Deterministic random hyperplanes (seeded) for sign-LSH. Driver-side
    * literals — tiny (planes×dim doubles), inlined into codegen. */
  def hyperplanes(planes: Int, dim: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(planes)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** Sign-LSH bucket id: bit j = sign(v · plane_j). Vectors within a small
    * angle land in the same bucket with high probability. */
  def lshBucket(v: Column, planes: Seq[Seq[Double]]): Column =
    planes.zipWithIndex.foldLeft(lit(0L)) { case (acc, (p, j)) =>
      acc.bitwiseOR(
        // lit(Array) not typedLit(Seq): the latter needs TypeTag
        // reflection that fails under REPL/interpreter classloaders
        when(dot(v, lit(p.toArray)) >= 0.0, shiftleft(lit(1L), j)).otherwise(lit(0L)))
    }

  /** Exact top-k nearest neighbours by cosine for each query vector.
    *
    * The query set is broadcast (dims: a handful of rows); scoring is a
    * narrow map over the corpus; only the scored (query × corpus) rows
    * shuffle — partitioned by query — for the per-query top-k window.
    *
    * @param corpus  (id, vec) DataFrame — the searchable set
    * @param queries (qid, vec) DataFrame — must be broadcast-small
    */
  /** Widen under-partitioned inputs so scoring parallelizes (one shared
    * implementation — see [[graft.dedup.Dedup.widen]]). */
  private def widen(df: DataFrame): DataFrame = graft.dedup.Dedup.widen(df)

  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     idCol: String = "id", qidCol: String = "qid",
                     vecCol: String = "vec"): DataFrame = {
    val c = widen(corpus).select(col(idCol).as("id"),
      col(vecCol).cast(ArrayType(DoubleType)).as("cv"))
    val q = queries.select(col(qidCol).as("qid"),
      col(vecCol).cast(ArrayType(DoubleType)).as("qv"))
    val scored = c.crossJoin(broadcast(q))
      .select(col("qid"), col("id"),
        graft.functions.GraftFunctions.cosine(
          col("cv"), col("qv")).as("cosine"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cosine").desc, col("id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }

  /** Hard-negative mining for contrastive / reranker training: for each
    * anchor, the top-k most cosine-similar corpus rows whose label
    * DIFFERS from the anchor's — the "confusable" negatives a training
    * loop actually wants (easy negatives teach nothing; same-label
    * neighbours are positives, not negatives).
    *
    * Same plan shape as [[bruteForceTopK]]: the anchor set broadcasts,
    * the corpus is scored in a narrow map and never shuffles, the label
    * filter drops same-class pairs BEFORE the exchange, and only the
    * surviving (anchor × corpus) score rows shuffle — partitioned by
    * anchor — for the per-anchor top-k window. For corpora too large to
    * brute-force, pre-bucket with [[lshTopK]]/[[ivfTopKWith]] and
    * anti-filter labels the same way.
    *
    * @param corpus  (id, label, vec) — the searchable set
    * @param anchors (aid, label, vec) — must be broadcast-small
    */
  def hardNegatives(corpus: DataFrame, anchors: DataFrame, k: Int,
                    idCol: String = "id", aidCol: String = "qid",
                    labelCol: String = "label",
                    vecCol: String = "vec"): DataFrame = {
    val c = widen(corpus).select(col(idCol).as("id"),
      col(labelCol).as("__clab"),
      col(vecCol).cast(ArrayType(DoubleType)).as("cv"))
    val a = anchors.select(col(aidCol).as("qid"),
      col(labelCol).as("__alab"),
      col(vecCol).cast(ArrayType(DoubleType)).as("qv"))
    val scored = c.crossJoin(broadcast(a))
      .where(col("__clab") =!= col("__alab"))
      .select(col("qid"), col("id"),
        graft.functions.GraftFunctions.cosine(
          col("cv"), col("qv")).as("cosine"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cosine").desc, col("id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }

  /** Per-group elementwise centroid of embedding vectors — the class
    * prototype / cluster representative aggregation a curation pipeline
    * runs after clustering or labeling. One shuffle on (group, position);
    * sums go through decimal(28,12) so aggregation is order- and
    * partitioning-independent WITHIN the engine (a plain double sum
    * drifts with aggregation order); the mean divides back in double.
    *
    * Returns (group, centroid array<double>). Run-to-run deterministic;
    * for bit-parity ACROSS engines see [[groupCentroidsOrdered]] (the
    * double→decimal cast rounds half-way cases, and rounding modes differ
    * between engines — floats are dyadic, so exact half-way digits occur). */
  def groupCentroids(vecs: DataFrame, groupCol: String,
                     vecCol: String): DataFrame = {
    vecs.select(col(groupCol).as("grp"),
        posexplode(col(vecCol).cast(ArrayType(DoubleType))))
      .groupBy(col("grp"), col("pos"))
      .agg(sum(col("col").cast("decimal(28,12)")).as("s"),
        count(lit(1)).as("n"))
      .withColumn("m", col("s").cast(DoubleType) / col("n"))
      .groupBy("grp")
      .agg(sort_array(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .select(col("grp"),
        transform(col("pm"), x => x.getField("m")).as("centroid"))
  }

  /** Cross-engine-exact centroid variant: per (group, dim), values are
    * collected in `orderCol` order and folded sequentially in DOUBLE
    * precision — identical IEEE op order on any engine gives bit-equal
    * means (this is what the DuckDB oracle replays with list_reduce).
    * The per-(group,dim) list is group-sized, so prefer
    * [[groupCentroids]] when groups are huge and bit-parity with an
    * external engine is not required. */
  def groupCentroidsOrdered(vecs: DataFrame, groupCol: String,
                            vecCol: String, orderCol: String): DataFrame = {
    vecs.select(col(groupCol).as("grp"), col(orderCol).as("ord"),
        posexplode(col(vecCol).cast(ArrayType(DoubleType))))
      .groupBy(col("grp"), col("pos"))
      .agg(sort_array(collect_list(struct(col("ord"), col("col")))).as("vs"))
      .withColumn("m",
        aggregate(col("vs"), lit(0.0), (acc, x) => acc + x.getField("col"))
          / size(col("vs")))
      .groupBy("grp")
      .agg(sort_array(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .select(col("grp"),
        transform(col("pm"), x => x.getField("m")).as("centroid"))
  }

  /** IVF (inverted-file) approximate top-k: a coarse quantizer assigns
    * every corpus vector to its nearest of `nCells` centroids; a query
    * scores only the vectors in its `nProbe` closest cells.
    *
    * The quantizer is spherical k-means trained driver-side on a seeded
    * sample (centroids are tiny — nCells×dim doubles — and broadcast as
    * literals), so training cost is O(sample) regardless of corpus size.
    * Corpus assignment is a narrow map; candidate generation is an
    * equi-join on cell id — the same join-on-bucket shape as LSH, but
    * with data-adaptive buckets (better recall on clustered corpora).
    */
  /** Train the IVF coarse quantizer for a corpus: spherical k-means on a
    * seeded sample taken BEFORE any repartition (stable scan partitions →
    * the same centroids on every invocation over the same data — the
    * oracle replays this to embed the centroids it checks against). */
  def ivfCentroids(corpus: DataFrame, nCells: Int = 16,
                   vecCol: String = "vec", seed: Long = 42L,
                   sampleSize: Int = 2048, iters: Int = 10): Seq[Array[Double]] =
    trainCentroids(seededSampleVecs(corpus, vecCol, sampleSize, seed),
      nCells, iters, seed)

  /** Bounded seeded training sample for driver-side quantizer training
    * (shared by IVF and [[Pq]] product quantization). */
  private[graft] def seededSampleVecs(corpus: DataFrame, vecCol: String,
                                      sampleSize: Int,
                                      seed: Long): Array[Array[Double]] = {
    // null vectors are tolerated (dropped) everywhere else in this file;
    // here an included null would sort FIRST (null hash) into the sample
    // and NPE the driver-side k-means on .toArray
    val vecs = corpus.select(col(vecCol).cast(ArrayType(DoubleType)).as("cv"))
      .where(col("cv").isNotNull)
    // ONE corpus pass: the sampleSize smallest seed-salted hashes.
    // sort+limit is TakeOrderedAndProject (per-partition top-k, driver
    // merge of ≤ numPartitions×sampleSize candidates), hash order is
    // pseudorandom w.r.t. any data clustering so this is a uniform
    // seeded sample — unlike a bare limit() (head rows in partition
    // order → regional bias) or the previous count()-derived Bernoulli
    // fraction, which cost an extra full scan just to size itself.
    // canonical (content-lexicographic) order after collect: k-means
    // init shuffles the sample by seeded index, so training must depend
    // only on the sample SET, not on the hash order it arrived in
    vecs.sort(xxhash64(lit(seed), to_json(col("cv"))))
      .limit(sampleSize).collect().map(_.getSeq[Double](0).toArray)
      .sortBy(_.mkString(","))
  }

  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nCells: Int = 16, nProbe: Int = 4,
              idCol: String = "id", qidCol: String = "qid",
              vecCol: String = "vec", seed: Long = 42L,
              sampleSize: Int = 2048, iters: Int = 10): DataFrame =
    ivfTopKWith(corpus, queries, k,
      ivfCentroids(corpus, nCells, vecCol, seed, sampleSize, iters),
      nProbe, idCol, qidCol, vecCol)

  /** The `n` best cells for a vector by centroid dot product — argmin
    * of -dot with ties to the LOWEST index (the rule every oracle
    * replays), as ONE native compiled loop per row
    * ([[graft.functions.NearestCells]]). The previous Column
    * formulation (array of (-dot, i) structs → array_sort → slice)
    * evaluated an interpreted HOF dot PER CENTROID per row — invisible
    * at 16 cells, ~10 s/run at the 1024 cells a scaled SemDeDup needs.
    * Same values, same tie order (Double.compare total order), same
    * sequential per-dot summation. Shared by IVF search and semantic
    * (cluster-scoped) dedup. */
  def probeCells(v: Column, centroids: Seq[Array[Double]], n: Int): Column =
    graft.functions.NearestCells(v, centroids, n)

  /** IVF search against an already-trained quantizer (centroids shared
    * with recall specs and the correctness oracle). */
  def ivfTopKWith(corpus: DataFrame, queries: DataFrame, k: Int,
                  centroids: Seq[Array[Double]], nProbe: Int = 4,
                  idCol: String = "id", qidCol: String = "qid",
                  vecCol: String = "vec"): DataFrame = {
    val cVecs = widen(corpus).select(col(idCol).as("id"),
      col(vecCol).cast(ArrayType(DoubleType)).as("cv"))
    val assigned = cVecs.withColumn("cell",
      element_at(probeCells(col("cv"), centroids, 1), 1))
    val probed = queries.select(col(qidCol).as("qid"),
        col(vecCol).cast(ArrayType(DoubleType)).as("qv"))
      .withColumn("cell", explode(probeCells(col("qv"), centroids, nProbe)))
    // queries are broadcast-small BY CONTRACT (same as bruteForceTopK /
    // lshCandidates); without the hint a stats-less source can fall to a
    // shuffle join keyed on `cell` — ≤ nCells distinct values — which
    // would funnel the whole corpus into ≤ nCells reducers
    val scored = assigned.join(broadcast(probed), Seq("cell"))
      .select(col("qid"), col("id"),
        graft.functions.GraftFunctions.cosine(
          col("cv"), col("qv")).as("cosine"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cosine").desc, col("id"))
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** Driver-side spherical k-means over a sample (normalized centroids,
    * max-dot assignment) — deterministic given the seed. */
  private[graft] def trainCentroids(sample: Array[Array[Double]], kCells: Int,
                                    iters: Int, seed: Long): Seq[Array[Double]] = {
    require(sample.nonEmpty, "empty centroid-training sample")
    def normalize(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0) v else v.map(_ / n)
    }
    val rnd = new scala.util.Random(seed)
    var cents = rnd.shuffle(sample.toSeq).take(kCells).map(normalize).toArray
    (0 until iters).foreach { _ =>
      val sums = Array.fill(cents.length)(new Array[Double](sample.head.length))
      val counts = new Array[Int](cents.length)
      sample.foreach { v =>
        var best = 0; var bestDot = Double.NegativeInfinity
        cents.indices.foreach { j =>
          var d = 0.0; var i = 0
          while (i < v.length) { d += v(i) * cents(j)(i); i += 1 }
          if (d > bestDot) { bestDot = d; best = j }
        }
        var i = 0
        while (i < v.length) { sums(best)(i) += v(i); i += 1 }
        counts(best) += 1
      }
      cents = cents.indices.map(j =>
        if (counts(j) == 0) cents(j) else normalize(sums(j))).toArray
    }
    cents.toSeq
  }

  /** LSH-bucketed approximate top-k: multiple independent band signatures;
    * a candidate is any corpus vector sharing ≥1 band bucket with the
    * query (OR-amplification). Candidate generation is an equi-join on
    * (band, bucket) — no cross join anywhere — then exact cosine + top-k
    * on the (much smaller) candidate set. Recall tunes with bands/bits.
    *
    * bitsPerBand must stay high enough that buckets are selective: b bits
    * ⇒ 2^b buckets per band, and a random pair collides in ≥1 of `bands`
    * bands with p ≈ bands/2^b. At 12 bits × 8 bands that is ~0.2% of the
    * corpus per query; at 4 bits it would be ~40% — approximate in name
    * only. Default 12. */
  /** The LSH candidate stage alone: distinct (qid, id) pairs sharing ≥1
    * band bucket. Exposed so specs can assert the candidate BUDGET (the
    * whole point of LSH — a candidate set ≈ the corpus is brute force
    * with extra steps). */
  def lshCandidates(corpus: DataFrame, queries: DataFrame,
                    bands: Int = 8, bitsPerBand: Int = 12,
                    idCol: String = "id", qidCol: String = "qid",
                    vecCol: String = "vec", seed: Long = 42L): DataFrame = {
    val dim = dimOf(corpus, vecCol)
    val planeSets = (0 until bands).map(b =>
      hyperplanes(bitsPerBand, dim, seed + b))
    // METADATA-ONLY band join (same late-fetch rule as minhashLsh):
    // only (id, band, bucket) rows enter the exchange, never the vectors
    def banded(df0: DataFrame, id: String, out: String) =
      widen(df0).select(col(id).as(out),
          col(vecCol).cast(ArrayType(DoubleType)).as(s"${out}_v"))
        .select(col(out),
          // one native pass per vector — the per-band Column fold ran
          // bands×bits interpreted HOF dot products per row
          posexplode(graft.functions.LshExpressions.hyperplaneBands(
            col(s"${out}_v"), planeSets)).as(Seq("band", "bucket")))
    val cb = banded(corpus, idCol, "id")
    val qb = banded(queries, qidCol, "qid")
    // queries are the broadcast-small side (the ANN regime): the banded
    // CORPUS must never shuffle for candidate generation — at scale it is
    // the table
    cb.join(broadcast(qb), Seq("band", "bucket"))
      .select(col("qid"), col("id")).distinct()
  }

  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              bands: Int = 8, bitsPerBand: Int = 12,
              idCol: String = "id", qidCol: String = "qid",
              vecCol: String = "vec", seed: Long = 42L): DataFrame = {
    val cands = lshCandidates(corpus, queries, bands, bitsPerBand,
      idCol, qidCol, vecCol, seed)
    // late fetch: re-attach vectors only for the surviving candidates
    val cvv = corpus.select(col(idCol).as("id"),
      col(vecCol).cast(ArrayType(DoubleType)).as("cv"))
    val qvv = queries.select(col(qidCol).as("qid"),
      col(vecCol).cast(ArrayType(DoubleType)).as("qv"))
    val scored = cands.join(cvv, Seq("id")).join(broadcast(qvv), Seq("qid"))
      .select(col("qid"), col("id"),
        graft.functions.GraftFunctions.cosine(
          col("cv"), col("qv")).as("cosine"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cosine").desc, col("id"))
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }
}
