package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.text.TextOps

/** Corpus deduplication at 100 TB scale (SURVEY.md §2 rows 57–61).
  *
  * Every strategy follows the same scale shape: per-row signature (narrow,
  * codegen'd) → bucket key → shuffle ONLY on the bucket key → candidate
  * pairs inside buckets → exact refine. Never O(n²); the only wide ops are
  * equi-joins/groupBys on bucket keys, which AQE can re-plan for skew.
  */
object Dedup {

  /** Ensure enough partitions for the CPU-heavy narrow stages (shingling,
    * signatures). A small-file scan yields 1–2 partitions, serializing the
    * whole pipeline onto as many cores; at real scale scans are already
    * wide and this is a no-op. */
  private[graft] def widen(df: DataFrame): DataFrame = {
    // a streaming frame has no executedPlan to probe (and its
    // parallelism is the source's own partitioning) — pass through so
    // the shingle/simhash helpers compose onto streams
    if (df.isStreaming) return df
    val target = df.sparkSession.sparkContext.defaultParallelism
    df.queryExecution.executedPlan match {
      // an adaptive root means the plan carries exchanges: probing it
      // with execute() would EAGERLY run every upstream shuffle stage
      // (AdaptiveSparkPlanExec.doExecute materializes), and that work is
      // not reused by the later action — skip the probe; the exchange
      // itself already yields full parallelism downstream
      case _: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        df
      case plan =>
        // exchange-free plans (plain scans / local relations): execute()
        // only builds the RDD lazily, so the partition probe is free
        val parts = plan.execute().getNumPartitions
        if (parts < target) df.repartition(target) else df
    }
  }

  // ---- exact dedup (hash groupBy) -----------------------------------------
  /** Exact dedup on normalized content: one shuffle on the md5 key, keeps
    * the smallest id per group (deterministic winner). */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    // null text is UNKNOWN content, not identical content: md5(null) is
    // null and groupBy would pool every null-text doc into one giant
    // "duplicate" group whose losers a curation job then deletes.
    // (Empty strings stay — empty docs genuinely are exact duplicates.)
    widen(df.where(col(textCol).isNotNull))
      .select(col(idCol), TextOps.fingerprint(col(textCol)).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_cnt"))

  // ---- shingling -----------------------------------------------------------
  /** Distinct word n-gram shingles (the MinHash/Jaccard universe). Short
    * docs (< n tokens) collapse to a single whole-doc shingle. */
  def shingles(text: Column, n: Int = 3): Column = {
    val toks = TextOps.tokens(text)
    array_distinct(
      when(size(toks) < n, array(concat_ws(" ", toks)))
        .otherwise(transform(sequence(lit(0), size(toks) - n),
          i => concat_ws(" ", slice(toks, i + 1, lit(n))))))
  }

  /** Exact Jaccard between two shingle-SET columns (distinct elements —
    * the contract of every producer here): |∩| / (|a|+|b|-|∩|), computed
    * with ONE set operation. The previous |∪|-based form evaluated
    * array_union twice (conditional branches are not common-subexpression
    * merged), doubling the dominant per-pair refine cost. */
  def jaccard(a: Column, b: Column): Column = {
    val i = size(array_intersect(a, b))
    // both-empty => i = 0 and greatest(...,1) yields 0.0, no branch
    i.cast(DoubleType) /
      greatest(size(a) + size(b) - i, lit(1)).cast(DoubleType)
  }

  /** Shingle sets as distinct 64-bit hashes (array<long>): every
    * downstream op — minhash permutations, LSH bands, inverted indexes,
    * Jaccard refines — works on longs, so shuffles carry 8-byte keys
    * instead of ~100-char strings and string hashing happens once.
    * Same native expression (FNV-1a) as [[hashedShingleDF]], so the two
    * entry points share one hash universe — a caller refining one
    * against the other must see matching gram hashes. */
  def hashedShingles(text: Column, n: Int = 3): Column =
    graft.functions.ShingleExpressions.hashedShingles(text, n)

  /** (id, sh) with sh = hashed shingle set, built in STAGED projections.
    *
    * The staging is load-bearing: `slice(toks, i, n)` inside a `transform`
    * lambda re-evaluates its array operand PER OUTPUT ELEMENT, so an
    * inline `toks = filter(split(text))` makes shingling O(|doc|²) regex
    * work (measured 24µs/shingle). Materializing tokens as a projection
    * first makes the lambda read an attribute — Catalyst's CollapseProject
    * keeps non-cheap multiply-referenced aliases in their own projection,
    * so the split runs once per row. */
  def hashedShingleDF(df: DataFrame, idCol: String, textCol: String,
                      n: Int): DataFrame =
    // empty-doc filter on the RAW column so it pushes to the scan; the
    // native expression runs the tokenize→n-gram→hash→distinct loop as
    // one compiled call per row (the HOF formulation paid interpreted
    // per-element lambda dispatch — the measured dominant cost)
    widen(df.where(length(trim(col(textCol))) > 0))
      .select(col(idCol).as("id"),
        graft.functions.ShingleExpressions
          .hashedShingles(col(textCol), n).as("sh"))

  // ---- MinHash + LSH -------------------------------------------------------
  /** k-permutation MinHash signature as an array<long>.
    *
    * Each shingle string is hashed ONCE (FNV-1a in the native shingle
    * expression); the k permutations are seeded splitmix64 mixes of the
    * base hash, computed in plain JVM arithmetic inside the expression
    * (wraps mod 2^64 — SQL ANSI overflow checking never applies). The
    * mix must be NON-linear over GF(2): see the XorshiftMinhash scaladoc
    * for the correlated-orderings failure the earlier F2-linear xorshift
    * mix caused (a 0.92-Jaccard pair missing all LSH bands). */
  def minhashSignature(hashedShingleCol: Column, k: Int = 32): Column =
    graft.functions.ShingleExpressions.minhash(hashedShingleCol, k)

  /** (id, band, bh) banded MinHash signatures of a hashed-shingle frame —
    * the LSH bucket table [[minhashLsh]] self-joins, exposed so the
    * incremental path ([[Incremental]]) buckets a delta shard with the
    * EXACT same signature/band formula as the batch path (any drift would
    * silently lose cross-shard candidates). Metadata-only rows: the
    * shingle arrays never ride this frame. */
  private[dedup] def bandedSignatures(sh: DataFrame, numHashes: Int,
                                      bands: Int): DataFrame = {
    val rows = numHashes / bands
    sh.withColumn("sig", minhashSignature(col("sh"), numHashes))
      .select(col("id"),
        posexplode(array((0 until bands).map(b =>
          xxhash64(slice(col("sig"), b * rows + 1, rows))): _*))
          .as(Seq("band", "bh")))
  }

  /** MinHash+LSH near-duplicate pairs.
    *
    * bands×rows decomposition of the signature: docs sharing ANY band
    * bucket become candidates (shuffle on (band, bandHash) only — the
    * standard sub-quadratic LSH join), then exact Jaccard refine.
    *
    * @return (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold.
    */
  def minhashLsh(df: DataFrame, idCol: String, textCol: String,
                 numHashes: Int = 32, bands: Int = 8,
                 threshold: Double = 0.7, shingleN: Int = 3): DataFrame = {
    require(numHashes % bands == 0,
      s"numHashes ($numHashes) must be divisible by bands ($bands) — " +
        "integer division would silently drop trailing permutations from every band")
    // sh feeds three plan branches (both band-join sides + the refine);
    // persist it — a few bytes per shingle — or every branch re-tokenizes
    // the corpus and re-compiles the signature codegen
    val sh = graft.core.Intermediates.track(
      hashedShingleDF(df, idCol, textCol, shingleN)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // band hash per signature slice; the band join is METADATA-ONLY —
    // (id, band, bh) rows, never the shingle arrays (8× array replication
    // through the exchange otherwise; same late-fetch rule as multimodal)
    val banded = bandedSignatures(sh, numHashes, bands)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.core.Intermediates.track(banded)
    // alias self-join over the persisted bands: each side reads the cache
    val cands = banded.as("l").join(banded.as("r"),
        col("l.band") === col("r.band") && col("l.bh") === col("r.bh"))
      .where(col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .distinct()                                  // dedupe multi-band hits
    // late fetch: re-attach shingle sets only for surviving candidates
    cands
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  // ---- SimHash -------------------------------------------------------------
  /** 64-bit SimHash per doc: per-token 64-bit hashes vote ±1 per bit
    * position; the sign vector packs back into one long.
    *
    * Entirely NARROW: token hashes live in a per-row array and each bit's
    * vote is an `aggregate` fold over it — no explode, no shuffle of
    * (doc, token) rows (an explode+groupBy shape would exchange |tokens|
    * rows; this shape exchanges nothing). */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame =
    // blank docs all hash to simhash 0 — without this filter (same rule
    // as hashedShingleDF) a corpus with m empty docs turns the banded
    // self-join into one bucket of C(m,2) pairs, the exact quadratic
    // blowup the pigeonhole split exists to avoid
    widen(df.where(length(trim(col(textCol))) > 0))
      .select(col(idCol).as("id"),
        graft.functions.ShingleExpressions.simhash(col(textCol)).as("simhash"))

  /** SimHash near-dup pairs within `maxDist` Hamming bits. Pigeonhole LSH:
    * split 64 bits into (maxDist+1) chunks — any pair within maxDist must
    * agree on ≥1 chunk, so the join is equi on (chunk, value), then a
    * bit_count refine. Sub-quadratic, shuffle only on chunk buckets. */
  def simhashPairs(sims: DataFrame, maxDist: Int = 3): DataFrame = {
    val chunks = maxDist + 1
    val width = 64 / chunks
    val banded = sims.select(col("id"), col("simhash"),
      posexplode(array((0 until chunks).map(c =>
        shiftrightunsigned(col("simhash"), c * width)
          .bitwiseAND(lit((1L << width) - 1))): _*)).as(Seq("chunk", "cv")))
    banded.as("l").join(banded.as("r"),
        col("l.chunk") === col("r.chunk") && col("l.cv") === col("r.cv"))
      .where(col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"),
        bit_count(col("l.simhash").bitwiseXOR(col("r.simhash"))).as("hamming"))
      .where(col("hamming") <= maxDist)
      .distinct()
  }

  // ---- n-gram Jaccard (set-similarity join) --------------------------------
  /** Inverted-index set-similarity join: explode PREFIX shingles (the
    * AllPairs filter below — lossless), drop shingles whose prefix
    * document frequency exceeds `maxDocFreq`, count co-occurrences per
    * pair, then exact-Jaccard refine against the full shingle sets.
    *
    * RECALL CAVEAT — the df ceiling is NOT lossless: a qualifying pair
    * whose EVERY shared prefix shingle occurs in > maxDocFreq document
    * prefixes (ubiquitous boilerplate templates) generates no candidate
    * and is silently missed. On corpora where n-gram shingles are
    * near-unique (this engine's oracle corpus: median df = 1) the cap
    * only removes candidate noise; on template-heavy corpora raise
    * `maxDocFreq` (at quadratic candidate cost for those shingles) or
    * pre-strip the boilerplate. The same precondition is documented at
    * the q_dedup_jaccard oracle. */
  def ngramJaccard(df: DataFrame, idCol: String, textCol: String,
                   n: Int = 3, threshold: Double = 0.6,
                   maxDocFreq: Int = 100): DataFrame = {
    val sh = graft.core.Intermediates.track(
      hashedShingleDF(df, idCol, textCol, n)
        // global element order (by hash value) for the prefix filter below
        .select(col("id"), array_sort(col("sh")).as("sh"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // AllPairs/PPJoin prefix filter (Bayardo et al. WWW'07, Xiao et al.
    // WWW'08): a pair with jaccard >= t must share an element within each
    // side's first |x| - ceil(t*|x|) + 1 elements under any global order,
    // so indexing ONLY prefixes is LOSSLESS for qualifying pairs while
    // shrinking the inverted index ~(1-t)x and random candidate
    // collisions ~(1-t)^2 x. (A qualifying pair's shared prefix element
    // has prefix-df >= 2 by the same lemma, so the rare-shingle floor
    // below still admits it.)
    val plen = size(col("sh")) -
      ceil(size(col("sh")) * threshold).cast(IntegerType) + 1
    val inv = sh.select(col("id"),
      explode(slice(col("sh"), lit(1), plen)).as("g"))
    val rare = inv.groupBy(col("g")).agg(count(lit(1)).as("df"))
      .where(col("df") <= maxDocFreq && col("df") >= 2)
    val filtered = graft.core.Intermediates.track(
      inv.join(rare.select("g"), Seq("g"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val cands = filtered.as("l").join(filtered.as("r"),
        col("l.g") === col("r.g"))
      .where(col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("common"))
    cands
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  // ---- embedding-cosine near-dup -------------------------------------------
  /** Near-duplicates by embedding cosine: banded random-hyperplane LSH
    * (a pair is a candidate when ANY band's full bucket matches —
    * OR-amplification, so recall at tight thresholds is ~1 instead of the
    * (1-θ/π)^planes of a single bucket) + exact cosine refine. The band
    * join is METADATA-ONLY — (id, band, bucket) rows, never the vectors;
    * vectors re-attach to surviving candidates only (late fetch). See
    * [[graft.sim.Similarity]] for the signature primitives.
    *
    * Default (PRODUCTION) preset: 10 planes × 6 bands. A pair at cosine c
    * with flip prob p = acos(c)/π matches one band with (1-p)^10 and
    * misses all 6 with (1-(1-p)^10)^6 — boundary recall ≈ 0.92 at
    * c = 0.95, ≈ 1 - 6e-6 at c = 0.999; precision is exact (cosine
    * refine). The structural-equality oracle query overrides to 12 bands
    * (miss prob 3e-11 — see q_dedup_cosine's scaladoc); production dedup
    * should not pay those extra 6 self-join passes.
    *
    * SCALE CONTRACT — `planes` must grow with the corpus: the bucket
    * space is 2^planes per band, so expected bucket occupancy is
    * n / 2^planes and candidate pairs grow with n² / 2^planes. Size
    * planes ≈ log₂(n) − log₂(targetBucketSize) (e.g. n = 10⁹, buckets
    * of ~1000 → planes ≈ 20); recall stays high because band-miss
    * probability at a tight threshold is (1-(1-p)^planes)^bands with
    * p = θ/π small. The same rule as SemDeDup's nCells. A corpus whose
    * DATA contains k-way near-duplicate groups (crawl boilerplate)
    * inherently emits O(k²) pairs per group regardless of bucketing —
    * for k beyond a handful, dedup with keep-one semantics
    * ([[semanticDedup]]'s connectedComponents composition) instead of
    * enumerating pairs. */
  /** The planes-sizing rule from the scale contract above, as API:
    * smallest `planes` keeping expected bucket occupancy ≤
    * `targetBucketSize` at `corpusRows` vectors (floored at the
    * 10-plane default). At n = 10⁹ and buckets of 1000 → 20 planes;
    * band-miss at cosine 0.999 with 6 bands is still < 1e-3, and
    * callers at tight thresholds should raise `bands` as planes grow
    * (recall math in [[embeddingCosine]]'s scaladoc). */
  def planesFor(corpusRows: Long, targetBucketSize: Int = 1000): Int = {
    require(corpusRows > 0 && targetBucketSize > 0,
      s"need positive corpusRows/targetBucketSize, got " +
        s"$corpusRows/$targetBucketSize")
    math.max(10, 64 - java.lang.Long.numberOfLeadingZeros(
      math.max(1L, corpusRows / targetBucketSize)))
  }

  /** [[embeddingCosine]] with the bucket space SIZED TO THE CORPUS:
    * one count() over the id column (trivially cheap next to the dedup
    * job itself) picks `planes` via [[planesFor]], and `bands` grows
    * with planes so boundary recall holds — per-band hit (1-p)^planes
    * shrinks as planes grow, so bands ∝ planes keeps the all-band miss
    * probability roughly fixed. The production entry point for corpora
    * whose size isn't known at call-site. */
  def embeddingCosineAuto(df: DataFrame, idCol: String, vecCol: String,
                          threshold: Double = 0.95,
                          targetBucketSize: Int = 1000,
                          seed: Long = 42L): DataFrame = {
    val n = df.select(col(idCol)).count()
    val planes = planesFor(math.max(1L, n), targetBucketSize)
    // 6 bands at the 10-plane floor, scaled ∝ planes above it
    val bands = math.max(6, (6 * planes + 9) / 10)
    embeddingCosine(df, idCol, vecCol, threshold, planes, bands, seed)
  }

  def embeddingCosine(df: DataFrame, idCol: String, vecCol: String,
                      threshold: Double = 0.95, planes: Int = 10,
                      bands: Int = 6, seed: Long = 42L): DataFrame = {
    import graft.sim.Similarity
    val dim = Similarity.dimOf(df, vecCol)
    val planeSets = (0 until bands).map(b =>
      Similarity.hyperplanes(planes, dim, seed + b))
    val vecs = graft.core.Intermediates.track(
      widen(df).select(col(idCol).as("id"),
          col(vecCol).cast(ArrayType(DoubleType)).as("v"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val banded = vecs.select(col("id"),
      // single native pass per vector (see HyperplaneBands scaladoc)
      posexplode(graft.functions.LshExpressions.hyperplaneBands(
        col("v"), planeSets)).as(Seq("band", "bucket")))
    val cands = banded.as("l").join(banded.as("r"),
        col("l.band") === col("r.band") && col("l.bucket") === col("r.bucket"))
      .where(col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .distinct()
    cands
      .join(vecs.select(col("id").as("id_a"), col("v").as("v_a")), Seq("id_a"))
      .join(vecs.select(col("id").as("id_b"), col("v").as("v_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        graft.functions.GraftFunctions.cosine(
          col("v_a"), col("v_b")).as("cosine"))
      .where(col("cosine") >= threshold)
  }

  // ---- semantic (cluster-scoped) dedup — SemDeDup ---------------------------
  /** SemDeDup-style semantic near-duplicate pairs (Abbas et al. 2023,
    * arXiv:2303.09540): k-means-cluster the embeddings with a coarse
    * quantizer, then compare pairs ONLY within a cluster — the candidate
    * structure is data-adaptive (clusters follow the corpus geometry)
    * where [[embeddingCosine]]'s LSH bands are data-oblivious. Pairs
    * crossing a cluster boundary are missed BY DESIGN — that is the
    * approximation that makes the method linear-ish; tight thresholds
    * put true near-dups at tiny angles, which the quantizer rarely
    * splits.
    *
    * Scale shape: assignment is one narrow codegen'd pass (centroids are
    * driver literals — train them on a seeded sample via
    * [[graft.sim.Similarity.ivfCentroids]]); the self-join shuffles each
    * side ONCE keyed by cell. `nCells` must scale with the corpus (the
    * SemDeDup paper uses 50k clusters at web scale) — both for join
    * parallelism (≤ nCells reducers) and because within-cluster work is
    * Σ|cluster|². Vectors do ride the cell shuffle here: unlike the LSH
    * paths a candidate pair appears in exactly ONE cell, so a
    * metadata-only join + two late-fetch joins would strictly add
    * shuffles.
    *
    * @return (cell, id_a, id_b, cosine) with id_a < id_b, cosine ≥
    *         threshold, cell = the shared cluster. */
  def semanticPairs(df: DataFrame, idCol: String, vecCol: String,
                    centroids: Seq[Array[Double]],
                    threshold: Double = 0.95): DataFrame = {
    import graft.sim.Similarity
    val assigned = widen(df).where(col(vecCol).isNotNull)
      .select(col(idCol).as("id"),
        col(vecCol).cast(ArrayType(DoubleType)).as("v"))
      .withColumn("cell",
        element_at(Similarity.probeCells(col("v"), centroids, 1), 1))
    assigned.as("l").join(assigned.as("r"),
        col("l.cell") === col("r.cell") && col("l.id") < col("r.id"))
      .select(col("l.cell").as("cell"),
        col("l.id").as("id_a"), col("r.id").as("id_b"),
        graft.functions.GraftFunctions.cosine(
          col("l.v"), col("r.v")).as("cosine"))
      .where(col("cosine") >= threshold)
  }

  /** Keep-one curation step shared by every near-dup strategy: given
    * the (id_a, id_b) pair graph any of the pair producers emit, drop
    * all but one representative (the min id, via
    * [[connectedComponents]]) per duplicate group. OUTPUT IS LINEAR in
    * the input — the right terminal op when duplicate groups can be
    * large (crawl boilerplate), where enumerating a k-way group's
    * O(k²) pairs is itself the cost. */
  def keepOne(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val drop = connectedComponents(pairs.select(col("id_a"), col("id_b")))
      .where(col("id") =!= col("label"))
      .select(col("id").as(idCol))
    df.join(drop, Seq(idCol), "left_anti")
  }

  /** Quality-aware cluster resolution: instead of [[keepOne]]'s min-id
    * survivor, keep each duplicate component's highest-`scoreCol` member
    * (ties → min id, so output is deterministic). This is the policy a
    * real curation pipeline wants — when a boilerplate cluster holds a
    * long original and nine truncated mirrors, min-id keeps whichever
    * crawled first; score keeps the best one. Returns
    * `(component, keep_id)` — linear in the doc count; join it back to
    * gate the corpus. The argmax is one partial-aggregated
    * `max(struct(score, -id))` per component — no window, no second
    * shuffle beyond the component join. */
  def keepBestByScore(docs: DataFrame, idCol: String, scoreCol: String,
                      pairs: DataFrame, maxIter: Int = 10,
                      driverEdgeThreshold: Long = 2000000L): DataFrame = {
    val comp = connectedComponents(pairs.select(col("id_a"), col("id_b")),
      maxIter, None, driverEdgeThreshold)
    docs.select(col(idCol).cast("long").as("id"), col(scoreCol).as("__s"))
      .join(comp, Seq("id"), "left")
      // docs outside the pair graph are their own singleton component
      .select(col("id"), col("__s"),
        coalesce(col("label"), col("id")).as("component"))
      .groupBy("component")
      .agg(max(struct(col("__s").as("s"), (-col("id")).as("negid"))).as("m"))
      .select(col("component"),
        (-col("m.negid")).cast("long").as("keep_id"))
  }

  /** The curation output of [[semanticPairs]]: the input minus all but
    * one representative (the min id, via [[connectedComponents]] on the
    * within-cluster pair graph) per semantic-duplicate group. */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    centroids: Seq[Array[Double]],
                    threshold: Double = 0.95): DataFrame =
    keepOne(df, idCol,
      semanticPairs(df, idCol, vecCol, centroids, threshold))

  // ---- connected components (cluster the pair graph) -----------------------
  /** Connected components of an (id_a, id_b) pair graph: one (id, label)
    * row per node, where label is the min id of the node's component (the
    * "canonical" doc). Both columns keep the input id type. A null id names
    * no node: integral rows holding one are dropped.
    *
    * Integral ids take one of two paths:
    *  - driver: edge sets at or below `driverEdgeThreshold` are collected
    *    and solved by one union–find on the driver — the broadcast-threshold
    *    philosophy: 2M edges cost about 150 MB of driver heap (the
    *    collected tuples plus the union–find arrays) and milliseconds of
    *    CPU, versus O(diameter) distributed rounds each
    *    costing whole shuffles. Pass 0 to force the distributed path (the
    *    specs and the chain-block queries do).
    *  - contraction: each partition runs the same union–find over its own
    *    edges (min id as root) and emits (node, local root) for every node
    *    it saw — narrow, no shuffle. Task memory is O(partition), like a
    *    sort buffer: about 32 B per edge plus 4 B per distinct node, in
    *    primitive arrays. One shuffle groups these stars by node into
    *    (id, rmin, roots), checkpointed; an accumulator in that same job
    *    counts the nodes with two or more local roots (a retried task can
    *    only over-count, so a 0 is sound). With none, rmin IS the global
    *    label and nothing more runs. Otherwise the cross-partition residue
    *    — the edges (rmin, r) for each such node's other roots — runs the
    *    min-label loop below, and one join relabels every node with its
    *    rmin's residue label (two local components that share a root share
    *    that node, and each root is the minimum of its local component, so
    *    the minimum over a residue component's roots is the global minimum).
    *
    * Other id types (strings) run the min-label loop over the whole graph:
    * neighbor-min propagation plus two pointer jumps per round, each round
    * checkpointed to keep lineage flat. `maxIter` bounds that loop's rounds
    * (on the residue, for integral ids); the last round must change no
    * label, else the call fails with "did not converge".
    *
    * `checkpointDir`: when set, every checkpoint is RELIABLE (parquet
    * under the dir) — survives executor loss, the right choice for
    * multi-hour 100 TB jobs. When unset, falls back to `localCheckpoint`
    * (executor-local blocks: fast, but lost state kills the job on
    * executor failure — acceptable only for short runs). */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 10,
                          checkpointDir: Option[String] = None,
                          driverEdgeThreshold: Long = 2000000L): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    checkpointDir.foreach(spark.sparkContext.setCheckpointDir)
    def ckpt(df: DataFrame): DataFrame =
      if (checkpointDir.isDefined) df.checkpoint() else df.localCheckpoint()
    // the id columns are looked up BY NAME — the frame may carry extra
    // or reordered columns (a positional take(2) once chose the driver
    // path from a leading non-id column and crashed the Long decode)
    val ids = pairs.select(col("id_a"), col("id_b"))
    // the type both id columns widen to (what a union of them yields)
    val idType = ids.select(col("id_a").as("id"))
      .union(ids.select(col("id_b").as("id"))).schema.head.dataType
    def typed(labels: DataFrame): DataFrame =
      labels.select(col("id").cast(idType).as("id"),
        col("label").cast(idType).as("label"))
    val edges = ids.select(col("id_a").cast(idType).as("a"),
      col("id_b").cast(idType).as("b"))
    val integralIds = Seq("id_a", "id_b").forall(n =>
      Seq(LongType, IntegerType, ShortType, ByteType)
        .contains(ids.schema(n).dataType))
    if (!integralIds) return typed(minLabelLoop(edges, maxIter, ckpt))

    val probed = driverEdgeThreshold > 0
    // persisted only when probed: the size probe and the solve that
    // follows would otherwise both run the caller's upstream plan
    val longEdges = {
      val e = edges.where(col("a").isNotNull && col("b").isNotNull)
        .select(col("a").cast(LongType), col("b").cast(LongType))
      if (probed) graft.core.Intermediates.track(e.persist()) else e
    }.as[(Long, Long)]
    val probeLimit = math.min(driverEdgeThreshold + 1, Int.MaxValue.toLong).toInt
    if (probed && longEdges.limit(probeLimit).count() <= driverEdgeThreshold)
      return typed(
        unionFindRoots(longEdges.collect().iterator).toSeq.toDF("id", "label"))

    val multiRoot = spark.sparkContext.longAccumulator("cc multi-root nodes")
    val stars = ckpt(longEdges.mapPartitions(unionFindRoots)
      .toDF("id", "root")
      .groupBy("id").agg(min("root").as("rmin"), collect_set("root").as("roots"))
      .as[(Long, Long, Array[Long])]
      .map { s => if (s._3.length > 1) multiRoot.add(1); s }
      .toDF("id", "rmin", "roots"))
    if (multiRoot.sum == 0)
      return typed(stars.select(col("id"), col("rmin").as("label")))
    val residue = stars.where(size(col("roots")) > 1)
      .select(col("rmin").as("a"), explode(col("roots")).as("b"))
      .where(col("a") =!= col("b"))
    val rootLabels = minLabelLoop(residue, maxIter, ckpt)
    typed(ckpt(stars.join(rootLabels, stars("rmin") === rootLabels("id"), "left")
      .select(stars("id"), coalesce(rootLabels("label"), stars("rmin")).as("label"))))
  }

  /** Union–find over one batch of edges (a partition's, or all of them on
    * the driver path): emits (node, root) for every node seen, root = the
    * min id of the node's component within the batch. Primitive arrays
    * only: edge endpoints are buffered in a `long[]`, the distinct ids
    * sorted, and an `int[]` parent over their indices (path halving) —
    * because the ids are sorted, the smaller index is the smaller id, so
    * linking the larger root under the smaller keeps the min as root. */
  private def unionFindRoots(es: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    var ends = new Array[Long](1024)
    var n = 0
    es.foreach { case (u, v) =>
      if (n + 2 > ends.length) ends = java.util.Arrays.copyOf(ends, ends.length * 2)
      ends(n) = u; ends(n + 1) = v; n += 2
    }
    val ids = java.util.Arrays.copyOf(ends, n)
    java.util.Arrays.sort(ids)
    var m = 0
    for (i <- 0 until n) if (m == 0 || ids(i) != ids(m - 1)) { ids(m) = ids(i); m += 1 }
    val parent = Array.range(0, m)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    def index(id: Long): Int = java.util.Arrays.binarySearch(ids, 0, m, id)
    for (i <- 0 until n by 2) {
      val (ru, rv) = (find(index(ends(i))), find(index(ends(i + 1))))
      if (ru < rv) parent(rv) = ru else if (rv < ru) parent(ru) = rv
    }
    Iterator.range(0, m).map(i => (ids(i), ids(find(i))))
  }

  /** Min-label propagation over an (a, b) edge set until no label changes:
    * each round is one edges⋈labels join, two pointer jumps and a
    * checkpoint. Returns (id, label) for every endpoint, read from the
    * last round's checkpoint. */
  private def minLabelLoop(pairs: DataFrame, maxIter: Int,
                           ckpt: DataFrame => DataFrame): DataFrame = {
    // both orientations in one pass over `pairs` (an explode, not a
    // union, which would run the caller's plan twice)
    val edges = graft.core.Intermediates.track(
      pairs.select(explode(array(struct(col("a"), col("b")),
          struct(col("b").as("a"), col("a").as("b")))).as("e"))
        .select("e.*").persist())
    var labels = edges.select(col("a").as("id")).distinct()
      .withColumn("label", col("id"))
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val neighborMin = edges.join(labels, edges("b") === labels("id"))
        .groupBy(edges("a").as("id")).agg(min(col("label")).as("nlabel"))
      val afterNb = labels.join(neighborMin, Seq("id"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nlabel"), col("label"))).as("label"),
          (coalesce(col("nlabel"), col("label")) < col("label")).as("changed"))
      // pointer jumping: label ← label's label, applied several times per
      // round. Plain neighbor-min needs O(component diameter) rounds (a
      // maxIter-long chain silently came back UNMERGED — caught by the
      // distributed-DBSCAN oracle, whose grid chains are long); each jump
      // contracts reference chains, and chaining k cached jumps after the
      // one edges join makes the per-round reach grow geometrically while
      // costing only k tiny label⋈label joins (the labels table is orders
      // of magnitude smaller than the edge set).
      // persist: each jump's self-join reads its input on BOTH sides, and
      // only the shuffle files — not the edges-join + aggregation that
      // produce it — would otherwise be shared between the branches
      afterNb.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // TWO chained jumps per round, not one: every round costs a fixed
      // overhead that dominates at every scale — a full edges⋈labels
      // shuffle-join at cluster scale, plus plan/codegen/checkpoint/
      // convergence-probe latency — while a jump is only a label⋈label
      // join on the (far smaller) label table. k jumps contract reference
      // chains by ~2^k per round instead of ~2, so worst-case chain
      // graphs converge in ~log₂(d)/k rounds (measured at sf0.1: the
      // 16-chain corpus drops from 5 rounds to 3; THREE jumps also gave
      // 3 rounds but paid one more join of plan+codegen per round — two
      // is the measured knee).
      val pinned = scala.collection.mutable.Buffer(afterNb)
      var cur = afterNb
      val jumps = 2
      for (k <- 1 to jumps) {
        val j = cur.as("l")
          .join(cur.select(col("id").as("lid"), col("label").as("llabel"))
            .as("r"), col("l.label") === col("r.lid"), "left")
          .select(col("l.id").as("id"),
            least(col("l.label"),
              coalesce(col("llabel"), col("l.label"))).as("label"),
            (col("l.changed") ||
              coalesce(col("llabel"), col("l.label")) < col("l.label"))
              .as("changed"))
        // persist only jumps that are RE-READ (both sides of the next
        // jump's self-join); the final jump is consumed exactly once by
        // ckpt(), so caching it would be a pure wasted cache write
        if (k < jumps) {
          j.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          pinned += j
        }
        cur = j
      }
      // checkpoint FIRST (with the tiny `changed` flag aboard), then test
      // convergence on the checkpointed frame — testing the raw plan would
      // evaluate the iteration's join twice per loop
      val materialized = ckpt(cur)
      pinned.foreach(_.unpersist())
      val anyChanged = materialized.where(col("changed")).limit(1).count() > 0
      labels = materialized.select("id", "label")
      converged = !anyChanged
      iter += 1
    }
    // exiting at maxIter with labels still moving means some component
    // carries MULTIPLE labels — silently returning would make downstream
    // dedup keep both copies of a duplicate cluster (this exact failure
    // was once only caught by an external oracle). Fail loudly; raising
    // maxIter is cheap because pointer jumping contracts geometrically.
    if (!converged)
      sys.error(s"connectedComponents did not converge in $maxIter " +
        "iterations — labels were still changing; raise maxIter")
    labels
  }
}
