package graft.core

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{LongType, StructType}

/** The graft dataflow pipe: one method per Pig Latin operator, declared
  * against the DataFrame API so Catalyst plans it (pushdown, pruning,
  * AQE, broadcast, whole-stage codegen).
  *
  * The reference models a dataflow as a graph of `PigOperator`s connected
  * by `Pipe`s (reference: src/main/scala/dbis/piglet/op/PigOperator.scala,
  * op/Pipe.scala) and emits RDD code per operator. graft instead keeps the
  * whole dataflow a single Catalyst logical plan.
  */
final case class Pipe(df: DataFrame) {
  def spark = df.sparkSession
  def schema: StructType = df.schema

  // ---- FOREACH ... GENERATE (flat) --------------------------------------
  /** reference: op/Foreach.scala (GeneratorList). Projection — pruned at scan. */
  def generate(exprs: Column*): Pipe = Pipe(df.select(exprs: _*))
  def generateNamed(exprs: (Column, String)*): Pipe =
    Pipe(df.select(exprs.map { case (c, n) => c.as(n) }: _*))

  // ---- FILTER ------------------------------------------------------------
  /** reference: op/Filter.scala. Predicate — pushed to the scan by Catalyst. */
  def where(cond: Column): Pipe = Pipe(df.filter(cond))

  // ---- DISTINCT / LIMIT / SAMPLE / ORDER BY -------------------------------
  /** reference: op/Distinct.scala — hash-shuffle dedup w/ map-side combine. */
  def distinctRows: Pipe = Pipe(df.distinct())

  /** reference: op/Limit.scala. Spark LocalLimit+GlobalLimit — no full collect. */
  def limitTo(n: Int): Pipe = Pipe(df.limit(n))

  /** reference: op/Sample.scala — bernoulli sample, no shuffle. */
  def sampleRows(fraction: Double, seed: Long = 42L): Pipe =
    Pipe(df.sample(withReplacement = false, fraction, seed))

  /** Deterministic sample: keep rows whose md5-derived bucket (0–99) of
    * the key columns falls under `percent`. Engine-independent (md5 of
    * the same key string buckets identically everywhere — unlike seeded
    * Bernoulli RNG streams), stable across retries/partitionings, no
    * shuffle; the reproducible-sampling idiom for production pipelines.
    *
    * Key encoding: each key casts to string with nulls mapped to a
    * sentinel (concat_ws would silently DROP nulls, making (null, x) and
    * (x) collide), joined on the 0x1F unit separator so composite keys
    * containing ordinary text cannot alias each other. Replicate the
    * same encoding in any cross-engine oracle (see q_sample's SQL). */
  def sampleByHash(percent: Int, keys: Column*): Pipe =
    Pipe(df.where(Pipe.hashBucket(keys) < percent))

  /** Stratified deterministic sample: per-stratum keep-percentages over
    * the same md5 bucket as [[sampleByHash]] — the quota-sampling idiom
    * for training-data curation (e.g. keep 100% of scarce languages, 5%
    * of the dominant one). Strata not named in `rates` keep
    * `defaultPercent`. Pure narrow filter: no shuffle, no per-stratum
    * pass — one scan whatever the stratum count, reproducible across
    * engines/retries/partitionings. */
  def stratifiedSampleByHash(strata: Column, rates: Map[String, Int],
                             defaultPercent: Int, keys: Column*): Pipe = {
    val pct = rates.foldLeft(lit(defaultPercent)) { case (acc, (k, p)) =>
      when(strata === k, lit(p)).otherwise(acc)
    }
    Pipe(df.where(Pipe.hashBucket(keys) < pct))
  }

  /** Exact-quota sampling: at most `k` rows per group, chosen by the
    * deterministic md5 hash order over `keys` — the "cap every domain at
    * N documents / balance languages by count" curation idiom where a
    * RATE cannot express the bound (a 1M-doc host and a 200-doc host
    * both cap at k). Same key encoding as [[sampleByHash]], so the
    * chosen rows reproduce across engines, retries and repartitionings,
    * and stay STABLE under corpus growth (a kept row is only ever
    * displaced by a new row hashing ahead of it, never by reshuffling).
    * A [[topPerGroup]]: in a graft session map-side bounded heaps prune
    * to ≤ k rows per group per partition BEFORE the exchange — at 100 TB
    * the shuffle carries ≤ k·partitions rows per group, not the group. */
  def quotaSampleByHash(group: Column, k: Int, keys: Column*): Pipe =
    topPerGroup(k, Seq(group),
      Seq(Pipe.hashOrderKey(keys).asc, Pipe.hashKeyEncoding(keys).asc))

  /** Mixture sampling toward a TARGET composition (the pre-training
    * data-mixing idiom: "the output should be 50% en / 25% de / 25% fr"
    * regardless of what the corpus composition is). Per-stratum
    * keep-rates are DERIVED from the data: with n_g rows in stratum g
    * and target weight w_g, the largest feasible output T =
    * min_g(n_g / w_g) (the scarcest stratum binds — no stratum can give
    * more rows than it has), and stratum g keeps
    * floor(100 · w_g · T / n_g) percent through the same deterministic
    * md5 bucket as [[sampleByHash]] (1% rate granularity).
    *
    * Strata NOT named in `targets` are dropped — the output is the
    * mixture. The rate table is computed IN-PLAN (one tiny aggregation —
    * the global min runs over ≤ targets.size rows) and re-attached by a
    * bounded broadcast (≤ targets.size rows by construction), so the
    * corpus itself gets one narrow scan + filter: no driver collect, no
    * second pass, reproducible across engines/retries/partitionings. */
  def mixtureSampleByHash(strata: Column, targets: Map[String, Double],
                          keys: Column*): Pipe = {
    require(targets.nonEmpty, "mixtureSampleByHash: empty target mixture")
    require(targets.values.forall(_ > 0),
      s"mixtureSampleByHash: target weights must be > 0, got $targets")
    val clash = df.columns.toSet.intersect(Set("__grp", "__w", "__n", "__t", "__pct"))
    require(clash.isEmpty,
      s"mixtureSampleByHash: input already has reserved column(s) ${clash.mkString(", ")}")
    val sp = df.sparkSession
    val tgt = sp.createDataFrame(
      java.util.Arrays.asList(
        targets.toSeq.sortBy(_._1).map { case (g, w) => Row(g, w) }: _*),
      StructType(Seq(
        org.apache.spark.sql.types.StructField("__grp",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("__w",
          org.apache.spark.sql.types.DoubleType))))
    val counts = df
      .groupBy(strata.cast(org.apache.spark.sql.types.StringType).as("__grp"))
      .agg(count(lit(1))
        .cast(org.apache.spark.sql.types.DoubleType).as("__n"))
    // single-partition window is SAFE here: it runs over the joined
    // rate table (≤ targets.size rows), never the corpus
    val wAll = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val rates = counts.join(tgt, Seq("__grp"))
      .withColumn("__t", min(col("__n") / col("__w")).over(wAll))
      .select(col("__grp"),
        floor(lit(100.0) * col("__w") * col("__t") / col("__n"))
          .cast(org.apache.spark.sql.types.IntegerType).as("__pct"))
    Pipe(df
      .join(broadcast(rates),
        strata.cast(org.apache.spark.sql.types.StringType) === col("__grp"))
      .where(Pipe.hashBucket(keys) < col("__pct"))
      .drop("__grp", "__pct"))
  }

  /** Robust per-group outlier detection (median/MAD, not mean/σ — one
    * pathological document would drag a mean-based gate): flags rows
    * with |x − median_g| > k·MAD_g. The per-group medians and MADs are
    * tiny aggregates re-attached by bounded null-safe broadcasts (a
    * NULL-group stats row exists and `<=>` matches it, so null-group
    * rows pass through flagged like any other group), so the corpus
    * itself is never exchanged — narrow scans only.
    *
    * Two percentile regimes, the Profile/Overlap exact-vs-sketch split:
    *
    *  - `approx = false` (default, oracle-replayable): exact
    *    `percentile`. PRECONDITION — its aggregation state buffers the
    *    per-group (value → count) multiset, so the column must have a
    *    bounded DISTINCT domain (integer-ish scores like n_chars: state
    *    ∝ distinct values, fine at any row count). On a continuous
    *    double column a single giant group's state approaches the group
    *    itself. With an integer-valued column the medians land on .0/.5
    *    halves: exact in doubles, so the flag boundary is cross-engine
    *    deterministic.
    *  - `approx = true` (continuous domains / 100 TB posture):
    *    `approx_percentile` — bounded KLL-style sketch state per group
    *    regardless of domain, at the cost of rank error ≤ 1/accuracy.
    *    Flags near the k·MAD boundary can differ from exact; margins
    *    larger than the rank error cannot.
    *
    * MAD_g = 0 (constant group) flags any deviation, k·0 = 0. */
  def madOutliers(group: Column, value: Column, k: Double = 3.0,
                  flagCol: String = "is_outlier",
                  approx: Boolean = false,
                  accuracy: Int = 10000): Pipe = {
    require(k > 0, s"madOutliers: k must be > 0, got $k")
    require(accuracy > 0, s"madOutliers: accuracy must be > 0, got $accuracy")
    val clash = df.columns.toSet.intersect(Set("__grp", "__med", "__mad"))
    require(clash.isEmpty && !df.columns.contains(flagCol),
      s"madOutliers: input already has reserved column(s) " +
        (clash + flagCol).mkString(", "))
    val g = group.cast(org.apache.spark.sql.types.StringType)
    val v = value.cast(org.apache.spark.sql.types.DoubleType)
    def median(c: Column): Column =
      if (approx) approx_percentile(c, lit(0.5), lit(accuracy))
      else percentile(c, lit(0.5))
    val med = df.groupBy(g.as("__grp"))
      .agg(median(v).as("__med"))
    val withMed = df.join(broadcast(med), g <=> col("__grp"))
    val mad = withMed.groupBy(col("__grp"))
      .agg(median(abs(v - col("__med"))).as("__mad"))
      .withColumnRenamed("__grp", "__grp2")
    Pipe(withMed.join(broadcast(mad), col("__grp") <=> col("__grp2"))
      .withColumn(flagCol, abs(v - col("__med")) > lit(k) * col("__mad"))
      .drop("__grp", "__grp2", "__med", "__mad"))
  }

  /** Per-group top-fraction filter (quality pruning that a GLOBAL
    * threshold can't express: "keep the best pct% of every language/
    * domain" — a global cutoff would wipe out whole low-scoring groups).
    * Keeps the `pct`% highest-`score` rows of each group, k_g =
    * ⌈pct·n_g/100⌉ computed in INTEGER arithmetic ((pct·n+99) div 100 —
    * no fp ceil(0.3·10)=4-style boundary flips), ties broken by
    * `tieKeys` — callers must pass a totalizing tie key (an id) for
    * cross-engine determinism.
    * Shape: one exchange on the group key + per-partition sort (the
    * q_rank window shape); count rides the same window, so the corpus
    * is scanned once. The per-group k is data-dependent, so this shape
    * is not [[topPerGroup]]'s bounded-heap operator (which needs one
    * literal k); it is the exact, oracle-replayable default. */
  def topFracByGroup(group: Column, pct: Int, score: Column,
                     tieKeys: Column*): Pipe = {
    require(pct >= 1 && pct <= 100,
      s"topFracByGroup: pct must be in [1,100], got $pct")
    require(tieKeys.nonEmpty,
      "topFracByGroup: pass a totalizing tie key (e.g. the id column)")
    val clash = df.columns.toSet.intersect(Set("__rk", "__n"))
    require(clash.isEmpty,
      s"topFracByGroup: input already has reserved column(s) " +
        clash.mkString(", "))
    val order = score.desc +: tieKeys.map(_.asc)
    val w = Window.partitionBy(group).orderBy(order: _*)
    val wAll = Window.partitionBy(group)
    // rk ≤ ⌈pct·n/100⌉ ⇔ rk·100 ≤ pct·n + 99 for integer rk — all-long
    // arithmetic, no division (Spark's `/` would lift to double)
    Pipe(df
      .withColumn("__rk", row_number().over(w).cast(LongType))
      .withColumn("__n", count(lit(1)).over(wAll))
      .where(col("__rk") * 100L <= col("__n") * pct + 99L)
      .drop("__rk", "__n"))
  }

  /** Temperature-weighted group rebalancing (the multilingual-LM
    * `n^α` rule: sampling mass ∝ groupSize^α, α∈[0,1] — α=1 keeps the
    * natural distribution, α=0 is uniform over groups, α≈0.3–0.7 is the
    * usual upweight-the-tail regime). Derived rates: the largest-rate
    * group is kept in full and every other group keeps
    * floor(100·(n_min_ratio)^(1−α))% — the same in-plan rate table,
    * bounded broadcast and md5 bucket as [[mixtureSampleByHash]], so the
    * corpus gets one narrow scan + filter and results are reproducible
    * across engines/retries/partitionings. Strata count is the only
    * aggregated state (≤ #groups rows). */
  def temperatureSampleByHash(strata: Column, alpha: Double,
                              keys: Column*): Pipe = {
    require(alpha >= 0.0 && alpha <= 1.0,
      s"temperatureSampleByHash: alpha must be in [0,1], got $alpha")
    val clash = df.columns.toSet.intersect(Set("__grp", "__n", "__t", "__pct"))
    require(clash.isEmpty,
      s"temperatureSampleByHash: input already has reserved column(s) " +
        clash.mkString(", "))
    val counts = df
      .groupBy(strata.cast(org.apache.spark.sql.types.StringType).as("__grp"))
      .agg(count(lit(1))
        .cast(org.apache.spark.sql.types.DoubleType).as("__n"))
    // single-partition window is SAFE: ≤ #groups rows, never the corpus
    val wAll = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    // group keeps floor(100·(n_min/n)^(1−α))% — kept mass ∝ n^α. ONE pow
    // on the ratio (not n^α·n_min^(1−α)/n): the smallest group's ratio is
    // exactly 1.0, so its rate is exactly 100 — no fp 99-vs-100 flip, and
    // the oracle replays the identical expression. Rate clamped to ≥1:
    // a group >100^(1/(1−α))× the smallest would floor to 0% and be
    // silently DELETED, inverting the n^α "keep everything, reweight"
    // intent — the head of the corpus must survive rebalancing.
    val rates = counts
      .withColumn("__t", min(col("__n")).over(wAll))
      .select(col("__grp"),
        greatest(lit(1L),
          floor(lit(100.0) * pow(col("__t") / col("__n"), 1.0 - alpha)))
          .cast(org.apache.spark.sql.types.IntegerType).as("__pct"))
    Pipe(df
      .join(broadcast(rates),
        strata.cast(org.apache.spark.sql.types.StringType) === col("__grp"))
      .where(Pipe.hashBucket(keys) < col("__pct"))
      .drop("__grp", "__pct"))
  }

  /** Deterministic train/validation/test assignment over the same md5
    * bucket as [[sampleByHash]]: `splits` are ordered (name, percent)
    * pairs summing to 100; a row whose bucket falls in a split's
    * cumulative range gets that split's name in new column `outCol`.
    * Pure narrow map — no shuffle, reproducible across engines, retries
    * and repartitionings, and STABLE under corpus growth: a document's
    * assignment depends only on its own key, so rows never migrate
    * between train and eval when data is added (the property a
    * count-based `randomSplit` cannot give). */
  def splitByHash(splits: Seq[(String, Int)], keys: Column*): Pipe =
    splitByHashAs("split", splits, keys: _*)

  def splitByHashAs(outCol: String, splits: Seq[(String, Int)],
                    keys: Column*): Pipe = {
    require(splits.nonEmpty && splits.map(_._2).sum == 100,
      s"split percents must sum to 100, got $splits")
    require(splits.forall(_._2 > 0), s"split percents must be > 0: $splits")
    require(!df.columns.contains(outCol),
      s"splitByHash output column '$outCol' already exists in the input")
    val bucket = Pipe.hashBucket(keys)
    val uppers = splits.scanLeft(0)(_ + _._2).tail // cumulative bounds
    val assign = splits.init.zip(uppers.init)
      .foldRight(lit(splits.last._1): Column) {
        case (((name, _), hi), acc) => when(bucket < hi, name).otherwise(acc)
      }
    Pipe(df.withColumn(outCol, assign))
  }

  /** Systematic (low-variance) weighted resampling — the selection step
    * importance-weighting pipelines (DSIR and particle-filter mixing)
    * apply after computing integer weights: lay the documents end to
    * end in `orderCol` order, each occupying an interval of length =
    * its weight in cumulative-weight space [0, W), and select the k
    * grid points t_j = (2j+1)·W/(2k). A document's multiplicity is the
    * number of grid points inside its interval — E[m_i] = k·wᵢ/W
    * exactly, variance strictly below independent draws, and the whole
    * construction is INTEGER arithmetic, so it is deterministic and
    * cross-engine replayable (weights are fx longs, the same regime as
    * [[graft.text.Dsir]]; no float ordering, no RNG).
    *
    * Multiplicity has a closed form — no grid table, no range join:
    * m = ⌊(2k(c+w)+W−1) / 2W⌋ − ⌊(2kc+W−1) / 2W⌋, with the products in
    * DECIMAL(38,0) (2k·W can pass 2⁶³; quotients are ≤ k so the `div`
    * result is a plain long). Scale shape: one distributed prefix sum
    * ([[Pipe.exclusivePrefixSum]] — range partition + per-partition
    * window + driver offsets over numPartitions longs) and one narrow
    * arithmetic pass; the driver never sees rows.
    *
    * @param weightFx non-negative integral weights (rows with weight 0
    *                 are never selected); negative weights fail fast
    * @param k        number of grid points (Σ multiplicity = k exactly)
    * @param orderCol total order of the layout (unique key)
    * @return input rows that received ≥1 grid point, with their
    *         `multiplicity` (long) appended */
  def systematicResample(weightFx: Column, k: Int, orderCol: Column): Pipe = {
    require(k >= 1, s"systematicResample: k must be >= 1, got $k")
    val clash = df.columns.toSet.intersect(
      Set("__w", "__c", "__pid", "multiplicity"))
    require(clash.isEmpty, "systematicResample: input already has " +
      s"reserved column(s) ${clash.mkString(", ")}")
    val d = df.withColumn("__w",
      coalesce(weightFx.cast(org.apache.spark.sql.types.LongType), lit(0L)))
    val pre = Pipe.exclusivePrefixSum(d, Seq(orderCol.asc), "__w", "__c")
      .drop("__pid")
    // one bounded action: total weight + nonnegativity validation (a
    // silently-negative weight would corrupt every later interval)
    val row = pre.agg(coalesce(sum(col("__w")), lit(0L)),
      coalesce(min(col("__w")), lit(0L))).head()
    val (total, minW) = (row.getLong(0), row.getLong(1))
    require(minW >= 0, s"systematicResample: negative weight $minW")
    require(total > 0, "systematicResample: total weight is 0 — nothing selectable")
    val m2 = expr(
      s"((CAST(${2L * k} AS DECIMAL(38,0)) * (CAST(__c AS DECIMAL(38,0)) " +
        s"+ CAST(__w AS DECIMAL(38,0))) + CAST(${total} AS DECIMAL(38,0)) - 1) div " +
        s"(2 * CAST($total AS DECIMAL(38,0)))) - " +
      s"((CAST(${2L * k} AS DECIMAL(38,0)) * CAST(__c AS DECIMAL(38,0)) " +
        s"+ CAST(${total} AS DECIMAL(38,0)) - 1) div " +
        s"(2 * CAST($total AS DECIMAL(38,0))))")
    Pipe(pre.withColumn("multiplicity",
        m2.cast(org.apache.spark.sql.types.LongType))
      .where(col("multiplicity") >= 1)
      .drop("__w", "__c"))
  }

  /** reference: op/OrderBy.scala — range-partitioned total sort (scales:
    * each partition sorts locally after the range exchange). */
  def orderByCols(cols: Column*): Pipe = Pipe(df.orderBy(cols: _*))

  // ---- UNION / CROSS / set ops -------------------------------------------
  /** reference: op/Union.scala. Pig `UNION ONSCHEMA`: inputs align by
    * column name, and a column missing from an input null-pads. */
  def unionWith(others: Pipe*): Pipe =
    Pipe(others.foldLeft(df)((a, p) =>
      a.unionByName(p.df, allowMissingColumns = true)))

  /** Plain Pig `UNION`: positional. Every input must have this pipe's
    * arity, and this pipe's column names win. Bag semantics (UNION ALL). */
  def unionPositional(others: Pipe*): Pipe =
    Pipe(others.foldLeft(df) { (l, p) =>
      require(l.columns.length == p.df.columns.length,
        s"UNION arity mismatch: ${l.columns.length} vs " +
          s"${p.df.columns.length} columns (use UNION ONSCHEMA to " +
          "align by name)")
      l.union(p.df.toDF(l.columns: _*))
    })

  /** reference: op/Cross.scala. Catalyst broadcasts the small side. */
  def crossWith(other: Pipe): Pipe = Pipe(df.crossJoin(other.df))

  /** reference: op/Intersection.scala (set semantics). */
  def intersectWith(other: Pipe): Pipe = Pipe(df.intersect(other.df))

  /** reference: op/Difference.scala (set semantics). */
  def differenceWith(other: Pipe): Pipe = Pipe(df.except(other.df))

  // ---- JOIN ----------------------------------------------------------------
  /** reference: op/Join.scala. Equi-join on same-named keys; Catalyst/AQE pick
    * broadcast vs shuffle strategy, split skewed partitions at runtime. */
  def joinWith(other: Pipe, keys: Seq[String], joinType: String = "inner"): Pipe =
    Pipe(df.join(other.df, keys, joinType))

  /** Join on an arbitrary condition (Pig: JOIN a BY f1, b BY f2). */
  def joinOn(other: Pipe, cond: Column, joinType: String = "inner"): Pipe =
    Pipe(df.join(other.df, cond, joinType))

  /** Pig `JOIN ... USING 'replicated'` — force broadcast of the right side. */
  def joinReplicated(other: Pipe, cond: Column): Pipe =
    Pipe(df.join(broadcast(other.df), cond, "inner"))

  /** Pig `JOIN ... USING 'skewed'` — explicit salting for joins whose hot
    * keys overwhelm even AQE's skew splitting (AQE splits partitions, but
    * one monster key still lands in one task). The left (large, skewed)
    * side gets a random salt in [0, saltBuckets); the right side
    * replicates once per salt value; the join key becomes (key, salt), so
    * a hot key spreads over saltBuckets tasks. Right side should be the
    * smaller input. */
  def joinSkewed(other: Pipe, leftKey: String, rightKey: String,
                 saltBuckets: Int = 16, joinType: String = "inner"): Pipe = {
    // right/full outer would emit each unmatched right row once PER SALT
    require(joinType == "inner" || joinType == "left" ||
      joinType == "left_outer" || joinType == "leftouter",
      s"joinSkewed supports inner/left joins, got $joinType")
    val salted = df.withColumn("__salt",
      (rand(42L) * saltBuckets).cast("int"))
    val replicated = other.df.withColumn("__salt",
      explode(array((0 until saltBuckets).map(lit): _*)))
    Pipe(salted.join(replicated,
        salted(leftKey) === replicated(rightKey) &&
          salted("__salt") === replicated("__salt"), joinType)
      .drop("__salt"))
  }

  // ---- GROUP / COGROUP ------------------------------------------------------
  /** reference: op/Grouping.scala. Pig `GROUP a BY k` yields (group, bag):
    * `group` is the key, a struct of several keys, or 'all' for no keys
    * (`GROUP a ALL`). The bag is materialized ONLY here; aggregate-only
    * consumers should use [[groupAgg]] which keeps the partial-aggregation
    * (map-side combine) path. */
  def groupByBag(bagName: String, keys: Column*): Pipe = {
    val groupCol =
      if (keys.isEmpty) lit("all").as("group")
      else if (keys.size == 1) keys.head.as("group")
      else struct(keys: _*).as("group")
    val valueCols = struct(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*)
    Pipe(df.groupBy(groupCol).agg(collect_list(valueCols).as(bagName)))
  }

  /** Pig `GROUP a ALL` + aggregate FOREACH, fused: a single global
    * aggregation with map-side partials (also the ACCUMULATE fast path —
    * reference: op/Accumulate.scala uses RDD.aggregate for this). */
  def accumulate(aggs: Column*): Pipe = Pipe(df.agg(aggs.head, aggs.tail: _*))

  /** GROUP BY + aggregate FOREACH, fused into a hash aggregate. */
  def groupAgg(keys: Seq[Column], aggs: Seq[Column]): Pipe =
    Pipe(df.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*))

  // ---- SPLIT INTO -------------------------------------------------------------
  /** reference: op/SplitInto.scala. One pipe per predicate; the shared scan is
    * read once per branch (Catalyst caches nothing implicitly — callers can
    * `.materialize` the input if all branches are consumed). A row whose
    * predicate is null goes to no branch. */
  def splitInto(conds: Column*): Seq[Pipe] = conds.map(c => Pipe(df.filter(c)))

  /** Pig `SPLIT … OTHERWISE`: the rows [[splitInto]] routes to none of
    * `conds`, i.e. every condition is false or null. With no conditions,
    * every row. */
  def splitOtherwise(conds: Column*): Pipe =
    Pipe(df.filter(conds.map(c => !c || c.isNull).reduceOption(_ && _)
      .getOrElse(lit(true))))

  // ---- TOP / RANK ----------------------------------------------------------------
  /** reference: op/Top.scala. Global top-n: Spark plans sort+limit as
    * TakeOrderedAndProject — per-partition top-n, then merge; no total sort. */
  def top(n: Int, ordering: Column*): Pipe = Pipe(df.orderBy(ordering: _*).limit(n))

  /** Top-n rows per group, written as the standard window idiom
    * (`row_number() ≤ n`, rank dropped). In a [[GraftSession]] the
    * optimizer plans it as graft's partial/final operator
    * ([[graft.plans.TopKPerGroup]]): map-side bounded heaps prune to ≤ n
    * rows per group per partition BEFORE the exchange, where a window
    * would shuffle every row. Any other session plans Spark's window
    * with the same rows. Ties past the n-th are broken arbitrarily, so
    * pass a totalizing `ordering` for a deterministic result. */
  def topPerGroup(n: Int, groupKeys: Seq[Column], ordering: Seq[Column]): Pipe = {
    val w = Window.partitionBy(groupKeys: _*).orderBy(ordering: _*)
    Pipe(df.withColumn("__rn", row_number().over(w)).filter(col("__rn") <= n)
           .drop("__rn"))
  }

  /** Skyline: the Pareto-optimal set over `dims` — row p survives unless
    * some row q is at-least-as-good on EVERY dim and strictly better on
    * one (reference: src/it/resources/skyline.pig streams events through
    * an eventlib Skyline UDO; that jar is not in the reference tree, so
    * the dominance semantics here are the standard skyline definition).
    * Dims minimize by default; name a dim in `maximize` to flip it. Rows
    * with a null dim never dominate and never survive.
    *
    * Distributed two-phase, the same shape as [[topPerGroup]]'s
    * partial/final operator: a per-partition LOCAL skyline first (a
    * locally-dominated row cannot be in the global skyline — dominance
    * is transitive), then a final pass over the union of local skylines
    * on one partition. At scale the local phase prunes each partition to
    * ~skyline-cardinality rows (polylog n for independent dims), so the
    * single-partition merge sees sum-of-local-skylines, not n. */
  def skyline(dims: Seq[String], maximize: Set[String] = Set.empty): Pipe = {
    val idx = dims.map { d =>
      val i = df.columns.indexOf(d)
      require(i >= 0, s"skyline: no column $d")
      i
    }.toArray
    val sign = dims.map(d => if (maximize(d)) -1.0 else 1.0).toArray
    val enc = org.apache.spark.sql.Encoders.row(df.schema)

    def keysOf(r: org.apache.spark.sql.Row): Array[Double] = {
      val k = new Array[Double](idx.length)
      var i = 0
      while (i < idx.length) {
        if (r.isNullAt(idx(i))) return null
        val v = r.get(idx(i)) match {
          case n: java.lang.Number => n.doubleValue()
          case other => sys.error(s"skyline: non-numeric dim value $other")
        }
        // NaN compares false against everything, so a NaN row would never
        // be dominated and always "survive" — exclude it like null
        if (v.isNaN) return null
        k(i) = sign(i) * v
        i += 1
      }
      k
    }
    // a dominates b: <= everywhere, < somewhere (after maximize sign flip)
    def dominates(a: Array[Double], b: Array[Double]): Boolean = {
      var strict = false; var i = 0
      while (i < a.length) {
        if (a(i) > b(i)) return false
        if (a(i) < b(i)) strict = true
        i += 1
      }
      strict
    }
    def localSkyline(it: Iterator[org.apache.spark.sql.Row])
        : Iterator[org.apache.spark.sql.Row] = {
      val rows = scala.collection.mutable.ArrayBuffer
        .empty[(Array[Double], org.apache.spark.sql.Row)]
      it.foreach { r =>
        val k = keysOf(r)
        if (k != null && !rows.exists(e => dominates(e._1, k))) {
          rows.filterInPlace(e => !dominates(k, e._1))
          rows += ((k, r))
        }
      }
      rows.iterator.map(_._2)
    }
    val local = df.mapPartitions(localSkyline _)(enc)
    // repartition — NOT coalesce: coalesce(1) would fuse the local phase
    // into the single final task (no stage boundary), serializing the
    // whole scan; the shuffle keeps phase 1 wide and moves only the
    // pruned local skylines
    Pipe(local.repartition(1).mapPartitions(localSkyline _)(enc))
  }

  /** Pig `RANK a BY f` (ties share a rank). A naive global window would
    * collapse to ONE partition; instead the distinct key set is ranked by
    * a DISTRIBUTED prefix sum (range-sort + per-partition running totals
    * + driver-side offsets over numPartitions values) and joined back
    * with no broadcast hint — AQE broadcasts when the key set is small,
    * shuffle-joins when it is not. Safe for near-unique ranking keys
    * where the old broadcast-the-key-table idiom would OOM the driver. */
  def rankBy(ordering: Column, rankName: String = "rank"): Pipe =
    rankByKeys(Seq((ordering, false)), rankName)

  /** rankBy with per-key sort direction (Pig `RANK a BY f DESC, g ASC`). */
  def rankByKeys(keys: Seq[(Column, Boolean)], rankName: String = "rank"): Pipe = {
    val keyNames = keys.indices.map(i => s"__rank_key$i")
    val keyed = keys.zip(keyNames).foldLeft(df) {
      case (d, ((c, _), n)) => d.withColumn(n, c) }
    val dist = keyed.groupBy(keyNames.map(col): _*).agg(count(lit(1)).as("__cnt"))
    val ordering = keys.zip(keyNames).map {
      case ((_, desc), n) => if (desc) col(n).desc else col(n).asc }
    // distributed prefix rank over the distinct keys: rank = exclusive
    // prefix sum of the per-key multiplicities + 1
    val ranks0 = Pipe.exclusivePrefixSum(dist, ordering, "__cnt", rankName,
        shift = 1L)
      .drop("__cnt")
    // null-SAFE re-attach: a null ranking key must keep its rows
    // (plain equi-join drops them — null != null)
    val ranks = keyNames.foldLeft(ranks0)((d, n) =>
      d.withColumnRenamed(n, s"${n}_r"))
    val cond = keyNames.map(n => keyed(n) <=> ranks(s"${n}_r")).reduce(_ && _)
    Pipe(keyed.join(ranks, cond)
      .drop((keyNames ++ keyNames.map(n => s"${n}_r")): _*))
  }

  /** Pig `RANK a` (dense sequential ids in the given order), fully inside
    * Tungsten: range-sort, per-partition contiguous local ids from
    * `monotonically_increasing_id` (= partitionId<<33 | localRow), plus
    * driver-side per-partition offsets. No RDD round-trip — the previous
    * `rdd.zipWithIndex` formulation left codegen, re-encoded every Row
    * and ran an extra count job over raw rows; this runs the same two
    * passes but both vectorized (counts aggregate only longs). Limit:
    * 2^33 rows per partition (monotonic-id local counter width). */
  def zipWithIndex(ordering: Seq[Column], idxName: String = "index"): Pipe = {
    val sorted = if (ordering.nonEmpty) df.orderBy(ordering: _*) else df
    val mid = Intermediates.track(
      sorted.withColumn("__mid", monotonically_increasing_id())
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val pid = shiftrightunsigned(col("__mid"), 33).cast("int")
    val local = col("__mid").bitwiseAND(lit((1L << 33) - 1))
    val counts = mid.groupBy(pid.as("__pid")).agg(count(lit(1)).as("__cnt"))
      .orderBy(col("__pid")).collect()
      .map(r => r.getInt(0) -> r.getLong(1))
    val offsetCol = Pipe.partitionOffsets(counts, pid)
    Pipe(mid.withColumn(idxName, (offsetCol + local).cast(LongType))
      .drop("__mid"))
  }

  /** reference: op/Zip.scala (withIndex=false requires ≥2 inputs):
    * positional zip — row i of this relation pairs with row i of the
    * other. Each side gets an explicit ordering (cross-engine determinism
    * needs one; RDD zip would pair by raw partition order). Inner-joined
    * on the position, so the result truncates to the shorter input. */
  def zipWith(other: Pipe, thisOrdering: Seq[Column],
              otherOrdering: Seq[Column]): Pipe = {
    val l = zipWithIndex(thisOrdering, "__zip_idx").df
    val r0 = other.zipWithIndex(otherOrdering, "__zip_idx").df
    // zipping two same-schema bags is the common Pig case: disambiguate
    // clashing right-side names (Pig's alias::field analog) or every
    // downstream by-name access throws AMBIGUOUS_REFERENCE. The free-name
    // probe matters for CHAINED zips (ZIP a, b, c): the second zip's
    // right side must not reuse the `v_r` the first already minted
    val taken = scala.collection.mutable.Set(l.columns: _*)
    val r = r0.columns.foldLeft(r0) { (d, c) =>
      if (c == "__zip_idx" || !taken(c)) d
      else {
        var cand = s"${c}_r"
        var i = 2
        while (taken(cand) || r0.columns.contains(cand)) {
          cand = s"${c}_r$i"; i += 1 }
        taken += cand
        d.withColumnRenamed(c, cand)
      }
    }
    Pipe(l.join(r, "__zip_idx").drop("__zip_idx"))
  }

  // ---- STREAM THROUGH / user ops -----------------------------------------------
  /** reference: op/StreamOp.scala (`STREAM a THROUGH fn`) — arbitrary user
    * operator over the whole relation, composed into the plan. */
  def through(f: DataFrame => DataFrame): Pipe = Pipe(f(df))

  /** Per-partition imperative escape hatch (kept off the default path). */
  def throughPartitions(f: Iterator[Row] => Iterator[Row], schema: StructType): Pipe =
    Pipe(spark.createDataFrame(df.rdd.mapPartitions(f), schema))

  /** STREAM THROUGH an external binary (classic Pig `STREAM a THROUGH
    * `cmd``): one process PER PARTITION, rows piped to its stdin as
    * `fieldSep`-delimited text, stdout lines parsed back and cast to
    * `outSchema`. Fully distributed — no driver collect; a writer thread
    * feeds stdin concurrently so neither pipe buffer can deadlock. A
    * non-zero exit status fails the task (and with it the job) rather
    * than silently truncating output; so does a command that closes its
    * stdin before the partition is fully fed (`head`-style filters are
    * not supported — truncation must never look like success). */
  def throughCommand(cmd: Seq[String], outSchema: StructType,
                     fieldSep: String = "\t",
                     env: Map[String, String] = Map.empty): Pipe = {
    import org.apache.spark.sql.types.{StringType, StructField}
    val sep = fieldSep
    val cmdL = cmd.toList
    val envL = env.toList
    val strSchema = StructType(outSchema.fields.map(f =>
      StructField(f.name, StringType, nullable = true)))
    val piped = df.mapPartitions { it =>
      if (it.isEmpty) Iterator.empty
      else {
        import scala.jdk.CollectionConverters._
        val pb = new ProcessBuilder(cmdL.asJava)
        envL.foreach { case (k, v) => pb.environment().put(k, v) }
        pb.redirectError(ProcessBuilder.Redirect.INHERIT)
        val proc = pb.start()
        // a command that closes stdin early (e.g. `head`) breaks the pipe
        // mid-write; that means part of the partition never reached it, so
        // the failure must surface on the task thread, not die silently
        // with the daemon writer
        val writerError =
          new java.util.concurrent.atomic.AtomicReference[Throwable](null)
        val writer = new Thread(() => {
          val os = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
            proc.getOutputStream, java.nio.charset.StandardCharsets.UTF_8))
          try {
            it.foreach { row =>
              os.write(row.toSeq.map(v => if (v == null) "" else v.toString)
                .mkString(sep))
              os.newLine()
            }
            os.close()
          } catch { case t: Throwable => writerError.set(t) }
        }, "graft-stream-through-writer")
        writer.setDaemon(true)
        writer.start()
        val br = new java.io.BufferedReader(new java.io.InputStreamReader(
          proc.getInputStream, java.nio.charset.StandardCharsets.UTF_8))
        // downstream operators may abandon this iterator before it drains
        // (limit/take, task kill, speculation): reap the child at task
        // completion, or the process, its pipes, and the blocked writer
        // thread leak until the executor JVM exits
        Option(org.apache.spark.TaskContext.get()).foreach(
          _.addTaskCompletionListener[Unit] { _ =>
            if (proc.isAlive) proc.destroyForcibly()
            try br.close() catch { case _: java.io.IOException => () }
          })
        // the separator is a LITERAL delimiter on both directions ('|' or
        // '.' as a Pig delimiter must not be treated as a regex)
        val sepPattern = java.util.regex.Pattern.compile(
          java.util.regex.Pattern.quote(sep))
        new Iterator[Row] {
          private var nextLine: String = br.readLine()
          override def hasNext: Boolean = {
            if (nextLine == null) {
              // drained: reap the process and surface failures as task errors
              val code = proc.waitFor()
              writer.join(10000)
              if (code != 0) throw new RuntimeException(
                s"external command ${cmdL.mkString(" ")} exited with $code")
              val we = writerError.get()
              if (we != null) throw new RuntimeException(
                s"external command ${cmdL.mkString(" ")} stopped reading " +
                  "before the partition was fully fed (input truncated)", we)
              false
            } else true
          }
          override def next(): Row = {
            val fields = sepPattern.split(nextLine, -1)
              .padTo(strSchema.length, "").take(strSchema.length)
            nextLine = br.readLine()
            Row.fromSeq(fields.toSeq.map(s => if (s.isEmpty) null else s))
          }
        }
      }
    }(org.apache.spark.sql.Encoders.row(strSchema))
    Pipe(piped.select(outSchema.fields.map(f =>
      col(f.name).cast(f.dataType).as(f.name)).toSeq: _*))
  }

  // ---- MATERIALIZE / CACHE --------------------------------------------------------
  /** reference: op/Materialize.scala — checkpoint to an EXPLICIT path
    * (unconditional overwrite; the caller owns the location). */
  def materialize(path: String): Pipe = {
    df.write.mode(SaveMode.Overwrite).parquet(path)
    Pipe(spark.read.parquet(path))
  }

  /** Managed MATERIALIZE (reference: mm/MaterializationManager.scala):
    * content-addressed snapshot under `baseDir`, reused by any session
    * that rebuilds the same dataflow over unchanged inputs. */
  def materializeManaged(baseDir: String): Pipe =
    Pipe(Materializer.materialize(df, baseDir)._1)

  /** reference: op/Cache.scala. */
  def cached: Pipe = Pipe(df.cache())

  // ---- PARTITION ------------------------------------------------------------------
  /** reference: op/Partition.scala — explicit repartitioning on keys so a
    * downstream co-partitioned consumer avoids its shuffle. */
  def partitionBy(numPartitions: Int, keys: Column*): Pipe =
    Pipe(df.repartition(numPartitions, keys: _*))

  // ---- misc (DUMP / DESCRIBE / EMPTY / TIMING) --------------------------------------
  /** reference: op/Dump.scala / op/Display.scala. */
  def dump(n: Int = 20): Unit = df.show(n, truncate = false)

  /** reference: op/Describe.scala. */
  def describe: String = df.schema.treeString

  /** reference: op/Empty.scala. */
  def isEmpty: Boolean = df.isEmpty

  /** reference: op/Delay.scala (`DELAY a 10% 2 seconds`) — testing/demo
    * aid: pass `sampleFactor` (0..1) of the rows through, sleeping
    * `waitMs` once per partition ON EXECUTORS (the reference's
    * mapPartitions emission), never on the driver. The dialect's DELAY
    * runs here too. Kept off any production path. */
  def delay(sampleFactor: Double, waitMs: Long, seed: Long = 42L): Pipe = {
    val sampled =
      if (sampleFactor >= 1.0) df
      else df.sample(withReplacement = false, sampleFactor, seed)
    Pipe(sampled.mapPartitions { it =>
      if (waitMs > 0) Thread.sleep(waitMs)
      it
    }(org.apache.spark.sql.Encoders.row(sampled.schema)))
  }

  /** reference: op/Visualize.scala — piglet renders a plot image; graft's
    * analog exports the OPTIMIZED logical plan as Graphviz DOT (the
    * useful visualization for a Catalyst dataflow). */
  def toDot: String = {
    val plan = df.queryExecution.optimizedPlan
    val sb = new StringBuilder("digraph plan {\n  node [shape=box];\n")
    var id = 0
    def walk(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Int = {
      val me = id; id += 1
      val label = p.nodeName + " " + p.output.map(_.name).take(4).mkString(",")
      sb.append(s"""  n$me [label="${label.replace("\"", "'")}"];\n""")
      p.children.foreach { c =>
        val cid = walk(c)
        sb.append(s"  n$cid -> n$me;\n")
      }
      me
    }
    walk(plan)
    sb.append("}\n").toString
  }

  /** reference: op/TimingOp.scala — wall-clock an action over this pipe. */
  def timed[A](action: DataFrame => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = action(df)
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** reference: op/RScript.scala (`RSCRIPT a USING '<R code>'`).
    *
    * The reference collects the WHOLE relation to the driver and feeds an
    * in-JVM interpreter (reference: sparklib .../RScriptOp.scala:39 —
    * `m.collect` → `RInScala()`), which caps it at driver memory. graft
    * instead pipes each PARTITION through an external `Rscript` process
    * via [[throughCommand]]: the generated R program reads the partition
    * as a TSV matrix `inp` from stdin (`$_` in the user script is bound
    * to it, as in the reference), evaluates the script, and writes
    * `resObj` back as TSV. Distributed for row-local scripts; pass
    * `global = true` to coalesce to one partition first when the script
    * needs the whole matrix (same semantics as the reference, still
    * executor-side, no driver collect).
    *
    * `outCols` sets the result arity (reference results are Double
    * matrices; columns are named c0..c{n-1}); pass `outCols <= 0` to infer
    * it by probing the script on a bounded sample of head rows. `binary`
    * selects the engine: an external interpreter command, or the sentinel
    * `"builtin"` for [[graft.r.MiniR]] — an in-JVM evaluator for the
    * R-matrix subset the reference's scripts use (with `fpc::dbscan`
    * backed by a real DBSCAN, [[graft.ml.Dbscan]]) so R-less environments
    * run the reference's rscript workloads honestly. */
  def rscript(script: String, outCols: Int, resObj: String = "res",
              global: Boolean = false, binary: String = "Rscript"): Pipe = {
    import org.apache.spark.sql.types.{DoubleType, StructField}
    val userCode = script.replace("$_", "inp")
    val nOut =
      if (outCols > 0) outCols
      else if (binary != "builtin")
        sys.error("rscript: outCols inference (outCols <= 0) needs the " +
          "builtin engine; pass outCols explicitly for an external interpreter")
      else {
        // schema probe: run the script on <=32 head rows. Arity is
        // data-independent for matrix-in/matrix-out scripts; the probe is
        // bounded and driver-side only.
        val sample = df.limit(32).collect()
          .map(_.toSeq.map(toDoubleLossy).toArray)
        if (sample.isEmpty) df.columns.length
        else graft.r.MiniR.run(userCode, sample, resObj)
          .headOption.map(_.length).getOrElse(df.columns.length)
      }
    val outSchema = StructType((0 until nOut).map(i =>
      StructField(s"c$i", DoubleType, nullable = true)))
    val in = if (global) Pipe(df.coalesce(1)) else this
    if (binary == "builtin") {
      val code = userCode
      val res = resObj
      Pipe(in.df.mapPartitions { it =>
        val m = it.map(r => r.toSeq.map(toDoubleLossy).toArray).toArray
        if (m.isEmpty) Iterator.empty
        else graft.r.MiniR.run(code, m, res).iterator
          .map(a => org.apache.spark.sql.Row(a.map(Double.box).toIndexedSeq: _*))
      }(org.apache.spark.sql.Encoders.row(outSchema)))
    } else {
      // shipped as a -e argument (not a script file) so it reaches every
      // executor with the task — a driver-local temp file would not
      val program = Seq(
        """con <- file("stdin")""",
        """inp <- as.matrix(read.table(con, sep="\t"))""",
        userCode,
        s"""write.table($resObj, stdout(), sep="\\t", """ +
          "row.names=FALSE, col.names=FALSE)").mkString("; ")
      in.throughCommand(Seq(binary, "-e", program), outSchema)
    }
  }

  private def toDoubleLossy(v: Any): Double = v match {
    case null => Double.NaN
    case n: java.lang.Number => n.doubleValue()
    case s: String => try s.toDouble catch { case _: NumberFormatException => Double.NaN }
    case other => sys.error(s"rscript: non-numeric input value $other")
  }

  // ---- STORE ------------------------------------------------------------------------
  /** reference: op/Store.scala + sparklib Storage.scala (PigStorage=csv,
    * TextLoader=text, JsonStorage=json, BinStorage→orc/parquet binary
    * columnar, JdbcStorage=jdbc). jdbc targets are addressed by
    * options (url/dbtable), not a path. */
  def store(path: String, format: String = "parquet",
            options: Map[String, String] = Map.empty): Unit = {
    val w = df.write.mode(SaveMode.Overwrite).options(options).format(format)
    if (format == "jdbc") w.save() else w.save(path)
  }

  /** GLOBALLY-ORDERED shard export — the training-data delivery shape:
    * curriculum-ordered (or doc-id-ordered) shards of bounded size that
    * a trainer streams in sequence. `repartitionByRange` gives disjoint
    * cross-shard key ranges WITHOUT a single-partition global sort;
    * `sortWithinPartitions` orders inside each range; `maxRecordsPerFile`
    * rolls files at the cap, and a task's rolled files are written in
    * order — so concatenating shards by their minimum key replays the
    * corpus fully sorted. Scales: the sort is per-partition, the only
    * shuffle is the range exchange. */
  def storeSorted(path: String, ordering: Seq[Column],
                  maxRecordsPerFile: Long = 0L,
                  format: String = "parquet"): Unit = {
    require(ordering.nonEmpty, "storeSorted: no ordering columns")
    val w = df.repartitionByRange(ordering: _*)
      .sortWithinPartitions(ordering: _*)
      .write.mode(SaveMode.Overwrite).format(format)
    (if (maxRecordsPerFile > 0)
       w.option("maxRecordsPerFile", maxRecordsPerFile)
     else w).save(path)
  }

  /** Z-order clustered STORE — multi-column data layout for a corpus
    * that is filtered on MORE THAN ONE column (a linear sort prunes
    * file-level min/max stats for its leading column only; interleaving
    * quantile-bin bits gives EVERY layout column locality, so a
    * predicate on any of them skips most files). Quantile (equi-depth)
    * binning, not min/max scaling: skew can collapse uniform bins to
    * one bucket. Scale shape: one approxQuantile pass (driver holds
    * cols × (2^bits − 1) doubles), a narrow z-value map
    * ([[graft.functions.ZValueExpr]], one compiled pass), and the range
    * exchange — the same cost as [[storeSorted]]. */
  def storeZOrdered(path: String, zCols: Seq[String], bits: Int = 8,
                    maxRecordsPerFile: Long = 0L,
                    format: String = "parquet"): Unit = {
    require(zCols.nonEmpty, "storeZOrdered: no layout columns")
    require(!df.columns.contains("__z"),
      "storeZOrdered: input already has reserved column __z")
    val nBins = 1 << bits
    val probs = (1 until nBins).map(_.toDouble / nBins).toArray
    val asD = zCols.map(c => col(c).cast(
      org.apache.spark.sql.types.DoubleType).as(s"__zq_$c"))
    val bounds = df.select(asD: _*).stat
      .approxQuantile(zCols.map(c => s"__zq_$c").toArray, probs, 0.001)
      .map { bs =>
        // approxQuantile drops nulls; an all-null column yields an empty
        // array — degrade to a constant bin (that column contributes no
        // layout bits, the others still do)
        if (bs.isEmpty) Array.fill(nBins - 1)(0.0)
        else { java.util.Arrays.sort(bs); bs }
      }.toSeq
    val z = graft.functions.ZValueExpr(
      zCols.map(c => col(c).cast(org.apache.spark.sql.types.DoubleType)),
      bounds, bits)
    val w = df.withColumn("__z", z)
      .repartitionByRange(col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode(SaveMode.Overwrite).format(format)
    (if (maxRecordsPerFile > 0)
       w.option("maxRecordsPerFile", maxRecordsPerFile)
     else w).save(path)
  }

  /** STORE with a delivery manifest — the integrity artifact a training
    * run checks before trusting a shard set: per output file, row count
    * and an order-insensitive content checksum (bit-XOR of per-row
    * md5-derived 60-bit values over `keys` — the shared null-sentinel
    * key encoding, so the checksum is engine/retry/partitioning-
    * reproducible and any single-row corruption flips it; XOR cancels
    * IDENTICAL rows in pairs, which the row count covers). The manifest
    * is written as json under `path/_manifest/` (an underscore-prefixed
    * dir — invisible to parquet readers of `path`) and returned.
    * Scale shape: the manifest scan is one narrow pass over the written
    * files; the aggregation ships (file, count, xor) triples. */
  def storeWithManifest(path: String, keys: Seq[Column] = Nil,
                        maxRecordsPerFile: Long = 0L): DataFrame = {
    val w = df.write.mode(SaveMode.Overwrite).format("parquet")
    (if (maxRecordsPerFile > 0)
       w.option("maxRecordsPerFile", maxRecordsPerFile)
     else w).save(path)
    val back = spark.read.parquet(path)
    val ks = if (keys.nonEmpty) keys else back.columns.toSeq.map(col)
    val rowHash = conv(substring(md5(
        Pipe.hashKeyEncoding(ks)
          .cast(org.apache.spark.sql.types.BinaryType)), 1, 15), 16, 10)
      .cast(LongType)
    val manifest = back
      .select(input_file_name().as("file"), rowHash.as("__h"))
      .groupBy(col("file"))
      .agg(count(lit(1)).as("n_rows"), expr("bit_xor(__h)").as("checksum"))
    manifest.coalesce(1).write.mode(SaveMode.Overwrite)
      .json(s"$path/_manifest")
    manifest
  }

  /** Bucketed STORE: pre-shuffles on the bucket keys at write time so every
    * later equi-join/aggregation between tables bucketed the same way runs
    * WITHOUT an exchange — the piglet-era "co-located join" that its RDD
    * codegen could never express. Registers a managed table (bucketing
    * metadata lives in the catalog). */
  def storeBucketed(table: String, buckets: Int, keys: Seq[String],
                    sortKeys: Seq[String] = Nil): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, keys.head, keys.tail: _*)
    val sorted = if (sortKeys.nonEmpty) w.sortBy(sortKeys.head, sortKeys.tail: _*)
                 else w
    sorted.saveAsTable(table)
  }
}

object Pipe {
  /** reference: op/Grouping.scala with n inputs: Pig `COGROUP a BY ka,
    * b BY kb, …`. Each (pipe, keys, bagName) input becomes (group, bag)
    * through [[Pipe.groupByBag]]; the bags are full-outer joined on `group`
    * with null-safe `<=>`, so null keys form one group across the inputs
    * (Pig keeps each input's null group apart). A group missing from an
    * input gets an EMPTY bag of that input's bag type, never null (COUNT
    * over it is 0). Output: `group`, then one bag per input. */
  def cogroup(inputs: (Pipe, Seq[Column], String)*): Pipe = {
    val bagNames = inputs.map(_._3)
    require(bagNames.distinct.size == bagNames.size && !bagNames.contains("group"),
      s"cogroup: bag names must be distinct and not 'group': ${bagNames.mkString(", ")}")
    val joined = inputs.map { case (p, keys, bag) => p.groupByBag(bag, keys: _*).df }
      .reduceLeft { (l, r0) =>
        val r = r0.withColumnRenamed("group", "group_r")
        l.join(r, l("group") <=> r("group_r"), "full_outer")
          .select(coalesce(l("group"), r("group_r")).as("group") +:
            (l.columns.tail ++ r.columns.tail).map(c => col(s"`$c`")): _*)
      }
    Pipe(joined.select(col("group") +: bagNames.map(b =>
      coalesce(col(s"`$b`"), array().cast(joined.schema(b).dataType)).as(b)): _*))
  }

  /** REPL-safe per-partition offset lookup: cumulative offsets as a DENSE
    * long-array literal indexed by partition id (1-based `element_at`).
    * The previous `typedLit(Map[Int, Long])` needs TypeTag reflection
    * that fails under REPL/interpreter classloaders (spark-shell, the
    * PigScript surface) and silently degrades to an unsupported raw-Map
    * literal; `lit(Array[Long])` lowers through `Literal.apply` with no
    * reflection. Partitions absent from `totals` (empty after the range
    * shuffle) get the running offset so later pids index correctly. */
  private[graft] def partitionOffsets(totals: Array[(Int, Long)],
                                      pidCol: Column): Column =
    if (totals.isEmpty) lit(0L)
    else {
      val m = totals.toMap
      val arr = new Array[Long](totals.map(_._1).max + 1)
      var acc = 0L
      for (i <- arr.indices) { arr(i) = acc; acc += m.getOrElse(i, 0L) }
      element_at(lit(arr), pidCol + 1)
    }

  /** Distributed EXCLUSIVE prefix sum of `valueCol` under `ordering` —
    * the shared engine behind RANK (rank = exclusive sum of key
    * multiplicities + 1) and sequence packing (tok_start = exclusive sum
    * of token counts). A naive global window collapses to ONE partition;
    * this runs the scalable form: range-partition by the sort keys,
    * running sum within each partition, then add driver-side cumulative
    * partition offsets (numPartitions longs — the driver never sees
    * rows). Emits `outName` = shift + Σ value over rows strictly before
    * this one; `__pid` is consumed internally and must be free.
    *
    * The persist is load-bearing: the offsets job and the output scan
    * must observe the SAME range-partition bounds (repartitionByRange
    * samples — two evaluations could split differently). Tracked with
    * Intermediates for app-boundary release. */
  private[graft] def exclusivePrefixSum(df: DataFrame, ordering: Seq[Column],
      valueCol: String, outName: String, shift: Long = 0L): DataFrame = {
    val sorted = Intermediates.track(df.repartitionByRange(ordering: _*)
      .sortWithinPartitions(ordering: _*)
      .withColumn("__pid", spark_partition_id())
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val totals = sorted.groupBy(col("__pid"))
      .agg(coalesce(sum(col(valueCol)), lit(0L)).as("__tot"))
      .orderBy(col("__pid")).collect()
      .map(r => r.getInt(0) -> r.getLong(1))
    val w = Window.partitionBy(col("__pid")).orderBy(ordering: _*)
      .rowsBetween(Window.unboundedPreceding, 0)
    sorted
      .withColumn(outName,
        (partitionOffsets(totals, col("__pid"))
          + sum(col(valueCol)).over(w) - col(valueCol) + lit(shift))
          .cast(LongType))
      .drop("__pid")
  }

  /** The deterministic md5 sampling bucket (0–99) shared by sampleByHash
    * and stratifiedSampleByHash — ONE encoding, so the two sample the
    * same rows at the same rates. Each key casts to string with nulls
    * mapped to a sentinel (concat_ws would silently DROP nulls, making
    * (null, x) and (x) collide), joined on the 0x1F unit separator so
    * composite keys containing ordinary text cannot alias each other.
    * Replicate the same encoding in any cross-engine oracle (see
    * q_sample / q_stratified_sample SQL). */
  private[graft] def hashBucket(keys: Seq[Column]): Column =
    conv(substring(md5(
      hashKeyEncoding(keys)
        .cast(org.apache.spark.sql.types.BinaryType)),
      1, 8), 16, 10).cast(org.apache.spark.sql.types.LongType) % 100

  /** The shared null-sentinel / unit-separator key encoding behind
    * hashBucket and hashOrderKey. */
  private[graft] def hashKeyEncoding(keys: Seq[Column]): Column =
    concat_ws("\u001F", keys.map(k => coalesce(
      k.cast(org.apache.spark.sql.types.StringType), lit("\u001E"))): _*)

  /** Full-width deterministic order key: the md5 hex string of the
    * encoded keys (lowercase hex in Spark AND DuckDB, so lexicographic
    * order reproduces cross-engine — see q_quota_sample's SQL). */
  private[graft] def hashOrderKey(keys: Seq[Column]): Column =
    md5(hashKeyEncoding(keys)
      .cast(org.apache.spark.sql.types.BinaryType))

  /** LOAD — reference: op/Load.scala; formats per sparklib Storage.scala
    * (PigStorage=csv, TextLoader=text, JsonStorage=json, BinStorage→parquet,
    * JdbcStorage=jdbc). */
  def load(spark: org.apache.spark.sql.SparkSession, path: String,
           format: String = "parquet", schema: Option[StructType] = None,
           options: Map[String, String] = Map.empty): Pipe = {
    val r0 = spark.read.format(format).options(options)
    val r = schema.fold(r0)(r0.schema)
    Pipe(if (format == "jdbc") r.load() else r.load(path))
  }
}
