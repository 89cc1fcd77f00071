package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Scale-stress harness: synthesizes a `factor`× copy of the sf0.1
  * documents/embeddings tables IN-ENGINE (salted ids, per-copy text /
  * vector perturbation so duplicate structure is preserved rather than
  * multiplied), symlinks the untouched tables, then A/Bs the heaviest
  * SparkEntry queries at base vs scaled data IN THE SAME SESSION WINDOW
  * (the variance-ledger discipline: same-load comparison or nothing).
  *
  * Output: one JSON ledger with per-query median seconds at both scales
  * and the ratio — the evidence that the plans the PlanAuditSpec asserts
  * hold their shape when the data grows 10×, i.e. that wall time scales
  * ≈linearly in rows rather than quadratically (bucketed dedup, cell-
  * restricted ANN, prefix-filtered Jaccard would all go quadratic if
  * their candidate bounds broke).
  *
  * Usage: runMain graft.tools.ScaleBench [factor] [ledgerPath]
  *   SPARK_GRAFT_SCALE_BASE  base dir     (default /root/testdata/sf0.1)
  *   SPARK_GRAFT_SCALE_DIR   scaled dir   (default target/scale10)
  *   SPARK_GRAFT_SCALE_ONLY  comma query filter (default: heavy list)
  */
object ScaleBench {

  /** The most expensive bench rows (r05k ledger order) — the ones whose
    * 100 TB claims the scaled run is meant to test. */
  private val DefaultQueries = Seq(
    "q_training_pipeline", "q_perceptron", "q_ann_ivfpq_res",
    "q_winnow_pairs", "q_curation_pipeline", "q_dedup_exact",
    "q_dedup_minhash", "q_dedup_simhash", "q_dedup_jaccard",
    "q_dedup_cosine", "q_dedup_semantic", "q_dsir", "q_classifier",
    "q_bpe_tokens", "q_lm_bigram", "q_tfidf", "q_winnow")

  def main(args: Array[String]): Unit = {
    val factor = args.headOption.map(_.toInt).getOrElse(10)
    val ledger = args.lift(1).getOrElse("bench/bench_r06_scale.json")
    val base = sys.env.getOrElse("SPARK_GRAFT_SCALE_BASE", "/root/testdata/sf0.1")
    val scaled = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "target/scale10")
    val queries = sys.env.get("SPARK_GRAFT_SCALE_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(DefaultQueries)
    val spark = graft.core.GraftSession.local()

    synthesize(spark, base, scaled, factor)

    // A/B in the same session window: base first, scaled second, per
    // query (interleaved so ambient load hits both sides equally)
    def time(fn: (SparkSession, String) => DataFrame, dir: String): Double = {
      val t0 = System.nanoTime()
      fn(spark, dir).queryExecution.toRdd.count()
      val dt = (System.nanoTime() - t0) / 1e9
      graft.core.Intermediates.release()
      spark.sqlContext.clearCache()
      dt
    }
    val all = graft.SparkEntry.queries ++ graft.SparkEntry.benchOnly
    val rows = queries.filter(all.contains).sorted.map { name =>
      val fn = all(name)
      val (b, s) = (1 to 2).map { _ =>
        (time(fn, base), time(fn, scaled))
      }.unzip
      val bm = b.sorted.apply((b.size - 1) / 2)
      val sm = s.sorted.apply((s.size - 1) / 2)
      val ratio = sm / bm
      println(f"[scale] $name%-24s base=$bm%7.2fs scaled=$sm%7.2fs ratio=$ratio%5.2f")
      (name, bm, sm, ratio)
    }
    val qs = rows.map { case (n, b, s, r) =>
      s""""$n":{"base_sec":$b,"scaled_sec":$s,"ratio":$r}"""
    }.mkString("{", ",", "}")
    val totB = rows.map(_._2).sum
    val totS = rows.map(_._3).sum
    val line =
      s"""{"metric":"scale_stress","factor":$factor,"base":"$base",""" +
        s""""scaled":"$scaled","runs_per_query":2,"median":"lower",""" +
        s""""total_base_sec":$totB,"total_scaled_sec":$totS,""" +
        s""""total_ratio":${totS / totB},"queries":$qs}"""
    println(line)
    // a bare-filename ledger has a null parent — only create real ones
    Option(java.nio.file.Paths.get(ledger).getParent)
      .foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(ledger), line)
    spark.stop()
  }

  /** Build `scaled` from `base`: documents/embeddings exploded ×factor
    * with salted unique ids; every other table symlinked. Idempotent —
    * skips synthesis when the marker file records the same factor. */
  def synthesize(spark: SparkSession, base: String, scaled: String,
                 factor: Int): Unit = {
    // the dedup queries plant duplicate ids at +1_000_000; scaled ids
    // are doc_id·factor + copy and must stay below that offset or the
    // planted corpus would silently alias two distinct documents
    require(factor >= 2 && factor <= 100,
      s"factor must be in [2, 100] (got $factor): scaled ids must stay " +
        "below the 1e6 planted-duplicate offset used by the dedup queries")
    val dir = java.nio.file.Paths.get(scaled)
    val marker = dir.resolve("_FACTOR")
    // the marker records factor AND base: a scaled dir built from one
    // base must not be silently reused against a different one
    val markerContent = s"$factor\n$base"
    if (java.nio.file.Files.exists(marker) &&
        java.nio.file.Files.readString(marker).trim == markerContent.trim) return
    org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    java.nio.file.Files.createDirectories(dir)

    val copies = explode(sequence(lit(0), lit(factor - 1))).as("copy")

    // documents: copy 0 is the original row verbatim; copies 1.. suffix
    // EVERY token with the copy id, so copies are near-duplicates of
    // NOTHING — neither of the original nor of each other. The corpus
    // then grows factor× while keeping the near-dup structure the
    // queries themselves plant (one +1e6 twin per doc), so dedup OUTPUT
    // stays linear in rows. (The first, suffix-only scheme made all
    // `factor` copies of a doc MUTUAL near-dups: realistic for crawl
    // boilerplate, but pair-enumeration output then grows ~factor² —
    // at factor 100 that is 100-way groups ⇒ ~5000× the pairs, which
    // is an output-size artifact of the synthesizer, not an engine
    // property. The committed 10× ledger used the grouped scheme — its
    // ratios are therefore CONSERVATIVE.)
    val docs = Tables(spark, base, "documents")
    docs.select(col("*"), copies)
      .select(
        (col("doc_id") * factor + col("copy")).as("doc_id"),
        when(col("copy") === 0, col("text"))
          .otherwise(concat_ws(" ", expr(
            "transform(filter(split(text, '\\\\s+'), t -> t <> ''), " +
              "t -> concat(t, '_c', copy))")))
          .as("text"),
        col("lang"), col("source"),
        when(col("copy") === 0, col("n_chars"))
          .otherwise(length(concat_ws(" ", expr(
            "transform(filter(split(text, '\\\\s+'), t -> t <> ''), " +
              "t -> concat(t, '_c', copy))"))))
          .as("n_chars"))
      .repartition(32)
      .write.mode("overwrite").parquet(Tables.path(scaled, "documents"))

    // embeddings: copy c flips the sign of component i iff bit (i mod 7)
    // of c is set — a per-copy ±1 Rademacher-style pattern. Distinct
    // copies (c < 128) get distinct patterns; two copies differing in
    // one bit disagree on ~1/7 of the energy, so pairwise cosine ≈ 0.71
    // ≪ the 0.999 threshold, norms are untouched, and directions spread
    // over 2^7 orthant classes instead of concentrating. (Two earlier
    // schemes failed instructively: +0.001·c left CHAINS of copies
    // above 0.999 — quadratic pair output — and +0.1·c made every
    // high-c copy nearly parallel to e₀, collapsing 800k vectors into
    // one angular cone that defeated ANY bucket count. Direction
    // dispersal, not magnitude jitter, is what a scaled LSH corpus
    // needs.) The queries' own planted +1e-3 twins remain the only
    // near-dup structure.
    val emb = Tables(spark, base, "embeddings")
    emb.select(col("*"), copies)
      .select(
        (col("vec_id") * factor + col("copy")).as("vec_id"),
        when(col("copy") === 0, col("embedding"))
          .otherwise(expr(
            "transform(embedding, (x, i) -> " +
              "CAST(IF((shiftright(copy, i % 7) & 1) = 1, -x, x) AS FLOAT))"))
          .as("embedding"),
        col("label"))
      .repartition(32)
      .write.mode("overwrite").parquet(Tables.path(scaled, "embeddings"))

    // everything else: symlink (events, lineitem, dims — unscaled; the
    // scaled queries only read documents/embeddings, the links keep the
    // whole SparkEntry surface runnable against this dir)
    val baseDir = java.nio.file.Paths.get(base)
    java.nio.file.Files.list(baseDir).forEach { p =>
      val name = p.getFileName.toString
      val target = dir.resolve(name)
      if (!java.nio.file.Files.exists(target))
        java.nio.file.Files.createSymbolicLink(target, p.toAbsolutePath)
    }
    java.nio.file.Files.writeString(marker, markerContent)
  }
}
