package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Corpus-relevance scoring for training-data curation: TF-IDF salient-term
  * extraction and BM25 keyword scoring over the `documents` table — the
  * standard retrieval primitives a large-scale pipeline uses for quality
  * filtering, topic bucketing and targeted subset selection.
  *
  * Scale shape: term frequencies are the wordcount pattern (explode +
  * groupBy gets map-side partial aggregation, so the exchange carries one
  * row per distinct (doc, term), not one per token); document frequencies
  * aggregate the tf rows once more; the tf⋈df join shuffles on `term`
  * unless AQE broadcasts the vocabulary side; corpus-level scalars (N,
  * Σdl, per-query-term df) reduce to ONE row that broadcasts back, so BM25
  * scoring itself is a narrow per-row pass.
  *
  * Cross-engine determinism: ranked outputs use an INTEGER-quantized idf
  * (see [[floorLog2]]) because `ln` is not correctly rounded — Spark's
  * `Math.log` and DuckDB's libm may disagree in the last ulp, and tf-idf
  * admits exact mathematical ties across different (tf, df) pairs
  * (tf·ln(N/df): 2·ln(20) = ln(400)) that such a disagreement would rank
  * differently. With integer scores, ties are exact on both engines and
  * break deterministically on the term. [[bm25]] keeps doubles but uses
  * only IEEE basic ops (+ − × ÷, all correctly rounded everywhere) in a
  * fixed operation order, so oracle SQL replays scores bit-exactly.
  */
object Relevance {

  /** Lowercased whitespace terms (empties dropped). */
  def terms(text: Column): Column = TextOps.tokens(lower(text))

  /** (id, term, tf) — one row per distinct (doc, term). Widened first so
    * a single-row-group parquet input (one scan task) doesn't serialize
    * the tokenize+explode stage; no-op on well-partitioned inputs. */
  def termFreqs(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    graft.dedup.Dedup.widen(docs)
      .select(col(idCol), explode(terms(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))

  /** (term, df): document frequency — each (doc, term) row counts once. */
  def docFreqs(tf: DataFrame): DataFrame =
    tf.groupBy("term").agg(count(lit(1)).as("df"))

  /** floor(log₂ n) for a positive integral column, EXACT at every input:
    * length(bin(n)) − 1. Both Spark and DuckDB render the same binary
    * digits, where float `log2` can land a hair below an integer at
    * powers of two and floor() off-by-one. */
  def floorLog2(n: Column): Column = (length(bin(n)) - 1).cast(IntegerType)

  /** Integer-quantized idf: floorLog2(N)+1 − floorLog2(df) ∈ [1, 64] —
    * a monotone ln(N/df) surrogate built from exact integer ops only. */
  private def intIdf(n: Column, df: Column): Column =
    length(bin(n)) - (length(bin(df)) - 1)

  /** Top-k salient terms per document by standard double tf·ln(N/df)
    * (ties → term asc). Library API; for a hash-exact cross-engine
    * oracle use [[tfIdfTopKExact]] (see object scaladoc). Pruning is a
    * `Pipe.topPerGroup`: in a graft session the partial/final top-k
    * operator's map-side heaps bound the exchange to ≤ k rows per doc
    * per partition. */
  def tfIdfTopK(docs: DataFrame, idCol: String, textCol: String,
                k: Int): DataFrame = {
    val tf = termFreqs(docs, idCol, textCol)
    val n = docs.agg(count(lit(1)).as("__n"))
    val scored = tf.join(docFreqs(tf), "term").crossJoin(n)
      .withColumn("tfidf",
        col("tf").cast(DoubleType) *
          log(col("__n").cast(DoubleType) / col("df").cast(DoubleType)))
      .drop("__n")
    graft.core.Pipe(scored).topPerGroup(k, Seq(col(idCol)),
      Seq(col("tfidf").desc, col("term").asc)).df
  }

  /** Top-k salient terms per document by the integer score tf·intIdf —
    * every output column is integral or text, so a DuckDB oracle
    * hash-matches exactly. `rnk` is recomputed on the ≤ k·docs pruned
    * rows (cheap) to expose the ranking itself to the compare. */
  def tfIdfTopKExact(docs: DataFrame, idCol: String, textCol: String,
                     k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = termFreqs(docs, idCol, textCol)
    val n = docs.agg(count(lit(1)).as("__n"))
    val scored = tf.join(docFreqs(tf), "term").crossJoin(n)
      .withColumn("score",
        (col("tf") * intIdf(col("__n"), col("df"))).cast(LongType))
      .drop("__n")
    val top = graft.core.Pipe(scored).topPerGroup(k, Seq(col(idCol)),
      Seq(col("score").desc, col("term").asc)).df
    top.withColumn("rnk",
        row_number().over(Window.partitionBy(col(idCol))
          .orderBy(col("score").desc, col("term").asc)).cast(LongType))
      .select(col(idCol), col("term"), col("tf"), col("df"),
        col("score"), col("rnk"))
  }

  /** BM25 keyword scores: Σ_terms idf · tf·(k1+1) / (tf + k1·(1−b + b·dl/avgdl)),
    * docs with score > 0 only. idf is the integer quantization above;
    * contributions add in the literal order of `queryTerms`; constants
    * are pre-evaluated Scala doubles that the oracle embeds verbatim
    * (see [[graft.queries.PipelineQueries]]) — so scores are bit-exact
    * across engines despite being doubles.
    *
    * One scan computes the corpus scalars (N, Σdl, df per query term)
    * into a single row; the scoring scan is narrow with that row
    * broadcast — no per-doc shuffle at any corpus size. */
  def bm25(docs: DataFrame, idCol: String, textCol: String,
           queryTerms: Seq[String],
           k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "bm25 needs at least one query term")
    require(queryTerms.distinct == queryTerms, "duplicate query terms")
    val withToks = docs.select(col(idCol), terms(col(textCol)).as("__toks"))
    val statAggs =
      count(lit(1)).cast(LongType).as("__n") +:
      sum(size(col("__toks")).cast(LongType)).as("__sumdl") +:
      queryTerms.zipWithIndex.map { case (t, i) =>
        sum(when(array_contains(col("__toks"), t), 1L).otherwise(0L))
          .as(s"__df_$i")
      }
    val stats = withToks.agg(statAggs.head, statAggs.tail: _*)
    val scored = withToks.crossJoin(stats) // 1-row side → broadcast
    val dl = size(col("__toks")).cast(DoubleType)
    val avgdl = col("__sumdl").cast(DoubleType) / col("__n").cast(DoubleType)
    val score = queryTerms.zipWithIndex.map { case (t, i) =>
      val tf = size(filter(col("__toks"), x => x === t)).cast(DoubleType)
      val idf = intIdf(col("__n"), col(s"__df_$i")).cast(DoubleType)
      (idf * (tf * lit(k1 + 1.0))) /
        (tf + lit(k1) * (lit(1.0 - b) + lit(b) * (dl / avgdl)))
    }.reduceLeft(_ + _)
    scored.select(col(idCol), score.as("score")).where(col("score") > 0.0)
  }
}
