package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.dedup.Dedup
import graft.sim.Similarity

/** Regressions for the round-5 dedup/sim/text/functions review. */
class DedupSimFixSpec extends SparkSpec {
  import spark.implicits._

  test("ivfCentroids skips null embedding vectors instead of NPEing") {
    val rows = (0 until 64).map(i =>
      (i.toLong, Some(Seq(i.toDouble, (i % 7).toDouble)))) :+
      (64L, Option.empty[Seq[Double]])
    val df = rows.toDF("id", "vec")
    val cents = Similarity.ivfCentroids(df, nCells = 4, sampleSize = 32)
    assert(cents.nonEmpty && cents.forall(_.length == 2))
  }

  test("simhash drops blank docs (no quadratic zero-bucket)") {
    val df = Seq((1L, "real text here"), (2L, ""), (3L, "   "),
      (4L, "more real text")).toDF("doc_id", "text")
    val sims = Dedup.simhash(df, "doc_id", "text")
    assert(sims.select("id").as[Long].collect().toSet == Set(1L, 4L))
  }

  test("connectedComponents finds id columns by name, not position") {
    // extra leading non-id column must not disqualify the driver path
    // (or worse, type-probe the wrong field)
    val pairs = Seq((0.9, 1L, 2L), (0.8, 2L, 3L), (0.7, 10L, 11L))
      .toDF("jaccard", "id_a", "id_b")
    val labels = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(labels(1L) == 1L && labels(2L) == 1L && labels(3L) == 1L)
    assert(labels(10L) == 10L && labels(11L) == 10L)
  }

  test("connectedComponents fails loudly when maxIter is too small") {
    val chain = (1L until 24L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val err = intercept[RuntimeException] {
      // force the iterative path and a hopeless iteration budget
      Dedup.connectedComponents(chain, maxIter = 1,
        driverEdgeThreshold = 0L).collect()
    }
    assert(err.getMessage.contains("did not converge"))
  }

  test("MEDIAN_ELEMENT yields null for all-null groups under ANSI") {
    val df = Seq((1, Some(5)), (1, Some(7)), (2, Option.empty[Int]))
      .toDF("k", "v")
    val out = df.groupBy("k")
      .agg(graft.functions.PigFunctions.MEDIAN_ELEMENT(col("v")).as("m"))
      .collect().map(r => r.getInt(0) -> (if (r.isNullAt(1)) None
        else Some(r.getInt(1)))).toMap
    assert(out == Map(1 -> Some(7), 2 -> None))
  }

  test("native cosine yields null, not a wrong value, on null slots") {
    val schema = StructType(Seq(
      StructField("a", ArrayType(DoubleType, containsNull = true)),
      StructField("b", ArrayType(DoubleType, containsNull = true))))
    val rows = java.util.Arrays.asList(
      org.apache.spark.sql.Row(Seq(1.0, 2.0), Seq(1.0, 2.0)),
      org.apache.spark.sql.Row(Seq(0.9, null, 0.4), Seq(0.9, 1.0, 0.4)))
    val df = spark.createDataFrame(rows, schema)
    val got = df.select(graft.functions.GraftFunctions
        .cosine(col("a"), col("b")).as("c"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(got(0).exists(v => math.abs(v - 1.0) < 1e-12))
    assert(got(1).isEmpty)
  }

  test("hashedShingles (Column) shares the native hash universe") {
    val df = Seq((1L, "the quick brown fox jumps over dogs")).toDF("id", "text")
    val viaColumn = df.select(Dedup.hashedShingles(col("text")).as("sh"))
      .as[Seq[Long]].head().toSet
    val viaDF = Dedup.hashedShingleDF(df, "id", "text", n = 3)
      .select("sh").as[Seq[Long]].head().toSet
    assert(viaColumn == viaDF && viaColumn.nonEmpty)
  }

  test("jaccard is unchanged by the single-set-op rewrite") {
    val df = Seq((Seq(1L, 2L, 3L), Seq(2L, 3L, 4L)),
      (Seq.empty[Long], Seq.empty[Long]),
      (Seq(1L), Seq(1L))).toDF("a", "b")
    val got = df.select(Dedup.jaccard(col("a"), col("b"))).as[Double].collect()
    assert(got.toSeq == Seq(0.5, 0.0, 1.0))
  }

  test("planesFor keeps expected bucket occupancy at or under target") {
    // 2^planes >= corpus/target at every probe point, floored at 10
    for (n <- Seq(1L, 1000L, 100000L, 4000000L, 1000000000L, Long.MaxValue);
         t <- Seq(100, 1000)) {
      val p = Dedup.planesFor(n, t)
      assert(p >= 10 && p <= 64, s"n=$n t=$t p=$p")
      if (p > 10) // above the floor the bound must be tight-ish
        assert(math.pow(2, p) >= n.toDouble / t, s"n=$n t=$t p=$p")
    }
    assert(Dedup.planesFor(1000000000L, 1000) == 20) // the scaladoc example
    intercept[IllegalArgumentException](Dedup.planesFor(0L))
  }

  test("embeddingCosineAuto finds planted twins at the sized bucket space") {
    // 64 base vectors + near-identical twins; the auto sizing must keep
    // recall (all twin pairs found) at a small corpus (planes floor 10)
    val rnd = new scala.util.Random(3L)
    val base = (0L until 64L).map(i =>
      (i, Seq.fill(16)(rnd.nextGaussian())))
    val twins = base.map { case (i, v) =>
      (i + 1000L, v.updated(0, v.head + 1e-6)) }
    val df = (base ++ twins).toDF("id", "vec")
    val pairs = Dedup.embeddingCosineAuto(df, "id", "vec",
        threshold = 0.999)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    base.foreach { case (i, _) =>
      assert(pairs.contains((i, i + 1000L)), s"missing twin pair for $i") }
  }
}
