package graft

import org.apache.spark.sql.functions._
import graft.matrix.MatrixOps

/** Regressions for the round-5 ml/matrix/rdf/multimodal/r/plans review. */
class MiscFixSpec extends SparkSpec {
  import spark.implicits._

  private def m(rows: Int, cols: Int, vs: Double*) =
    MatrixOps.matrix(lit(rows), lit(cols), typedlit(vs))

  test("mmul checks conformability and handles zero dimensions") {
    val df = Seq(1).toDF("x")
    val err = intercept[Exception] {
      df.select(MatrixOps.mmul(m(2, 3, 1, 2, 3, 4, 5, 6),
        m(2, 2, 1, 0, 0, 1))).collect()
    }
    assert(err.getMessage.contains("mmul: dimension mismatch"))
    // 2x0 times 0x3: empty contraction = 2x3 zeros, no ANSI index error
    val z = df.select(MatrixOps.mmul(m(2, 0), m(0, 3)).as("r"))
      .select(col("r.rows"), col("r.cols"), col("r.values")).head()
    assert(z.getInt(0) == 2 && z.getInt(1) == 3)
    assert(z.getSeq[Double](2) == Seq(0.0, 0.0, 0.0, 0.0, 0.0, 0.0))
    // and the happy path is unchanged
    val ok = df.select(MatrixOps.mmul(m(2, 2, 1, 2, 3, 4),
        m(2, 2, 1, 0, 0, 1)).as("r"))
      .select(col("r.values")).head().getSeq[Double](0)
    assert(ok == Seq(1.0, 2.0, 3.0, 4.0))
  }

  test("madd rejects shape mismatches instead of null-padding") {
    val df = Seq(1).toDF("x")
    val err = intercept[Exception] {
      df.select(MatrixOps.madd(m(2, 2, 1, 2, 3, 4),
        m(3, 3, 1, 2, 3, 4, 5, 6, 7, 8, 9))).collect()
    }
    assert(err.getMessage.contains("madd: shape mismatch"))
  }

  test("an always-false rank filter is NOT rewritten into top-everything") {
    val df = Seq((1, 10), (1, 20), (2, 30)).toDF("g", "v")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("g").orderBy("v")
    val out = df.withColumn("rn", row_number().over(w))
      .where(col("rn") < lit(Int.MinValue)).drop("rn")
    assert(out.count() == 0) // k-1 wrapping to Int.MaxValue returned 3
  }

  test("topPerGroup groups 0.0 and -0.0 together like SQL semantics") {
    val df = Seq((0.0, 1), (-0.0, 2), (1.0, 3)).toDF("g", "v")
    val out = graft.core.Pipe(df).topPerGroup(1, Seq(col("g")),
      Seq(col("v"))).df
    // the rewrite normalizes the key: one winner for the merged 0.0
    // group, one for 1.0
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("TopKPartial"), plan)
    assert(out.count() == 2)
    assert(out.select("v").as[Int].collect().toSet == Set(1, 3))
  }

  test("sampleFrames validates everyMs") {
    val err = intercept[IllegalArgumentException] {
      graft.multimodal.Multimodal.sampleFrames(
        spark.emptyDataset[graft.multimodal.Multimodal.Asset], everyMs = 0L)
    }
    assert(err.getMessage.contains("everyMs"))
  }

  test("bgpFilter rejects an empty pattern list with a named error") {
    val err = intercept[IllegalArgumentException] {
      graft.rdf.Rdf.bgpFilter(Seq(("a", "b", "c")).toDF("s", "p", "o"), Nil)
    }
    assert(err.getMessage.contains("at least one triple pattern"))
  }

  test("malformed quoted literals keep the raw token, not empty string") {
    val dir = java.nio.file.Files.createTempDirectory("graft_nt")
    java.nio.file.Files.writeString(dir.resolve("t.nt"),
      "<s1> <p> \"good\" .\n<s2> <p> \"unterminated .\n")
    val got = graft.rdf.Rdf.loadNTriples(spark, dir.resolve("t.nt").toString)
      .orderBy("s").select("o").as[String].collect().toSeq
    assert(got == Seq("good", "\"unterminated"))
  }

  test("MiniR cbind/data.frame with no arguments fail with MiniR errors") {
    for (src <- Seq("res = cbind()", "res = data.frame()")) {
      val err = intercept[Exception] {
        graft.r.MiniR.run(src, Array(Array(1.0)))
      }
      assert(err.getMessage.contains("at least one argument"),
        s"$src -> ${err.getMessage}")
    }
  }
}
