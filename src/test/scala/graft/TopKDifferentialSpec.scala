package graft

import org.apache.spark.sql.functions._
import graft.core.Pipe

/** Differential testing for the custom TopKPerGroup physical operator,
  * reached through `Pipe.topPerGroup`: seeded random data with null group
  * keys, null and duplicate order values, asc/desc and multi-column
  * orderings, k at and beyond group size — compared against a plain-Scala
  * sort per group (asc NULLS FIRST, desc NULLS LAST, Spark's defaults).
  * A rank-dropping window "model" would itself plan as the operator, so
  * the model stays out of Spark. Ties beyond the k-th are broken by a
  * unique trailing order column, so the expected set is deterministic. */
class TopKDifferentialSpec extends SparkSpec {
  import spark.implicits._

  private def assertOperator(df: org.apache.spark.sql.DataFrame): Unit = {
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TopKPartial"), plan)
  }

  test("TopKPerGroup equals a per-group sort model on random data") {
    val keys = Vector("a", "b", "c", "d", null)
    for (seed <- 1 to 5) {
      val rnd = new scala.util.Random(700 + seed)
      val rows = (1 to 150).map { i =>
        val v = if (rnd.nextInt(10) == 0) None else Some(rnd.nextInt(12).toDouble)
        (i.toLong, keys(rnd.nextInt(keys.size)), v)
      }
      val df = rows.toDF("id", "grp", "v").repartition(6)
      val k = 1 + rnd.nextInt(5)
      val desc = seed % 2 == 0
      val vOrd = if (desc) col("v").desc else col("v").asc
      // unique trailing id makes the top-k SET deterministic under ties
      val top = Pipe(df).topPerGroup(k, Seq(col("grp")), Seq(vOrd, col("id").asc)).df
      assertOperator(top)
      val got = top.select("id").as[Long].collect().toSet

      // (null rank, value) so nulls sort first ascending, last descending
      def vKey(v: Option[Double]) = v match {
        case None => (if (desc) 1 else 0, 0.0)
        case Some(x) => (if (desc) 0 else 1, if (desc) -x else x)
      }
      val model = rows.groupBy(_._2).values.flatMap { g =>
        g.sortBy { case (id, _, v) => (vKey(v), id) }.take(k).map(_._1)
      }.toSet
      assert(got == model, s"seed=$seed k=$k desc=$desc " +
        s"missing=${(model -- got).take(4)} extra=${(got -- model).take(4)}")
    }
  }

  test("TopKPerGroup with k larger than every group returns all rows") {
    val df = (1 to 40).map(i => (i.toLong, s"g${i % 4}"))
      .toDF("id", "grp").repartition(3)
    val top = Pipe(df).topPerGroup(100, Seq(col("grp")), Seq(col("id").asc)).df
    assertOperator(top)
    assert(top.count() == 40L)
  }

  test("GLOBAL top-k differential: no grouping, random multi-column order") {
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(800 + seed)
      val rows = (1 to 120).map(i =>
        (i.toLong, rnd.nextInt(6), rnd.nextInt(6)))
      val df = rows.toDF("id", "p", "q").repartition(5)
      val order = Seq(col("p").asc, col("q").desc, col("id").asc)
      val k = 7
      val top = Pipe(df).topPerGroup(k, Seq.empty, order).df
      assertOperator(top)
      val got = top.select("id").as[Long].collect().toSet
      val model = rows.sortBy { case (id, p, q) => (p, -q, id) }
        .take(k).map(_._1).toSet
      assert(got == model, s"seed=$seed")
    }
  }
}
