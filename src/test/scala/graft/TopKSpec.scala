package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Pipe

/** The custom partial/final top-k-per-group operator (tier (c) extension:
  * LogicalPlan + Strategy + SparkPlan), reached from `Pipe.topPerGroup`
  * through the rewrite rule the graft session installs. */
class TopKSpec extends SparkSpec {

  private def orders = spark.read.parquet(s"$sfDir/orders.parquet")

  private def plan(df: DataFrame) = df.queryExecution.executedPlan.toString

  test("custom top-k matches the window formulation exactly") {
    val got = Pipe(orders).topPerGroup(3,
        Seq(col("o_orderpriority")),
        Seq(col("o_totalprice").desc, col("o_orderkey")))
      .df.select("o_orderkey")
    assert(plan(got).contains("TopKPartial"), plan(got))
    // the model keeps its rank column, so the rule leaves it a window
    val model = spark.sql(
      """SELECT o_orderkey, rn FROM (SELECT o_orderkey,
         row_number() OVER (PARTITION BY o_orderpriority
           ORDER BY o_totalprice DESC, o_orderkey) rn
         FROM parquet.`""" + sfDir + """/orders.parquet`) WHERE rn <= 3""")
    assert(!plan(model).contains("TopKPartial"), plan(model))
    assert(got.collect().map(_.getLong(0)).toSet ==
      model.collect().map(_.getLong(0)).toSet)
  }

  test("physical plan is partial -> exchange -> final (map-side prune)") {
    val p = plan(Pipe(orders).topPerGroup(2, Seq(col("o_orderpriority")),
      Seq(col("o_totalprice").desc)).df)
    assert(p.contains("TopKPartial"), p)
    assert(p.contains("TopKFinal"), p)
    // the exchange must sit BETWEEN final and partial: partial runs map-side
    val finalIdx = p.indexOf("TopKFinal")
    val exIdx = p.indexOf("Exchange", finalIdx)
    val partialIdx = p.indexOf("TopKPartial ", finalIdx)
    assert(exIdx >= 0 && exIdx < partialIdx, p)
  }

  test("optimizer rule rewrites the declarative window top-k to the custom plan") {
    import org.apache.spark.sql.expressions.Window
    // the standard window idiom, written by hand rather than through Pipe
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val windowForm = orders.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3).drop("rn")
    assert(plan(windowForm).contains("TopKPartial"), plan(windowForm))
    assert(!plan(windowForm).contains("Window"), plan(windowForm))
    assert(windowForm.count() == Pipe(orders).topPerGroup(3,
      Seq(col("o_orderpriority")),
      Seq(col("o_totalprice").desc, col("o_orderkey"))).df.count())
  }

  test("rank-keeping queries are NOT rewritten (rank column consumed)") {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").desc)
    val keepsRank = orders.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2)                  // rn kept in the output
    assert(!plan(keepsRank).contains("TopKPartial"), plan(keepsRank))
  }

  test("GLOBAL top-k (no grouping) returns k rows total, not per partition") {
    import spark.implicits._
    val df = Pipe((1 to 100).toDF("v").repartition(8))
      .topPerGroup(5, Seq.empty, Seq(col("v").desc)).df
    assert(plan(df).contains("TopKFinal"), plan(df))
    assert(df.as[Int].collect().toSet == Set(100, 99, 98, 97, 96))
  }

  test("duplicate order keys keep exactly k rows per group") {
    import spark.implicits._
    val df = Seq(("a", 1), ("a", 1), ("a", 1), ("b", 2)).toDF("g", "v")
    val got = Pipe(df).topPerGroup(2, Seq(col("g")), Seq(col("v").asc)).df
    assert(plan(got).contains("TopKPartial"), plan(got))
    assert(got.where(col("g") === "a").count() == 2)
    assert(got.where(col("g") === "b").count() == 1)
  }
}
