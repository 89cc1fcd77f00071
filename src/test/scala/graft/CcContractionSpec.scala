package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType
import graft.dedup.Dedup

/** The distributed path of connectedComponents contracts each partition
  * with a local union-find before its one shuffle, and runs the min-label
  * loop only on the cross-partition residue. Each case is forced onto that
  * path (driverEdgeThreshold = 0) and compared against a plain-Scala
  * union-find model: every node maps to the MINIMUM id of its component. */
class CcContractionSpec extends SparkSpec {
  import spark.implicits._
  import CcContractionSpec._

  private def solve(df: DataFrame, maxIter: Int = 10): Map[Long, Long] =
    Dedup.connectedComponents(df, maxIter = maxIter, driverEdgeThreshold = 0L)
      .select(col("id").cast("long"), col("label").cast("long"))
      .as[(Long, Long)].collect().toMap

  test("chain blocks in one partition contract with no residue") {
    // the q_connected_components shape: 16-id chain blocks
    val edges = spark.range(1, 1601, 1, 1).where(col("id") % 16 =!= 0)
      .select(col("id").as("id_a"), (col("id") - 1).as("id_b"))
    var got = Map.empty[Long, Long]
    val jobs = jobsDuring { got = solve(edges) }
    assert(got == model(edges.as[(Long, Long)].collect().toSeq))
    assert(got.values.toSet.size == 100)
    assert(jobs <= 6, s"build + collect ran $jobs jobs")
  }

  test("a chain spread round-robin over 16 partitions closes through the " +
      "residue loop") {
    // edge i sits in partition i % 16, so no partition holds two adjacent
    // edges: every local component is one edge and the residue is the
    // whole chain
    val edges = roundRobinChain(spark, 2000, 16)
    val got = solve(edges, maxIter = 40)
    assert(got.size == 2000 && got.values.forall(_ == 0L))
  }

  test("the residue loop still fails loudly when maxIter is too small") {
    val err = intercept[RuntimeException] {
      solve(roundRobinChain(spark, 2000, 16), maxIter = 2)
    }
    assert(err.getMessage.contains("did not converge"))
  }

  test("random graphs over 7 partitions equal the union-find model") {
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(700 + seed)
      val edges = Seq.fill(150)((rnd.nextInt(200).toLong, rnd.nextInt(200).toLong)) ++
        (0L until 40L).map(i => (1000L + i, 1001L + i))
      val df = rnd.shuffle(edges).toDF("id_a", "id_b").repartition(7)
      assert(solve(df, maxIter = 40) == model(edges), s"seed=$seed")
    }
  }

  test("empty input, self-loops only, and duplicate/reversed edges") {
    assert(solve(Seq.empty[(Long, Long)].toDF("id_a", "id_b")).isEmpty)
    val selfs = Seq((5L, 5L), (9L, 9L), (5L, 5L))
    assert(solve(selfs.toDF("id_a", "id_b").repartition(2)) ==
      Map(5L -> 5L, 9L -> 9L))
    val dups = Seq((3L, 4L), (4L, 3L), (3L, 4L), (4L, 8L), (8L, 4L), (20L, 21L))
    val df = spark.sparkContext.parallelize(dups, dups.size).toDF("id_a", "id_b")
    assert(solve(df) == model(dups))
  }

  test("integer ids keep their type on the contraction, loop and driver " +
      "paths") {
    val oneBlock = Seq((1, 2), (2, 3), (7, 8)).toDF("id_a", "id_b").coalesce(1)
    val spread = roundRobinChain(spark, 200, 8)
      .select(col("id_a").cast(IntegerType), col("id_b").cast(IntegerType))
    val cases = Seq(
      "contraction" -> Dedup.connectedComponents(oneBlock,
        driverEdgeThreshold = 0L),
      "loop" -> Dedup.connectedComponents(spread, maxIter = 40,
        driverEdgeThreshold = 0L),
      "driver" -> Dedup.connectedComponents(oneBlock))
    for ((name, cc) <- cases) {
      assert(cc.schema.map(f => f.name -> f.dataType) ==
        Seq("id" -> IntegerType, "label" -> IntegerType), name)
      assert(cc.count() > 0, name)
    }
    assert(cases(1)._2.as[(Int, Int)].collect().forall(_._2 == 0))
  }
}

object CcContractionSpec {
  /** Plain-Scala union-find: node -> min id of its component. */
  def model(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      r
    }
    edges.foreach { case (u, v) =>
      val (ru, rv) = (find(u), find(v))
      if (ru != rv) parent(math.max(ru, rv)) = math.min(ru, rv)
    }
    edges.flatMap(e => Seq(e._1, e._2)).distinct.map(n => n -> find(n)).toMap
  }

  /** The chain 0 - 1 - ... - (nodes - 1), edge (i, i + 1) placed in
    * partition i % parts. */
  def roundRobinChain(spark: org.apache.spark.sql.SparkSession, nodes: Int,
                      parts: Int): DataFrame = {
    import spark.implicits._
    spark.sparkContext.parallelize(0 until parts, parts)
      .mapPartitionsWithIndex((p, _) =>
        (p until nodes - 1 by parts).iterator.map(i => (i.toLong, i + 1L)))
      .toDF("id_a", "id_b")
  }
}
