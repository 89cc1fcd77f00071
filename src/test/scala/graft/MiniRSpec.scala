package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.r.MiniR
import graft.ml.Dbscan
import graft.piglatin.PigletReference

/** The builtin RSCRIPT engine: an in-JVM evaluator for the R-matrix
  * subset the reference's scripts use, with fpc::dbscan backed by a real
  * DBSCAN (reference: src/it/resources/rscript.pig, truth/cluster.data). */
class MiniRSpec extends AnyFunSuite {

  private val m = Array(Array(1.0, 2.0), Array(3.0, 4.0))

  test("elementwise arithmetic with scalar broadcasting") {
    assert(MiniR.run("res = inp * 2 + 1", m).map(_.toSeq).toSeq ==
      Seq(Seq(3.0, 5.0), Seq(7.0, 9.0)))
    assert(MiniR.run("res <- (inp - inp) + .5", m).map(_.toSeq).toSeq ==
      Seq(Seq(0.5, 0.5), Seq(0.5, 0.5)))
  }

  test("cbind appends columns; data.frame/data.matrix pass through") {
    val out = MiniR.run(
      "a = cbind(inp, data.frame(inp * 0 + 7)); res = data.matrix(a)", m)
    assert(out.map(_.toSeq).toSeq ==
      Seq(Seq(1.0, 2.0, 7.0, 7.0), Seq(3.0, 4.0, 7.0, 7.0)))
  }

  test("t/nrow/ncol and rbind") {
    assert(MiniR.run("res = t(inp)", m).map(_.toSeq).toSeq ==
      Seq(Seq(1.0, 3.0), Seq(2.0, 4.0)))
    assert(MiniR.run("res = cbind(nrow(inp), ncol(inp))", m).head.toSeq ==
      Seq(2.0, 2.0))
    assert(MiniR.run("res = rbind(inp, inp)", m).length == 4)
  }

  test("library is a no-op; dbscan returns a list with $cluster") {
    // two tight groups of 3 (minPts=3, eps wide enough within groups only)
    val pts = Array(
      Array(0.0, 0.0), Array(0.1, 0.0), Array(0.0, 0.1),
      Array(5.0, 5.0), Array(5.1, 5.0), Array(5.0, 5.1),
      Array(9.9, 0.0)) // isolated → noise
    val out = MiniR.run(
      "library(fpc); db = dbscan(inp, eps=.3, MinPts=3); " +
        "res = data.matrix(cbind(inp, data.frame(db$cluster + 1L)))", pts)
    assert(out.map(_(2)).toSeq == Seq(2.0, 2.0, 2.0, 3.0, 3.0, 3.0, 1.0))
  }

  test("unsupported functions fail loudly") {
    val e = intercept[RuntimeException](MiniR.run("res = lm(inp)", m))
    assert(e.getMessage.contains("unsupported function"))
  }

  test("Dbscan absorbs earlier noise as border of a later cluster") {
    // p0 has only 3 eps-neighbors (self, p3, p5) < minPts, so it is not
    // core — it must still join the cluster as a border point when the
    // core p3 reaches it during expansion
    val pts = Array(
      Array(0.55, 0.05), // border: reachable from p3/p5 only
      Array(9.0, 9.0), // true noise
      Array(0.0, 0.0), Array(0.1, 0.0), Array(0.0, 0.1), Array(0.1, 0.1))
    val labels = Dbscan.fit(pts, eps = 0.5, minPts = 4)
    assert(labels.toSeq == Seq(1, 0, 1, 1, 1, 1))
  }

  test("Dbscan reproduces the reference truth file exactly (fpc semantics)") {
    val lines = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(
      PigletReference("src/it/resources/input/cluster-data.csv")))
    val pts = lines.toArray(Array.empty[String]).filter(_.nonEmpty)
      .map(_.split(",").map(_.toDouble))
    val truth = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(
      PigletReference("src/it/resources/truth/cluster.data")))
      .toArray(Array.empty[String]).filter(_.nonEmpty)
      .map(_.split(",")(2).toDouble.toInt - 1) // truth stores cluster+1
    assert(Dbscan.fit(pts, eps = 0.3, minPts = 5).toSeq == truth.toSeq)
  }
}

/** The grid-partitioned distributed DBSCAN must induce the same
  * clustering as the sequential algorithm (labels are representative ids
  * rather than 1..k, so compare the induced partitions). */
class DbscanDistributedSpec extends SparkSpec {
  import spark.implicits._

  test("distributed DBSCAN matches local clustering on the reference data") {
    val pts = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(
      PigletReference("src/it/resources/input/cluster-data.csv")))
      .toArray(Array.empty[String]).filter(_.nonEmpty)
      .map(_.split(",").map(_.toDouble))
    val local = graft.ml.Dbscan.fit(pts, eps = 0.3, minPts = 5)

    val df = pts.zipWithIndex.map { case (p, i) => (i.toLong, p(0), p(1)) }
      .toSeq.toDF("id", "x", "y").repartition(7)
    // threshold 0 forces the ITERATIVE distributed components path — the
    // default would solve this tiny edge set on the driver
    val got = graft.ml.Dbscan
      .fitDistributed(df, "id", Seq("x", "y"), eps = 0.3, minPts = 5,
        ccDriverEdgeThreshold = 0L)
      .select("id", "cluster").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toMap

    // same noise set
    val localNoise = local.indices.filter(local(_) == 0).map(_.toLong).toSet
    val distNoise = got.collect { case (i, None) => i }.toSet
    assert(distNoise == localNoise)
    // same cluster partition (bijective label mapping, both directions)
    val pairsByLocal = local.indices.filterNot(i => local(i) == 0)
      .groupBy(i => local(i)).values.map(_.map(_.toLong).toSet).toSet
    val pairsByDist = got.collect { case (i, Some(c)) => (i, c) }.toSeq
      .groupBy(_._2).values.map(_.map(_._1).toSet).toSet
    assert(pairsByDist == pairsByLocal)
  }

  test("distributed DBSCAN in 1-D: chain splits at a gap wider than eps") {
    val df = Seq(1.0, 1.5, 2.0, 2.5, 3.0, /* gap */ 10.0, 10.5, 11.0, 11.5,
      /* noise */ 50.0).zipWithIndex.map { case (x, i) => (i.toLong, x) }
      .toDF("id", "x")
    val got = graft.ml.Dbscan
      .fitDistributed(df, "id", Seq("x"), eps = 0.6, minPts = 3)
      .select("id", "cluster").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toMap
    assert(got(9L).isEmpty) // isolated → noise
    val c1 = (0 to 4).map(i => got(i.toLong))
    val c2 = (5 to 8).map(i => got(i.toLong))
    assert(c1.distinct.size == 1 && c2.distinct.size == 1)
    // labels are the MIN CORE id: id 0 (x=1.0) has only 2 eps-neighbors
    // so it is border, and the first cluster's min core is id 1; in the
    // second cluster id 5 (x=10.0) is border and the min core is id 6
    assert(c1.head.contains(1L), s"cluster-1 label ${c1.head}")
    assert(c2.head.contains(6L), s"cluster-2 label ${c2.head}")
  }
}
