package graft

import graft.dedup.Dedup

/** Differential testing for connectedComponents: random graphs across
  * seeds and densities (isolated self-loop nodes, long chains, dense
  * blobs, duplicate and reversed edges arise by construction), each
  * solved by BOTH execution paths — the distributed path (partition-local
  * union-find, then pointer jumping on the cross-partition residue;
  * driverEdgeThreshold = 0) and the driver union-find shortcut — and
  * compared against a plain-Scala union-find model. Labels are exact:
  * every node must map to the MINIMUM id of its component. */
class CcDifferentialSpec extends SparkSpec {
  import spark.implicits._

  private def modelOf(edges: Seq[(Long, Long)]): Map[Long, Long] = {
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
    edges.flatMap(e => Seq(e._1, e._2)).distinct
      .map(n => n -> find(n)).toMap
  }

  test("both CC paths equal the union-find model on random graphs") {
    for (seed <- 1 to 4) {
      val rnd = new scala.util.Random(900 + seed)
      val n = 120
      // mix shapes: a long chain (stresses pointer-jump convergence),
      // random sparse edges, one dense blob, isolated self-loops,
      // duplicates and both orientations
      val chain = (0 until 30).map(i => (i.toLong, i.toLong + 1))
      val sparse = (1 to 80).map(_ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val blobBase = 200L + rnd.nextInt(20)
      val blob = (0 until 12).flatMap(i =>
        (i + 1 until 12).map(j => (blobBase + i, blobBase + j)))
      val selfs = (300L to 303L).map(i => (i, i))
      val all = chain ++ sparse ++ blob ++ selfs
      val edges = (all ++ all.take(20).map(_.swap) ++ all.take(10))
      val df = rnd.shuffle(edges).toDF("id_a", "id_b").repartition(5)

      val m = modelOf(edges)
      for (thr <- Seq(0L, 2000000L)) {
        val got = Dedup.connectedComponents(df, maxIter = 40,
            driverEdgeThreshold = thr)
          .as[(Long, Long)].collect().toMap
        assert(got == m, s"seed=$seed thr=$thr " +
          s"diff=${(got.toSet -- m.toSet).take(4)}")
      }
    }
  }

  test("iterative CC path handles string ids (no driver shortcut)") {
    val rnd = new scala.util.Random(42)
    val edges = (1 to 60).map(_ =>
      (s"d${rnd.nextInt(40)}", s"d${rnd.nextInt(40)}"))
    val df = edges.toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(df, maxIter = 40)
      .as[(String, String)].collect().toMap
    // model on the same ids (string min = lexicographic, matching least())
    val parent = scala.collection.mutable.Map.empty[String, String]
    def find(x: String): String = {
      var r = x; while (parent.getOrElse(r, r) != r) r = parent(r); r
    }
    edges.foreach { case (u, v) =>
      val (ru, rv) = (find(u), find(v))
      if (ru != rv) {
        if (ru < rv) parent(rv) = ru else parent(ru) = rv
      }
    }
    val m = edges.flatMap(e => Seq(e._1, e._2)).distinct
      .map(x => x -> find(x)).toMap
    assert(got == m)
  }
}
