package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scale-stress harness for the edit-distance similarity join
  * ([[graft.text.EditDistance.fuzzySelfJoin]]): synthesizes a factor-N
  * entity-name table IN-ENGINE (the base customer names plus salted
  * copies whose numeric ids land in disjoint ranges — so the DENSITY of
  * distance-1 neighbors per name stays the shape of the base table) and
  * times the self-join at each factor.
  *
  * What the ledger proves: the deletion-neighborhood join's cost tracks
  * n·len (variants) + output pairs — at 100× rows an all-pairs refine
  * would do 10,000× the levenshtein work; the candidate join must stay
  * ≈linear-in-rows plus output growth, or the pigeonhole bound broke.
  * Every row cross-checks |pairs| against an independent in-engine
  * Hamming-style count (equal-length distance-1 pairs are substitution
  * pairs, and ALL planted names are equal-length) so a scale row that
  * silently lost recall fails the tool rather than reading fast.
  *
  * Usage: runMain graft.tools.FuzzyScaleBench [factors] [ledgerPath]
  *   SPARK_GRAFT_SCALE_BASE  base dir (default /root/testdata/sf0.1)
  */
object FuzzyScaleBench {

  def main(args: Array[String]): Unit = {
    val factors = args.headOption.getOrElse("1,10,100")
      .split(",").map(_.trim.toInt).toSeq
    val ledger = args.lift(1).getOrElse("bench/bench_r08_fuzzy_scale.json")
    val base = sys.env.getOrElse("SPARK_GRAFT_SCALE_BASE",
      "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val cust = graft.core.Tables(spark, base, "customer")
      .select(col("c_name")).cache()
    val n0 = cust.count()

    val rows = factors.map { f =>
      // copy c rebuilds the 9-digit numeric suffix in a disjoint range:
      // same length, same local neighbor density, unique names
      val names =
        if (f == 1) cust
        else spark.range(f).crossJoin(cust)
          .select(concat(lit("Customer#"),
            lpad((regexp_extract(col("c_name"), "(\\d+)$", 1)
              .cast("long") + col("id") * 10000000L).cast("string"),
              9, "0")).as("c_name"))
      names.cache().count()
      val t0 = System.nanoTime()
      val pairs = graft.text.EditDistance
        .fuzzySelfJoin(names, "c_name", maxDist = 1)
      val nPairs = pairs.count()
      val dt = (System.nanoTime() - t0) / 1e9
      // independent recall check: every distance-1 pair of equal-length
      // strings is a single-substitution pair — count those directly by
      // (prefix, suffix) blocking per position, no deletion variants
      val withPos = names.select(col("c_name"),
        explode(sequence(lit(1), length(col("c_name")))).as("p"))
        .select(col("c_name"),
          concat_ws("|",
            expr("substring(c_name, 1, p - 1)"),
            expr("substring(c_name, p + 1, length(c_name))")).as("ctx"),
          expr("substring(c_name, p, 1)").as("ch"))
      val a = withPos.toDF("a", "ctx", "cha")
      val b = withPos.toDF("b", "ctx", "chb")
      val subPairs = a.join(b, "ctx")
        .where(col("a") < col("b") && col("cha") =!= col("chb"))
        .select("a", "b").distinct().count()
      require(nPairs == subPairs,
        s"recall break at factor $f: fuzzy=$nPairs substitution=$subPairs")
      names.unpersist()
      println(f"[fuzzy-scale] factor=$f%3d names=${n0 * f}%9d " +
        f"pairs=$nPairs%10d wall=$dt%7.2fs")
      (f, n0 * f, nPairs, dt)
    }
    val qs = rows.map { case (f, n, p, s) =>
      s""""f$f":{"names":$n,"pairs":$p,"sec":$s}""" }.mkString("{", ",", "}")
    val r1 = rows.head._4
    val line = s"""{"metric":"fuzzy_join_scale","base":"$base",""" +
      s""""maxDist":1,"rows":$qs,""" +
      s""""ratio_vs_f1":${rows.last._4 / r1}}"""
    println(line)
    Option(java.nio.file.Paths.get(ledger).getParent)
      .foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(ledger), line)
    spark.stop()
  }
}
