package graft

import org.apache.spark.sql.functions._
import graft.core.Pipe
import graft.piglatin.PigScript
import DialectPipeTwinSpec.assertSameRows

/** Regressions for the round-5 core/piglatin review findings. */
class FrontEndFix5Spec extends SparkSpec {
  import spark.implicits._

  test("alias reassignment binds to the value at definition time") {
    val df = Seq(1, 1, 2, 3).toDF("v")
    val c = PigScript.run(spark,
      """b = DISTINCT a;
        |a = FILTER a BY v > 1;
        |d = DISTINCT a;""".stripMargin,
      tables = Map("a" -> df))
    // b was defined over the ORIGINAL a (values 1,2,3), d over the
    // filtered a (2,3) — lazy thunk resolution rewired b to the new a
    assert(c.relation("b").as[Int].collect().toSet == Set(1, 2, 3))
    assert(c.relation("d").as[Int].collect().toSet == Set(2, 3))
  }

  test("self-reassignment (a = DISTINCT a) evaluates instead of recursing") {
    val df = Seq(1, 1, 2).toDF("v")
    val c = PigScript.run(spark, "a = DISTINCT a;", tables = Map("a" -> df))
    assert(c.relation("a").as[Int].collect().toSet == Set(1, 2))
  }

  test("COGROUP yields empty bags, not nulls, for one-sided groups") {
    val l = Seq((1, "x"), (2, "y")).toDF("k", "lv")
    val r = Seq((2, "z"), (3, "w")).toDF("k", "rv")
    val out = PigScript.query(spark,
      """c = COGROUP a BY k, b BY k;
        |d = FOREACH c GENERATE group, COUNT(a) AS ca, COUNT(b) AS cb;""".stripMargin,
      "d", tables = Map("a" -> l, "b" -> r))
      .collect().map(row => (row.getInt(0), row.getLong(1), row.getLong(2)))
    // key 1 only in a (cb must be 0, not null/-1), key 3 only in b
    assert(out.toSet == Set((1, 1L, 0L), (2, 1L, 1L), (3, 0L, 1L)))
    assertSameRows(
      PigScript.query(spark, "c = COGROUP a BY k, b BY k;", "c",
        tables = Map("a" -> l, "b" -> r)),
      Pipe.cogroup((Pipe(l), Seq(col("k")), "a"), (Pipe(r), Seq(col("k")), "b")).df)
  }

  test("RANK without BY is 1-based like Pig; ZIP WITH INDEX stays 0-based") {
    val df = Seq("a", "b", "c").toDF("v")
    val ranked = PigScript.query(spark, "r = RANK a;", "r",
      tables = Map("a" -> df))
    assert(ranked.select(min(col("rank")), max(col("rank")))
      .as[(Long, Long)].head() == ((1L, 3L)))
    val zipped = PigScript.query(spark, "z = ZIP a WITH INDEX;", "z",
      tables = Map("a" -> df))
    assert(zipped.select(min(col("index"))).as[Long].head() == 0L)
  }

  test("GENERATE ... AS name:type declares without casting (Pig + " +
      "reference rscript truth semantics)") {
    // Pig coerces only on LOAD's AS; GENERATE's AS type is declarative —
    // the reference's `$2 AS cluster:int` over a double stores 4.0
    val df = Seq("42", "7").toDF("s")
    val out = PigScript.query(spark,
      "b = FOREACH a GENERATE s AS n:int;", "b", tables = Map("a" -> df))
    assert(out.schema("n").dataType ==
      org.apache.spark.sql.types.StringType)
    assert(out.as[String].collect().toSet == Set("42", "7"))
  }

  test("macro bodies with nested blocks expand fully (brace counting)") {
    val expanded = PigScript.expandMacros(
      """DEFINE m(p) RETURNS out {
        |  t = FOREACH a { s = ORDER x BY f; GENERATE FLATTEN(s); };
        |  $out = LIMIT t $p;
        |};
        |r = m(5);""".stripMargin)
    // the whole body expands: both statements present, params bound,
    // no dangling macro fragments
    assert(expanded.contains("ORDER x BY f"))
    assert(expanded.contains("r = LIMIT t 5;"))
    assert(!expanded.toUpperCase.contains("DEFINE"))
  }

  test("$params inside IMPORTed files substitute (imports before params)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_imp")
    java.nio.file.Files.writeString(dir.resolve("lib.pig"),
      "b = LIMIT a $n;\n")
    val c = PigScript.run(spark,
      s"IMPORT '${dir.resolve("lib.pig")}';",
      params = Map("n" -> "2"),
      tables = Map("a" -> Seq(1, 2, 3).toDF("v")))
    assert(c.relation("b").count() == 2)
  }

  test("BGP constants keep whitespace and dashes (single-token literals)") {
    val triples = Seq(
      ("<s1>", "<p>", "a b"),
      ("<s2>", "<p>", "ab")).toDF("s", "p", "o")
    // single-pattern BGP is a filter keeping the triple schema
    val out = PigScript.query(spark,
      """r = BGP_FILTER t BY { ?x <p> "a b" };""",
      "r", tables = Map("t" -> triples))
    assert(out.select("s").as[String].collect().toSeq == Seq("<s1>"))
    // an IRI containing "--" must not be eaten as a line comment
    val t2 = Seq(("<s3>", "<p--q>", "v")).toDF("s", "p", "o")
    val out2 = PigScript.query(spark,
      """r = BGP_FILTER t BY { ?x <p--q> "v" };""",
      "r", tables = Map("t" -> t2))
    assert(out2.count() == 1)
  }

  test("SIZE is polymorphic: bag element count, string length, both long") {
    val df = Seq((1, "ab"), (1, "cde"), (2, "f")).toDF("k", "s")
    val out = PigScript.query(spark,
      """g = GROUP a BY k;
        |r = FOREACH g GENERATE group, SIZE(a) AS n, SIZE('abc') AS m;""".stripMargin,
      "r", tables = Map("a" -> df))
    assert(out.schema("n").dataType == org.apache.spark.sql.types.LongType)
    assert(out.select("group", "n").as[(Int, Long)].collect().toSet ==
      Set((1, 2L), (2, 1L)))
    assert(out.select("m").as[Long].head() == 3L)
  }
}
