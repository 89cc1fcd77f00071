package graft

import org.apache.spark.sql.functions._
import graft.core.Pipe
import graft.piglatin.{PigParser, PigScript}
import DialectPipeTwinSpec.assertSameRows

/** Regressions for the round-4 front-end review findings. */
class FrontEndFixSpec extends SparkSpec {
  import spark.implicits._

  test("SET and REGISTER parse with unquoted values before ';'") {
    val stmts = PigParser.parseScript(
      """set default_parallel 5;
        |register piggybank.jar;
        |a = LOAD 'f' AS (x:int);""".stripMargin)
    assert(stmts.length == 3)
  }

  test("group arithmetic fuses with aggregates (GENERATE group * 2, COUNT)") {
    val df = Seq((1, 10), (1, 20), (2, 30)).toDF("x", "y")
    val out = PigScript.query(spark,
      """b = group a by x;
        |c = foreach b generate group * 2 as g2, COUNT(a) as cnt;""".stripMargin,
      "c", tables = Map("a" -> df))
    assert(out.select(col("g2").cast("long"), col("cnt"))
      .as[(Long, Long)].collect().toSet == Set((2L, 2L), (4L, 1L)))
    // still the fused plan — no bag
    assert(!out.queryExecution.optimizedPlan.toString.contains("collect_list"))
  }

  test("single-field-relation aggregates: SUM(a) / AVG(a) / MIN(a)") {
    val df = Seq(1.0, 2.0, 3.0).toDF("v")
    val out = PigScript.query(spark,
      """b = group a all;
        |c = foreach b generate SUM(a) as s, AVG(a) as m, MIN(a) as lo;""".stripMargin,
      "c", tables = Map("a" -> df))
    assert(out.as[(Double, Double, Double)].head() == ((6.0, 2.0, 1.0)))
    // multi-field bags still get the clear diagnostic
    val multi = Seq((1, 2)).toDF("x", "y")
    val err = intercept[RuntimeException] {
      PigScript.query(spark,
        "b = group a all;\nc = foreach b generate SUM(a);",
        "c", tables = Map("a" -> multi)).collect()
    }
    assert(err.getMessage.contains("project"))
  }

  test("BGP_FILTER <iri> constants match RDFLOAD's raw bracketed tokens") {
    val nt = java.nio.file.Files.createTempFile("graft-bgp", ".nt")
    java.nio.file.Files.writeString(nt,
      """<urn:a> <urn:name> "alice" .
        |<urn:b> <urn:name> "bob" .
        |<urn:a> <urn:age> "30" .
        |""".stripMargin)
    val out = PigScript.query(spark,
      s"""t = RDFLOAD('$nt');
         |n = BGP_FILTER t BY {{ ?x <urn:name> ?who }};""".stripMargin
        .replace("{{", "{").replace("}}", "}"),
      "n")
    assert(out.count() == 2)
  }

  test("STREAM THROUGH passes constructor args and applies the AS schema") {
    val df = Seq(1, 2, 3, 4).toDF("x")
    val c = PigScript.run(spark,
      "b = STREAM a THROUGH thresh('2') AS (big:long);",
      tables = Map("a" -> df),
      udosWithArgs = Map("thresh" -> ((args, d) =>
        d.where(col("x") > args.head.toInt))))
    val out = c.relation("b")
    assert(out.schema.fields.map(f => (f.name, f.dataType.typeName)).toSeq ==
      Seq(("big", "long")))
    assert(out.as[Long].collect().sorted.toSeq == Seq(3L, 4L))
  }

  test("bag SUM/AVG ignore null elements (Pig semantics)") {
    val df = Seq((1, Seq(Some(1.0), None, Some(2.0)))).toDF("id", "b")
    val out = PigScript.query(spark,
      "c = foreach a generate SUM(b) as s, AVG(b) as m;",
      "c", tables = Map("a" -> df))
    assert(out.as[(Double, Double)].head() == ((3.0, 1.5)))
  }

  test("SPLIT INTO with only OTHERWISE routes every row") {
    val df = Seq(1, 2).toDF("x")
    val c = PigScript.run(spark, "SPLIT a INTO b OTHERWISE;",
      tables = Map("a" -> df))
    assert(c.relation("b").count() == 2)
    assertSameRows(c.relation("b"), Pipe(df).splitOtherwise().df)
  }

  test("plain UNION is positional; ONSCHEMA aligns by name") {
    val a = Seq((1, "p")).toDF("x", "y")
    val b = Seq((2, "q")).toDF("p", "q")
    val pos = PigScript.query(spark, "c = UNION a, b;", "c",
      tables = Map("a" -> a, "b" -> b))
    assert(pos.columns.toSeq == Seq("x", "y"))
    assert(pos.as[(Int, String)].collect().toSet == Set((1, "p"), (2, "q")))
    assertSameRows(pos, Pipe(a).unionPositional(Pipe(b)).df)
    val on = PigScript.query(spark, "c = UNION ONSCHEMA a, b;", "c",
      tables = Map("a" -> a, "b" -> b))
    assert(on.columns.toSet == Set("x", "y", "p", "q"))
    assert(on.count() == 2)
    assertSameRows(on, Pipe(a).unionWith(Pipe(b)).df)
    // arity mismatch without ONSCHEMA is a clear error
    val bad = Seq((1, 2, 3)).toDF("p", "q", "r")
    val err = intercept[RuntimeException] {
      PigScript.query(spark, "c = UNION a, b;", "c",
        tables = Map("a" -> a, "b" -> bad)).collect()
    }
    assert(err.getMessage.contains("arity"))
    val apiErr = intercept[IllegalArgumentException] {
      Pipe(a).unionPositional(Pipe(bad))
    }
    assert(apiErr.getMessage == err.getMessage)
  }

  test("MATCHES accepts a column-valued pattern") {
    val df = Seq(("alice", "a.*"), ("bob", "a.*")).toDF("name", "pat")
    val out = PigScript.query(spark,
      "c = FILTER a BY name MATCHES pat;", "c", tables = Map("a" -> df))
    assert(out.select("name").as[String].collect().toSeq == Seq("alice"))
  }

  test("RDFLOAD grouped on yields the reference's (col, stmts) layout") {
    val nt = java.nio.file.Files.createTempFile("graft-rdfg", ".nt")
    java.nio.file.Files.writeString(nt,
      """<urn:a> <urn:name> "alice" .
        |<urn:a> <urn:age> "30" .
        |<urn:b> <urn:name> "bob" .
        |""".stripMargin)
    val out = PigScript.query(spark,
      s"t = RDFLOAD('$nt') grouped on subject;", "t")
    assert(out.columns.toSeq == Seq("subject", "stmts"))
    val a = out.where(col("subject") === "<urn:a>")
      .select(size(col("stmts"))).as[Int].head()
    assert(a == 2)
    assert(out.count() == 2)
  }

  test("INTERSECTION statement accepts the reference's full spelling") {
    val a = Seq(1, 2, 3).toDF("x")
    val b = Seq(2, 3, 4).toDF("x")
    val out = PigScript.query(spark, "c = INTERSECTION a, b;", "c",
      tables = Map("a" -> a, "b" -> b))
    assert(out.as[Int].collect().sorted.toSeq == Seq(2, 3))
  }

  test("parameter substitution respects identifier boundaries ($p vs $p2)") {
    val df = Seq(1, 5, 10, 52).toDF("x")
    // iteration order of the params map must not matter
    val c = PigScript.run(spark, "b = FILTER a BY x > $p AND x < $p2;",
      params = scala.collection.immutable.ListMap("p" -> "5", "p2" -> "10"),
      tables = Map("a" -> df))
    assert(c.relation("b").count() == 0) // (5,10) exclusive → nothing
    val c2 = PigScript.run(spark, "b = FILTER a BY x >= $p2;",
      params = scala.collection.immutable.ListMap("p" -> "5", "p2" -> "10"),
      tables = Map("a" -> df))
    assert(c2.relation("b").as[Int].collect().sorted.toSeq == Seq(10, 52))
  }
}
