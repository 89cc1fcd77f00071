package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.ArrayType
import graft.core.Pipe
import graft.piglatin.PigScript

/** Each Pig Latin statement that lowers onto `Pipe` returns the same rows
  * as its `Pipe` call, on frames with null keys, groups present in only
  * one input and a dotted column name. The UNION, SPLIT-only-OTHERWISE
  * and two-input COGROUP twins live in FrontEndFixSpec and
  * FrontEndFix5Spec. */
class DialectPipeTwinSpec extends SparkSpec {
  import spark.implicits._
  import DialectPipeTwinSpec.assertSameRows

  private def a = Seq[(Option[Int], String, Option[Int])](
    (Some(1), "x", Some(10)), (Some(1), "y", None), (None, "z", Some(30)),
    (None, "z2", Some(30)), (Some(2), "w", Some(40)))
    .toDF("k", "a.b", "v")
  private def b = Seq[(Option[Int], String)](
    (Some(2), "p"), (None, "q"), (Some(3), "r")).toDF("k", "bv")
  private def c = Seq((Some(3), 1.5), (Some(4), 2.5), (Option.empty[Int], 0.5))
    .toDF("k", "cv")
  private def tables = Map("a" -> a, "b" -> b, "c" -> c)

  private def pig(script: String, alias: String): DataFrame =
    PigScript.query(spark, script, alias, tables = tables)

  test("GROUP BY one key over a dotted column name matches groupByBag") {
    val out = pig("g = GROUP a BY k;", "g")
    assertSameRows(out, Pipe(a).groupByBag("a", col("k")).df)
    // the null key is one group
    assert(out.where(col("group").isNull).select(size(col("a"))).as[Int]
      .collect().toSeq == Seq(2))
  }

  test("GROUP BY two keys matches groupByBag (struct group)") {
    assertSameRows(pig("g = GROUP a BY (k, v);", "g"),
      Pipe(a).groupByBag("a", col("k"), col("v")).df)
  }

  test("GROUP ALL matches groupByBag with no keys: group is 'all'") {
    val out = pig("g = GROUP a ALL;", "g")
    assertSameRows(out, Pipe(a).groupByBag("a").df)
    assert(out.select(col("group"), size(col("a"))).as[(String, Int)]
      .collect().toSeq == Seq(("all", 5)))
  }

  test("three-input COGROUP matches Pipe.cogroup: empty bags, null keys") {
    val out = pig("g = COGROUP a BY k, b BY k, c BY k;", "g")
    val api = Pipe.cogroup((Pipe(a), Seq(col("k")), "a"),
      (Pipe(b), Seq(col("k")), "b"), (Pipe(c), Seq(col("k")), "c")).df
    assertSameRows(out, api)
    assert(out.select(col("group"), size(col("a")), size(col("b")),
        size(col("c"))).as[(Option[Int], Int, Int, Int)].collect().toSet ==
      Set((Some(1), 2, 0, 0), (Some(2), 1, 1, 0), (Some(3), 0, 1, 1),
        (Some(4), 0, 0, 1), (None, 2, 1, 1)))
  }

  test("SPLIT with a null-valued condition and OTHERWISE matches " +
      "splitInto + splitOtherwise") {
    val script = PigScript.run(spark,
      "SPLIT a INTO hi IF v > 15, lo IF v < 15, rest OTHERWISE;",
      tables = tables)
    val conds = Seq(col("v") > 15, col("v") < 15)
    val Seq(hi, lo) = Pipe(a).splitInto(conds: _*)
    assertSameRows(script.relation("hi"), hi.df)
    assertSameRows(script.relation("lo"), lo.df)
    val rest = script.relation("rest")
    assertSameRows(rest, Pipe(a).splitOtherwise(conds: _*).df)
    // v is null: false-or-null on every branch, so only OTHERWISE has it
    assert(rest.select(col("`a.b`")).as[String].collect().toSeq == Seq("y"))
  }

  private def prefixed(in: String, df: DataFrame): Pipe =
    Pipe(df.toDF(df.columns.map(c => s"$in::$c").toIndexedSeq: _*))

  test("inner and left JOIN match joinOn over in::field names") {
    val cond: Column = col("`a::k`") === col("`b::k`")
    val inner = pig("j = JOIN a BY k, b BY k;", "j")
    assert(inner.columns.toSeq == Seq("a::k", "a::a.b", "a::v", "b::k", "b::bv"))
    assertSameRows(inner, prefixed("a", a).joinOn(prefixed("b", b), cond).df)
    assertSameRows(pig("j = JOIN a BY k LEFT OUTER, b BY k;", "j"),
      prefixed("a", a).joinOn(prefixed("b", b), cond, "left").df)
  }

  test("CROSS matches crossWith") {
    // both inputs have a column k: Pig names them a::k and b::k
    val x = PigScript.run(spark, "x = CROSS a, b; y = FOREACH x GENERATE " +
      "a::k AS ak, b::k AS bk;", tables = tables)
    val cross = x.relation("x")
    assert(cross.columns.toSeq == Seq("a::k", "a::a.b", "a::v", "b::k", "b::bv"))
    assertSameRows(cross, prefixed("a", a).crossWith(prefixed("b", b)).df)
    assert(x.relation("y").count() == a.count() * b.count())
  }

  test("registry twins q_pig_nested and q_nested_foreach return the same rows") {
    val q = SparkEntry.queries
    assertSameRows(q("q_pig_nested")(spark, sfDir),
      q("q_nested_foreach")(spark, sfDir).toDF("nk", "uniq_cnt"))
  }
}

object DialectPipeTwinSpec extends org.scalatest.Assertions {
  /** Same column names and types, and the same rows as a multiset
    * (`exceptAll` both ways). Bags are compared as multisets too: each
    * array column is sorted first, since `collect_list` order is not
    * deterministic. */
  def assertSameRows(actual: DataFrame, expected: DataFrame): Unit = {
    def norm(df: DataFrame) = df.select(df.schema.fields.map { f =>
      val c = col(s"`${f.name}`")
      (f.dataType match {
        case _: ArrayType => sort_array(c)
        case _ => c
      }).as(f.name)
    }.toIndexedSeq: _*)
    val (l, r) = (norm(actual), norm(expected))
    assert(l.schema.map(f => (f.name, f.dataType)) ==
      r.schema.map(f => (f.name, f.dataType)),
      s"schemas differ:\n${l.schema.treeString}\n${r.schema.treeString}")
    assert(l.exceptAll(r).isEmpty && r.exceptAll(l).isEmpty,
      s"rows differ:\n${l.collect().mkString("\n")}\nvs\n" +
        r.collect().mkString("\n"))
  }
}
