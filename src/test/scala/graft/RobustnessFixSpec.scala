package graft

import org.apache.spark.sql.functions._
import graft.spatial.Spatial
import graft.dedup.Dedup
import graft.text.TextOps

/** Regressions for the round-4 dedup/spatial/cep/functions review. */
class RobustnessFixSpec extends SparkSpec {
  import spark.implicits._

  test("malformed WKT yields null point / empty ring, not a dead job") {
    val df = Seq("", "POINT (", "garbage 7", "POINT (1 2)").toDF("w")
      .select(Spatial.wktPoint(col("w")).as("p"),
        Spatial.wktPolygon(col("w")).as("ring"))
    val rows = df.collect()
    assert(rows(0).isNullAt(0) && rows(1).isNullAt(0))
    assert(rows(3).getStruct(0).getDouble(0) == 1.0)
    assert(rows(0).getSeq(1).isEmpty)
    // empty polygon contains nothing (and does not crash)
    val c = Seq(1).toDF("x").select(Spatial.containsPoint(
      array().cast("array<struct<x:double,y:double>>"),
      Spatial.point(lit(0.0), lit(0.0)))).as[Boolean].head()
    assert(!c)
  }

  test("WKT numbers accept '+'-signed exponents") {
    val p = Seq("POINT (1e+5 2)").toDF("w")
      .select(Spatial.wktPoint(col("w"))).head().getStruct(0)
    assert(p.getDouble(0) == 100000.0 && p.getDouble(1) == 2.0)
  }

  test("native cosine fails loudly on dimension mismatch") {
    val df = Seq((Seq(1.0, 2.0), Seq(1.0, 2.0, 3.0))).toDF("a", "b")
    val err = intercept[Exception] {
      df.select(graft.functions.GraftFunctions.cosine(
        col("a"), col("b"))).collect()
    }
    assert(err.getMessage != null)
  }

  test("exact dedup drops null-text docs instead of pooling them") {
    val df = Seq((1L, "same"), (2L, "same"),
      (3L, null), (4L, null), (5L, "")).toDF("doc_id", "text")
    val out = Dedup.exact(df, "doc_id", "text")
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    // one group for "same" (ids 1,2), one for "" (id 5); nulls gone
    assert(out == Map(1L -> 2L, 5L -> 1L))
  }

  test("CEP rejects trailing-Neg patterns instead of ignoring them") {
    import graft.cep.Matcher
    val ev = Seq((1L, 1L, "a", 1L, 0.0))
      .toDF("user_id", "ts", "event_type", "event_id", "value")
      .withColumn("ts", timestamp_micros(col("ts")))
    val err = intercept[IllegalArgumentException] {
      Matcher.matchSeq(ev, "user_id", "ts", "event_type", "event_id",
        "value", Seq(Matcher.Pos(Matcher.typeIs("a")),
          Matcher.Neg(Matcher.typeIs("b"))), 1000L)
    }
    assert(err.getMessage.contains("end with a Pos"))
  }

  test("stripAccents honours the requested normal form (NFD stays decomposed)") {
    def norm(form: String) = Seq("ña").toDF("t")
      .select(TextOps.normalizeText(col("t"), form, stripAccents = true))
      .as[String].head()
    assert(norm("NFC") == "na")
    val nfd = norm("NFD")
    assert(nfd == "na") // no marks left to decompose here
    // a char that differs between forms: 'Å' (U+212B ANGSTROM) under NFKD
    val ang = Seq("Å").toDF("t")
      .select(TextOps.normalizeText(col("t"), "NFKD", stripAccents = true))
      .as[String].head()
    assert(ang == "A") // decomposed to A + ring, ring stripped, stays NFKD
  }

  test("all-constant BGP pattern is an existence gate, not a multiplier") {
    import graft.rdf.Rdf
    val triples = Seq(
      ("<a>", "<p>", "<b>"), ("<a>", "<p>", "<b>"), // duplicate constant
      ("<x>", "<q>", "<y>"), ("<z>", "<q>", "<w>")).toDF("s", "p", "o")
    val out = Rdf.bgpFilter(triples, Seq(
      Rdf.Pattern("<a>", "<p>", "<b>"),
      Rdf.Pattern("?m", "<q>", "?n")))
    assert(out.count() == 2) // the two ?m bindings, NOT doubled to 4
  }
}
