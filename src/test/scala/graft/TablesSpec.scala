package graft

import graft.core.Tables

/** `Tables` caches each table's parquet schema per session and checks it
  * against a driver-side file listing on every load. */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir() =
    java.nio.file.Files.createTempDirectory("graft_tables").toString

  private def write(df: org.apache.spark.sql.DataFrame, dir: String): Unit =
    df.write.mode("overwrite").parquet(Tables.path(dir, "t"))

  test("a second load of an unchanged table runs no Spark job") {
    val dir = freshDir()
    write((1L to 20L).toDF("id"), dir)
    assert(jobsDuring(Tables(spark, dir, "t")) >= 1,
      "the first load infers the schema with a job")
    var again: org.apache.spark.sql.DataFrame = null
    assert(jobsDuring { again = Tables(spark, dir, "t") } == 0)
    assert(again.schema == spark.read.parquet(Tables.path(dir, "t")).schema)
    assert(again.count() == 20)
  }

  test("rewriting a table's files invalidates its cached schema") {
    val dir = freshDir()
    write((1L to 5L).map(i => (i, s"v$i")).toDF("id", "v"), dir)
    assert(Tables(spark, dir, "t").columns.toSeq == Seq("id", "v"))
    write((10L to 12L).map(i => (i, s"w$i", i * 2)).toDF("id", "v", "extra"),
      dir)
    val t = Tables(spark, dir, "t")
    assert(t.columns.toSeq == Seq("id", "v", "extra"))
    assert(t.orderBy("id").as[(Long, String, Long)].collect().toSeq ==
      Seq((10L, "w10", 20L), (11L, "w11", 22L), (12L, "w12", 24L)))
    // the rewritten entry is the one now cached
    assert(jobsDuring(Tables(spark, dir, "t")) == 0)
  }

  test("a self-join of two loads resolves and matches the uncached result") {
    val dir = freshDir()
    write((1L to 10L).map(i => (i, i % 3)).toDF("id", "k"), dir)
    def selfJoin(a: org.apache.spark.sql.DataFrame,
                 b: org.apache.spark.sql.DataFrame) =
      a.join(b, a("k") === b("k") && a("id") < b("id"))
        .select(a("id").as("l"), b("id").as("r"))
        .as[(Long, Long)].collect().sorted.toSeq
    val p = Tables.path(dir, "t")
    val uncached = selfJoin(spark.read.parquet(p), spark.read.parquet(p))
    assert(uncached.nonEmpty)
    assert(selfJoin(Tables(spark, dir, "t"), Tables(spark, dir, "t")) ==
      uncached)
  }

  test("the cached schema keeps the timestamp normalization") {
    val ev = Tables(spark, sfDir, "events")
    assert(ev.schema("ts").dataType == org.apache.spark.sql.types.TimestampType)
    assert(Tables(spark, sfDir, "events").schema == ev.schema)
  }
}
