package graft

import org.apache.spark.sql.functions._
import graft.core.Pipe

class ManifestSpec extends SparkSpec {
  import spark.implicits._

  private val base = s"${graft.core.Tables.derivedDir}/manifest_spec"

  private def data = spark.range(5000)
    .select(col("id"), (col("id") % 37).as("k"),
      concat(lit("v"), col("id")).as("s"))

  test("manifest totals match the table; per-file counts sum up; the " +
      "json artifact exists and is invisible to parquet readers") {
    val m = Pipe(data).storeWithManifest(s"$base/a",
      maxRecordsPerFile = 600L).cache()
    assert(m.agg(sum("n_rows")).head().getLong(0) == 5000L)
    assert(m.count() > 1, "file roll should produce several files")
    // _manifest dir exists and parquet read of the path still works
    assert(new java.io.File(s"$base/a/_manifest").exists())
    assert(spark.read.parquet(s"$base/a").count() == 5000L)
    m.unpersist()
  }

  test("checksum is order/partitioning-insensitive but content-sensitive") {
    val m1 = Pipe(data).storeWithManifest(s"$base/b1")
    val m2 = Pipe(data.repartition(13).sortWithinPartitions("s"))
      .storeWithManifest(s"$base/b2")
    def total(m: org.apache.spark.sql.DataFrame): Long =
      m.agg(expr("bit_xor(checksum)")).head().getLong(0)
    assert(total(m1) == total(m2),
      "same content, different layout → same total checksum")
    // one changed row flips the total
    val tampered = data.withColumn("s",
      when(col("id") === 4999L, lit("TAMPERED")).otherwise(col("s")))
    val m3 = Pipe(tampered).storeWithManifest(s"$base/b3")
    assert(total(m3) != total(m1))
    // one dropped row flips count AND checksum
    val m4 = Pipe(data.where(col("id") =!= 0L)).storeWithManifest(s"$base/b4")
    assert(m4.agg(sum("n_rows")).head().getLong(0) == 4999L)
    assert(total(m4) != total(m1))
  }

  test("explicit key subset: checksum ignores non-key columns") {
    val m1 = Pipe(data).storeWithManifest(s"$base/c1", Seq(col("id")))
    val renamedPayload = data.withColumn("s", lit("X"))
    val m2 = Pipe(renamedPayload).storeWithManifest(s"$base/c2", Seq(col("id")))
    def total(m: org.apache.spark.sql.DataFrame): Long =
      m.agg(expr("bit_xor(checksum)")).head().getLong(0)
    assert(total(m1) == total(m2))
  }
}
