package graft

import org.apache.spark.sql.functions._
import graft.core.Pipe

/** The claim under test: a z-ordered layout gives file-level min/max
  * pruning to EVERY layout column, where a linear sort serves only its
  * leading column. Verified by reading back per-file (min,max) ranges
  * and counting files a range predicate would have to touch. */
class ZOrderLayoutSpec extends SparkSpec {
  import spark.implicits._

  private val base = s"${graft.core.Tables.derivedDir}/zorder_spec"

  // 40k rows on a 200×200 grid, row-major order (so a naive write is
  // already x-clustered and y-scattered — the hostile case for y)
  private def grid = spark.range(40000)
    .select((col("id") / 200).cast("long").as("x"),
      (col("id") % 200).cast("long").as("y"),
      col("id").as("payload"))

  /** Files whose [min,max] range of `c` overlaps [lo, hi]. */
  private def touched(path: String, c: String, lo: Long, hi: Long): Int = {
    val stats = spark.read.parquet(path)
      .groupBy(input_file_name().as("f"))
      .agg(min(col(c)).as("lo"), max(col(c)).as("hi"))
      .collect()
    stats.count(r => r.getLong(1) <= hi && r.getLong(2) >= lo)
  }

  private def fileCount(path: String): Int =
    spark.read.parquet(path).select(input_file_name())
      .distinct().count().toInt

  test("z-order prunes on BOTH columns; linear sort only on its leader") {
    Pipe(grid).storeSorted(s"$base/linear", Seq(col("x")),
      maxRecordsPerFile = 1250L)
    Pipe(grid).storeZOrdered(s"$base/zorder", Seq("x", "y"), bits = 8,
      maxRecordsPerFile = 1250L)
    val (nLin, nZ) = (fileCount(s"$base/linear"), fileCount(s"$base/zorder"))
    assert(nLin >= 16 && nZ >= 16, s"need enough files: $nLin / $nZ")

    // a 10-wide band on x: both layouts prune hard
    val xLin = touched(s"$base/linear", "x", 100, 109)
    val xZ = touched(s"$base/zorder", "x", 100, 109)
    assert(xLin <= nLin / 4, s"linear x: $xLin of $nLin")
    assert(xZ <= nZ / 2, s"zorder x: $xZ of $nZ")

    // a 10-wide band on y: the linear layout reads EVERYTHING (y is
    // scattered across every file); z-order still skips most files
    val yLin = touched(s"$base/linear", "y", 100, 109)
    val yZ = touched(s"$base/zorder", "y", 100, 109)
    assert(yLin >= (nLin * 0.9).toInt, s"linear y should touch ~all: $yLin of $nLin")
    assert(yZ <= nZ / 2, s"zorder y must prune: $yZ of $nZ")
  }

  test("z-ordered write preserves content exactly") {
    Pipe(grid).storeZOrdered(s"$base/rt", Seq("x", "y"), bits = 6)
    val back = spark.read.parquet(s"$base/rt")
    assert(back.columns.sorted.toSeq == Seq("payload", "x", "y"))
    assert(back.count() == 40000L)
    assert(back.agg(sum("payload")).head().getLong(0) ==
      grid.agg(sum("payload")).head().getLong(0))
    assert(back.except(grid).isEmpty && grid.except(back).isEmpty)
  }

  test("skewed data still spreads across bins (quantile, not min/max)") {
    // 99% of mass at x=0; min/max scaling would put everything in bin 0
    val skew = spark.range(20000)
      .select(when(col("id") % 100 === 0, col("id")).otherwise(0L).as("x"),
        (col("id") % 50).as("y"), col("id").as("payload"))
    Pipe(skew).storeZOrdered(s"$base/skew", Seq("x", "y"), bits = 6,
      maxRecordsPerFile = 1000L)
    val n = fileCount(s"$base/skew")
    // a predicate on the non-skewed column still prunes
    val yTouched = touched(s"$base/skew", "y", 10, 14)
    assert(yTouched < n, s"expected some pruning: $yTouched of $n")
    assert(spark.read.parquet(s"$base/skew").count() == 20000L)
  }

  test("null and all-null layout columns degrade, not fail") {
    val withNulls = spark.range(1000)
      .select(when(col("id") % 7 === 0, lit(null)).otherwise(col("id"))
          .cast("long").as("x"),
        lit(null).cast("double").as("y"), col("id").as("payload"))
    Pipe(withNulls).storeZOrdered(s"$base/nulls", Seq("x", "y"), bits = 4)
    assert(spark.read.parquet(s"$base/nulls").count() == 1000L)
  }

  test("reserved column and empty layout list fail fast") {
    intercept[IllegalArgumentException] {
      Pipe(grid.withColumnRenamed("payload", "__z"))
        .storeZOrdered(s"$base/bad", Seq("x"))
    }
    intercept[IllegalArgumentException] {
      Pipe(grid).storeZOrdered(s"$base/bad", Seq.empty)
    }
  }
}
