package graft.core

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{expr, timestamp_micros}
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Test/benchmark table access over the driver-generated parquet dirs.
  *
  * The reference loads everything through `PigStorage`-style loaders
  * (reference: sparklib/src/main/scala/dbis/piglet/backends/spark/Storage.scala);
  * graft goes straight to Spark's vectorized parquet reader so column
  * pruning and predicate pushdown reach the scan.
  *
  * Schemas are cached per session: `spark.read.parquet` alone runs a
  * one-task footer-reading job on every load, which dominates small
  * queries. A driver-side file listing (no job) decides whether the
  * cached schema still holds; any change in file names, lengths or
  * modification times re-infers it. Entries are per session because
  * inference depends on session confs (nanosAsLong, NTZ inference). The
  * cache holds the `StructType`, never the `DataFrame`: two loads of one
  * table must get distinct attribute ids (self-joins) and a fresh file
  * index.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Location of table `name` under a data directory. */
  def path(sfDir: String, name: String): String = s"$sfDir/$name.parquet"

  /** Where queries and specs write the files they derive and read back:
    * `target/graft-data` under the working directory (sbt's project base). */
  private[graft] def derivedDir: String =
    new java.io.File("target/graft-data").getAbsolutePath

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame =
    normalize(spark.read.schema(schema(spark, sfDir, name))
      .parquet(path(sfDir, name)))

  /** The table's parquet schema as Spark infers it (before [[normalize]]),
    * inferred at most once per session while its files stay unchanged. */
  def schema(spark: SparkSession, sfDir: String, name: String): StructType =
    schemaAt(spark, path(sfDir, name))

  /** The parquet schema Spark infers for `path` (a file or a directory),
    * cached like [[schema]]. A path that does not exist as such — a glob,
    * or a missing path, which then fails with Spark's own error — is
    * inferred on every call and never cached. */
  def schemaAt(spark: SparkSession, path: String): StructType = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return spark.read.parquet(path).schema
    val files = listing(fs, p)
    val entries = cache.synchronized {
      cache.computeIfAbsent(spark,
        _ => new java.util.concurrent.ConcurrentHashMap[String, Entry]())
    }
    val key = fs.makeQualified(p).toString
    Option(entries.get(key)).filter(_.files == files).map(_.schema)
      .getOrElse {
        val inferred = spark.read.parquet(path).schema
        entries.put(key, Entry(files, inferred))
        inferred
      }
  }

  /** Timestamp normalization — the driver's generator has shipped two
    * physical encodings across rounds, and downstream operators expect a
    * plain TimestampType either way:
    *  - TIMESTAMP(NANOS) parquet → Spark reads raw nanos longs (the
    *    nanosAsLong conf, set by [[GraftSession]]) in `ts`;
    *  - timestamp[us] with isAdjustedToUTC=false → Spark 4 infers
    *    TIMESTAMP_NTZ, which unix_micros/watermarks reject.
    * [[GraftSession]] pins spark.sql.session.timeZone=UTC, so the
    * NTZ→TZ cast is value-preserving. Works on batch and streaming frames.
    */
  def normalize(df: DataFrame): DataFrame =
    df.schema.fields.foldLeft(df) { (d, f) =>
      if (f.name == "ts" && f.dataType == LongType)
        // integral div: nano epochs exceed double's 2^53 exact range, so
        // `/` (double divide) can be off by a microsecond
        d.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      else if (f.dataType == TimestampNTZType)
        d.withColumn(f.name, d(f.name).cast(TimestampType))
      else d
    }

  /** Register every table as a temp view (for spark.sql / PigScript use). */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    names.foreach(n => apply(spark, sfDir, n).createOrReplaceTempView(n))

  // (path, length, modification time) of every file under the table
  private final case class Entry(files: Seq[(String, Long, Long)],
                                 schema: StructType)

  // one entry per qualified path, so a table rewritten in place replaces
  // its entry; weak keys let a discarded session's entries go
  private val cache = new java.util.WeakHashMap[SparkSession,
    java.util.concurrent.ConcurrentHashMap[String, Entry]]()

  private def listing(fs: FileSystem, p: Path): Seq[(String, Long, Long)] = {
    val it = fs.listFiles(p, true)
    val b = Seq.newBuilder[(String, Long, Long)]
    while (it.hasNext) {
      val f = it.next()
      b += ((f.getPath.toString, f.getLen, f.getModificationTime))
    }
    b.result().sorted
  }
}
