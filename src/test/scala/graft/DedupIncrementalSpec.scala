package graft

import org.apache.spark.sql.functions._
import graft.dedup.{Dedup, Incremental}
import graft.queries.PipelineQueries

/** Incremental dedup: the append path must be EQUIVALENT to recomputing
  * from scratch — `dedup(corpus ∪ Δ) ≡ incremental(index(corpus), Δ)` —
  * for both the exact and the MinHash strategy, with the split chosen
  * orthogonally to the planted-duplicate structure (dup pairs straddle
  * the base/delta boundary in every combination). */
class DedupIncrementalSpec extends SparkSpec {

  private def planted = {
    val docs = graft.core.Tables(spark, sfDir, "documents")
    PipelineQueries.plantedDocs(docs)
  }

  test("exact: folding a delta into the index equals full-corpus dedup") {
    val all = planted.union(
      planted.select(col("doc_id") + 5000000L, col("text"))
        .toDF("doc_id", "text")) // verbatim dups for the exact path
    // split orthogonal to the dup structure: some dups land base–base,
    // some base–delta, some delta–delta
    val base = all.where(pmod(col("doc_id"), lit(3)) =!= 0)
    val delta = all.where(pmod(col("doc_id"), lit(3)) === 0)
    val incr = Incremental.exactAppend(
        Incremental.exactIndex(base, "doc_id", "text"),
        delta, "doc_id", "text")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val full = Dedup.exact(all, "doc_id", "text")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(incr == full)
  }

  test("exact: appending to an index read back from parquet equals a " +
      "rebuild over corpus ∪ delta (as multisets)") {
    val all = planted.union(
      planted.select(col("doc_id") + 5000000L, col("text"))
        .toDF("doc_id", "text"))
    val base = all.where(pmod(col("doc_id"), lit(3)) =!= 0)
    val delta = all.where(pmod(col("doc_id"), lit(3)) === 0)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_exact_idx").toString
    Incremental.exactIndex(base, "doc_id", "text")
      .write.mode("overwrite").parquet(dir)
    val incr = Incremental.exactAppend(spark.read.parquet(dir), delta,
      "doc_id", "text")
    val full = Incremental.exactIndex(all, "doc_id", "text")
    assert(full.exceptAll(incr).count() == 0)
    assert(incr.exceptAll(full).count() == 0)
  }

  test("minhash: base pairs + append pairs equal full-corpus pairs") {
    val all = planted
    val base = all.where(pmod(col("doc_id"), lit(3)) =!= 0)
    val delta = all.where(pmod(col("doc_id"), lit(3)) === 0)
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = pairSet(Dedup.minhashLsh(all, "doc_id", "text",
      numHashes = 48, bands = 16, threshold = 0.5))
    val basePairs = pairSet(Dedup.minhashLsh(base, "doc_id", "text",
      numHashes = 48, bands = 16, threshold = 0.5))
    val (newPairs, _) = Incremental.minhashAppend(
      Incremental.minhashIndex(base, "doc_id", "text",
        numHashes = 48, bands = 16),
      delta, "doc_id", "text", numHashes = 48, bands = 16, threshold = 0.5)
    val appended = pairSet(newPairs)
    // appended pairs all touch the delta; base pairs never do
    assert(appended.forall { case (a, b) => a % 3 == 0 || b % 3 == 0 })
    assert(basePairs.forall { case (a, b) => a % 3 != 0 && b % 3 != 0 })
    assert((basePairs ++ appended) == full)
  }

  test("minhash append fails fast when a delta id already exists in " +
      "the index") {
    val all = planted
    val base = all.where(pmod(col("doc_id"), lit(3)) =!= 0)
    val idx = Incremental.minhashIndex(base, "doc_id", "text",
      numHashes = 48, bands = 16)
    val err = intercept[IllegalArgumentException] {
      Incremental.minhashAppend(idx, base.limit(1), "doc_id", "text",
        numHashes = 48, bands = 16, threshold = 0.5)
    }
    assert(err.getMessage.contains("already exists in the index"))
  }

  test("exact append fails fast when a delta id already exists in " +
      "the index") {
    val base = planted.where(pmod(col("doc_id"), lit(3)) =!= 0)
    val idx = Incremental.exactIndex(base, "doc_id", "text")
    val err = intercept[IllegalArgumentException] {
      Incremental.exactAppend(idx, base.limit(1), "doc_id", "text")
        .collect()
    }
    assert(err.getMessage.contains("already exists in the index"))
    // explicit opt-out still runs (caller vouches for fresh ids)
    val delta = planted.where(pmod(col("doc_id"), lit(3)) === 0)
    assert(Incremental.exactAppend(idx, delta, "doc_id", "text",
      validateDisjoint = false).count() > 0)
  }

  test("minhash index round-trips through parquet persistence") {
    val all = planted
    val base = all.where(pmod(col("doc_id"), lit(3)) =!= 0)
    val delta = all.where(pmod(col("doc_id"), lit(3)) === 0)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_incr_idx").toString
    Incremental.saveMinhashIndex(
      Incremental.minhashIndex(base, "doc_id", "text",
        numHashes = 48, bands = 16), dir)
    val loaded = Incremental.loadMinhashIndex(spark, dir)
    val (fromDisk, updated) = Incremental.minhashAppend(loaded, delta,
      "doc_id", "text", numHashes = 48, bands = 16, threshold = 0.5)
    val (fromMem, _) = Incremental.minhashAppend(
      Incremental.minhashIndex(base, "doc_id", "text",
        numHashes = 48, bands = 16),
      delta, "doc_id", "text", numHashes = 48, bands = 16, threshold = 0.5)
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairSet(fromDisk) == pairSet(fromMem))
    // the updated index covers base ∪ delta: persisting and appending a
    // SECOND shard against it still needs no old-corpus text
    assert(updated.shingles.count() ==
      all.where(length(trim(col("text"))) > 0).count())
  }

  test("loading an index with a stale or missing signature stamp fails fast") {
    val base = planted.where(pmod(col("doc_id"), lit(3)) =!= 0)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_incr_stamp").toString
    Incremental.saveMinhashIndex(
      Incremental.minhashIndex(base, "doc_id", "text"), dir)
    // a stamp from a different mix era: the (band, bh) keys would match
    // nothing and append would silently emit zero delta-vs-old pairs —
    // the load must refuse instead
    // drop the Hadoop LocalFS sidecar checksum before tampering, or the
    // read fails on CRC instead of on the version check
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(dir, "._meta.crc"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "_meta"), "minhash-xorshift-v1")
    val e1 = intercept[IllegalArgumentException](
      Incremental.loadMinhashIndex(spark, dir))
    assert(e1.getMessage.contains("minhash-xorshift-v1"))
    // pre-stamp index (the xorshift era wrote no _meta at all)
    java.nio.file.Files.delete(java.nio.file.Paths.get(dir, "_meta"))
    val e2 = intercept[IllegalArgumentException](
      Incremental.loadMinhashIndex(spark, dir))
    assert(e2.getMessage.contains("<missing>"))
  }
}
