package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name filter (local
    // iteration aid; the driver always calls with exactly 2 args)
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = graft.core.GraftSession.local()
    new java.io.File(outDir).mkdirs()
    // data-dependent oracles (IVF centroids) are generated in-process
    graft.queries.OracleContext.session = Some((spark, sfDir))
    // benchOnly variants with an oracle ALIAS (same semantics as an
    // oracled base query) join the dump only when explicitly named in
    // the filter — the driver's 2-arg full run stays the `queries` map
    val aliased = SparkEntry.benchOnly.view
      .filterKeys(n => SparkEntry.benchOnlyOracleAlias.contains(n) &&
        only.exists(_.contains(n))).toMap
    (SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) } ++ aliased)
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).repartition(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // drop this query's pinned MEMORY_AND_DISK intermediates before the
      // next one starts (Intermediates' contract; Bench does the same) —
      // ~95 queries of dead cache blocks would otherwise pile up
      finally graft.core.Intermediates.release()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val aliasOracles = SparkEntry.benchOnlyOracleAlias
      .flatMap { case (v, base) => SparkEntry.oracleSql.get(base).map(v -> _) }
    val json = (SparkEntry.oracleSql ++ aliasOracles)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
