package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.SparkEntry
import graft.core.{Pipe, Tables}
import graft.piglatin.PigScript

/** The workloads: which `SparkEntry` rows each pass runs. */
object Workloads {
  type Query = (SparkSession, String) => DataFrame

  val rows: Map[String, Seq[String]] = Map(
    // lazy plans: every row loads tables, and the API rows have Pig twins;
    // the store rows write files and read them back
    "relational" -> Seq("q_filter", "q_agg", "q_join", "q_multijoin",
      "q_cogroup", "q_cube", "q_order", "q_pig_load", "q_pig_agg",
      "q_pig_join", "q_pig_nested", "q_pig_wordcount", "q_store_roundtrip",
      "q_pig_store_sorted"),
    // eager construction: an iterative graph loop, text kernels
    // and bounded (AvailableNow) streaming runs inside the query function
    "pipelines" -> Seq("q_connected_components", "q_tfidf", "q_fuzzy_join",
      "q_stream_window", "q_stream_dedup", "q_stream_cep"))

  /** The query function of each row. Rows whose library version writes to
    * a fixed absolute directory run the same public calls with the output
    * redirected into `out`, a directory the run owns. */
  def queries(workload: String, out: String): Seq[(String, Query)] =
    rows(workload).map(r => r -> redirected(out).getOrElse(r, SparkEntry.queries(r)))

  private def redirected(out: String): Map[String, Query] = Map(
    "q_pig_load" -> ((s, dir) => {
      ensurePigRegion(s, dir, out)
      PigScript.query(s, pigLoad(out), "c")
    }),
    "q_store_roundtrip" -> ((s, dir) => {
      Pipe(Tables(s, dir, "supplier")).store(s"$out/store_supplier")
      Pipe.load(s, s"$out/store_supplier")
        .generate(col("s_suppkey"), col("s_name"), col("s_acctbal")).df
    }),
    "q_pig_store_sorted" -> ((s, dir) => {
      PigScript.run(s,
        s"STORE d INTO '$out/pig_sorted_docs' USING " +
          "SortedStorage('n_chars', 'doc_id', '64');",
        tables = Map("d" -> Tables(s, dir, "documents")))
      Pipe.load(s, s"$out/pig_sorted_docs")
        .generate(col("doc_id"), col("n_chars")).df
    }))

  /** The headerless region csv the q_pig_load script reads, written once. */
  def ensurePigRegion(s: SparkSession, dir: String, out: String): Unit =
    if (!new java.io.File(s"$out/pig_region/_SUCCESS").exists())
      Tables(s, dir, "region").coalesce(1).write.mode("overwrite")
        .option("header", "false").csv(s"$out/pig_region")

  private def pigLoad(out: String): String =
    s"""a = LOAD '$out/pig_region' USING PigStorage(',')
          AS (r_regionkey:int, r_name:chararray);
        b = FILTER a BY r_regionkey > 1;
        c = FOREACH b GENERATE r_regionkey, UPPER(r_name) AS un;"""

  /** Copies of the relational rows' Pig scripts, for the parse and compile
    * probes: (row, script, result alias, relation name -> table). */
  def pigScripts(out: String): Seq[(String, String, String, Map[String, String])] = Seq(
    ("q_pig_load", pigLoad(out), "c", Map.empty[String, String]),
    ("q_pig_agg",
      """g = GROUP orders BY o_orderpriority;
         r = FOREACH g GENERATE group AS prio, COUNT(orders) AS cnt,
               MAX(orders.o_totalprice) AS mx, MIN(orders.o_custkey) AS mn;""",
      "r", Map("orders" -> "orders")),
    ("q_pig_join",
      """j = JOIN lineitem BY l_orderkey, orders BY o_orderkey;
         f = FILTER j BY l_quantity > 45;
         r = FOREACH f GENERATE o_orderkey, l_linenumber, l_quantity,
               o_orderpriority;""",
      "r", Map("lineitem" -> "lineitem", "orders" -> "orders")),
    ("q_pig_nested",
      """g = GROUP customer BY c_nationkey;
         r = FOREACH g {
           seg = customer.c_mktsegment;
           useg = DISTINCT seg;
           GENERATE group AS nk, COUNT(useg) AS uniq_cnt;
         };""",
      "r", Map("customer" -> "customer")),
    ("q_pig_wordcount",
      """words = FOREACH part GENERATE FLATTEN(TOKENIZE(p_name)) AS word;
         grpd = GROUP words BY word;
         cnts = FOREACH grpd GENERATE group AS word, COUNT(words) AS cnt;""",
      "cnts", Map("part" -> "part")))
}
