package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Pipe, Tables}
import graft.functions.PigFunctions._

/** Relational-core coverage (SURVEY.md §2 rows 1–35): every Pig Latin batch
  * operator as a graft `Pipe` dataflow, each with a DuckDB oracle.
  *
  * Determinism notes (the driver hash-compares values vs DuckDB):
  *  - double SUMs are computed over `decimal` casts on BOTH sides (exact,
  *    order-independent) and cast back to double;
  *  - every computed column is aliased identically on both sides;
  *  - unordered ops never rely on LIMIT without a total order.
  */
object RelationalQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  /** Derived csv/json copies of small tables, for LOAD-format coverage. */
  private def deriveDir = Tables.derivedDir
  private def ensureDerived(s: SparkSession, dir: String): Unit = synchronized {
    // guard each output independently: a crash between the two writes
    // must not wedge the missing one behind the existing one
    if (!new java.io.File(s"$deriveDir/csv_region/_SUCCESS").exists())
      t(s, dir, "region").coalesce(1).write.mode("overwrite")
        .option("header", "true").csv(s"$deriveDir/csv_region")
    if (!new java.io.File(s"$deriveDir/json_nation/_SUCCESS").exists())
      t(s, dir, "nation").coalesce(1).write.mode("overwrite")
        .json(s"$deriveDir/json_nation")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // -- LOAD (SURVEY §2 #1): csv (PigStorage analog) and json sources ------
    "q_load_csv" -> ((s, dir) => {
      ensureDerived(s, dir)
      Pipe.load(s, s"$deriveDir/csv_region", "csv",
          options = Map("header" -> "true", "inferSchema" -> "true"))
        .generate(col("r_regionkey").cast("int").as("r_regionkey"),
                  col("r_name")).df
    }),
    "q_load_json" -> ((s, dir) => {
      ensureDerived(s, dir)
      Pipe.load(s, s"$deriveDir/json_nation", "json")
        .generate(col("n_nationkey").cast("int").as("n_nationkey"),
                  col("n_name"), col("n_regionkey").cast("int").as("n_regionkey")).df
    }),
    // -- STORE roundtrip (#2) ------------------------------------------------
    "q_store_roundtrip" -> ((s, dir) => {
      val p = Pipe(t(s, dir, "supplier"))
      p.store(s"$deriveDir/store_supplier")
      Pipe.load(s, s"$deriveDir/store_supplier")
        .generate(col("s_suppkey"), col("s_name"), col("s_acctbal")).df
    }),
    // -- WARC offset index + record seek: point-reads out of a corpus
    //    without scanning segments (filter the columnar index, seek each
    //    stream to the gzip member, inflate one record) -------------------
    "q_warc_seek" -> ((s, dir) => {
      graft.sources.Warc.writeIndexed(t(s, dir, "documents"),
        s"$deriveDir/warc_idx",
        uri = concat(lit("urn:graft:doc:"), col("doc_id")),
        payload = col("text"))
      graft.sources.Warc.readIndexed(s, s"$deriveDir/warc_idx",
          regexp_extract(col("target_uri"), "(\\d+)$", 1)
            .cast("long") % 37 === 0)
        .select(
          regexp_extract(col("target_uri"), "(\\d+)$", 1)
            .cast("long").as("doc_id"),
          col("content").cast("string").as("text"))
    }),
    // -- globally-ordered shard export (curriculum delivery): range-
    //    partitioned + size-capped files whose concatenation by min key
    //    is the fully sorted corpus; content round-trips hash-exact ------
    "q_store_sorted" -> ((s, dir) => {
      Pipe(t(s, dir, "documents"))
        .storeSorted(s"$deriveDir/sorted_docs",
          Seq(col("n_chars"), col("doc_id")), maxRecordsPerFile = 64)
      Pipe.load(s, s"$deriveDir/sorted_docs")
        .generate(col("doc_id"), col("n_chars")).df
    }),
    // -- tar.gz archive sink + source (the exchange format of code/
    //    document corpora): one archive per partition out, one task per
    //    archive back in, member ids recovered from entry paths --------
    "q_tar_roundtrip" -> ((s, dir) => {
      graft.sources.Archives.writeTar(t(s, dir, "documents"),
        s"$deriveDir/tar_docs",
        entry = concat(lit("corpus/doc-"), col("doc_id"), lit(".txt")),
        payload = col("text"))
      graft.sources.Archives.readTar(s, s"$deriveDir/tar_docs")
        .select(
          regexp_extract(col("entry"), "(\\d+)\\.txt$", 1)
            .cast("long").as("doc_id"),
          col("content").cast("string").as("text"))
    }),
    // -- 'response'-type WARC records: payloads carry real HTTP/1.1
    //    framing; the reader unfards status/headers/body back out. The
    //    closed-form oracle holds because unframe(frame(x)) ≡ x and the
    //    planted status/content-type are constants — any framing or
    //    parsing defect breaks the hash. ---------------------------------
    "q_warc_http" -> ((s, dir) => {
      graft.sources.Warc.write(t(s, dir, "documents"),
        s"$deriveDir/warc_http",
        uri = concat(lit("http://docs.example.org/"), col("doc_id")),
        payload = graft.sources.Warc.httpResponse(col("text"),
          status = 200, contentType = "text/plain"),
        warcType = "response",
        contentType = "application/http; msgtype=response", gzip = true)
      val recs = graft.sources.Warc.read(s, s"$deriveDir/warc_http")
      recs.select(
        regexp_extract(col("target_uri"), "(\\d+)$", 1)
          .cast("long").as("doc_id"),
        graft.sources.Warc.httpStatus(col("content")).as("status"),
        graft.sources.Warc.httpHeader(col("content"), "Content-Type")
          .as("ctype"),
        graft.sources.Warc.httpBody(col("content")).as("text"))
    }),
    // -- WARC segment sink + source (Common Crawl container format;
    //    gzip = one member per record). Write the documents table out as
    //    .warc.gz segments, read it back distributed, recover (id, text)
    //    — hash-exact against the original table. -------------------------
    "q_warc_roundtrip" -> ((s, dir) => {
      graft.sources.Warc.write(t(s, dir, "documents"),
        s"$deriveDir/warc_docs",
        uri = concat(lit("urn:graft:doc:"), col("doc_id")),
        payload = col("text"), gzip = true)
      graft.sources.Warc.read(s, s"$deriveDir/warc_docs")
        .select(
          regexp_extract(col("target_uri"), "(\\d+)$", 1)
            .cast("long").as("doc_id"),
          col("content").cast("string").as("text"))
    }),
    // -- FOREACH ... GENERATE (#5) --------------------------------------------
    "q_foreach" -> ((s, dir) =>
      Pipe(t(s, dir, "lineitem")).generate(
        col("l_orderkey"), col("l_linenumber"),
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("disc_price"),
        (col("l_quantity") + lit(5)).as("qty5")).df),
    // -- FILTER (#8) ------------------------------------------------------------
    "q_filter" -> ((s, dir) =>
      Pipe(t(s, dir, "lineitem"))
        .where(col("l_quantity") > 45 &&
               col("l_shipdate") < lit("1996-01-01").cast("timestamp"))
        .generate(col("l_orderkey"), col("l_linenumber"), col("l_quantity")).df),
    // -- ROLLUP / CUBE / PIVOT (OLAP wide-aggregation surface) ----------------
    "q_rollup" -> ((s, dir) =>
      t(s, dir, "orders")
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("o_totalprice").cast("decimal(18,6)")).cast("double")
            .as("total"))),
    "q_cube" -> ((s, dir) =>
      t(s, dir, "events")
        .cube(col("event_type"), (col("user_id") % 10).as("cohort"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("value").cast("decimal(18,6)")).cast("double")
            .as("sum_value"))),
    "q_pivot" -> ((s, dir) => {
      val types = Seq("click", "view", "purchase", "signup", "error")
      val p = t(s, dir, "events")
        .groupBy(col("user_id"))
        .pivot("event_type", types)
        .agg(count(lit(1)))
      // pivot-count leaves NULL for empty cells; the oracle's count_if
      // yields 0 — normalize here
      p.select(col("user_id") +:
        types.map(tp => coalesce(col(tp), lit(0L)).as(tp)): _*)
    }),
    // -- GROUP + aggregate FOREACH fused (#9, #31): TPC-H Q1 shape --------------
    "q_agg" -> ((s, dir) =>
      Pipe(t(s, dir, "lineitem"))
        .where(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupAgg(
          Seq(col("l_returnflag"), col("l_linestatus")),
          Seq(sum(col("l_quantity")).as("sum_qty"),
              sum(col("l_extendedprice").cast("decimal(18,6)")).cast("double").as("sum_base"),
              sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
                .cast("decimal(18,6)")).cast("double").as("sum_disc"),
              count(lit(1)).as("cnt"))).df),
    // -- GROUP ALL → global agg (#9) --------------------------------------------
    "q_group_all" -> ((s, dir) =>
      Pipe(t(s, dir, "lineitem")).accumulate(
        count(lit(1)).as("cnt"),
        countDistinct(col("l_orderkey")).as("n_orders")).df),
    // -- GROUP with materialized bag (#9), bag rendered as sorted string --------
    "q_group" -> ((s, dir) =>
      Pipe(t(s, dir, "customer")).groupAgg(
        Seq(col("c_nationkey")),
        Seq(concat_ws(",", sort_array(collect_list(col("c_custkey")))).as("bag_str"))).df),
    // -- COGROUP (#10) ------------------------------------------------------------
    "q_cogroup" -> ((s, dir) => {
      Pipe.cogroup((Pipe(t(s, dir, "customer")), Seq(col("c_nationkey")), "cbag"),
          (Pipe(t(s, dir, "supplier")), Seq(col("s_nationkey")), "sbag"))
        .generate(col("group").cast("int").as("nationkey"),
                  size(col("cbag")).cast("long").as("c_cnt"),
                  size(col("sbag")).cast("long").as("s_cnt")).df
    }),
    // -- nested FOREACH: DISTINCT inside a group (#6, #32) ------------------------
    "q_nested_foreach" -> ((s, dir) =>
      Pipe(t(s, dir, "customer")).groupByBag("cust", col("c_nationkey"))
        .generate(col("group").as("c_nationkey"),
                  BAG_COUNT(BAG_DISTINCT(col("cust.c_mktsegment"))).as("uniq_cnt")).df),
    // -- FLATTEN (#7) + TOKENIZE-ish split (#33): word count ------------------------
    "q_flatten" -> ((s, dir) =>
      Pipe(t(s, dir, "part"))
        .generate(explode(split(col("p_name"), " ")).as("word"))
        .groupAgg(Seq(col("word")), Seq(count(lit(1)).as("cnt"))).df),
    // -- JOIN (#11) --------------------------------------------------------------------
    "q_join" -> ((s, dir) =>
      Pipe(t(s, dir, "lineitem"))
        .joinOn(Pipe(t(s, dir, "orders")),
                col("l_orderkey") === col("o_orderkey"))
        .groupAgg(Seq(col("o_orderpriority")),
                  Seq(count(lit(1)).as("cnt"),
                      sum(col("l_quantity")).as("sum_qty"))).df),
    // -- outer JOIN (#12) -----------------------------------------------------------------
    "q_left_join" -> ((s, dir) =>
      Pipe(t(s, dir, "customer"))
        .joinOn(Pipe(t(s, dir, "orders")),
                col("c_custkey") === col("o_custkey"), "left")
        .generate(col("c_custkey"), col("o_orderkey")).df),
    // -- multi-way JOIN (#11) + broadcast dims (replicated join) ---------------------------
    "q_multijoin" -> ((s, dir) => {
      val li = Pipe(t(s, dir, "lineitem"))
      val o = Pipe(t(s, dir, "orders"))
      val c = Pipe(t(s, dir, "customer"))
      val n = Pipe(t(s, dir, "nation"))
      li.joinOn(o, col("l_orderkey") === col("o_orderkey"))
        .joinReplicated(c, col("o_custkey") === col("c_custkey"))
        .joinReplicated(n, col("c_nationkey") === col("n_nationkey"))
        .groupAgg(Seq(col("n_name")),
          Seq(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
                .cast("decimal(18,6)")).cast("double").as("revenue"),
              count(lit(1)).as("cnt"))).df
    }),
    // -- CROSS (#13) ---------------------------------------------------------------------------
    "q_cross" -> ((s, dir) =>
      Pipe(t(s, dir, "region")).crossWith(Pipe(t(s, dir, "nation")))
        .generate(col("r_name"), col("n_name")).df),
    // -- UNION, bag semantics = UNION ALL (#14) -------------------------------------------------
    "q_union" -> ((s, dir) => {
      val o = Pipe(t(s, dir, "orders"))
      o.where(col("o_orderstatus") === "O").generate(col("o_orderkey"))
        .unionWith(o.where(col("o_totalprice") > 100000).generate(col("o_orderkey"))).df
    }),
    // -- DISTINCT (#15) --------------------------------------------------------------------------
    "q_distinct" -> ((s, dir) =>
      Pipe(t(s, dir, "lineitem"))
        .generate(col("l_returnflag"), col("l_linestatus")).distinctRows.df),
    // -- LIMIT with total order (#16) --------------------------------------------------------------
    "q_limit" -> ((s, dir) =>
      Pipe(t(s, dir, "orders")).orderByCols(col("o_orderkey")).limitTo(10)
        .generate(col("o_orderkey"), col("o_totalprice")).df),
    // -- ORDER BY (#17) ------------------------------------------------------------------------------
    "q_order" -> ((s, dir) =>
      Pipe(t(s, dir, "supplier"))
        .orderByCols(col("s_acctbal").desc, col("s_suppkey"))
        .generate(col("s_suppkey"), col("s_name"), col("s_acctbal")).df),
    // -- SAMPLE (#18; rows-only — seeded sampling differs across engines) ----------------------------
    "q_sample" -> ((s, dir) =>
      // deterministic hash-mod sampler — unlike seeded Bernoulli (whose
      // RNG stream is engine-private, so no cross-engine oracle can
      // exist), the md5 bucket reproduces exactly in DuckDB
      Pipe(t(s, dir, "lineitem"))
        .sampleByHash(10, col("l_orderkey"), col("l_linenumber"))
        .generate(col("l_orderkey"), col("l_linenumber")).df),
    // stratified quota sampling (training-data curation: oversample scarce
    // strata, downsample dominant ones) — same deterministic md5 bucket
    "q_stratified_sample" -> ((s, dir) =>
      Pipe(t(s, dir, "orders"))
        .stratifiedSampleByHash(col("o_orderpriority"),
          Map("1-URGENT" -> 50, "2-HIGH" -> 20), defaultPercent = 5,
          col("o_orderkey"))
        .generate(col("o_orderkey"), col("o_orderpriority")).df),
    // exact-quota sampling: at most k rows PER GROUP by deterministic
    // hash order — the per-domain/per-language cap a rate can't express.
    // Rides the partial top-k operator (map-side bounded heaps).
    "q_quota_sample" -> ((s, dir) =>
      Pipe(t(s, dir, "documents"))
        .quotaSampleByHash(col("lang"), 50, col("doc_id"))
        .generate(col("doc_id"), col("lang")).df),
    // the same quota cap from the dialect (QUOTA_SAMPLE statement),
    // riding the identical oracle
    "q_pig_quota" -> ((s, dir) =>
      graft.piglatin.PigScript.query(s,
          "b = QUOTA_SAMPLE d BY lang TOP 50 KEY doc_id;",
          "b", tables = Map("d" -> t(s, dir, "documents")))
        .select(col("doc_id"), col("lang"))),
    // dialect STORE … USING SortedStorage round-trip: the script writes
    // the globally-ordered shard export, the readback must be content-
    // identical (same oracle as the api twin)
    "q_pig_store_sorted" -> ((s, dir) => {
      graft.piglatin.PigScript.run(s,
        s"STORE d INTO '$deriveDir/pig_sorted_docs' USING " +
          "SortedStorage('n_chars', 'doc_id', '64');",
        tables = Map("d" -> t(s, dir, "documents")))
      Pipe.load(s, s"$deriveDir/pig_sorted_docs")
        .generate(col("doc_id"), col("n_chars")).df
    }),
    // -- SPLIT INTO (#19) ------------------------------------------------------------------------------
    "q_split" -> ((s, dir) => {
      val branches = Pipe(t(s, dir, "orders")).splitInto(
        col("o_orderstatus") === "O", col("o_orderstatus") =!= "O")
      branches.head.generate(col("o_orderkey")).df
    }),
    // -- TOP n (#20) -------------------------------------------------------------------------------------
    "q_top" -> ((s, dir) =>
      Pipe(t(s, dir, "orders"))
        .top(10, col("o_totalprice").desc, col("o_orderkey"))
        .generate(col("o_orderkey"), col("o_totalprice")).df),
    "q_top_per_group_partial" -> ((s, dir) =>
      // a twin of q_top_per_group, kept so the row set stays fixed: both
      // plan as graft's partial/final top-k operator in a graft session
      Pipe(t(s, dir, "orders"))
        .topPerGroup(3, Seq(col("o_orderpriority")),
                     Seq(col("o_totalprice").desc, col("o_orderkey")))
        .generate(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice")).df),
    "q_top_per_group" -> ((s, dir) =>
      Pipe(t(s, dir, "orders"))
        .topPerGroup(3, Seq(col("o_orderpriority")),
                     Seq(col("o_totalprice").desc, col("o_orderkey")))
        .generate(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice")).df),
    // -- SKYLINE (reference skyline.pig; Pareto-dominance operator) ---------------------------------------
    "q_skyline" -> ((s, dir) =>
      // cheapest-and-smallest parts: minimize retail price, minimize size
      Pipe(t(s, dir, "part")
          .select(col("p_partkey"), col("p_retailprice"), col("p_size")))
        .skyline(Seq("p_retailprice", "p_size")).df),
    // -- INTERSECTION / DIFFERENCE (#21, #22) -----------------------------------------------------------------
    "q_intersect" -> ((s, dir) =>
      Pipe(t(s, dir, "customer")).generate(col("c_nationkey").as("nationkey"))
        .intersectWith(
          Pipe(t(s, dir, "supplier")).generate(col("s_nationkey").as("nationkey"))).df),
    "q_difference" -> ((s, dir) =>
      // customers with no OPEN order — non-empty at every sf, so the
      // oracle hash actually constrains values (the all-orders variant
      // was vacuously empty: every customer has some order)
      Pipe(t(s, dir, "customer")).generate(col("c_custkey").as("custkey"))
        .differenceWith(
          Pipe(t(s, dir, "orders")).where(col("o_orderstatus") === "O")
            .generate(col("o_custkey").as("custkey"))).df),
    // -- ZIP/RANK (#23, #30) --------------------------------------------------------------------------------------
    "q_zip_index" -> ((s, dir) =>
      Pipe(t(s, dir, "region")).zipWithIndex(Seq(col("r_regionkey")), "idx")
        .generate(col("r_regionkey"), col("r_name"), col("idx")).df),
    // multi-input ZIP (reference op/Zip.scala with withIndex=false):
    // positional pairing of two relations, truncated to the shorter
    "q_zip_two" -> ((s, dir) =>
      Pipe(t(s, dir, "nation"))
        .generate(col("n_nationkey"), col("n_name"))
        .zipWith(Pipe(t(s, dir, "region"))
                   .generate(col("r_regionkey"), col("r_name")),
          Seq(col("n_nationkey")), Seq(col("r_regionkey")))
        .generate(col("n_nationkey"), col("n_name"),
                  col("r_regionkey"), col("r_name")).df),
    "q_rank" -> ((s, dir) =>
      Pipe(t(s, dir, "customer")).rankBy(col("c_mktsegment"), "rnk")
        .generate(col("c_custkey"), col("c_mktsegment"), col("rnk")).df),
    // -- ACCUMULATE (#24) --------------------------------------------------------------------------------------------
    "q_accumulate" -> ((s, dir) =>
      Pipe(t(s, dir, "lineitem")).accumulate(
        min(col("l_quantity")).as("min_qty"),
        max(col("l_quantity")).as("max_qty"),
        sum(col("l_quantity")).as("sum_qty"),
        count(lit(1)).as("cnt"),
        (sum(col("l_quantity")) / count(lit(1))).as("avg_qty")).df),
    // -- MEDIAN (#31) -----------------------------------------------------------------------------------------------------
    "q_median" -> ((s, dir) =>
      Pipe(t(s, dir, "lineitem")).groupAgg(
        Seq(col("l_returnflag")),
        Seq(MEDIAN(col("l_quantity")).as("med_qty"))).df),
    // -- STREAM THROUGH (#25): per-partition user operator ------------------------------------------------------------------
    "q_stream_through" -> ((s, dir) => {
      import s.implicits._
      val ds = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .as[(Long, Int, Double)]
      ds.mapPartitions(_.map { case (k, ln, q) => (k, ln, q * 2) })
        .toDF("l_orderkey", "l_linenumber", "qty2")
    }),
    // -- MATERIALIZE (#26) --------------------------------------------------------------------------------------------------------
    "q_materialize" -> ((s, dir) =>
      Pipe(t(s, dir, "lineitem")).where(col("l_quantity") >= 49)
        .materialize(s"$deriveDir/mat_lineitem")
        .generate(col("l_orderkey"), col("l_linenumber"), col("l_quantity")).df),
    // -- string function battery (#33, #34) ---------------------------------------------------------------------------------------------
    "q_strings" -> ((s, dir) =>
      Pipe(t(s, dir, "customer")).generate(
        col("c_custkey"),
        UPPER(col("c_name")).as("up"),
        LOWER(col("c_mktsegment")).as("lo"),
        STRLEN(col("c_name")).cast("long").as("len"),
        SUBSTRING(col("c_name"), 0, 8).as("sub"),
        CONCAT(col("c_mktsegment"), lit("!")).as("cc"),
        TRIM(col("c_mktsegment")).as("tr"),
        STRCONTAINS(col("c_name"), lit("1")).as("has1"),
        TODOUBLE(col("c_custkey")).as("dkey")).df),
    // -- math (#35) ---------------------------------------------------------------------------------------------------------------------
    "q_math" -> ((s, dir) =>
      Pipe(t(s, dir, "orders")).generate(
        col("o_orderkey"),
        SQRT(col("o_totalprice")).as("sq"),
        POW((col("o_orderkey") % 10).cast("double"), lit(2.0)).as("p2")).df)
  )

  val oracles: Map[String, String] = Map(
    // grouping-set nulls at subtotal rows match Spark's rollup/cube
    // (these grouping columns are themselves non-null in the data)
    "q_rollup" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
         FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)""",
    "q_cube" ->
      """SELECT event_type, user_id % 10 AS cohort, COUNT(*) AS cnt,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
         FROM events GROUP BY CUBE (event_type, cohort)""",
    // CAST each count_if to BIGINT: DuckDB's count_if yields HUGEINT,
    // which pandas materializes as float64 and breaks the driver's
    // value hash against Spark's LongType (values are identical)
    "q_pivot" ->
      """SELECT user_id,
           CAST(count_if(event_type = 'click') AS BIGINT) AS click,
           CAST(count_if(event_type = 'view') AS BIGINT) AS view,
           CAST(count_if(event_type = 'purchase') AS BIGINT) AS purchase,
           CAST(count_if(event_type = 'signup') AS BIGINT) AS signup,
           CAST(count_if(event_type = 'error') AS BIGINT) AS error
         FROM events GROUP BY user_id""",
    // exact replica of sampleByHash: same key encoding (0x1F-joined
    // strings, nulls → 0x1E — both keys here are non-null NOT NULL ints,
    // so no coalesce needed), same md5 prefix bucket — deterministic
    // sampling is cross-engine reproducible
    "q_sample" ->
      """SELECT l_orderkey, l_linenumber FROM lineitem
         WHERE ('0x' || substr(md5(l_orderkey::VARCHAR || chr(31) ||
                 l_linenumber::VARCHAR), 1, 8))::BIGINT % 100 < 10""",
    "q_stratified_sample" ->
      """SELECT o_orderkey, o_orderpriority FROM orders
         WHERE ('0x' || substr(md5(o_orderkey::VARCHAR), 1, 8))::BIGINT % 100
           < CASE WHEN o_orderpriority = '1-URGENT' THEN 50
                  WHEN o_orderpriority = '2-HIGH' THEN 20 ELSE 5 END""",
    // quota sampler: row_number over the SAME md5 order (lowercase hex
    // both engines, so lexicographic order agrees) capped at k
    "q_quota_sample" ->
      """SELECT doc_id, lang FROM (
           SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
             ORDER BY md5(doc_id::VARCHAR), doc_id::VARCHAR) AS rn
           FROM documents) t WHERE rn <= 50""",
    "q_pig_quota" ->
      """SELECT doc_id, lang FROM (
           SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
             ORDER BY md5(doc_id::VARCHAR), doc_id::VARCHAR) AS rn
           FROM documents) t WHERE rn <= 50""",
    "q_pig_store_sorted" -> "SELECT doc_id, n_chars FROM documents",
    "q_load_csv" -> "SELECT r_regionkey, r_name FROM region",
    "q_load_json" -> "SELECT n_nationkey, n_name, n_regionkey FROM nation",
    "q_store_roundtrip" -> "SELECT s_suppkey, s_name, s_acctbal FROM supplier",
    "q_warc_roundtrip" -> "SELECT doc_id, text FROM documents",
    "q_warc_seek" ->
      "SELECT doc_id, text FROM documents WHERE doc_id % 37 = 0",
    "q_tar_roundtrip" -> "SELECT doc_id, text FROM documents",
    "q_store_sorted" -> "SELECT doc_id, n_chars FROM documents",
    "q_warc_http" ->
      """SELECT doc_id, 200 AS status, 'text/plain' AS ctype, text
         FROM documents""",
    "q_foreach" ->
      """SELECT l_orderkey, l_linenumber,
         l_extendedprice * (1 - l_discount) AS disc_price,
         l_quantity + 5 AS qty5 FROM lineitem""",
    "q_filter" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
         WHERE l_quantity > 45 AND l_shipdate < TIMESTAMP '1996-01-01'""",
    "q_agg" ->
      """SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_base,
         CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc,
         COUNT(*) AS cnt
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
         GROUP BY l_returnflag, l_linestatus""",
    "q_group_all" ->
      "SELECT COUNT(*) AS cnt, COUNT(DISTINCT l_orderkey) AS n_orders FROM lineitem",
    "q_group" ->
      """SELECT c_nationkey,
         string_agg(CAST(c_custkey AS VARCHAR), ',' ORDER BY c_custkey) AS bag_str
         FROM customer GROUP BY c_nationkey""",
    "q_cogroup" ->
      """SELECT CAST(COALESCE(c.k, su.k) AS INTEGER) AS nationkey,
         COALESCE(c.cnt, 0) AS c_cnt, COALESCE(su.cnt, 0) AS s_cnt
         FROM (SELECT c_nationkey AS k, COUNT(*) AS cnt FROM customer GROUP BY 1) c
         FULL OUTER JOIN
         (SELECT s_nationkey AS k, COUNT(*) AS cnt FROM supplier GROUP BY 1) su
         ON c.k = su.k""",
    "q_nested_foreach" ->
      """SELECT c_nationkey, COUNT(DISTINCT c_mktsegment) AS uniq_cnt
         FROM customer GROUP BY c_nationkey""",
    "q_flatten" ->
      """SELECT word, COUNT(*) AS cnt FROM
         (SELECT unnest(string_split(p_name, ' ')) AS word FROM part)
         GROUP BY word""",
    "q_join" ->
      """SELECT o_orderpriority, COUNT(*) AS cnt, SUM(l_quantity) AS sum_qty
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderpriority""",
    "q_left_join" ->
      """SELECT c_custkey, o_orderkey
         FROM customer LEFT JOIN orders ON c_custkey = o_custkey""",
    "q_multijoin" ->
      """SELECT n_name,
         CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
         COUNT(*) AS cnt
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         GROUP BY n_name""",
    "q_cross" -> "SELECT r_name, n_name FROM region CROSS JOIN nation",
    "q_union" ->
      """SELECT o_orderkey FROM orders WHERE o_orderstatus = 'O'
         UNION ALL
         SELECT o_orderkey FROM orders WHERE o_totalprice > 100000""",
    "q_distinct" -> "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
    "q_limit" ->
      "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_orderkey LIMIT 10",
    "q_order" ->
      """SELECT s_suppkey, s_name, s_acctbal FROM supplier
         ORDER BY s_acctbal DESC, s_suppkey""",
    "q_split" -> "SELECT o_orderkey FROM orders WHERE o_orderstatus = 'O'",
    "q_top" ->
      """SELECT o_orderkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""",
    "q_skyline" ->
      """SELECT p_partkey, p_retailprice, p_size FROM part p
         WHERE NOT EXISTS (SELECT 1 FROM part q
           WHERE q.p_retailprice <= p.p_retailprice AND q.p_size <= p.p_size
             AND (q.p_retailprice < p.p_retailprice OR q.p_size < p.p_size))""",
    "q_top_per_group_partial" ->
      """SELECT o_orderpriority, o_orderkey, o_totalprice FROM orders
         QUALIFY row_number() OVER
           (PARTITION BY o_orderpriority
            ORDER BY o_totalprice DESC, o_orderkey) <= 3""",
    "q_top_per_group" ->
      """SELECT o_orderpriority, o_orderkey, o_totalprice FROM orders
         QUALIFY row_number() OVER
           (PARTITION BY o_orderpriority
            ORDER BY o_totalprice DESC, o_orderkey) <= 3""",
    "q_intersect" ->
      """SELECT c_nationkey AS nationkey FROM customer
         INTERSECT SELECT s_nationkey AS nationkey FROM supplier""",
    "q_difference" ->
      """SELECT c_custkey AS custkey FROM customer
         EXCEPT SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'""",
    "q_zip_index" ->
      """SELECT r_regionkey, r_name,
         row_number() OVER (ORDER BY r_regionkey) - 1 AS idx FROM region""",
    "q_zip_two" ->
      """SELECT n_nationkey, n_name, r_regionkey, r_name FROM
         (SELECT n_nationkey, n_name,
            row_number() OVER (ORDER BY n_nationkey) AS i FROM nation) n
         JOIN
         (SELECT r_regionkey, r_name,
            row_number() OVER (ORDER BY r_regionkey) AS i FROM region) r
         USING (i)""",
    "q_rank" ->
      """SELECT c_custkey, c_mktsegment,
         RANK() OVER (ORDER BY c_mktsegment) AS rnk FROM customer""",
    "q_accumulate" ->
      """SELECT MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty,
         SUM(l_quantity) AS sum_qty, COUNT(*) AS cnt,
         SUM(l_quantity) / COUNT(*) AS avg_qty FROM lineitem""",
    "q_median" ->
      """SELECT l_returnflag, MEDIAN(l_quantity) AS med_qty
         FROM lineitem GROUP BY l_returnflag""",
    "q_stream_through" ->
      """SELECT l_orderkey, l_linenumber, l_quantity * 2 AS qty2 FROM lineitem""",
    "q_materialize" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
         WHERE l_quantity >= 49""",
    "q_strings" ->
      """SELECT c_custkey, UPPER(c_name) AS up, LOWER(c_mktsegment) AS lo,
         LENGTH(c_name) AS len, substr(c_name, 1, 8) AS sub,
         c_mktsegment || '!' AS cc, TRIM(c_mktsegment) AS tr,
         contains(c_name, '1') AS has1,
         CAST(c_custkey AS DOUBLE) AS dkey FROM customer""",
    "q_math" ->
      """SELECT o_orderkey, SQRT(o_totalprice) AS sq,
         POW(CAST(o_orderkey % 10 AS DOUBLE), 2.0) AS p2 FROM orders"""
  )
}
