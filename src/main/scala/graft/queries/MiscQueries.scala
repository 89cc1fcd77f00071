package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.piglatin.{PigletReference, PigScript}
import graft.rdf.Rdf
import graft.spatial.Spatial
import graft.matrix.MatrixOps

/** Coverage for the Pig Latin front-end, RDF/BGP, spatial and matrix
  * layers (SURVEY.md §2 rows 28, 36–40, 48–51). Spatial coordinates and
  * matrix cells derive from integer columns so cross-engine comparisons
  * stay exact.
  */
object MiscQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  private def deriveDir = Tables.derivedDir
  /** Headerless csv for PigStorage LOAD coverage. */
  private def ensurePigCsv(s: SparkSession, dir: String): Unit = synchronized {
    // guard on the _SUCCESS marker, not the directory: a crash mid-write
    // leaves the dir present with partial data, which would wedge every
    // later run (same hardening as RelationalQueries.ensureDerived)
    val ok = new java.io.File(s"$deriveDir/pig_region/_SUCCESS")
    if (!ok.exists()) {
      t(s, dir, "region").coalesce(1).write.mode("overwrite")
        .option("header", "false").csv(s"$deriveDir/pig_region")
    }
  }

  /** Literal test polygons (square, triangle, pentagon) shared between
    * the polygon-join query and its generated oracle SQL. */
  private val testPolys: Seq[(Int, Seq[(Double, Double)])] = Seq(
    1 -> Seq((5.0, 5.0), (45.0, 5.0), (45.0, 45.0), (5.0, 45.0)),
    2 -> Seq((50.0, 10.0), (90.0, 10.0), (70.0, 50.0)),
    3 -> Seq((20.0, 50.0), (60.0, 50.0), (75.0, 70.0), (40.0, 88.0), (8.0, 70.0)))

  /** Unrolled ray-cast condition for a literal polygon — the SAME
    * arithmetic (term order and IEEE ops) as Spatial.containsPoint, so
    * the boolean agrees bit-for-bit even for boundary points. */
  private def rayCastSql(vs: Seq[(Double, Double)]): String = {
    val n = vs.length
    val terms = (0 until n).map { i =>
      val (xi, yi) = vs(i); val (xj, yj) = vs((i + 1) % n)
      s"(CASE WHEN (($yi > y) <> ($yj > y)) AND " +
        s"(x < ${xj - xi} * (y - $yi) / ${yj - yi} + $xi) THEN 1 ELSE 0 END)"
    }.mkString(" + ")
    s"(($terms) % 2 = 1)"
  }

  /** Deterministic integer-grid points for spatial queries. */
  private def custPoints(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer").select(col("c_custkey"),
      Spatial.point((col("c_custkey") % 97).cast("double"),
                    ((col("c_nationkey") * 7) % 89).cast("double")).as("pt"))
  private def suppPoints(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "supplier").select(col("s_suppkey"),
      Spatial.point((col("s_suppkey") % 97).cast("double"),
                    ((col("s_nationkey") * 11) % 89).cast("double")).as("pt"))

  /** Run one of the reference's OWN integration scripts (STOREs stripped,
    * $inbase substituted) and return the STORE'd alias — the CORRECTNESS
    * promotion of the ItCompatSpec suite: the same scripts, hash-checked
    * against DuckDB reading the same reference input files. */
  // the oracle SQL only names the input files; running a script checks
  // that the checkout is there
  private val itBase = s"${PigletReference.Root}/src/it/resources"
  private val itStoreRe =
    """(?im)^\s*STORE\s+([A-Za-z_]\w*)\s+INTO\s+'[^']*'\s*;\s*""".r
  private def runItScript(s: SparkSession, script: String): DataFrame = {
    val raw = java.nio.file.Files.readString(java.nio.file.Paths.get(
      PigletReference(s"src/it/resources/$script")))
    val alias = itStoreRe.findFirstMatchIn(raw).get.group(1)
    val noStore = itStoreRe.replaceAllIn(raw, "")
    PigScript.run(s, noStore, params = Map("inbase" -> itBase),
      importBase = Some(itBase)).relation(alias)
  }

  private def nationTriples(s: SparkSession, dir: String): DataFrame =
    Rdf.fromColumns(
      t(s, dir, "nation").select(col("n_nationkey"), col("n_name"),
        col("n_regionkey")),
      "n_nationkey", "urn:nation")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // -- edit-distance similarity join: deletion-neighborhood candidates
    //    + levenshtein refine — record linkage over entity names (the
    //    customer table's one-digit-apart names are the classic shape).
    //    Exact recall (FastSS pigeonhole), never the n² cross product ----
    "q_fuzzy_join" -> ((s, dir) =>
      graft.text.EditDistance.fuzzySelfJoin(
        t(s, dir, "customer"), "c_name", maxDist = 1)),
    // -- Pig Latin scripts end-to-end (#1–30 via the front-end) ---------------
    // -- WARC round-trip scripted end-to-end (STORE + LOAD USING
    //    WarcStorage; payload back out of the record's binary content) -----
    "q_pig_warc" -> ((s, dir) =>
      PigScript.query(s,
        s"""STORE docs INTO '$deriveDir/pig_warc'
              USING WarcStorage('uri', 'text', 'gzip');
            a = LOAD '$deriveDir/pig_warc' USING WarcStorage();
            r = FOREACH a GENERATE
                  TOLONG(REPLACE(target_uri, '^[^0-9]*', '')) AS doc_id,
                  TOSTRING(content) AS text;""",
        "r", tables = Map("docs" ->
          t(s, dir, "documents").select(
            concat(lit("urn:graft:doc:"), col("doc_id")).as("uri"),
            col("text"))))),
    // -- HTML extraction from the dialect (EXTRACT_TEXT / LINK_DENSITY
    //    builtins; same planted page + oracle as q_html_extract) -----------
    "q_pig_html" -> ((s, dir) =>
      PigScript.query(s,
        """r = FOREACH pages GENERATE doc_id,
                 EXTRACT_TEXT(page) AS clean,
                 LINK_DENSITY(page) AS link_density;""",
        "r", tables = Map("pages" ->
          t(s, dir, "documents").select(col("doc_id"),
            PipelineQueries.plantedHtml.as("page"))))),
    // -- tar round-trip scripted end-to-end (STORE + LOAD USING
    //    TarStorage) ------------------------------------------------------
    "q_pig_tar" -> ((s, dir) =>
      PigScript.query(s,
        s"""STORE docs INTO '$deriveDir/pig_tar' USING
              TarStorage('entry', 'text');
            a = LOAD '$deriveDir/pig_tar' USING TarStorage();
            r = FOREACH a GENERATE
                  TOLONG(REPLACE(entry, '[^0-9]', '')) AS doc_id,
                  TOSTRING(content) AS text;""",
        "r", tables = Map("docs" ->
          t(s, dir, "documents").select(
            concat(lit("c/d-"), col("doc_id"), lit(".txt")).as("entry"),
            col("text"))))),
    // -- PAGERANK from the dialect — same derived edge graph + oracle as
    //    q_pagerank -----------------------------------------------------------
    "q_pig_pagerank" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val mx = docs.agg(max("doc_id").as("mx"))
      val edges = docs.crossJoin(broadcast(mx)) // 1-row stat frame
        .select(col("doc_id").as("src"),
          explode(array(Seq(1, 2, 3).map(k =>
            (col("doc_id") * 31 + k * 1009) % (col("mx") + 1)): _*))
            .as("dst"))
      PigScript.query(s, "r = PAGERANK e BY src, dst ITER 5;", "r",
        tables = Map("e" -> edges))
    }),
    // -- CONNECTED_COMPONENTS from the dialect — same chain-block edges
    //    and closed-form oracle as q_connected_components ------------------
    "q_pig_cc" -> ((s, dir) =>
      PigScript.query(s,
        """e = FILTER docs BY doc_id % 16 != 0;
           p = FOREACH e GENERATE doc_id AS id_a, doc_id - 1 AS id_b;
           c = CONNECTED_COMPONENTS p BY id_a, id_b;""",
        "c", tables = Map("docs" ->
          t(s, dir, "documents").select(col("doc_id"))))),
    "q_pig_load" -> ((s, dir) => {
      ensurePigCsv(s, dir)
      PigScript.query(s,
        s"""a = LOAD '$deriveDir/pig_region' USING PigStorage(',')
              AS (r_regionkey:int, r_name:chararray);
            b = FILTER a BY r_regionkey > 1;
            c = FOREACH b GENERATE r_regionkey, UPPER(r_name) AS un;""", "c")
    }),
    "q_pig_agg" -> ((s, dir) =>
      PigScript.query(s,
        """g = GROUP orders BY o_orderpriority;
           r = FOREACH g GENERATE group AS prio, COUNT(orders) AS cnt,
                 MAX(orders.o_totalprice) AS mx, MIN(orders.o_custkey) AS mn;""",
        "r", tables = Map("orders" -> t(s, dir, "orders")))),
    "q_pig_join" -> ((s, dir) =>
      PigScript.query(s,
        """j = JOIN lineitem BY l_orderkey, orders BY o_orderkey;
           f = FILTER j BY l_quantity > 45;
           r = FOREACH f GENERATE o_orderkey, l_linenumber, l_quantity,
                 o_orderpriority;""",
        "r", tables = Map(
          "lineitem" -> t(s, dir, "lineitem"),
          "orders" -> t(s, dir, "orders")))),
    "q_pig_nested" -> ((s, dir) =>
      PigScript.query(s,
        """g = GROUP customer BY c_nationkey;
           r = FOREACH g {
             seg = customer.c_mktsegment;
             useg = DISTINCT seg;
             GENERATE group AS nk, COUNT(useg) AS uniq_cnt;
           };""",
        "r", tables = Map("customer" -> t(s, dir, "customer")))),
    "q_pig_wordcount" -> ((s, dir) =>
      PigScript.query(s,
        """words = FOREACH part GENERATE FLATTEN(TOKENIZE(p_name)) AS word;
           grpd = GROUP words BY word;
           cnts = FOREACH grpd GENERATE group AS word, COUNT(words) AS cnt;""",
        "cnts", tables = Map("part" -> t(s, dir, "part")))),
    // the LLM curation layer from the .pig front end (graft dialect):
    // exact DEDUP keeps the min-id representative per content group —
    // every planted verbatim copy must vanish, every original survive
    "q_pig_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val planted = docs.union(
        docs.select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      PigScript.query(s,
        """d = DEDUP docs BY doc_id, text USING exact;
           r = FOREACH d GENERATE doc_id;""",
        "r", tables = Map("docs" -> planted))
    }),
    // PACK from the .pig front end: same concat-and-chunk layout (and
    // seqLen) as q_pack_sequences, so the same oracle carries over
    "q_pig_pack" -> ((s, dir) =>
      PigScript.query(s,
        "p = PACK docs ON doc_id BY text INTO 512;",
        "p", tables = Map("docs" ->
          t(s, dir, "documents").select(col("doc_id"), col("text"))))
        .select(col("doc_id"), col("n_tok"), col("tok_start"),
          col("seq_first"), col("seq_last"))),
    // SPLIT_HASH from the .pig front end: the deterministic md5-bucket
    // assignment of q_split_hash, scriptable
    "q_pig_split" -> ((s, dir) =>
      PigScript.query(s,
        """sp = SPLIT_HASH docs BY doc_id INTO train 80, val 10, test 10;
           r = FOREACH sp GENERATE doc_id, lang, split;""",
        "r", tables = Map("docs" -> t(s, dir, "documents")))),

    // -- RDF (#38–40) ----------------------------------------------------------
    "q_rdf_load" -> ((s, dir) =>
      nationTriples(s, dir).select("s", "p", "o")),
    "q_tuplify" -> ((s, dir) =>
      Rdf.tuplify(nationTriples(s, dir))
        .select(col("s"), size(map_keys(col("po"))).as("n_preds"))),
    "q_bgp_star" -> ((s, dir) =>
      Rdf.bgpFilter(nationTriples(s, dir), Seq(
        Rdf.Pattern("?x", "urn:nation#n_regionkey", "1"),
        Rdf.Pattern("?x", "urn:nation#n_name", "?name")))
        .select(col("x"), col("name"))),

    // -- spatial (#48–50) ------------------------------------------------------
    "q_spatial_filter" -> ((s, dir) =>
      custPoints(s, dir)
        .where(Spatial.inBox(col("pt"), 10, 10, 60, 60))
        .select(col("c_custkey"), col("pt.x").as("x"), col("pt.y").as("y"))),
    "q_spatial_join" -> ((s, dir) =>
      Spatial.distanceJoin(custPoints(s, dir), suppPoints(s, dir),
          "pt", "pt", radius = 5.0)
        .select(col("c_custkey"), col("s_suppkey"))),
    // geometry-column join: points vs a polygon relation, grid-bucketed
    // on polygon envelopes + exact ray-cast refine
    "q_spatial_poly_join" -> ((s, dir) => {
      val polys = testPolys.map { case (id, vs) =>
        s.range(1).select(lit(id).as("poly_id"),
          array(vs.map(v =>
            struct(lit(v._1).as("x"), lit(v._2).as("y"))): _*).as("poly"))
      }.reduce(_.unionByName(_))
      Spatial.polygonJoin(custPoints(s, dir), polys, "pt", "poly",
          cellSize = 40.0)
        .select(col("poly_id"), col("c_custkey"))
    }),
    // INDEX (#51): the grid-cell index column itself is the oracled
    // output — DuckDB recomputes the cell arithmetic per point
    "q_spatial_index" -> ((s, dir) =>
      Spatial.spatialIndex(custPoints(s, dir), "pt", cellSize = 8.0,
          partitions = s.sparkContext.defaultParallelism)
        .select(col("c_custkey"), col("cell.cx").as("cx"),
          col("cell.cy").as("cy"))),
    // DBSCAN (density clustering over the spatial grid; labels = min core
    // id per component, noise → -1 so the compare is null-free). eps is a
    // power of two so the grid-cell floor() is IEEE-exact on both engines.
    "q_dbscan" -> ((s, dir) => {
      val pts = t(s, dir, "customer").select(col("c_custkey"),
        (col("c_custkey") % 97).cast("double").as("x"),
        ((col("c_nationkey") * 7) % 89).cast("double").as("y"))
      graft.ml.Dbscan.fitDistributed(pts, "c_custkey", Seq("x", "y"),
          eps = 2.0, minPts = 4)
        .select(col("c_custkey"), coalesce(col("cluster"), lit(-1L)).as("cluster"))
    }),
    // PARTITION (#27): explicit co-partitioning must preserve the
    // relation bit-for-bit (the operator's correctness contract; the
    // partitioning itself is asserted exchange-free in PipeSpec)
    "q_partition" -> ((s, dir) =>
      graft.core.Pipe(t(s, dir, "customer"))
        .partitionBy(32, col("c_nationkey")).df
        .select(col("c_custkey"), col("c_nationkey"))),
    // PARTITION ... USING bsp (#27): the whole histogram→cuts→placement
    // path must also preserve the relation bit-for-bit; per-partition
    // cost bounds are asserted in BspPartitionSpec
    "q_spatial_bsp" -> ((s, dir) =>
      Spatial.bspPartition(custPoints(s, dir), "pt", sideLength = 8.0,
          maxCost = 200L)
        .select(col("c_custkey"), col("pt.x").as("x"), col("pt.y").as("y"))),

    // -- reference IT scripts, DuckDB-oracled (the same scripts the
    //    ItCompatSpec runs against the reference's truth files) ---------------
    "q_pig_it_aggregate" -> ((s, dir) =>
      runItScript(s, "aggregate.pig")
        .toDF("grp", "cnt", "sm", "av")),
    "q_pig_it_macro1" -> ((s, dir) =>
      runItScript(s, "macro1.pig").toDF("c1", "c2")),
    "q_pig_it_wordcount" -> ((s, dir) =>
      runItScript(s, "wordcount.pig").toDF("word", "cnt")),
    "q_pig_it_twojoins" -> ((s, dir) =>
      runItScript(s, "two_joins.pig").toDF("a1", "b1")),
    "q_pig_it_selfjoin" -> ((s, dir) =>
      runItScript(s, "selfjoin.pig")
        .toDF("a1", "a2", "a3", "b1", "b2", "b3")),
    "q_pig_it_split" -> ((s, dir) =>
      runItScript(s, "splitInto.pig").toDF("f1", "f2", "f3")),
    "q_pig_it_accumulate" -> ((s, dir) =>
      runItScript(s, "accumulate.pig")
        .toDF("mn", "mx", "sm", "cnt", "av")
        .selectExpr("CAST(mn AS INT) AS mn", "CAST(mx AS INT) AS mx",
          "CAST(sm AS BIGINT) AS sm", "CAST(cnt AS BIGINT) AS cnt",
          "CAST(av AS DOUBLE) AS av")),
    "q_pig_it_foreach" -> ((s, dir) =>
      runItScript(s, "foreach1.pig").toDF("id", "lon", "lat")),
    "q_pig_it_sort" -> ((s, dir) =>
      runItScript(s, "sort.pig").toDF("f1", "f2", "f3")),

    // -- matrix (#36–37) -------------------------------------------------------
    "q_matrix" -> ((s, dir) => {
      val m = MatrixOps.matrix(lit(2), lit(2), array(
        (col("o_orderkey") % 5).cast("double"), (col("o_custkey") % 7).cast("double"),
        (col("o_orderkey") % 3).cast("double"), lit(1.0)))
      val sq = MatrixOps.mmul(m, m)
      t(s, dir, "orders").select(col("o_orderkey"),
        MatrixOps.mcell(sq, lit(0), lit(0)).as("c00"),
        MatrixOps.mcell(sq, lit(0), lit(1)).as("c01"),
        MatrixOps.mcell(sq, lit(1), lit(0)).as("c10"),
        MatrixOps.mcell(sq, lit(1), lit(1)).as("c11"))
    })
  )

  val oracles: Map[String, String] = Map(
    // the all-pairs replay the engine must NEVER run — candidate
    // generation has exact recall, so the bucketed join reproduces it
    "q_fuzzy_join" ->
      """SELECT a.c_name AS a, b.c_name AS b,
           levenshtein(a.c_name, b.c_name) AS dist
         FROM customer a JOIN customer b
           ON a.c_name < b.c_name
          AND levenshtein(a.c_name, b.c_name) = 1""",
    "q_pig_warc" -> "SELECT doc_id, text FROM documents",
    "q_pig_tar" -> "SELECT doc_id, text FROM documents",
    "q_pig_pagerank" -> PipelineQueries.pageRankOracle(5),
    "q_pig_cc" -> PipelineQueries.ccOracle,
    "q_pig_html" -> PipelineQueries.htmlExtractOracle,
    "q_pig_load" ->
      "SELECT r_regionkey, UPPER(r_name) AS un FROM region WHERE r_regionkey > 1",
    "q_pig_agg" ->
      """SELECT o_orderpriority AS prio, COUNT(*) AS cnt,
         MAX(o_totalprice) AS mx, MIN(o_custkey) AS mn
         FROM orders GROUP BY 1""",
    "q_pig_join" ->
      """SELECT o_orderkey, l_linenumber, l_quantity, o_orderpriority
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE l_quantity > 45""",
    "q_pig_nested" ->
      """SELECT c_nationkey AS nk, COUNT(DISTINCT c_mktsegment) AS uniq_cnt
         FROM customer GROUP BY 1""",
    "q_pig_wordcount" ->
      """SELECT word, COUNT(*) AS cnt FROM
         (SELECT unnest(string_split_regex(p_name, '[, "]')) AS word FROM part)
         WHERE word <> '' GROUP BY word""",
    // DEDUP … USING exact keeps min(doc_id) per normalized-content group
    // (null text passes through — unknown content is not a duplicate)
    "q_pig_dedup" ->
      """WITH planted AS (
           SELECT doc_id, text FROM documents
           UNION ALL SELECT doc_id + 1000000, text FROM documents)
         SELECT min(doc_id) AS doc_id FROM planted WHERE text IS NOT NULL
         GROUP BY md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g')))
         UNION ALL
         SELECT doc_id FROM planted WHERE text IS NULL""",
    // identical layout to the q_pack_sequences oracle (seqLen 512)
    "q_pig_pack" ->
      """WITH t AS (SELECT doc_id,
           coalesce(len(list_filter(string_split_regex(text, '\s+'),
             x -> x <> '')), 0)
             AS n_tok FROM documents),
         c AS (SELECT doc_id, n_tok,
           SUM(n_tok) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok
             AS tok_start FROM t)
         SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
           CAST(tok_start AS BIGINT) AS tok_start,
           CAST(tok_start // 512 AS BIGINT) AS seq_first,
           CAST((tok_start + greatest(n_tok, 1) - 1) // 512
             AS BIGINT) AS seq_last
         FROM c""",
    // identical assignment to the q_split_hash oracle
    "q_pig_split" ->
      """SELECT doc_id, lang,
           CASE WHEN b < 80 THEN 'train'
                WHEN b < 90 THEN 'val' ELSE 'test' END AS split
         FROM (SELECT doc_id, lang,
           ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100 AS b
         FROM documents)""",
    "q_pig_it_aggregate" ->
      s"""SELECT x AS grp, count(y) AS cnt, CAST(sum(y) AS BIGINT) AS sm,
           avg(y) AS av
         FROM read_csv('$itBase/input/aggregate.csv', header=false,
                       names=['x','y'])
         GROUP BY x""",
    "q_pig_it_macro1" ->
      s"""SELECT f1 + 42 AS c1, f2 - 1 AS c2
         FROM read_csv('$itBase/input/file.csv', header=false,
                       names=['f1','f2'])""",
    "q_pig_it_wordcount" ->
      s"""SELECT word, count(*) AS cnt FROM
           (SELECT unnest(string_split_regex(line, '[, "]')) AS word
            FROM read_csv('$itBase/input/mary.txt', header=false,
                          delim='\t', names=['line'], quote=''))
         GROUP BY word""",
    "q_pig_it_twojoins" ->
      s"""WITH a AS (SELECT * FROM read_csv('$itBase/input/joinInput.csv',
                       header=false, names=['a1','a2','a3']))
         SELECT a.a1 AS a1, bf.a1 AS b1 FROM a
           JOIN (SELECT * FROM a WHERE a1 = 4) bf ON a.a1 = bf.a1
         UNION ALL
         SELECT a.a1 AS a1, bf2.a1 AS b1 FROM a
           JOIN (SELECT * FROM a WHERE a3 = 1) bf2 ON a.a1 = bf2.a1""",
    "q_pig_it_selfjoin" ->
      s"""WITH a AS (SELECT * FROM read_csv('$itBase/input/joinInput.csv',
                       header=false, names=['a1','a2','a3']))
         SELECT a.a1, a.a2, a.a3, b.a1 AS b1, b.a2 AS b2, b.a3 AS b3
         FROM a JOIN a b ON a.a1 = b.a1""",
    "q_pig_it_split" ->
      s"""SELECT f1, f2, f3 FROM read_csv('$itBase/input/split.csv',
           header=false, names=['f1','f2','f3'])
         WHERE f1 < 7""",
    "q_pig_it_accumulate" ->
      s"""SELECT CAST(min(f1) AS INT) AS mn, CAST(max(f1) AS INT) AS mx,
           CAST(sum(f2) AS BIGINT) AS sm, count(f2) AS cnt, avg(f2) AS av
         FROM read_csv('$itBase/input/file.csv', header=false,
                       names=['f1','f2'])""",
    "q_pig_it_foreach" ->
      s"""SELECT id, longitude + 0.01 AS lon, latitude + 3.5 AS lat
         FROM read_csv('$itBase/input/events.csv', header=false,
                       names=['id','longitude','latitude'])""",
    "q_pig_it_sort" ->
      s"""SELECT f1, f2, f3 FROM read_csv('$itBase/input/unsorted.csv',
           header=false, names=['f1','f2','f3'], quote='')
         ORDER BY f1, f2, f3""",
    "q_rdf_load" ->
      """SELECT 'urn:nation/' || CAST(n_nationkey AS VARCHAR) AS s,
                'urn:nation#n_name' AS p, n_name AS o FROM nation
         UNION ALL
         SELECT 'urn:nation/' || CAST(n_nationkey AS VARCHAR),
                'urn:nation#n_regionkey', CAST(n_regionkey AS VARCHAR)
         FROM nation""",
    "q_tuplify" ->
      """SELECT 'urn:nation/' || CAST(n_nationkey AS VARCHAR) AS s, 2 AS n_preds
         FROM nation""",
    "q_bgp_star" ->
      """SELECT 'urn:nation/' || CAST(n_nationkey AS VARCHAR) AS x,
                n_name AS name
         FROM nation WHERE n_regionkey = 1""",
    "q_spatial_filter" ->
      """SELECT c_custkey,
         CAST(c_custkey % 97 AS DOUBLE) AS x,
         CAST((c_nationkey * 7) % 89 AS DOUBLE) AS y
         FROM customer
         WHERE c_custkey % 97 BETWEEN 10 AND 60
           AND (c_nationkey * 7) % 89 BETWEEN 10 AND 60""",
    "q_spatial_join" ->
      """SELECT c_custkey, s_suppkey
         FROM customer CROSS JOIN supplier
         WHERE sqrt(power(CAST(c_custkey % 97 AS DOUBLE) - (s_suppkey % 97), 2)
                  + power(CAST((c_nationkey * 7) % 89 AS DOUBLE) - ((s_nationkey * 11) % 89), 2)) <= 5.0""",
    "q_spatial_index" ->
      """SELECT c_custkey,
         CAST(floor(CAST(c_custkey % 97 AS DOUBLE) / 8.0) AS BIGINT) AS cx,
         CAST(floor(CAST((c_nationkey * 7) % 89 AS DOUBLE) / 8.0) AS BIGINT) AS cy
         FROM customer""",
    "q_partition" -> "SELECT c_custkey, c_nationkey FROM customer",
    "q_spatial_bsp" ->
      """SELECT c_custkey,
         CAST(c_custkey % 97 AS DOUBLE) AS x,
         CAST((c_nationkey * 7) % 89 AS DOUBLE) AS y
         FROM customer""",
    // DBSCAN replica, SUBQUADRATIC since round 9 (the old cross-join +
    // recursive-CTE form was quadratic twice over — 225M distance pairs
    // and a reach table of cores × labels — and TIMED OUT at sf0.1):
    // neighbors come from an eps-sized grid-cell equi-join (cell size =
    // eps, 9-offset replication — every true pair is within one cell of
    // its neighbor, so the grid is lossless, the engine's own shape),
    // and the min-core-id component labels come from an UNROLLED
    // min-label propagation (self-loops in `edges` carry each node's
    // own label, so one reference per step keeps CTE inlining linear;
    // 200 steps ≳ the position-graph diameter — convergence is
    // guaranteed loud: an unconverged label can't hash-match the
    // engine). ~12 s at sf0.1 / 4 threads; verified converged at 150.
    "q_dbscan" -> dbscanOracleSql(iters = 200),
    "q_spatial_poly_join" -> {
      val branches = testPolys.map { case (id, vs) =>
        s"SELECT $id AS poly_id, c_custkey FROM pts WHERE ${rayCastSql(vs)}"
      }.mkString(" UNION ALL ")
      s"""WITH pts AS (SELECT c_custkey,
           CAST(c_custkey % 97 AS DOUBLE) AS x,
           CAST((c_nationkey * 7) % 89 AS DOUBLE) AS y FROM customer)
         $branches"""
    },
    "q_matrix" ->
      """WITH m AS (SELECT o_orderkey,
           CAST(o_orderkey % 5 AS DOUBLE) AS a,
           CAST(o_custkey % 7 AS DOUBLE) AS b,
           CAST(o_orderkey % 3 AS DOUBLE) AS c,
           CAST(1.0 AS DOUBLE) AS d
           FROM orders)
         SELECT o_orderkey,
           a * a + b * c AS c00, a * b + b * d AS c01,
           c * a + d * c AS c10, c * b + d * d AS c11
         FROM m"""
  )

  /** Subquadratic DBSCAN oracle body (see the q_dbscan entry comment):
    * grid-cell equi-join neighbors + `iters` unrolled min-label steps
    * over the core-core edge set (MATERIALIZED so DuckDB 1.0 evaluates
    * each step once), then border attachment. `iters` must be ≥ the
    * core-graph diameter; an insufficient value cannot pass silently —
    * unconverged labels hash-mismatch the engine's fixpoint. */
  private def dbscanOracleSql(iters: Int): String = {
    val steps = (1 to iters).map { i =>
      s"""lab$i AS MATERIALIZED (
         SELECT e.pb AS id, min(l.lab) AS lab
         FROM edges e JOIN lab${i - 1} l ON e.pa = l.id GROUP BY e.pb)"""
    }.mkString(",\n         ")
    s"""WITH pts AS (
           SELECT c_custkey AS id,
                  CAST(c_custkey % 97 AS DOUBLE) AS x,
                  CAST((c_nationkey * 7) % 89 AS DOUBLE) AS y
           FROM customer),
         cells AS MATERIALIZED (SELECT id, x, y,
             CAST(floor(x / 2.0) AS BIGINT) AS cx,
             CAST(floor(y / 2.0) AS BIGINT) AS cy FROM pts),
         offs(dx, dy) AS (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),
                                 (0,1),(1,-1),(1,0),(1,1)),
         an AS (SELECT c.id, c.x, c.y, c.cx + o.dx AS ncx,
                       c.cy + o.dy AS ncy
                FROM cells c CROSS JOIN offs o),
         nb AS MATERIALIZED (SELECT a.id AS pa, b.id AS pb
                FROM an a JOIN cells b ON b.cx = a.ncx AND b.cy = a.ncy
                WHERE (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= 4.0),
         cores AS MATERIALIZED (
           SELECT pa AS id FROM nb GROUP BY pa HAVING count(*) >= 4),
         edges AS MATERIALIZED (SELECT pa, pb FROM nb
                   WHERE pa IN (SELECT id FROM cores)
                     AND pb IN (SELECT id FROM cores)),
         lab0 AS (SELECT id, id AS lab FROM cores),
         $steps,
         comp AS MATERIALIZED (SELECT id, lab AS cluster FROM lab$iters),
         border AS (SELECT nb.pa AS id, min(c.cluster) AS cluster
                    FROM nb JOIN comp c ON nb.pb = c.id
                    WHERE nb.pa NOT IN (SELECT id FROM cores)
                    GROUP BY nb.pa)
         SELECT p.id AS c_custkey,
                coalesce(c.cluster, b.cluster, -1) AS cluster
         FROM pts p
         LEFT JOIN comp c ON p.id = c.id
         LEFT JOIN border b ON p.id = b.id"""
  }
}
