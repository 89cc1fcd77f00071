package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.Row
import graft.piglatin.{PigletReference, PigScript}

/** End-to-end execution of the reference's OWN integration suite
  * (reference: src/it/scala/dbis/test/spark/SparkCompileIt.scala): each
  * script runs through graft's PigScript front-end against the
  * reference's own input files, and the STOREd relation must equal the
  * reference's truth file — rendered in piglet's PigStorage text format
  * (fields comma-joined, tuples as `(..)`, bags as `{(..),..}`).
  *
  * `inOrder` mirrors the reference harness: ordered scripts compare line
  * sequences, unordered ones compare multisets.
  */
class ItCompatSpec extends SparkSpec {

  private def base = PigletReference("src/it/resources")

  /** piglet PigStorage rendering of a Spark value. */
  private def render(v: Any): String = v match {
    case null => ""
    // Pig's untyped default is bytearray; piglet renders its content
    case b: Array[Byte] => new String(b, java.nio.charset.StandardCharsets.UTF_8)
    // geometry columns print as piglet's STObject wrapper with JTS WKT
    // (truth/spatialfilter.data: `STObject(POINT (50.1 10.2),None)`)
    case r: Row if r.schema != null &&
        r.schema.fieldNames.sameElements(Array("x", "y")) =>
      s"STObject(POINT (${render(r.get(0))} ${render(r.get(1))}),None)"
    // matrix columns print one MATRIX row per output line, each value
    // followed by two spaces (truth/simple-matrix-res.data); graft stores
    // row-major so rows are contiguous slices
    case r: Row if r.schema != null &&
        r.schema.fieldNames.sameElements(Array("rows", "cols", "values")) =>
      val rows = r.getInt(0); val cols = r.getInt(1)
      val vs = r.getSeq[Double](2)
      (0 until rows).map(i =>
        (0 until cols).map(j => s"${vs(i * cols + j)}  ").mkString).mkString("\n")
    case r: Row => "(" + r.toSeq.map(render).mkString(",") + ")"
    // collected array columns are mutable.ArraySeq — NOT immutable.Seq,
    // which is what a bare `Seq` pattern means under Scala 2.13.
    // Pig bags contain TUPLES: scalar elements render as 1-tuples
    // (truth/bag.data: {(Mary),(had),...})
    case s: scala.collection.Seq[_] =>
      "{" + s.map {
        case r: Row => render(r)
        case el => "(" + render(el) + ")"
      }.mkString(",") + "}"
    case m: Map[_, _] =>
      "[" + m.map { case (k, x) => s"${render(k)}#${render(x)}" }.mkString(",") + "]"
    case other => other.toString
  }
  private def renderRow(r: Row): String = r.toSeq.map(render).mkString(",")

  private val storeRe = """(?im)^\s*STORE\s+([A-Za-z_]\w*)\s+INTO\s+'[^']*'\s*;\s*""".r

  private def runScript(name: String): Seq[String] =
    runScriptText(Files.readString(Paths.get(s"$base/$name")))

  private def runScriptText(raw: String): Seq[String] = {
    val storeAlias = storeRe.findFirstMatchIn(raw)
      .getOrElse(sys.error("script has no STORE")).group(1)
    val noStore = storeRe.replaceAllIn(raw, "")
    val compiler = PigScript.run(spark, noStore,
      params = Map("inbase" -> base), importBase = Some(base))
    compiler.relation(storeAlias).collect().toSeq
      .flatMap(r => renderRow(r).split("\n", -1))
  }

  private def truthLines(name: String): Seq[String] =
    Files.readAllLines(Paths.get(s"$base/truth/$name"))
      .toArray(Array.empty[String]).toSeq.filter(_.nonEmpty)

  /** (script, truth, inOrder) — the mapping from the reference's own IT
    * table (SparkCompileIt.scala). All 43 cases run: jdbc runs
    * below against embedded Derby (no H2 driver in this build); json runs
    * below against the projection the script actually STOREs (the
    * reference marks json.pig "not working yet" and its truth file is the
    * un-projected relation); rscript runs below on the builtin MiniR
    * engine (real DBSCAN, no R runtime in this environment). */
  private val cases: Seq[(String, String, Boolean)] = Seq(
    // SAMPLE A 1.0 keeps every row — Bernoulli with p=1.0 is the one
    // deterministic sample, and the reference's truth file IS the input
    ("sampling.pig", "sampling.data", false),
    ("groupforeach.pig", "groupedrdf.data", false),
    ("nforeach2.pig", "rdf.data", false),
    ("aggrwogrouping.pig", "aggrwogrouping.data", true),
    ("simple_matrix.pig", "simple-matrix-res.data", true),
    ("spatialfilter.pig", "spatialfilter.data", false),
    // not in any reference harness table; it is spatialfilter.pig plus a
    // grid PARTITION (plan-level, result-preserving), so the same truth
    ("spatialpartitioning.pig", "spatialfilter.data", false),
    ("spatialfilterwithindex.pig", "spatialfilter.data", false),
    ("spatialjoin.pig", "spatialjoin.data", false),
    ("spatialjoinwithindex.pig", "spatialjoin.data", false),
    ("load.pig", "result1.data", true),
    ("load2.pig", "result2.data", true),
    ("load3.pig", "result3.data", true),
    ("filter.pig", "filtered.data", true),
    ("sort.pig", "sorted.data", true),
    ("foreach1.pig", "distances.data", true),
    ("grouping.pig", "grouping.data", false),
    ("grouping2.pig", "grouping2.data", false),
    ("groupall.pig", "groupall.data", false),
    ("wordcount.pig", "marycount.data", false),
    ("union.pig", "united.data", true),
    ("cross.pig", "cross2.csv", false),
    ("crossmany.pig", "crossmany.csv", false),
    ("aggregate.pig", "aggregate.data", false),
    ("accumulate.pig", "accumulate.data", false),
    ("top.pig", "top.data", true),
    ("macro1.pig", "macro1.data", true),
    ("selfjoin.pig", "joined.data", false),
    // joins carry no order contract in graft (Catalyst picks the
    // strategy), so compare as a multiset even where the reference's
    // RDD backend happened to preserve order
    ("selfjoin_filtered.pig", "joined_filtered.data", false),
    ("embedded.pig", "embedded.data", true),
    ("nforeach.pig", "nested.data", false),
    ("two_joins.pig", "twojoins.data", false),
    ("sort_multiple_directions.pig", "sorted_multiple_directions.data", true),
    ("top_schema.pig", "top.data", true),
    ("selfjoin_ambiguous_fieldnames.pig", "joined_ambiguous_fieldnames.data", false),
    ("splitInto.pig", "splitX.data", false),
    ("bag.pig", "bag.data", true),
    ("construct.pig", "construct.data", true),
    ("bgpfilter.pig", "bgpfilter.data", false),
    ("rdf_starjoin_plain.pig", "rdf_starjoin_plain.data", false),
    ("rdf_pathjoin_plain.pig", "rdf_pathjoin_plain.data", false),
    // ---- the reference's STREAMING-backend IT table (SparksCompileIt
    // .scala): PigStream loads + arrival-time WINDOW statements. On a
    // bounded batch all rows share one processing-time window, so the
    // reference compares these against the plain batch truths — exactly
    // the semantics graft's WINDOW takes for timestamp-less relations.
    ("stream_load.pig", "result1.data", false),
    ("stream_load2.pig", "result2.data", false),
    ("stream_foreach1.pig", "distances.data", false),
    ("stream_filter.pig", "filtered.data", false),
    ("windowJoin.pig", "joined.data", false),
    ("windowGrouping.pig", "grouping.data", false),
    ("windowNforeach.pig", "nested.data", false),
    ("windowFilter.pig", "filtered.data", false),
    ("windowCount.pig", "marycount.data", false),
    ("windowDistinct.pig", "unique.data", false),
    ("windowSort.pig", "sorted.data", true),
    // windowCross.pig is commented out of the reference SPARK streaming
    // table (SparksCompileIt.scala:35) but runs in its FLINK table against
    // the same truth — graft executes it too
    ("windowCross.pig", "crossed.data", false))

  cases.foreach { case (script, truth, inOrder) =>
    test(s"reference IT: $script matches truth/$truth") {
      val got = runScript(script)
      val want = truthLines(truth)
      if (inOrder) assert(got == want,
        s"\ngot:  ${got.take(5).mkString(" | ")}\nwant: ${want.take(5).mkString(" | ")}")
      else assert(got.sorted == want.sorted,
        s"\ngot:  ${got.sorted.take(5).mkString(" | ")}\nwant: ${want.sorted.take(5).mkString(" | ")}")
    }
  }

  test("reference IT: spatialpartitioning.pig with grid swapped to bsp " +
      "yields the same relation (BSP moves placement, not content)") {
    val raw = Files.readString(Paths.get(s"$base/spatialpartitioning.pig"))
    assert(raw.contains("using grid("), "reference script changed shape")
    val bsp = raw.replace("using grid(partitionsPerDimension=4, withExtent=false)",
      "using bsp(sideLength=8.0, maxCostPerPartition=100)")
    assert(bsp != raw)
    val got = runScriptText(bsp)
    assert(got.sorted == runScript("spatialpartitioning.pig").sorted)
    assert(got.sorted == truthLines("spatialfilter.data").sorted)
  }

  test("reference IT: jdbc.pig matches truth/jdbc-data.data (embedded Derby " +
      "standing in for the H2 driver this build lacks)") {
    val dbDir = Files.createTempDirectory("graft-it-derby")
    val url = s"jdbc:derby:${dbDir.resolve("itdb")}"
    Class.forName("org.apache.derby.jdbc.EmbeddedDriver")
    val conn = java.sql.DriverManager.getConnection(s"$url;create=true")
    try {
      val st = conn.createStatement()
      st.execute("CREATE TABLE data(col1 INT, col2 VARCHAR(20))")
      Seq("One", "Two", "Three", "Four", "Five", "Six").zipWithIndex.foreach {
        case (w, i) =>
          st.execute(s"INSERT INTO data VALUES (${i + 1}, '$w')")
      }
      st.close()
    } finally conn.close()
    // same script, storage swapped: H2 driver+URL → Derby driver+URL
    val raw = Files.readString(Paths.get(s"$base/jdbc.pig"))
      .replaceAll("""JdbcStorage\('[^']*',\s*'[^']*'\)""",
        s"JdbcStorage('org.apache.derby.jdbc.EmbeddedDriver', '$url')")
    val got = runScriptText(raw)
    assert(got.sorted == truthLines("jdbc-data.data").sorted)
  }

  test("reference IT: rscript.pig matches truth/cluster.data (builtin " +
      "MiniR engine + real DBSCAN standing in for the R runtime this " +
      "environment lacks)") {
    // the script's LOAD path is relative to the reference repo root, not
    // $inbase — rebase it, exactly as the reference harness runs from its
    // own checkout
    val raw = Files.readString(Paths.get(s"$base/rscript.pig"))
      .replace("'src/it/resources/input/cluster-data.csv'",
        s"'$base/input/cluster-data.csv'")
    spark.conf.set("graft.rscript.binary", "builtin")
    try {
      val got = runScriptText(raw)
      val want = truthLines("cluster.data")
      assert(got == want,
        s"\ngot:  ${got.take(5).mkString(" | ")}\nwant: ${want.take(5).mkString(" | ")}")
    } finally spark.conf.unset("graft.rscript.binary")
  }

  test("reference IT: json.pig executes end-to-end (JsonStorage + nested " +
      "tuple schema + dot projection)") {
    // The reference's own harness tags json.pig "not working yet"
    // (SparkCompileIt.scala:64) and its truth file json.data is the
    // UN-projected relation A in JSON-document field order. The script
    // stores B = FOREACH A GENERATE address.city, address.zipcode, name —
    // assert that projection's Pig-semantics result instead.
    assert(runScript("json.pig") == Seq("Ilmenau,98693,Hage"))
  }
}
