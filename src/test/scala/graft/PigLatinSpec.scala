package graft

import org.apache.spark.sql.functions._
import graft.piglatin.{PigParser, PigScript}
import graft.rdf.Rdf
import graft.spatial.Spatial
import graft.matrix.MatrixOps
import breeze.linalg.DenseMatrix

/** Front-end specs: scripts shaped like the reference's integration suite
  * (reference: src/it/resources *.pig files) run against local data. */
class PigLatinSpec extends SparkSpec {
  import spark.implicits._

  test("parser handles the reference aggregate.pig shape") {
    val stmts = PigParser.parseScript(
      """a = load 'in.csv' using PigStorage(',') as (x:int, y:int);
        |b = group a by x ;
        |c = foreach b generate group, COUNT(a.y), SUM(a.y), AVG(a.y);
        |store c into 'out';""".stripMargin)
    assert(stmts.length == 4)
  }

  test("comments and case-insensitive keywords parse") {
    val stmts = PigParser.parseScript(
      """-- line comment
        |A = LOAD 'f' AS (line: chararray); /* block
        |comment */
        |b = FILTER A by line matches '.*x.*';""".stripMargin)
    assert(stmts.length == 2)
  }

  test("DUMP ... mute executes the plan without printing rows") {
    val df = Seq((1, 10), (2, 20)).toDF("x", "y")
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) {
      PigScript.run(spark,
        "b = filter a by x > 0;\ndump b mute;\n", tables = Map("a" -> df))
    }
    assert(!out.toString("UTF-8").contains("10"), out.toString("UTF-8"))
    // unmuted dump DOES print
    val out2 = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out2, true, "UTF-8")) {
      PigScript.run(spark,
        "b = filter a by x > 0;\ndump b;\n", tables = Map("a" -> df))
    }
    assert(out2.toString("UTF-8").contains("10"))
  }

  test("group + aggregate FOREACH fuses to groupBy().agg() — no bag in plan") {
    val df = Seq((1, 10), (1, 20), (2, 30)).toDF("x", "y")
    val c = PigScript.run(spark,
      """b = group a by x;
        |c = foreach b generate group as x, COUNT(a) as cnt, SUM(a.y) as s;
        |""".stripMargin, tables = Map("a" -> df))
    val out = c.relation("c")
    val rows = out.as[(Int, Long, Double)].collect().toSet
    assert(rows == Set((1, 2L, 30.0), (2, 1L, 30.0)))
    // the fused plan must not contain collect_list
    assert(!out.queryExecution.optimizedPlan.toString.contains("collect_list"))
  }

  test("bag-consuming FOREACH materializes the bag") {
    val df = Seq((1, 10), (1, 20)).toDF("x", "y")
    val out = PigScript.query(spark,
      """b = group a by x;
        |c = foreach b generate group, COUNT(DISTINCT(a.y)) as u;
        |""".stripMargin, "c", tables = Map("a" -> df))
    assert(out.select("u").as[Long].head() == 2L)
  }

  test("two-joins script (reference two_joins.pig shape)") {
    val a = Seq((1, 2, 3), (4, 5, 1)).toDF("a1", "a2", "a3")
    val b = Seq((1, 2, 3), (4, 5, 1)).toDF("b1", "b2", "b3")
    val out = PigScript.query(spark,
      """BF1 = FILTER B BY b1 == 4;
        |BF2 = FILTER B BY b3 == 1;
        |X = JOIN A BY a1, BF1 BY b1;
        |X2 = JOIN A BY a1, BF2 BY b1;
        |x0 = FOREACH X GENERATE a1, b1;
        |x1 = FOREACH X2 GENERATE a1, b1;
        |u = UNION x0, x1;""".stripMargin, "u",
      tables = Map("A" -> a, "B" -> b))
    assert(out.count() == 2)
  }

  test("nested foreach with distinct (reference nforeach.pig shape)") {
    val daily = Seq(("nyse", "ibm"), ("nyse", "ibm"), ("nyse", "aapl"),
      ("nasdaq", "msft")).toDF("exchange", "symbol")
    val out = PigScript.query(spark,
      """grpd = group daily by exchange;
        |uniqcnt = foreach grpd {
        |  sym = daily.symbol;
        |  uniq_sym = distinct sym;
        |  generate group, COUNT(uniq_sym) as cnt;
        |};""".stripMargin, "uniqcnt", tables = Map("daily" -> daily))
    val rows = out.as[(String, Long)].collect().toMap
    assert(rows == Map("nyse" -> 2L, "nasdaq" -> 1L))
  }

  test("split, order, limit, distinct, sample, accumulate") {
    val df = Seq(1, 2, 3, 4, 5, 5).toDF("v")
    val c = PigScript.run(spark,
      """split a into small if v <= 2, big if v > 2;
        |d = distinct big;
        |o = order d by v desc;
        |l = limit o 2;
        |acc = accumulate a generate min(v) as mn, max(v) as mx, count(v) as c;
        |""".stripMargin, tables = Map("a" -> df))
    assert(c.relation("l").as[Int].collect().toSeq == Seq(5, 4))
    assert(c.relation("acc").as[(Int, Int, Long)].head() == ((1, 5, 6L)))
  }

  test("SPLIT OTHERWISE receives only rows matching no other branch") {
    val df = Seq(1, 2, 3, 4).toDF("v")
    val c = PigScript.run(spark,
      "split a into big if v > 2, rest otherwise;",
      tables = Map("a" -> df))
    assert(c.relation("big").as[Int].collect().toSet == Set(3, 4))
    assert(c.relation("rest").as[Int].collect().toSet == Set(1, 2))
  }

  test("MATCHES is anchored (full-string, Pig semantics)") {
    val df = Seq("apple", "banana", "avocado").toDF("name")
    val out = PigScript.query(spark,
      "f = filter a by name matches 'a.*';", "f", tables = Map("a" -> df))
    assert(out.as[String].collect().toSet == Set("apple", "avocado")) // not banana
  }

  test("GENERATE * keeps the flat schema") {
    val df = Seq((1, "x"), (5, "y")).toDF("f1", "f2")
    val c = PigScript.run(spark,
      """b = foreach a generate *;
        |c = filter b by f1 > 2;""".stripMargin, tables = Map("a" -> df))
    assert(c.relation("c").as[(Int, String)].collect().toSeq == Seq((5, "y")))
  }

  test("FOREACH grouped GENERATE group is the distinct idiom") {
    val df = Seq((1, "a"), (1, "b"), (2, "c")).toDF("k", "v")
    val out = PigScript.query(spark,
      """g = group a by k;
        |d = foreach g generate group;""".stripMargin, "d",
      tables = Map("a" -> df))
    assert(out.as[Int].collect().toSet == Set(1, 2))
  }

  test("aggregates over bag-field expressions fuse correctly") {
    val df = Seq((1, 2.0, 3.0), (1, 4.0, 5.0), (2, 1.0, 1.0)).toDF("k", "q", "p")
    val out = PigScript.query(spark,
      """g = group a by k;
        |r = foreach g generate group as k, SUM(a.q * a.p) as rev;""".stripMargin,
      "r", tables = Map("a" -> df))
    val rows = out.as[(Int, Double)].collect().toMap
    assert(rows == Map(1 -> 26.0, 2 -> 1.0))
    assert(!out.queryExecution.optimizedPlan.toString.contains("collect_list"))
  }

  test("LCFIRST/UCFIRST change only the first character") {
    val df = Seq("HELLO world").toDF("s")
    val out = PigScript.query(spark,
      "r = foreach a generate LCFIRST(s) as l, UCFIRST(s) as u;", "r",
      tables = Map("a" -> df))
    assert(out.as[(String, String)].head() == (("hELLO world", "HELLO world")))
  }

  test("nested ORDER BY field sorts the bag by that field") {
    val daily = Seq(("x", "b", 1.0), ("x", "a", 9.0), ("x", "c", 5.0))
      .toDF("g", "sym", "price")
    val out = PigScript.query(spark,
      """grp = group daily by g;
        |r = foreach grp {
        |  srt = order daily by price desc;
        |  top1 = limit srt 1;
        |  generate group, top1;
        |};""".stripMargin, "r", tables = Map("daily" -> daily))
    val top = out.select(element_at(col("top1"), 1).getField("sym")).as[String].head()
    assert(top == "a") // highest price, not first-field order
  }

  test("RANK BY DESC ranks highest first") {
    val df = Seq(("a", 10), ("b", 30), ("c", 20)).toDF("n", "score")
    val out = PigScript.query(spark, "r = rank a by score desc;", "r",
      tables = Map("a" -> df))
    val ranks = out.select("n", "rank").as[(String, Long)].collect().toMap
    assert(ranks == Map("b" -> 1L, "c" -> 2L, "a" -> 3L))
  }

  test("param substitution and SET") {
    val df = Seq((1, "x")).toDF("k", "v")
    val c = PigScript.run(spark,
      """set spark.graft.test '42';
        |f = filter t by k == $kval;""".stripMargin,
      params = Map("kval" -> "1"), tables = Map("t" -> df))
    assert(c.relation("f").count() == 1)
    assert(spark.conf.get("spark.graft.test") == "42")
  }

  test("MATCH_EVENT statement compiles the reference CEP syntax") {
    val events = Seq(
      (1000L, "login", 7L), (1005L, "buy", 7L),
      (2000L, "login", 8L), (9000L, "buy", 8L)) // outside WITHIN
      .toDF("ts_s", "kind", "uid")
      .select(timestamp_seconds(col("ts_s")).as("ts"), col("kind"), col("uid"))
    val out = PigScript.query(spark,
      """m = MATCH_EVENT ev PATTERN seq(A, B)
        |      WITH (A: kind == 'login', B: kind == 'buy')
        |      WITHIN 30 seconds;""".stripMargin, "m",
      tables = Map("ev" -> events))
    assert(out.count() == 1) // only the 7L pair is within 30s
  }

  test("MATCH_EVENT with OR and NEG composite patterns") {
    val events = Seq((1L, "a"), (2L, "x"), (3L, "c"), (11L, "b"), (12L, "c"))
      .toDF("ts_s", "kind")
      .select(timestamp_seconds(col("ts_s")).as("ts"), col("kind"))
    val out = PigScript.query(spark,
      """m = MATCH_EVENT ev PATTERN seq(or(A, B), neg(X), C)
        |      WITH (A: kind == 'a', B: kind == 'b', X: kind == 'x',
        |            C: kind == 'c')
        |      WITHIN 100 seconds;""".stripMargin, "m",
      tables = Map("ev" -> events))
    // 'a' start is killed by the intervening 'x'; 'b' start completes
    assert(out.count() == 1)
  }

  test("MATCH_EVENT MODE contiguity_match reaches the engine (dialect " +
      "extension: the reference engine has ContiguityMatch but no " +
      "grammar keyword)") {
    val events = Seq(
      (1L, "login", 7L), (2L, "noise", 7L), (3L, "buy", 7L),
      (10L, "login", 8L), (11L, "buy", 8L))
      .toDF("ts_s", "kind", "uid")
      .select(timestamp_seconds(col("ts_s")).as("ts"), col("kind"),
        col("uid"))
    val out = PigScript.query(spark,
      """m = MATCH_EVENT ev PATTERN seq(A, B)
        |      WITH (A: kind == 'login', B: kind == 'buy')
        |      MODE contiguity_match
        |      WITHIN 30 seconds;""".stripMargin, "m",
      tables = Map("ev" -> events))
    // user 7's login dies on the intervening noise; user 8 matches
    assert(out.count() == 1)
  }

  test("WINDOW RANGE statement attaches (exploding) event-time windows") {
    val events = Seq(1L, 5L, 11L).toDF("ts_s")
      .select(timestamp_seconds(col("ts_s")).as("ts"))
    val out = PigScript.query(spark,
      "w = WINDOW ev RANGE 10 seconds SLIDE RANGE 5 seconds;", "w",
      tables = Map("ev" -> events))
    // sliding 10s/5s: every event lands in 2 windows
    assert(out.count() == 6)
    assert(out.columns.contains("w_start") && out.columns.contains("w_end"))
  }

  test("RDFLOAD + TUPLIFY + BGP_FILTER statements") {
    val dir = java.nio.file.Files.createTempDirectory("graft_pig_nt").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/d.nt"),
      """<urn:p1> <urn:name> "Ann" .
        |<urn:p1> <urn:age> "30" .
        |<urn:p2> <urn:name> "Bob" .
        |""".stripMargin)
    val c = PigScript.run(spark,
      s"""t = RDFLOAD('$dir/d.nt');
         |g = TUPLIFY t ON subject;
         |n = BGP_FILTER t BY { ?x "<urn:name>" ?who };""".stripMargin)
    assert(c.relation("t").count() == 3)
    assert(c.relation("g").count() == 2)
    // single-pattern BGP_FILTER is a FILTER in the reference (its IT
    // truth keeps the triple schema); the names land in `object`.
    // RDFLOAD keeps raw N-Triples tokens (brackets, quotes) — the
    // reference's own IT constants are written bracketed
    val names = c.relation("n").select("object").as[String].collect().toSet
    assert(names == Set("\"Ann\"", "\"Bob\""))
    assert(c.relation("n").columns.toSeq == Seq("subject", "predicate", "object"))
  }

  test("SPATIAL_FILTER and SPATIAL_JOIN statements") {
    val pts = Seq((1L, 1.0, 1.0), (2L, 9.0, 9.0)).toDF("id", "x", "y")
      .select(col("id"), Spatial.point(col("x"), col("y")).as("pt"))
    val c = PigScript.run(spark,
      """f = SPATIAL_FILTER p BY containedby(pt, box(0, 0, 5, 5));
        |j = SPATIAL_JOIN p, q ON dwithin(pt, pt, 2.0);""".stripMargin,
      tables = Map("p" -> pts, "q" -> pts))
    assert(c.relation("f").count() == 1)
    assert(c.relation("j").count() == 2) // each point matches itself only
  }

  test("ZIP WITH INDEX, multi-ZIP, CACHE and INDEX statements") {
    val a = Seq("x", "y", "z").toDF("v")
    val b = Seq(10, 20).toDF("n")
    val c = PigScript.run(spark,
      """zi = ZIP a WITH INDEX;
        |zb = ZIP a, b;
        |ca = CACHE a MEMORY_ONLY;""".stripMargin,
      tables = Map("a" -> a, "b" -> b))
    assert(c.relation("zi").columns.contains("index"))
    assert(c.relation("zi").count() == 3)
    assert(c.relation("zb").count() == 2) // truncates to the shorter input
    assert(c.relation("ca").storageLevel ==
      org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    c.relation("ca").unpersist()
    val pts = Seq((1L, 1.0, 2.0)).toDF("id", "x", "y")
      .select(col("id"), Spatial.point(col("x"), col("y")).as("pt"))
    // rtree now routes to the Z-order curve index (ZOrderIndexSpec covers
    // both methods in depth)
    val ci = PigScript.run(spark,
      "ix = INDEX p ON pt USING rtree(order=2);",
      tables = Map("p" -> pts))
    assert(ci.relation("ix").columns.contains("zorder"))
  }

  test("SKYLINE statement filters to the Pareto front, MAX flips a dim") {
    val t = Seq((1, 1.0, 1.0), (2, 2.0, 9.0), (3, 3.0, 5.0), (4, 9.0, 8.0))
      .toDF("id", "price", "quality")
    val c = PigScript.run(spark,
      """s1 = SKYLINE t BY (price, quality);
        |s2 = SKYLINE t BY (price, quality MAX);""".stripMargin,
      tables = Map("t" -> t))
    // minimize both: only (1,1) survives
    assert(c.relation("s1").select("id").as[Int].collect().toSeq == Seq(1))
    // min price / max quality: 1 and 2 survive; 3 dominated by 2, 4 by 2
    assert(c.relation("s2").select("id").as[Int].collect().toSet == Set(1, 2))
  }

  test("DELAY samples and holds partitions on the executors") {
    val df = spark.range(0, 1000).toDF("v")
    val c = PigScript.run(spark,
      """b = delay a by ('0.05S', 50);
        |c = delay a by (1, 100);""".stripMargin,
      tables = Map("a" -> df))
    val sampled = c.relation("b").count()
    assert(sampled > 300 && sampled < 700, s"50% sample gave $sampled")
    assert(c.relation("b").columns.toSeq == Seq("v"))
    assert(c.relation("c").count() == 1000) // 100% passes everything
  }

  test("VISUALIZE renders a point column to a density image") {
    val dir = java.nio.file.Files.createTempDirectory("graft_viz").toString
    val pts = Seq((1L, 0.0, 0.0), (2L, 9.0, 9.0), (3L, 9.0, 9.0))
      .toDF("id", "x", "y")
      .select(col("id"), Spatial.point(col("x"), col("y")).as("pt"))
    PigScript.run(spark,
      s"VISUALIZE p BY pt INTO '$dir/pts.png' WITH POINTSIZE 3 AS (64, 32);",
      tables = Map("p" -> pts))
    val img = javax.imageio.ImageIO.read(new java.io.File(s"$dir/pts.png"))
    assert(img.getWidth == 64 && img.getHeight == 32)
    // corners carry the two point clusters: bottom-left (0,0) and
    // top-right (9,9) — both must be non-white; the center must be white
    def nonWhite(px: Int, py: Int) = (img.getRGB(px, py) & 0xFFFFFF) != 0xFFFFFF
    assert(nonWhite(0, 31) || nonWhite(1, 30), "origin cluster missing")
    assert(nonWhite(63, 0) || nonWhite(62, 1), "far cluster missing")
    assert(!nonWhite(32, 16), "center should be empty")
  }

  test("VISUALIZE POINTSONLY draws uniform dots, no density shading") {
    val dir = java.nio.file.Files.createTempDirectory("graft_vizpo").toString
    // (0,0) once, (9,9) three times: shaded render gives them different
    // opacity; POINTSONLY must render both at full opacity
    val pts = Seq((1L, 0.0, 0.0), (2L, 9.0, 9.0), (3L, 9.0, 9.0),
        (4L, 9.0, 9.0))
      .toDF("id", "x", "y")
      .select(col("id"), Spatial.point(col("x"), col("y")).as("pt"))
    PigScript.run(spark,
      s"VISUALIZE p BY pt INTO '$dir/po.png' WITH POINTSIZE 3 POINTSONLY AS (16, 16);",
      tables = Map("p" -> pts))
    val img = javax.imageio.ImageIO.read(new java.io.File(s"$dir/po.png"))
    // both clusters render the exact full-opacity point color (30,60,160)
    assert(img.getRGB(0, 15) == 0xFF1E3CA0,
      f"origin pixel 0x${img.getRGB(0, 15)}%08X")
    assert(img.getRGB(15, 0) == 0xFF1E3CA0,
      f"far pixel 0x${img.getRGB(15, 0)}%08X")
    // the shaded variant distinguishes the densities (regression guard
    // that POINTSONLY actually changed something)
    PigScript.run(spark,
      s"VISUALIZE p BY pt INTO '$dir/shade.png' WITH POINTSIZE 3 AS (16, 16);",
      tables = Map("p" -> pts))
    val sh = javax.imageio.ImageIO.read(new java.io.File(s"$dir/shade.png"))
    assert(sh.getRGB(0, 15) != sh.getRGB(15, 0))
  }

  test("SOCKET_READ carries mode and TIMESTAMP(field) into the plan; " +
      "unknown modes fail fast") {
    // readStream.load() is lazy — building the frame needs no live server
    val c = PigScript.run(spark,
      """a = SOCKET_READ 'localhost:19999' MODE zmq
        |    AS (ts: long, v: chararray) TIMESTAMP(ts);""".stripMargin)
    val df = c.relation("a")
    assert(df.isStreaming)
    assert(df.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    assert(df.columns.toSeq == Seq("ts", "v"))
    val err = intercept[RuntimeException] {
      PigScript.run(spark, "a = SOCKET_READ 'localhost:19999' MODE carrier;")
        .relation("a")
    }
    assert(err.getMessage.contains("unsupported SOCKET_READ mode"))
    val werr = intercept[RuntimeException] {
      PigScript.run(spark,
        "SOCKET_WRITE b TO 'localhost:19998' MODE carrier;",
        tables = Map("b" -> Seq(1).toDF("v")))
    }
    assert(werr.getMessage.contains("unsupported SOCKET_WRITE mode"))
  }

  test("SOCKET_WRITE streams a multi-partition relation without collecting " +
      "it to the driver") {
    // toLocalIterator pulls one partition at a time; this drives a
    // many-partition relation through a live socket end-to-end and checks
    // every row arrives (the old collect() path materialized the whole
    // relation driver-side first)
    val server = new java.net.ServerSocket(0)
    val received = scala.collection.mutable.ArrayBuffer.empty[String]
    val reader = new Thread(() => {
      val s = server.accept()
      val in = new java.io.BufferedReader(new java.io.InputStreamReader(
        s.getInputStream, java.nio.charset.StandardCharsets.UTF_8))
      var line = in.readLine()
      while (line != null) {
        received.synchronized { received += line }
        line = in.readLine()
      }
      s.close(); server.close()
    })
    reader.setDaemon(true); reader.start()
    val df = spark.range(0, 1000).toDF("id").repartition(8)
    assert(df.rdd.getNumPartitions > 1)
    PigScript.run(spark,
      s"socket_write r to 'localhost:${server.getLocalPort}';",
      tables = Map("r" -> df))
    reader.join(15000)
    val ids = received.synchronized {
      received.map(l => """\d+""".r.findFirstIn(l).get.toLong).toSet }
    assert(ids == (0L until 1000L).toSet)
  }

  test("embedded Scala code block defines usable functions (embedded.pig shape)") {
    val df = Seq((1, 2), (3, 4)).toDF("f1", "f2")
    val out = PigScript.query(spark,
      """<%
        |def myFunc(i1: Int, i2: Int): Int = i1 + i2
        |%>
        |B = FOREACH A GENERATE myFunc(f1, f2) AS s;""".stripMargin, "B",
      tables = Map("A" -> df))
    assert(out.as[Int].collect().toSet == Set(3, 7))
  }

  test("stream through runs a registered table operator") {
    val df = Seq(1, 2).toDF("v")
    val c = PigScript.run(spark, "b = stream a through double_it;",
      tables = Map("a" -> df),
      udos = Map("double_it" -> ((d: org.apache.spark.sql.DataFrame) =>
        d.select((col("v") * 2).as("v")))))
    assert(c.relation("b").as[Int].collect().toSet == Set(2, 4))
  }

  test("PigStorage AS binds each line positionally: short rows pad with " +
      "nulls, extra tokens drop, and no inference job runs") {
    val dir = java.nio.file.Files.createTempDirectory("graft_pigpos")
    java.nio.file.Files.writeString(dir.resolve("in.tsv"),
      "1\ta\n2\tb\tc\n3\td\te\tf\n")
    var a: org.apache.spark.sql.DataFrame = null
    val jobs = jobsDuring {
      a = PigScript.run(spark,
        s"a = LOAD '$dir/in.tsv' AS (id:int, x:chararray, y:chararray);")
        .relation("a")
    }
    assert(jobs == 0)
    assert(a.columns.toSeq == Seq("id", "x", "y"))
    assert(a.orderBy("id").as[(Int, String, Option[String])].collect().toSeq ==
      Seq((1, "a", None), (2, "b", Some("c")), (3, "d", Some("e"))))
  }

  test("ParquetStorage LOAD reuses the cached schema until the files change") {
    val dir = java.nio.file.Files.createTempDirectory("graft_pigparquet")
    val path = s"$dir/t.parquet"
    def load() = PigScript.run(spark,
      s"a = LOAD '$path' USING ParquetStorage();").relation("a")
    (1L to 5L).map(i => (i, s"v$i")).toDF("id", "v")
      .write.mode("overwrite").parquet(path)
    assert(load().columns.toSeq == Seq("id", "v"))
    var again: org.apache.spark.sql.DataFrame = null
    assert(jobsDuring { again = load() } == 0,
      "a second LOAD of an unchanged path infers no schema")
    assert(again.count() == 5)
    (1L to 3L).map(i => (i, s"w$i", i * 2)).toDF("id", "v", "extra")
      .write.mode("overwrite").parquet(path)
    val rewritten = load()
    assert(rewritten.columns.toSeq == Seq("id", "v", "extra"))
    assert(rewritten.orderBy("id").as[(Long, String, Long)].collect().toSeq ==
      Seq((1L, "w1", 2L), (2L, "w2", 4L), (3L, "w3", 6L)))
  }

  test("ParquetStorage LOAD ... AS binds a dotted source column by position") {
    val dir = java.nio.file.Files.createTempDirectory("graft_pigdotted")
    val path = s"$dir/t.parquet"
    Seq((1L, "x"), (2L, "y")).toDF("id", "a.b").write.parquet(path)
    val out = PigScript.query(spark,
      s"a = LOAD '$path' USING ParquetStorage() AS (id:long, name:chararray);",
      "a")
    assert(out.columns.toSeq == Seq("id", "name"))
    assert(out.orderBy("id").as[(Long, String)].collect().toSeq ==
      Seq((1L, "x"), (2L, "y")))
  }
}

class RdfSpec extends SparkSpec {
  import spark.implicits._

  test("N-Triples lines parse into stripped (s,p,o)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_nt").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/t.nt"),
      """<urn:a> <urn:p> <urn:b> .
        |<urn:a> <urn:name> "Alice" .
        |_:blank <urn:p> <urn:c> .
        |""".stripMargin)
    val t = Rdf.loadNTriples(spark, s"$dir/t.nt")
    val rows = t.as[(String, String, String)].collect().toSet
    assert(rows == Set(("urn:a", "urn:p", "urn:b"),
      ("urn:a", "urn:name", "Alice"), ("_:blank", "urn:p", "urn:c")))
  }

  test("BGP path pattern chains o→s joins") {
    val triples = Seq(("a", "knows", "b"), ("b", "knows", "c"),
      ("c", "knows", "d")).toDF("s", "p", "o")
    val out = Rdf.bgpFilter(triples, Seq(
      Rdf.Pattern("?x", "knows", "?y"), Rdf.Pattern("?y", "knows", "?z")))
    val rows = out.select("x", "y", "z").as[(String, String, String)]
      .collect().toSet
    assert(rows == Set(("a", "b", "c"), ("b", "c", "d")))
  }

  test("repeated variable within one pattern implies equality") {
    val triples = Seq(("a", "likes", "a"), ("a", "likes", "b"),
      ("c", "likes", "c"), ("c", "hates", "c")).toDF("s", "p", "o")
    // ?x likes ?x — only self-loops match, projected ONCE
    val out = Rdf.bgpFilter(triples, Seq(Rdf.Pattern("?x", "likes", "?x")))
    assert(out.columns.toSeq == Seq("x"))
    assert(out.as[String].collect().toSet == Set("a", "c"))
  }
}

class SpatialSpec extends SparkSpec {
  import spark.implicits._

  test("WKT POINT parses, box and polygon predicates work") {
    val df = Seq("POINT (1.5 2.0)", "POINT (10 10)").toDF("wkt")
      .select(Spatial.wktPoint(col("wkt")).as("pt"))
    assert(df.where(Spatial.inBox(col("pt"), 0, 0, 5, 5)).count() == 1)
    val tri = Seq((0.0, 0.0), (4.0, 0.0), (0.0, 4.0))
    assert(df.where(Spatial.inPolygon(col("pt"), tri)).count() == 1)
  }

  test("distance join equals the naive cross-join result") {
    val l = Seq((1L, 0.0, 0.0), (2L, 50.0, 50.0)).toDF("lid", "x", "y")
      .select(col("lid"), Spatial.point(col("x"), col("y")).as("pt"))
    val r = Seq((10L, 3.0, 4.0), (20L, 53.0, 54.0), (30L, 80.0, 80.0))
      .toDF("rid", "x", "y")
      .select(col("rid"), Spatial.point(col("x"), col("y")).as("pt"))
    val got = Spatial.distanceJoin(l, r, "pt", "pt", 5.0)
      .select("lid", "rid").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 10L), (2L, 20L))) // dist exactly 5 both — inclusive
  }

  test("distanceJoin rejects radius 0; equalityJoin covers exact matches") {
    val l = Seq((1L, 1.0, 2.0), (2L, 3.0, 4.0)).toDF("lid", "x", "y")
      .select(col("lid"), Spatial.point(col("x"), col("y")).as("pt"))
    val r = Seq((10L, 1.0, 2.0), (20L, 9.0, 9.0)).toDF("rid", "x", "y")
      .select(col("rid"), Spatial.point(col("x"), col("y")).as("pt"))
    intercept[IllegalArgumentException] {
      Spatial.distanceJoin(l, r, "pt", "pt", 0.0)
    }
    val got = Spatial.equalityJoin(l, r, "pt", "pt")
      .select("lid", "rid").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 10L)))
  }

  test("WKT POLYGON parses into a vertex column; containsPoint matches inPolygon") {
    val tri = Seq((0.0, 0.0), (4.0, 0.0), (0.0, 4.0))
    val wkt = "POLYGON ((0 0, 4 0, 0 4, 0 0))"
    // WKT rings close back to the start vertex; the duplicate closing
    // vertex adds a degenerate edge that never crosses the ray
    val pts = Seq((1.5, 2.0), (10.0, 10.0), (1.0, 1.0)).toDF("x", "y")
      .select(Spatial.point(col("x"), col("y")).as("pt"))
      .withColumn("poly", Spatial.wktPolygon(lit(wkt)))
    val viaCol = pts.where(Spatial.containsPoint(col("poly"), col("pt"))).count()
    val viaLit = pts.where(Spatial.inPolygon(col("pt"), tri)).count()
    assert(viaCol == 2 && viaLit == 2)
  }

  test("polygonJoin equals the naive contains cross-join") {
    val polys = Seq(
      (1, Seq((0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0))),
      (2, Seq((20.0, 20.0), (30.0, 20.0), (25.0, 30.0))))
      .toDF("poly_id", "raw")
      .select(col("poly_id"), transform(col("raw"), v =>
        struct(v.getField("_1").as("x"), v.getField("_2").as("y"))).as("poly"))
    val pts = Seq((100L, 5.0, 5.0), (200L, 25.0, 22.0), (300L, 50.0, 50.0),
      (400L, 5.0, 25.0)).toDF("pid", "x", "y")
      .select(col("pid"), Spatial.point(col("x"), col("y")).as("pt"))
    val got = Spatial.polygonJoin(pts, polys, "pt", "poly", cellSize = 8.0)
      .select("poly_id", "pid").as[(Int, Long)].collect().toSet
    val naive = polys.crossJoin(pts)
      .where(Spatial.containsPoint(col("poly"), col("pt")))
      .select("poly_id", "pid").as[(Int, Long)].collect().toSet
    assert(got == naive && got == Set((1, 100L), (2, 200L)))
  }

  test("polygon-polygon intersects: crossing, containment, disjoint") {
    def polyDf(name: String, vs: Seq[(Double, Double)]) =
      array(vs.map(v => struct(lit(v._1).as("x"), lit(v._2).as("y"))): _*).as(name)
    val df = Seq(1).toDF("one").select(
      polyDf("sq", Seq((0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0))),
      polyDf("cross", Seq((5.0, -5.0), (15.0, -5.0), (15.0, 5.0), (5.0, 5.0))),
      polyDf("inner", Seq((2.0, 2.0), (4.0, 2.0), (3.0, 4.0))),
      polyDf("far", Seq((100.0, 100.0), (110.0, 100.0), (105.0, 110.0))))
    val row = df.select(
      Spatial.polyIntersectsPoly(col("sq"), col("cross")).as("a"),
      Spatial.polyIntersectsPoly(col("sq"), col("inner")).as("b"),
      Spatial.polyIntersectsPoly(col("sq"), col("far")).as("c")).head()
    assert(row.getBoolean(0) && row.getBoolean(1) && !row.getBoolean(2))
  }
}

/** IMPORT statement (the reference's import1.pig/import2.pig shape —
  * PigletCompiler.resolveImports inlines recursively). */
class ImportSpec extends SparkSpec {
  import spark.implicits._
  import java.nio.file.{Files, Paths}

  private def tmpDir = {
    val d = Files.createTempDirectory("graft-import")
    d.toFile.deleteOnExit(); d
  }

  test("IMPORT inlines another script's statements (import1.pig shape)") {
    val dir = tmpDir
    val data = dir.resolve("input.csv")
    Files.writeString(data, "5\n11\n42\n")
    Files.writeString(dir.resolve("import2.pig"),
      s"A = LOAD '$data' USING PigStorage(',') AS (x:int);\n")
    val c = PigScript.run(spark,
      """IMPORT 'import2.pig';
        |B = FILTER A BY x > 10;""".stripMargin,
      importBase = Some(dir.toString))
    assert(c.relation("B").as[Int].collect().sorted.toSeq == Seq(11, 42))
  }

  test("IMPORT resolves recursively, nested paths relative to the importer") {
    val dir = tmpDir
    val sub = Files.createDirectory(dir.resolve("lib"))
    val data = dir.resolve("input.csv")
    Files.writeString(data, "1\n2\n")
    // inner.pig lives in lib/ and imports its sibling by bare name
    Files.writeString(sub.resolve("leaf.pig"),
      s"A = LOAD '$data' USING PigStorage(',') AS (x:int);\n")
    Files.writeString(sub.resolve("inner.pig"), "IMPORT 'leaf.pig';\n")
    val c = PigScript.run(spark,
      """IMPORT 'lib/inner.pig';
        |B = FOREACH A GENERATE x + 1 AS y;""".stripMargin,
      importBase = Some(dir.toString))
    assert(c.relation("B").select(col("y").cast("int")).as[Int]
      .collect().sorted.toSeq == Seq(2, 3))
  }

  test("nested IMPORT falls back to the root importBase for project paths") {
    val dir = tmpDir
    val sub = Files.createDirectory(dir.resolve("lib"))
    val data = dir.resolve("input.csv")
    Files.writeString(data, "7\n")
    // root-level macros.pig, referenced from INSIDE lib/inner.pig by a
    // path that only resolves against the root importBase
    Files.writeString(dir.resolve("macros.pig"),
      s"A = LOAD '$data' USING PigStorage(',') AS (x:int);\n")
    Files.writeString(sub.resolve("inner.pig"), "IMPORT 'macros.pig';\n")
    val c = PigScript.run(spark,
      """IMPORT 'lib/inner.pig';
        |B = FILTER A BY x > 0;""".stripMargin,
      importBase = Some(dir.toString))
    assert(c.relation("B").as[Int].collect().toSeq == Seq(7))
  }

  test("PARTITION preserves a pre-existing field named 'cell'") {
    val df = Seq((1, 99, 2.0, 3.0)).toDF("id", "cell", "x", "y")
      .select(col("id"), col("cell"),
        graft.spatial.Spatial.point(col("x"), col("y")).as("loc"))
    val c = PigScript.run(spark, "b = PARTITION a ON loc USING grid(partitionsPerDimension=4);",
      tables = Map("a" -> df))
    val out = c.relation("b")
    assert(out.columns.toSeq == Seq("id", "cell", "loc"))
    assert(out.select("cell").as[Int].head() == 99)
  }

  test("IMPORT cycles fail fast with the chain, not a stack overflow") {
    val dir = tmpDir
    Files.writeString(dir.resolve("a.pig"), "IMPORT 'b.pig';\n")
    Files.writeString(dir.resolve("b.pig"), "IMPORT 'a.pig';\n")
    val err = intercept[RuntimeException] {
      PigScript.run(spark, "IMPORT 'a.pig';",
        importBase = Some(dir.toString))
    }
    assert(err.getMessage.contains("IMPORT cycle"))
  }
}

class MatrixSpec extends SparkSpec {
  import spark.implicits._

  test("per-cell ops and multiply match Breeze") {
    val a = DenseMatrix((1.0, 2.0), (3.0, 4.0))
    val b = DenseMatrix((5.0, 6.0), (7.0, 8.0))
    val df = Seq(1).toDF("one").select(
      MatrixOps.mmul(MatrixOps.fromLiteral(a), MatrixOps.fromLiteral(b)).as("m"))
    val vals = df.select(col("m.values")).as[Seq[Double]].head()
    val expected = (a * b) // Breeze reference result
    assert(vals == Seq(expected(0, 0), expected(0, 1), expected(1, 0), expected(1, 1)))
  }

  test("block multiply reduces over the contraction index") {
    // 2x2 of 1x1 blocks == plain 2x2 multiply
    val a = Seq((0, 0, Seq(1.0)), (0, 1, Seq(2.0)), (1, 0, Seq(3.0)), (1, 1, Seq(4.0)))
      .toDF("bi", "bj", "block")
    val b = Seq((0, 0, Seq(5.0)), (0, 1, Seq(6.0)), (1, 0, Seq(7.0)), (1, 1, Seq(8.0)))
      .toDF("bi", "bj", "block")
    val out = MatrixOps.blockMultiply(a, b, 1)
      .select("bi", "bj", "block").as[(Int, Int, Seq[Double])]
      .collect().map { case (i, j, v) => ((i, j), v.head) }.toMap
    assert(out == Map((0, 0) -> 19.0, (0, 1) -> 22.0, (1, 0) -> 43.0, (1, 1) -> 50.0))
  }

  test("block multiply is row-major correct for non-commuting 2x2 blocks") {
    // single 2x2 block each: result must be A·B, not B·A
    val A = DenseMatrix((1.0, 2.0), (3.0, 4.0))
    val B = DenseMatrix((5.0, 6.0), (7.0, 8.0))
    def rowMajor(m: DenseMatrix[Double]) =
      Seq(m(0, 0), m(0, 1), m(1, 0), m(1, 1))
    val a = Seq((0, 0, rowMajor(A))).toDF("bi", "bj", "block")
    val b = Seq((0, 0, rowMajor(B))).toDF("bi", "bj", "block")
    val got = MatrixOps.blockMultiply(a, b, 2)
      .select("block").as[Seq[Double]].head()
    assert(got == rowMajor(A * B)) // (19, 22, 43, 50)
  }

  test("fs statements run Hadoop filesystem commands (HdfsCmd analog)") {
    val base = java.nio.file.Files.createTempDirectory("graft_fs").toString
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(base, "a.txt"), "one\ntwo\n")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(base, "b.txt"), "three\n")
    PigScript.run(spark,
      s"""fs -mkdir $base/sub;
         |fs -getmerge $base/a.txt $base/b.txt $base/merged.txt;
         |fs -copyToLocal $base/a.txt $base/sub/a_copy.txt;
         |fs -rm $base/b.txt;
         |""".stripMargin)
    assert(java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(base, "sub")))
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(base, "merged.txt")) == "one\ntwo\nthree\n")
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(base, "sub", "a_copy.txt")))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(base, "b.txt")))
    val listed = graft.core.FsOps.process(
      spark.sparkContext.hadoopConfiguration, "ls", List(base))
    assert(listed.exists(_.contains("merged.txt")))
    val shown = graft.core.FsOps.process(
      spark.sparkContext.hadoopConfiguration, "cat", List(s"$base/a.txt"))
    assert(shown == Seq("one", "two"))
  }

  test("CACHE with mode NONE is a pass-through (reference CacheMode.NONE " +
      "= do not cache)") {
    val a = Seq(1, 2, 3).toDF("v")
    val c = PigScript.run(spark, "cn = CACHE a NONE;", tables = Map("a" -> a))
    val out = c.relation("cn")
    assert(out.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
    assert(out.count() == 3)
  }

  test("'+' on two DECLARED chararray fields concats; schema-less string " +
      "fields stay numeric") {
    val dir = java.nio.file.Files.createTempDirectory("graft_concat").toString
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "in.csv"), "ab,cd\nef,gh\n")
    val c = PigScript.run(spark,
      s"""a = load '$dir/in.csv' using PigStorage(',')
         |    as (f1:chararray, f2:chararray);
         |b = foreach a generate f1 + f2 as j;""".stripMargin)
    assert(c.relation("b").as[String].collect().toSet == Set("abcd", "efgh"))
    // control: the same '+' over a SCHEMA-LESS load keeps Pig's bytearray
    // numeric coercion (strings that don't parse as numbers → null)
    val n = PigScript.run(spark,
      s"""a = load '$dir/in.csv' using PigStorage(',');
         |b = foreach a generate $$0 + $$1 as j;""".stripMargin)
    assert(n.relation("b").collect().forall(_.isNullAt(0)))
  }

  test("VISUALIZE falls back to RGB for jpg (ImageIO rejects ARGB) and " +
      "errors on an unknown extension") {
    val dir = java.nio.file.Files.createTempDirectory("graft_viz2").toString
    val pts = Seq((1L, 0.0, 0.0), (2L, 5.0, 5.0)).toDF("id", "x", "y")
      .select(col("id"), Spatial.point(col("x"), col("y")).as("pt"))
    PigScript.run(spark,
      s"VISUALIZE p BY pt INTO '$dir/pts.jpg' WITH POINTSIZE 2 AS (32, 32);",
      tables = Map("p" -> pts))
    val f = new java.io.File(s"$dir/pts.jpg")
    assert(f.exists() && f.length() > 0, "jpg output missing or empty")
    assert(javax.imageio.ImageIO.read(f).getWidth == 32)
    val err = intercept[RuntimeException] {
      PigScript.run(spark,
        s"VISUALIZE p BY pt INTO '$dir/pts.nosuch' AS (16, 16);",
        tables = Map("p" -> pts))
    }
    assert(err.getMessage.contains("no image writer"))
  }

  test("SPATIAL_JOIN with the same alias on both sides fails with an " +
      "actionable error, not AMBIGUOUS_REFERENCE") {
    val pts = Seq((1L, 1.0, 1.0)).toDF("id", "x", "y")
      .select(col("id"), Spatial.point(col("x"), col("y")).as("pt"))
    val err = intercept[RuntimeException] {
      PigScript.run(spark,
        "j = SPATIAL_JOIN p, p ON dwithin(pt, pt, 2.0);",
        tables = Map("p" -> pts))
    }
    assert(err.getMessage.contains("alias"))
  }
}
