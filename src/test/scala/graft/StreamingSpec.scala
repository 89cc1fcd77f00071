package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.cep.Matcher
import graft.streaming.Streams

class CepSpec extends SparkSpec {
  import spark.implicits._

  private def mkEvents(rows: (Long, Long, String, Long)*) =
    rows.toDF("user_id", "ts_s", "event_type", "event_id")
      .select(col("user_id"), timestamp_seconds(col("ts_s")).as("ts"),
        col("event_type"), col("event_id"), lit(0.0).as("value"))

  private def run(df: org.apache.spark.sql.DataFrame, steps: Seq[Matcher.Step],
                  withinSec: Long) =
    Matcher.matchSeq(df, "user_id", "ts", "event_type", "event_id", "value",
        steps, withinSec * 1000000L)
      .select("key", "ids").as[(Long, Seq[Long])].collect().toSet

  test("SEQ matches first B after each A, shared closings allowed") {
    val df = mkEvents(
      (1L, 10L, "a", 1L), (1L, 20L, "a", 2L), (1L, 30L, "b", 3L),
      (2L, 10L, "a", 4L), (2L, 5000L, "b", 5L)) // outside window
    val got = run(df, Seq(Matcher.Pos(Matcher.typeIs("a")),
      Matcher.Pos(Matcher.typeIs("b"))), withinSec = 100)
    assert(got == Set((1L, Seq(1L, 3L)), (1L, Seq(2L, 3L))))
  }

  test("NEG kills partials on intervening event") {
    val df = mkEvents(
      (1L, 10L, "a", 1L), (1L, 15L, "x", 2L), (1L, 20L, "b", 3L),
      (1L, 30L, "a", 4L), (1L, 40L, "b", 5L))
    val got = run(df, Seq(Matcher.Pos(Matcher.typeIs("a")),
      Matcher.Neg(Matcher.typeIs("x")),
      Matcher.Pos(Matcher.typeIs("b"))), withinSec = 100)
    assert(got == Set((1L, Seq(4L, 5L))))
  }

  test("skip_till_any_match branches on every matching event") {
    val df = mkEvents(
      (1L, 10L, "a", 1L), (1L, 20L, "b", 2L), (1L, 30L, "b", 3L))
    val next = run(df, Seq(Matcher.Pos(Matcher.typeIs("a")),
      Matcher.Pos(Matcher.typeIs("b"))), withinSec = 100)
    assert(next == Set((1L, Seq(1L, 2L)))) // earliest b only
    val any = Matcher.matchSeq(df, "user_id", "ts", "event_type",
        "event_id", "value",
        Seq(Matcher.Pos(Matcher.typeIs("a")), Matcher.Pos(Matcher.typeIs("b"))),
        100L * 1000000L, mode = "skip_till_any_match")
      .select("key", "ids").as[(Long, Seq[Long])].collect().toSet
    assert(any == Set((1L, Seq(1L, 2L)), (1L, Seq(1L, 3L)))) // both b's
  }

  test("three-step SEQ with AND/OR predicate composition") {
    val df = mkEvents(
      (1L, 10L, "a", 1L), (1L, 20L, "b", 2L), (1L, 30L, "c", 3L),
      (1L, 40L, "d", 4L))
    val bOrC: Matcher.Event => Boolean = e => e.etype == "b" || e.etype == "c"
    val got = run(df, Seq(Matcher.Pos(Matcher.typeIs("a")),
      Matcher.Pos(bOrC), Matcher.Pos(Matcher.typeIs("d"))), withinSec = 100)
    assert(got == Set((1L, Seq(1L, 2L, 4L))))
  }

  test("WITHIN bound is inclusive and per-start") {
    val df = mkEvents((1L, 0L, "a", 1L), (1L, 100L, "b", 2L))
    assert(run(df, Seq(Matcher.Pos(Matcher.typeIs("a")),
      Matcher.Pos(Matcher.typeIs("b"))), withinSec = 100) ==
      Set((1L, Seq(1L, 2L))))
    assert(run(df, Seq(Matcher.Pos(Matcher.typeIs("a")),
      Matcher.Pos(Matcher.typeIs("b"))), withinSec = 99).isEmpty)
  }
}

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("windowed aggregation over a memory stream emits per-window counts") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val df = input.toDF().toDF("ts", "etype")
    val agg = Streams.windowedAgg(df, "ts", "10 seconds", None, "0 seconds",
      Seq("etype"), Seq(count(lit(1)).as("cnt")))
      .select(col("window.start").as("ws"), col("etype"), col("cnt"))
    val q = Streams.memorySink(agg, "win_counts", OutputMode.Complete())
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    input.addData((ts(1), "x"), (ts(3), "x"), (ts(11), "y"))
    q.processAllAvailable()
    val rows = spark.table("win_counts")
      .select(unix_timestamp(col("ws")).as("w"), col("etype"), col("cnt"))
      .as[(Long, String, Long)].collect().toSet
    q.stop()
    assert(rows == Set((0L, "x", 2L), (10L, "y", 1L)))
  }

  test("streamDedup within watermark drops cross-batch duplicates while " +
      "state is live") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val df = input.toDF().toDF("ts", "k")
    val dd = Streams.streamDedup(df, Seq("k"),
      watermarkInfo = Some(("ts", "10 seconds")))
    val q = Streams.memorySink(dd, "dedup_out", OutputMode.Append())
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    input.addData((ts(1), "a"), (ts(2), "a"), (ts(3), "b"))
    q.processAllAvailable()
    // same batch: duplicate 'a' suppressed
    assert(spark.table("dedup_out").count() == 2)
    // next batch, inside the watermark horizon: still suppressed
    input.addData((ts(5), "a"))
    q.processAllAvailable()
    assert(spark.table("dedup_out").count() == 2)
    // far beyond the horizon: 'a' state was evicted, re-emits — the
    // documented bounded-state trade of the production variant
    input.addData((ts(60), "c"))
    q.processAllAvailable()
    input.addData((ts(61), "a"))
    q.processAllAvailable()
    val ks = spark.table("dedup_out").select("k").as[String].collect()
    q.stop()
    assert(ks.count(_ == "a") == 2 && ks.count(_ == "b") == 1 &&
      ks.count(_ == "c") == 1)
  }

  test("streaming session windows merge across batches and emit on close") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Long)]
    val df = input.toDF().toDF("ts", "uid")
    val agg = Streams.sessionAgg(df, "ts", gap = "10 seconds",
      watermarkDelay = "0 seconds", groupCols = Seq("uid"),
      aggs = Seq(count(lit(1)).as("cnt")))
      .select(col("uid"), unix_timestamp(col("session.start")).as("ss"),
        col("cnt"))
    val q = Streams.memorySink(agg, "sess_out", OutputMode.Append())
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    // two batches land in ONE session (gap 10s spans the 8s→12s step)
    input.addData((ts(1), 7L), (ts(8), 7L))
    q.processAllAvailable()
    input.addData((ts(12), 7L))
    q.processAllAvailable()
    // advance the watermark far past session end → the session closes
    input.addData((ts(100), 8L))
    q.processAllAvailable()
    val rows = spark.table("sess_out").as[(Long, Long, Long)].collect().toSet
    q.stop()
    assert(rows == Set((7L, 1L, 3L))) // one merged session, 3 events
  }

  test("text-pipeline ops compose on streams (narrow maps need no adapter)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val df = input.toDF().toDF("id", "text")
    val cleaned = df.select(col("id"),
      graft.text.TextOps.scrubPii(
        graft.text.TextOps.normalizeText(col("text"), "NFC",
          stripAccents = true, caseFold = true)).as("clean"),
      graft.text.TextOps.langId(col("text")).as("lang"))
    val q = Streams.memorySink(cleaned, "txt_out", OutputMode.Append())
    input.addData((1L, "Écrivez à JOHN.DOE@corp.io now"))
    q.processAllAvailable()
    val row = spark.table("txt_out").as[(Long, String, String)].head()
    q.stop()
    assert(row._2 == "ecrivez a <EMAIL> now")
    assert(row._3 == "und") // too short for a stopword profile
  }

  private val signupPurchase = Seq(Matcher.Pos(Matcher.typeIs("signup")),
    Matcher.Pos(Matcher.typeIs("purchase")))

  /** (key, start id, end id) of each 2-step match in a memory sink. */
  private def pairs(table: String): Set[(Long, Long, Long)] =
    spark.table(table).as[Matcher.MatchResult].collect()
      .map(m => (m.key, m.ids.head, m.ids.last)).toSet

  test("streaming CEP via flatMapGroupsWithState matches across batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Matcher.Event]
    val matches = Streams.streamMatchSteps(input.toDS(), signupPurchase,
      withinMicros = 100L * 1000000L)
    val q = Streams.memorySink(matches.toDF(), "cep_out", OutputMode.Append())
    // batch 1: signup only; batch 2: purchase — state must carry over
    input.addData(Matcher.Event(7L, 1000000L, "signup", 1L, 0.0))
    q.processAllAvailable()
    input.addData(Matcher.Event(7L, 5000000L, "purchase", 2L, 0.0))
    q.processAllAvailable()
    val rows = pairs("cep_out")
    q.stop()
    assert(rows == Set((7L, 1L, 2L)))
  }

  test("streaming CEP matches batch semantics: same-timestamp end never " +
      "matches, but stays open for later ends") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Matcher.Event]
    val matches = Streams.streamMatchSteps(input.toDS(), signupPurchase,
      withinMicros = 100L * 1000000L)
    val q = Streams.memorySink(matches.toDF(), "cep_ts_out", OutputMode.Append())
    input.addData(
      Matcher.Event(7L, 1000000L, "signup", 1L, 0.0),
      Matcher.Event(7L, 1000000L, "purchase", 2L, 0.0), // same ts: no match
      Matcher.Event(7L, 2000000L, "purchase", 3L, 0.0)) // strictly later
    q.processAllAvailable()
    val rows = pairs("cep_ts_out")
    q.stop()
    assert(rows == Set((7L, 1L, 3L)))
  }

  test("streaming first_match keeps one live start per key, like the " +
      "batch engine, across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Matcher.Event]
    val matches = Streams.streamMatchSteps(input.toDS(), signupPurchase,
      withinMicros = 100L * 1000000L, mode = "first_match")
    val q = Streams.memorySink(matches.toDF(), "cep_fm_out", OutputMode.Append())
    // batch 1: two signups — the second must be IGNORED (slot occupied)
    input.addData(
      Matcher.Event(7L, 1000000L, "signup", 1L, 0.0),
      Matcher.Event(7L, 2000000L, "signup", 2L, 0.0))
    q.processAllAvailable()
    // batch 2: purchase completes (1,3); next signup+purchase pair reuse
    // the freed slot -> (4,5). next_match would also emit (2,3)
    input.addData(
      Matcher.Event(7L, 3000000L, "purchase", 3L, 0.0),
      Matcher.Event(7L, 4000000L, "signup", 4L, 0.0),
      Matcher.Event(7L, 5000000L, "purchase", 5L, 0.0))
    q.processAllAvailable()
    val rows = pairs("cep_fm_out")
    q.stop()
    assert(rows == Set((7L, 1L, 3L), (7L, 4L, 5L)))
    val err = intercept[IllegalArgumentException] {
      Streams.streamMatchSteps(input.toDS(), signupPurchase, 1L,
        mode = "recent_match")
    }
    assert(err.getMessage.contains("unsupported MATCH_EVENT mode"))
  }

  test("windowed stream-stream join matches within the event-time gap") {
    implicit val sqlCtx = spark.sqlContext
    val li = MemoryStream[(java.sql.Timestamp, Long, String)]
    val ri = MemoryStream[(java.sql.Timestamp, Long, String)]
    val joined = Streams.windowedStreamJoin(
      li.toDF().toDF("lts", "lk", "lv"), ri.toDF().toDF("rts", "rk", "rv"),
      "lts", "rts", "lk", "rk",
      watermarkDelay = "0 seconds", maxGap = "10 seconds")
    val q = Streams.memorySink(joined.select("lk", "lv", "rv"), "ssj",
      OutputMode.Append())
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    li.addData((ts(100), 1L, "L1"))
    ri.addData((ts(105), 1L, "R-in"), (ts(200), 1L, "R-out"))
    q.processAllAvailable()
    val rows = spark.table("ssj").as[(Long, String, String)].collect().toSet
    q.stop()
    assert(rows == Set((1L, "L1", "R-in"))) // 200s is outside the 10s gap
  }

  test("tumblingWindowJoin pairs rows in the SAME tumbling window only, " +
      "across micro-batches (reference StreamJoinEmitter semantics)") {
    implicit val sqlCtx = spark.sqlContext
    val li = MemoryStream[(java.sql.Timestamp, Long, String)]
    val ri = MemoryStream[(java.sql.Timestamp, Long, String)]
    val joined = Streams.tumblingWindowJoin(
      li.toDF().toDF("lts", "lk", "lv"), ri.toDF().toDF("rts", "rk", "rv"),
      "lts", "rts", keys = Seq(("lk", "rk")),
      windowDur = "10 seconds", watermarkDelay = "0 seconds")
    val q = Streams.memorySink(joined.select("lk", "lv", "rv"), "twj",
      OutputMode.Append())
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    // window [10,20): L at 12 — right side arrives in a LATER batch;
    // R at 19 shares the window, R at 21 is 2s away but a window over
    li.addData((ts(12), 1L, "L1"))
    ri.addData((ts(19), 1L, "R-same"))
    q.processAllAvailable()
    ri.addData((ts(21), 1L, "R-next"), (ts(14), 2L, "R-otherkey"))
    q.processAllAvailable()
    val rows = spark.table("twj").as[(Long, String, String)].collect().toSet
    q.stop()
    assert(rows == Set((1L, "L1", "R-same")))
  }

  test("dialect JOIN of WINDOW'd streams routes to the per-window join; " +
      "un-windowed streaming JOIN fails fast") {
    implicit val sqlCtx = spark.sqlContext
    val li = MemoryStream[(java.sql.Timestamp, Long, String)]
    val ri = MemoryStream[(java.sql.Timestamp, Long, String)]
    val l = li.toDF().toDF("ts", "k", "lv")
    val r = ri.toDF().toDF("ts", "k", "rv")
    val j = graft.piglatin.PigScript.query(spark,
      """lw = WINDOW l RANGE 10 seconds SLIDE RANGE 10 seconds;
        |rw = WINDOW r RANGE 10 seconds SLIDE RANGE 10 seconds;
        |x = JOIN lw BY k, rw BY k;""".stripMargin,
      "x", tables = Map("l" -> l, "r" -> r))
    assert(j.isStreaming)
    val q = Streams.memorySink(
      j.select(col("lw::lv"), col("rw::rv")), "pig_twj",
      OutputMode.Append())
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    li.addData((ts(12), 1L, "L1"))
    ri.addData((ts(19), 1L, "R-same"), (ts(21), 1L, "R-next"))
    q.processAllAvailable()
    val rows = spark.table("pig_twj").as[(String, String)].collect().toSet
    q.stop()
    assert(rows == Set(("L1", "R-same")))
    val err = intercept[RuntimeException] {
      graft.piglatin.PigScript.query(spark,
        "x = JOIN l BY k, r BY k;", "x",
        tables = Map("l" -> l, "r" -> r))
    }
    assert(err.getMessage.contains("requires WINDOW'd inputs"))
  }

  test("dialect CROSS of WINDOW'd streams forms per-window pairs " +
      "(reference windowCross.pig semantics)") {
    implicit val sqlCtx = spark.sqlContext
    val li = MemoryStream[(java.sql.Timestamp, String)]
    val ri = MemoryStream[(java.sql.Timestamp, String)]
    val l = li.toDF().toDF("ts", "lv")
    val r = ri.toDF().toDF("ts", "rv")
    val x = graft.piglatin.PigScript.query(spark,
      """lw = WINDOW l RANGE 10 seconds SLIDE RANGE 10 seconds;
        |rw = WINDOW r RANGE 10 seconds SLIDE RANGE 10 seconds;
        |x = CROSS lw, rw;""".stripMargin,
      "x", tables = Map("l" -> l, "r" -> r))
    assert(x.isStreaming)
    val q = Streams.memorySink(
      x.select(col("lw::lv"), col("rw::rv")), "pig_twc",
      OutputMode.Append())
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    li.addData((ts(12), "L1"), (ts(13), "L2"))
    ri.addData((ts(19), "R1"), (ts(21), "R-next"))
    q.processAllAvailable()
    val rows = spark.table("pig_twc").as[(String, String)].collect().toSet
    q.stop()
    // every same-window (L,R) pair, no key: L1/L2 x R1; R-next is [20,30)
    assert(rows == Set(("L1", "R1"), ("L2", "R1")))
  }

  test("windowApply runs an arbitrary relational subplan per window") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String, Long)]
    val df = input.toDF().toDF("ts", "etype", "amount")
    val results = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long)]
    // per-window TOP-1 by amount — a window subplan an aggregation can't
    // express directly (row identity survives, not just a fold)
    val q = Streams.windowApply(df, "ts", "10 seconds", "0 seconds",
      "win_apply") { windowed =>
      graft.core.Pipe(windowed)
        .topPerGroup(1, Seq(col("window")), Seq(col("amount").desc))
        .generate(unix_timestamp(col("window.start")).as("ws"),
                  col("etype"), col("amount")).df
    } { (out, _) =>
      results.synchronized {
        results ++= out.as[(Long, String, Long)].collect()
      }
    }
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    // window [0,10) fills ACROSS two batches — the subplan must see the
    // complete window once, not a conflicting partial top-1 per batch
    input.addData((ts(1), "a", 5L))
    q.processAllAvailable()
    input.addData((ts(2), "b", 9L))
    q.processAllAvailable()
    assert(results.isEmpty) // [0,10) still open: nothing may emit yet
    input.addData((ts(12), "c", 3L)) // watermark 12 closes [0,10)
    q.processAllAvailable()
    assert(results.toList == List((0L, "b", 9L)))
    input.addData((ts(3), "late", 99L)) // after [0,10) closed: dropped
    q.processAllAvailable()
    input.addData((ts(25), "d", 7L)) // watermark 25 closes [10,20)
    q.processAllAvailable()
    q.stop()
    // exactly one result per closed window; the late row never resurfaces
    assert(results.toList == List((0L, "b", 9L), (10L, "c", 3L)))
  }

  test("windowApply survives a query restart: open windows keep their rows, " +
      "closed windows emit exactly once, the watermark does not reset") {
    implicit val sqlCtx = spark.sqlContext
    val spool = java.nio.file.Files.createTempDirectory("graft_wa_restart").toString
    val results = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long)]
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    def start(input: MemoryStream[(java.sql.Timestamp, String, Long)]) =
      Streams.windowApply(input.toDF().toDF("ts", "etype", "amount"),
        "ts", "10 seconds", "0 seconds", "wa_restart", Some(spool)) { w =>
        graft.core.Pipe(w)
          .topPerGroup(1, Seq(col("window")), Seq(col("amount").desc))
          .generate(unix_timestamp(col("window.start")).as("ws"),
                    col("etype"), col("amount")).df
      } { (out, _) =>
        results.synchronized { results ++= out.as[(Long, String, Long)].collect() }
      }
    // phase 1: window [0,10) opens, query killed mid-window
    val in1 = MemoryStream[(java.sql.Timestamp, String, Long)]
    val q1 = start(in1)
    in1.addData((ts(1), "a", 5L)); q1.processAllAvailable(); q1.stop()
    assert(results.isEmpty)
    // phase 2 (fresh query, same spool): the pre-restart row must still
    // be in [0,10) when the watermark closes it — and it emits ONCE
    val in2 = MemoryStream[(java.sql.Timestamp, String, Long)]
    val q2 = start(in2)
    in2.addData((ts(2), "b", 9L)); q2.processAllAvailable()
    in2.addData((ts(12), "c", 3L)); q2.processAllAvailable() // wm 12 closes [0,10)
    q2.stop()
    assert(results.toList == List((0L, "b", 9L)))
    // phase 3: restart AFTER the emit — the persisted watermark must
    // reject a late [0,10) row instead of re-opening + re-emitting it
    val in3 = MemoryStream[(java.sql.Timestamp, String, Long)]
    val q3 = start(in3)
    in3.addData((ts(3), "late", 99L)); q3.processAllAvailable()
    in3.addData((ts(25), "d", 7L)); q3.processAllAvailable() // wm 25 closes [10,20)
    q3.stop()
    assert(results.toList == List((0L, "b", 9L), (10L, "c", 3L)))
  }

  test("windowApply with checkpointLocation: file-source restart resumes " +
      "offsets (no history re-read, no dropped data)") {
    implicit val sqlCtx = spark.sqlContext
    import java.nio.file.{Files, Paths}
    val srcDir = Files.createTempDirectory("graft_wa_ck_src").toString
    val spool = Files.createTempDirectory("graft_wa_ck_spool").toString
    val ckpt = Files.createTempDirectory("graft_wa_ck_ckpt").toString
    val results = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long)]
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    def addFile(n: String, rows: Seq[(java.sql.Timestamp, String, Long)]): Unit = {
      val tmp = Files.createTempDirectory("graft_wa_ck_tmp").toString
      rows.toDF("ts", "etype", "amount").coalesce(1).write
        .mode("overwrite").parquet(tmp)
      val part = Files.list(Paths.get(tmp)).toArray.map(_.toString)
        .find(_.endsWith(".parquet")).get
      Files.copy(Paths.get(part), Paths.get(srcDir, s"$n.parquet"))
    }
    val schema = Seq((ts(0), "x", 0L)).toDF("ts", "etype", "amount").schema
    def start() =
      Streams.windowApply(
        Streams.fileStream(spark, srcDir, schema),
        "ts", "10 seconds", "0 seconds", "wa_ckpt", Some(spool),
        checkpointLocation = Some(ckpt)) { w =>
        graft.core.Pipe(w)
          .topPerGroup(1, Seq(col("window")), Seq(col("amount").desc))
          .generate(unix_timestamp(col("window.start")).as("ws"),
            col("etype"), col("amount")).df
      } { (out, _) =>
        results.synchronized { results ++= out.as[(Long, String, Long)].collect() }
      }
    // run 1: one row in the (still open) window [0,10)
    addFile("f1", Seq((ts(1), "a", 5L)))
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    assert(results.isEmpty)
    // run 2, same checkpoint: f1 must NOT re-deliver (its rows are
    // spooled already); the new rows complete the window and close it
    addFile("f2", Seq((ts(2), "b", 9L), (ts(12), "c", 3L)))
    val q2 = start(); q2.processAllAvailable(); q2.stop()
    // exactly one emission for [0,10), top-1 = b(9) — a re-read of f1
    // would not change top-1 but a dropped f2 would have emitted a(5),
    // and a double-spool would surface in the [10,20) window below
    assert(results.toList == List((0L, "b", 9L)))
    addFile("f3", Seq((ts(25), "d", 7L)))
    val q3 = start(); q3.processAllAvailable(); q3.stop()
    assert(results.toList == List((0L, "b", 9L), (10L, "c", 3L)))
  }

  test("zmq-mode frames filter by subscription and split topic/payload") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val frames = Streams.zmqFrames(input.toDF().toDF("value"), subscribe = "orders")
    val q = Streams.memorySink(frames, "zmq_out", OutputMode.Append())
    input.addData("orders item-1 qty 5", "alerts disk full", "orders item-2 qty 9")
    q.processAllAvailable()
    val rows = spark.table("zmq_out").as[(String, String)].collect().toSet
    q.stop()
    assert(rows == Set(("orders", "item-1 qty 5"), ("orders", "item-2 qty 9")))
  }

  test("socket source in zmq mode reads topic frames from a live TCP server") {
    // a real (local) socket server proves the source end-to-end
    val server = new java.net.ServerSocket(0)
    val port = server.getLocalPort
    val writer = new Thread(() => {
      val s = server.accept()
      val out = new java.io.PrintWriter(s.getOutputStream, true)
      out.println("metrics cpu 0.9")
      out.println("logs boot ok")
      out.println("metrics mem 0.5")
      out.flush()
      Thread.sleep(3000) // keep the connection open past the first batches
      s.close(); server.close()
    })
    writer.setDaemon(true); writer.start()
    val frames = Streams.socketSource(spark, "localhost", port,
      mode = "zmq", subscribe = "metrics")
    val q = Streams.memorySink(frames, "zmq_sock", OutputMode.Append())
    // socket sources deliver asynchronously — poll until rows land
    val deadline = System.currentTimeMillis() + 15000
    import spark.implicits._
    def rows() = spark.table("zmq_sock").as[(String, String)].collect().toSet
    while (rows().size < 2 && System.currentTimeMillis() < deadline) {
      q.processAllAvailable(); Thread.sleep(100)
    }
    val got = rows()
    q.stop()
    assert(got == Set(("metrics", "cpu 0.9"), ("metrics", "mem 0.5")))
  }

  test("file stream sink round-trips micro-batches (streaming STORE)") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_stream").toString
    val input = MemoryStream[(Long, String)]
    val q = Streams.fileSink(input.toDF().toDF("id", "v"),
      s"$dir/out", s"$dir/ckpt")
    input.addData((1L, "a"), (2L, "b"))
    q.processAllAvailable()
    q.stop()
    val back = spark.read.parquet(s"$dir/out")
    assert(back.count() == 2)
  }
}
