package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.cep.Matcher
import graft.streaming.Streams

/** Differential testing for CEP selection strategies: the distributed
  * secondary-sort scan vs an independent in-memory automaton, and the
  * streaming scan vs batch, over seeded random event streams (duplicate
  * timestamps and interleaved keys arise by construction; seeds fixed so
  * failures reproduce).
  */
class CepDifferentialSpec extends SparkSpec {
  import spark.implicits._

  /** Independent model of the 2-step s->p scan: a straight single-pass
    * fold written from the DOCUMENTED semantics, not from the engine
    * code. Returns (start_id, end_id) pairs. */
  private def model(events: Seq[Matcher.Event], within: Long,
                    firstMatch: Boolean): Set[(Long, Long)] = {
    val out = Set.newBuilder[(Long, Long)]
    events.groupBy(_.key).foreach { case (_, evs) =>
      var starts = List.empty[(Long, Long)] // (id, ts), newest first
      evs.sortBy(e => (e.tsMicros, e.id)).foreach { e =>
        starts = starts.filter { case (_, ts) => e.tsMicros - ts <= within }
        var completed = false
        if (e.etype == "p") {
          val (eligible, same) = starts.partition(_._2 < e.tsMicros)
          eligible.foreach { case (sid, _) =>
            out += ((sid, e.id)); completed = true }
          starts = same
        }
        if (e.etype == "s" &&
            (!firstMatch || (starts.isEmpty && !completed)))
          starts ::= (e.id, e.tsMicros)
      }
    }
    out.result()
  }

  private def randomEvents(seed: Int, n: Int): Seq[Matcher.Event] = {
    val rnd = new scala.util.Random(seed)
    val types = Vector("s", "p", "x")
    (1 to n).map { i =>
      Matcher.Event(rnd.nextInt(3).toLong,
        rnd.nextInt(40).toLong * 1000000L,
        types(rnd.nextInt(3)), i.toLong, 0.0)
    }
  }

  private val pattern = Seq(Matcher.Pos(Matcher.typeIs("s")),
    Matcher.Pos(Matcher.typeIs("p")))

  /** Independent model of strict contiguity (documented semantics: every
    * event strictly later than a partial's last match either completes
    * it or kills it; same-timestamp events are invisible; a new partial
    * opens on every step-0 event). */
  private def contiguityModel(events: Seq[Matcher.Event],
                              within: Long): Set[(Long, Long)] = {
    val out = Set.newBuilder[(Long, Long)]
    events.groupBy(_.key).foreach { case (_, evs) =>
      var starts = List.empty[(Long, Long)] // (id, ts)
      evs.sortBy(e => (e.tsMicros, e.id)).foreach { e =>
        starts = starts.filter { case (_, ts) => e.tsMicros - ts <= within }
        val (visible, ties) = starts.partition(_._2 < e.tsMicros)
        if (e.etype == "p")
          visible.foreach { case (sid, _) => out += ((sid, e.id)) }
        // visible non-completing partials die either way
        starts = ties
        if (e.etype == "s") starts ::= (e.id, e.tsMicros)
      }
    }
    out.result()
  }

  /** Independent model of skip_till_any_match for the 2-step shape:
    * every s matches EVERY p strictly later within the horizon (the
    * fork semantics — completed starts stay live until WITHIN expiry). */
  private def anyModel(events: Seq[Matcher.Event],
                       within: Long): Set[(Long, Long)] = {
    (for {
      (_, evs) <- events.groupBy(_.key).toSeq
      s <- evs if s.etype == "s"
      p <- evs if p.etype == "p" &&
        p.tsMicros > s.tsMicros && p.tsMicros - s.tsMicros <= within
    } yield (s.id, p.id)).toSet
  }

  test("batch matchSeq contiguity_match equals the in-memory model on " +
      "random streams") {
    for (seed <- 1 to 8) {
      val evs = randomEvents(seed, 120)
      val within = 8L * 1000000L
      val got = Matcher.matchSeq(
          evs.toDF("key", "tsMicros", "etype", "id", "value")
            .withColumn("tsMicros", timestamp_micros(col("tsMicros"))),
          "key", "tsMicros", "etype", "id", "value", pattern, within,
          mode = "contiguity_match")
        .select(element_at(col("ids"), 1), element_at(col("ids"), 2))
        .as[(Long, Long)].collect().toSet
      assert(got == contiguityModel(evs, within), s"seed=$seed")
    }
  }

  // skip_till_any_match rides along: batch and streaming share one
  // automaton, so the models are the independent truth for every mode
  test("batch matchSeq (next_match and first_match) equals the in-memory " +
      "model on random streams") {
    for (seed <- 1 to 8;
         mode <- Seq("skip_till_next_match", "first_match",
           "skip_till_any_match")) {
      val evs = randomEvents(seed, 120)
      val within = 8L * 1000000L
      val got = Matcher.matchSeq(
          evs.toDF("key", "tsMicros", "etype", "id", "value")
            .withColumn("tsMicros", timestamp_micros(col("tsMicros"))),
          "key", "tsMicros", "etype", "id", "value", pattern, within,
          mode = mode)
        .select(element_at(col("ids"), 1), element_at(col("ids"), 2))
        .as[(Long, Long)].collect().toSet
      val want =
        if (mode == "skip_till_any_match") anyModel(evs, within)
        else model(evs, within, mode == "first_match")
      assert(got == want, s"seed=$seed mode=$mode")
    }
  }

  test("n-step streaming pattern equals the BATCH ENGINE across random " +
      "batch boundaries, all four modes (3-step s→x→p)") {
    val pattern3 = Seq(Matcher.Pos(Matcher.typeIs("s")),
      Matcher.Pos(Matcher.typeIs("x")), Matcher.Pos(Matcher.typeIs("p")))
    for (seed <- 3 to 5;
         mode <- Seq("skip_till_next_match", "first_match",
           "contiguity_match", "skip_till_any_match")) {
      val evs = randomEvents(seed, 60)
      val within = 12L * 1000000L
      val want = Matcher.matchSeq(
          evs.toDF("key", "tsMicros", "etype", "id", "value")
            .withColumn("tsMicros", timestamp_micros(col("tsMicros"))),
          "key", "tsMicros", "etype", "id", "value", pattern3, within,
          mode = mode)
        .select(col("key"), col("ids"))
        .as[(Long, Seq[Long])].collect().toSet
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[Matcher.Event]
      val tbl = s"cep_pat_${seed}_$mode"
      val q = Streams.memorySink(
        Streams.streamMatchSteps(input.toDS(), pattern3, within,
          mode = mode).toDF(), tbl, OutputMode.Append())
      val rnd = new scala.util.Random(seed + 77)
      var rest = evs.sortBy(e => (e.tsMicros, e.id))
      while (rest.nonEmpty) {
        val k = 1 + rnd.nextInt(10)
        input.addData(rest.take(k): _*)
        rest = rest.drop(k)
      }
      q.processAllAvailable()
      val got = spark.table(tbl).as[Matcher.MatchResult].collect()
        .map(m => (m.key, m.ids)).toSet
      q.stop()
      assert(got == want, s"seed=$seed mode=$mode")
    }
  }

  test("streaming NEG pattern equals the BATCH ENGINE across random " +
      "batch boundaries (s → ¬x → p)") {
    val patternNeg = Seq(Matcher.Pos(Matcher.typeIs("s")),
      Matcher.Neg(Matcher.typeIs("x")), Matcher.Pos(Matcher.typeIs("p")))
    for (seed <- 3 to 8) {
      val evs = randomEvents(seed, 80)
      val within = 10L * 1000000L
      val want = Matcher.matchSeq(
          evs.toDF("key", "tsMicros", "etype", "id", "value")
            .withColumn("tsMicros", timestamp_micros(col("tsMicros"))),
          "key", "tsMicros", "etype", "id", "value", patternNeg, within)
        .select(col("key"), col("ids"))
        .as[(Long, Seq[Long])].collect().toSet
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[Matcher.Event]
      val tbl = s"cep_neg_$seed"
      val q = Streams.memorySink(
        Streams.streamMatchSteps(input.toDS(), patternNeg, within).toDF(),
        tbl, OutputMode.Append())
      val rnd = new scala.util.Random(seed + 31)
      var rest = evs.sortBy(e => (e.tsMicros, e.id))
      while (rest.nonEmpty) {
        val k = 1 + rnd.nextInt(10)
        input.addData(rest.take(k): _*)
        rest = rest.drop(k)
      }
      q.processAllAvailable()
      val got = spark.table(tbl).as[Matcher.MatchResult].collect()
        .map(m => (m.key, m.ids)).toSet
      q.stop()
      assert(got == want, s"seed=$seed")
    }
  }

  /** Feed `evs` OUT OF ORDER (shuffled within consecutive blocks of
    * `blockSize` sorted events — disorder bounded by a block's time
    * span) through the reorder-buffered scan, with a far-future
    * sentinel to flush, and return the emitted (key, ids) set. */
  private def runReordered(evs: Seq[Matcher.Event],
                           pattern: Seq[Matcher.Step], within: Long,
                           delay: String, mode: String, seed: Int,
                           blockSize: Int): Set[(Long, Seq[Long])] = {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Matcher.Event]
    val tbl = s"cep_reord_${seed}_${mode}_${pattern.length}_$blockSize"
    val q = Streams.memorySink(
      Streams.streamMatchStepsReordered(input.toDS(), pattern, within,
        delay, mode).toDF(), tbl, OutputMode.Append())
    val rnd = new scala.util.Random(seed + 55)
    val sorted = evs.sortBy(e => (e.tsMicros, e.id))
    val disordered = sorted.grouped(blockSize).flatMap(rnd.shuffle(_)).toSeq
    var rest = disordered
    while (rest.nonEmpty) {
      val k = 1 + rnd.nextInt(7)
      input.addData(rest.take(k): _*)
      rest = rest.drop(k)
      q.processAllAvailable()
    }
    // far-future sentinel (non-matching type, unused key) pushes the
    // watermark past every real event so all buffered events release
    input.addData(Matcher.Event(99L, 1000L * 1000000L, "z", 999999L, 0.0))
    q.processAllAvailable()
    val got = spark.table(tbl).as[Matcher.MatchResult].collect()
      .map(m => (m.key, m.ids)).toSet
    q.stop()
    got
  }

  test("reorder-buffered scan equals the BATCH ENGINE on OUT-OF-ORDER " +
      "micro-batches, all four modes + NEG") {
    val pattern3 = Seq(Matcher.Pos(Matcher.typeIs("s")),
      Matcher.Pos(Matcher.typeIs("x")), Matcher.Pos(Matcher.typeIs("p")))
    val patternNeg = Seq(Matcher.Pos(Matcher.typeIs("s")),
      Matcher.Neg(Matcher.typeIs("x")), Matcher.Pos(Matcher.typeIs("p")))
    val cases = Seq(
      ("skip_till_next_match", pattern3), ("first_match", pattern3),
      ("contiguity_match", pattern3), ("skip_till_any_match", pattern3),
      ("skip_till_next_match", patternNeg))
    for (seed <- 4 to 5; (mode, pat) <- cases) {
      val evs = randomEvents(seed, 60)
        .map(e => e.copy(tsMicros = e.tsMicros + 1000000L)) // keep ts > 0:
      // the initial watermark is 0 and a ts-0 event straddling a batch
      // boundary would be dropped as late before the stream even starts
      val within = 12L * 1000000L
      val want = Matcher.matchSeq(
          evs.toDF("key", "tsMicros", "etype", "id", "value")
            .withColumn("tsMicros", timestamp_micros(col("tsMicros"))),
          "key", "tsMicros", "etype", "id", "value", pat, within,
          mode = mode)
        .select(col("key"), col("ids"))
        .as[(Long, Seq[Long])].collect().toSet
      // blockwise disorder < the 20s delay: incremental release + timers
      val gotBlock = runReordered(evs, pat, within, "20 seconds", mode,
        seed, blockSize = 8)
      assert(gotBlock == want, s"blockwise seed=$seed mode=$mode " +
        s"neg=${pat.exists(_.isInstanceOf[Matcher.Neg])}")
      // full shuffle under a delay wider than the whole range: pure
      // buffering, everything releases at the sentinel
      val gotFull = runReordered(evs, pat, within, "60 seconds", mode,
        seed + 100, blockSize = evs.length)
      assert(gotFull == want, s"full-shuffle seed=$seed mode=$mode")
    }
  }

  test("streaming scan equals batch across random batch boundaries") {
    for (seed <- 3 to 5;
         mode <- Seq("skip_till_next_match", "first_match",
           "contiguity_match", "skip_till_any_match")) {
      val evs = randomEvents(seed, 60)
      val within = 8L * 1000000L
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[Matcher.Event]
      val tbl = s"cep_diff_${seed}_$mode"
      val q = Streams.memorySink(
        Streams.streamMatchSteps(input.toDS(), pattern, within, mode = mode)
          .toDF(), tbl, OutputMode.Append())
      // feed in event-time order (streaming state evolves forward), cut
      // into random micro-batches
      val rnd = new scala.util.Random(seed)
      var rest = evs.sortBy(e => (e.tsMicros, e.id))
      while (rest.nonEmpty) {
        val k = 1 + rnd.nextInt(10)
        input.addData(rest.take(k): _*)
        rest = rest.drop(k)
      }
      q.processAllAvailable()
      val got = spark.table(tbl).as[Matcher.MatchResult].collect()
        .map(m => (m.ids(0), m.ids(1))).toSet
      q.stop()
      val want = mode match {
        case "contiguity_match" => contiguityModel(evs, within)
        case "skip_till_any_match" => anyModel(evs, within)
        case m => model(evs, within, m == "first_match")
      }
      assert(got == want, s"seed=$seed mode=$mode")
    }
  }
}
