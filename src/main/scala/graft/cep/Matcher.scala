package graft.cep

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.mutable.{ArrayBuffer, ListBuffer, Queue}

/** Complex-event processing: MATCH_EVENT SEQ/AND/OR/NEG + WITHIN
  * (reference: src/main/scala/dbis/piglet/op/Matcher.scala, Language.md
  * §CEP): one [[Matcher.Automaton]], driven by a batch secondary-sort
  * scan ([[Matcher.matchSeq]]) and by the stateful stream scans in
  * graft.streaming.Streams.
  *
  * Batch scale shape: `repartition(key)` +
  * `sortWithinPartitions(key, ts, id)` + one streaming `mapPartitions`
  * pass — the classic secondary-sort pattern. No per-group materialization (a key's events never collect
  * into one array), no driver involvement; open partial matches are
  * bounded by the WITHIN window so state stays O(active window), exactly
  * what a 100 TB event log needs.
  */
object Matcher {

  /** One pattern step over the normalized event view. */
  sealed trait Step extends Serializable
  /** Event must match `pred` (SEQ advance). AND/OR compose inside `pred`:
    * `e => p(e) && q(e)` / `e => p(e) || q(e)`. */
  final case class Pos(pred: Event => Boolean) extends Step
  /** NEG guard between two Pos steps: if a matching event occurs while the
    * partial waits for the NEXT Pos step, the partial dies. */
  final case class Neg(pred: Event => Boolean) extends Step

  final case class Event(key: Long, tsMicros: Long, etype: String,
                         id: Long, value: Double)

  final case class MatchResult(key: Long, ids: Seq[Long],
                               startMicros: Long, endMicros: Long)

  def typeIs(t: String): Event => Boolean = _.etype == t

  /** Modes with an engine behind them. The reference grammar
    * (parser/PigParser.scala:886-910) also accepts `recent_match` /
    * `cognitive_match`, but its engine factory throws "The Strategy is
    * not supported" for both (ceplib ops/EngineConf.scala:16; the
    * RecentMatch enum value has no engine class and CognitiveMatches is
    * not even an enum value) — so graft fails fast at the same point
    * rather than silently aliasing to another mode.
    *
    * `contiguity_match` is the reference's FOURTH real engine (ceplib
    * engines/ContiguityMatch.scala, reachable via
    * SelectionStrategy.ContiguityMatches in EngineConf but never given a
    * grammar keyword) — graft exposes it as a mode string, a documented
    * superset of the reference grammar backed by reference semantics. */
  val supportedModes: Set[String] =
    Set("skip_till_next_match", "skip_till_any_match", "first_match",
      "contiguity_match")

  /** The pattern/mode checks every engine runs before scanning. */
  def validate(pattern: Seq[Step], mode: String): Unit = {
    require(pattern.nonEmpty && pattern.head.isInstanceOf[Pos],
      "pattern must start with a Pos step")
    // a trailing NEG would need "absence until the WITHIN horizon expires"
    // semantics (delayed emission); the scan completes on the last Pos and
    // would silently IGNORE the negation — reject the shape instead
    require(pattern.last.isInstanceOf[Pos],
      "pattern must end with a Pos step: a trailing Neg (absence after " +
        "the final match) is not supported — bound it with a closing " +
        "Pos step or post-filter the matches")
    require(supportedModes.contains(mode),
      s"unsupported MATCH_EVENT mode '$mode' — supported: " +
        supportedModes.toSeq.sorted.mkString(", ") +
        " (the reference engine also rejects recent_match/cognitive_match)")
    require(mode != "contiguity_match" || pattern.forall(_.isInstanceOf[Pos]),
      "contiguity_match rejects Neg steps: strict contiguity already " +
        "kills a partial on ANY non-matching event, so a negation " +
        "window can never fire")
  }

  /** The normalized event view every engine scans, batch or streaming.
    *
    * Time column contract: TimestampType converts to epoch micros;
    * NUMERIC columns are read as micros directly (the Pig dialect, whose
    * numeric time unit is seconds, converts before calling — see
    * PigCompiler's MATCH_EVENT). Rows with a null key/time/id/value are
    * dropped (they cannot participate in a keyed time-ordered scan and
    * would crash the primitive encoder).
    */
  def events(df: DataFrame, keyCol: String, tsCol: String, typeCol: String,
             idCol: String, valueCol: String): Dataset[Event] = {
    val spark = df.sparkSession
    import spark.implicits._
    // numeric time columns are ALREADY micros (casting a long through
    // TimestampType would read it as seconds — a 1e6 scale error or an
    // ANSI overflow); only real timestamps convert (same dtype branch as
    // TemporalJoins)
    val tsMicros = df.schema(tsCol).dataType match {
      case TimestampType => unix_micros(col(tsCol))
      case _ => col(tsCol).cast(LongType)
    }
    df.select(
        col(keyCol).cast(LongType).as("key"),
        tsMicros.as("tsMicros"),
        col(typeCol).cast(StringType).as("etype"),
        col(idCol).cast(LongType).as("id"),
        col(valueCol).cast(DoubleType).as("value"))
      .where(col("key").isNotNull && col("tsMicros").isNotNull &&
        col("id").isNotNull && col("value").isNotNull)
      .as[Event]
  }

  /** An open partial match: the matched ids REVERSED, the index of the
    * pattern step it waits on, its start and its last matched micros.
    * The streaming state rows store partials in exactly this shape. */
  type Partial = (List[Long], Int, Long, Long)

  /** The CEP automaton, one per (pattern, WITHIN, mode): [[step]] feeds
    * one event of a key to that key's open partials. Batch [[matchSeq]]
    * folds it over each key's run of the secondary-sorted partition; the
    * streaming scans (graft.streaming.Streams.streamMatchSteps and
    * streamMatchStepsReordered) fold it over each key's micro-batch via
    * [[scan]], carrying the partials in state. Every engine must feed a
    * key's events in (ts, id) order.
    *
    * Semantics: skip-till-next-match — every event satisfying step 0 opens
    * a partial match; each partial independently takes the earliest event
    * at a STRICTLY LATER timestamp satisfying its next Pos step (events
    * sharing a timestamp with the previous match are not eligible — the
    * same `b.ts > a.ts` rule as the SQL self-join oracle); events are
    * shared between partials, so two starts can complete on the same
    * closing event; all matched events lie within `withinMicros` of the
    * start.
    *
    * `first_match` (reference ceplib engines/FirstMatch.scala): at most
    * ONE live partial per key — the first event matching step 0 opens it,
    * step-0 events arriving while it is live are ignored, and on
    * completion it is emitted and the slot frees for the NEXT event
    * (the completing event cannot itself re-open, mirroring the
    * reference's entry-time pool-emptiness check). WITHIN expiry and NEG
    * kills free the slot first, so the killing event may open a new
    * partial.
    *
    * `contiguity_match` (reference ceplib engines/ContiguityMatch.scala):
    * STRICT contiguity — every event visible to a partial (strictly later
    * than its last matched timestamp) must advance it, or the partial
    * dies (the reference deletes the structure whenever checkPredicate
    * returns -1). The deciding event for each partial is therefore its
    * immediate successor in (ts, id) order; events tied with the last
    * matched timestamp are invisible, the same strictness rule as the
    * other modes. New partials still open on every step-0 event
    * (reference runEngine calls createNewStructue unconditionally). NEG
    * steps are rejected in this mode: under strict contiguity a
    * negation-window is unexpressible — ANY intervening event kills the
    * partial already, so a Neg step could never fire.
    *
    * `skip_till_any_match`: a partial BRANCHES on every matching event
    * (the advanced copy is added and the original stays open until its
    * WITHIN horizon), so every combination is emitted.
    */
  final class Automaton(pattern: Seq[Step], withinMicros: Long, mode: String)
      extends Serializable {
    validate(pattern, mode)
    private val steps = pattern.toIndexedSeq
    private val anyMatch = mode == "skip_till_any_match"
    private val firstMatch = mode == "first_match"
    private val contiguity = mode == "contiguity_match"
    // nextPos(i): the first Pos step at or after i (steps.length: none
    // left, i.e. the partial is complete)
    private val nextPos: Array[Int] = {
      val a = new Array[Int](steps.length + 1)
      a(steps.length) = steps.length
      for (i <- steps.indices.reverse)
        a(i) = if (steps(i).isInstanceOf[Pos]) i else a(i + 1)
      a
    }
    private def accepts(i: Int, e: Event): Boolean =
      steps(i).asInstanceOf[Pos].pred(e)

    // NEG guards preceding the partial's next Pos step. Only events
    // STRICTLY AFTER the last matched step can kill — the SQL-oracle form
    // is NOT EXISTS(n.ts > a.ts AND n.ts < b.ts), so a negated event
    // sharing the previous step's timestamp is not "between". (An inverse
    // tie at the COMPLETING step's timestamp is a known corner: the scan
    // cannot see the future.) Under the (ts, id) feed order every negator
    // between two Pos steps is seen before the completing event, so
    // interior NEG needs no delayed emission.
    private def negated(next: Int, last: Long, e: Event): Boolean = {
      var i = next - 1
      var hit = false
      while (!hit && i >= 0 && !steps(i).isInstanceOf[Pos]) {
        hit = e.tsMicros > last && steps(i).asInstanceOf[Neg].pred(e)
        i -= 1
      }
      hit
    }

    /** Feed `e` to its key's `open` partials: emit every completed match
      * and return the partials still open after it. */
    def step(open: List[Partial], e: Event,
             emit: MatchResult => Unit): List[Partial] = {
      // expire partials whose WITHIN window has closed, and NEG kills
      val live = open.filter { case (_, next, start, last) =>
        e.tsMicros - start <= withinMicros && !negated(next, last, e) }
      // first_match entry check: the slot is "free" only if no partial
      // survived expiry/NEG above — an event completing the live partial
      // below must NOT re-open on itself (reference FirstMatch.runEngine
      // tests pool emptiness before processing)
      val slotFree = live.isEmpty
      val kept = ListBuffer.empty[Partial]
      live.foreach { case p @ (ids, next, start, last) =>
        if (e.tsMicros > last && accepts(next, e)) {
          val matched = e.id :: ids
          val after = nextPos(next + 1)
          if (after == steps.length)
            emit(MatchResult(e.key, matched.reverse, start, e.tsMicros))
          else kept += ((matched, after, start, e.tsMicros))
          // any_match forks: the original stays open
          if (anyMatch) kept += p
        } else if (!contiguity || e.tsMicros <= last) {
          // non-advancing partials survive, except under strict
          // contiguity when the event was VISIBLE to them
          kept += p
        }
      }
      // step 0 opens a new partial (overlapping starts allowed;
      // first_match: only into a free slot)
      if ((!firstMatch || slotFree) && accepts(0, e)) {
        val after = nextPos(1)
        if (after == steps.length)
          emit(MatchResult(e.key, List(e.id), e.tsMicros, e.tsMicros))
        else kept.prepend((List(e.id), after, e.tsMicros, e.tsMicros))
      }
      kept.toList
    }

    /** [[step]] over one key's `events`, sorted here by (ts, id), starting
      * from `open`: the matches and the partials left open. */
    def scan(events: Seq[Event],
             open: List[Partial]): (Seq[MatchResult], List[Partial]) = {
      val out = ArrayBuffer.empty[MatchResult]
      val left = events.sortBy(e => (e.tsMicros, e.id))
        .foldLeft(open)((o, e) => step(o, e, out += _))
      (out.toSeq, left)
    }
  }

  /** Match a SEQ pattern per key over an event DataFrame, read through
    * [[events]]: the [[Automaton]] folded over each key's time-ordered run
    * of the secondary-sorted partition, one pass, no per-key collection.
    */
  def matchSeq(events: DataFrame, keyCol: String, tsCol: String,
               typeCol: String, idCol: String, valueCol: String,
               pattern: Seq[Step], withinMicros: Long,
               mode: String = "skip_till_next_match"): DataFrame = {
    val automaton = new Automaton(pattern, withinMicros, mode)
    val spark = events.sparkSession
    import spark.implicits._
    val sorted = Matcher.events(events, keyCol, tsCol, typeCol, idCol, valueCol)
      .repartition(col("key"))
      .sortWithinPartitions(col("key"), col("tsMicros"), col("id"))

    val results = sorted.mapPartitions { it =>
      new Iterator[MatchResult] {
        private var curKey = Long.MinValue
        private var open = List.empty[Partial]
        private val out = Queue.empty[MatchResult]

        def hasNext: Boolean = {
          while (out.isEmpty && it.hasNext) {
            val e = it.next()
            if (e.key != curKey) { curKey = e.key; open = Nil }
            open = automaton.step(open, e, out.enqueue(_))
          }
          out.nonEmpty
        }
        def next(): MatchResult = out.dequeue()
      }
    }
    results.toDF()
  }
}
