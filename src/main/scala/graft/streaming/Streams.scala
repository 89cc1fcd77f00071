package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import graft.cep.Matcher

/** Structured-Streaming equivalents of the reference's stream operators
  * (reference: op/Window.scala, op/SocketRead.scala, op/SocketWrite.scala,
  * sparklib SparkStream / FileStreamReader).
  *
  * piglet compiles stream scripts to DStream code; graft declares the same
  * dataflow on Structured Streaming so the engine gets incremental
  * planning, watermark-based state eviction and exactly-once sinks —
  * the properties a long-running 1000-executor pipeline needs.
  */
object Streams {

  // ---- sources (reference: op/SocketRead.scala, FileStreamReader) ---------
  /** SOCKET_READ 'host:port' [USING mode] — text socket source.
    *
    * mode "" (default): raw lines, one row per line (`value`).
    * mode "zmq": the reference's zmq PUB/SUB shape (reference:
    * op/SocketRead.scala `mode` param): messages are "topic payload"
    * frames; rows are filtered to the `subscribe` topic prefix and split
    * into (topic, value). The subscription/framing semantics are real;
    * the transport is line-delimited TCP because no ZMQ native library
    * ships in this build — a ZMTP transport drops in by swapping the
    * source format, the downstream dataflow is unchanged. */
  def socketSource(spark: SparkSession, host: String, port: Int,
                   mode: String = "", subscribe: String = ""): DataFrame = {
    val raw = spark.readStream.format("socket")
      .option("host", host).option("port", port).load()
    mode match {
      case "" => raw
      case "zmq" => zmqFrames(raw, subscribe)
      case other => throw new IllegalArgumentException(
        s"unknown socket mode '$other' (expected '' or 'zmq')")
    }
  }

  /** The zmq-mode frame split on an already-open stream (exposed so specs
    * can drive it from a MemoryStream without a live socket). */
  def zmqFrames(lines: DataFrame, subscribe: String = ""): DataFrame =
    lines.where(col("value").startsWith(subscribe))
      .select(
        substring_index(col("value"), " ", 1).as("topic"),
        // payload = everything after the first space (may itself contain
        // spaces); a topic-only frame has NO space — its payload is empty,
        // not a copy of the topic
        when(expr("instr(value, ' ')") === 0, lit(""))
          .otherwise(expr("substring(value, instr(value, ' ') + 1)"))
          .as("value"))

  /** Rate source — the deterministic load-generator analog of piglet's
    * simulated streams. */
  def rateSource(spark: SparkSession, rowsPerSecond: Int): DataFrame =
    spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSecond).load()

  /** STREAM file load: new files under `dir` become micro-batches. */
  def fileStream(spark: SparkSession, dir: String, schema: StructType,
                 format: String = "parquet"): DataFrame =
    spark.readStream.schema(schema).format(format).load(dir)

  // ---- windows (reference: op/Window.scala) --------------------------------
  /** Tumbling/sliding event-time window aggregation with a watermark so
    * window state is evicted once event time passes (bounded state). */
  def windowedAgg(events: DataFrame, tsCol: String, windowDur: String,
                  slideDur: Option[String], watermarkDelay: String,
                  groupCols: Seq[String], aggs: Seq[org.apache.spark.sql.Column]): DataFrame = {
    val withWm = events.withWatermark(tsCol, watermarkDelay)
    val w = slideDur.fold(window(col(tsCol), windowDur))(s =>
      window(col(tsCol), windowDur, s))
    withWm.groupBy((w +: groupCols.map(col)): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Streaming deduplication on `keyCols`. With `watermarkInfo = Some(
    * (tsCol, delay))`, uses `dropDuplicatesWithinWatermark` — state for a
    * key is EVICTED once the watermark passes it, so state stays bounded
    * (the production setting for unbounded streams; duplicates farther
    * apart than the delay can re-emit, the documented trade). With None,
    * exact `dropDuplicates` — unbounded state, only for keyspaces known
    * to fit (or bounded replays). */
  def streamDedup(stream: DataFrame, keyCols: Seq[String],
                  watermarkInfo: Option[(String, String)] = None): DataFrame =
    watermarkInfo match {
      case Some((tsCol, delay)) =>
        stream.withWatermark(tsCol, delay)
          .dropDuplicatesWithinWatermark(keyCols)
      case None => stream.dropDuplicates(keyCols)
    }

  /** One near-dup hit: `docId` is within `hamming` (≤ maxDist) bits of
    * the earlier representative `dupOf` of one of its chunk buckets. */
  case class SimDupHit(docId: Long, dupOf: Long, hamming: Int)
  /** Per-bucket state: the FIRST document that landed in the bucket. */
  case class SimRep(repId: Long, repSig: Long)

  /** Streaming NEAR-duplicate dedup — the ingest-time complement of the
    * batch SimHash pair join ([[graft.dedup.Dedup.simhashPairs]]): flag
    * each arriving document against everything seen so far, without
    * rescanning history. This is the shape a continuously-fed training
    * corpus needs (a new crawl shard streams in; near-copies of ANY
    * prior document are flagged on arrival).
    *
    * Mechanics: documents are simhashed (the native expression — same
    * bits as the batch path), pigeonhole-split into maxDist+1 chunks,
    * and keyed by (chunk, chunkValue). Each bucket's state holds ONE
    * representative: the first document to land there. A later document
    * within `maxDist` Hamming bits of its bucket's representative emits
    * a [[SimDupHit]]. Any pair within maxDist agrees on ≥1 chunk
    * (pigeonhole), so a doc within maxDist of a representative is always
    * flagged — recall vs the representative set is exact, and state is
    * ONE (id, sig) pair per occupied bucket regardless of stream length.
    *
    * Semantics note (deliberate, documented): verdicts are vs bucket
    * REPRESENTATIVES, not all prior docs — a doc can be a dup of a doc
    * that was itself flagged (transitive chains collapse to the chain's
    * first member only if they share buckets). On a bounded in-order
    * replay this equals the batch model "flag doc d iff ∃ chunk whose
    * min-id occupant r < d has hamming(r, d) ≤ maxDist" — which is what
    * the DuckDB oracle replays (q_stream_dedup_simhash). Per-doc
    * verdicts need a downstream `groupBy(docId)` — run it on the sink
    * output (a second stateful op in the same stream is unsupported).
    *
    * `stateTtlMs` > 0 evicts buckets idle longer than the TTL (the
    * dedup window of a production stream — same contract as the CEP
    * scans); 0 keeps buckets forever (bounded replays). */
  def streamSimhashDedup(docs: DataFrame, idCol: String, textCol: String,
                         maxDist: Int = 3,
                         stateTtlMs: Long = 0L): Dataset[SimDupHit] = {
    require(maxDist >= 1 && maxDist <= 7, s"maxDist in [1,7], got $maxDist")
    val spark = docs.sparkSession
    import spark.implicits._
    val chunks = maxDist + 1
    val width = 64 / chunks
    // same empty-doc filter as the batch simhash path (blank docs all
    // hash to 0 — one bucket of pairwise "dups")
    val sig = docs
      .where(length(trim(col(textCol))) > 0)
      .select(col(idCol).cast(org.apache.spark.sql.types.LongType).as("id"),
        graft.functions.ShingleExpressions.simhash(col(textCol)).as("sig"))
      .select(col("id"), col("sig"),
        posexplode(array((0 until chunks).map(c =>
          shiftrightunsigned(col("sig"), c * width)
            .bitwiseAND(lit((1L << width) - 1))): _*)).as(Seq("chunk", "cv")))
      .as[(Long, Long, Int, Long)]
    val timeoutConf =
      if (stateTtlMs > 0) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    sig.groupByKey { case (_, _, chunk, cv) => (chunk, cv) }
      .flatMapGroupsWithState[SimRep, SimDupHit](
        OutputMode.Append(), timeoutConf) {
        case (_, it, state: GroupState[SimRep]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            // micro-batch arrival order is not guaranteed — sort by id,
            // the same tiebreak the batch model's min-id rep uses
            val batch = it.toSeq.sortBy(_._1)
            var rep = state.getOption
            val out = scala.collection.mutable.ArrayBuffer.empty[SimDupHit]
            batch.foreach { case (id, s, _, _) =>
              rep match {
                case None => rep = Some(SimRep(id, s))
                case Some(r) if id != r.repId =>
                  val ham = java.lang.Long.bitCount(s ^ r.repSig)
                  if (ham <= maxDist) out += SimDupHit(id, r.repId, ham)
                case _ => ()
              }
            }
            rep.foreach { r =>
              state.update(r)
              if (stateTtlMs > 0) state.setTimeoutDuration(stateTtlMs)
            }
            out.iterator
          }
      }
  }

  // ---- streaming heavy hitters (companion to core.HeavyHitters) ------------
  /** One Misra–Gries counter emission: group `g`'s counter for `value`
    * as of state version `ver` (monotone per group — readers keep each
    * group's max-`ver` rows; see [[heavyHittersTopK]]). */
  case class MgHit(g: Int, ver: Long, value: String,
                   est_min: Long, est_max: Long)
  /** Per-salt-group sketch state: ≤ capacity counters + the group's
    * decrement-round total (its uniform undercount bound). */
  case class MgState(counters: Map[String, Long], dec: Long, ver: Long)

  /** Streaming EXACT heavy hitters: unbounded streaming count
    * aggregation with the same deterministic (cnt desc, value asc)
    * top-k as [[graft.core.HeavyHitters.exact]]. Run in Complete mode
    * (sorting on a stream is only legal there); every trigger re-emits
    * the current top-k, so the sink always holds the answer so far.
    * State is one counter per distinct value — the audit regime. The
    * batch operator's oracle carries over verbatim on a bounded replay. */
  def streamHeavyHittersExact(stream: DataFrame, valueCol: Column,
                              k: Int): DataFrame = {
    require(k > 0, s"streamHeavyHittersExact: k must be positive (got $k)")
    stream.select(valueCol.cast("string").as("value"))
      .where(col("value").isNotNull)
      .groupBy("value").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("value").asc)
      .limit(k)
  }

  /** Streaming SKETCHED heavy hitters — the 100 TB regime: state is
    * bounded by `capacity × numGroups` counters NO MATTER how many
    * distinct values the stream carries (URL streams: billions).
    *
    * Values are salted into `numGroups` disjoint groups by xxhash64;
    * each group runs an independent Misra–Gries sketch over ITS value
    * subset inside `flatMapGroupsWithState`, merging every micro-batch
    * into the carried counters — the streaming analog of the batch
    * per-partition + merge shape ([[graft.core.HeavyHitters.sketch]]).
    * Per group the classic guarantee holds against the group's stream
    * prefix: `est_min ≤ n_v ≤ est_max = est_min + dec_g` and
    * `dec_g ≤ n_g / (capacity + 1)`, so any value with frequency above
    * that surfaces. Because groups partition the value space, the union
    * of group summaries is a global summary with the same bounds.
    *
    * Each trigger emits the updated groups' full summaries stamped with
    * a per-group version; [[heavyHittersTopK]] reduces a (possibly
    * multi-batch) emission log to the final top-k. `stateTtlMs` > 0
    * evicts idle groups (windowed audits); 0 keeps them (bounded
    * replays). */
  def streamHeavyHittersSketch(stream: DataFrame, valueCol: Column,
                               capacity: Int = 4096, numGroups: Int = 32,
                               stateTtlMs: Long = 0L): Dataset[MgHit] = {
    require(capacity > 0 && numGroups > 0,
      s"streamHeavyHittersSketch: capacity/numGroups must be positive")
    val spark = stream.sparkSession
    import spark.implicits._
    val salted = stream.select(valueCol.cast("string").as("value"))
      .where(col("value").isNotNull)
      .select(pmod(xxhash64(col("value")), lit(numGroups)).cast("int")
        .as("g"), col("value"))
      .as[(Int, String)]
    val timeoutConf =
      if (stateTtlMs > 0) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    salted.groupByKey(_._1)
      .flatMapGroupsWithState[MgState, MgHit](
        OutputMode.Update(), timeoutConf) {
        case (g, it, state: GroupState[MgState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val prev = state.getOption.getOrElse(MgState(Map.empty, 0L, 0L))
            val counters =
              scala.collection.mutable.HashMap.from(prev.counters)
            var dec = prev.dec
            it.foreach { case (_, v) =>
              counters.get(v) match {
                case Some(c) => counters.update(v, c + 1)
                case None if counters.size < capacity =>
                  counters.update(v, 1L)
                case None => // MG decrement-all round
                  dec += 1
                  val dead = scala.collection.mutable.ArrayBuffer
                    .empty[String]
                  counters.foreach { case (kk, c) =>
                    if (c == 1L) dead += kk else counters.update(kk, c - 1)
                  }
                  dead.foreach(counters.remove)
              }
            }
            val ver = prev.ver + 1
            state.update(MgState(counters.toMap, dec, ver))
            if (stateTtlMs > 0) state.setTimeoutDuration(stateTtlMs)
            counters.iterator.map { case (v, c) =>
              MgHit(g, ver, v, c, c + dec)
            }.toSeq.iterator
          }
      }
  }

  /** Reduce a [[streamHeavyHittersSketch]] emission log (static read of
    * the sink) to the final global top-k: keep each group's latest
    * version, order by est_min desc with the value tie-break. */
  def heavyHittersTopK(hits: DataFrame, k: Int): DataFrame = {
    // max-ver filter via a window, not a self-join (joining a memory-sink
    // view with its own aggregate trips Catalyst's conflicting-attribute
    // check); the input is ≤ capacity × numGroups summary rows
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("g"))
    hits.withColumn("__mx", max(col("ver")).over(w))
      .where(col("ver") === col("__mx"))
      .select(col("value"), col("est_min"), col("est_max"))
      .orderBy(col("est_min").desc, col("value").asc)
      .limit(k)
  }

  /** Event-time SESSION window aggregation on a stream (gap-based merge,
    * watermarked so closed sessions evict their state). Append mode
    * emits a session only once the watermark passes its end. */
  def sessionAgg(events: DataFrame, tsCol: String, gap: String,
                 watermarkDelay: String, groupCols: Seq[String],
                 aggs: Seq[org.apache.spark.sql.Column]): DataFrame = {
    val withWm = events.withWatermark(tsCol, watermarkDelay)
    withWm.groupBy(
      (session_window(col(tsCol), gap).as("session") +:
        groupCols.map(col)): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** WINDOW ... APPLY fn (reference: op/WindowApply.scala — run an
    * ARBITRARY relational subplan per window, not just an aggregation).
    *
    * True event-time window semantics ACROSS micro-batches: rows are
    * staged (with their window assigned) in a bounded parquet spool until
    * the watermark — max event time seen minus `watermarkDelay` — passes
    * the window end; only then does the window's COMPLETE relation flow
    * through `f` (which may group/join/sort/top-k BY the `window` struct
    * column — the full relational surface) and reach `sink`, exactly
    * once. Rows arriving after their window closed are dropped as late,
    * so a window can never emit twice with conflicting contents (the
    * failure of the naive run-`f`-per-batch formulation). The spool holds
    * only OPEN windows — state is bounded by the watermark horizon, the
    * same bound Spark's own stateful aggregation keeps; the subplan runs
    * distributed, no per-window driver loop.
    *
    * The watermark, spool generation and LAST APPLIED BATCH ID are
    * CHECKPOINTED next to the spool (`$spool/state`, written atomically
    * after each batch's sink completes) and reloaded on start: a
    * restarted query resumes with the prior watermark, so an
    * already-emitted window cannot re-emit when a late row arrives
    * post-restart, and still-open windows keep their spooled rows.
    *
    * HARD-CRASH protection requires `checkpointLocation` (Spark then
    * tracks source offsets, batch ids stay monotonic across restarts,
    * and no source history is re-read): a batch re-delivered with an
    * already-applied id — crash between our state write and Spark's
    * offset commit — is SKIPPED, since re-spooling it would double
    * open-window contents; a crash BEFORE the state write replays the
    * batch against the prior (gen, wm) — idempotent for the spool
    * (ping-pong overwrite), with the sink re-emitting that batch's
    * closed windows (the unavoidable at-least-once window for a
    * non-transactional sink). Without a checkpoint, batch ids restart
    * at 0 on every run, so the id guard is off and only GRACEFUL
    * stop/restart (a source that re-delivers nothing already spooled)
    * is exactly-once.
    * `sink` must consume its DataFrame eagerly, as with any foreachBatch
    * sink. */
  def windowApply(stream: DataFrame, tsCol: String, windowDur: String,
                  watermarkDelay: String, name: String,
                  spoolDir: Option[String] = None,
                  trigger: Trigger = Trigger.ProcessingTime(0L),
                  checkpointLocation: Option[String] = None)
                 (f: DataFrame => DataFrame)
                 (sink: (DataFrame, Long) => Unit): StreamingQuery = {
    val spark0 = stream.sparkSession
    val spool = spoolDir.getOrElse(java.nio.file.Files
      .createTempDirectory(s"graft_winapply_$name").toString)
    // stream state (monotonic watermark + ping-pong generation), restored
    // from the spool checkpoint when one exists
    val stateFile = java.nio.file.Paths.get(spool, "state")
    var wm: java.sql.Timestamp = null
    var gen = 0
    var lastBatchId = -1L
    if (java.nio.file.Files.exists(stateFile)) {
      // "gen,wm" (older spools) or "gen,wm,lastBatchId"
      val parts = java.nio.file.Files.readString(stateFile).trim.split(",", 3)
      gen = parts(0).toInt
      wm = if (parts(1) == "-") null
           else java.sql.Timestamp.from(java.time.Instant.parse(parts(1)))
      if (parts.length > 2) lastBatchId = parts(2).toLong
    }
    def persistState(): Unit = {
      val tmp = java.nio.file.Paths.get(spool, "state.tmp")
      java.nio.file.Files.writeString(tmp,
        s"$gen,${if (wm == null) "-" else wm.toInstant.toString},$lastBatchId")
      java.nio.file.Files.move(tmp, stateFile,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    // The batch-id replay guard is only sound when Spark checkpoints the
    // source offsets: there batch ids are monotonic ACROSS restarts and a
    // re-delivered id means "already fully applied". Without a checkpoint
    // every fresh run restarts ids at 0 (and replayable sources re-read
    // history wholesale) — the guard would drop new data, so it is off
    // and crash-redelivery protection comes from the checkpoint contract.
    val guardReplays = checkpointLocation.isDefined
    foreachBatchSink(stream, name, trigger, checkpointLocation) { (batch, id) =>
      // REPLAY GUARD: foreachBatch re-delivers a batch id when the process
      // dies between our persistState() and Spark's own offset commit. The
      // state file says this batch was fully applied (spooled + emitted) —
      // re-spooling it would duplicate every row still in an open window.
      // Skip it entirely; crashes BEFORE persistState() replay against the
      // prior (gen, wm) and are idempotent by the ping-pong overwrite
      // (sink re-emission there is the documented at-least-once window).
      if (!guardReplays || id > lastBatchId) {
        val prevDir = s"$spool/g${gen % 2}"
        val nextDir = s"$spool/g${(gen + 1) % 2}"
        val bw = batch.withColumn("window", window(col(tsCol), windowDur))
        // drop late rows: their window already closed and emitted
        val fresh = if (wm == null) bw else bw.where(col("window.end") > lit(wm))
        val openPrev =
          if (gen == 0) None
          else Some(spark0.read.parquet(prevDir))
        val all = openPrev.fold(fresh)(fresh.unionByName(_))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          // advance the watermark (monotonic, as Spark's own is). The agg
          // runs over `all`, NOT `batch`, so this first action populates
          // the cache and the source is scanned ONCE per trigger — and
          // the value is identical: a late row (window already closed)
          // has ts < wm, and prior-gen spool rows fed an earlier max, so
          // neither can raise max - delay above max(wm, batchMax - delay)
          val mxRow = all
            .agg(expr(s"max($tsCol) - INTERVAL $watermarkDelay").as("w")).head()
          if (!mxRow.isNullAt(0)) {
            val mx = mxRow.getTimestamp(0)
            if (wm == null || mx.after(wm)) wm = mx
          }
          val (closed, open) =
            if (wm == null) (None, all)
            else (Some(all.where(col("window.end") <= lit(wm))),
                  all.where(col("window.end") > lit(wm)))
          open.write.mode("overwrite").parquet(nextDir)
          gen += 1
          closed.foreach { c => if (!c.isEmpty) sink(f(c), id) }
          lastBatchId = id
          // checkpoint AFTER the sink: a failure before this line leaves the
          // previous (gen, wm, lastBatchId) on disk, so recovery re-reads the
          // old spool generation and re-emits rather than losing a closed
          // window
          persistState()
        } finally all.unpersist() // incl. on sink/write failure: a driver
        // that catches and restarts must not accumulate orphaned caches
      }
    }
  }

  // ---- sinks (reference: op/SocketWrite.scala, op/Store on streams) --------
  /** SOCKET_WRITE analog: each micro-batch is pushed through a writer
    * callback (foreachBatch — the exactly-once escape hatch Spark offers
    * for arbitrary sinks like sockets/ZMQ). */
  def foreachBatchSink(df: DataFrame, name: String,
                       trigger: Trigger = Trigger.ProcessingTime(0L),
                       checkpointLocation: Option[String] = None)
                      (write: (DataFrame, Long) => Unit): StreamingQuery = {
    val w = df.writeStream.queryName(name)
      .outputMode(OutputMode.Update())
      .trigger(trigger)
      .foreachBatch(write)
    checkpointLocation.fold(w)(w.option("checkpointLocation", _)).start()
  }

  /** In-memory sink for tests/interactive inspection. */
  def memorySink(df: DataFrame, name: String,
                 mode: OutputMode = OutputMode.Complete()): StreamingQuery =
    df.writeStream.queryName(name).outputMode(mode).format("memory").start()

  /** File sink (append-only, checkpointed — the streaming STORE). */
  def fileSink(df: DataFrame, path: String, checkpoint: String,
               format: String = "parquet"): StreamingQuery =
    df.writeStream.format(format)
      .option("path", path).option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append()).start()

  // ---- stream-stream join (reference: windowJoin.pig on DStreams) ----------
  /** Windowed stream-stream equi-join: both sides watermarked, join
    * condition bounds event-time distance so Spark can evict join state —
    * the Structured-Streaming analog of piglet's per-window join. */
  def windowedStreamJoin(left: DataFrame, right: DataFrame,
                         leftTs: String, rightTs: String,
                         leftKey: String, rightKey: String,
                         watermarkDelay: String,
                         maxGap: String): DataFrame = {
    val l = left.withWatermark(leftTs, watermarkDelay)
    val r = right.withWatermark(rightTs, watermarkDelay)
    l.join(r,
      l(leftKey) === r(rightKey) &&
        r(rightTs) >= l(leftTs) - org.apache.spark.sql.functions.expr(s"INTERVAL $maxGap") &&
        r(rightTs) <= l(leftTs) + org.apache.spark.sql.functions.expr(s"INTERVAL $maxGap"))
  }

  /** Tumbling-window stream-stream equi-join — the reference's streaming
    * JOIN semantics exactly (ref: codegen/flink/emitter/StreamJoinEmitter
    * .scala:11 — `.window(TumblingTimeWindows.of(...))`, it/windowJoin.pig):
    * rows pair iff their keys match AND they fall in the SAME tumbling
    * window. Both sides are watermarked on their event-time column; the
    * join condition carries both the window equality (the semantics) and
    * an explicit event-time range bound (the handle Spark's state-eviction
    * analysis uses), so per-side join state is bounded by
    * delay + windowDur — at 1000 executors the state store holds one
    * window generation per key, not the stream's history.
    *
    * Inputs must already be column-disambiguated (no shared names besides
    * nothing — callers rename before joining, as with any self-join). */
  def tumblingWindowJoin(left: DataFrame, right: DataFrame,
                         leftTs: String, rightTs: String,
                         keys: Seq[(String, String)],
                         windowDur: String,
                         watermarkDelay: String): DataFrame = {
    // exactly ONE event-time column per side: the watermark goes on a
    // scalar window-start projection (tagging the raw ts AND a derived
    // window column trips Spark's one-event-time-column rule); equating
    // the two watermarked columns gives the join its state-key watermark
    val l = left
      .withColumn("window", window(col(leftTs), windowDur))
      .withColumn("__lws", col("window.start"))
      .withWatermark("__lws", watermarkDelay)
    val r = right
      .withColumn("__rws", window(col(rightTs), windowDur)
        .getField("start"))
      .withWatermark("__rws", watermarkDelay)
    val keyCond = keys.map { case (lk, rk) => l(lk) === r(rk) }
    val cond = (keyCond :+ (l("__lws") === r("__rws"))).reduce(_ && _)
    l.join(r, cond).drop("__lws", "__rws")
  }

  // ---- streaming CEP (reference: op/Matcher.scala on DStreams) -------------
  /** [[streamMatchSteps]] state: the open partials of one key. */
  case class PatState(partials: List[Matcher.Partial])
  /** [[streamMatchStepsReordered]] state: the watermark-delayed reorder
    * buffer plus the scan partials. `flushedUpTo` is the event-time
    * frontier already fed to the scan (micros) — events at or below it
    * are too late and are dropped, which is what keeps the per-key feed
    * order non-decreasing. */
  case class ReorderState(flushedUpTo: Long,
                          buffered: List[Matcher.Event],
                          partials: List[Matcher.Partial])
  /** Event + the TimestampType column the watermark machinery needs. */
  case class TimedEvent(key: Long, tsMicros: Long, etype: String, id: Long,
                        value: Double, eventTime: java.sql.Timestamp)

  /** Pattern scan on a stream: the batch [[Matcher.Automaton]] — every
    * step shape (Pos, interior NEG; trailing Neg rejected, as in batch)
    * and all four selection modes — folded over each key's micro-batch
    * via flatMapGroupsWithState, with the open partials carried in state.
    *
    * ORDERING CONTRACT: events are sorted within each micro-batch, but
    * the scan cannot look backwards across batch boundaries — a start
    * arriving in a LATER batch than its (event-time-earlier) end is a
    * missed match vs the batch engine. Equivalence with batch
    * `Matcher.matchSeq` therefore holds when per-key event-time order is
    * non-decreasing across batches (true for the replayed file streams
    * here and for any source that preserves per-key order); interior NEG
    * is then exact, because every negator between two Pos steps is
    * scanned before the completing event. Out-of-order sources get the
    * same guarantee from the watermark-delayed reorder buffer in
    * [[streamMatchStepsReordered]].
    *
    * State is bounded by the WITHIN horizon (expiry on every event) plus
    * the processing-time TTL for keys that go quiet. */
  def streamMatchSteps(events: Dataset[Matcher.Event],
                       pattern: Seq[Matcher.Step],
                       withinMicros: Long,
                       stateTtlMs: Long = 0L,
                       mode: String = "skip_till_next_match"): Dataset[Matcher.MatchResult] = {
    val automaton = new Matcher.Automaton(pattern, withinMicros, mode)
    val spark = events.sparkSession
    import spark.implicits._
    // TTL > 0 enables processing-time eviction for production streams;
    // 0 keeps NoTimeout (an unthrottled-trigger query with timeouts spins
    // continuous empty batches — set a real Trigger alongside a TTL)
    val timeoutConf =
      if (stateTtlMs > 0) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    events.groupByKey(_.key)
      .flatMapGroupsWithState[PatState, Matcher.MatchResult](
        OutputMode.Append(), timeoutConf) {
        case (_, it, state: GroupState[PatState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val (out, open) = automaton.scan(it.toSeq,
              state.getOption.map(_.partials).getOrElse(Nil))
            if (open.isEmpty) state.remove()
            else {
              state.update(PatState(open))
              if (stateTtlMs > 0) state.setTimeoutDuration(stateTtlMs)
            }
            out.iterator
          }
      }
  }

  /** [[streamMatchSteps]] for OUT-OF-ORDER sources: a watermark-delayed
    * reorder buffer in front of the same scan, in ONE stateful operator
    * (chaining two flatMapGroupsWithState stages is not supported by
    * Structured Streaming's unsupported-operations checker, and the
    * fused form holds buffer + partials in a single state row anyway).
    *
    * Mechanics: incoming events are buffered in state; each invocation
    * releases — in (ts, id) order — exactly the buffered events at or
    * below the CURRENT WATERMARK (max event time seen minus
    * `watermarkDelay`, the engine's own monotonic frontier) into the
    * scan, and keeps the rest. An event-time timer re-fires the group
    * when the watermark passes the earliest still-buffered event, so
    * buffered events flush even if their key goes quiet. Events at or
    * below the already-flushed frontier are DROPPED as too late (the
    * documented lateness bound: disorder beyond `watermarkDelay` is
    * data loss, the same contract as every watermarked Spark operator —
    * Spark itself also filters rows behind the watermark before the
    * operator). Within the bound, results are IDENTICAL to the batch
    * engine regardless of arrival order, because the scan consumes a
    * per-key non-decreasing sequence by construction.
    *
    * Emission is therefore delayed by up to `watermarkDelay` past the
    * completing event (the price of reordering); partials whose WITHIN
    * horizon the watermark has passed are evicted eagerly, so state is
    * bounded by delay + horizon. Bounded replays that must flush
    * everything append a far-future sentinel event to push the
    * watermark past the real data (standard watermark practice). */
  def streamMatchStepsReordered(events: Dataset[Matcher.Event],
                                pattern: Seq[Matcher.Step],
                                withinMicros: Long,
                                watermarkDelay: String,
                                mode: String = "skip_till_next_match"): Dataset[Matcher.MatchResult] = {
    val automaton = new Matcher.Automaton(pattern, withinMicros, mode)
    val spark = events.sparkSession
    import spark.implicits._
    val timed = events.toDF()
      .withColumn("eventTime", timestamp_micros(col("tsMicros")))
      .withWatermark("eventTime", watermarkDelay)
      .as[TimedEvent]
    timed.groupByKey(_.key)
      .flatMapGroupsWithState[ReorderState, Matcher.MatchResult](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (_, it, state: GroupState[ReorderState]) =>
          // NOTE: a timer firing is just "the watermark moved" — flush,
          // don't evict (state.hasTimedOut carries no other meaning here)
          val prev = state.getOption.getOrElse(ReorderState(Long.MinValue, Nil, Nil))
          val wmMicros = state.getCurrentWatermarkMs() * 1000L
          val incoming = it.map(t =>
            Matcher.Event(t.key, t.tsMicros, t.etype, t.id, t.value))
          // too-late events (at or below the flushed frontier) would
          // regress the scan's feed order — drop them (lateness bound)
          val buf = prev.buffered ++
            incoming.filter(_.tsMicros > prev.flushedUpTo)
          val (release, keep) = buf.partition(_.tsMicros <= wmMicros)
          val (out, open0) = automaton.scan(release, prev.partials)
          // partials past their WITHIN horizon relative to the watermark
          // can never advance again (every future released event is
          // > wm ≥ start + within) — evict so quiet keys do not leak
          val open = open0.filter { case (_, _, start, _) =>
            wmMicros - start <= withinMicros }
          if (keep.isEmpty && open.isEmpty) state.remove()
          else {
            state.update(ReorderState(
              math.max(prev.flushedUpTo, wmMicros), keep, open))
            if (keep.nonEmpty) {
              // fire when the watermark passes the earliest buffered
              // event (ms granularity: +1 covers sub-ms truncation)
              val minMs = keep.map(_.tsMicros).min / 1000L + 1
              state.setTimeoutTimestamp(
                math.max(minMs, state.getCurrentWatermarkMs() + 1))
            } else if (open.nonEmpty) {
              // no buffer, live partials: fire at the latest WITHIN
              // horizon so expired partials are evicted even if the key
              // never sees another event
              val horizonMs = open.map { case (_, _, start, _) =>
                (start + withinMicros) / 1000L + 1 }.max
              state.setTimeoutTimestamp(
                math.max(horizonMs, state.getCurrentWatermarkMs() + 1))
            }
          }
          out.iterator
      }
  }
}
