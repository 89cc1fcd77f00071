package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
import graft.cep.Matcher
import graft.cep.Matcher.{Neg, Pos, typeIs}
import graft.core.Tables
import graft.streaming.Streams

/** Streaming coverage AS oracled queries (SURVEY.md §2 rows 42/43/47/47b).
  *
  * Each query runs a REAL Structured Streaming query — file source,
  * watermark, stateful operator, sink — bounded with
  * `Trigger.AvailableNow()` so it terminates after processing the
  * table's files. The result is deterministic, so the same DuckDB SQL
  * that oracles the batch operators oracles the streaming dataflow:
  * this is the strongest correctness statement available for the
  * streaming layer without a live unbounded source (which Verify cannot
  * host). The reference's own streaming IT suite compares against batch
  * truth files the same way (ref: piglet SparksCompileIt).
  */
object StreamQueries {

  /** File-stream over the events table, schema from the `Tables` cache
    * and normalized like a `Tables` load. */
  private def eventStream(s: SparkSession, dir: String): DataFrame = {
    val src = Tables.path(dir, "events")
    // the file-stream source monitors a DIRECTORY; the testdata tables
    // are single parquet files — stage a symlink dir (no data copy)
    val path =
      if (java.nio.file.Files.isDirectory(java.nio.file.Paths.get(src))) src
      else {
        val d = java.nio.file.Files.createTempDirectory("graft_stream_src")
        java.nio.file.Files.createSymbolicLink(
          d.resolve("part-0.parquet"), java.nio.file.Paths.get(src))
        d.toString
      }
    Tables.normalize(
      Streams.fileStream(s, path, Tables.schema(s, dir, "events")))
  }

  /** Bounded file-stream replay of a static frame: `df` is written as
    * one parquet file into a fresh directory, which is then streamed
    * back. The stream's schema is `df`'s made nullable — what Spark's
    * parquet writer stores — so the replay runs no schema-inference job. */
  private[graft] def replay(df: DataFrame): DataFrame = {
    val staged = java.nio.file.Files
      .createTempDirectory("graft_replay").toString
    df.repartition(1).write.mode("overwrite").parquet(staged)
    Streams.fileStream(df.sparkSession, staged,
      nullable(df.schema).asInstanceOf[StructType])
  }

  private def nullable(t: DataType): DataType = t match {
    case st: StructType => StructType(st.fields.map(f =>
      f.copy(dataType = nullable(f.dataType), nullable = true)))
    case ArrayType(e, _) => ArrayType(nullable(e), containsNull = true)
    case MapType(k, v, _) =>
      MapType(nullable(k), nullable(v), valueContainsNull = true)
    case other => other
  }

  /** The events stream as the CEP scans' event view. */
  private def cepEvents(s: SparkSession, dir: String) =
    Matcher.events(eventStream(s, dir), "user_id", "ts", "event_type",
      "event_id", "value")

  private val signupPurchase = Seq(Pos(typeIs("signup")),
    Pos(typeIs("purchase")))

  /** Run a streaming frame to completion (AvailableNow) into a memory
    * sink and return the static result table. */
  private def runBounded(df: DataFrame, name: String,
                         mode: OutputMode): DataFrame = {
    val s = df.sparkSession
    val q = df.writeStream.queryName(name).outputMode(mode)
      .format("memory").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    s.table(name)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // -- #47 file stream → #43 watermarked tumbling window, end-to-end ------
    "q_stream_window" -> ((s, dir) => {
      val agg = Streams.windowedAgg(eventStream(s, dir), "ts", "1 hour",
        slideDur = None, watermarkDelay = "30 minutes",
        groupCols = Seq("event_type"),
        aggs = Seq(count(lit(1)).as("cnt"),
          sum(col("value").cast("decimal(18,6)")).cast("double")
            .as("sum_value")))
      // Complete mode emits every window of the bounded run (append mode
      // would withhold windows the final watermark never passed)
      runBounded(agg, "q_stream_window_sink", OutputMode.Complete())
        .select(unix_timestamp(col("window.start")).as("ws"),
          col("event_type"), col("cnt"), col("sum_value"))
    }),
    // -- #42 CEP on a stream: flatMapGroupsWithState signup→purchase --------
    "q_stream_cep" -> ((s, dir) => {
      val evs = cepEvents(s, dir)
      val m = Streams.streamMatchSteps(evs, signupPurchase,
        withinMicros = 3600L * 1000000L)
      runBounded(m.toDF(), "q_stream_cep_sink", OutputMode.Append())
        .select(col("key").as("user_id"),
          element_at(col("ids"), 1).as("start_id"),
          element_at(col("ids"), 2).as("next_id"))
    }),
    // -- #42 CEP any_match: completed starts stay live until WITHIN expiry --
    "q_stream_cep_any" -> ((s, dir) => {
      val evs = cepEvents(s, dir)
      val m = Streams.streamMatchSteps(evs, signupPurchase,
        withinMicros = 3600L * 1000000L, mode = "skip_till_any_match")
      runBounded(m.toDF(), "q_stream_cep_any_sink", OutputMode.Append())
        .select(col("key").as("user_id"),
          element_at(col("ids"), 1).as("start_id"),
          element_at(col("ids"), 2).as("next_id"))
    }),
    // -- #42 n-step CEP: 3-step SEQ via the general streaming scan ----------
    "q_stream_cep3" -> ((s, dir) => {
      val evs = cepEvents(s, dir)
      val m = Streams.streamMatchSteps(evs,
        Seq("signup", "view", "purchase").map(t => Pos(typeIs(t))),
        withinMicros = 1800L * 1000000L, mode = "skip_till_any_match")
      runBounded(m.toDF(), "q_stream_cep3_sink", OutputMode.Append())
        .select(col("key").as("user_id"),
          element_at(col("ids"), 1).as("start_id"),
          element_at(col("ids"), 2).as("mid_id"),
          element_at(col("ids"), 3).as("end_id"))
    }),
    // -- #42 CEP with a NEG guard: signup → purchase with no intervening
    //    error, on the stream. Interior NEG is exact under the in-order
    //    feed (every negator is scanned before the completing event);
    //    same pattern and oracle as the batch q_cep_neg ------------------
    "q_stream_cep_neg" -> ((s, dir) => {
      val evs = cepEvents(s, dir)
      val m = Streams.streamMatchSteps(evs, Seq(Pos(typeIs("signup")),
          Neg(typeIs("error")), Pos(typeIs("purchase"))),
        withinMicros = 3600L * 1000000L)
      runBounded(m.toDF(), "q_stream_cep_neg_sink", OutputMode.Append())
        .select(col("key").as("user_id"),
          element_at(col("ids"), 1).as("start_id"),
          element_at(col("ids"), 2).as("next_id"))
    }),
    // -- #42 CEP behind the watermark reorder buffer: same signup→purchase
    //    pattern, but events pass through streamMatchStepsReordered —
    //    matches emit only once the watermark releases the completing
    //    event, so the oracle bounds completions at max(ts) - delay ------
    "q_stream_cep_reorder" -> ((s, dir) => {
      val evs = cepEvents(s, dir)
      val m = Streams.streamMatchStepsReordered(evs, signupPurchase,
        withinMicros = 3600L * 1000000L, watermarkDelay = "30 minutes")
      runBounded(m.toDF(), "q_stream_cep_reorder_sink", OutputMode.Append())
        .select(col("key").as("user_id"),
          element_at(col("ids"), 1).as("start_id"),
          element_at(col("ids"), 2).as("next_id"))
    }),
    // -- #42/#28 streaming CEP FROM THE PIG DIALECT: the script's
    //    MATCH_EVENT compiles to streamMatchSteps when the bound
    //    relation is a stream (the reference scripted CEP over socket
    //    streams); ids are synthetic row hashes in the dialect, so the
    //    output keys on (user, start, end) micros instead --------------
    "q_pig_stream_cep" -> ((s, dir) => {
      val m = graft.piglatin.PigScript.query(s,
        """m = MATCH_EVENT ev BY user_id PATTERN seq(signup, purchase)
          |      WITH (signup: event_type == 'signup',
          |            purchase: event_type == 'purchase')
          |      WITHIN 1 hours;""".stripMargin,
        "m", tables = Map("ev" -> eventStream(s, dir)))
      runBounded(m, "q_pig_stream_cep_sink", OutputMode.Append())
        .select(col("key").as("user_id"),
          col("startMicros").as("start_us"),
          col("endMicros").as("end_us"))
    }),
    // -- stream-stream JOIN: the reference's tumbling-window join (ref
    //    StreamJoinEmitter / it/windowJoin.pig) — views paired with same-
    //    user purchases in the SAME 1h tumbling window. Both sides are
    //    REAL streams (same replayed file source read twice); inner-join
    //    rows emit as they match, so the bounded run is deterministic ----
    "q_stream_join" -> ((s, dir) => {
      // ONE file-stream source feeds both sides (a streaming self-join):
      // listing, offset tracking and the staged-dir setup run once per
      // micro-batch instead of twice; each side still keeps its own join
      // state, so semantics are identical to two sources
      val ev = eventStream(s, dir)
      val views = ev.where(col("event_type") === "view")
        .select(col("user_id").as("l_user"), col("ts").as("l_ts"),
          col("event_id").as("view_id"))
      val buys = ev.where(col("event_type") === "purchase")
        .select(col("user_id").as("r_user"), col("ts").as("r_ts"),
          col("event_id").as("purchase_id"))
      val j = Streams.tumblingWindowJoin(views, buys, "l_ts", "r_ts",
        keys = Seq(("l_user", "r_user")), windowDur = "1 hour",
        watermarkDelay = "30 minutes")
      runBounded(j, "q_stream_join_sink", OutputMode.Append())
        .select(col("l_user").as("user_id"), col("view_id"),
          col("purchase_id"),
          unix_timestamp(col("window.start")).as("ws"))
    }),
    // -- the same join FROM the dialect: JOIN of two WINDOW'd streaming
    //    relations routes to the watermarked tumbling-window join -------
    "q_pig_stream_join" -> ((s, dir) => {
      // ONE file-stream source bound to both script relations (same
      // single-source shape as the API twin q_stream_join): listing,
      // offset tracking and staging run once per micro-batch instead of
      // twice; each WINDOW'd side keeps its own join state, so the
      // dialect semantics are unchanged
      val ev = eventStream(s, dir)
      val j = graft.piglatin.PigScript.query(s,
        """v = FILTER ev1 BY event_type == 'view';
          |p = FILTER ev2 BY event_type == 'purchase';
          |vw = WINDOW v RANGE 1 hours SLIDE RANGE 1 hours;
          |pw = WINDOW p RANGE 1 hours SLIDE RANGE 1 hours;
          |x = JOIN vw BY user_id, pw BY user_id;""".stripMargin,
        "x", tables = Map("ev1" -> ev, "ev2" -> ev))
      runBounded(j, "q_pig_stream_join_sink", OutputMode.Append())
        .select(col("vw::user_id").as("user_id"),
          col("vw::event_id").as("view_id"),
          col("pw::event_id").as("purchase_id"),
          unix_timestamp(col("vw::w_start")).as("ws"))
    }),
    // -- streaming dedup: distinct (user, type) keys off the stream ---------
    // -- streaming WARC ingestion: segments land, records micro-batch in
    //    (binaryFile file-stream → per-segment parse); the bounded
    //    replay must reproduce the table the archive was written from --
    "q_stream_warc" -> ((s, dir) => {
      val out = java.nio.file.Files
        .createTempDirectory("graft_swarc").toString
      graft.sources.Warc.write(Tables(s, dir, "documents"),
        out, uri = concat(lit("urn:graft:doc:"), col("doc_id")),
        payload = col("text"), gzip = true)
      val recs = graft.sources.Warc.readStream(s, out)
        .select(
          regexp_extract(col("target_uri"), "(\\d+)$", 1)
            .cast("long").as("doc_id"),
          col("content").cast("string").as("text"))
      runBounded(recs, "q_stream_warc_sink", OutputMode.Append())
    }),
    // -- streaming archive ingestion: landed tarballs micro-batch their
    //    members in — the tar twin of q_stream_warc ----------------------
    "q_stream_tar" -> ((s, dir) => {
      val out = java.nio.file.Files
        .createTempDirectory("graft_star").toString
      graft.sources.Archives.writeTar(
        Tables(s, dir, "documents"), out,
        entry = concat(lit("c/d-"), col("doc_id"), lit(".txt")),
        payload = col("text"))
      val recs = graft.sources.Archives.readTarStream(s, out)
        .select(
          regexp_extract(col("entry"), "(\\d+)\\.txt$", 1)
            .cast("long").as("doc_id"),
          col("content").cast("string").as("text"))
      runBounded(recs, "q_stream_tar_sink", OutputMode.Append())
    }),
    // -- streaming corpus profile: the sketch regime's aggregates are
    //    mergeable, so the SAME Profile.sketch call runs as a Complete-
    //    mode global agg on the stream. Approximate -> rows-only gate
    //    entry (like q_profile_sketch); exact equality vs the batch
    //    sketch is spec'd differentially (StreamProfileSpec). --------------
    "q_stream_profile" -> ((s, dir) => {
      val stream = replay(Tables(s, dir, "documents"))
      val prof = graft.core.Profile.sketch(stream,
        Seq("doc_id", "lang", "source", "n_chars"))
      runBounded(prof, "q_stream_profile_sink", OutputMode.Complete())
    }),
    // -- streaming heavy hitters: the frequent-items audit running ON the
    //    ingest stream. Oracled row = the exact regime (streaming count
    //    agg + deterministic top-k in Complete mode — the batch
    //    operator's oracle carries over verbatim). The bounded-state
    //    Misra–Gries regime is spec'd differentially against the exact
    //    answer across micro-batch cuts (StreamHeavyHittersSpec). -----------
    "q_stream_heavy" -> ((s, dir) => {
      val stream = replay(Tables(s, dir, "documents"))
      val toks = stream.select(explode(filter(split(col("text"), "\\s+"),
        tk => tk =!= "")).as("tok"))
      val top = Streams.streamHeavyHittersExact(toks, col("tok"), 20)
      runBounded(top, "q_stream_heavy_sink", OutputMode.Complete())
    }),
    // the same audit FROM the dialect: HEAVY_HITTERS on a streaming
    //    relation routes to the streaming exact regime — same oracle
    "q_pig_stream_heavy" -> ((s, dir) => {
      val stream = replay(Tables(s, dir, "documents"))
      val toks = stream.select(explode(filter(split(col("text"), "\\s+"),
        tk => tk =!= "")).as("tok"))
      val top = graft.piglatin.PigScript.query(s,
        "h = HEAVY_HITTERS toks BY tok TOP 20 USING exact;",
        "h", tables = Map("toks" -> toks))
      runBounded(top, "q_pig_stream_heavy_sink", OutputMode.Complete())
    }),
    // -- streaming blocklist/contamination screen: the Aho–Corasick scan
    //    is a narrow per-row map, so it runs UNCHANGED on the ingest
    //    stream — same pattern constants, same oracle as q_contains_any
    "q_stream_match" -> ((s, dir) => {
      val stream = replay(Tables(s, dir, "documents"))
      val out = stream.select(col("doc_id"),
          graft.text.MultiMatch.matchAny(col("text"),
            PipelineQueries.scanPatterns).as("m"))
        .select(col("doc_id"), array_join(col("m"), "|").as("matched"),
          size(col("m")).cast("long").as("n_matched"))
      runBounded(out, "q_stream_match_sink", OutputMode.Append())
    }),
    "q_stream_dedup" -> ((s, dir) => {
      // exact-variant bounded run; the watermarked production variant
      // (dropDuplicatesWithinWatermark) is spec'd in StreamingSpec.
      // Emitting only the keys keeps the result deterministic — WHICH
      // duplicate row survives is batch-order-dependent, the key set
      // is not
      val d = Streams.streamDedup(eventStream(s, dir),
        Seq("user_id", "event_type"))
      runBounded(d, "q_stream_dedup_sink", OutputMode.Append())
        .select(col("user_id"), col("event_type"))
    }),
    // -- streaming NEAR-dup dedup: each arriving doc flagged against the
    //    earliest representative of its simhash pigeonhole buckets (the
    //    ingest-time complement of the batch pair join). Single-file
    //    bounded replay ⇒ reps are per-bucket min ids — exactly what the
    //    oracle replays; per-doc verdict = min-rep hit across buckets,
    //    aggregated on the sink output (one stateful op per stream) ----
    "q_stream_dedup_simhash" -> ((s, dir) => {
      val planted = PipelineQueries.plantedDocs(
        Tables(s, dir, "documents"))
      val hits = Streams.streamSimhashDedup(replay(planted), "doc_id",
        "text", maxDist = 3)
      runBounded(hits.toDF(), "q_stream_dedup_simhash_sink",
          OutputMode.Append())
        .groupBy(col("docId").as("doc_id"))
        .agg(min(struct(col("dupOf"), col("hamming"))).as("m"))
        .select(col("doc_id"), col("m.dupOf").as("dup_of"),
          col("m.hamming").as("hamming"))
    }),
    // -- streaming train/val/test SPLIT: the md5-bucket assignment is a
    //    pure narrow map with no state at all, so the sampler family's
    //    batch semantics carry to streams verbatim — a doc arriving via
    //    live ingest lands in the SAME split it would get in a batch
    //    backfill (the whole point of hash-derived assignment). Same
    //    oracle as the batch q_split_hash. ----------------------------------
    "q_stream_split" -> ((s, dir) => {
      val stream = replay(Tables(s, dir, "documents")
        .select(col("doc_id"), col("lang")))
      val assigned = graft.core.Pipe(stream)
        .splitByHash(Seq("train" -> 80, "val" -> 10, "test" -> 10),
          col("doc_id")).df
      val outDir = java.nio.file.Files
        .createTempDirectory("graft_ssplit_out").toString
      val q = assigned.writeStream.trigger(Trigger.AvailableNow())
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.write.mode("append").parquet(outDir)
        }.start()
      q.awaitTermination()
      s.read.parquet(outDir)
        .select(col("doc_id"), col("lang"), col("split"))
    }),
    // -- streaming DECONTAMINATION: stream-static broadcast join -----------
    //    The corpus STREAMS; the benchmark gram table is static and
    //    broadcast — the enrichment-join mode a live ingest pipeline
    //    uses. The stream side is one narrow native-shingle scan +
    //    stateless broadcast join (no stream state at all); matched
    //    (doc, gram, bench) rows append to a parquet sink and the
    //    per-doc rollup runs as a batch over the sink (countDistinct is
    //    not a streamable aggregate — this IS the production shape:
    //    stream emits matches, periodic batch rolls up). Same oracle as
    //    the batch q_decontaminate.
    "q_stream_decontaminate" -> ((s, dir) => {
      val docs = PipelineQueries.plantedDocs(
        Tables(s, dir, "documents"))
      val corpus = docs.where(col("doc_id") >= 1000000L)
      val bench = docs.where(col("doc_id") < 1000000L &&
        col("doc_id") % 20 === 3)
      val stream = replay(corpus)
      import graft.dedup.Dedup
      val bg = Dedup.hashedShingleDF(bench, "doc_id", "text", 8)
        .select(col("id").as("__bench_id"), explode(col("sh")).as("g"))
      val cg = Dedup.hashedShingleDF(stream, "doc_id", "text", 8)
        .select(col("id").as("doc_id"), explode(col("sh")).as("g"))
      val outDir = java.nio.file.Files
        .createTempDirectory("graft_sdc_out").toString
      val q = cg.join(broadcast(bg), "g")
        .writeStream.trigger(Trigger.AvailableNow())
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.write.mode("append").parquet(outDir)
        }.start()
      q.awaitTermination()
      s.read.parquet(outDir)
        .groupBy(col("doc_id"))
        .agg(countDistinct(col("g")).as("matched_ngrams"),
          countDistinct(col("__bench_id")).as("bench_docs"))
        .where(col("matched_ngrams") >= 1)
    }),
    // -- streaming SESSION windows: per-user sessions closed by watermark ---
    "q_stream_session" -> ((s, dir) => {
      val agg = Streams.sessionAgg(eventStream(s, dir), "ts",
        gap = "30 minutes", watermarkDelay = "30 minutes",
        groupCols = Seq("user_id"),
        aggs = Seq(count(lit(1)).as("cnt")))
      runBounded(agg, "q_stream_session_sink", OutputMode.Append())
        .select(col("user_id"),
          unix_timestamp(col("session.start")).as("session_start"),
          col("cnt"))
    }),
    // -- #47b WINDOW … APPLY: arbitrary relational subplan per closed window.
    // The subplan here is a per-window top-1 (group → window rank) — NOT an
    // aggregation Spark's windowed groupBy could express, which is the
    // operator's reason to exist. Only windows the final watermark closed
    // emit; the oracle applies the same bound.
    "q_stream_winapply" -> ((s, dir) => {
      val outDir = java.nio.file.Files
        .createTempDirectory("graft_swa_out").toString
      val q = Streams.windowApply(eventStream(s, dir), "ts", "1 hour",
        watermarkDelay = "30 minutes", name = "q_stream_winapply",
        trigger = Trigger.AvailableNow()) { w =>
        import org.apache.spark.sql.expressions.Window
        w.groupBy(col("window"), col("event_type"))
          .agg(count(lit(1)).as("cnt"))
          .withColumn("rn", row_number().over(Window.partitionBy("window")
            .orderBy(desc("cnt"), col("event_type"))))
          .where(col("rn") === 1).drop("rn")
      } { (out, _) => out.write.mode("append").parquet(outDir) }
      q.awaitTermination()
      s.read.parquet(outDir)
        .select(unix_timestamp(col("window.start")).as("ws"),
          col("event_type"), col("cnt"))
    })
  )

  val oracles: Map[String, String] = Map(
    // identical aggregation to the batch q_window_tumbling oracle — the
    // streaming run must reproduce the batch answer exactly
    "q_stream_window" ->
      """SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS ws,
         event_type, COUNT(*) AS cnt,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
         FROM events GROUP BY 1, 2""",
    // streamMatchSteps semantics — equal to batch Matcher.matchSeq GIVEN
    // per-key event-time order across batches (this replayed file stream
    // delivers in order; see the ordering contract on streamMatchSteps):
    // every open signup matches the FIRST purchase STRICTLY later than
    // it within 1h (inclusive bound), same-ts purchases never match
    "q_stream_cep" ->
      """WITH cand AS (
           SELECT a.user_id, a.event_id AS start_id, b.event_id AS next_id,
             row_number() OVER (PARTITION BY a.event_id
               ORDER BY b.ts, b.event_id) AS rn
           FROM events a JOIN events b
             ON a.user_id = b.user_id
            AND b.ts > a.ts
            AND epoch(b.ts) - epoch(a.ts) <= 3600
           WHERE a.event_type = 'signup' AND b.event_type = 'purchase')
         SELECT user_id, start_id, next_id FROM cand WHERE rn = 1""",
    // any_match: a start matches EVERY strictly-later purchase within 1h
    // (the batch fork semantics — no rn = 1 first-only filter)
    "q_stream_cep_any" ->
      """SELECT a.user_id, a.event_id AS start_id, b.event_id AS next_id
         FROM events a JOIN events b
           ON a.user_id = b.user_id
          AND b.ts > a.ts
          AND epoch(b.ts) - epoch(a.ts) <= 3600
         WHERE a.event_type = 'signup' AND b.event_type = 'purchase'""",
    // 3-step any_match: every strictly-increasing signup→view→purchase
    // chain whose LATER steps stay within 30min of the signup (the scan
    // expires a partial before processing each event)
    "q_stream_cep3" ->
      """SELECT a.user_id, a.event_id AS start_id, b.event_id AS mid_id,
           c.event_id AS end_id
         FROM events a
         JOIN events b ON a.user_id = b.user_id AND b.ts > a.ts
           AND epoch(b.ts) - epoch(a.ts) <= 1800
         JOIN events c ON c.user_id = a.user_id AND c.ts > b.ts
           AND epoch(c.ts) - epoch(a.ts) <= 1800
         WHERE a.event_type = 'signup' AND b.event_type = 'view'
           AND c.event_type = 'purchase'""",
    // identical to the batch q_cep_neg oracle: interior NEG under the
    // in-order feed is exact (negators scan before the completing event)
    "q_stream_cep_neg" ->
      """WITH cand AS (
           SELECT a.user_id, a.event_id AS start_id, b.event_id AS next_id,
             row_number() OVER (PARTITION BY a.event_id
               ORDER BY b.ts, b.event_id) AS rn
           FROM events a JOIN events b
             ON a.user_id = b.user_id AND b.ts > a.ts
            AND epoch(b.ts) - epoch(a.ts) <= 3600
           WHERE a.event_type = 'signup' AND b.event_type = 'purchase'
             AND NOT EXISTS (
               SELECT 1 FROM events n
               WHERE n.user_id = a.user_id AND n.event_type = 'error'
                 AND n.ts > a.ts AND n.ts < b.ts))
         SELECT user_id, start_id, next_id FROM cand WHERE rn = 1""",
    // reorder-buffer emission bound: a match emits iff the watermark
    // (max event time - 30 min) released its completing event; the
    // released set is a ts-prefix, so the first-purchase choice is
    // unaffected for any start that matches at all
    "q_stream_cep_reorder" ->
      """WITH mx AS (SELECT max(ts) AS m FROM events),
         cand AS (
           SELECT a.user_id, a.event_id AS start_id, b.event_id AS next_id,
             row_number() OVER (PARTITION BY a.event_id
               ORDER BY b.ts, b.event_id) AS rn
           FROM events a JOIN events b
             ON a.user_id = b.user_id AND b.ts > a.ts
            AND epoch(b.ts) - epoch(a.ts) <= 3600
           CROSS JOIN mx
           WHERE a.event_type = 'signup' AND b.event_type = 'purchase'
             AND epoch(b.ts) <= epoch(mx.m) - 1800)
         SELECT user_id, start_id, next_id FROM cand WHERE rn = 1""",
    // the dialect's streaming MATCH_EVENT — same first-purchase-per-
    // signup semantics as q_stream_cep, keyed on event times (the
    // dialect synthesizes row-hash ids, so event_id is not exposed)
    "q_pig_stream_cep" ->
      """WITH cand AS (
           SELECT a.user_id, epoch_us(a.ts) AS start_us,
             epoch_us(b.ts) AS end_us,
             row_number() OVER (PARTITION BY a.event_id
               ORDER BY b.ts, b.event_id) AS rn
           FROM events a JOIN events b
             ON a.user_id = b.user_id
            AND b.ts > a.ts
            AND epoch(b.ts) - epoch(a.ts) <= 3600
           WHERE a.event_type = 'signup' AND b.event_type = 'purchase')
         SELECT user_id, start_us, end_us FROM cand WHERE rn = 1""",
    "q_stream_dedup" ->
      "SELECT DISTINCT user_id, event_type FROM events",
    "q_stream_match" ->
      s"""SELECT doc_id,
           coalesce(array_to_string(
             ${graft.text.MultiMatch.matchAnySql("text",
               PipelineQueries.scanPatterns)}, '|'), '') AS matched,
           len(${graft.text.MultiMatch.matchAnySql("text",
             PipelineQueries.scanPatterns)})::BIGINT AS n_matched
         FROM documents""",
    // tumbling-window join: pairs iff same user AND same 1h window —
    // the batch answer the bounded stream-stream join must reproduce
    "q_stream_join" ->
      """SELECT a.user_id, a.event_id AS view_id, b.event_id AS purchase_id,
           CAST(floor(epoch(a.ts) / 3600) * 3600 AS BIGINT) AS ws
         FROM events a JOIN events b
           ON a.user_id = b.user_id
          AND floor(epoch(a.ts) / 3600) = floor(epoch(b.ts) / 3600)
         WHERE a.event_type = 'view' AND b.event_type = 'purchase'""",
    "q_pig_stream_join" ->
      """SELECT a.user_id, a.event_id AS view_id, b.event_id AS purchase_id,
           CAST(floor(epoch(a.ts) / 3600) * 3600 AS BIGINT) AS ws
         FROM events a JOIN events b
           ON a.user_id = b.user_id
          AND floor(epoch(a.ts) / 3600) = floor(epoch(b.ts) / 3600)
         WHERE a.event_type = 'view' AND b.event_type = 'purchase'""",
    // the streamed token audit must reproduce the batch top-k exactly
    "q_stream_heavy" -> PipelineQueries.heavyOracle,
    "q_pig_stream_heavy" -> PipelineQueries.heavyOracle,
    "q_stream_warc" -> "SELECT doc_id, text FROM documents",
    "q_stream_tar" -> "SELECT doc_id, text FROM documents",
    // the streamed corpus must reproduce the batch decontamination
    // report exactly — identical oracle
    "q_stream_decontaminate" -> PipelineQueries.decontaminateSql(n = 8),
    // the streamed corpus must land in the same splits as a batch
    // backfill — identical oracle (hash-derived assignment is stateless)
    "q_stream_split" -> PipelineQueries.splitHashOracleSql,
    // streaming simhash dedup: replay the simhash (60-bit token-md5
    // vote — the same formula the batch q_dedup_simhash oracle proves),
    // take each pigeonhole bucket's min-id occupant as its
    // representative, flag later docs within Hamming 3 of a rep, and
    // keep the min-rep hit per doc — the batch model the single-file
    // bounded stream must reproduce
    "q_stream_dedup_simhash" -> {
      val packed = (0 until 60).map { b =>
        s"""(CASE WHEN 2 * len(list_filter(h, x -> ((x >> $b) & 1) = 1)) - len(h) > 0
           THEN ${1L << b}::BIGINT ELSE 0::BIGINT END)"""
      }.mkString(" + ")
      s"""WITH docs AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 1000000 AS doc_id,
             array_to_string(list_filter(string_split_regex(text, '\\s+'),
               x -> x <> '')[2:], ' ') AS text
           FROM documents),
         hs AS (SELECT doc_id,
           list_transform(list_filter(string_split_regex(text, '\\s+'),
               x -> x <> ''),
             t -> ('0x' || substr(md5(t), 1, 15))::BIGINT) AS h
           FROM docs),
         sig AS (SELECT doc_id, ($packed) AS sh FROM hs),
         banded AS (
           SELECT doc_id, sh, c, (sh >> CAST(c * 16 AS INT)) & 65535 AS cv
           FROM sig, range(0, 4) t(c)),
         rep AS (SELECT c, cv, min(doc_id) AS rep_id
                 FROM banded GROUP BY 1, 2),
         hits AS (
           SELECT b.doc_id, r.rep_id AS dup_of,
             CAST(bit_count(xor(b.sh, s2.sh)) AS INTEGER) AS hamming
           FROM banded b
           JOIN rep r ON r.c = b.c AND r.cv = b.cv AND r.rep_id < b.doc_id
           JOIN sig s2 ON s2.doc_id = r.rep_id
           WHERE bit_count(xor(b.sh, s2.sh)) <= 3),
         ranked AS (
           SELECT doc_id, dup_of, hamming,
             row_number() OVER (PARTITION BY doc_id
               ORDER BY dup_of, hamming) AS rn
           FROM hits)
         SELECT doc_id, dup_of, hamming FROM ranked WHERE rn = 1"""
    },
    // append-mode emission bound: a session emits iff its end (last
    // event + gap) passed the final watermark (max event time - delay)
    "q_stream_session" ->
      """WITH mx AS (SELECT max(ts) AS m FROM events),
         g AS (
           SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                  THEN 1 ELSE 0 END AS new_s
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         s AS (
           SELECT user_id, ts,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
               ROWS UNBOUNDED PRECEDING) AS sid
           FROM g)
         SELECT user_id,
           CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start,
           COUNT(*) AS cnt
         FROM s, mx
         GROUP BY user_id, sid, m
         HAVING epoch(max(ts)) + 1800 <= epoch(m) - 1800""",
    // the windowApply emission bound: a window emits iff its end passed
    // the final watermark (max event time - 30 min), inclusive
    "q_stream_winapply" ->
      """WITH mx AS (SELECT max(ts) AS m FROM events),
         c AS (SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS ws,
                 event_type, COUNT(*) AS cnt
               FROM events GROUP BY 1, 2),
         r AS (SELECT ws, event_type, cnt,
                 row_number() OVER (PARTITION BY ws
                   ORDER BY cnt DESC, event_type) AS rn
               FROM c)
         SELECT ws, event_type, cnt FROM r, mx
         WHERE rn = 1 AND ws + 3600 <= epoch(m) - 1800"""
  )
}
