package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.{QueryEntry, Tables}
import graft.streaming.StreamingDedup.DocEvent

/** Oracle-facing projection of [[StreamingDedup.DedupVerdict]] (snake_case
  * names so the SQL side needs no quoting; `unique` is a keyword). Top
  * level — a private nested class makes janino's codegen fall back to
  * interpreted mode on the createDataset encoder. */
final case class ReplayVerdict(doc_id: String, content_hash: String,
    is_unique: Boolean, keep_id: String)

/** One replayed event for the windowed-aggregation entry. */
final case class WindowEvent(ts: Timestamp, event_type: String, value: Double)

/** One replayed event for the stream-static enrichment entry. */
final case class EnrichEvent(ts: Timestamp, user_id: Long, value: Double)

/** Oracle-facing enriched windowed count (top level for codegen). */
final case class SegmentWindowCount(window_start: Timestamp, segment: String,
    n: Long, total: Double)

/** Oracle-facing windowed-count row (top level for codegen, see above). */
final case class WindowCount(window_start: Timestamp, event_type: String,
    n: Long, total: Double)

/** One replayed event for the native-session-window entry. */
final case class SessEvent(ts: Timestamp, user_id: Long, value: Double)

/** Oracle-facing finalized session for the native-session-window entry
  * (top level for codegen). */
final case class SessionOut(user_id: Long, start_us: Long, end_us: Long,
    n_events: Long, total_value: Double)

/** One replayed click / view for the stream-stream join entry. */
final case class ClickEv(cts: Timestamp, c_user: Long, click_id: Long)
final case class ViewEv(vts: Timestamp, v_user: Long, view_id: Long)

/** Oracle-facing attributed pair (top level for codegen). */
final case class AttributedPair(click_id: Long, view_id: Long, user_id: Long,
    gap_us: Long)

/** Driver-visible correctness artifact for the streaming surface: replay a
  * deterministic event table through the REAL streaming engine
  * (`MemoryStream` micro-batches, each drained before the next) and hand
  * the output table to the DuckDB oracle — streaming output becomes a hashed
  * CORRECTNESS row instead of trust-the-spec.
  *
  * These are replay HARNESSES, not scale paths: each sf table is collected
  * to the driver once to feed MemoryStream (the only way to drive
  * deterministic micro-batch boundaries), so they stay out of Bench's
  * headline set. The operators under test (e.g. [[StreamingDedup
  * .exactDedupStream]], [[StreamingSessionize.sessionizeStream]]) are the
  * scale paths. Every entry runs through ONE lifecycle ([[replay]]); an
  * entry owns only its input rows, its query shape, its row filter and its
  * order.
  */
object StreamQueries {

  /** Fixed epoch base so event times are bit-deterministic. */
  private val EpochBaseMs = 1700000000000L

  /** Replay slice width: one micro-batch per FOUR WEEKS of event time.
    * Within-slice disorder never drops (drops are judged against the
    * PREVIOUS batch's watermark, which trails the next slice's data — the
    * argument holds for ANY slice size), so every emitted set is
    * slice-size-invariant, and coarse slices keep the per-micro-batch
    * state-store commit off the bench (daily batching measured 31 batches
    * ≈ 50 s at sf0.1; weekly ≈ 5; the 30-day events table yields 2
    * four-week batches). */
  private val SliceMs = 28L * 86400000L

  /** Flush-sentinel time past the last real event (52 slices, ~4 years):
    * the sentinel advances the watermark past every real window / session
    * so Append emits them all, while its own output never emits (the
    * watermark never passes it) and is filtered by time or by sign. */
  private val FlushOffsetMs = 52L * SliceMs

  /** Streaming checkpoints on tmpfs when available — the replay measures
    * the engine, not one shared local disk (same reasoning as Bench's
    * spark.local.dir). ONE delete-on-exit base per JVM (one shutdown hook,
    * one dir pinned in /dev/shm even under repeated QueryProbe reps — a
    * SIGKILL leaks at most this single tree), with a fresh numbered subdir
    * per stream start. */
  private lazy val checkpointBase: String =
    graft.BenchDirs.scratchDir("stream-replay-ckpt")
  private val checkpointSeq = new java.util.concurrent.atomic.AtomicLong(0)
  private def checkpointDir(): String =
    s"$checkpointBase/q${checkpointSeq.incrementAndGet()}"

  /** Run `body` with the streaming shuffle pinned to 4 partitions: the
    * replay streams carry hundreds-to-thousands of state keys, and each
    * micro-batch pays a state-store commit PER PARTITION — at the bench's
    * 32 session partitions that's pure fixed overhead. Measured at sf0.1
    * (best-of-3, 4-week slices): 16 parts → stream-stream 8.9 s, 8 → 5.5,
    * 4 → 3.8, 2 → 3.5 — commit count dominates until the per-partition
    * join/agg work re-balances, so 4 is the knee. The query captures the
    * conf at start(); the session value is restored before returning
    * (batch queries are unaffected). A production stream sizes this to its
    * real key volume instead. */
  private def withStreamParts[A](s: SparkSession)(body: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, "4")
    try body finally s.conf.set(key, prev)
  }

  /** Event-time slices of `rows`, oldest first (input order kept within a
    * slice). */
  private def slices[E](rows: Seq[E], widthMs: Long)(tsMs: E => Long)
      : Seq[Seq[E]] =
    rows.groupBy(e => tsMs(e) / widthMs).toSeq.sortBy(_._1).map(_._2)

  /** THE replay lifecycle. Without batches no stream starts (None).
    * Otherwise `writer` starts under [[withStreamParts]] with a fresh
    * checkpoint dir, each batch is fed and drained, `result` is read while
    * the stream is still up, and the stream stops. */
  private def replay[B, A](s: SparkSession, batches: Seq[B],
      writer: => DataStreamWriter[Row])(feed: B => Unit)(result: => A)
      : Option[A] =
    if (batches.isEmpty) None
    else {
      val q = withStreamParts(s)(
        writer.option("checkpointLocation", checkpointDir()).start())
      try {
        batches.foreach { b => feed(b); q.processAllAvailable() }
        Some(result)
      } finally q.stop()
    }

  /** [[replay]] of `query` into the memory sink `<name>_sink`. The sink rows
    * are read with O's encoder, kept by `keep`, and detached from the
    * stopped stream as a plain local Dataset (what the driver's parquet
    * dump gets). */
  private def toMemory[B, O: Encoder](s: SparkSession, name: String,
      query: DataFrame, batches: Seq[B], keep: O => Boolean = (_: O) => true)(
      feed: B => Unit): DataFrame = {
    val sink = s"${name}_sink"
    s.catalog.dropTempView(sink)
    val out =
      try replay(s, batches, query.writeStream.format("memory")
          .queryName(sink).outputMode("append"))(feed)(
          s.table(sink).as[O].collect().toSeq)
      finally s.catalog.dropTempView(sink)
    s.createDataset(out.getOrElse(Nil).filter(keep)).toDF()
  }

  /** One-stream [[toMemory]]: `rows` in event-time slices of `widthMs`,
    * then — when `flush` builds one — a sentinel event [[FlushOffsetMs]]
    * past the last real one, through `shape` over a fresh MemoryStream.
    * `keep` sees each output row with the last real event time. */
  private def replayRows[E: Encoder, O: Encoder](s: SparkSession,
      name: String, rows: Seq[E], tsMs: E => Long,
      flush: Option[Timestamp => E] = None,
      keep: (O, Long) => Boolean = (_: O, _: Long) => true,
      widthMs: Long = SliceMs)(shape: Dataset[E] => DataFrame): DataFrame = {
    val mem = MemoryStream[E](s)
    val lastMs = rows.map(tsMs).maxOption
    val sentinel = for (f <- flush; m <- lastMs)
      yield Seq(f(new Timestamp(m + FlushOffsetMs)))
    toMemory[Seq[E], O](s, name, shape(mem.toDS()),
      slices(rows, widthMs)(tsMs) ++ sentinel,
      o => lastMs.exists(keep(o, _)))(b => mem.addData(b))
  }

  /** Oracle of a 6-hour tumbling-window rollup: per (window_start,
    * `key`), the row count `n` and the decimal-exact value total, over
    * `from` with `keyCol` (projecting `key`) carried. */
  private def sqlWindowRollup(keyCol: String, key: String,
      from: String): String =
    s"""WITH b AS (SELECT
            TIMESTAMP '1970-01-01 00:00:00'
              + CAST(floor(epoch(ts) / 21600) * 21600 AS BIGINT)
                * INTERVAL 1 SECOND AS window_start,
            $keyCol, value
          FROM $from)
        SELECT window_start, $key, count(*) AS n,
          CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total
        FROM b GROUP BY 1, 2 ORDER BY 1, 2"""

  def entries: Seq[QueryEntry] = Seq(
    // ---- first-wins exact dedup through the real engine --------------------
    // Reference semantics anchor: cumulative first-wins membership
    // (download_files.py:142-187), the same rule `DedupOps.exactDedup`
    // checks in batch. Deterministic event stream: ts = base + (doc_id %
    // 100) s, fed in two ts-ordered micro-batches (50 s buckets) so
    // cross-batch arrival order == global (ts, docId) order and the SQL
    // oracle's window rank reproduces first-wins exactly (the dedup kernel
    // sorts each group by (ts, docId), so the verdict set is
    // bucket-size-invariant — two batches still exercise cross-batch state
    // while keeping micro-batch overhead off the bench).
    QueryEntry(
      "q_stream_dedup_replay",
      (s, dir) => {
        import s.implicits._
        val events = Tables.t(s, dir, "documents")
          .select(col("doc_id").cast("long"), col("text"))
          .collect().toSeq
          .map { r =>
            val id = r.getLong(0)
            DocEvent(new Timestamp(EpochBaseMs + (id % 100) * 1000L),
              id.toString, r.getString(1))
          }
        replayRows[DocEvent, ReplayVerdict](s, "q_stream_dedup_replay",
            events, _.ts.getTime, widthMs = 50000L) { ds =>
          StreamingDedup.exactDedupStream(ds)
            .toDF("doc_id", "content_hash", "is_unique", "keep_id")
        }.orderBy("doc_id")
      },
      Some("""WITH ev AS (
            SELECT CAST(doc_id AS VARCHAR) AS did, md5(text) AS h,
                   doc_id % 100 AS tsec
            FROM documents),
          ranked AS (
            SELECT did, h,
              row_number() OVER (PARTITION BY h ORDER BY tsec, did) AS rn,
              first_value(did) OVER (PARTITION BY h ORDER BY tsec, did) AS keeper
            FROM ev)
          SELECT did AS doc_id, h AS content_hash, rn = 1 AS is_unique,
                 keeper AS keep_id
          FROM ranked ORDER BY doc_id"""),
    ),

    // ---- watermarked tumbling-window aggregation through the real engine --
    // The second canonical streaming op (after stateful dedup): 6-hour
    // tumbling windows over the events table, counted per (window,
    // event_type) in Append mode behind a 1-hour watermark, replayed in
    // four-week slices. The flush sentinel then closes every real window
    // so Append emits them all — the oracle is a plain DuckDB epoch-floor
    // rollup.
    QueryEntry(
      "q_stream_window_counts",
      (s, dir) => {
        import s.implicits._
        val rows = Tables.t(s, dir, "events")
          .select(col("ts").cast("timestamp"), col("event_type"),
            col("value").cast("double"))
          .as[WindowEvent].collect().toSeq
        // drop the sentinel by TIME, never by event_type (a real event
        // type named "flush" must survive): every real window starts at or
        // before the last real event; the sentinel's window starts years
        // after it (and can't emit anyway — the watermark never passes it)
        replayRows[WindowEvent, WindowCount](s, "q_stream_window_counts",
            rows, _.ts.getTime, Some(WindowEvent(_, "flush", 0.0)),
            (o, lastMs) => o.window_start.getTime <= lastMs) { ev =>
          ev.withWatermark("ts", "1 hour")
            .groupBy(window(col("ts"), "6 hours"), col("event_type"))
            .agg(count(lit(1)).as("n"),
              sum(col("value").cast("decimal(28,6)")).as("total_dec"))
            .select(col("window.start").as("window_start"),
              col("event_type"), col("n"),
              col("total_dec").cast("double").as("total"))
        }.orderBy("window_start", "event_type")
      },
      Some(sqlWindowRollup("event_type", "event_type", "events")),
    ),

    // ---- stream-static broadcast enrichment through the real engine --------
    // The fourth canonical streaming op: the event stream joined to a
    // STATIC dimension (a crawl enriching fetched URLs with host metadata).
    // The static side is a plain batch DataFrame — Structured Streaming
    // re-plans and broadcasts it under the stream side every micro-batch,
    // so batch count — not row count — dominates this replay; the join
    // itself holds NO state, only the downstream windowed count does. The
    // flush sentinel (user -1) advances the watermark from the SOURCE even
    // though the inner join drops its row, so every real window closes and
    // Append emits it. Oracle = plain batch join + epoch-floor rollup.
    QueryEntry(
      "q_stream_static_join",
      (s, dir) => {
        import s.implicits._
        val rows = Tables.t(s, dir, "events")
          .select(col("ts").cast("timestamp"), col("user_id"),
            col("value").cast("double"))
          .as[EnrichEvent].collect().toSeq
        // pinned: the engine re-plans and re-broadcasts the static side
        // EVERY micro-batch — serve those rebuilds from the block cache
        // instead of re-reading parquet each time; released once the
        // stream has stopped (its rows are on the driver by then)
        val dim = Tables.t(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try replayRows[EnrichEvent, SegmentWindowCount](s,
            "q_stream_static_join", rows, _.ts.getTime,
            Some(EnrichEvent(_, -1L, 0.0))) { ev =>
          ev.withWatermark("ts", "1 hour")
            .join(broadcast(dim), col("user_id") + 1 === col("c_custkey"))
            .groupBy(window(col("ts"), "6 hours"), col("c_mktsegment"))
            .agg(count(lit(1)).as("n"),
              sum(col("value").cast("decimal(28,6)")).as("total_dec"))
            .select(col("window.start").as("window_start"),
              col("c_mktsegment").as("segment"), col("n"),
              col("total_dec").cast("double").as("total"))
        }.orderBy("window_start", "segment")
        finally dim.unpersist()
      },
      Some(sqlWindowRollup("c_mktsegment AS segment", "segment",
        "events JOIN customer ON user_id + 1 = c_custkey")),
    ),

    // ---- stream-stream interval join through the real engine ---------------
    // The fifth canonical streaming op: TWO live streams (clicks, views)
    // inner-joined on user within a 24-hour event-time interval —
    // click-to-view attribution. Both sides carry watermarks and the join
    // condition bounds both event times, so Spark derives the state
    // retention window per side and evicts joined state as the watermarks
    // advance (unbounded state otherwise — the classic stream-join trap).
    // Inner join in Append emits each matched pair in the micro-batch where
    // both rows are present; replaying both streams in lockstep four-week
    // slices makes the emitted SET the full join result, so no flush
    // sentinel is needed (watermarks only bound state here, never output).
    // Oracle = the plain batch interval join.
    QueryEntry(
      "q_stream_stream_join",
      (s, dir) => {
        import s.implicits._
        val rows = Tables.t(s, dir, "events")
          .filter(col("event_type").isin("click", "view"))
          .select(col("ts").cast("timestamp"), col("user_id"),
            col("event_id"), col("event_type"))
          .collect().toSeq
          .map[Either[ClickEv, ViewEv]] { r =>
            if (r.getString(3) == "click")
              Left(ClickEv(r.getTimestamp(0), r.getLong(1), r.getLong(2)))
            else Right(ViewEv(r.getTimestamp(0), r.getLong(1), r.getLong(2)))
          }
        val memC = MemoryStream[ClickEv](s)
        val memV = MemoryStream[ViewEv](s)
        val joined = memC.toDS().withWatermark("cts", "1 hour")
          .join(memV.toDS().withWatermark("vts", "1 hour"),
            expr("""c_user = v_user AND
                    vts >= cts AND vts <= cts + interval 24 hours"""))
          .select(col("click_id"), col("view_id"),
            col("c_user").as("user_id"),
            (unix_micros(col("vts")) - unix_micros(col("cts"))).as("gap_us"))
        // each lockstep micro-batch pays two state-store commit rounds;
        // four-week slices keep this replay in the other entries' class
        val batches = slices(rows, SliceMs)(e => e.fold(_.cts, _.vts).getTime)
          .map(_.partitionMap(identity))
        toMemory[(Seq[ClickEv], Seq[ViewEv]), AttributedPair](s,
            "q_stream_stream_join", joined, batches) { case (c, v) =>
          memC.addData(c)
          memV.addData(v)
        }.orderBy("click_id", "view_id")
      },
      Some("""WITH a AS (SELECT event_id AS click_id, ts AS cts, user_id
              FROM events WHERE event_type = 'click'),
            b AS (SELECT event_id AS view_id, ts AS vts, user_id
              FROM events WHERE event_type = 'view')
          SELECT a.click_id, b.view_id, a.user_id,
            epoch_us(vts) - epoch_us(cts) AS gap_us
          FROM a JOIN b ON a.user_id = b.user_id
            AND vts >= cts AND vts <= cts + INTERVAL 24 HOUR
          ORDER BY click_id, view_id"""),
    ),

    // ---- exactly-once Glacier sink through the real engine -----------------
    // Streaming ingestion INTO the snapshot layer ([[GlacierSink]]): the
    // events table replayed in four-week slices through foreachBatch, each
    // micro-batch an atomic Glacier commit carrying its batch id. After the
    // stream stops, batch 0 is re-delivered by hand (the crash-replay
    // shape) — the sink must skip it, and the ORACLE proves it: any
    // duplicate rows would break the hashed row-count/values against the
    // plain table read. This turns the exactly-once write path into a
    // CORRECTNESS row instead of trust-the-spec (`GlacierSinkSpec` covers
    // the mechanics).
    QueryEntry(
      "q_stream_sink_replay",
      (s, dir) => {
        import s.implicits._
        val cols = Seq("ts", "event_id", "user_id", "value")
        val rows = Tables.t(s, dir, "events")
          .select(col("ts").cast("timestamp"), col("event_id"),
            col("user_id"), col("value").cast("double"))
          .as[(Timestamp, Long, Long, Double)].collect().toSeq
        val batches = slices(rows, SliceMs)(_._1.getTime)
        val g =
          new graft.tables.Glacier(graft.BenchDirs.scratchDir("stream-sink"))
        val mem = MemoryStream[(Timestamp, Long, Long, Double)](s)
        replay(s, batches, mem.toDF().toDF(cols: _*).writeStream
            .foreachBatch(GlacierSink.appendBatch(g, "events_sink") _))(
            b => mem.addData(b))(())
          .fold(s.createDataset(Seq.empty[(Long, Long, Double)])
            .toDF(cols.tail: _*)) { _ =>
            // crash-replay: re-deliver batch 0 with its original id — the
            // sink's high-water mark skips it; duplicates would fail the hash
            GlacierSink.appendBatch(g, "events_sink")(
              s.createDataset(batches.head).toDF(cols: _*), 0L)
            g.read(s, "events_sink").get
              .select(cols.tail.map(col): _*)
              .orderBy("event_id")
          }
      },
      Some("""SELECT event_id, user_id, value FROM events
          ORDER BY event_id"""),
    ),

    // ---- stateful gap sessionization through the real engine ---------------
    // The third canonical streaming op: 30-min-gap sessions per user via
    // flatMapGroupsWithState with event-time timeouts
    // ([[StreamingSessionize]]), replayed in event-time-ordered four-week
    // slices. The oracle is the BATCH sessionizer's SQL verbatim — the
    // stream must reproduce the batch rollups (ordinals, decimal-exact
    // sums) exactly. The flush sentinel (user -1) advances the watermark so
    // every real user's open session times out and Append emits it;
    // sentinel output is excluded by TIME (its session starts years past
    // the last real event — and it can't emit anyway, the watermark never
    // passes it).
    QueryEntry(
      "q_stream_sessionize_replay",
      (s, dir) => {
        import s.implicits._
        import StreamingSessionize.{SessionEvent, SessionRow}
        val rows = Tables.t(s, dir, "events")
          .select(col("ts").cast("timestamp"), col("user_id").as("userId"),
            col("event_id").as("eventId"), col("value").cast("double"))
          .as[SessionEvent].collect().toSeq
        replayRows[SessionEvent, SessionRow](s, "q_stream_sessionize_replay",
            rows, _.ts.getTime, Some(SessionEvent(_, -1L, 0L, 0.0)),
            (o, lastMs) => o.start_us <= lastMs * 1000L + 999L) { ev =>
          StreamingSessionize.sessionizeStream(ev).toDF()
        }.orderBy("user_id", "session_id")
      },
      Some(graft.operators.TemporalJoins.SessionizeSql),
    ),

    // ---- NATIVE session windows through the real engine ---------------------
    // The same 30-min-gap sessions driven by Spark's BUILT-IN
    // session_window aggregate instead of custom flatMapGroupsWithState
    // state (the Spark-first preference order: built-in operator before
    // hand-rolled state). The engine keeps ONE merged session per (user,
    // gap-run) in the state store, extends/merges as events arrive, and
    // finalizes when the watermark passes session end. Merge rule
    // (diff <= gap joins the run) matches the batch lag-rule twin exactly,
    // so the oracle is the same lag + running-sum SQL aggregated to session
    // bounds (end = max ts + gap = session_window.end). Replayed in
    // four-week slices; the flush sentinel (user -1, dropped by sign)
    // closes every real session.
    QueryEntry(
      "q_stream_session_window",
      (s, dir) => {
        import s.implicits._
        val rows = Tables.t(s, dir, "events")
          .select(col("ts").cast("timestamp"), col("user_id"),
            col("value").cast("double"))
          .as[SessEvent].collect().toSeq
        replayRows[SessEvent, SessionOut](s, "q_stream_session_window", rows,
            _.ts.getTime, Some(SessEvent(_, -1L, 0.0)),
            (o, _) => o.user_id >= 0) { ev =>
          ev.withWatermark("ts", "1 hour")
            .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
            .agg(count(lit(1)).as("n_events"),
              sum(col("value").cast("decimal(28,6)")).as("total_dec"))
            .select(col("user_id"),
              unix_micros(col("session_window.start")).as("start_us"),
              unix_micros(col("session_window.end")).as("end_us"),
              col("n_events"),
              col("total_dec").cast("double").as("total_value"))
        }.orderBy("user_id", "start_us")
      },
      Some("""WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id,
              value FROM events),
            f AS (SELECT *,
              CASE WHEN lag(ts_us) OVER w IS NULL
                     OR ts_us - lag(ts_us) OVER w > 1800000000
                   THEN 1 ELSE 0 END AS new_session
              FROM e WINDOW w AS (PARTITION BY user_id
                ORDER BY ts_us, event_id)),
            g AS (SELECT *,
              CAST(sum(new_session) OVER (PARTITION BY user_id
                ORDER BY ts_us, event_id
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid FROM f)
          SELECT user_id, min(ts_us) AS start_us,
            max(ts_us) + 1800000000 AS end_us, count(*) AS n_events,
            CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total_value
          FROM g GROUP BY user_id, sid ORDER BY user_id, start_us"""),
    ),
  )
}
