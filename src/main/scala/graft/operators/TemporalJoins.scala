package graft.operators

import graft.{QueryEntry, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Temporal join operators Spark lacks natively, composed Spark-first
  * (preference (a) of the brief: existing ops express the semantics — no
  * custom SparkPlan needed):
  *
  *  - AS-OF join via the UNION-TAG pattern: both sides union into one
  *    stream tagged by side, ONE shuffle on the join key, and a running
  *    `last(..., ignoreNulls)` window carries the most recent right-side
  *    row forward onto each left row. No join operator at all — the
  *    quadratic "latest row ≤ t per row" subquery becomes a linear pass,
  *    and the window is partitioned by user (never global). This is the
  *    scale shape for point-in-time feature joins at 100 TB.
  *  - RANGE join via TIME-BUCKETING: right-side rows explode into their
  *    own bucket and the successor bucket, the join runs on the EQUI key
  *    (user, bucket), and the exact interval predicate filters after.
  *    Candidate volume = O(rows × window/bucket), never the cross
  *    product; a naive inequality join is what Spark would otherwise
  *    plan (BroadcastNestedLoop — the scan-per-row shape).
  *
  * Both oracles use DuckDB's native forms (ASOF JOIN / inequality join),
  * so the compare is against an independent implementation of the
  * SEMANTICS, not a re-expression of the same plan. Time arithmetic is
  * integer microseconds end-to-end (no float/interval drift).
  */
object TemporalJoins {
  import Tables.t

  /** AS-OF join: for each left row, the most recent right row with
    * `rightTs <= leftTs` and equal keys (inclusive, latest-wins; right
    * side deduped per (key, ts) by largest tiebreak first). */
  def asOfJoin(left: DataFrame, right: DataFrame, key: String, ts: String,
               rightCols: Seq[String]): DataFrame = {
    val wDedup = Window.partitionBy(col(key), col(ts))
      .orderBy(col(rightCols.head).desc)
    val r = right.withColumn("__rn", row_number().over(wDedup))
      .filter(col("__rn") === 1).drop("__rn")
    val leftTagged = left.withColumn("__side", lit(1))
      .select(Seq(col(key), col(ts), col("__side")) ++
        left.columns.filterNot(c => c == key || c == ts).map(col) ++
        rightCols.map(c => lit(null).cast(r.schema(c).dataType).as(s"r_$c")): _*)
    val rightTagged = r.withColumn("__side", lit(0))
      .select(Seq(col(key), col(ts), col("__side")) ++
        left.columns.filterNot(c => c == key || c == ts)
          .map(c => lit(null).cast(left.schema(c).dataType).as(c)) ++
        rightCols.map(c => col(c).as(s"r_$c")): _*)
    // right rows sort BEFORE left rows at equal ts (__side 0 < 1) — the
    // inclusive bound; running last-ignoreNulls carries them forward
    val w = Window.partitionBy(col(key))
      .orderBy(col(ts).asc, col("__side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = rightCols.foldLeft(leftTagged.unionByName(rightTagged)) {
      (df, c) => df.withColumn(s"r_$c", last(col(s"r_$c"), ignoreNulls = true).over(w))
    }
    carried.filter(col("__side") === 1).drop("__side")
  }

  /** Bucketed range join: per left row, aggregate right rows of the same
    * key with `leftTs - window <= rightTs < leftTs` (strictly prior).
    * `tsMicros` columns are longs; bucket = floor(ts / window). */
  def priorWindowCount(left: DataFrame, right: DataFrame, key: String,
                       tsMicros: String, windowMicros: Long): DataFrame = {
    val b = (c: Column) => floor(c / windowMicros)
    val l = left.withColumn("__lb", b(col(tsMicros)))
    // a right row at bucket k can only match left rows in buckets {k, k+1}
    val r = right
      .select(col(key).as("__rk"), col(tsMicros).as("__rts"))
      .withColumn("__rb", explode(array(b(col("__rts")), b(col("__rts")) + 1)))
    l.join(r, col(key) === col("__rk") && col("__lb") === col("__rb") &&
        col("__rts") >= col(tsMicros) - windowMicros &&
        col("__rts") < col(tsMicros), "left")
      .groupBy(l.columns.map(col): _*)
      .agg(count(col("__rts")).as("prior_events"))
      .drop("__lb")
  }

  /** An event's timestamp as epoch microseconds. */
  private def tsMicros: Column = unix_micros(col("ts").cast("timestamp"))

  /** The events table with [[tsMicros]] added as `ts_us`. */
  private def eventsMicros(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events").withColumn("ts_us", tsMicros)

  /** The oracle of `q_sessionize` — and of its streaming twin
    * `q_stream_sessionize_replay`, which must reproduce the batch rollups
    * exactly. */
  private[graft] val SessionizeSql =
    """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id, value
              FROM events),
            f AS (SELECT *,
              CASE WHEN lag(ts_us) OVER w IS NULL
                     OR ts_us - lag(ts_us) OVER w > 1800000000
                   THEN 1 ELSE 0 END AS new_session
              FROM e WINDOW w AS (PARTITION BY user_id
                ORDER BY ts_us, event_id)),
            g AS (SELECT *,
              CAST(sum(new_session) OVER (PARTITION BY user_id
                ORDER BY ts_us, event_id
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
              FROM f)
          SELECT user_id, session_id, count(*) AS n_events,
            min(ts_us) AS start_us, max(ts_us) AS end_us,
            CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total_value,
            max(ts_us) - min(ts_us) AS duration_us
          FROM g GROUP BY user_id, session_id
          ORDER BY user_id, session_id"""

  def entries: Seq[QueryEntry] = Seq(
    // ---- weekly cohort retention --------------------------------------------
    // the product-analytics staple: users bucketed by first-active week
    // (cohort), counted at each later week offset. Both aggregations and
    // the join share the user_id key, so one shuffle partitioning serves
    // the distinct, the cohort min, and the join; the final rollup's
    // grain is cohorts × offsets (tiny at any corpus size).
    QueryEntry(
      "q_retention_cohorts",
      (s, dir) => {
        val uw = t(s, dir, "events")
          .select(col("user_id"),
            expr("unix_timestamp(ts) div 604800").as("wk"))
          .distinct()
        val cohort = uw.groupBy("user_id")
          .agg(min(col("wk")).as("cohort_week"))
        uw.join(cohort, "user_id")
          .groupBy(col("cohort_week"),
            (col("wk") - col("cohort_week")).as("week_offset"))
          .agg(count(lit(1)).as("n_users"))
          .orderBy("cohort_week", "week_offset")
      },
      Some("""WITH uw AS (SELECT DISTINCT user_id,
              CAST(floor(epoch(ts) / 604800) AS BIGINT) AS wk FROM events),
            c AS (SELECT user_id, min(wk) AS cohort_week FROM uw GROUP BY 1)
          SELECT cohort_week, wk - cohort_week AS week_offset,
                 count(*) AS n_users
          FROM uw JOIN c USING (user_id)
          GROUP BY 1, 2 ORDER BY 1, 2"""),
    ),
    // ---- ordered funnel: view → click → purchase, each step strictly ----
    // after the user's entry into the previous one. Classic product-
    // analytics op the reference's event users would run: step k's entry
    // time = min(ts of step-k events after the step-(k-1) entry), so a
    // user converts only along a genuinely ordered path (a purchase before
    // the first view does NOT count). Three passes, but all keyed on
    // user_id — the per-step aggregates and the joins ride ONE shuffle
    // partitioning family, and per-user state is one timestamp per step,
    // so the op holds at any event volume. Output grain = steps (3 rows).
    QueryEntry.sql("q_funnel", "events")(
      """WITH v AS (SELECT user_id, min(ts) AS t1 FROM events
              WHERE event_type = 'view' GROUP BY 1),
            c AS (SELECT e.user_id, min(e.ts) AS t2
              FROM events e JOIN v USING (user_id)
              WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY 1),
            p AS (SELECT e.user_id, min(e.ts) AS t3
              FROM events e JOIN c USING (user_id)
              WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY 1)
          SELECT * FROM (
            SELECT 'step1_view' AS step, CAST(count(*) AS BIGINT) AS n_users FROM v
            UNION ALL
            SELECT 'step2_click', CAST(count(*) AS BIGINT) FROM c
            UNION ALL
            SELECT 'step3_purchase', CAST(count(*) AS BIGINT) FROM p
          ) ORDER BY step"""),
    // ---- as-of join: each click gets the user's latest prior purchase ----
    QueryEntry(
      "q_asof_join",
      (s, dir) => {
        val ev = eventsMicros(s, dir)
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts_us"), col("event_id"), col("value"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts_us"),
            col("event_id").as("p_event_id"), col("value").as("p_value"))
        asOfJoin(clicks, purchases, "user_id", "ts_us",
          Seq("p_event_id", "p_value"))
          .select(col("event_id"), col("user_id"), col("ts_us"),
            col("r_p_event_id").as("purchase_event_id"),
            col("r_p_value").as("purchase_value"))
          .orderBy("event_id")
      },
      Some("""WITH c AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id, value
              FROM events WHERE event_type = 'click'),
            p0 AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id, value
              FROM events WHERE event_type = 'purchase'),
            p AS (SELECT * FROM (SELECT p0.*,
                row_number() OVER (PARTITION BY user_id, ts_us
                  ORDER BY event_id DESC) AS rn FROM p0) WHERE rn = 1)
          SELECT c.event_id, c.user_id, c.ts_us,
            p.event_id AS purchase_event_id, p.value AS purchase_value
          FROM c ASOF LEFT JOIN p
            ON c.user_id = p.user_id AND c.ts_us >= p.ts_us
          ORDER BY c.event_id"""),
    ),
    // ---- bucketed range join: strictly-prior 10-minute event count ------
    QueryEntry(
      "q_range_join",
      (s, dir) => {
        val tenMin = 600L * 1000000L
        val ev = eventsMicros(s, dir)
        val errors = ev.filter(col("event_type") === "error")
          .select(col("user_id"), col("ts_us"), col("event_id"))
        val all = ev.select(col("user_id"), col("ts_us"))
        priorWindowCount(errors, all, "user_id", "ts_us", tenMin)
          .select(col("event_id"), col("user_id"), col("ts_us"),
            col("prior_events"))
          .orderBy("event_id")
      },
      Some("""WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id
              FROM events WHERE event_type = 'error'),
            a AS (SELECT user_id, epoch_us(ts) AS ts_us FROM events)
          SELECT e.event_id, e.user_id, e.ts_us,
            count(a.ts_us) AS prior_events
          FROM e LEFT JOIN a
            ON e.user_id = a.user_id
           AND a.ts_us >= e.ts_us - 600000000
           AND a.ts_us < e.ts_us
          GROUP BY e.event_id, e.user_id, e.ts_us
          ORDER BY e.event_id"""),
    ),
    // ---- sessionization: 30-min-gap sessions per user --------------------
    // lag + running sum of session-start flags — ONE shuffle on user_id,
    // both windows share the partitioning; session rollup rides a partial
    // agg. The canonical event-stream shaping op for behavioral corpora.
    QueryEntry(
      "q_sessionize",
      (s, dir) => {
        val gap = 1800L * 1000000L
        val ev = t(s, dir, "events")
          .select(col("user_id"),
            tsMicros.as("ts_us"),
            col("event_id"), col("value"))
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts_us").asc, col("event_id").asc)
        val newSession = when(
          lag(col("ts_us"), 1).over(w).isNull ||
            col("ts_us") - lag(col("ts_us"), 1).over(w) > gap, 1L)
          .otherwise(0L)
        ev.withColumn("session_id",
            sum(newSession).over(w.rowsBetween(Window.unboundedPreceding,
              Window.currentRow)))
          .groupBy(col("user_id"), col("session_id"))
          .agg(count(lit(1)).as("n_events"),
            min(col("ts_us")).as("start_us"),
            max(col("ts_us")).as("end_us"),
            sum(col("value").cast("decimal(28,6)")).cast("double")
              .as("total_value"))
          .withColumn("duration_us", col("end_us") - col("start_us"))
          .orderBy("user_id", "session_id")
      },
      Some(SessionizeSql),
    ),
    // ---- time-series gap fill (resample to a regular daily grid) -----------
    // The series-regularization op every downstream model wants: per user,
    // DAILY buckets from that user's first to last active day, missing
    // days materialized with zero counts. The grid comes from
    // `sequence(lo, hi)` exploded off the per-user span — generated rows
    // scale with user-span days, never users × global-calendar; the grid
    // join is a left join back onto the per-(user, day) rollup, all three
    // stages sharing the user_id-keyed shuffle family. Bucket ids are
    // exact integer epoch-day divisions (no timestamp arithmetic to
    // diverge cross-engine); users < 50 keep the sandbox dump bounded.
    QueryEntry(
      "q_gap_fill",
      (s, dir) => {
        val e = Tables.t(s, dir, "events")
          .filter(col("user_id") < 50)
          .select(col("user_id"),
            expr("unix_micros(cast(ts as timestamp)) div 86400000000")
              .as("day"),
            col("value"))
        val agg = e.groupBy("user_id", "day")
          .agg(count(lit(1)).as("n_events"),
            sum(col("value").cast("decimal(28,6)")).as("tot_dec"))
        val grid = agg.groupBy("user_id")
          .agg(min("day").as("lo"), max("day").as("hi"))
          .select(col("user_id"),
            explode(sequence(col("lo"), col("hi"))).as("day"))
        grid.join(agg, Seq("user_id", "day"), "left")
          .select(col("user_id"), col("day"),
            coalesce(col("n_events"), lit(0L)).as("n_events"),
            coalesce(col("tot_dec").cast("double"), lit(0.0)).as("total"))
          .orderBy("user_id", "day")
      },
      Some("""WITH e AS (SELECT user_id,
              epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day, value
            FROM events WHERE user_id < 50),
          a AS (SELECT user_id, day, count(*) AS n_events,
              sum(CAST(value AS DECIMAL(28,6))) AS tot_dec
            FROM e GROUP BY 1, 2),
          s AS (SELECT user_id, min(day) AS lo, max(day) AS hi
            FROM a GROUP BY 1),
          f AS (SELECT user_id, unnest(generate_series(lo, hi)) AS day
            FROM s)
          SELECT f.user_id, f.day, coalesce(n_events, 0) AS n_events,
            CAST(coalesce(tot_dec, 0) AS DOUBLE) AS total
          FROM f LEFT JOIN a ON f.user_id = a.user_id AND f.day = a.day
          ORDER BY f.user_id, f.day"""),
    ),
    // ---- event transition matrix (first-order Markov counts) ---------------
    // prev→next event-type transition counts with per-source-state ppm
    // shares: the behavioral-model prep over event sequences. The lag
    // window and the rollup share the user_id shuffle family; the ppm
    // normalization is a window over the |types|² grouped result (25
    // rows), integer-exact. Ties impossible: (ts, event_id) is unique.
    QueryEntry(
      "q_transition_matrix",
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        val pairs = Tables.t(s, dir, "events")
          .select(col("user_id"), col("ts"), col("event_id"),
            col("event_type"))
          .select(col("event_type").as("cur"),
            lag(col("event_type"), 1).over(w).as("prev"))
          .filter(col("prev").isNotNull)
        pairs.groupBy("prev", "cur").agg(count(lit(1)).as("n"))
          .withColumn("row_ppm",
            expr("n * 1000000 div sum(n) over (partition by prev)"))
          .orderBy("prev", "cur")
      },
      Some("""WITH p AS (SELECT event_type AS cur,
              lag(event_type) OVER (PARTITION BY user_id
                ORDER BY ts, event_id) AS prev
            FROM events),
          c AS (SELECT prev, cur, count(*) AS n FROM p
            WHERE prev IS NOT NULL GROUP BY 1, 2)
          SELECT prev, cur, n,
            n * 1000000 // CAST(sum(n) OVER (PARTITION BY prev) AS BIGINT)
              AS row_ppm
          FROM c ORDER BY prev, cur"""),
    ),
    // ---- typed per-group kernel (KeyValueGroupedDataset.mapGroups) ----------
    // Max-subarray (Kadane) over each user's time-ordered centered-cents
    // sequence — a genuinely imperative per-group kernel through the TYPED
    // Dataset API: groupByKey(user).mapGroups sorts the group in memory
    // and scans once. ONE shuffle on user_id; per-group memory = that
    // group's events (bounded here; the 100 TB variant is secondary sort:
    // repartition(user) + sortWithinPartitions + one mapPartitions scan,
    // same single shuffle). The ORACLE is the closed-form prefix identity
    // — max over t of (prefix(t) − min(0, prefix(<t))) — so the imperative
    // kernel and the declarative window formulation must agree exactly
    // (integer cents, no float drift). The burst-detection / drawdown /
    // hottest-window primitive.
    QueryEntry(
      "q_max_subarray",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "events")
          .select(col("user_id"),
            tsMicros.as("ts_us"),
            col("event_id"),
            (expr("CAST(round(value * 100) AS BIGINT)") - lit(5000L))
              .as("cents"))
          .as[(Long, Long, Long, Long)]
          .groupByKey(_._1)
          .mapGroups { (uid, it) =>
            val xs = it.toArray.sortBy(e => (e._2, e._3)).map(_._4)
            var best = Long.MinValue
            var cur = 0L
            xs.foreach { v =>
              cur = math.max(v, cur + v)
              best = math.max(best, cur)
            }
            (uid, best, xs.length.toLong)
          }
          .toDF("user_id", "max_window_cents", "n_events")
          .orderBy("user_id")
      },
      Some("""WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id,
              CAST(round(value * 100) AS BIGINT) - 5000 AS cents FROM events),
            p AS (SELECT user_id, ts_us, event_id, sum(cents) OVER w AS pfx
              FROM e WINDOW w AS (PARTITION BY user_id
                ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING)),
            b AS (SELECT user_id,
              pfx - LEAST(CAST(0 AS BIGINT),
                coalesce(min(pfx) OVER (PARTITION BY user_id
                  ORDER BY ts_us, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))
                AS cand
              FROM p)
          SELECT user_id, CAST(max(cand) AS BIGINT) AS max_window_cents,
            count(*) AS n_events
          FROM b GROUP BY user_id ORDER BY user_id"""),
    ),
  )
}
