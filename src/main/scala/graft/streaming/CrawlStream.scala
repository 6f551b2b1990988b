package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Live crawl telemetry as Structured Streaming over the fetch-event
  * stream. The reference is a batch crawler (SURVEY §2.9 — no streams),
  * but a production deployment of this engine tails its own crawl log:
  * the BSP loop appends to the Glacier `crawl_log` table, and these
  * queries run against the same rows as an unbounded stream (an event
  * bus between the two; a file-source stream over the table directories
  * would bypass the manifests and pick up uncommitted staged dirs).
  *
  *  - [[hostRates]]: watermarked sliding-window fetch/error rates per host
  *    (the dashboard surface).
  *  - [[circuitBreaker]]: per-host failure-streak state machine via
  *    `flatMapGroupsWithState` — a host whose consecutive non-200 count
  *    crosses the threshold emits a `pause` event, a later success emits
  *    `resume` (the politeness layer consumes these to zero a host's
  *    budget, the streaming analog of the reference's give-up/backoff,
  *    core/toolbox.py:29-117).
  *
  * Scale: both queries partition by host — state lives on the shuffle key,
  * so 10^3-10^4 hosts spread across executors with per-host state of O(1)
  * (a count + a flag); watermarking bounds window state. Event time comes
  * from the politeness scheduler's simulated clock, so replays are
  * deterministic.
  */
object CrawlStream {

  /** One fetch observation (the crawl_log row + its simulated-time stamp). */
  final case class FetchEvent(ts: Timestamp, host: String, url: String,
      status: Int, attempts: Int)

  /** Sliding-window per-host rates: 60 s windows every 30 s, 2 min
    * watermark on the simulated event clock. */
  def hostRates(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 minutes")
      .groupBy(window(col("ts"), "60 seconds", "30 seconds"), col("host"))
      .agg(
        count(lit(1)).as("fetched"),
        count_if(col("status") === 200).as("ok"),
        count_if(col("status") =!= 200).as("errors"),
        sum(col("attempts")).as("attempts"))

  /** Per-host breaker state: consecutive failures + open/closed flag. */
  final case class BreakerState(consecutiveFailures: Int, open: Boolean)

  /** Emitted transition. `action` ∈ pause | resume. */
  final case class BreakerEvent(host: String, action: String,
      atFailures: Int)

  /** Open the breaker after `threshold` consecutive non-200s; close it on
    * the next success. Exactly-once transitions (no repeated pauses while
    * already open).
    */
  def circuitBreaker(events: Dataset[FetchEvent], threshold: Int)
      : Dataset[BreakerEvent] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.host)
      .flatMapGroupsWithState(
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (host: String, it: Iterator[FetchEvent],
         state: GroupState[BreakerState]) =>
          var s = state.getOption.getOrElse(BreakerState(0, open = false))
          val out = Seq.newBuilder[BreakerEvent]
          // deterministic order within the micro-batch: the minted crawl
          // order is (ts, url); state transitions must not depend on
          // partition iteration order
          it.toSeq.sortBy(e => (e.ts.getTime, e.url)).foreach { e =>
            if (e.status == 200) {
              if (s.open) out += BreakerEvent(host, "resume", s.consecutiveFailures)
              s = BreakerState(0, open = false)
            } else {
              val n = s.consecutiveFailures + 1
              val opens = !s.open && n >= threshold
              if (opens) out += BreakerEvent(host, "pause", n)
              s = BreakerState(n, s.open || opens)
            }
          }
          state.update(s)
          out.result().iterator
      }
  }
}
