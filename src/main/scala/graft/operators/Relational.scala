package graft.operators

import graft.{QueryEntry, Tables}
import org.apache.spark.sql.{Column, DataFrame, RelationalGroupedDataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Relational operator suite re-expressing the reference's filter / dedup /
  * join / aggregation semantics (SURVEY.md §2.3-§2.7) over the driver's
  * TPC-H-ish tables.
  *
  * Plain-relational entries (dedup, semi/anti joins, rollups, timelines,
  * windows, set ops, null semantics, the SQL surface) run their oracle
  * text: `QueryEntry.sql` hands the one frozen ANSI string to `spark.sql`
  * as well as to DuckDB, so no DataFrame twin can drift from it. A
  * DataFrame builder remains where the text does not run in Spark, or
  * where the builder adds what the text can't say: a broadcast or shuffle
  * hint, salting, a bloom pre-filter, a Glacier or file-layout step, a
  * reusable operator (`excludeFiles` over the crawl post-pass's
  * `exclusionLabel`, `snapshotDiff`, `profileColumns`) or a
  * single-operator plan (`unpivot`'s Expand).
  *
  * Scale notes (100 TB design intent):
  *  - aggregations are plain `groupBy` → Catalyst plans partial (map-side)
  *    aggregation automatically, so the shuffle carries pre-combined rows;
  *  - dimension joins (`nation`, `region`, `customer`) are explicitly
  *    `broadcast()` where the builder stays — no shuffle of the fact side;
  *  - double sums go through `Decimal(28,6)` so results are
  *    order-independent (bit-exact under any partitioning / AQE re-plan),
  *    which is what makes them checkable against a single-threaded oracle
  *    AND reproducible on a 1000-executor cluster;
  *  - first-wins dedup (reference `toolbox.py:192-209`, O(n²) list scan) is
  *    re-expressed as one shuffle: window `row_number` over the dedup key
  *    ordered by the discovery sequence.
  */
object Relational {
  /** Exact, order-independent sum of a double column (bit-stable at any
    * parallelism): sum in decimal, surface as double.
    */
  private def dsum(c: Column): Column =
    sum(c.cast(DecimalType(28, 6))).cast("double")

  import Tables.t

  /** Per-event_type row count and decimal-exact value total. */
  private def eventTypeTotals(df: DataFrame): DataFrame =
    df.groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(28, 6))).cast("double")
          .as("total"))
      .orderBy("event_type")

  /** The SQL twin of [[eventTypeTotals]] over `events`, up to its filter. */
  private val sqlEventTypeTotals =
    """SELECT event_type, count(*) AS n,
            CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total
          FROM events WHERE"""

  /** Per grouping set of (o_orderstatus, o_orderpriority): order count,
    * decimal-exact price total and the grouping id. */
  private def groupingSetTotals(g: RelationalGroupedDataset): DataFrame =
    g.agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(28,6)")).cast("double")
          .as("total"),
        grouping_id().as("gid"))
      .orderBy("gid", "o_orderstatus", "o_orderpriority")

  /** The SQL twin of [[groupingSetTotals]] over `orders`, up to the
    * grouping clause. */
  private val sqlGroupingSetTotals =
    """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
            CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS total,
            CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid
          FROM orders GROUP BY"""

  /** The explicit salting pattern for a hot join key: the fact side
    * (`events`) carries a deterministic salt (event_id mod 8), the
    * dimension (`customer`) is replicated once per salt value, and the join
    * key becomes (key, salt) — one hot key's rows land on 8 reducers
    * instead of 1. The dim side is hinted shuffle_hash, NOT broadcast:
    * salting is the remedy for exactly the case where broadcast is
    * impossible, and under a broadcast there is no join-side exchange for
    * the salt to spread. The result is salt-invariant (the oracle is the
    * plain join): per market segment (the column `segment` names), the
    * row count and the decimal-exact value total.
    */
  private def saltedJoin(s: SparkSession, dir: String,
                         segment: String): DataFrame = {
    val nSalt = 8
    val ev = t(s, dir, "events")
      .select(col("user_id"), col("value"),
        pmod(col("event_id"), lit(nSalt.toLong)).as("salt"))
    val dim = t(s, dir, "customer")
      .select((col("c_custkey") - 1).as("user_id"),
        col("c_mktsegment").as(segment))
      .withColumn("salt",
        explode(array((0 until nSalt).map(i => lit(i.toLong)): _*)))
    ev.join(dim.hint("shuffle_hash"), Seq("user_id", "salt"))
      .groupBy(segment)
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(28,6)")).cast("double").as("total"))
      .orderBy(segment)
  }

  def entries: Seq[QueryEntry] = Seq(
    // ---- A-ops: aggregation --------------------------------------------
    QueryEntry.sql("q_agg_pricing", "lineitem")(
      """SELECT l_returnflag, l_linestatus,
        CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sum_qty,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) AS sum_base_price,
        CAST(sum(CAST(l_extendedprice * (CAST(1.0 AS DOUBLE) - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS sum_disc_price,
        CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) / count(*) AS avg_qty,
        count(*) AS count_order
        FROM lineitem GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus"""),
    // ---- F-ops: filter + projection (pushed to the parquet scan) --------
    QueryEntry.sql("q_filter_pushdown", "lineitem")(
      """SELECT l_orderkey, l_linenumber, l_extendedprice
        FROM lineitem
        WHERE l_shipdate < TIMESTAMP '1996-06-01' AND l_discount > 0.05
        ORDER BY l_orderkey, l_linenumber"""),
    // ---- J-ops: star join, dimensions broadcast -------------------------
    QueryEntry(
      "q_join_agg",
      (s, dir) => {
        val o = t(s, dir, "orders")
        val c = t(s, dir, "customer")
        val n = t(s, dir, "nation")
        val r = t(s, dir, "region")
        o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
          .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
          .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
          .groupBy(col("r_name"), col("n_name"))
          .agg(dsum(col("o_totalprice")).as("revenue"),
               count(lit(1)).as("n_orders"))
          .orderBy("r_name", "n_name")
      },
      Some("""SELECT r_name, n_name,
        CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS revenue,
        count(*) AS n_orders
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name, n_name ORDER BY r_name, n_name"""),
    ),
    QueryEntry.sql("q_left_join_agg", "customer", "orders")(
      """SELECT c_custkey, count(o_orderkey) AS n_orders,
        coalesce(CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE), 0.0) AS total_spent
        FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        GROUP BY c_custkey ORDER BY c_custkey"""),
    // semi / anti joins: the reference's isin / ~isin removal semantics
    // (false-positive removal, toolbox.py:390-418) → left_semi / left_anti.
    QueryEntry.sql("q_semi_join", "customer", "orders")(
      """SELECT c_custkey, c_name FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
        ORDER BY c_custkey"""),
    QueryEntry.sql("q_anti_join", "customer", "orders")(
      """SELECT c_custkey, c_name, c_acctbal FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_totalprice > CAST(150000.0 AS DOUBLE))
        ORDER BY c_custkey"""),
    // ---- A1: false-positive detector (groupBy + collect_set + intersect)
    // reference core/toolbox.py:328-387 re-keyed onto the events table:
    // "datasets" = users in the first 6 crawl-hours, "md file types" =
    // {purchase, signup}; a user is false-positive iff intersection empty.
    QueryEntry(
      "q_false_positive",
      (s, dir) => {
        val ev = t(s, dir, "events")
          .filter(col("ts") < lit("2024-01-01 06:00:00").cast("timestamp"))
        ev.groupBy(col("user_id"))
          .agg(count(lit(1)).as("total_events"),
               collect_set(col("event_type")).as("ets"))
          .filter(size(array_intersect(col("ets"),
            lit(Array("purchase", "signup")))) === 0)
          .select(col("user_id"), col("total_events"),
                  concat_ws(",", sort_array(col("ets"))).as("unique_event_types"))
          .orderBy(desc("total_events"), col("user_id"))
      },
      Some("""SELECT user_id, count(*) AS total_events,
        string_agg(DISTINCT event_type, ',' ORDER BY event_type) AS unique_event_types
        FROM events WHERE ts < TIMESTAMP '2024-01-01 06:00:00'
        GROUP BY user_id
        HAVING sum(CASE WHEN event_type IN ('purchase','signup') THEN 1 ELSE 0 END) = 0
        ORDER BY total_events DESC, user_id"""),
    ),
    // ---- A3: per-origin rollup with grand-total row ----------------------
    QueryEntry.sql("q_rollup", "orders")(
      """SELECT coalesce(o_orderpriority, 'TOTAL') AS priority,
        count(*) AS n_orders,
        CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS total
        FROM orders GROUP BY ROLLUP(o_orderpriority) ORDER BY priority"""),
    // ---- A4: timeline (year buckets) -------------------------------------
    QueryEntry.sql("q_timeline", "orders")(
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
        count(DISTINCT o_custkey) AS active_customers,
        count(*) AS n_orders,
        CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS total
        FROM orders GROUP BY 1 ORDER BY yr"""),
    // ---- D1/D2: order-preserving first-wins dedup ------------------------
    // reference toolbox.py:192-209 keeps the FIRST occurrence in encounter
    // order; here the encounter order is (ts, event_id) per (user, type).
    QueryEntry.sql("q_dedup_first_wins", "events")(
      """SELECT user_id, event_type, event_id, value FROM (
          SELECT user_id, event_type, event_id, value,
                 row_number() OVER (PARTITION BY user_id, event_type
                                    ORDER BY ts, event_id) AS rn
          FROM events) WHERE rn = 1 ORDER BY user_id, event_type"""),
    // ---- D6: exact distinct on a projection ------------------------------
    QueryEntry.sql("q_dedup_exact", "documents")(
      "SELECT DISTINCT lang, source FROM documents ORDER BY lang, source"),
    // ---- F3: exclusion filter (path-substring then basename-startswith) --
    // reference core/toolbox.py:265-325; filenames synthesized
    // deterministically from the documents table.
    QueryEntry(
      "q_exclusion_filter",
      (s, dir) => {
        val names = t(s, dir, "documents").select(
          col("doc_id"),
          concat(
            when(col("doc_id") % 7 === 0, lit("__MACOSX/")).otherwise(lit("")),
            lit("data/"), col("source"), lit("/"),
            when(col("doc_id") % 11 === 0, lit(".")).otherwise(lit("")),
            lit("doc_"), col("doc_id"),
            when(col("doc_id") % 5 === 0, lit(".gro"))
              .when(col("doc_id") % 5 === 1, lit(".mdp"))
              .when(col("doc_id") % 5 === 2, lit(".tar.gz"))
              .when(col("doc_id") % 5 === 3, lit(""))
              .otherwise(lit(".zip")),
          ).as("file_name"))
        excludeFiles(names, Seq("__MACOSX", ".git"), Seq("."))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, file_name FROM (
          SELECT doc_id,
            concat(CASE WHEN doc_id % 7 = 0 THEN '__MACOSX/' ELSE '' END,
                   'data/', source, '/',
                   CASE WHEN doc_id % 11 = 0 THEN '.' ELSE '' END,
                   'doc_', CAST(doc_id AS VARCHAR),
                   CASE WHEN doc_id % 5 = 0 THEN '.gro'
                        WHEN doc_id % 5 = 1 THEN '.mdp'
                        WHEN doc_id % 5 = 2 THEN '.tar.gz'
                        WHEN doc_id % 5 = 3 THEN ''
                        ELSE '.zip' END) AS file_name
          FROM documents)
        WHERE position('__MACOSX' IN file_name) = 0
          AND position('.git' IN file_name) = 0
          AND NOT starts_with(regexp_extract(file_name, '([^/]*)$', 1), '.')
        ORDER BY doc_id"""),
    ),
    // ---- sorts / limits: top-k ------------------------------------------
    QueryEntry.sql("q_topk", "orders")(
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 10"""),
    // ---- A5: running metrics (window cumulative sum) ----------------------
    QueryEntry.sql("q_window_running", "events")(
      """SELECT user_id, event_id,
        CAST(sum(CAST(value AS DECIMAL(28,6)))
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
          AS running_value
        FROM events ORDER BY user_id, event_id"""),
    // ---- salted join (explicit skew handling, north-rule axis A) -----------
    // see [[saltedJoin]]: the manual form of what the crawl loop's `salts`
    // config does for hot hosts
    QueryEntry(
      "q_skew_join_salted",
      (s, dir) => saltedJoin(s, dir, "segment"),
      Some("""SELECT c_mktsegment AS segment, count(*) AS n,
            CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total
          FROM events JOIN customer ON user_id + 1 = c_custkey
          GROUP BY 1 ORDER BY 1"""),
    ),
    // ---- ANSI SQL surface: the same query text runs on Spark AND DuckDB ----
    // a user of the reference can keep their SQL verbatim: spark.sql over
    // temp views, oracle = the identical string — the declarative surface
    // Catalyst optimizes exactly like the DataFrame form.
    // The text must stay ANSI-portable: explicit CASTs, no engine-specific functions.
    QueryEntry.sql("q_sql_surface", "orders", "customer")(
      """SELECT c_mktsegment, count(*) AS n_orders,
        CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS revenue
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_mktsegment ORDER BY c_mktsegment"""),
    // ---- correlated subqueries through the SQL surface ----------------------
    // EXISTS (→ Catalyst left-semi rewrite) and a correlated scalar count
    // (→ aggregate + outer-join rewrite) over the same outer row, in ONE
    // verbatim ANSI text both engines run — the de-correlation surface
    // reference users' SQL leans on. Emitted values are ints/strings only
    // (a correlated avg() of doubles would be visit-order-dependent in
    // Spark's float sum).
    QueryEntry.sql("q_correlated_subquery", "orders", "customer", "lineitem")(
      """SELECT o.o_orderkey, o.o_orderstatus
      FROM orders o
      WHERE EXISTS (SELECT 1 FROM customer c
                    WHERE c.c_custkey = o.o_custkey
                      AND c.c_mktsegment = 'BUILDING')
        AND (SELECT count(*) FROM lineitem l
             WHERE l.l_orderkey = o.o_orderkey) >= 5
      ORDER BY o.o_orderkey"""),
    // ---- TPC-H Q3 shape: selective 3-table join + grouped top-k -------------
    // The canonical multi-join: a highly selective dimension filter
    // (c_mktsegment) that Catalyst broadcasts, a date-partitioned fact
    // filter pushed to both scans, then one grouped sum and a bounded
    // top-10. Per-row revenue has ≤4 decimals (2dp price × 2dp discount),
    // so the DECIMAL(28,6) cast is exact and the sum order-free. The
    // deliberately declarative form is the point: join order, broadcast
    // choice and pushdown all come from the optimizer (PLANS.md audit).
    QueryEntry.sql("q_priority_join", "customer", "orders", "lineitem")(
      """SELECT l_orderkey, o_orderdate,
            CAST(sum(CAST(l_extendedprice * (1 - l_discount)
              AS DECIMAL(28,6))) AS DOUBLE) AS revenue
          FROM customer, orders, lineitem
          WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
            AND l_orderkey = o_orderkey
            AND o_orderdate < TIMESTAMP '1998-01-01'
            AND l_shipdate > TIMESTAMP '1998-01-01'
          GROUP BY 1, 2
          ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10"""),
    // ---- null semantics: null-safe equality, NULL groups, coalesce ----------
    // SQL's three-valued logic made portable: nullif plants NULLs, groupBy
    // keeps NULL as a group in both engines, and the join runs on <=>
    // (IS NOT DISTINCT FROM) so the NULL groups MATCH — a plain = join
    // silently drops them, the classic dedup-on-nullable-key bug. Output
    // key is coalesce-filled so row ordering/hashing never sees a NULL.
    QueryEntry.sql("q_null_semantics", "orders", "lineitem")(
      """WITH a AS (SELECT nullif(o_orderkey % 7, 0) AS k,
              count(*) AS n_orders FROM orders GROUP BY 1),
            b AS (SELECT nullif(l_orderkey % 7, 0) AS kb,
              count(*) AS n_items FROM lineitem GROUP BY 1)
          SELECT coalesce(a.k, -1) AS k_filled, a.n_orders, b.n_items
          FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.kb
          ORDER BY k_filled"""),
    // ---- Pearson correlation via exact integer moments ----------------------
    // corr(quantity, discount·100) from the five raw moments, every one an
    // EXACT BIGINT (both variables are integral after the portable round).
    // With x ≤ 50, y ≤ 10 the derived products n·Σx², Σx·Σy stay < 2^53
    // (exact double casts) through roughly sf10 and inside BIGINT to
    // ~sf100; past that scale the moments move to decimal(38,0) — the
    // repo's exact-sum idiom — at the cost of the final casts' last-ulp
    // portability. Rebuilt order-independent, unlike the one-pass corr()'s
    // float accumulation. ONE scan, ONE 1-row aggregate.
    QueryEntry.sql("q_corr_stats", "lineitem")(
      """WITH d AS (SELECT CAST(l_quantity AS BIGINT) AS x,
              CAST(round(l_discount * 100) AS BIGINT) AS y FROM lineitem),
          m AS (SELECT count(*) AS n,
              CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
              CAST(sum(x*x) AS BIGINT) AS sxx,
              CAST(sum(y*y) AS BIGINT) AS syy,
              CAST(sum(x*y) AS BIGINT) AS sxy FROM d)
          SELECT n,
            CAST(n*sxy - sx*sy AS DOUBLE) /
              (sqrt(CAST(n*sxx - sx*sx AS DOUBLE))
               * sqrt(CAST(n*syy - sy*sy AS DOUBLE))) AS pearson_r
          FROM m"""),
    // ---- statistical outlier gate (z-score from exact integer moments) -----
    // The distribution-based quality filter (drop events > 2σ from their
    // type's mean — the numeric twin of the text quality gates). Values are
    // deci-quantized to BIGINT first, so mean/σ derive from EXACT integer
    // sums (q_corr_stats idiom: everything < 2^53 through ~sf10, so every
    // double cast is exact and the flag comparison is bit-identical across
    // engines — a float-accumulated stddev would not be). Two passes over
    // the event_type key: the 5-row stats frame broadcasts back, so the
    // flag pass is scan + broadcast-hash-join, no second big shuffle.
    QueryEntry(
      "q_outlier_filter",
      (s, dir) => {
        val ev = t(s, dir, "events").select(col("event_type"),
          floor(col("value") * 10).cast("long").as("vq"))
        val mq = col("svq").cast("double") / col("n")
        val stats = ev.groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum(col("vq")).as("svq"),
            sum(col("vq") * col("vq")).as("svv"))
          .select(col("event_type"), col("n"), mq.as("mean_q"),
            sqrt(col("svv").cast("double") / col("n") - mq * mq).as("std_q"))
        val outliers = ev.join(broadcast(stats), "event_type")
          .groupBy("event_type")
          .agg(sum(when(abs(col("vq").cast("double") - col("mean_q")) >
            lit(2.0) * col("std_q"), 1L).otherwise(0L)).as("n_outliers"))
        stats.join(outliers, "event_type")
          .select(col("event_type"), col("n"), col("n_outliers"),
            (col("mean_q") / lit(10.0)).as("mean_value"),
            (col("std_q") / lit(10.0)).as("std_value"))
          .orderBy("event_type")
      },
      Some("""WITH e AS (SELECT event_type,
              CAST(floor(value * 10) AS BIGINT) AS vq FROM events),
            st AS (SELECT event_type, count(*) AS n,
                CAST(sum(vq) AS BIGINT) AS svq,
                CAST(sum(vq*vq) AS BIGINT) AS svv
              FROM e GROUP BY 1),
            sd AS (SELECT event_type, n,
                CAST(svq AS DOUBLE) / n AS mean_q,
                sqrt(CAST(svv AS DOUBLE) / n -
                  (CAST(svq AS DOUBLE) / n) * (CAST(svq AS DOUBLE) / n)) AS std_q
              FROM st),
            o AS (SELECT e.event_type,
                CAST(sum(CASE WHEN abs(CAST(e.vq AS DOUBLE) - sd.mean_q)
                  > 2e0 * sd.std_q THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
              FROM e JOIN sd USING (event_type) GROUP BY 1)
          SELECT sd.event_type, sd.n, o.n_outliers,
            sd.mean_q / 10e0 AS mean_value, sd.std_q / 10e0 AS std_value
          FROM sd JOIN o USING (event_type) ORDER BY 1"""),
    ),
    // ---- content-addressed table checksum (pipeline integrity gate) ---------
    // order/partitioning-independent fingerprint per table: sum + xor of a
    // 32-bit md5 prefix over the canonical row rendering — what a multi-hop
    // pipeline asserts between stages ("the rows that left stage N arrived
    // at stage N+1"). One partial-agg'd scan per table, 1-row outputs.
    QueryEntry(
      "q_table_checksum",
      (s, dir) => {
        def sig(table: String, keyCols: Seq[String]) = {
          val rendered = concat_ws("|", keyCols.map(c => col(c).cast("string")): _*)
          val h = Tables.h32(rendered)
          t(s, dir, table).agg(
            count(lit(1)).as("n_rows"),
            sum(h).as("hash_sum"),
            max(h).as("hash_max"))
            .select(lit(table).as("table_name"), col("n_rows"),
              col("hash_sum"), col("hash_max"))
        }
        // rendered columns are ints/strings ONLY — double/timestamp text
        // renderings differ across engines (the q_profile portability rule)
        sig("orders", Seq("o_orderkey", "o_orderstatus", "o_orderpriority"))
          .unionByName(sig("customer", Seq("c_custkey", "c_mktsegment")))
          .orderBy("table_name")
      },
      Some("""SELECT * FROM (
            SELECT 'orders' AS table_name, count(*) AS n_rows,
              CAST(sum(CAST(('0x' || substr(md5(
                  o_orderkey || '|' || o_orderstatus || '|' || o_orderpriority
                ), 1, 8)) AS BIGINT)) AS BIGINT) AS hash_sum,
              CAST(max(CAST(('0x' || substr(md5(
                  o_orderkey || '|' || o_orderstatus || '|' || o_orderpriority
                ), 1, 8)) AS BIGINT)) AS BIGINT) AS hash_max
            FROM orders
            UNION ALL
            SELECT 'customer', count(*),
              CAST(sum(CAST(('0x' || substr(md5(
                  c_custkey || '|' || c_mktsegment), 1, 8)) AS BIGINT)) AS BIGINT),
              CAST(max(CAST(('0x' || substr(md5(
                  c_custkey || '|' || c_mktsegment), 1, 8)) AS BIGINT)) AS BIGINT)
            FROM customer) ORDER BY table_name"""),
    ),
    // ---- ntile decile bucketing (quality-tier assignment) --------------------
    // the curriculum/filter-tier primitive: rank docs into 10 equal-depth
    // quality buckets. The window has no partition key, so Spark moves
    // every (id, score) pair into ONE partition and sorts it there — a
    // single-task bottleneck at corpus scale (a distributed rewrite: a
    // range-partitioned sort plus per-partition row offsets, the
    // CrawlLoop.assignGlobalSeq shape)
    QueryEntry(
      "q_ntile_quality",
      (s, dir) => {
        val d = t(s, dir, "documents")
          .select(col("doc_id"), length(col("text")).cast("long").as("score"))
        d.withColumn("decile",
          ntile(10).over(Window.orderBy(col("score").desc, col("doc_id")))
            .cast("long"))
          .groupBy("decile")
          .agg(count(lit(1)).as("n"), min(col("score")).as("min_score"),
            max(col("score")).as("max_score"))
          .orderBy("decile")
      },
      Some("""WITH d AS (SELECT doc_id, len(text) AS score FROM documents),
            q AS (SELECT doc_id, score,
              ntile(10) OVER (ORDER BY score DESC, doc_id) AS decile FROM d)
          SELECT decile, count(*) AS n, min(score) AS min_score,
                 max(score) AS max_score
          FROM q GROUP BY decile ORDER BY decile"""),
    ),
    // ---- INTERSECT / EXCEPT set operators ------------------------------------
    // Catalyst rewrites both to distinct-aggregated semi/anti joins — one
    // key shuffle each, no materialized distinct-then-join-then-distinct
    // chain; the remaining classical set operators (D3/D5 cover UNION
    // [ALL], q_table_diff covers EXCEPT ALL's CDC use)
    QueryEntry.sql("q_set_ops", "orders")(
      """WITH a AS (SELECT o_custkey FROM orders WHERE o_orderkey % 2 = 0),
            b AS (SELECT o_custkey FROM orders WHERE o_orderkey % 3 = 0)
          SELECT o_custkey, 'intersect' AS op
            FROM (SELECT * FROM a INTERSECT SELECT * FROM b)
          UNION ALL
          SELECT o_custkey, 'except' AS op
            FROM (SELECT * FROM a EXCEPT SELECT * FROM b)
          ORDER BY op, o_custkey"""),
    // ---- CUBE multi-dimensional aggregate -----------------------------------
    // all 2^d grouping sets in ONE pass (Catalyst plans an Expand feeding a
    // single partial-agg'd shuffle — d scans and a union would read the
    // table 4×); grouping_id disambiguates real NULLs from subtotal rows.
    // Spark's grouping_id and DuckDB's GROUPING share the first-arg-is-MSB
    // bit order (verified).
    QueryEntry(
      "q_cube",
      (s, dir) => groupingSetTotals(t(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))),
      Some(s"""$sqlGroupingSetTotals CUBE (o_orderstatus, o_orderpriority)
          ORDER BY gid, o_orderstatus, o_orderpriority"""),
    ),
    // ---- sliding-frame window aggregate --------------------------------------
    // ROWS BETWEEN 2 PRECEDING AND CURRENT ROW per user — the moving-window
    // twin of q_window_running's cumulative frame; ONE user_id shuffle, sums
    // in decimal so the 3-row fold is order-independent across engines
    QueryEntry.sql("q_window_sliding", "events")(
      """SELECT event_id, user_id, value,
            CAST(sum(CAST(value AS DECIMAL(28,6))) OVER w AS DOUBLE)
              AS mov_sum,
            count(*) OVER w AS mov_n
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
          ORDER BY event_id"""),
    // ---- RANGE-frame window (trailing time window, not row count) -----------
    // The moving frame defined by the ORDER VALUE: every event sees the
    // count/sum of its user's events in the trailing hour — rows-frames
    // can't express this when event spacing varies (the rate-limit /
    // burst-detection shape: "requests from this host in the last N
    // seconds"). Same one user_id window exchange as the rows twin; the
    // frame bound is evaluated per row against the sorted run. Epoch
    // seconds keep the range arithmetic integral and engine-portable.
    QueryEntry(
      "q_window_range_frame",
      (s, dir) => {
        val w = Window.partitionBy("user_id")
          .orderBy(col("ts_sec")).rangeBetween(-3599L, 0L)
        t(s, dir, "events")
          .select(col("event_id"), col("user_id"),
            unix_timestamp(col("ts")).as("ts_sec"),
            col("value").cast("decimal(28, 6)").as("vd"))
          .select(col("event_id"), col("user_id"),
            count(lit(1)).over(w).as("n_last_hour"),
            sum(col("vd")).over(w).cast("double").as("sum_last_hour"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id, user_id,
            count(*) OVER w AS n_last_hour,
            CAST(sum(CAST(value AS DECIMAL(28,6))) OVER w AS DOUBLE)
              AS sum_last_hour
          FROM (SELECT event_id, user_id, value,
                  CAST(epoch(ts) AS BIGINT) AS ts_sec FROM events)
          WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec
                       RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW)
          ORDER BY event_id"""),
    ),
    // ---- array set algebra (intersect / union / except, order-pinned) -------
    // Per-row set operations over token arrays — the candidate-pair overlap
    // primitive (shared shingles between two docs) as codegen'd array
    // functions instead of an explode+join: zero shuffles, one Project.
    // Results are array_sort'ed so the SQL mirror (list_sort of DuckDB's
    // list algebra) renders identically.
    QueryEntry(
      "q_array_set_ops",
      (s, dir) => {
        val d = t(s, dir, "documents")
          .select(col("doc_id"), split(col("text"), " ").as("w"))
        val a = d.filter(col("doc_id") % 2 === 0)
          .select(expr("doc_id div 2").as("pair_id"), col("w").as("wa"))
        val b = d.filter(col("doc_id") % 2 === 1)
          .select(expr("(doc_id - 1) div 2").as("pair_id"), col("w").as("wb"))
        a.join(b, "pair_id")
          .select(col("pair_id"),
            size(array_intersect(col("wa"), col("wb"))).cast("long")
              .as("n_shared"),
            size(array_union(col("wa"), col("wb"))).cast("long").as("n_union"),
            size(array_except(col("wa"), col("wb"))).cast("long")
              .as("n_only_a"),
            concat_ws(" ",
              slice(array_sort(array_intersect(col("wa"), col("wb"))), 1, 5))
              .as("shared_head"))
          .orderBy("pair_id")
      },
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w
              FROM documents),
            a AS (SELECT doc_id // 2 AS pair_id, w AS wa FROM d
                  WHERE doc_id % 2 = 0),
            b AS (SELECT (doc_id - 1) // 2 AS pair_id, w AS wb FROM d
                  WHERE doc_id % 2 = 1)
          SELECT pair_id,
            CAST(len(list_intersect(wa, wb)) AS BIGINT) AS n_shared,
            CAST(len(list_distinct(wa || wb)) AS BIGINT) AS n_union,
            CAST(len(list_filter(list_distinct(wa),
              x -> NOT list_contains(wb, x))) AS BIGINT) AS n_only_a,
            array_to_string(list_sort(list_intersect(wa, wb))[1:5], ' ')
              AS shared_head
          FROM a JOIN b USING (pair_id) ORDER BY pair_id"""),
    ),
    // ---- recursive CTE (iterative UnionLoop) --------------------------------
    // WITH RECURSIVE through the SQL surface: per-node depth over the
    // implicit binary-heap hierarchy (parent = floor(id/2)) of customer
    // keys — ONE verbatim ANSI text both engines run. Spark executes it as
    // an iterative UnionLoop: each level is a distributed hash join of the
    // current frontier against the child scan, so depth-D recursion costs
    // D narrow joins (log2 N here), never a self-cross-product — the
    // hierarchy / reachability primitive (category trees, org charts,
    // crawl-depth closures) at cluster scale.
    // `/` is double division in both engines, so FLOOR(x/2) halves portably.
    QueryEntry.sql("q_recursive_cte", "customer")(
      """WITH RECURSIVE tree(id, depth) AS (
        SELECT CAST(0 AS BIGINT) AS id, CAST(0 AS BIGINT) AS depth
        UNION ALL
        SELECT c.c_custkey, t.depth + 1
        FROM customer c JOIN tree t
          ON CAST(FLOOR(c.c_custkey / 2) AS BIGINT) = t.id
        WHERE c.c_custkey > 0
      )
      SELECT id, depth FROM tree ORDER BY id"""),
    // ---- correlated LATERAL top-k -------------------------------------------
    // Per-nation top-3 customers by balance via LATERAL (... ORDER BY ...
    // LIMIT k): the per-row-subquery surface reference users write.
    // Catalyst decorrelates the limit into a rank window under a single
    // equi-join — no per-outer-row re-execution, one shuffle (plan-audited
    // in PLANS.md).
    // Cents keep the money column integral: rendered doubles differ across engines.
    QueryEntry.sql("q_lateral_topk", "nation", "customer")(
      """SELECT n.n_name, l.c_name,
        CAST(ROUND(l.c_acctbal * 100) AS BIGINT) AS acctbal_cents
      FROM nation n, LATERAL (
        SELECT c_name, c_acctbal FROM customer c
        WHERE c.c_nationkey = n.n_nationkey
        ORDER BY c_acctbal DESC, c_name LIMIT 3
      ) l
      ORDER BY n.n_name, acctbal_cents DESC, l.c_name"""),
    // ---- exact multi-quantile (percentile agg) ------------------------------
    // Exact q25/q50/q75 of line-item price per return flag. Quartiles over
    // BIGINT cents are deliberate: (N-1)*p has fraction in {0, 1/4, 1/2,
    // 3/4}, so the interpolated value is exactly representable in a double
    // and both engines' interpolation formulas agree bit-for-bit — no
    // rendered-double hazard. Spark's percentile is the exact (per-group
    // sort) agg; at 100 TB the same entry shape swaps in approx_percentile
    // (one streaming pass, no sort) when +-eps is acceptable.
    QueryEntry(
      "q_percentile_exact",
      (s, dir) => {
        t(s, dir, "lineitem")
          .select(col("l_returnflag"),
            expr("CAST(ROUND(l_extendedprice * 100) AS BIGINT)").as("cents"))
          .groupBy("l_returnflag")
          .agg(expr("percentile(cents, array(0.25D, 0.5D, 0.75D))").as("q"),
            count(lit(1)).as("n"))
          .select(col("l_returnflag"),
            element_at(col("q"), 1).as("q25"),
            element_at(col("q"), 2).as("q50"),
            element_at(col("q"), 3).as("q75"), col("n"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag,
          quantile_cont(CAST(ROUND(l_extendedprice*100) AS BIGINT), 0.25)
            AS q25,
          quantile_cont(CAST(ROUND(l_extendedprice*100) AS BIGINT), 0.5)
            AS q50,
          quantile_cont(CAST(ROUND(l_extendedprice*100) AS BIGINT), 0.75)
            AS q75,
          count(*) AS n
        FROM lineitem GROUP BY 1 ORDER BY 1"""),
    ),
    // ---- interval-union coverage (sweep-line via windows) -------------------
    // Merged-interval length per user: each event opens an interval
    // [ts, ts + value*1e6 us]; overlaps collapse via the classic sweep —
    // running max of interval end over PRECEDING rows marks island breaks,
    // a running sum of breaks numbers the islands, and per-island
    // max(end)-min(start) sums to covered time. ONE user_id window
    // exchange feeds both windows and the final rollup — no self-join, no
    // interval explosion (the naive per-second explode would be 1e6 rows
    // per event). The uptime / active-time / dedup-span primitive.
    QueryEntry(
      "q_interval_coverage",
      (s, dir) => {
        val iv = t(s, dir, "events")
          .select(col("user_id"),
            unix_micros(col("ts").cast("timestamp")).as("s"),
            (unix_micros(col("ts").cast("timestamp")) +
              floor(col("value") * lit(1000000d)).cast("long")).as("e"))
        val w = Window.partitionBy("user_id").orderBy(col("s"), col("e"))
        val prevMax = max(col("e")).over(
          w.rowsBetween(Window.unboundedPreceding, -1))
        val brk = when(prevMax.isNull || col("s") > prevMax, 1L).otherwise(0L)
        iv.withColumn("island",
            sum(brk).over(w.rowsBetween(Window.unboundedPreceding,
              Window.currentRow)))
          .groupBy(col("user_id"), col("island"))
          .agg((max(col("e")) - min(col("s"))).as("ilen"))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_islands"), sum(col("ilen")).as("covered_us"))
          .orderBy("user_id")
      },
      Some("""WITH iv AS (SELECT user_id, epoch_us(ts) AS s,
              epoch_us(ts) + CAST(floor(value * 1000000) AS BIGINT) AS e
              FROM events),
            m AS (SELECT *, max(e) OVER (PARTITION BY user_id ORDER BY s, e
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
              FROM iv),
            fl AS (SELECT *, CASE WHEN prev_max IS NULL OR s > prev_max
                THEN 1 ELSE 0 END AS brk FROM m),
            isl AS (SELECT *, CAST(sum(brk) OVER (PARTITION BY user_id
                ORDER BY s, e ROWS UNBOUNDED PRECEDING) AS BIGINT) AS island
              FROM fl),
            per AS (SELECT user_id, island, max(e) - min(s) AS ilen
              FROM isl GROUP BY 1, 2)
          SELECT user_id, count(*) AS n_islands,
            CAST(sum(ilen) AS BIGINT) AS covered_us
          FROM per GROUP BY user_id ORDER BY user_id"""),
    ),
    // ---- multi-column COUNT DISTINCT in one aggregate -----------------------
    // Two count-distincts with different keys + a plain count in ONE
    // GROUP BY: Catalyst rewrites via Expand (one row replicated per
    // distinct column set, then two-stage agg) — one shuffle carries all
    // three, where the naive plan would scan and shuffle once per
    // distinct. The cardinality-dashboard shape.
    QueryEntry.sql("q_multi_distinct", "lineitem")(
      """SELECT l_returnflag, count(DISTINCT l_suppkey) AS n_supp,
            count(DISTINCT l_partkey) AS n_part, count(*) AS n
          FROM lineitem GROUP BY 1 ORDER BY 1"""),
    // ---- survivorship / golden record (max_by / min_by) ---------------------
    // Entity consolidation: per nation, the surviving representative under
    // an explicit total order — max_by/min_by over a deterministic BIGINT
    // priority (cents*1e6 + key; the tie-break is IN the key, because
    // max_by on a tied priority is visit-order-dependent in BOTH engines).
    // One partial-agg'd shuffle; the MDM merge primitive.
    QueryEntry(
      "q_argmax_survivor",
      (s, dir) => {
        val pri = expr("CAST(round(c_acctbal * 100) AS BIGINT)") *
          lit(1000000L) + col("c_custkey")
        t(s, dir, "customer")
          .join(t(s, dir, "nation"),
            col("c_nationkey") === col("n_nationkey"))
          .groupBy("n_name")
          .agg(max_by(col("c_name"), pri).as("top_name"),
            min_by(col("c_name"), pri).as("bottom_name"),
            count(lit(1)).as("n"))
          .orderBy("n_name")
      },
      Some("""SELECT n_name,
            arg_max(c_name, CAST(round(c_acctbal*100) AS BIGINT) * 1000000
              + c_custkey) AS top_name,
            arg_min(c_name, CAST(round(c_acctbal*100) AS BIGINT) * 1000000
              + c_custkey) AS bottom_name,
            count(*) AS n
          FROM customer JOIN nation ON c_nationkey = n_nationkey
          GROUP BY 1 ORDER BY 1"""),
    ),
    // ---- manual salted join (deterministic skew kill) -----------------------
    // see [[saltedJoin]]; AQE skew-split is the adaptive twin (SkewJoinSpec)
    QueryEntry(
      "q_salted_join",
      (s, dir) => saltedJoin(s, dir, "c_mktsegment"),
      Some("""SELECT c_mktsegment, count(*) AS n,
            CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total
          FROM events JOIN customer ON user_id + 1 = c_custkey
          GROUP BY 1 ORDER BY 1"""),
    ),
    // ---- bag difference (EXCEPT ALL) ----------------------------------------
    // Multiset semantics the set-op entry can't express: each customer key
    // survives (orders-per-key - 1) times — the "what's left after
    // consuming one match each" reconciliation shape. Catalyst plans a
    // single hash-based count-diff, not a join loop.
    QueryEntry.sql("q_except_all", "orders", "customer")(
      """SELECT k FROM (
            SELECT o_custkey AS k FROM orders
            EXCEPT ALL
            SELECT c_custkey AS k FROM customer)
          ORDER BY k"""),
    // ---- snapshot diff / CDC between two table versions ---------------------
    // see [[snapshotDiff]]: keyed full-outer join, the dataset-versioning
    // primitive (what changed between two Glacier snapshots of a corpus)
    QueryEntry(
      "q_table_diff",
      (s, dir) => {
        val orders = t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        val v1 = orders.filter(pmod(col("o_orderkey"), lit(1000L)) < 995)
        val v2 = orders.withColumn("o_totalprice",
          when(pmod(col("o_orderkey"), lit(500L)) === 0,
            col("o_totalprice") * 2).otherwise(col("o_totalprice")))
        snapshotDiff(v1, v2, "o_orderkey")
          .select(col("o_orderkey"), col("change"),
            col("old_o_totalprice").as("old_price"),
            col("new_o_totalprice").as("new_price"))
          .orderBy("o_orderkey", "change")
      },
      Some("""WITH v1 AS (SELECT o_orderkey, o_orderstatus, o_totalprice
              FROM orders WHERE o_orderkey % 1000 < 995),
          v2 AS (SELECT o_orderkey, o_orderstatus,
              CASE WHEN o_orderkey % 500 = 0 THEN o_totalprice * 2
                   ELSE o_totalprice END AS o_totalprice FROM orders)
          SELECT o_orderkey,
            CASE WHEN v1.o_orderstatus IS NULL THEN 'added'
                 WHEN v2.o_orderstatus IS NULL THEN 'removed'
                 ELSE 'changed' END AS change,
            v1.o_totalprice AS old_price, v2.o_totalprice AS new_price
          FROM v1 FULL OUTER JOIN v2 USING (o_orderkey)
          WHERE v1.o_orderstatus IS NULL OR v2.o_orderstatus IS NULL
             OR v1.o_orderstatus <> v2.o_orderstatus
             OR v1.o_totalprice <> v2.o_totalprice
          ORDER BY o_orderkey, change"""),
    ),
    // ---- one-pass column profiling (data-quality audit) --------------------
    // see [[profileColumns]]: row/non-null/exact-distinct/min/max per column
    // in ONE scan + ONE agg (Expand for the multi-column count-distincts);
    // columns restricted to engine-portable string renderings.
    QueryEntry(
      "q_profile",
      (s, dir) => profileColumns(t(s, dir, "orders"),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"))
        .orderBy("col_name"),
      Some {
        val cols =
          Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
        cols.map { c =>
          s"""SELECT '$c' AS col_name, count(*) AS n_rows,
              count($c) AS n_nonnull, count(DISTINCT $c) AS n_distinct,
              CAST(min($c) AS VARCHAR) AS min_s,
              CAST(max($c) AS VARCHAR) AS max_s FROM orders"""
        }.mkString("SELECT * FROM (", " UNION ALL ", ") ORDER BY col_name")
      },
    ),
    // ---- UNPIVOT (wide→long melt) ------------------------------------------
    // The inverse of the pivot entries: lineitem's four measure columns
    // melted to (key, measure, val) rows via the native `Dataset.unpivot`
    // (planned as a single Expand — one scan, rows×4 generated map-side,
    // NO shuffle and no join; the hand-rolled UNION-of-selects alternative
    // scans the table four times). Values pass through untouched, so the
    // doubles hash bit-identically. Oracle = the portable UNION ALL form.
    QueryEntry(
      "q_unpivot",
      (s, dir) => t(s, dir, "lineitem")
        .filter(col("l_orderkey") % 100 === 0)
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice"),
            col("l_discount"), col("l_tax")),
          "measure", "val")
        .orderBy("l_orderkey", "l_linenumber", "measure"),
      Some {
        val ms = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        ms.map { m =>
          s"""SELECT l_orderkey, l_linenumber, '$m' AS measure, $m AS val
              FROM lineitem WHERE l_orderkey % 100 = 0"""
        }.mkString("SELECT * FROM (", " UNION ALL ",
          ") ORDER BY l_orderkey, l_linenumber, measure")
      },
    ),
    // ---- rank-function family (rank / dense_rank / percent_rank / cume_dist)
    // Completes the window surface (running, sliding, ntile, row_number
    // elsewhere): the tie-aware rank family over a high-cardinality
    // partition key (per-customer — thousands of small partitions sharing
    // ONE o_custkey shuffle, never a global or 3-partition window). The
    // order key is a coarse bucket so real TIES exercise rank vs
    // dense_rank; every emitted rank is a function of the order KEY alone,
    // so ties can't make output nondeterministic. percent_rank/cume_dist
    // are single IEEE divisions of exact ints (cross-engine-stable);
    // the two single-order customers pin the n=1 percent_rank=0 edge.
    QueryEntry.sql("q_window_ranks", "orders")(
      """WITH b AS (SELECT o_orderkey, o_custkey,
            CAST(floor(o_totalprice / 10000.0e0) AS BIGINT) AS bucket
          FROM orders)
        SELECT o_orderkey, o_custkey, bucket,
          CAST(rank() OVER w AS BIGINT) AS rnk,
          CAST(dense_rank() OVER w AS BIGINT) AS drnk,
          percent_rank() OVER w AS prank,
          cume_dist() OVER w AS cdist
        FROM b WINDOW w AS (PARTITION BY o_custkey ORDER BY bucket DESC)
        ORDER BY o_orderkey"""),
    // ---- incremental aggregate maintenance ---------------------------------
    // The materialized-view refresh shape: yesterday's persisted PARTIAL
    // aggregate (count + exact decimal sum per group) merged with the
    // delta's partial aggregate by re-aggregation — the full recompute
    // (the oracle) never runs. Works because count/sum are commutative
    // monoids; the merge shuffle carries |groups| rows, not data. At
    // 100 TB this is the difference between re-scanning the corpus per
    // refresh and touching only the delta (same algebra Glacier's
    // snapshot Append + this rollup would run on a schedule).
    QueryEntry(
      "q_incremental_rollup",
      (s, dir) => {
        def partial(df: DataFrame): DataFrame = df
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast(DecimalType(28, 6))).as("tot_dec"))
        val orders = t(s, dir, "orders")
          .select(col("o_orderpriority"), col("o_totalprice"), col("o_orderkey"))
        val yesterday = partial(orders.filter(col("o_orderkey") % 10 < 9))
        val delta = partial(orders.filter(col("o_orderkey") % 10 >= 9))
        yesterday.unionByName(delta)
          .groupBy("o_orderpriority")
          .agg(sum(col("n")).as("n"), sum(col("tot_dec")).as("merged_dec"))
          .select(col("o_orderpriority"), col("n"),
            col("merged_dec").cast("double").as("total"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority, count(*) AS n,
          CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS total
        FROM orders GROUP BY 1 ORDER BY 1"""),
    ),
    // ---- bloom-pruned shuffle join -----------------------------------------
    // The runtime-filter pattern for a join whose build side is too big to
    // broadcast but whose KEY SET fits a Bloom filter: fold the build keys
    // into a bit array (the fold is an exchange bounded by bits/64 words,
    // never by rows), ship the words as a literal, and pre-filter the probe
    // side with two pure-column md5 probes BEFORE its join exchange — false
    // positives are removed by the exact join that follows, so the result
    // is oracle-identical and the bloom is performance-transparent. The
    // `merge` hint forces the shuffle join at test scale (AQE would
    // broadcast) to keep the pruned-exchange plan shape honest; probes
    // reuse the engine-portable [[Tables.h32]] primitive.
    QueryEntry(
      "q_bloom_semi_join",
      (s, dir) => {
        val bits = 1 << 16
        val keys = t(s, dir, "orders")
          .filter(col("o_orderpriority") === "1-URGENT" &&
            col("o_orderkey") % 50 === 0)
          .select(col("o_orderkey"))
        def h1(k: Column): Column = Tables.h32(k.cast("string")) % bits
        def h2(k: Column): Column =
          Tables.h32(concat(k.cast("string"), lit("#2"))) % bits
        // distributed word fold: explode both probe positions, OR the
        // per-position masks into ≤ bits/64 words, collect only the words
        val words = keys
          .select(explode(array(h1(col("o_orderkey")), h2(col("o_orderkey"))))
            .as("h"))
          .select((col("h") / 64).cast("int").as("w"),
            expr("shiftleft(1L, cast(h % 64 as int))").as("m"))
          .groupBy("w").agg(expr("bit_or(m)").as("mask"))
          .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
        val wordArr = typedLit(
          (0 until bits / 64).map(i => words.getOrElse(i, 0L)))
        val maskArr = typedLit((0 until 64).map(i => 1L << i))
        def mightContain(h: Column): Column =
          (element_at(wordArr, (h / lit(64)).cast("int") + 1)
            .bitwiseAND(element_at(maskArr, (h % 64).cast("int") + 1))) =!= 0
        // fan the single-split scan out before the per-row double-md5
        // bloom probe (the join exchange below is unchanged — the bloom
        // still prunes before it)
        val li = Tables.fanOut(t(s, dir, "lineitem"))
          .select(col("l_orderkey"), col("l_extendedprice"))
        val pruned = li
          .filter(mightContain(h1(col("l_orderkey"))) &&
            mightContain(h2(col("l_orderkey"))))
        pruned.hint("merge")
          .join(keys.hint("merge"), col("l_orderkey") === col("o_orderkey"),
            "left_semi")
          .groupBy("l_orderkey")
          .agg(count(lit(1)).as("n_lines"),
            sum(col("l_extendedprice").cast(DecimalType(28, 6)))
              .as("price_dec"))
          .select(col("l_orderkey"), col("n_lines"),
            col("price_dec").cast("double").as("total_price"))
          .orderBy("l_orderkey")
      },
      Some("""SELECT l_orderkey, count(*) AS n_lines,
          CAST(sum(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE)
            AS total_price
        FROM lineitem
        WHERE l_orderkey IN (SELECT o_orderkey FROM orders
          WHERE o_orderpriority = '1-URGENT' AND o_orderkey % 50 = 0)
        GROUP BY 1 ORDER BY 1"""),
    ),
    // ---- snapshot time travel, oracle-checked ------------------------------
    // The snapshot layer's read-as-of through the driver gate (spec-pinned
    // until now): commit v1, Replace with a modified v2, read SNAPSHOT 1 —
    // the oracle reproduces v1 from the source parquet, so the time-travel
    // read is hashed, not trusted. Commit/read costs are manifest metadata
    // + one parquet roundtrip; doubles pass through parquet bit-identically.
    QueryEntry(
      "q_time_travel",
      (s, dir) => {
        val root = graft.BenchDirs.scratchDir("glacier-tt")
        val g = new graft.tables.Glacier(root)
        val base = t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        val v1 = base.filter(col("o_orderkey") % 10 < 8)
        val id1 = g.commit(s, Seq(g.TableWrite("orders_v", v1, g.Replace)))
        val v2 = base.filter(col("o_orderkey") % 10 < 9)
          .withColumn("o_totalprice",
            when(col("o_orderkey") % 7 === 0, col("o_totalprice") * 2)
              .otherwise(col("o_totalprice")))
        g.commit(s, Seq(g.TableWrite("orders_v", v2, g.Replace)))
        g.read(s, "orders_v", Some(id1)).get.orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        WHERE o_orderkey % 10 < 8 ORDER BY o_orderkey"""),
    ),
    // ---- named ref (tag) read through the driver gate ------------------------
    // The release-pinning pattern: tag v1 "release", keep committing, sweep
    // history with expireSnapshots(keepLast=1) — the tag MUST keep its
    // snapshot's manifest and data dirs alive (the entry would lose its
    // rows otherwise), and the read-as-of-ref returns v1 exactly. Refs are
    // O(1) metadata (one pointer file via the commit lock); the oracle
    // hashes the tagged version, not the head.
    QueryEntry(
      "q_ref_read",
      (s, dir) => {
        val root = graft.BenchDirs.scratchDir("glacier-ref")
        val g = new graft.tables.Glacier(root)
        val base = t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        g.commit(s, Seq(g.TableWrite("orders_r",
          base.filter(col("o_orderkey") % 4 === 1), g.Replace)))
        g.setRef("release")
        g.commit(s, Seq(g.TableWrite("orders_r", base, g.Replace)))
        g.commit(s, Seq(g.TableWrite("orders_r",
          base.filter(col("o_orderkey") % 2 === 0), g.Replace)))
        g.expireSnapshots(keepLast = 1) // the tag must protect snap 1
        g.readRef(s, "orders_r", "release").get.orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        WHERE o_orderkey % 4 = 1 ORDER BY o_orderkey"""),
    ),
    // ---- incremental snapshot consumption (append-table CDC) ---------------
    // Two Append commits, then readChanges(v1→v2) — the incremental-ETL /
    // streaming-table read: the delta is a manifest file-LIST difference,
    // so only the second commit's dirs are ever planned (no data-diff job,
    // no full scan; the downstream rollup is the materialized-view refresh
    // from q_incremental_rollup fed by this read). The oracle reproduces
    // the delta from the source predicate, so the manifest diff is hashed,
    // not trusted.
    QueryEntry(
      "q_snapshot_changes",
      (s, dir) => {
        val root = graft.BenchDirs.scratchDir("glacier-cdc")
        val g = new graft.tables.Glacier(root)
        val base = t(s, dir, "events")
          .select(col("event_id"), col("event_type"), col("value"))
        val id1 = g.commit(s, Seq(g.TableWrite("ev",
          base.filter(col("event_id") % 5 < 2), g.Append)))
        val id2 = g.commit(s, Seq(g.TableWrite("ev",
          base.filter(col("event_id") % 5 >= 2), g.Append)))
        g.readChanges(s, "ev", id1, id2).get
          .transform(eventTypeTotals)
      },
      Some(s"""$sqlEventTypeTotals event_id % 5 >= 2 GROUP BY 1 ORDER BY 1"""),
    ),
    // ---- write-audit-publish through the driver gate -------------------------
    // The production ingestion pattern: stage the new corpus version, run
    // the audit on the STAGED state (readers still see the old snapshot),
    // publish only if the audit passes. Here the audit is a count gate;
    // the entry returns the post-publish read, so the full
    // stage→audit→publish path is what the oracle hashes.
    QueryEntry(
      "q_wap_publish",
      (s, dir) => {
        val root = graft.BenchDirs.scratchDir("glacier-wap")
        val g = new graft.tables.Glacier(root)
        val v = t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
          .filter(col("o_orderkey") % 3 =!= 0)
        val sc = g.stageCommit(s, Seq(g.TableWrite("orders_v", v, g.Replace)))
        val audited = g.readStaged(s, sc, "orders_v").get.count()
        require(audited > 0, "WAP audit failed: staged table is empty")
        g.publishStaged(sc)
        g.read(s, "orders_v").get.orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
          WHERE o_orderkey % 3 <> 0 ORDER BY o_orderkey"""),
    ),
    // ---- explicit GROUPING SETS (the cube/rollup generalization) -----------
    // The user-chosen grouping-set list ((status, priority), (priority), ())
    // — a set CUBE can't express without waste (it would also compute
    // (status)). Same single Expand-fed partial→final aggregate pair as
    // q_cube, `grouping_id` bit order already pinned == DuckDB GROUPING
    // (first arg = MSB) by that entry's spec.
    QueryEntry(
      "q_grouping_sets",
      (s, dir) => groupingSetTotals(t(s, dir, "orders")
        .groupingSets(
          Seq(Seq(col("o_orderstatus"), col("o_orderpriority")),
            Seq(col("o_orderpriority")), Seq.empty),
          col("o_orderstatus"), col("o_orderpriority"))),
      Some(s"""$sqlGroupingSetTotals GROUPING SETS
            ((o_orderstatus, o_orderpriority), (o_orderpriority), ())
          ORDER BY gid, o_orderstatus, o_orderpriority"""),
    ),
    // ---- schema evolution via mergeSchema read -----------------------------
    // The lakehouse add-a-column path: an old partition written with two
    // columns, a new one with three, read together under
    // `mergeSchema=true` — old rows surface NULL for the added column
    // instead of failing or silently picking one footer's schema (the
    // default single-schema read). Glacier records a table's schema in its
    // snapshot manifest only while every dir of the table was written with
    // that one schema, and then reads it without footer sampling; a table
    // whose dirs differ, as v1 and v2 do here, records none and is read by
    // inference. So an evolved table's union schema still comes from a
    // `mergeSchema` read like this one, with the NULL-fill semantics this
    // entry hashes.
    QueryEntry(
      "q_schema_merge",
      (s, dir) => {
        val base = graft.BenchDirs.scratchDir("schema-ev")
        val orders = t(s, dir, "orders")
        orders.filter(col("o_orderkey") % 10 < 5)
          .select(col("o_orderkey"), col("o_totalprice"))
          .write.mode("overwrite").parquet(s"$base/v1")
        orders.filter(col("o_orderkey") % 10 >= 5)
          .select(col("o_orderkey"), col("o_totalprice"),
            col("o_orderpriority"))
          .write.mode("overwrite").parquet(s"$base/v2")
        s.read.option("mergeSchema", "true")
          .parquet(s"$base/v1", s"$base/v2")
          .select(col("o_orderkey"), col("o_totalprice"),
            col("o_orderpriority"))
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_totalprice,
            CASE WHEN o_orderkey % 10 >= 5 THEN o_orderpriority
                 ELSE NULL END AS o_orderpriority
          FROM orders ORDER BY o_orderkey"""),
    ),
    // ---- hive-style partition pruning --------------------------------------
    // The directory-layout twin of the zone-map/bloom skipping in Glacier:
    // events written `partitionBy(event_type)`, read back with a partition
    // predicate — the filter resolves against the file INDEX
    // (PartitionFilters in the scan, PLANS.md), so non-matching
    // directories are never listed into the scan, zero data filtering at
    // runtime. At 100 TB partition columns are the first pruning tier
    // before footers; the entry hashes the post-prune aggregate.
    QueryEntry(
      "q_partition_prune",
      (s, dir) => {
        val base = graft.BenchDirs.scratchDir("part-layout")
        t(s, dir, "events")
          .select(col("event_id"), col("event_type"), col("user_id"),
            col("value"))
          .write.mode("overwrite").partitionBy("event_type")
          .parquet(s"$base/ev")
        s.read.parquet(s"$base/ev")
          .filter(col("event_type").isin("click", "view"))
          .transform(eventTypeTotals)
      },
      Some(s"""$sqlEventTypeTotals event_type IN ('click', 'view')
          GROUP BY 1 ORDER BY 1"""),
    ),
    // ---- ordered list / string aggregation ----------------------------------
    // collect_list + array_sort + concat_ws — the "assemble the group's
    // members into one value" op (training-corpus shard manifests, per-host
    // URL digests). Spark's collect_list is visit-order-dependent, so the
    // sort INSIDE the array (a codegen'd per-row op after the one grouping
    // shuffle) is what makes the result partitioning-invariant and lets
    // DuckDB's ORDER BY string_agg mirror it exactly; BIGINT renderings are
    // engine-identical (doubles would not be). Group grain bounds the row
    // size — at 100 TB you'd cap members per group first (TopKPerKey).
    QueryEntry(
      "q_string_agg",
      (s, dir) => {
        t(s, dir, "documents")
          .groupBy("lang", "source")
          .agg(count(lit(1)).as("n_docs"),
            concat_ws(",",
              transform(array_sort(collect_list(col("doc_id"))),
                x => x.cast("string"))).as("doc_ids"))
          .orderBy("lang", "source")
      },
      Some("""SELECT lang, source, count(*) AS n_docs,
            string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS doc_ids
          FROM documents GROUP BY 1, 2 ORDER BY 1, 2"""),
    ),
    // ---- first/last/nth_value window functions -----------------------------
    // The value-picker window family (first/last/nth over the FULL frame —
    // last_value over the default running frame is the classic
    // returns-current-row bug, so the frame is explicit). Order key
    // (ts, event_id) is unique per user → deterministic picks; all three
    // share the single user_id window shuffle.
    QueryEntry.sql("q_window_firstlast", "events")(
      """SELECT event_id, user_id,
            first_value(event_id) OVER w AS first_ev,
            last_value(event_id) OVER w AS last_ev,
            nth_value(event_id, 2) OVER w AS second_ev
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
          ORDER BY event_id"""),
  )

  /** Single-scan column profiler: per requested column, row count, non-null
    * count, exact distinct count, and min/max (stringified AFTER the typed
    * min/max, so ordering semantics stay native — lexicographic stringify-
    * then-compare would rank "10" < "9"). All statistics ride ONE
    * aggregation over ONE scan; Catalyst plans the multiple exact
    * count-distincts via a single Expand (scan-rows × |cols+1| expansion,
    * partial-agg'd map-side), which is the standard one-pass profiling
    * plan. At 100 TB swap `count_distinct` for `approx_count_distinct`
    * (HLL, fixed-size state — the `q_approx_distinct` entry pins that
    * estimator's determinism) and the Expand collapses away. Callers pick
    * columns whose string form is engine-portable (ints / strings / dates
    * — NOT doubles or timestamps, whose text renderings differ across
    * engines).
    */
  def profileColumns(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = cols.flatMap { c =>
      Seq(count(col(c)).as(s"${c}__nn"),
        count_distinct(col(c)).as(s"${c}__nd"),
        min(col(c)).cast("string").as(s"${c}__min"),
        max(col(c)).cast("string").as(s"${c}__max"))
    }
    val row = df.agg(count(lit(1)).as("__rows"), aggs: _*)
    val structs = array(cols.map { c =>
      struct(lit(c).as("col_name"), col("__rows").as("n_rows"),
        col(s"${c}__nn").as("n_nonnull"), col(s"${c}__nd").as("n_distinct"),
        col(s"${c}__min").as("min_s"), col(s"${c}__max").as("max_s"))
    }: _*)
    row.select(explode(structs).as("p")).select(col("p.*"))
  }

  /** Snapshot diff (CDC) between two versions of a keyed table: one keyed
    * full-outer join classifying every key as added / removed / changed
    * (unchanged rows are dropped map-side of nothing — the join's ONE
    * shuffle on the key is the whole cost; both sides partial-project to
    * (key, payload struct) before it). At 100 TB both snapshots live
    * bucketed by the key (Glacier layout), making the join co-located, and
    * the payload struct is replaced by a content hash so only changed keys
    * carry bytes. Emits (key, change, old_*, new_*) flat payload columns.
    */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, key: String): DataFrame = {
    val payload = oldDf.columns.filterNot(_ == key)
    require(payload.sameElements(newDf.columns.filterNot(_ == key)),
      "snapshotDiff: both snapshots must share the same schema")
    val o = oldDf.select(col(key),
      struct(payload.map(col): _*).as("old_row"))
    val n = newDf.select(col(key),
      struct(payload.map(col): _*).as("new_row"))
    o.join(n, Seq(key), "full_outer")
      .withColumn("change",
        when(col("old_row").isNull, lit("added"))
          .when(col("new_row").isNull, lit("removed"))
          .when(col("old_row") =!= col("new_row"), lit("changed"))
          .otherwise(lit("unchanged")))
      .filter(col("change") =!= "unchanged")
      .select(col(key) +: col("change") +:
        (payload.map(c => col(s"old_row.$c").as(s"old_$c")) ++
          payload.map(c => col(s"new_row.$c").as(s"new_$c"))): _*)
  }

  /** F3 exclusion labels (core/toolbox.py:265-325), in the order they are
    * checked: every path pattern, then every file pattern. */
  def exclusionLabels(pathPatterns: Seq[String],
                      filePatterns: Seq[String]): Seq[String] =
    pathPatterns.map(p => s"in path: $p") ++
      filePatterns.map(p => s"starting with: $p")

  /** F3 exclusion rule: the label of the first pattern that excludes
    * `file_name` — a path pattern that is a substring of it, then a file
    * pattern its basename starts with — or NULL when none does (also for
    * a NULL `file_name`). Built-in expressions only, so a filter on it
    * runs at the scan; the crawl's post-pass counts rows per label.
    */
  def exclusionLabel(pathPatterns: Seq[String],
                     filePatterns: Seq[String]): Column = {
    val basename = substring_index(col("file_name"), "/", -1)
    val hits = pathPatterns.map(p => contains(col("file_name"), lit(p))) ++
      filePatterns.map(p => startswith(basename, lit(p)))
    hits.zip(exclusionLabels(pathPatterns, filePatterns))
      .foldRight(lit(null).cast("string")) { case ((hit, label), rest) =>
        when(hit, lit(label)).otherwise(rest)
      }
  }

  /** F3 exclusion filter as a reusable operator: the rows no pattern
    * excludes ([[exclusionLabel]] is NULL). */
  def excludeFiles(df: DataFrame, pathPatterns: Seq[String],
                   filePatterns: Seq[String]): DataFrame =
    df.filter(exclusionLabel(pathPatterns, filePatterns).isNull)
}
