package graft.crawl

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders, Observation, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.model._
import graft.operators.Relational
import graft.tables.Glacier

/** The distributed crawl engine: BSP rounds over a Glacier-checkpointed
  * frontier, implementing [[CrawlSpec]] exactly (every parity test compares
  * against [[ReferenceCrawl]]). One round =
  *
  *   drain priority queue (per-host budget, custom TopKPerKey operator)
  *   → fetch (`mapPartitions` over uniform `xxhash64(url)` partitioning —
  *     politeness is enforced by the drain, so no hot-host stragglers)
  *   → parse spans → validate (quarantine counts, drop-and-log semantics)
  *   → discovered links: robots gate → first-wins in-round dedup (window
  *     over url ordered by discovery seq) → URL-seen check (per-shard
  *     Bloom fast path + exact anti-join confirm)
  *   → commit ONE atomic Glacier snapshot: frontier (Replace), seen/bloom,
  *     crawl-order log, docs, datasets, files (Append) + round metrics.
  *
  * Determinism: all order-sensitive results key on the minted discovery
  * sequence (round, queryIdx, pageIdx, hitIdx), never on partition
  * iteration order — the same config produces an identical crawl-order log,
  * seen set and span documents at local[1], local[8] or a 1000-executor
  * cluster. Resumability: any kill lands on the previous snapshot; rerun
  * continues from round N+1 with identical final state (tested).
  *
  * Scale notes (10^10-URL design):
  *  - Frontier drain never sorts the pending set at all: the TopKPerKey
  *    partial pass bounds every partition to ≤budget rows per host with
  *    in-place heaps, then one exchange on host feeds the final heaps. A
  *    hot host (Zenodo with 10^9 pending) never serializes a sort on one
  *    partition — and never shuffles more than partitions×budget rows.
  *  - The global `seqInRound` window orders ≤ Σ budget rows per round —
  *    politeness-bounded, so bounded regardless of frontier size.
  *  - Seen-set: Bloom shards route; the exact table is authoritative
  *    (SeenSet docs). Both are hash-sharded by url so the confirm
  *    anti-join co-locates.
  *  - Docs/datasets/files are append-only Parquet via Glacier snapshots —
  *    immutable files, per-partition lineage in the manifest.
  */
object CrawlLoop {

  final case class CrawlConfig(
      repo: RepoConfig,
      hostBudget: Map[String, Int],
      maxRounds: Int,
      glacierRoot: String,
      /** ignored: kept for call-site compatibility — the drain's partial
        * pass makes salting unnecessary (see [[drainSelectManaged]]) */
      salts: Int = 8,
      bloomShards: Int = 64,
      bloomExpectedPerShard: Long = 1L << 16,
      bloomFpp: Double = 0.03,
      /** post-crawl cleanup (exclusion + false-positive removal) — the
        * reference runs it on every scrape's output (zenodo.py:625-639). */
      cleanup: CleanupConfig = CleanupConfig(),
      /** fold the delta-appended seen/bloom state every N rounds
        * (0 = never): bounds manifest file lists + probe-side delta merges
        * on long crawls. */
      compactEvery: Int = 0,
      /** fast-path membership sketch: "bloom" (default) or "cuckoo"
        * (deletion-capable — see SeenSet.forgetUrls). Routing-only either
        * way; crawl order and the exact seen set are sketch-independent. */
      seenSketch: String = "bloom",
      /** the fetch seam (SURVEY §7.1(6)): None = the deterministic
        * synthetic fleet; a deployment supplies [[HttpFetchClient]] (or its
        * own) and touches nothing else. Must be Serializable — captured in
        * the fetch stage's mapPartitions closure. */
      client: Option[FetchClient] = None,
  ) {
    def fetcher: FetchClient = client.getOrElse(SyntheticFetchClient(repo))
    def sketch: SeenSet.SeenSketch = seenSketch match {
      case "bloom"  => SeenSet.BloomSeen(bloomExpectedPerShard, bloomFpp)
      case "cuckoo" => SeenSet.CuckooSeen(bloomExpectedPerShard)
      case other    => throw new IllegalArgumentException(
        s"unknown seen sketch '$other' (bloom|cuckoo)")
    }
  }

  private val seqCols = Seq("round", "queryIdx", "pageIdx", "hitIdx")
  private def priority = col("score").desc +: seqCols.map(c => col(c).asc)

  /** Bloom sizing recorded in every snapshot's metrics so a resume can
    * validate filter compatibility before touching any shard bytes. */
  private def bloomSizing(cfg: CrawlConfig): Map[String, Long] = Map(
    "bloom_shards" -> cfg.bloomShards.toLong,
    "bloom_expected" -> cfg.bloomExpectedPerShard,
    "bloom_fpp_x1e9" -> (cfg.bloomFpp * 1e9).round,
    "seen_sketch" -> cfg.sketch.tag,
  )

  /** Run (or resume) the crawl to completion; returns the Glacier handle.
    *
    * This is the one place that decides how a crawl executes, for every
    * caller (tests, the query entries, the benches): AQE is off for the
    * whole run — a BSP round is many small known-shape stages, and
    * per-stage re-planning is pure fixed cost there (BENCH.md round 2; the
    * logical results are identical either way) — and [[crawl]] sizes the
    * shuffle grain round by round. The bootstrap and the rounds run in
    * [[PlanMode]]'s interpreted mode at any size, the post-pass in the
    * mode its snapshot calls for. Every session conf it changes is
    * restored on every exit, a failed round included.
    */
  def run(spark: SparkSession, cfg: CrawlConfig): Glacier = {
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled")
    val partsBefore = spark.conf.get("spark.sql.shuffle.partitions")
    val codegen = PlanMode.sessionConfs(spark)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try crawl(spark, cfg, partsBefore, codegen)
    finally {
      spark.conf.set("spark.sql.shuffle.partitions", partsBefore)
      spark.conf.set("spark.sql.adaptive.enabled", aqeBefore)
      codegen.foreach { case (k, v) => spark.conf.set(k, v) }
    }
  }

  /** The crawl under [[run]]'s plan policy; the post-pass runs at the
    * session's own shuffle grain, `sessionParts`, and sized against the
    * session's own codegen confs, `codegen`. */
  private def crawl(spark: SparkSession, cfg: CrawlConfig,
                    sessionParts: String,
                    codegen: Seq[(String, String)]): Glacier = {
    import spark.implicits._
    val tStart = System.nanoTime()
    val g = new Glacier(cfg.glacierRoot)
    // rounds won interpreted at every size measured: sized as empty
    val interpreted = PlanMode.set(spark, 0L, codegen)

    // ---- bootstrap or resume ----------------------------------------------
    // resume off the newest snapshot that recorded a round (maintenance
    // commits — compaction, expiry — carry no crawl metrics). Either way
    // the saturation watch gets its per-shard baseline: a resume reads it
    // from the state table (ONE column-pruned job), a bootstrap takes it
    // from the observation on its own bloom write (no job); each round's
    // deltas then ride that round's bloom write.
    val (firstRound, fill) = g.history.reverse
      .find(_.metrics.contains("round"))
      .map { m =>
        // Bloom deltas are merged per shard at probe time, which requires
        // every delta built with identical sizing — fail fast on a resume
        // with a different config (the mismatch otherwise surfaces as an
        // IncompatibleMergeException deep inside a round).
        val rec = (m.metrics.get("bloom_shards"),
          m.metrics.get("bloom_expected"), m.metrics.get("bloom_fpp_x1e9"),
          m.metrics.get("seen_sketch").orElse(
            m.metrics.get("bloom_shards").map(_ => 0L))) // pre-sketch-era = bloom
        val now = (Some(cfg.bloomShards.toLong),
          Some(cfg.bloomExpectedPerShard), Some((cfg.bloomFpp * 1e9).round),
          Some(cfg.sketch.tag))
        require(rec._1.isEmpty || rec == now,
          s"resume with different seen-set sizing/sketch: snapshot has $rec, config has $now")
        (m.metrics.getOrElse("round", 0L).toInt + 1, new SketchFillState(
          g.read(spark, "bloom").map(stateFillCounts).getOrElse(Map.empty)))
      }.getOrElse {
        val seeds = SyntheticRepo.seedTasks(cfg.repo)
          .filter(t => Robots.allowed(t.url))
        val seedDs = spark.createDataset(seeds)
        val seedUrls = seedDs.select($"url", lit(0).as("round_seen"))
        val obsBloom = Observation("bloom_r0")
        val bloom = SeenSet.buildShardsWith(seedUrls, cfg.bloomShards,
          cfg.sketch).observe(obsBloom, shardDeltas)
        g.commit(spark, Seq(
          g.TableWrite("frontier", seedDs.toDF(), g.Replace),
          g.TableWrite("seen", seedUrls, g.Append),
          g.TableWrite("bloom", bloom, g.Append),
        ), bloomSizing(cfg) ++ PlanMode.metric(spark) + ("round" -> 0L),
          note = "bootstrap")
        (1, new SketchFillState(observedDeltas(obsBloom)
          .groupMapReduce(_._1)(_._2)(_ + _)))
      }
    var round = firstRound

    if (sys.env.contains("SPARK_GRAFT_CRAWL_VERBOSE"))
      System.err.println(f"[crawl] bootstrap/resume done at ${(System.nanoTime() - tStart) / 1e9}%.1fs")
    var pending = g.rowCount("frontier")
    // `prev` = the previous round's pipelined commit, possibly still
    // writing its bulk output tables in the background while this round
    // drains+fetches. The next round reads frontier/seen/bloom from the
    // handle's staged view (those writes ARE synchronous barriers); every
    // other consumer (compaction, post-pass, loop exit) joins it first.
    var prev: Option[Glacier.PendingCommit] = None
    // Barrier tables come from the live handle's staged view; anything the
    // handle doesn't carry (non-barrier tables mid-pipeline, e.g.
    // crawl_log) falls back to the last COMMITTED snapshot. That fallback
    // is read-committed, i.e. deliberately one round stale for a bulk
    // table whose background write hasn't flipped yet — a caller needing
    // the in-flight round's bulk output must prev.foreach(_.await())
    // first (as compaction, the post-pass and loop exit do). All current
    // in-loop reads are barrier tables (frontier/seen/bloom), always
    // served by the handle.
    def readTable(table: String): Option[DataFrame] =
      prev.flatMap(_.read(spark, table)).orElse(g.read(spark, table))
    // Scale-adaptive shuffle grain for the BSP rounds (guide §2.2: size
    // partitions to the data, not to a constant): a round's shuffles carry
    // on the order of `pending` rows, and a micro-crawl frontier of a few
    // hundred URLs gains nothing from defaultParallelism-wide barriers —
    // each of the round's ~dozen shuffles would spawn 32 near-empty tasks
    // ([[run]] keeps AQE off, so nothing coalesces them). Target
    // ~256 rows per partition, clamped to [2, defaultParallelism]: a
    // production-scale frontier (tens of thousands pending) keeps full
    // width, so this is the adaptive form of the same setting, not a
    // local-mode tune. The session grain returns for the post-pass
    // (results are partition-count-invariant — the bit-identical
    // log_checksum across the 8- vs 32-core BASELINE protocols pins that
    // property).
    def roundParts(p: Long): Int = math.max(2, math.min(
      spark.sparkContext.defaultParallelism, ((p + 255) / 256).toInt))
    while (pending > 0 && round <= cfg.maxRounds) {
      val t0 = System.nanoTime()
      spark.conf.set("spark.sql.shuffle.partitions",
        roundParts(pending).toString)
      val r = runRound(spark, g, cfg, round, pending, readTable, fill)
      prev = Some(r.handle)
      pending = r.pendingAfter
      if (sys.env.contains("SPARK_GRAFT_CRAWL_VERBOSE")) {
        System.err.println(f"[crawl] round $round%2d: fetched=${r.fetched}%6d " +
          f"enqueued=${r.enqueued}%6d pending=$pending%7d " +
          f"${(System.nanoTime() - t0) / 1e9}%6.1fs " +
          (if (interpreted) "interpreted" else "codegen"))
      }
      if (cfg.compactEvery > 0 && round % cfg.compactEvery == 0) {
        prev.foreach(_.await()); prev = None // compaction reads CURRENT
        g.compact(spark, "seen", parts = spark.sparkContext.defaultParallelism)
        g.compact(spark, "bloom", parts = math.max(1,
          spark.sparkContext.defaultParallelism / 4),
          transformFn = SeenSet.foldShardsWith(_, cfg.sketch))
      }
      round += 1
    }
    spark.conf.set("spark.sql.shuffle.partitions", sessionParts)
    prev.foreach(_.await()); prev = None
    // post-pass once the crawl is done (idempotent on resume: skipped when
    // the current snapshot already is the post-pass), sized now that every
    // round's writes are durable
    if (!g.currentManifest.exists(_.note == "post-pass")) {
      val tp = System.nanoTime()
      PlanMode.set(spark, PlanMode.snapshotRows(g), codegen)
      postPass(spark, g, cfg)
      if (sys.env.contains("SPARK_GRAFT_CRAWL_VERBOSE"))
        System.err.println(f"[crawl] post-pass ${(System.nanoTime() - tp) / 1e9}%.1fs")
    }
    g
  }

  /** Re-crawl eligibility: forget `urls` (a `url`-column frame) from the
    * seen state — exact table AND fast-path sketch — and re-enqueue them on
    * the frontier at depth 0 with their original seed-order priority
    * fields zeroed, so a subsequent [[run]] on the same Glacier root
    * fetches them again. With the cuckoo sketch the shard edit is O(1) per
    * url; with Bloom the touched shards are rebuilt from the exact
    * remainder (SeenSet.forgetUrls). Commits one snapshot.
    */
  def forget(spark: SparkSession, g: Glacier, cfg: CrawlConfig,
             urls: DataFrame): Unit = {
    import spark.implicits._
    val seenExact = g.read(spark, "seen").get
    val state = g.read(spark, "bloom").get
    val (newSeen, newState) = SeenSet.forgetUrls(seenExact, state, urls,
      cfg.bloomShards, cfg.sketch)
    val requeued = urls.select("url")
      .join(seenExact.select(col("url").as("__s")), col("url") === col("__s"),
        "left_semi")
      .select($"url", substring_index($"url", ":", 1).as("host"),
        lit(0).as("depth"), lit(0.0).as("score"), lit(0).as("round"),
        // drain priority must stay a total order: derive distinct
        // deterministic tie-breakers from the url (no window, no collect)
        pmod(xxhash64($"url"), lit(1 << 30)).cast("int").as("queryIdx"),
        lit(0).as("pageIdx"),
        pmod(xxhash64($"url", lit(1)), lit(1 << 30)).cast("int").as("hitIdx"))
    // A forgotten url can still be PENDING on the frontier (pending urls are
    // already in the seen table, so the left_semi above passes): re-enqueuing
    // it would put two live rows on the frontier and fetch it twice. Only
    // union rows not already pending.
    val frontier = g.read(spark, "frontier")
      .map { f =>
        val pending = f.select(col("url").as("__p"))
        f.select(frontierCols: _*).unionByName(
          requeued.join(pending, col("url") === col("__p"), "left_anti"))
      }
      .getOrElse(requeued)
    g.commit(spark, Seq(
      g.TableWrite("seen", newSeen, g.Replace),
      g.TableWrite("bloom", newState, g.Replace),
      g.TableWrite("frontier", frontier, g.Replace),
    ), bloomSizing(cfg), note = "forget")
  }

  /** The reference's output cleanup as a distributed post-pass
    * (zenodo.py:625-639, toolbox.py:265-466): exclusion filter over the
    * files table (first-match-wins `when` cascade with per-pattern counted
    * metrics), then false-positive dataset removal (datasets whose
    * remaining files carry no MD file type), committed as
    * `datasets_clean`/`files_clean` in one snapshot.
    *
    * Scale: one map pass over files (codegen'd cascade), one partial-agg
    * shuffle on dataset id for the type-set rollup, two anti-joins against
    * the (small relative to files) false-positive id set. No driver
    * materialization beyond the per-pattern count rows.
    */
  def postPass(spark: SparkSession, g: Glacier, cfg: CrawlConfig): Unit = {
    import spark.implicits._
    val cu = cfg.cleanup
    val files = g.read(spark, "files").getOrElse(return)
    val datasets = g.read(spark, "datasets").getOrElse(return)
    val lastRound = g.history.reverse.find(_.metrics.contains("round"))
      .map(_.metrics("round")).getOrElse(0L)

    val exclLabels = Relational.exclusionLabels(cu.excludedPathPatterns,
      cu.excludedFilePatterns)
    val cascade = Relational.exclusionLabel(cu.excludedPathPatterns,
      cu.excludedFilePatterns)
    // Per-pattern exclusion counts RIDE the files_clean write action
    // (count_if per static label — the label set is the config, not the
    // data): no standalone count job, and no full-table cache. The cascade
    // is a codegen'd column — recomputing it per consumer is a parallel
    // re-scan, strictly cheaper at scale than materializing the whole
    // files table into executor storage (the round-2 shape).
    val obsExcl = Observation("postpass_excl")
    // always ≥1 aggregate (empty pattern config still needs a valid observe)
    val exclAggs = count(lit(1)).as("n_files") +:
      exclLabels.zipWithIndex.map { case (l, i) =>
        count_if($"__excl" === l).as(s"e_$i")
      }
    val keptObs = files.withColumn("__excl", cascade)
      .observe(obsExcl, exclAggs.head, exclAggs.tail: _*)
      .filter($"__excl".isNull).drop("__excl")
    // unobserved twin for the plans that must not re-fire the observation
    val kept = files.withColumn("__excl", cascade)
      .filter($"__excl".isNull).drop("__excl")

    val fpIds = kept.groupBy($"dataset_id_in_repository")
      .agg(collect_set($"file_type").as("fts"))
      .filter(size(array_intersect($"fts",
        typedLit(cu.mdFileTypes))) === 0)
      .select($"dataset_id_in_repository".as("__fp_id"))
    val filesNoFp = keptObs.join(fpIds,
      $"dataset_id_in_repository" === $"__fp_id", "left_anti")
    val datasetsClean = datasets.join(fpIds,
      $"dataset_id_in_repository" === $"__fp_id", "left_anti")
    // merge HEAD-probe sizes into files whose size the page didn't carry
    // (gpcrmd/atlas shape) — urls are unique (seen-set), so the join is 1:1
    val filesClean = g.read(spark, "head_sizes") match {
      case None => filesNoFp
      case Some(hs) =>
        filesNoFp.join(
          hs.select($"file_url".as("__hurl"),
            $"file_size_in_bytes".as("__hsize")),
          $"file_url_in_repository" === $"__hurl", "left")
          .withColumn("file_size_in_bytes",
            coalesce($"file_size_in_bytes", $"__hsize"))
          .drop("__hurl", "__hsize")
    }

    g.commit(spark, Seq(
      g.TableWrite("datasets_clean", datasetsClean, g.Replace),
      g.TableWrite("files_clean", filesClean, g.Replace),
    ), metrics = {
      def m(i: Int): Long =
        obsExcl.get(s"e_$i").asInstanceOf[Number].longValue()
      val exclusionCounts = exclLabels.indices.map(i => exclLabels(i) -> m(i))
        .filter(_._2 > 0) // only patterns that HIT, like the reference log
      bloomSizing(cfg) ++ PlanMode.metric(spark) ++
        exclusionCounts.map { case (k, v) => s"excl:$k" -> v } ++ Map(
          "round" -> lastRound, // resume reads `round` off the latest snapshot
          "files_excluded" -> exclusionCounts.map(_._2).sum,
        )
    // par=2: the two rewrites share NO cached chain (the cascade/fpIds are
    // recomputed per consumer by design), so racing them is safe and fills
    // the cluster where one alone under-parallelizes
    }, note = "post-pass", par = 2)
  }

  /** What a round hands back to the loop: the observation-derived counts
    * (so the loop never blocks on the in-flight commit for them) and the
    * round's pipelined-commit handle. */
  final case class RoundResult(handle: Glacier.PendingCommit,
                               pendingAfter: Long, fetched: Long,
                               enqueued: Long)

  /** Driver-side cumulative per-shard sketch fill. Seeded ONCE: from the
    * bootstrap bloom write's observation, or from the state table on a
    * resume (a single column-pruned job); each round's per-shard delta
    * counts arrive via the bloom write's own Observation — the saturation
    * watch costs ZERO per-round Spark jobs and never rescans the
    * append-only state history. Synchronized:
    * the metrics thunk runs on the background pipelined-commit thread
    * (FIFO-ordered, so round N's update happens-before round N+1's read).
    * nShards longs of driver memory — 4096 at the design point. */
  final class SketchFillState(init: Map[Int, Long]) {
    private val counts = scala.collection.mutable.Map.empty[Int, Long] ++ init
    /** fold in a round's per-shard deltas → (max inserted, saturated #) */
    def update(deltas: Seq[(Int, Long)], expected: Long): (Long, Long) =
      synchronized {
        deltas.foreach { case (s, n) => counts(s) = counts.getOrElse(s, 0L) + n }
        if (counts.isEmpty) (0L, 0L)
        else (counts.values.max, counts.values.count(_ > expected).toLong)
      }
  }

  /** The per-shard fill deltas of a sketch-state frame, as an observed
    * metric: one (shard, inserted) struct per state row. */
  private def shardDeltas: Column =
    collect_list(struct(col("shard"), col("inserted"))).as("deltas")

  /** The (shard, inserted) pairs a [[shardDeltas]] observation collected. */
  private def observedDeltas(o: Observation): Seq[(Int, Long)] =
    o.get("deltas").asInstanceOf[scala.collection.Seq[Row]]
      .map(r => (r.getInt(0), r.getLong(1))).toSeq

  /** Seed counts from a state table; pre-upgrade roots (no `inserted`
    * column) start at an unknown baseline of 0 — the watch under-reports
    * there until shards are rebuilt, and says so. */
  def stateFillCounts(state: DataFrame): Map[Int, Long] =
    if (!state.columns.contains("inserted")) {
      System.err.println("[crawl] NOTE: seen-sketch state predates fill " +
        "accounting — saturation metrics under-report until shards rebuild")
      Map.empty
    } else
      // coalesce: mixed-era tables read pre-column part-files as null
      state.select(col("shard").cast("int"),
          coalesce(col("inserted").cast("long"), lit(0L)).as("inserted"))
        .groupBy(col("shard")).agg(sum(col("inserted")).as("ins"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap

  /** One BSP round: drain → fetch → parse → dedup → snapshot.
    * `readTable` supplies the round's input state — the previous round's
    * pipelined handle (staged barrier tables) or the committed snapshot. */
  def runRound(spark: SparkSession, g: Glacier, cfg: CrawlConfig,
               round: Int, pendingBefore: Long,
               readTable: String => Option[DataFrame],
               fill: SketchFillState = new SketchFillState(Map.empty))
      : RoundResult = {
    import spark.implicits._
    // read now: the metrics below are evaluated on the commit lane, which
    // may still run after a failed next round has restored the session
    val planMode = PlanMode.metric(spark)

    val frontier = readTable("frontier").get
    // withSeq is a cheap projection over the drain's internal cache (the
    // global numbering already needed a counts pass) — no second persist.
    val (withSeq, releaseDrain) =
      drainSelectManaged(frontier, cfg.hostBudget, cfg.salts)

    // ---- fetch: uniform url-hash partitioning, executor-pure --------------
    // Every cardinality metric below rides on the write actions via
    // Observation/CollectMetrics — a BSP round fires NO standalone count
    // jobs (per-round fixed cost is what bounds crawl throughput; it was
    // measured to dominate wall-clock before this restructuring).
    val fetchClient = cfg.fetcher // the serializable seam, captured below
    val parallelism = spark.sparkContext.defaultParallelism
    val obsFetch = Observation(s"fetch_r$round")
    // Uniform url-hash partitioning: politeness is enforced LOGICALLY by
    // the budget drain, so the fetch stage is free to balance perfectly.
    // (Partitioning by (host, salt) caps distinct keys at hosts×salts —
    // with 3 hosts it starved a 32-way stage to ~20 effective tasks. On a
    // real network you'd partition by host for connection reuse and scale
    // salts with the host's budget; hash(url) is that same scheme in the
    // limit of salts→budget.)
    val fetched: Dataset[RoundFetch] = withSeq
      .repartition(parallelism, xxhash64(col("url")))
      .as[SelectedTask]
      .mapPartitions { it =>
        it.map { t =>
          val p = fetchClient.fetch(t.url)
          RoundFetch(t.url, t.host, t.depth, t.seqInRound, t.kInHost,
            p.status, p.attempts, p.doc, p.links)
        }
      }
      .observe(obsFetch,
        count(lit(1)).as("n"),
        count_if($"status" === 200).as("ok"),
        sum($"attempts").cast("long").as("attempts"),
        sum(when($"status" === 200, size($"links")).otherwise(0))
          .cast("long").as("links"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    // ---- crawl-order log (the parity artifact) ----------------------------
    // sched_sec: the politeness schedule as lineage — the k-th fetch a host
    // performs this round (kInHost, minted in the DRAIN from the same
    // range-partitioned counts pass as seqInRound: no host-partitioned
    // window, no extra shuffle — partitionBy(host) with a handful of hosts
    // would sort a whole host's round in ONE task) is stamped at
    // roundStart + k·(60/rate) simulated seconds, the exact arithmetic of
    // Politeness.scheduledSecond (the oracle's path; parity asserts
    // bit-equality).
    val secPerFetch = typedLit(
      Politeness.secondsPerFetch(Politeness.referencePolicies))
    val log = fetched.select(lit(round).as("round"), $"seqInRound",
      $"url", $"host", $"depth", $"status", size($"links").as("nLinks"),
      $"attempts",
      (lit(((round - 1) * Politeness.RoundSeconds).toDouble) +
        $"kInHost" * coalesce(element_at(secPerFetch, $"host"),
          lit(Politeness.defaultSecondsPerFetch)))
        .as("sched_sec"))

    // ---- docs: interleaved span documents of fetched pages ----------------
    val docs = fetched.filter($"status" === 200)
      .select(lit(round).as("round"), $"seqInRound",
        $"doc.doc_id".as("doc_id"), $"doc.spans".as("spans"))

    // ---- records: parse + validate (quarantine = drop-and-log) ------------
    // one pass over the cached pages emits both record kinds
    val obsParsed = Observation(s"parsed_r$round")
    val parsed = fetched.filter($"status" === 200).flatMap { f =>
      val ds = PageParser.parseDatasets(f.host, f.doc)
        .map(Validators.validateDataset).zipWithIndex.map { case (e, i) =>
          ParsedRow(f.seqInRound, i, 0, e.toOption, None, None, e.isLeft)
        }
      val fs = PageParser.parseFiles(f.host, f.doc)
        .map(Validators.validateFile).zipWithIndex.map { case (e, i) =>
          ParsedRow(f.seqInRound, i, 1, None, e.toOption, None, e.isLeft)
        }
      val hs = PageParser.parseHeadSizes(f.doc).zipWithIndex.map {
        case (h, i) => ParsedRow(f.seqInRound, i, 2, None, None, Some(h),
          bad = false)
      }
      ds ++ fs ++ hs
    }.observe(obsParsed,
        count_if($"kind" === 0 && $"bad").as("dsQ"),
        count_if($"kind" === 1 && $"bad").as("fQ"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val datasets = parsed.filter($"kind" === 0 && !$"bad")
      .select(lit(round).as("round"), $"seqInRound", $"ordinal", $"ds.*")
    val files = parsed.filter($"kind" === 1 && !$"bad")
      .select(lit(round).as("round"), $"seqInRound", $"ordinal", $"f.*")
    val headSizes = parsed.filter($"kind" === 2)
      .select(lit(round).as("round"), $"seqInRound", $"ordinal", $"hp.*")

    // ---- discovered links → frontier candidates ---------------------------
    // Column gates (no UDF, so no per-row conversion into Scala objects;
    // rounds run interpreted, see PlanMode): the fixed-two-round OSF
    // expansion bound (CrawlSpec.linkAllowed) before the robots rules (the
    // Robots.allowed kernel).
    val obsLinks = Observation(s"links_r$round")
    val allowedLinks = fetched.filter($"status" === 200)
      .select($"seqInRound", $"depth", explode($"links").as("l"))
      .select($"seqInRound", $"depth", $"l.url".as("url"),
        $"l.ordinal".as("ordinal"), $"l.score".as("score"))
      .withColumn("gate",
        !(startswith($"url", lit("osf://node/")) && $"depth" >= 3))
      .withColumn("rob", Robots.allowedCol($"url"))
      .observe(obsLinks,
        count_if($"gate" && $"rob").as("allowed"),
        count_if(!$"gate").as("gated"))
      .filter($"gate" && $"rob").drop("gate", "rob")

    // first-wins within the round: earliest (seqInRound, ordinal) per url.
    // min(struct(..)) instead of a row_number window: (seqInRound, ordinal)
    // is unique per link occurrence, so the lexicographic struct minimum IS
    // the window winner — but Min partial-aggregates (map-side combine
    // shrinks the shuffle to distinct urls per partition) and skips the
    // per-key sort a window pays. At 100 TB the links→dedup shuffle is the
    // round's largest; this bounds it by distinct-url volume, not link
    // volume.
    val obsFirst = Observation(s"first_r$round")
    val firstWins = allowedLinks
      .groupBy($"url")
      .agg(min(struct($"seqInRound", $"ordinal", $"depth", $"score"))
        .as("__w"))
      .select($"__w.seqInRound".as("seqInRound"), $"__w.depth".as("depth"),
        $"url", $"__w.ordinal".as("ordinal"), $"__w.score".as("score"))
      .observe(obsFirst, count(lit(1)).as("n"))

    // seen check: Bloom fast path (shard-cogrouped, fully distributed —
    // no driver collect, no broadcast) + exact confirm
    val seenExact = readTable("seen").get
    val bloomState = readTable("bloom").get
    val obsNew = Observation(s"new_r$round")
    val newLinks = SeenSet.filterNewWith(firstWins, bloomState, seenExact,
      cfg.bloomShards, cfg.sketch)
      .observe(obsNew, count(lit(1)).as("n"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    val newTasks = newLinks.select(
      $"url",
      substring_index($"url", ":", 1).as("host"),
      ($"depth" + 1).as("depth"),
      $"score",
      lit(round).as("round"),
      $"seqInRound".as("queryIdx"),
      lit(0).as("pageIdx"),
      $"ordinal".as("hitIdx"))

    val remaining = frontier.join(withSeq.select($"url".as("__sel")),
      $"url" === $"__sel", "left_anti")
    val newFrontier = remaining.select(frontierCols: _*)
      .unionByName(newTasks.select(frontierCols: _*))

    val newSeenUrls = newLinks.select($"url", lit(round).as("round_seen"))
    // Bloom state is APPEND-only: each round commits just its small delta
    // shards; the probe merges rows per shard inside the cogroup and
    // Glacier.compact folds deltas back to one row per shard. Rewriting the
    // merged state every round (round 1 design) re-reads and re-writes the
    // full ~12 GB filter set per round at the 10^10-URL design point.
    val obsBloom = Observation(s"bloom_r$round")
    val deltaBloom = SeenSet.buildShardsWith(newSeenUrls, cfg.bloomShards,
      cfg.sketch)
      // per-shard fill deltas ride the write like every other metric —
      // without them the fill watch would rescan the state history
      .observe(obsBloom, shardDeltas)

    def m(o: Observation, k: String): Long =
      o.get(k).asInstanceOf[Number].longValue()

    // Bound part-files per delta: an append-only table otherwise grows by
    // `parallelism` tiny files per round, and later rounds pay the listing
    // + open cost on every seen-table read (measured: dominates late-round
    // wall time). At cluster scale deltas are large and writeParts rises
    // with them; the invariant is files sized for the data, not the cores.
    // Only tables RE-READ by the loop get file-count bounding: `seen` and
    // `bloom` are scanned every round (their listing cost compounds). The
    // append-only outputs (log/docs/datasets/files) and the Replace'd
    // frontier write at natural parallelism — coalescing them collapses
    // their write stages to writeParts tasks at ANY core count.
    val writeParts = math.max(2, parallelism / 4)
    def bounded(df: DataFrame): DataFrame = df.coalesce(writeParts)

    // The table writes themselves materialize the shared caches, in list
    // order, so no two concurrent writes race to build the same uncached
    // chain (racing writes serialize on block locks while occupying task
    // slots — measured 2-3× slower at 32 cores). barrier = the three
    // tables the NEXT round reads: the pipelined commit writes them first,
    // on this thread, in list order — frontier materializes the fetch
    // (obsFetch) and the link/dedup chain (obsLinks/obsFirst/obsNew), then
    // seen/bloom read those caches. The rest follow on the background lane
    // in list order, overlapped with the next round's drain+fetch:
    // crawl_log and docs read the fetch cache, datasets materializes the
    // parse (obsParsed), files/head_sizes read it. Row counts come from
    // the written parts' footers, and the metrics map is evaluated after
    // the last write, reading observations already fired. The round fires
    // ZERO actions that aren't table writes (minus the drain's tiny
    // offsets collect).
    val writes = Seq(
      g.TableWrite("crawl_log", log, g.Append),
      g.TableWrite("docs", docs, g.Append),
      g.TableWrite("datasets", datasets, g.Append),
      g.TableWrite("frontier", newFrontier, g.Replace, barrier = true),
      g.TableWrite("files", files, g.Append),
      g.TableWrite("seen", bounded(newSeenUrls), g.Append, barrier = true),
      g.TableWrite("bloom", bounded(deltaBloom), g.Append, barrier = true),
    ) ++ (if (cfg.repo.gpcrmdCount > 0) Seq(
      g.TableWrite("head_sizes", headSizes, g.Append)) else Seq.empty)
    // evaluated at manifest time (on the background lane — obsParsed
    // fires with the datasets write there)
    // Sketch saturation watch: this round's per-shard delta counts arrive
    // on the bloom write's Observation (fired by the synchronous barrier
    // write, read here at manifest time — zero extra jobs); the cumulative
    // fold lives on the driver (SketchFillState). Shards past their sized
    // capacity degrade FPP (bloom) or fail inserts (cuckoo) SILENTLY —
    // the metric makes mis-sizing visible in every snapshot, and the
    // warning names the fix.
    def sketchFill: (Long, Long) = {
      val expected = math.max(1L, cfg.bloomExpectedPerShard)
      val (mx, sat) = fill.update(observedDeltas(obsBloom), expected)
      if (sat > 0)
        System.err.println(s"[crawl] WARN round $round: $sat seen-sketch " +
          s"shard(s) past expected capacity $expected (max fill " +
          s"${100L * mx / expected}%) — raise bloomExpectedPerShard or " +
          "bloomShards before FPP degrades")
      (100L * mx / expected, sat)
    }
    def roundMetrics: Map[String, Long] = {
      val (fillPct, saturated) = sketchFill
      bloomSizing(cfg) ++ planMode ++ Map(
      "sketch_fill_max_pct" -> fillPct,
      "sketch_saturated_shards" -> saturated,
      "round" -> round.toLong,
      "fetched" -> m(obsFetch, "n"),
      "ok" -> m(obsFetch, "ok"),
      "attempts" -> m(obsFetch, "attempts"),
      "robots_excluded" -> (m(obsFetch, "links") - m(obsLinks, "gated") -
        m(obsLinks, "allowed")),
      "depth_gated" -> m(obsLinks, "gated"),
      "dup_in_round" -> (m(obsLinks, "allowed") - m(obsFirst, "n")),
      "seen_hits" -> (m(obsFirst, "n") - m(obsNew, "n")),
      "enqueued" -> m(obsNew, "n"),
      "datasets_quarantined" -> m(obsParsed, "dsQ"),
      "files_quarantined" -> m(obsParsed, "fQ"),
    )}
    def release(): Unit = {
      releaseDrain()
      Seq[Dataset[_]](fetched, parsed, newLinks)
        .foreach(_.unpersist(blocking = false))
    }

    val handle = g.commitPipelined(spark, writes, roundMetrics,
      note = s"round $round", onComplete = () => release())
    // phase A fired the fetch/link/new observations
    RoundResult(handle,
      pendingAfter = pendingBefore - m(obsFetch, "n") + m(obsNew, "n"),
      fetched = m(obsFetch, "n"), enqueued = m(obsNew, "n"))
  }

  /** Priority-queue drain: the per-host top-`budget` tasks by
    * (score desc, discovery seq asc), with a global 1-based `seqInRound`
    * over the selected set — the round's logical fetch order.
    *
    * Planned as the custom Catalyst operator [[graft.plans.TopKPerKey]]
    * with the per-host budget as the key-constant limit expression: the
    * partial pass bounds EVERY input partition to ≤budget rows per host
    * in place with bounded heaps (no sort, no shuffle — this subsumes
    * the round-2 salted two-phase ranking, which paid an extra shuffle
    * for the same skew kill), then ONE exchange on `host` feeds the
    * final heaps. A hot host with 10^9 pending rows never serializes a
    * full sort on one partition (north-rule skew handling), and the
    * frontier crosses the wire at most once, pre-pruned to
    * ≤ partitions×budget rows per host. Selection is identical to the
    * window form because `priority` is a total order (unique minted
    * discovery seq) — FrontierSpec pins it against a brute-force oracle.
    *
    * The `salts` parameter is retained for call-site compatibility; the
    * partial pass makes explicit salting unnecessary.
    *
    * The returned DataFrame reads from an internal cache (the global
    * numbering needs two passes); call the second element to release it
    * once the round's downstream consumers are materialized.
    */
  def drainSelectManaged(frontier: DataFrame, hostBudget: Map[String, Int],
                         salts: Int): (DataFrame, () => Unit) = {
    val budget = coalesce(element_at(typedLit(hostBudget), col("host")), lit(0))
    val selected =
      graft.plans.TopKPerKey(frontier, Seq(col("host")), priority, budget)
    assignGlobalSeq(selected)
  }

  /** Global dense 1-based `seqInRound` by `priority` with NO global window
    * (a `Window.orderBy` without partitioning funnels every row through one
    * partition — the round-1 scale-killer). Instead: range-repartition on
    * the sort key (parallel, sampled boundaries, skew-free), sort within
    * partitions, number rows as partitionOffset + local index — the
    * Dataset-native form of RDD.zipWithIndex. The offsets come from a
    * #partitions-row aggregate collected to the driver; rank keys are
    * unique (the minted discovery sequence), so the numbering is exact and
    * deterministic at any parallelism.
    */
  private def assignGlobalSeq(selected: DataFrame): (DataFrame, () => Unit) = {
    val spark = selected.sparkSession
    // follow the session shuffle grain (the crawl loop sizes it to the
    // round's pending volume): the numbering is exact and deterministic
    // at ANY partition count, and a range partition additionally pays a
    // boundary-sampling job per call — fewer partitions, cheaper sample
    val nParts = math.max(1,
      math.min(spark.sparkContext.defaultParallelism,
        spark.conf.get("spark.sql.shuffle.partitions").toInt))
    // monotonically_increasing_id = partitionId << 33 | indexInPartition;
    // after a range partition + in-partition sort it is globally monotone
    // with the priority order.
    val ordered = selected
      .repartitionByRange(nParts, priority: _*)
      .sortWithinPartitions(priority: _*)
      .withColumn("mid", monotonically_increasing_id())
      .persist(StorageLevel.MEMORY_AND_DISK)
    val pid = shiftrightunsigned(col("mid"), 33).cast("int")
    val localIdx = col("mid").bitwiseAND(lit((1L << 33) - 1))
    // ONE tiny collect (parts×hosts rows) feeds BOTH numberings: global
    // partition offsets for seqInRound, and per-(host, partition) offsets
    // for the politeness-schedule rank. Range partitions are ordered by
    // priority, so per-partition cumulative counts compose exactly.
    val counts = ordered.groupBy(pid.as("pid"), col("host"))
      .agg(count(lit(1)).as("cnt"))
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
      .toVector.sortBy(t => (t._1, t._2))
    val partTotals = counts.groupBy(_._1).view.mapValues(_.map(_._3).sum)
      .toSeq.sortBy(_._1)
    val offsets: Map[Int, Long] = partTotals
      .scanLeft((0, 0L)) { case ((_, acc), (p, c)) => (p, acc + c) }
      .sliding(2).collect { case Seq((_, off), (p, _)) => p -> off }
      .toMap
    // host's rows in partitions BEFORE pid (keyed "host:pid")
    val hostOffsets: Map[String, Long] = {
      val byHost = counts.groupBy(_._2)
      byHost.flatMap { case (host, rows) =>
        val sorted = rows.sortBy(_._1)
        sorted.scanLeft((host, -1, 0L)) { case ((_, _, acc), (p, _, c)) =>
          (host, p, acc + c)
        }.sliding(2).collect { case Seq((_, _, off), (_, p, _)) =>
          s"$host:$p" -> off
        }
      }
    }
    // per-host index within each sorted partition: a narrow counter pass
    // over the drain cache — no window, no exchange (the iterator order IS
    // the priority order after sortWithinPartitions)
    def withKInHost(df: DataFrame): DataFrame = {
      val schema = df.schema.add("kLocal", org.apache.spark.sql.types.IntegerType)
      implicit val enc: Encoder[Row] = Encoders.row(schema)
      val hostIdx = df.schema.fieldIndex("host")
      df.mapPartitions { it =>
        val seen = scala.collection.mutable.HashMap.empty[String, Int]
        it.map { r =>
          val h = r.getString(hostIdx)
          val k = seen.getOrElse(h, 0)
          seen(h) = k + 1
          Row.fromSeq(r.toSeq :+ k)
        }
      }
    }
    val withSeq =
      if (offsets.isEmpty)
        ordered.withColumn("seqInRound", lit(1))
          .withColumn("kInHost", lit(0)).drop("mid")
      else {
        val hk = coalesce(
          element_at(typedLit(hostOffsets),
            concat(col("host"), lit(":"), pid.cast("string"))),
          lit(0L))
        withKInHost(ordered)
          .withColumn("seqInRound",
            (element_at(typedLit(offsets), pid) + localIdx + 1).cast("int"))
          .withColumn("kInHost", (hk + col("kLocal")).cast("int"))
          .drop("mid", "kLocal")
      }
    (withSeq, () => { ordered.unpersist(blocking = false); () })
  }

  private val frontierCols =
    Seq("url", "host", "depth", "score", "round", "queryIdx", "pageIdx", "hitIdx")
      .map(col)

  final case class SelectedTask(url: String, host: String, depth: Int,
      score: Double, round: Int, queryIdx: Int, pageIdx: Int, hitIdx: Int,
      seqInRound: Int, kInHost: Int)

  final case class RoundFetch(url: String, host: String, depth: Int,
      seqInRound: Int, kInHost: Int, status: Int, attempts: Int, doc: Doc,
      links: Seq[DiscoveredLink])

  /** One validated parse result; kind 0 = dataset row, 1 = file row,
    * 2 = HEAD size-probe answer. */
  final case class ParsedRow(seqInRound: Int, ordinal: Int, kind: Int,
      ds: Option[DatasetRecord], f: Option[FileRecord],
      hp: Option[HeadProbe], bad: Boolean)
}
