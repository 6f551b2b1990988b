package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.crawl._
import graft.crawl.CrawlLoop.CrawlConfig

/** North-rule scaling bench: run the identical synthetic crawl at a given
  * parallelism and report URLs fetched+deduped/sec. The driver note pins the
  * evidence protocol: no real cluster in the sandbox, so two-cluster-size
  * scaling is evidenced by the SAME input at local[8] vs local[32]; see
  * BENCH.md for the recorded pair + efficiency = (T8/T32)/4.
  *
  *   SPARK_GRAFT_CPUS=8  sbt "runMain graft.CrawlBench"
  *   SPARK_GRAFT_CPUS=32 sbt "runMain graft.CrawlBench"
  *
  * Prints one JSON line: urls fetched, wall seconds, urls/sec, a
  * parallelism-invariant checksum of the crawl-order log (equality across
  * the two runs is the determinism evidence), and config echo.
  */
object CrawlBench {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    // scale knob: total URL volume grows with SPARK_GRAFT_CRAWL_SCALE
    val scale = sys.env.getOrElse("SPARK_GRAFT_CRAWL_SCALE", "1").toInt
    // Glacier root + spark.local.dir (shuffle/spill) on tmpfs when
    // available: the bench measures the ENGINE, not one shared local disk —
    // a cluster deployment spreads writes and spills over hundreds of
    // spindles / per-executor NVMe. Override with SPARK_GRAFT_BENCH_ROOT.
    val benchBase = sys.env.get("SPARK_GRAFT_BENCH_ROOT")
      .getOrElse(BenchDirs.scratchBase)
    val root = BenchDirs.deleteOnExit(Files.createTempDirectory(
      java.nio.file.Paths.get(benchBase), s"crawl-bench-$cpus").toString)
    val localDir = BenchDirs.deleteOnExit(Files.createTempDirectory(
      java.nio.file.Paths.get(benchBase), s"spark-local-$cpus").toString)
    val spark = LocalSession(cpus, "spark.local.dir" -> localDir,
      "spark.driver.memory" -> sys.env.getOrElse("SPARK_DRIVER_MEM", "8g"))

    // Workload sized so politeness-bounded rounds stay FULL for most of the
    // crawl (the loop-scaling number is only meaningful when rounds carry
    // real work — a draining tail measures commit latency, not the engine).
    // 8 filetype queries/host feed the search-driven branches; the
    // gpcrmd/mddb repositories contribute detail+probe/filenotes volume.
    val repo = RepoConfig(seed = 7L, universe = 30000 * scale,
      fileTypes = Seq("gro", "mdp", "xtc", "top", "trr", "itp", "tpr", "cpt"),
      // the cursor chain is strictly one page per round (dependent-cursor
      // semantics) — 4 pages keeps the topology in the bench without
      // padding the tail with 1-URL rounds that measure only commit floor
      pageSize = 100, maxHitsPerQuery = 10000, cursorPages = 4,
      gpcrmdCount = 1000 * scale, mddbCount = 1600 * scale,
      atlasCount = 800 * scale)
    // Budgets model ONE politeness refill interval per round; the bench
    // uses a long interval (~4× the parity suite's) so rounds amortize the
    // per-round fixed cost the way production rounds (thousands of hosts ×
    // real budgets) do — the refill interval is a modeling knob, the
    // budget RATE is the politeness invariant.
    val budget = Map("zenodo" -> 16000 * scale, "figshare" -> 12000 * scale,
      "osf" -> 12000 * scale, "nomad" -> 200, "gpcrmd" -> 4000 * scale,
      "mddb" -> 3200 * scale, "atlas" -> 2000 * scale)
    // salts is ignored by the drain (see CrawlLoop.drainSelectManaged), so
    // the two cluster-size runs execute the same logical plan on the same
    // input at every parallelism.
    // seen-set sketch under test: bloom (default) or cuckoo — same crawl,
    // same checksum, different fast-path membership bytes
    val sketch = sys.env.getOrElse("SPARK_GRAFT_SEEN_SKETCH", "bloom")
    val cfg = CrawlConfig(repo, budget, maxRounds = 8, root,
      salts = 8, bloomShards = 64, bloomExpectedPerShard = 1L << 16,
      seenSketch = sketch)

    def gcMs: Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime).sum
    }
    val gc0 = gcMs
    val t0 = System.nanoTime()
    val g = CrawlLoop.run(spark, cfg)
    val secs = (System.nanoTime() - t0) / 1e9
    val loopGcMs = gcMs - gc0

    val log = g.read(spark, "crawl_log").get
    val urls = log.count()

    // ---- fetch+parse KERNEL scaling probe ---------------------------------
    // The same fetch+parse+validate work as the loop's hot stage, isolated
    // from round-commit latency: at 10^10-URL scale (thousands of hosts ×
    // real budgets) this stage dominates a round completely, so its
    // N-vs-4N ratio is the cluster-size scaling signal least distorted by
    // the 3-host sandbox's politeness-bounded round sizes.
    import spark.implicits._
    val t1 = System.nanoTime()
    val kernelClient = cfg.fetcher
    val kernelRows = log.select("url")
      .repartition(cpus * 2, xxhash64(col("url")))
      .as[String]
      .mapPartitions { it =>
        it.map { u =>
          val p = kernelClient.fetch(u)
          if (p.status != 200) 0L
          else {
            val d = PageParser.parseDatasets(p.host, p.doc)
              .map(graft.model.Validators.validateDataset).count(_.isRight)
            val f = PageParser.parseFiles(p.host, p.doc)
              .map(graft.model.Validators.validateFile).count(_.isRight)
            d.toLong + f
          }
        }
      }.toDF("n").agg(sum("n")).collect()(0).getLong(0)
    val kernelSecs = (System.nanoTime() - t1) / 1e9
    // order-invariant checksum over the logical crawl order
    val checksum = log.select(
      sum(xxhash64(col("round"), col("seqInRound"), col("url"), col("status"))
        .cast(org.apache.spark.sql.types.DecimalType(38, 0))).as("c"))
      .collect()(0).getDecimal(0).toBigInteger.toString
    val seen = g.rowCount("seen")
    val docs = g.rowCount("docs")
    println(s"""{"metric":"crawl_urls_per_sec","value":${urls / secs},""" +
      s""""unit":"urls/sec","cpus":$cpus,"scale":$scale,"urls":$urls,""" +
      s""""seconds":$secs,"seen":$seen,"docs":$docs,""" +
      s""""kernel_urls_per_sec":${urls / kernelSecs},""" +
      s""""kernel_seconds":$kernelSecs,"kernel_rows":$kernelRows,""" +
      s""""sketch":"$sketch",""" +
      s""""loop_gc_ms":$loopGcMs,""" +
      s""""log_checksum":"$checksum"}""")
    spark.stop()
  }
}
