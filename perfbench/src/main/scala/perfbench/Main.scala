package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import com.sun.management.GarbageCollectionNotificationInfo

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Paths and shared state of one benchmark run. */
final class Ctx(val work: String, val data: String, val golden: String,
                val refCache: String, val tracer: Tracer) {
  val layers = new LayerSums
  val probeFailures = scala.collection.mutable.ArrayBuffer.empty[String]
  val mismatches = scala.collection.mutable.ArrayBuffer.empty[String]

  def freshDir(prefix: String): String =
    Files.createTempDirectory(Paths.get(work), prefix).toString

  def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p))
      scala.util.Using.resource(Files.walk(p)) {
        _.sorted(java.util.Comparator.reverseOrder[Path]())
          .forEach(f => Files.deleteIfExists(f))
      }
  }

  /** (regular files, bytes) under `p`. */
  def treeFilesBytes(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else scala.util.Using.resource(Files.walk(p)) { s =>
      s.iterator().asScala.filter(Files.isRegularFile(_))
        .foldLeft((0L, 0L)) { case ((n, b), f) => (n + 1, b + Files.size(f)) }
    }
}

/** Benchmark main. One JVM per run: set up (a session), then a
  * closed loop with one client runs units of work until
  * `--seconds` have passed, then the checks that need a reference run.
  * Prints a record line and, last, the result line.
  *
  * {{{
  * Main --workload crawl_small_etl|query_mix --seed N
  *      --seconds S --trace 0|1 --work DIR --data DIR
  *      --golden FILE --ref-cache DIR --spans FILE --head REV
  * Main --make-golden FILE --data DIR --work DIR
  * Main --profile FILE --data DIR --warm-data DIR --work DIR
  * }}}
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cores = Runtime.getRuntime.availableProcessors
    Files.createDirectories(Paths.get(a("work")))
    val localDir = Files.createTempDirectory(Paths.get(a("work")), "spark-local").toString
    def session(): SparkSession = {
      val s = SparkSession.builder().master(s"local[$cores]").appName("perfbench")
        .config("spark.local.dir", localDir)
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s
    }
    if (a.contains("make-golden")) makeGolden(session(), a)
    else if (a.contains("profile")) profile(session(), a)
    else run(a, cores, () => session())
  }

  private def run(a: Map[String, String], cores: Int,
                  session: () => SparkSession): Unit = {
    val name = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val runId = s"$name-$seed-t${a("trace")}-${ProcessHandle.current.pid}"
    val tracer = new Tracer(runId)
    val ctx = new Ctx(a("work"), a("data"), a("golden"), a("ref-cache"), tracer)
    val load0 = loadavg()
    val stat0 = cpuStat()
    val workload: Workload = name match {
      case "crawl_small_etl" => new CrawlWorkload(seed, ctx)
      case "query_mix" => new QueryWorkload(seed, ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // ---- set-up: JVM start to a ready session ------------------------------
    // No warm-up: the first unit runs cold (see README, "Cold units").
    // Measured once: a second set-up in the same JVM would find the JIT and
    // Spark's caches warm, and a fresh JVM per set-up would cost a unit.
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session()
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    // ---- measured phase: closed loop, one client --------------------------
    // Traced runs alternate untraced and traced units, so the overhead of
    // the listeners and spans is measured on the same JVM and input.
    val listeners = if (trace) Some(new Listeners(spark)) else None
    // the first unit runs cold; a traced run compares two warm units, so
    // it runs one unit first, untimed
    if (trace) {
      workload.unit(spark, -1)
      workload.release(-1)
    }
    // every unit starts from a collected heap; the peak counts from here
    fullGc()
    heap.reset()
    val t0 = System.nanoTime()
    val units = scala.collection.mutable.ArrayBuffer.empty[(UnitResult, Double, Boolean)]
    var probes = 0
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (units.isEmpty || elapsed < seconds || (trace && units.size < 2)) {
      val i = units.size
      val traced = trace && i % 2 == 1
      if (traced) { tracer.enabled = true; listeners.foreach(_.attach()) }
      val cpu0 = cpuNs()
      val r = tracer.span("unit", Map("unit" -> i.toString), always = true) {
        workload.unit(spark, i)
      }
      val cpu = (cpuNs() - cpu0) / 1e9
      if (traced) {
        tracer.span("trace.settle")(listeners.foreach(_.detach()))
        probes += 1
        try tracer.span("probe")(workload.probe(spark, i))
        catch { case scala.util.control.NonFatal(e) => ctx.probeFailures += e.getClass.getName }
        tracer.enabled = false
      }
      workload.release(i)
      units += ((r, cpu, traced))
      tracer.span("jvm.gc", always = true)(fullGc())
    }
    val phaseS = elapsed
    val heapPeakMb = heap.peakMb()

    // ---- checks that need a reference, outside the measured phase --------
    val lateFailures = workload.finish(spark)
    val load1 = loadavg()
    val stat1 = cpuStat()
    val clean = units.filter(_._1.failures.isEmpty).toSeq
    val attempted = units.map(_._1.attempted).sum + probes
    val failures = units.flatMap(_._1.failures).toSeq ++ lateFailures ++ ctx.probeFailures
    // a unit whose reference check failed is not a timing either
    val timed = if (lateFailures.nonEmpty) Nil else clean
    ctx.mismatches.foreach(m => System.err.println(s"[perfbench] mismatch $m"))
    failures.distinct.foreach(f =>
      System.err.println(s"[perfbench] failure $f x${failures.count(_ == f)}"))

    val spans = Paths.get(a("spans"))
    tracer.writeJsonl(spans, t0)

    val metrics: Seq[(String, Double, String)] =
      if (!trace) {
        val base = if (timed.nonEmpty) timed else units.toSeq
        val walls = base.map(_._1.wallS)
        val ops = base.flatMap(_._1.opLatS)
        Seq(
          ("setup_s", setupS, "s"),
          ("wall_s", median(walls), "s"),
          ("op_p50_s", quantile(ops, 0.5), "s"),
          ("items_per_s", base.map(_._1.items).sum / base.map(_._1.itemSecs).sum, "1/s"),
          ("cpu_s", median(base.map(_._2)), "s"),
          ("heap_peak_mb", heapPeakMb, "MB"),
        )
      } else layerMetrics(ctx, listeners.get, units.toSeq, cores, t0, phaseS)

    val record = Json.obj(Seq(
      "run" -> Json.str(runId), "workload" -> Json.str(name), "seed" -> seed.toString,
      "trace" -> trace.toString, "nproc" -> cores.toString,
      "loadavg_start" -> Json.str(load0), "loadavg_end" -> Json.str(load1),
      "steal_pct" -> Json.num(100.0 * (stat1._1 - stat0._1) / math.max(1L, stat1._2 - stat0._2)),
      "jdk" -> Json.str(s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}"),
      "spark" -> Json.str(spark.version),
      "xmx_mb" -> (Runtime.getRuntime.maxMemory / (1 << 20)).toString,
      "jvm_args" -> Json.str(ManagementFactory.getRuntimeMXBean.getInputArguments
        .asScala.filter(_.startsWith("-X")).mkString(" ")),
      "head" -> Json.str(a.getOrElse("head", "unknown")),
      "setup_s" -> Json.num(setupS),
      "heap_peak_mb" -> Json.num(heapPeakMb), "heap_gcs" -> heap.collections.toString,
      "unit_wall_s" -> units.map(u => Json.num(u._1.wallS)).mkString("[", ",", "]"),
      "unit_traced" -> units.map(_._3.toString).mkString("[", ",", "]"),
      "unit_op_s" -> units.map(u => Json.obj(u._1.ops.map { case (n, t) => n -> Json.num(t) }))
        .mkString("[", ",", "]"),
      "phase_s" -> Json.num(phaseS),
      "attempted" -> attempted.toString, "failed" -> failures.size.toString,
      "fail_ratio" -> Json.num(failures.size.toDouble / math.max(1, attempted)),
      "failure_classes" -> failures.distinct.map(Json.str).mkString("[", ",", "]"),
      "spans" -> Json.str(spans.toString),
    ))
    println(s"""{"record":$record}""")
    val ms = metrics.map { case (k, v, u) => k -> s"""{"value":${Json.num(v)},"unit":${Json.str(u)}}""" }
    println(Json.obj(Seq("correct" -> failures.isEmpty.toString,
      "attempted" -> math.max(1, attempted).toString,
      "failed" -> failures.size.toString, "metrics" -> Json.obj(ms))))
    System.out.flush()
    spark.stop()
  }

  /** Per-layer metrics of a traced run, per traced unit. */
  private def layerMetrics(ctx: Ctx, l: Listeners, units: Seq[(UnitResult, Double, Boolean)],
                           cores: Int, t0: Long, phaseS: Double): Seq[(String, Double, String)] = {
    val traced = units.filter(_._3)
    val n = math.max(1, traced.size).toDouble
    val tracedWall = traced.map(_._1.wallS).sum
    val untraced = units.filterNot(_._3).map(_._1.wallS)
    val e = l.engine; val c = l.catalyst; val s = l.stream
    val spans = ctx.tracer.all
    val self = ctx.tracer.selfNs
    def spanSum(p: String => Boolean) =
      spans.filter(x => p(x.name) && x.attrs.get("traced").contains("true"))
        .map(_.durNs).sum / 1e9
    val streamWall = spanSum(_ == "suite.StreamQueries")
    val L = ctx.layers
    val fetched = L.get("crawl.fetched")
    val allowed = L.get("crawl.allowed")
    val logRows = L.get("crawl.log_rows")
    def per(v: Double) = v / n
    Seq(
      ("spark.jobs", per(e.jobs.get), "count"),
      ("spark.stages", per(e.stages.get), "count"),
      ("spark.tasks", per(e.tasks.get), "count"),
      ("spark.task_run_s", per(e.taskRunMs.get / 1e3), "s"),
      ("spark.task_cpu_s", per(e.taskCpuNs.get / 1e9), "s"),
      ("spark.gc_s", per(e.gcMs.get / 1e3), "s"),
      ("spark.shuffle_write_mb", per(e.shuffleWriteB.get / 1e6), "MB"),
      ("spark.shuffle_read_mb", per(e.shuffleReadB.get / 1e6), "MB"),
      ("spark.spill_mb", per(e.spillB.get / 1e6), "MB"),
      ("spark.result_mb", per(e.resultB.get / 1e6), "MB"),
      ("spark.max_task_s", e.maxTaskMs.get / 1e3, "s"),
      ("spark.sched_wait_s", per(e.schedWaitMs.get / 1e3), "s"),
      ("spark.slot_busy_ratio", e.taskRunMs.get / 1e3 / math.max(1e-9, tracedWall * cores), "ratio"),
      ("catalyst.analysis_s", per(c.analysisMs.get / 1e3), "s"),
      ("catalyst.optimization_s", per(c.optimizationMs.get / 1e3), "s"),
      ("catalyst.planning_s", per(c.planningMs.get / 1e3), "s"),
      ("catalyst.exec_s", per(c.execNs.get / 1e9), "s"),
    ) ++ QueryWorkload.Mix.map(e => QueryWorkload.SuiteOf(e.name)).distinct.map { name =>
      (s"suite.${name}_s", per(L.get(s"suite.${name}_s")), "s")
    } ++ Seq(
      ("streaming.batches", per(s.batches.get), "count"),
      ("streaming.trigger_s", per(s.triggerMs.get / 1e3), "s"),
      ("streaming.planning_s", per(s.planningMs.get / 1e3), "s"),
      ("streaming.add_batch_s", per(s.addBatchMs.get / 1e3), "s"),
      ("streaming.commit_s", per(s.commitMs.get / 1e3), "s"),
      ("streaming.state_commit_s", per(s.stateCommitMs.get / 1e3), "s"),
      ("streaming.state_rows", per(s.stateRows.get), "count"),
      ("streaming.start_stop_s", per(math.max(0.0, streamWall - s.triggerMs.get / 1e3)), "s"),
      ("crawl.rounds", per(L.get("crawl.rounds")), "count"),
      ("crawl.fetched", per(fetched), "count"),
      ("crawl.attempts_per_fetch", if (fetched > 0) L.get("crawl.attempts") / fetched else 0.0, "ratio"),
      ("crawl.enqueue_ratio", if (allowed > 0) L.get("crawl.enqueued") / allowed else 0.0, "ratio"),
      ("crawl.seen_hits", per(L.get("crawl.seen_hits")), "count"),
      ("crawl.dup_in_round", per(L.get("crawl.dup_in_round")), "count"),
      ("crawl.quarantined", per(L.get("crawl.quarantined")), "count"),
      ("crawl.sketch_fill_max_pct", L.get("crawl.sketch_fill_max_pct"), "%"),
      ("crawl.fetch_s", per(L.get("crawl.fetch_s")), "s"),
      ("crawl.parse_s", per(L.get("crawl.parse_s")), "s"),
      ("crawl.seen_probe_s", per(L.get("crawl.seen_probe_s")), "s"),
      ("crawl.drain_s", per(L.get("crawl.drain_s")), "s"),
      ("crawl.loop_s", per(spanSum(_ == "crawl.loop")), "s"),
      ("crawl.download_s", per(spanSum(_ == "crawl.download")), "s"),
      ("crawl.export_s", per(spanSum(_ == "crawl.export")), "s"),
      ("crawl.read_s", per(spanSum(_ == "crawl.read")), "s"),
      ("tables.commits", per(L.get("tables.commits")), "count"),
      ("tables.files", per(L.get("tables.files")), "count"),
      ("tables.bytes_mb", per(L.get("tables.bytes_mb")), "MB"),
      ("tables.store_bytes_per_url", if (logRows > 0) L.get("tables.bytes_mb") * 1e6 / logRows else 0.0, "B"),
      ("tables.commit_s", per(L.get("tables.commit_s")), "s"),
      ("tables.read_s", per(L.get("tables.read_s")), "s"),
      ("trace.overhead_pct", 100.0 * (median(traced.map(_._1.wallS)) / median(untraced) - 1), "%"),
      ("trace.coverage_pct", 100.0 * spans.filter(x => x.parent == 0 && x.startNs >= t0)
        .map(_.durNs).sum / 1e9 / phaseS, "%"),
      ("trace.unit_self_s", per(spans.filter(x => x.name == "unit" && x.attrs.get("traced").contains("true"))
        .map(x => self(x.id)).sum / 1e9), "s"),
      ("trace.spans", spans.size.toDouble, "count"),
    )
  }

  /** Per-entry times of every mix candidate: one pass over the warm-up
    * tables, then two timed passes over the benchmark tables, each entry
    * timed as a mix operation is (DataFrame to checksum). The mix is
    * chosen from these times; see README, "The query mix". */
  private def profile(spark: SparkSession, a: Map[String, String]): Unit = {
    val entries = QueryWorkload.Candidates
    def pass(dir: String): Seq[Double] = entries.map { e =>
      val t0 = System.nanoTime()
      val ok = scala.util.Try(QueryWorkload.checksum(e.fn(spark, dir))).isSuccess
      spark.catalog.clearCache()
      if (ok) (System.nanoTime() - t0) / 1e9 else Double.NaN
    }
    pass(a("warm-data"))
    val p1 = pass(a("data"))
    val p2 = pass(a("data"))
    val head = s"# entry times over ${a("data")} after a pass over ${a("warm-data")}: " +
      "entry, suite, pass 1 s, pass 2 s"
    val lines = head +: entries.indices.map { i =>
      f"${entries(i).name}\t${QueryWorkload.SuiteOf(entries(i).name)}\t${p1(i)}%.4f\t${p2(i)}%.4f"
    }
    Files.write(Paths.get(a("profile")), lines.asJava)
    spark.stop()
  }

  /** golden file for query_mix: two passes in different orders must agree. */
  private def makeGolden(spark: SparkSession, a: Map[String, String]): Unit = {
    val entries = QueryWorkload.Mix
    def pass(seed: Long): Map[String, (Long, String)] =
      new scala.util.Random(seed).shuffle(entries).map { e =>
        val v = QueryWorkload.checksum(e.fn(spark, a("data")))
        spark.catalog.clearCache()
        e.name -> v
      }.toMap
    val p1 = pass(1L)
    val p2 = pass(2L)
    val unstable = entries.map(_.name).filter(n => p1(n) != p2(n))
    unstable.foreach(n => System.err.println(s"[perfbench] unstable $n: ${p1(n)} vs ${p2(n)}"))
    require(unstable.isEmpty, s"${unstable.size} entries differ between passes")
    val lines = s"# query_mix golden over ${a("data")}: entry, rows, checksum" +:
      entries.map(_.name).sorted.map(n => s"$n\t${p1(n)._1}\t${p1(n)._2}")
    Files.write(Paths.get(a("make-golden")), lines.asJava)
    spark.stop()
  }

  private def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => 0L
  }

  /** Full collection, twice: Spark's ContextCleaner frees the blocks of
    * unreachable broadcasts and shuffles only after the first collection
    * has found them. */
  private def fullGc(): Unit = {
    System.gc()
    Thread.sleep(300)
    System.gc()
  }

  private val heap = new HeapAfterGc

  /** (steal, total) jiffies of all CPUs from /proc/stat: the share of time
    * the host ran something else while this machine wanted the CPU. */
  private def cpuStat(): (Long, Long) =
    scala.util.Try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
      (f(7), f.sum)
    }.getOrElse((0L, 0L))

  private def loadavg(): String =
    scala.util.Try(Files.readString(Paths.get("/proc/loadavg")).trim).getOrElse("unknown")

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; NaN when empty. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

/** Largest heap in use just after a collection, over every collection since
  * [[reset]]: the sum over the heap pools of the usage each collection
  * leaves (MemoryPool collection usage). It sees the memory a unit holds
  * while it runs (hash tables, broadcasts, collected results) and follows
  * live data rather than the allocation rate.
  */
final class HeapAfterGc extends NotificationListener {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val peak = new AtomicLong(0L)
  private val seen = new AtomicLong(0L)
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(this, null, null)
    case _ => ()
  }

  override def handleNotification(n: Notification, handback: AnyRef): Unit =
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      peak.accumulateAndGet(used, (a: Long, b: Long) => math.max(a, b))
      seen.incrementAndGet()
    }

  def reset(): Unit = { Thread.sleep(100); peak.set(0L); seen.set(0L) }

  /** Peak in MB; waits for the notifications of the last collections,
    * which are delivered on another thread. */
  def peakMb(): Double = {
    Thread.sleep(200)
    peak.get / 1e6
  }

  def collections: Long = seen.get
}
