package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAccumulator}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded interval. `parent` is 0 for a top-level span. */
final case class Span(id: Long, parent: Long, name: String, startNs: Long,
                      endNs: Long, attrs: Map[String, String]) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder. Spans nest per thread; nothing is written until
  * [[writeJsonl]] at the end of the run. `span` records only while
  * `enabled`, except `always` spans (the one top-level span per unit of
  * work, so coverage of the measured phase is known in every run).
  */
final class Tracer(val runId: String) {
  @volatile var enabled = false
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)

  def span[A](name: String, attrs: Map[String, String] = Map.empty,
              always: Boolean = false)(body: => A): A =
    if (!enabled && !always) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0L)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      var err: Option[String] = None
      try body
      catch { case e: Throwable => err = Some(e.getClass.getName); throw e }
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        spans.add(Span(id, parent, name, t0, t1,
          attrs ++ err.map("error" -> _) ++ Map("traced" -> enabled.toString)))
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)

  /** Span duration minus the union of the intervals its children cover. */
  def selfNs: Map[Long, Long] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.map { s =>
      val covered = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((acc, end), (a, b)) =>
          if (b <= end) (acc, end)
          else (acc + (b - math.max(a, end)), b)
        }._1
      s.id -> (s.durNs - covered)
    }.toMap
  }

  def writeJsonl(path: java.nio.file.Path, t0Ns: Long): Unit = {
    val self = selfNs
    val lines = all.map { s =>
      val attrs = s.attrs.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }
        .mkString("{", ",", "}")
      s"""{"run":${Json.str(runId)},"id":${s.id},"parent":${s.parent},""" +
        s""""name":${Json.str(s.name)},"start_s":${(s.startNs - t0Ns) / 1e9},""" +
        s""""end_s":${(s.endNs - t0Ns) / 1e9},"self_s":${self(s.id) / 1e9},""" +
        s""""attrs":$attrs}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Engine counters from Spark's public scheduler events. */
final class EngineListener extends SparkListener {
  val jobs, jobsEnded, stages, tasks = new AtomicLong
  val taskRunMs, taskCpuNs, gcMs, shuffleWriteB, shuffleReadB, spillB,
    resultB, schedWaitMs = new AtomicLong
  val maxTaskMs = new LongAccumulator(math.max(_, _), 0L)
  private val stageSubmitted =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobsEnded.incrementAndGet()
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageSubmitted.put((e.stageInfo.stageId, e.stageInfo.attemptNumber()),
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet()
    stageSubmitted.remove((e.stageInfo.stageId, e.stageInfo.attemptNumber()))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val info = e.taskInfo
    if (info != null) {
      maxTaskMs.accumulate(info.duration)
      Option(stageSubmitted.get((e.stageId, e.stageAttemptId)))
        .foreach(sub => schedWaitMs.addAndGet(math.max(0L, info.launchTime - sub)))
    }
    val m = e.taskMetrics
    if (m != null) {
      taskRunMs.addAndGet(m.executorRunTime)
      taskCpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleWriteB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleReadB.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spillB.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      resultB.addAndGet(m.resultSize)
    }
  }
  def events: Long = jobs.get + jobsEnded.get + stages.get + tasks.get
}

/** Catalyst phase times from the public query-execution callback. */
final class CatalystListener extends QueryExecutionListener {
  val queries, failures, analysisMs, optimizationMs, planningMs, execNs =
    new AtomicLong
  private def phase(qe: QueryExecution, name: String): Long =
    qe.tracker.phases.get(name).map(_.durationMs).getOrElse(0L)
  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = {
    queries.incrementAndGet()
    analysisMs.addAndGet(phase(qe, "analysis"))
    optimizationMs.addAndGet(phase(qe, "optimization"))
    planningMs.addAndGet(phase(qe, "planning"))
    execNs.addAndGet(durationNs)
  }
  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = failures.incrementAndGet()
  def events: Long = queries.get + failures.get
}

/** Micro-batch timings from the public streaming progress events. */
final class StreamListener extends StreamingQueryListener {
  import StreamingQueryListener._
  val batches, triggerMs, planningMs, addBatchMs, commitMs, stateCommitMs,
    stateRows, started, terminated = new AtomicLong
  override def onQueryStarted(e: QueryStartedEvent): Unit = started.incrementAndGet()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
    terminated.incrementAndGet()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    batches.incrementAndGet()
    triggerMs.addAndGet(d("triggerExecution"))
    planningMs.addAndGet(d("queryPlanning"))
    addBatchMs.addAndGet(d("addBatch"))
    commitMs.addAndGet(d("walCommit") + d("commitOffsets"))
    p.stateOperators.foreach { so =>
      stateCommitMs.addAndGet(so.commitTimeMs)
      stateRows.addAndGet(so.numRowsUpdated)
    }
  }
  def events: Long = batches.get + started.get + terminated.get
}

/** The three listeners, attached only around traced units. */
final class Listeners(spark: SparkSession) {
  val engine = new EngineListener
  val catalyst = new CatalystListener
  val stream = new StreamListener

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(engine)
    spark.listenerManager.register(catalyst)
    spark.streams.addListener(stream)
  }

  /** Listener buses deliver asynchronously: wait until every started job
    * has ended and no event arrived for a quiet interval, then detach. */
  def detach(): Unit = {
    settle()
    spark.sparkContext.removeSparkListener(engine)
    spark.listenerManager.unregister(catalyst)
    spark.streams.removeListener(stream)
  }

  private def settle(): Unit = {
    def total = engine.events + catalyst.events + stream.events
    val deadline = System.nanoTime() + 10L * 1000000000L
    var last = -1L
    var quietSince = System.nanoTime()
    while (System.nanoTime() < deadline &&
        (engine.jobs.get != engine.jobsEnded.get ||
          System.nanoTime() - quietSince < 200L * 1000000L)) {
      val now = total
      if (now != last) { last = now; quietSince = System.nanoTime() }
      Thread.sleep(20)
    }
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** A finite number as JSON (NaN/inf have no JSON form). */
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
