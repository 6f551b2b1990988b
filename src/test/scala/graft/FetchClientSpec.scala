package graft

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import com.sun.net.httpserver.HttpServer
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.crawl._
import graft.crawl.CrawlLoop.CrawlConfig
import graft.model.FetchedPage

/** The production fetch seam: the retry envelope is client-independent,
  * the HTTP implementation really speaks HTTP (loopback server — zero
  * egress), instances survive executor serialization, and the crawl loop
  * runs through a caller-supplied client with parity intact.
  */
class FetchClientSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var server: HttpServer = _
  private var base: String = _
  private val hits = new ConcurrentHashMap[String, AtomicLong]()

  override def beforeAll(): Unit = {
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    def count(path: String): Long =
      hits.computeIfAbsent(path, _ => new AtomicLong).incrementAndGet()
    def respond(ex: com.sun.net.httpserver.HttpExchange, status: Int,
                body: String): Unit = {
      val bytes = body.getBytes(StandardCharsets.UTF_8)
      ex.sendResponseHeaders(status, if (bytes.isEmpty) -1 else bytes.length.toLong)
      if (bytes.nonEmpty) ex.getResponseBody.write(bytes)
      ex.close()
    }
    server.createContext("/ok", ex => {
      count("/ok")
      respond(ex, 200,
        """<html><a href="/rel/page1">x</a> <a href="http://other.example/abs">y</a></html>""")
    })
    server.createContext("/flaky", ex => {
      // 202 "accepted, not ready" on the first request, 200 after —
      // the retry envelope must absorb exactly one extra attempt
      val n = count("/flaky")
      if (n == 1) respond(ex, 202, "") else respond(ex, 200, "ready")
    })
    server.createContext("/missing", ex => { count("/missing"); respond(ex, 404, "") })
    server.createContext("/huge", ex => {
      count("/huge"); respond(ex, 200, "x" * 10000)
    })
    server.start()
    base = s"http://127.0.0.1:${server.getAddress.getPort}"
  }

  override def afterAll(): Unit = if (server != null) server.stop(0)

  private def roundTrip[T <: Serializable](t: T): T = {
    val bos = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(bos)
    oos.writeObject(t); oos.close()
    new java.io.ObjectInputStream(
      new java.io.ByteArrayInputStream(bos.toByteArray))
      .readObject().asInstanceOf[T]
  }

  test("HTTP client: 200 body becomes a one-span doc with resolved outlinks") {
    val c = HttpFetchClient(sleeper = HttpFetchClient.noPacing)
    val p = c.fetch(s"$base/ok")
    assert(p.status === 200 && p.attempts === 1)
    assert(p.host === "127.0.0.1")
    assert(p.doc.spans.map(s => (s.kind, s.offset)) === Seq(("text", 0)))
    assert(p.doc.spans.head.text.contains("href"))
    assert(p.links.map(_.url) ===
      Seq(s"$base/rel/page1", "http://other.example/abs"))
    assert(p.links.map(_.ordinal) === Seq(0, 1))
  }

  test("HTTP client: 202-then-200 is absorbed by the retry envelope") {
    val p = HttpFetchClient(sleeper = HttpFetchClient.noPacing).fetch(s"$base/flaky")
    assert(p.status === 200 && p.attempts === 2)
    assert(hits.get("/flaky").get() === 2)
  }

  test("HTTP client: 404 retried to the bound, given up as a null row") {
    val p = HttpFetchClient(maxAttempts = 3, sleeper = HttpFetchClient.noPacing).fetch(s"$base/missing")
    assert(p.status === 404 && p.attempts === 3)
    assert(p.doc.spans.isEmpty && p.links.isEmpty)
    assert(hits.get("/missing").get() === 3)
  }

  test("HTTP client: transport failure = retryable status 0, never a throw") {
    // a port nothing listens on — connection refused
    val p = HttpFetchClient(maxAttempts = 2, connectTimeoutMs = 2000, sleeper = HttpFetchClient.noPacing)
      .fetch("http://127.0.0.1:1/void")
    assert(p.status === 0 && p.attempts === 2)
  }

  test("HTTP client: body capped at maxBodyBytes") {
    val p = HttpFetchClient(maxBodyBytes = 128, sleeper = HttpFetchClient.noPacing).fetch(s"$base/huge")
    assert(p.status === 200)
    assert(p.doc.spans.head.text.length === 128)
  }

  test("HTTP client: backoff honors the reference schedule (virtual clock)") {
    // toolbox.py:72-76 — sleep delay + (attempt-1)*10 s before each attempt
    val slept = scala.collection.mutable.ArrayBuffer.empty[Long]
    val c = HttpFetchClient(maxAttempts = 3, sleeper = ms => slept += ms)
    assert((1 to 3).map(c.backoffMs) === Seq(1000L, 11000L, 21000L))
    val p = c.fetch(s"$base/missing")
    assert(p.status === 404 && p.attempts === 3)
    assert(slept.toSeq === Seq(1000L, 11000L, 21000L))
    // a 200 first try pays only the initial delay
    slept.clear()
    assert(c.fetch(s"$base/ok").attempts === 1)
    assert(slept.toSeq === Seq(1000L))
  }

  test("clients survive executor serialization (the mapPartitions seam)") {
    val http = roundTrip(HttpFetchClient(sleeper = HttpFetchClient.noPacing))
    assert(http.fetch(s"$base/ok").status === 200)
    val repo = RepoConfig(seed = 5L, universe = 50)
    val syn = roundTrip(SyntheticFetchClient(repo))
    val seed = SyntheticRepo.seedTasks(repo).head.url
    assert(syn.fetch(seed).status === 200)
  }

  test("envelope semantics are client-independent (synthetic == direct)") {
    val repo = RepoConfig(seed = 11L, universe = 200)
    val c = SyntheticFetchClient(repo)
    val urls = SyntheticRepo.seedTasks(repo).map(_.url)
    urls.foreach { u =>
      val viaTrait: FetchedPage = c.fetch(u)
      val direct: FetchedPage = SyntheticRepo.fetch(repo, u)
      assert(viaTrait === direct, s"envelope drift for $u")
    }
  }

  test("crawl loop runs through a caller-supplied client, parity intact") {
    val spark = SparkTestSession.get
    val repo = RepoConfig(seed = 42L, universe = 80, pageSize = 20,
      maxHitsPerQuery = 40, cursorPages = 2, gpcrmdCount = 8, mddbCount = 6)
    val budget = Map("zenodo" -> 20, "figshare" -> 12, "osf" -> 12,
      "nomad" -> 3, "gpcrmd" -> 8, "mddb" -> 6)
    val custom = CountingClient(repo)
    CountingClient.calls.set(0)
    val root = SparkTestSession.scratchDir("fetch-seam")
    val g = CrawlLoop.run(SparkTestSession.get,
      CrawlConfig(repo, budget, maxRounds = 10, root, salts = 4,
        bloomShards = 8, bloomExpectedPerShard = 1 << 12,
        client = Some(custom)))
    val oracle = ReferenceCrawl.run(repo, budget, maxRounds = 10)
    val engineLog = g.read(spark, "crawl_log").get
      .orderBy("round", "seqInRound").select("url", "status")
      .collect().map(r => (r.getString(0), r.getInt(1))).toVector
    assert(engineLog === oracle.log.map(e => (e.url, e.status)))
    assert(CountingClient.calls.get() > 0, "the supplied client was bypassed")
  }
}

/** Counting wrapper proving the loop honors CrawlConfig.client — local-mode
  * executors share the JVM, so a static counter observes executor calls. */
final case class CountingClient(repo: RepoConfig) extends FetchClient {
  override def fetchAttempt(url: String, attempt: Int): FetchedPage = {
    CountingClient.calls.incrementAndGet()
    SyntheticRepo.fetchAttempt(repo, url, attempt)
  }
  override def maxAttempts: Int = repo.maxAttempts
}
object CountingClient {
  val calls = new AtomicLong(0)
}
