package graft.crawl

/** Per-host politeness: token buckets in SIMULATED time. One BSP round
  * models a fixed wall-clock window; each host's bucket refills
  * `ratePerMinute × minutes` tokens per round, and the drain
  * ([[CrawlLoop.drainSelectManaged]]) spends them. Simulated time keeps
  * tests and parity machine-independent (SURVEY.md §7.3: no wall clock in
  * parity paths) while preserving the reference's real budgets:
  *
  *  - Zenodo: 100 req/min, 5000/h (docs/zenodo.md:31-35, checked at
  *    scrapers/zenodo.py:35-74)
  *  - Figshare: ≤1 req/s, enforced by a fixed 1 s sleep
  *    (docs/figshare.md:33-38, core/figshare_api.py:69-73)
  *  - OSF: no published limit; the reference sleeps 0.1-0.5 s/request →
  *    ~120-600 req/min; we pin the conservative end.
  *
  * The reference's fixed pre-request sleeps become token costs, so a
  * simulated hour of crawling runs in seconds of wall time (SURVEY §4).
  */
object Politeness {

  final case class HostPolicy(ratePerMinute: Int, hourlyCap: Option[Int] = None)

  /** The reference repositories' published/observed envelopes. */
  val referencePolicies: Map[String, HostPolicy] = Map(
    "zenodo" -> HostPolicy(100, hourlyCap = Some(5000)),
    "figshare" -> HostPolicy(60),
    "osf" -> HostPolicy(120),
    // NOMAD + MDposit: 0.2 s delay before every page request
    // (nomad.py:92,131; mddb.py:103,123) → 300/min
    "nomad" -> HostPolicy(300),
    "mddb" -> HostPolicy(300),
    // GPCRmd: 0.1 s sleep per request (scripts/scrape_gpcrmd.py:156,480)
    "gpcrmd" -> HostPolicy(600),
    // ATLAS: 0.5 s delay before every request (atlas.py:154,245,324)
    "atlas" -> HostPolicy(120),
  )

  /** Tokens each host may spend in one round of `roundMinutes` simulated
    * minutes. The hourly cap is prorated into EVERY round (the sustained
    * rate: Zenodo gets 5000/60 ≈ 83/min, not the 100/min burst) — the
    * conservative reading of the reference's envelope, pinned by
    * PolitenessSpec.
    */
  def budgets(policies: Map[String, HostPolicy],
              roundMinutes: Double): Map[String, Int] =
    policies.map { case (host, p) =>
      val byRate = (p.ratePerMinute * roundMinutes).toInt
      val byHour = p.hourlyCap
        .map(c => (c * roundMinutes / 60.0).toInt).getOrElse(Int.MaxValue)
      host -> math.max(1, math.min(byRate, byHour))
    }

  /** One BSP round models one simulated minute (the `roundMinutes = 1`
    * point of [[budgets]] — what the crawl bench and parity configs use).
    */
  val RoundSeconds: Long = 60L

  /** Simulated-clock timestamp of the k-th fetch a host performs within a
    * round that starts at `roundStartSeconds` — evenly spaced at the
    * host's rate (the token-bucket drain schedule). Recorded for lineage
    * (`sched_sec` in crawl_log, identically by engine and oracle — the
    * parity suite asserts equality); never read back into control flow
    * (determinism).
    */
  def scheduledSecond(policy: HostPolicy, roundStartSeconds: Long,
                      k: Int): Double =
    roundStartSeconds + k * (60.0 / policy.ratePerMinute)

  /** The ONE unknown-host pacing policy (1 fetch/s). Engine and oracle
    * both derive their fallback from it: the oracle through [[policyOf]],
    * the engine through [[defaultSecondsPerFetch]] in its `coalesce` —
    * a literal 1.0 in either place could silently drift and break the
    * parity-pinned bit-equality of `sched_sec`. */
  val DefaultPolicy: HostPolicy = HostPolicy(60)
  def defaultSecondsPerFetch: Double = 60.0 / DefaultPolicy.ratePerMinute

  /** Per-host seconds-per-fetch lookup for the engine's column-algebra
    * twin of [[scheduledSecond]] (a `typedLit` map literal — map defaults
    * do not survive into Catalyst; pair with
    * `coalesce(..., lit(defaultSecondsPerFetch))`). */
  def secondsPerFetch(policies: Map[String, HostPolicy]): Map[String, Double] =
    policies.map { case (h, p) => h -> (60.0 / p.ratePerMinute) }

  def policyOf(host: String): HostPolicy =
    referencePolicies.getOrElse(host, DefaultPolicy)
}
