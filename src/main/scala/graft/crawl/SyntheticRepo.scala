package graft.crawl

import graft.model._

/** Deterministic synthetic web of MD-dataset repositories, shaped after the
  * reference crawl surface (SURVEY.md §2.1):
  *
  *  - `zenodo://search/<ft>/<page>`   paginated keyword-search scan (S1):
  *    hits carry full record metadata inline (like the Zenodo API), so
  *    datasets+files parse straight off the search page; zip files spawn
  *    preview subcrawl tasks (S9, `zenodo://preview/<id>/<name>`).
  *  - `figshare://search/<ft>/<page>` id-only discovery (S2) followed by a
  *    per-record detail drain (S3, `figshare://article/<id>`); zip files
  *    spawn structure subcrawls (S10, `figshare://structure/<id>/<ord>`).
  *  - `osf://search/<ft>/<page>`      file-hit search (scripts/scrape_osf.py)
  *    linking to node pages (`osf://node/<id>`) that carry the record, a
  *    file listing, and child-node links (S11/S12, one-level expansion).
  *
  * Every page is a pure function of (seed, url): executors fetch with zero
  * driver state and zero I/O, so the same config replays byte-identically
  * at any parallelism — the property all crawl-order/seen-set parity tests
  * and the N-vs-4N scaling bench rest on. Page *content* is an interleaved
  * text+media span document (`graft.model.Doc`), the `input_hint` shape;
  * outlinks are extracted from the spans by [[PageParser]], never minted on
  * the side, so span-sequence equality implies link equality.
  *
  * Reference shape citations: pagination caps 100/page & 10k/query
  * (scrapers/zenodo.py:457-461), zip preview limited to 1000 entries
  * (zenodo.py:244-247), two-phase figshare (figshare.py:277-433), OSF node
  * children expansion (scripts/scrape_osf.py:196-267).
  */
final case class RepoConfig(
    seed: Long,
    /** distinct dataset universe per repository — collisions across
      * filetype queries are intentional (dedup must have real work). */
    universe: Int,
    fileTypes: Seq[String] = Seq("gro", "mdp", "xtc"),
    pageSize: Int = 100,
    maxHitsPerQuery: Int = 10000,
    zipPreviewLimit: Int = 1000,
    /** fraction (1/n) of URLs that 404 (retried to maxAttempts, then
      * give-up → null row, core/toolbox.py:106-117 semantics). */
    notFoundOneIn: Int = 97,
    /** fraction (1/n) of URLs that answer 202 "accepted but not ready"
      * on attempt 1 and succeed on attempt 2 (toolbox.py:88-95's
      * retryable-202 envelope). */
    retry202OneIn: Int = 53,
    /** retry envelope bound (toolbox.py:33 `max_attempts`). */
    maxAttempts: Int = 3,
    /** length of the NOMAD-style cursor-paginated chain (0 = absent).
      * Page k links ONLY to page k+1 — a strictly sequential dependent
      * chain (nomad.py:44-158 `page_after_value`): the engine cannot
      * parallelize it and must preserve order. */
    cursorPages: Int = 0,
    /** dataset count of the GPCRmd-style repository (0 = absent): ONE
      * single-shot index page (gpcrmd.py:38-63) linking per-dataset pages
      * whose file sizes are unknown until a per-file HEAD probe
      * (atlas.py:88-124) — `gpcrmd://head/...` tasks answering with a
      * size-only span and zero links. */
    gpcrmdCount: Int = 0,
    /** chain count of the ATLAS-style repository (0 = absent): ONE
      * single-shot HTML index page whose text spans carry raw `<a href>`
      * markup — chains are discoverable ONLY by the literal chain-id regex
      * over the hrefs (atlas.py:55-82, S7 in its regex-over-HTML form) —
      * linking a per-chain metadata API page (atlas.py:177-257) and a
      * per-chain dataset HTML page whose download links + human-readable
      * sizes (comma decimal separators included) are regex-extracted
      * (atlas.py:86-124,292-339). */
    atlasCount: Int = 0,
    /** project count of the MDDB/MDposit-style repository (0 = absent):
      * offset-paginated project listing at pageSize/2 per page (the
      * reference's page_size 50, mddb.py:59-156) whose total is known up
      * front from a count probe (mddb.py:95-113), records carrying a flat
      * PROGRAM/FF/PDBIDS metadata envelope plus per-replica filenotes
      * links (`mddb://filenotes/<n>/<rid>`, mddb.py:716-785) that list the
      * replica's files. */
    mddbCount: Int = 0,
)

object SyntheticRepo {

  // ---- deterministic hashing ----------------------------------------------

  /** splitmix64 finalizer — the only randomness source. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def h(cfg: RepoConfig, parts: Any*): Long =
    parts.foldLeft(mix(cfg.seed)) { (a, p) =>
      mix(a ^ mix(p.toString.##.toLong))
    }

  /** Allocation-free continuation hash for hot inner loops (the varargs
    * overload boxes + builds a Seq per call; page generation calls these
    * millions of times and the garbage throttles high-core-count runs). */
  @inline def hh(base: Long, a: Long): Long = mix(base ^ mix(a))

  def pos(x: Long, mod: Int): Int = {
    val m = (x % mod).toInt
    if (m < 0) m + mod else m
  }

  val Hosts = Seq("zenodo", "figshare", "osf")

  // ---- corpus shape --------------------------------------------------------

  /** Hits a (host, filetype) query returns, ≤ maxHitsPerQuery. */
  def totalHits(cfg: RepoConfig, host: String, ft: String): Int = {
    val base = pos(h(cfg, "hits", host, ft), cfg.universe)
    math.min(math.max(base, cfg.pageSize / 2), cfg.maxHitsPerQuery)
  }

  def pages(cfg: RepoConfig, host: String, ft: String): Int =
    (totalHits(cfg, host, ft) + cfg.pageSize - 1) / cfg.pageSize

  /** k-th hit of a (host, ft) query → dataset ordinal in [0, universe).
    * Shared id space across filetypes ⇒ cross-query duplicates. */
  def hitDataset(cfg: RepoConfig, host: String, ft: String, k: Int): Int =
    pos(h(cfg, "hit", host, ft, k), cfg.universe)

  def datasetId(host: String, n: Int): String = s"${host.head}-$n"

  def nFiles(cfg: RepoConfig, host: String, n: Int): Int =
    1 + pos(h(cfg, "nf", host, n), 8)

  private val Words = Vector("lipid", "membrane", "protein", "bilayer",
    "solvent", "peptide", "kinase", "channel", "micelle", "docking",
    "trajectory", "umbrella", "replica", "ligand", "folding", "cgenff")

  private def word(x: Long): String = Words(pos(x, Words.size))

  // ---- seed tasks ----------------------------------------------------------

  /** Seed list: every search page of every (host × filetype) query. The
    * reference sizes the page loop with a 1-hit count probe BEFORE paging
    * (zenodo.py:480-489, mddb.py:95-113) — the probe is part of seeding,
    * so all pages are known, independent, and enqueueable up front
    * (page-expansion scan, SURVEY §2.1 S1). queryIdx/pageIdx mint the
    * deterministic discovery sequence (SURVEY §7.3).
    */
  def seedTasks(cfg: RepoConfig): Seq[FetchTask] = {
    val searches = for {
      (host, hi) <- Hosts.zipWithIndex
      (ft, fi) <- cfg.fileTypes.zipWithIndex
      page <- 1 to pages(cfg, host, ft)
    } yield FetchTask(
      url = s"$host://search/$ft/$page", host = host, depth = 0,
      score = 3.0, round = 0,
      queryIdx = hi * cfg.fileTypes.size + fi, pageIdx = page, hitIdx = 0)
    // The NOMAD-style cursor chain has exactly ONE seed: page 1. Every
    // further page is discovered from its predecessor (nomad.py:103-130) —
    // the opposite topology of the count-probe page expansion above.
    val cursor = if (cfg.cursorPages <= 0) Seq.empty
    else Seq(FetchTask(
      url = cursorUrl(cfg, 1), host = "nomad", depth = 0, score = 3.0,
      round = 0, queryIdx = Hosts.size * cfg.fileTypes.size, pageIdx = 1,
      hitIdx = 0))
    // GPCRmd-style single-shot index (S6): the whole repository behind one
    // page (gpcrmd.py:38-63 scrapes one dynadb listing)
    val index = if (cfg.gpcrmdCount <= 0) Seq.empty
    else Seq(FetchTask(
      url = "gpcrmd://index", host = "gpcrmd", depth = 0, score = 3.0,
      round = 0, queryIdx = Hosts.size * cfg.fileTypes.size + 1, pageIdx = 0,
      hitIdx = 0))
    // MDDB/MDposit offset pagination (S5 in its true form): the count
    // probe (limit=10, page=1, mddb.py:95-113) fixes page_total BEFORE the
    // page loop, so every offset page is known and enqueueable up front —
    // unlike the cursor chain, pages are independent.
    val mddb = (1 to mddbPages(cfg)).map(p => FetchTask(
      url = s"mddb://projects/$p", host = "mddb", depth = 0, score = 3.0,
      round = 0, queryIdx = Hosts.size * cfg.fileTypes.size + 2, pageIdx = p,
      hitIdx = 0))
    // ATLAS single-shot HTML index (atlas.py:248-257 fetches INDEX_URL
    // once); everything else is discovered by regex over its raw markup
    val atlas = if (cfg.atlasCount <= 0) Seq.empty
    else Seq(FetchTask(
      url = "atlas://index", host = "atlas", depth = 0, score = 3.0,
      round = 0, queryIdx = Hosts.size * cfg.fileTypes.size + 3, pageIdx = 0,
      hitIdx = 0))
    searches ++ cursor ++ index ++ mddb ++ atlas
  }

  /** PDB-chain id of ATLAS dataset n: 4 alphanumerics + '_' + chain
    * letter, the exact shape atlas.py's chain-id regex captures
    * (`[A-Za-z0-9]{4}_[A-Za-z]`). */
  def atlasChainId(cfg: RepoConfig, n: Int): String = {
    // the discovery regex captures exactly 4 id chars; a 5-hex-digit id
    // would silently never match, shrinking the workload below the config
    require(n <= 0xffff,
      s"atlas chain ordinal $n exceeds the 4-hex-digit id space (atlasCount <= 65536)")
    f"$n%04x_${('A' + pos(h(cfg, "achain", n), 6)).toChar}"
  }

  /** MDposit page size: the reference uses 50 against Zenodo's 100
    * (mddb.py:62 `page_size: int = 50`). */
  def mddbPerPage(cfg: RepoConfig): Int = math.max(1, cfg.pageSize / 2)

  def mddbPages(cfg: RepoConfig): Int =
    if (cfg.mddbCount <= 0) 0
    else (cfg.mddbCount + mddbPerPage(cfg) - 1) / mddbPerPage(cfg)

  /** Replicas per MDposit project (the `mds` list, mddb.py:702-713). */
  def nReplicas(cfg: RepoConfig, n: Int): Int = 1 + pos(h(cfg, "mds", n), 3)

  /** Opaque-but-deterministic cursor token (the `page_after_value`):
    * knowable only from page k-1's content. */
  def cursorUrl(cfg: RepoConfig, k: Int): String =
    f"nomad://cursor/$k-${h(cfg, "ctok", k)}%016x"

  // ---- page generation (pure) ----------------------------------------------

  private val SeedPageRe = "^[a-z]+://search/[a-z0-9]+/1$".r
  private val SearchRe = "^([a-z]+)://search/([a-z0-9]+)/(\\d+)$".r
  private val ArticleRe = "^figshare://article/(\\d+)$".r
  private val NodeRe = "^osf://node/(\\d+)$".r
  private val PreviewRe = "^zenodo://preview/(\\d+)/([^/]+)$".r
  private val StructRe = "^figshare://structure/(\\d+)/(\\d+)$".r
  private val CursorRe = "^nomad://cursor/(\\d+)-([0-9a-f]{16})$".r
  private val DynRe = "^gpcrmd://dyn/(\\d+)$".r
  private val HeadRe = "^gpcrmd://head/(\\d+)/(\\d+)$".r
  private val MddbPageRe = "^mddb://projects/(\\d+)$".r
  private val FilenotesRe = "^mddb://filenotes/(\\d+)/(\\d+)$".r
  private val AtlasMetaRe = "^atlas://meta/([0-9a-f]{4}_[A-Z])$".r
  private val AtlasChainRe = "^atlas://chain/([0-9a-f]{4}_[A-Z])$".r

  /** Fetch a URL through the reference's retry envelope
    * (toolbox.py:29-117): up to `maxAttempts` tries; a 202 "accepted but
    * not ready" is retryable (succeeds here on attempt 2); a 404 is retried
    * to the bound then given up as a null row. Pure; safe on executors.
    * The returned `attempts` counts tries actually made.
    */
  def fetch(cfg: RepoConfig, url: String): FetchedPage = {
    var attempt = 1
    var page = fetchAttempt(cfg, url, attempt)
    while (page.status != 200 && attempt < cfg.maxAttempts) {
      attempt += 1
      page = fetchAttempt(cfg, url, attempt)
    }
    page.copy(attempts = attempt)
  }

  /** One raw attempt (no retry). */
  def fetchAttempt(cfg: RepoConfig, url: String, attempt: Int): FetchedPage = {
    val host = url.takeWhile(_ != ':')
    // deterministic 404s — never for seed search pages (page 1), cursor
    // pages (a dead cursor page would sever the whole dependent chain; the
    // reference retries those indefinitely, nomad.py:133-136), or
    // single-shot index pages (the reference ABORTS the whole scrape when
    // the index fails, atlas.py:248-257 — a dead index models nothing)
    val isCursor = host == "nomad"
    val isIndex = url.endsWith("://index")
    val dead = pos(h(cfg, "404", url), cfg.notFoundOneIn) == 0 &&
      !SeedPageRe.matches(url) && !isCursor && !isIndex
    if (dead) {
      return FetchedPage(url, host, 0, 404, Doc(url, Seq.empty), Seq.empty)
    }
    // deterministic 202-on-attempt-1 (retryable; ready from attempt 2 on)
    val slow = pos(h(cfg, "202", url), cfg.retry202OneIn) == 0
    if (slow && attempt <= 1) {
      return FetchedPage(url, host, 0, 202, Doc(url, Seq.empty), Seq.empty)
    }
    val spans: Seq[Span] = url match {
      case SearchRe(hst, ft, page) => searchSpans(cfg, hst, ft, page.toInt)
      case ArticleRe(n)            => recordSpans(cfg, "figshare", n.toInt, detail = true)
      case NodeRe(n)               => nodeSpans(cfg, n.toInt)
      case PreviewRe(n, name)      => zipSpans(cfg, "zenodo", n.toInt, name)
      case StructRe(n, ord)        => zipSpans(cfg, "figshare", n.toInt, s"arch$ord.zip")
      case CursorRe(k, tok)        => cursorSpans(cfg, k.toInt, tok)
      case "gpcrmd://index"        => indexSpans(cfg)
      case DynRe(n)                => recordSpans(cfg, "gpcrmd", n.toInt, detail = true)
      case HeadRe(n, j)            => headSpans(cfg, n.toInt, j.toInt)
      case MddbPageRe(p)           => mddbPageSpans(cfg, p.toInt)
      case FilenotesRe(n, rid)     => filenotesSpans(cfg, n.toInt, rid.toInt)
      case "atlas://index"         => atlasIndexSpans(cfg)
      case AtlasMetaRe(chain)      => atlasMetaSpans(cfg, chain)
      case AtlasChainRe(chain)     => atlasChainSpans(cfg, chain)
      case _                       => Seq.empty
    }
    val doc = Doc(url, spans)
    FetchedPage(url, host, 0, 200, doc, PageParser.extractLinks(doc))
  }

  /** NOMAD-style cursor page: a batch of full records plus a single
    * next-cursor link (pagination.next_page_after_value) — page k is only
    * reachable from page k-1, so the chain is strictly sequential. A wrong
    * token (unreachable by following the chain) yields an empty page.
    */
  private def cursorSpans(cfg: RepoConfig, k: Int, tok: String): Seq[Span] = {
    if (cursorUrl(cfg, k) != s"nomad://cursor/$k-$tok" || k > cfg.cursorPages)
      return Seq(Span("text", s"invalid cursor $tok", "", 0))
    val perPage = math.max(1, cfg.pageSize / 4)
    val header = Span("text",
      s"cursor page $k of ${cfg.cursorPages} batch $perPage", "", 0)
    val hits = (0 until perPage).flatMap { i =>
      val n = pos(h(cfg, "chit", k, i), cfg.universe)
      recordSpans(cfg, "nomad", n, detail = false, 100 * (i + 1))
    }
    val next =
      if (k < cfg.cursorPages)
        Seq(Span("media", "next cursor", cursorUrl(cfg, k + 1), 1000000))
      else Seq.empty
    (header +: hits) ++ next
  }

  /** Search page: header text + per-hit spans. Zenodo embeds full records
    * (dataset+files inline); figshare lists article links only; OSF lists
    * node links with a file-hit line each.
    */
  private def searchSpans(cfg: RepoConfig, host: String, ft: String,
                          page: Int): Seq[Span] = {
    val total = totalHits(cfg, host, ft)
    val nPages = pages(cfg, host, ft)
    if (page > nPages) return Seq(Span("text", s"no results page=$page", "", 0))
    val from = (page - 1) * cfg.pageSize
    val until = math.min(total, from + cfg.pageSize)
    // Page 1 links to ALL remaining pages — the reference's count-probe +
    // page-expansion (zenodo.py:480-489 probes hits.total with size=1, then
    // drives pages 1..total/100+1; pages are independent, so the frontier
    // gets full breadth immediately instead of a next-page cursor chain).
    val header = Seq(
      Span("text", s"results for filetype:$ft page $page of $nPages total $total", "", 0),
    ) ++ (if (page == 1)
      (2 to nPages).map(p =>
        Span("media", s"page $p", s"$host://search/$ft/$p", p - 1))
    else Seq.empty)
    val hits = (from until until).zipWithIndex.flatMap { case (k, i) =>
      val n = hitDataset(cfg, host, ft, k)
      val off = 100 * (i + 1)
      host match {
        case "zenodo" => recordSpans(cfg, "zenodo", n, detail = false, off)
        case "figshare" => Seq(
          Span("text", s"article ${datasetId(host, n)}: ${titleOf(cfg, host, n)}", "", off),
          Span("media", "article link", s"figshare://article/$n", off + 1))
        case "osf" =>
          // OSF file-search hits carry an attributes.kind and a file name;
          // hits that are folders or miss the query's extension exist in
          // real result pages (scrape_osf.py:171-175 guards both) — bait
          // for the parser's break-not-continue page abort (F4)
          val kind = if (pos(h(cfg, "okind", ft, k), 23) == 0) "folder" else "file"
          val ext = if (pos(h(cfg, "oext", ft, k), 29) == 0) "txt" else ft
          Seq(
            Span("text", s"hit kind=$kind name=${word(h(cfg, "fh", n))}_$k.$ext in node ${datasetId(host, n)}", "", off),
            Span("media", "node link", s"osf://node/$n", off + 1))
      }
    }
    header ++ hits
  }

  /** Realistic record-page body: ~32 sentences (~400 words) of markup-laden prose (the
    * reference strips real repository HTML, toolbox.py:212-245; a crawl
    * page is KBs, not a one-liner — page weight is part of what the
    * throughput metric measures).
    */
  def descriptionHtml(cfg: RepoConfig, host: String, n: Int): String = {
    val sb = new java.lang.StringBuilder(1024)
    val base = h(cfg, "desc", host, n) // one boxed call; the loops are free
    sb.append("<p>")
    var s = 0
    while (s < 32) {
      sb.append("<b>").append(word(hh(base, 1000L + s)).capitalize)
        .append("</b> ")
      var w = 0
      while (w < 11) {
        sb.append(word(hh(base, s.toLong * 16 + w)))
        sb.append(if (w == 5) ",\t" else " ")
        w += 1
      }
      sb.append("simulation&nbsp;data.  ")
      s += 1
    }
    sb.append("</p>")
    sb.toString
  }

  def titleOf(cfg: RepoConfig, host: String, n: Int): String =
    s"${word(h(cfg, "t1", host, n)).capitalize} ${word(h(cfg, "t2", host, n))} simulation $n"

  /** One record as interleaved spans: title/author/description/keyword text
    * lines interleaved with media refs (thumbnail + file links). This is the
    * GPCRmd "text lines + hrefs" page shape (scrapers/gpcrmd.py:95-158)
    * carrying the Zenodo metadata surface (scrapers/zenodo.py:292-359).
    */
  def recordSpans(cfg: RepoConfig, host: String, n: Int,
                  detail: Boolean, baseOff: Int = 0): Seq[Span] = {
    val id = datasetId(host, n)
    lazy val files = fileEntries(cfg, host, n) // unused for mddb records
    var off = baseOff
    def at(k: String, t: String, m: String = ""): Span = {
      val s = Span(k, t, m, off); off += 1; s
    }
    val head = Seq(
      at("text", s"record $id"),
      at("text", s"title: ${titleOf(cfg, host, n)}"),
      at("media", "thumbnail", s"thumb://$host/$n.png"),
      at("text", s"authors: ${word(h(cfg, "a1", host, n))}; ${word(h(cfg, "a2", host, n))}"),
      at("text", s"doi: 10.5281/$host.$n"),
      at("text", s"date: 20${10 + pos(h(cfg, "y", host, n), 15)}-0${1 + pos(h(cfg, "m", host, n), 9)}-1${pos(h(cfg, "d", host, n), 9)}T08:30:00"),
      at("text", s"keywords: ${word(h(cfg, "k1", n))}; ${word(h(cfg, "k2", n))}"),
      at("text", s"description: ${descriptionHtml(cfg, host, n)}"),
      at("text", s"downloads: ${pos(h(cfg, "dl", host, n), 5000)} views: ${pos(h(cfg, "vw", host, n), 50000)}"),
      at("text", s"license: ${if (pos(h(cfg, "lic", n), 3) == 0) "CC-BY-4.0" else "MIT"}"),
    ) ++ (if (host == "nomad")
      // NOMAD entries carry nested simulation metadata inline
      // (nomad.py:248-372); ~1/13 payloads have a non-positive timestep →
      // the whole record quarantines (pydantic ValidationError semantics)
      Seq(at("text", s"simulation: ${simulationJson(cfg, n)}"))
    else if (host == "mddb")
      // MDposit projects carry the flat PROGRAM/FF/PDBIDS envelope
      // (mddb.py:159-713) — deep-extraction + 6-case assembly surface
      Seq(at("text", s"simulation: ${mddbMetaJson(cfg, n)}"))
    else Seq.empty)
    // MDposit files come only from per-replica filenotes subfetches
    // (mddb.py:716-785); the project record itself carries the file COUNT
    // (len(dataset.files), mddb.py:673) and the replica links.
    val fileSpans = if (host == "mddb") {
      val reps = nReplicas(cfg, n)
      val total = (1 to reps).map(r => mddbFileEntries(cfg, n, r).size).sum
      at("text", s"nfiles: $total") +: (1 to reps).map(r =>
        at("media", s"replica $r filenotes", s"mddb://filenotes/$n/$r"))
    } else files.zipWithIndex.flatMap { case (f, j) =>
      val link = f.url
      // GPCRmd-style pages list files WITHOUT sizes (gpcrmd.py:161-271);
      // a per-file HEAD probe task fills them in (S13)
      val sizeTxt = if (host == "gpcrmd") "?" else f.size.toString
      Seq(
        at("text", s"file: ${f.name} size: $sizeTxt md5: ${f.md5}"),
        at("media", s"file ${f.name}", link),
      ) ++ (if (f.name.endsWith(".zip") && (host == "zenodo" || host == "figshare"))
        Seq(at("media", "zip preview",
          if (host == "zenodo") s"zenodo://preview/$n/${f.name}"
          else s"figshare://structure/$n/$j"))
      else Seq.empty) ++ (if (host == "gpcrmd")
        Seq(at("media", "head probe", s"gpcrmd://head/$n/$j"))
      else Seq.empty)
    }
    head ++ fileSpans
  }

  /** One offset page of the MDposit project listing: `mddbPerPage` full
    * project records inline (like the `projects` array of mddb.py:130-134),
    * page total known up front — no in-page pagination links needed.
    */
  private def mddbPageSpans(cfg: RepoConfig, p: Int): Seq[Span] = {
    val perPage = mddbPerPage(cfg)
    val total = cfg.mddbCount
    if (p < 1 || p > mddbPages(cfg))
      return Seq(Span("text", s"no results page=$p", "", 0))
    val from = (p - 1) * perPage
    val until = math.min(total, from + perPage)
    val header = Span("text",
      s"mdposit projects page $p of ${mddbPages(cfg)} filteredCount $total", "", 0)
    // offset pagination walks a STABLE ordered project list — record n is
    // simply the n-th project, not a hash draw (contrast hitDataset)
    header +: (from until until).zipWithIndex.flatMap { case (n, i) =>
      recordSpans(cfg, "mddb", n, detail = false, 100 * (i + 1))
    }
  }

  /** Per-replica filenotes page (mddb.py:745-763 fetches
    * `/projects/<id>.<rid>/filenotes`): the replica's file listing, names
    * prefixed `<replica_name>/` exactly as extract_files_metadata builds
    * them (mddb.py:825-828).
    */
  private def filenotesSpans(cfg: RepoConfig, n: Int, rid: Int): Seq[Span] = {
    if (rid < 1 || rid > nReplicas(cfg, n))
      return Seq(Span("text", s"no such replica $rid", "", 0))
    val files = mddbFileEntries(cfg, n, rid)
    Seq(
      Span("text", s"filenotes ${datasetId("mddb", n)} replica $rid", "", 0),
      Span("text", s"record ${datasetId("mddb", n)}", "", 1),
    ) ++ files.zipWithIndex.flatMap { case (f, i) =>
      Seq(
        Span("text", s"file: ${f.name} size: ${f.size} md5: ${f.md5}", "", 10 * (i + 1)),
        Span("media", s"file ${f.name}", f.url, 10 * (i + 1) + 1))
    }
  }

  /** Files of one MDposit replica; names carry the replica prefix
    * (`replica_<rid>/...`, mddb.py:767-773 + 828) and urls the
    * `<id>.<rid>/files/<name>` shape (mddb.py:823). */
  def mddbFileEntries(cfg: RepoConfig, n: Int, rid: Int): Seq[FileEntry] = {
    val exts = Seq("gro", "mdp", "xtc", "tpr", "pdf")
    (0 until (1 + pos(h(cfg, "mnf", n, rid), 4))).map { j =>
      val name = s"replica_$rid/${word(h(cfg, "mfn", n, rid, j))}_$j.${exts(pos(h(cfg, "mfe", n, rid, j), exts.size))}"
      FileEntry(name, s"dl://mddb/$n.$rid/$name",
        1000L + pos(h(cfg, "mfs", n, rid, j), 5000000),
        f"${h(cfg, "mmd5", n, rid, j)}%016x")
    }
  }

  /** Deterministic MDposit project-metadata envelope exercising every
    * branch of the 6-case protein assembly (mddb.py:303-439), the
    * software/forcefield fallbacks (159-231), small molecules (479-527)
    * and the timestep/temperature scalars (690-700). ~1/13 payloads carry
    * a non-positive TIMESTEP → whole-record quarantine, same contract as
    * the NOMAD payloads.
    */
  def mddbMetaJson(cfg: RepoConfig, n: Int): String = {
    def uniId(i: Int): String =
      if (pos(h(cfg, "unoref", n, i), 7) == 0) "noref"
      else f"P${pos(h(cfg, "uni", n, i), 99999)}%05d"
    def seqStr(i: Int): String =
      word(h(cfg, "pseq", n, i)).toUpperCase * (2 + pos(h(cfg, "plen", n, i), 3))
    val (nUni, nSeq) = pos(h(cfg, "mcase", n), 6) match {
      case 0 => (0, 0)                                  // case 1
      case 1 => (0, 1 + pos(h(cfg, "ns", n), 3))        // case 2
      case 2 => (1 + pos(h(cfg, "nu", n), 2), 0)        // case 3
      case 3 => (1, 2 + pos(h(cfg, "ns4", n), 2))       // case 4
      case 4 => (2, 3)                                  // case 5 (mismatch)
      case _ => val k = 1 + pos(h(cfg, "nk", n), 3); (k, k) // case 6
    }
    val nPdb = pos(h(cfg, "npdb", n), 3)
    def arr(k: Int, f: Int => String): String =
      (0 until k).map(i => s""""${f(i)}"""").mkString("[", ",", "]")
    val fields = Seq.newBuilder[String]
    if (pos(h(cfg, "noprog", n), 6) != 0) {
      fields += s""""PROGRAM":"${Seq("gromacs", "namd", "acemd")(pos(h(cfg, "mprog", n), 3))}""""
      if (pos(h(cfg, "nover", n), 4) != 0)
        fields += s""""VERSION":"${2018 + pos(h(cfg, "mver", n), 7)}.${1 + pos(h(cfg, "mvp", n), 3)}""""
    }
    val nFf = pos(h(cfg, "nff", n), 3)
    if (nFf > 0)
      fields += s""""FF":${arr(nFf, i => Seq("charmm36", "amber99sb", "martini3")(pos(h(cfg, "mff", n, i), 3)))}"""
    if (pos(h(cfg, "nowat", n), 2) == 0)
      fields += s""""WAT":"${Seq("tip3p", "spc216")(pos(h(cfg, "mwat", n), 2))}""""
    if (nPdb > 0)
      fields += s""""PDBIDS":${arr(nPdb, i => f"${pos(h(cfg, "mpdb", n, i), 9999)}%04d")}"""
    if (nUni > 0) fields += s""""REFERENCES":${arr(nUni, uniId)}"""
    if (nSeq > 0) fields += s""""PROTSEQ":${arr(nSeq, seqStr)}"""
    val nNucl = if (pos(h(cfg, "nonucl", n), 5) == 0) 1 else 0
    if (nNucl > 0)
      fields += s""""NUCLSEQ":${arr(nNucl, i => "ACGT" * (2 + pos(h(cfg, "nlen", n, i), 3)))}"""
    fields += s""""SOL":${pos(h(cfg, "msol", n), 5000)}"""
    fields += s""""NA":${pos(h(cfg, "mna", n), 200)}"""
    fields += s""""CL":${pos(h(cfg, "mcl", n), 200)}"""
    if (pos(h(cfg, "noink", n), 4) == 0)
      fields += s""""INCHIKEYS":["${word(h(cfg, "mink", n)).toUpperCase}-${word(h(cfg, "mink2", n)).toUpperCase}"]"""
    // ~1/13 negative (whole-record quarantine), ~1/11 zero (falsy → treated
    // as ABSENT, record kept — mddb.py:694), else positive
    val ts =
      if (pos(h(cfg, "mbadts", n), 13) == 0) -1
      else if (pos(h(cfg, "mzts", n), 11) == 0) 0
      else 1 + pos(h(cfg, "mts", n), 4)
    fields += s""""TIMESTEP":$ts"""
    fields += s""""TEMP":${290 + pos(h(cfg, "mtemp", n), 40)}"""
    fields += s""""mdAtoms":${1000 + pos(h(cfg, "matoms", n), 3000000)}"""
    fields.result().mkString("{", ",", "}")
  }

  /** GPCRmd-style single-shot index: every dataset of the repository on
    * one page (S6 in its true form — no pagination). */
  private def indexSpans(cfg: RepoConfig): Seq[Span] =
    Span("text", s"gpcrmd index of ${cfg.gpcrmdCount} dynamics", "", 0) +:
      (0 until cfg.gpcrmdCount).flatMap { n =>
        Seq(
          Span("text", s"dynamics ${datasetId("gpcrmd", n)}: ${titleOf(cfg, "gpcrmd", n)}", "", 10 * (n + 1)),
          Span("media", "dyn link", s"gpcrmd://dyn/$n", 10 * (n + 1) + 1))
      }

  /** HEAD size probe answer (S13, atlas.py:88-124): one size-only text
    * span, zero links — the metadata-only request variant. */
  private def headSpans(cfg: RepoConfig, n: Int, j: Int): Seq[Span] = {
    val files = fileEntries(cfg, "gpcrmd", n)
    if (j >= files.size) return Seq(Span("text", s"no such file $j", "", 0))
    val f = files(j)
    Seq(Span("text", s"headsize: ${f.url} size: ${f.size}", "", 0))
  }

  /** Deterministic nested simulation-metadata JSON for a nomad record —
    * the deep-extraction surface (software list, molecules with external
    * identifiers whose URLs the validator must compute, value-with-unit
    * timesteps, mixed-unit temperatures).
    */
  def simulationJson(cfg: RepoConfig, n: Int): String = {
    val sw = Seq("gromacs", "namd", "openmm")(pos(h(cfg, "sw", n), 3))
    val swv = s"20${20 + pos(h(cfg, "swv", n), 6)}.${1 + pos(h(cfg, "swp", n), 3)}"
    val atoms = 1000 + pos(h(cfg, "atoms", n), 3000000)
    val nMol = 1 + pos(h(cfg, "nmol", n), 3)
    val mols = (0 until nMol).map { i =>
      val name = word(h(cfg, "mn", n, i))
      val typ = Seq("PROTEIN", "LIPID", "ION", "SOLVENT")(pos(h(cfg, "mt", n, i), 4))
      val count = 1 + pos(h(cfg, "mc", n, i), 512)
      val ext = pos(h(cfg, "me", n, i), 3) match {
        case 0 =>
          val pdb = f"${pos(h(cfg, "pdb", n, i), 9999)}%04d"
          s""","external_identifiers":[{"database_name":"PDB","identifier":"$pdb"}]"""
        case 1 =>
          val up = f"P${pos(h(cfg, "up", n, i), 99999)}%05d"
          s""","external_identifiers":[{"database_name":"UNIPROT","identifier":"$up"}]"""
        case _ => ""
      }
      s"""{"name":"$name","type":"$typ","number_of_molecules":$count$ext}"""
    }.mkString("[", ",", "]")
    val ff = Seq("charmm36", "amber99", "martini")(pos(h(cfg, "ff", n), 3))
    val ts = if (pos(h(cfg, "badts", n), 13) == 0) "\"-1fs\""
      else s""""${1 + pos(h(cfg, "ts", n), 4)}fs""""
    val temp = pos(h(cfg, "tmpk", n), 3) match {
      case 0 => s""""${290 + pos(h(cfg, "tk", n), 30)}K""""
      case 1 => s""""${10 + pos(h(cfg, "tc", n), 30)}C""""
      case _ => s""""${295 + pos(h(cfg, "tk2", n), 20)}""""
    }
    s"""{"software":[{"name":"$sw","version":"$swv"}],""" +
      s""""total_number_of_atoms":$atoms,"molecules":$mols,""" +
      s""""forcefields_models":[{"name":"$ff"}],""" +
      s""""simulation_timesteps_in_fs":[$ts],""" +
      s""""simulation_temperatures":[$temp]}"""
  }

  // ---- ATLAS-style repository (raw-HTML regex surface) ---------------------

  /** ATLAS index page: text spans carrying RAW `<a href>` markup, ~8
    * anchors per span. Chains are discoverable ONLY by the chain-id regex
    * (atlas.py:75-82 `/ATLAS/database/ATLAS/([A-Za-z0-9]{4}_[A-Za-z])/.*html`)
    * — the spans deliberately mix in decoy anchors that must NOT match
    * (non-chain paths, non-html targets) and DUPLICATE anchors for the
    * same chain (analysis page next to the dataset page: the reference's
    * `set(pdb_chains)` dedups; the engine keeps first-occurrence order).
    */
  private def atlasIndexSpans(cfg: RepoConfig): Seq[Span] = {
    val header = Span("text",
      s"<h1>ATLAS: ${cfg.atlasCount} protein chains</h1>", "", 0)
    val rows = (0 until cfg.atlasCount).grouped(8).zipWithIndex.map {
      case (grp, gi) =>
        val anchors = grp.flatMap { n =>
          val c = atlasChainId(cfg, n)
          val main =
            s"""<a href="/ATLAS/database/ATLAS/$c/$c.html">$c</a>"""
          // ~1/5 chains also expose an analysis page — same chain id,
          // still one dataset (set-dedup bait)
          val dup = if (pos(h(cfg, "adup", n), 5) == 0)
            Seq(s"""<a href="/ATLAS/database/ATLAS/$c/analysis.html">plots</a>""")
          else Seq.empty
          // decoys: api path (not /database/), pdf target (regex needs html)
          val decoys = Seq(
            s"""<a href="/ATLAS/api/MD_parameters">params</a>""",
            s"""<a href="/ATLAS/database/ATLAS/$c/$c.pdf">pdf</a>""")
            .filter(_ => pos(h(cfg, "adecoy", n), 3) == 0)
          main +: (dup ++ decoys)
        }
        Span("text", anchors.mkString("<li>", " ", "</li>"), "", gi + 1)
    }.toSeq
    header +: rows
  }

  /** Per-chain metadata API answer (atlas.py:177-243): protein name,
    * organism, the fixed ATLAS_METADATA constants (license, authors, doi),
    * no file listing — files come from the separate HTML page. */
  private def atlasMetaSpans(cfg: RepoConfig, chain: String): Seq[Span] = {
    val base = h(cfg, "ameta", chain)
    var off = 0
    def at(k: String, t: String, m: String = ""): Span = {
      val s = Span(k, t, m, off); off += 1; s
    }
    Seq(
      at("text", s"record $chain"),
      at("text", s"title: ${word(hh(base, 1)).capitalize} ${word(hh(base, 2))} protein $chain"),
      at("media", "thumbnail", s"thumb://atlas/$chain.png"),
      at("text", "authors: Tatiana Galochkina; Pierre Poulain"),
      at("text", "doi: 10.1093/nar.gkad1084"),
      at("text", s"date: 20${18 + pos(hh(base, 3), 7)}-0${1 + pos(hh(base, 4), 9)}-1${pos(hh(base, 5), 9)}T09:00:00"),
      at("text", s"keywords: ${word(hh(base, 6))}; atlas"),
      at("text", s"description: organism ${word(hh(base, 7)).capitalize} ${word(hh(base, 8))}"),
      at("text", s"downloads: ${pos(hh(base, 9), 5000)} views: ${pos(hh(base, 10), 50000)}"),
      at("text", "license: CC-BY-4.0"),
    )
  }

  /** One downloadable archive of an ATLAS chain. `sizeText` is the
    * HUMAN-READABLE size as it appears in the link text — sometimes with a
    * comma decimal separator (atlas.py:118-121 normalizes `,` → `.`). */
  final case class AtlasFile(name: String, url: String, sizeText: String,
                             sizeBytes: Long)

  def atlasFileEntries(cfg: RepoConfig, chain: String): Seq[AtlasFile] = {
    val kinds = Seq("prod_R1", "prod_R2", "prod_R3", "analysis")
    (0 until (1 + pos(h(cfg, "anf", chain), 3))).map { j =>
      val name = s"${chain}_${kinds(j)}.zip"
      // value with one decimal digit; unit MB or GB
      val tenth = 10 + pos(h(cfg, "afs", chain, j), 9990) // 1.0..999.9
      val unit = if (pos(h(cfg, "afu", chain, j), 4) == 0) "GB" else "MB"
      val comma = pos(h(cfg, "afc", chain, j), 3) == 0
      val txt = s"${tenth / 10}${if (comma) "," else "."}${tenth % 10} $unit"
      val mult = if (unit == "GB") 1e9 else 1e6
      // bytes = floor of the SAME double product the parser computes
      // (pydantic ByteSize, Validators.parseByteSizeText)
      val bytes = math.floor(tenth / 10.0 * mult).toLong
      AtlasFile(name, s"dl://atlas/$chain/$name", txt, bytes)
    }
  }

  /** Per-chain dataset HTML page (atlas.py:86-124): raw anchors whose
    * href must match the download-link regex AND whose text must match
    * `Download \(...\)` — plus decoys failing exactly one of the two. */
  private def atlasChainSpans(cfg: RepoConfig, chain: String): Seq[Span] = {
    val files = atlasFileEntries(cfg, chain)
    val header = Span("text", s"<h1>ATLAS dataset $chain</h1>", "", 0)
    val anchors = files.zipWithIndex.map { case (f, j) =>
      Span("text",
        s"""<a href="${f.url}">Download (${f.sizeText})</a>""", "",
        10 * (j + 1))
    }
    val decoys = Seq(
      // zip href but no Download(...) text → size regex misses
      Span("text", s"""<a href="dl://atlas/$chain/raw.zip">Get archive</a>""",
        "", 900),
      // Download(...) text but non-zip href → link regex misses
      Span("text",
        s"""<a href="dl://atlas/$chain/readme.txt">Download (12 KB)</a>""",
        "", 901),
      // Download(...) + zip but the path misses the chain-dir shape
      Span("text",
        s"""<a href="dl://atlas/pub/bundle.zip">Download (1.5 GB)</a>""",
        "", 902),
    )
    (header +: anchors) ++ decoys
  }

  final case class FileEntry(name: String, url: String, size: Long, md5: String)

  def fileEntries(cfg: RepoConfig, host: String, n: Int): Seq[FileEntry] = {
    val exts = Seq("gro", "mdp", "xtc", "tpr", "pdf")
    (0 until nFiles(cfg, host, n)).map { j =>
      val isZip = pos(h(cfg, "zip", host, n, j), 5) == 0
      // occasional dot-files — exclusion-filter bait (the reference's
      // `excluded_files: ["."]` query config, toolbox.py:310-318)
      val dot = if (pos(h(cfg, "dot", host, n, j), 17) == 0) "." else ""
      val name =
        if (isZip) s"archive_${pos(h(cfg, "an", n, j), 99)}.zip"
        else s"$dot${word(h(cfg, "fn", n, j))}_$j.${exts(pos(h(cfg, "fe", n, j), exts.size))}"
      FileEntry(name, s"dl://$host/$n/$name",
        1000L + pos(h(cfg, "fs", host, n, j), 5000000),
        f"${h(cfg, "md5", host, n, j)}%016x")
    }
  }

  // ---- downloadable file bodies (the download stage's "network") ----------

  /** Deterministic body of a downloadable file URL (`dl://...` or
    * `zip://...` member): the same pure-function-of-(seed, url) contract as
    * page fetches, so the download stage replays byte-identically at any
    * parallelism. Formats follow the reference's parse targets: GROMACS
    * `key = value` .mdp lines (scripts/parse_mdp_files.py) and fixed-width
    * .gro atom blocks (scripts/parse_gro_files.py, columns 6-10 = residue
    * name); other extensions get an opaque marker body.
    */
  def fileContent(cfg: RepoConfig, url: String): String = {
    val base = h(cfg, "body", url)
    val ext = {
      val b = url.substring(url.lastIndexOf('/') + 1)
      val i = b.lastIndexOf('.')
      if (i < 0) "" else b.substring(i + 1)
    }
    ext match {
      case "mdp" =>
        val tc = Seq("no", "berendsen", "Nose-Hoover", "v-rescale",
          "nose_hoover", "ANDERSEN")(pos(hh(base, 1), 6))
        val pc = Seq("no", "Berendsen", "Parrinello-Rahman",
          "c-rescale")(pos(hh(base, 2), 4))
        val dup = if (pos(hh(base, 7), 5) == 0) "\ndt = 0.009" else ""
        s"""; synthetic mdp $url
           |integrator = ${if (pos(hh(base, 3), 2) == 0) "md" else "sd"}
           |DT = 0.00${1 + pos(hh(base, 4), 4)}
           |nsteps  =  ${1000L * (1 + pos(hh(base, 5), 9999))}
           |tcoupl = $tc
           |Pcoupl = $pc
           |ref_t = ${280 + pos(hh(base, 6), 41)}$dup""".stripMargin
      case "gro" =>
        // same rotation as FileParsers.residues: all five catalog classes
        // plus the dual-class-removed 2MA
        val residues = Seq("ALA", "DPPC", "SOL", "NA", "0MA", "DA", "LYS", "2MA")
        val n = 3 + pos(hh(base, 10), 5)
        val atoms = (1 to n).map { i =>
          val res = residues(pos(hh(base, 100L + i), residues.size))
          f"$i%5d${res.padTo(5, ' ')}  C$i   $i   1.000   2.000   3.000"
        }
        (s"synthetic gro $url" +: f"$n%5d" +: atoms).mkString("\n")
      case _ => f"binary:$ext%s:${hh(base, 99)}%016x"
    }
  }

  /** OSF node page = record + file listing + child-node links + (when the
    * node has one) a parent-node link — the reference expands BOTH
    * directions (S12, scrape_osf.py:196-267: /children/ pages plus the
    * relationships.parent property of the node detail). */
  private def nodeSpans(cfg: RepoConfig, n: Int): Seq[Span] = {
    val rec = recordSpans(cfg, "osf", n, detail = true)
    val nKids = pos(h(cfg, "kids", n), 3) // 0..2 children
    val kids = (0 until nKids).map { c =>
      val kid = pos(h(cfg, "kid", n, c), cfg.universe)
      Span("media", s"child node", s"osf://node/$kid", 10000 + c)
    }
    val parent = if (pos(h(cfg, "haspar", n), 2) == 0)
      Seq(Span("media", "parent node",
        s"osf://node/${pos(h(cfg, "parid", n), cfg.universe)}", 10100))
    else Seq.empty
    rec ++ kids ++ parent
  }

  /** Zip preview page: preorder file-path listing of a nested tree, paths
    * `/`-joined, capped at zipPreviewLimit — the reference's invenio
    * previewer semantics (zenodo.py:77-201, figshare golden test
    * tests/scrapers/test_figshare.py:31-92).
    */
  private def zipSpans(cfg: RepoConfig, host: String, n: Int,
                       zipName: String): Seq[Span] = {
    val paths = zipPaths(cfg, host, n, zipName)
    Span("text", s"contents of $zipName (${paths.size} entries)", "", 0) +:
      paths.zipWithIndex.map { case ((p, sz), i) =>
        Span("media", s"zipentry $p size: $sz", s"zip://$host/$n/$zipName/$p", i + 1)
      }
  }

  /** Deterministic preorder walk of a 2-level directory tree. */
  def zipPaths(cfg: RepoConfig, host: String, n: Int,
               zipName: String): Seq[(String, Long)] = {
    val nTop = 1 + pos(h(cfg, "zt", host, n, zipName), 6)
    val out = Seq.newBuilder[(String, Long)]
    var count = 0
    (0 until nTop).foreach { i =>
      val isDir = pos(h(cfg, "zd", n, zipName, i), 3) == 0
      if (isDir && count < cfg.zipPreviewLimit) {
        // occasional macOS junk dirs — path-exclusion bait
        // (toolbox.py:296-308 `excluded_paths: ["__MACOSX"]`)
        val dir = if (pos(h(cfg, "mac", n, zipName, i), 7) == 0) "__MACOSX"
          else s"${word(h(cfg, "zw", n, i))}_$i"
        val nIn = 1 + pos(h(cfg, "zn", n, zipName, i), 5)
        (0 until nIn).foreach { j =>
          if (count < cfg.zipPreviewLimit) {
            out += ((s"$dir/${word(h(cfg, "zf", n, i, j))}_$j.gro",
              500L + pos(h(cfg, "zs", n, i, j), 100000)))
            count += 1
          }
        }
      } else if (count < cfg.zipPreviewLimit) {
        out += ((s"${word(h(cfg, "zf2", n, i))}_$i.mdp",
          500L + pos(h(cfg, "zs2", n, i), 100000)))
        count += 1
      }
    }
    out.result()
  }
}
