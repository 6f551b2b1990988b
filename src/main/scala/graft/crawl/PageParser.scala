package graft.crawl

import graft.model._
import org.apache.spark.sql.types.{BooleanType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Parses an interleaved text+media span document into (a) frontier
  * candidate links and (b) validated dataset/file record rows. Pure
  * functions of the `Doc` alone — parse output is fully determined by the
  * span sequence, which is what makes per-row span-sequence equality
  * (kind, text, media_ref, order) the parity invariant.
  *
  * Reference semantics: extract_metadata_from_json projections
  * (scrapers/zenodo.py:292-359), GPCRmd field-from-lines scan
  * (scrapers/gpcrmd.py:161-271), zip-preview flatten (zenodo.py:153-201).
  */
object PageParser {

  /** Crawlable link schemes; everything else (thumb://, dl://, zip://) is a
    * terminal media reference, kept in the doc but never fetched. */
  private val Crawlable = Set("zenodo", "figshare", "osf", "nomad", "gpcrmd",
    "mddb", "atlas")

  private def kindOf(url: String): String = {
    val path = url.dropWhile(_ != ':').drop(3)
    path.takeWhile(_ != '/')
  }

  /** Dataset-type score: discovery pages outrank detail pages outrank
    * zip subcrawls (the north rule's priority-queue score component). */
  def scoreOf(url: String): Double = kindOf(url) match {
    case "search" | "cursor" | "projects" => 3.0 // discovery pages (cursor
                                         // chain is latency-critical:
                                         // 1 page/round)
    case "article" | "node" | "dyn" | "filenotes" => 2.0
    case "meta" | "chain"         => 2.0 // atlas per-dataset pages
    case "preview" | "structure"  => 1.0
    case _                        => 0.5 // head probes, unknown
  }

  private val OsfSearchDocRe = "^osf://search/([a-z0-9]+)/\\d+$".r
  private val OsfHitRe = "^hit kind=(\\S+) name=(\\S+) in node .*$".r

  /** The reference's break-not-continue page abort (F4,
    * scrape_osf.py:170-175): while walking an OSF file-search page's hits,
    * the FIRST hit whose kind isn't "file" or whose name misses the
    * query's extension `break`s out of the page loop — every later hit on
    * that page is never parsed. Returns the span prefix the parser may
    * consume; non-OSF-search pages pass through whole.
    */
  def parseableSpans(doc: Doc): Seq[Span] = doc.doc_id match {
    case OsfSearchDocRe(ft) =>
      val bad = doc.spans.indexWhere(s => s.kind == "text" && (s.text match {
        case OsfHitRe(kind, name) => kind != "file" || !name.endsWith("." + ft)
        case _ => false
      }))
      if (bad >= 0) doc.spans.take(bad) else doc.spans
    case _ => doc.spans
  }

  /** The ATLAS chain-id regex, verbatim shape (atlas.py:75-77): applied to
    * raw `<a href>` markup inside the index page's TEXT spans — the only
    * way chains are discoverable (S7's regex-over-HTML scan). */
  private val AtlasChainIdRe =
    """<a href="/ATLAS/database/ATLAS/([A-Za-z0-9]{4}_[A-Za-z])/[^"]*html"""".r

  /** Outlinks in span order, with in-page ordinals (post page-abort). For
    * the ATLAS index, links are MINTED from the chain-id regex over the
    * raw-HTML text spans — first-occurrence order, set-dedup like the
    * reference's `set(pdb_chains)` (atlas.py:78-82) — each chain yielding
    * its metadata-API page and its dataset-HTML page (atlas.py:149-152).
    */
  def extractLinks(doc: Doc): Seq[DiscoveredLink] = {
    if (doc.doc_id == "atlas://index") {
      val seen = scala.collection.mutable.LinkedHashSet.empty[String]
      doc.spans.iterator.filter(_.kind == "text").foreach { s =>
        AtlasChainIdRe.findAllMatchIn(s.text).foreach(m => seen += m.group(1))
      }
      seen.iterator.zipWithIndex.flatMap { case (chain, i) =>
        Seq(DiscoveredLink(s"atlas://meta/$chain", "meta", 2 * i, 2.0),
          DiscoveredLink(s"atlas://chain/$chain", "chain", 2 * i + 1, 2.0))
      }.toSeq
    } else parseableSpans(doc).iterator
      .filter(s => s.kind == "media" && Crawlable.contains(s.media_ref.takeWhile(_ != ':')))
      .zipWithIndex
      .map { case (s, i) => DiscoveredLink(s.media_ref, kindOf(s.media_ref), i, scoreOf(s.media_ref)) }
      .toSeq
  }

  /** Ingest-time dedup sketches (MinHash + SimHash + token count) over a
    * cleaned text — the same md5-shingle scheme as operators.DedupOps
    * (md5("perm:shingle"), min per permutation) so crawl-side and
    * post-hoc dedup agree. Computed per record during parse: at crawl
    * scale this is where sketching is cheapest (the text is already in
    * CPU cache; a later pass would re-read the whole corpus).
    */
  /** Same permutation count as `operators.DedupOps.NumHashes` — the
    * crawl-side and post-hoc dedup sketches are meant to be ONE scheme
    * (md5("p:shingle"), min per permutation), and the permutation loop is
    * the single hottest spot of the fetch+parse kernel (16 perms measured
    * ~30 % of whole-kernel time over 8). */
  val MinhashPerms = 8

  /** `(p + ":").getBytes` for each permutation, built once — streaming
    * `update(prefix); update(shingle)` produces the exact md5 of the
    * concatenated string, without allocating 16 concat strings + byte
    * arrays per shingle (the parse stage's dominant garbage producer;
    * measured as the GC bottleneck of 32-thread crawl rounds). */
  private val PermPrefix: Array[Array[Byte]] =
    Array.tabulate(MinhashPerms)(p =>
      (p + ":").getBytes(java.nio.charset.StandardCharsets.UTF_8))

  def sketch(text: String): (Seq[Long], Long, Long) = {
    val words = text.split(' ')
    val md = java.security.MessageDigest.getInstance("MD5")
    val buf = new Array[Byte](16) // reused digest output
    def head8(): Long = {
      var v = 0L; var i = 0
      while (i < 8) { v = (v << 8) | (buf(i) & 0xffL); i += 1 }
      v
    }
    val mins = Array.fill(MinhashPerms)(-1L) // unsigned max
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i + 2 < words.length) {
      sb.setLength(0)
      sb.append(words(i)).append(' ').append(words(i + 1)).append(' ')
        .append(words(i + 2))
      val shingleBytes = sb.toString
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var p = 0
      while (p < MinhashPerms) {
        md.reset()
        md.update(PermPrefix(p))
        md.update(shingleBytes)
        md.digest(buf, 0, 16)
        val v = head8()
        if (java.lang.Long.compareUnsigned(v, mins(p)) < 0) mins(p) = v
        p += 1
      }
      i += 1
    }
    // 64-bit SimHash over per-word md5 heads
    val counts = new Array[Int](64)
    var w = 0
    while (w < words.length) {
      md.reset()
      md.update(words(w).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      md.digest(buf, 0, 16)
      val v = head8()
      var b = 0
      while (b < 64) {
        if (((v >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
      w += 1
    }
    var sim = 0L
    var b = 0
    while (b < 64) { if (counts(b) > 0) sim |= (1L << b); b += 1 }
    (mins.toSeq, sim, words.length.toLong)
  }

  // record markers: `<host-initial>-<n>` everywhere, PDB chain ids on
  // atlas metadata pages
  private val RecordRe = "^record ([a-z]-\\d+|[A-Za-z0-9]{4}_[A-Za-z])$".r
  private val FileRe = "^file: (\\S+) size: (\\d+|\\?) md5: (\\S+)$".r
  private val HeadSizeRe = "^headsize: (\\S+) size: (\\d+)$".r
  private val ZipEntryRe = "^zipentry (\\S+) size: (\\d+)$".r
  private val ZipUrlRe = "^zip://([a-z]+)/(\\d+)/([^/]+)/.*$".r

  private def field(spans: Seq[Span], name: String): Option[String] =
    spans.collectFirst {
      case s if s.kind == "text" && s.text.startsWith(s"$name: ") =>
        s.text.drop(name.length + 2)
    }

  /** Parse all dataset records on a page (search pages may carry many —
    * Zenodo embeds full hits inline). Returns raw rows; validation is the
    * caller's quarantine step.
    */
  def parseDatasets(host: String, doc: Doc): Seq[DatasetRecord] = {
    // filenotes subfetches are file listings only — the reference parses
    // them exclusively through extract_files_metadata (mddb.py:716-785);
    // the project record came from the offset page
    if (doc.doc_id.startsWith("mddb://filenotes/")) return Seq.empty
    // split the span stream at "record <id>" markers
    val groups = splitRecords(parseableSpans(doc))
    groups.map { case (id, spans) =>
      val dl = field(spans, "downloads")
        .map(_.split(" views: ")).getOrElse(Array.empty[String])
      val desc = field(spans, "description").map(Validators.cleanText)
      val (mh, sh, tok) = desc.map(sketch)
        .getOrElse((Seq.fill(MinhashPerms)(-1L), 0L, 0L))
      DatasetRecord(
        dataset_repository_name = host,
        dataset_id_in_repository = id,
        dataset_url_in_repository = doc.doc_id,
        title = field(spans, "title").getOrElse(""),
        author_names = field(spans, "authors").toSeq.flatMap(_.split("; ")),
        description = desc,
        keywords = field(spans, "keywords").toSeq.flatMap(_.split("; ")),
        license = field(spans, "license"),
        doi = field(spans, "doi"),
        date_created = field(spans, "date"),
        download_number = dl.headOption.flatMap(_.toLongOption),
        view_number = dl.lift(1).flatMap(_.toLongOption),
        // MDposit records carry the count directly (len(dataset.files),
        // mddb.py:673); page-embedded records count their file lines; a
        // page listing NO files (atlas metadata API — files live on the
        // separate HTML page) reports the count as ABSENT, not zero (a
        // zero count would trip the strict-positivity validator)
        number_of_files = field(spans, "nfiles").flatMap(_.toLongOption)
          .orElse(Some(spans.count(s =>
            s.kind == "text" && s.text.startsWith("file: ")).toLong)
            .filter(_ > 0)),
        description_minhash = mh,
        description_simhash = sh,
        description_tokens = tok,
        simulation_json = field(spans, "simulation"),
        simulation = None, // populated by Validators.validateDataset
      )
    }
  }

  /** Parse file rows: direct files from record groups; zip entries from
    * preview pages (carrying archive provenance, models/file.py
    * `containing_archive_file_name`).
    */
  def parseFiles(host: String, doc: Doc): Seq[FileRecord] = {
    val ps = parseableSpans(doc)
    val direct = splitRecords(ps).flatMap { case (id, spans) =>
      spans.sliding(2).collect {
        case Seq(Span("text", FileRe(name, size, md5), _, _),
                 Span("media", _, url, _)) =>
          // "?" = size unknown until the HEAD probe answers (gpcrmd/atlas)
          FileRecord(host, id, doc.doc_id, name, url,
            size.toLongOption, Some(md5), None, "")
      }
    }
    val zipped = ps.collect {
      case Span("media", ZipEntryRe(path, size), url @ ZipUrlRe(h2, n, zipName), _) =>
        FileRecord(h2, s"${h2.head}-$n", doc.doc_id, path, url,
          Some(size.toLong), None, Some(zipName), "")
    }
    direct ++ zipped ++ parseAtlasFiles(doc)
  }

  // ---- ATLAS raw-HTML file extraction (atlas.py:86-124,292-339) -----------
  // The reference walks soup.find_all("a") and applies TWO independent
  // regexes: the download-link pattern on the href (must be a .zip inside
  // a chain directory) and the size pattern on the anchor TEXT
  // (`Download \(<human size>\)`); an anchor failing either is skipped.
  // Sizes sometimes use a comma decimal separator → normalized to '.'
  // (atlas.py:118-121), then parsed by `Validators.parseByteSizeText`.
  private val AnchorRe = """<a href="([^"]+)"[^>]*>([^<]*)</a>""".r
  private val AtlasDownloadHrefRe =
    """dl://atlas/[A-Za-z0-9]{4}_[A-Za-z]/[^"]*zip""".r
  private val AtlasSizeRe = """Download \(([A-Za-z0-9,\. ]+)\)""".r
  private val AtlasChainDocRe = "^atlas://chain/([A-Za-z0-9]{4}_[A-Za-z])$".r

  def parseAtlasFiles(doc: Doc): Seq[FileRecord] = doc.doc_id match {
    case AtlasChainDocRe(chain) =>
      doc.spans.filter(_.kind == "text").flatMap { s =>
        AnchorRe.findAllMatchIn(s.text).flatMap { a =>
          val href = a.group(1)
          val text = a.group(2)
          for {
            _ <- AtlasDownloadHrefRe.findFirstIn(href)
            m <- AtlasSizeRe.findFirstMatchIn(text)
            bytes <- Validators.parseByteSizeText(m.group(1).replace(',', '.'))
          } yield FileRecord("atlas", chain, doc.doc_id,
            href.substring(href.lastIndexOf('/') + 1), href, Some(bytes),
            None, None, "")
        }
      }
    case _ => Seq.empty
  }

  /** HEAD-probe answers on a page → (file_url, size) rows (S13,
    * atlas.py:88-124). */
  def parseHeadSizes(doc: Doc): Seq[HeadProbe] =
    doc.spans.collect {
      case Span("text", HeadSizeRe(url, size), _, _) =>
        HeadProbe(url, size.toLong)
    }

  private def splitRecords(spans: Seq[Span]): Seq[(String, Seq[Span])] = {
    val starts = spans.zipWithIndex.collect {
      case (Span("text", RecordRe(id), _, _), i) => (id, i)
    }
    starts.zipWithIndex.map { case ((id, from), gi) =>
      val until = if (gi + 1 < starts.size) starts(gi + 1)._2 else spans.size
      (id, spans.slice(from, until))
    }
  }
}

/** Per-host robots gating — a static allow/deny rule set (the reference has
  * none; the north rule requires the gate). Synthetic policy: OSF nodes
  * whose id ≡ 0 (mod 13) are disallowed, zenodo previews of archives whose
  * numeric suffix ≡ 0 (mod 17) are disallowed. Pure, executor-safe.
  */
object Robots {
  private val OsfNode = "^osf://node/(\\d+)$".r
  private val ZenPrev = "^zenodo://preview/\\d+/archive_(\\d+)\\.zip$".r

  def allowed(url: String): Boolean = url match {
    case OsfNode(n)  => n.toLong % 13 != 0
    case ZenPrev(k)  => k.toLong % 17 != 0
    case _           => true
  }

  /** [[allowed]] as a Column: one [[graft.functions.Kernel]] call of its
    * `UTF8String` adapter below, so the crawl's link gate and
    * `q_robots_gate` run the rule [[ReferenceCrawl]] runs. A NULL url
    * gives NULL. */
  def allowedCol(url: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    graft.functions.Kernel.call(this, "allowed", BooleanType)(url -> StringType)
  def allowed(url: UTF8String): Boolean = allowed(url.toString)
}
