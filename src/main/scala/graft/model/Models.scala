package graft.model

/** Core data model of the engine — the interleaved text+media document and
  * the validated crawl-record schemas, re-expressed from the reference's
  * Pydantic models (SURVEY.md §1.2) as Scala case classes with explicit
  * Spark Encoders (schema-on-write, invalid rows quarantined not fatal,
  * mirroring reference models/utils.py:14-49 drop-and-log semantics).
  *
  * `Doc`/`Span` is the exact `input_hint` shape:
  *   (doc_id: string, spans: array<struct<kind, text, media_ref, offset>>)
  * A crawled record page IS such a document: text lines (title, description,
  * keyword rows) interleaved with media refs (file links, thumbnails,
  * zip-preview entries) — cf. reference scrapers/gpcrmd.py:95-158 which keeps
  * exactly "text lines + link hrefs" per page.
  */
final case class Span(kind: String, text: String, media_ref: String, offset: Int)

final case class Doc(doc_id: String, spans: Seq[Span])

/** One fetchable unit in the frontier. `discoverySeq` components mint the
  * total logical crawl order (SURVEY.md §7.3): every order-sensitive op
  * (first-wins dedup, drain order, crawl-order log) keys on
  * (round, queryIdx, pageIdx, hitIdx) — never on partition iteration order.
  */
final case class FetchTask(
    url: String,
    host: String,
    depth: Int,
    score: Double,
    round: Int,
    queryIdx: Int,
    pageIdx: Int,
    hitIdx: Int,
)

/** A fetched page: the task it answered, HTTP-ish status, and the parsed
  * interleaved-span document. `links` are the raw discovered outlinks in
  * page order (frontier candidates, pre-dedup).
  */
final case class FetchedPage(
    url: String,
    host: String,
    depth: Int,
    status: Int,
    doc: Doc,
    links: Seq[DiscoveredLink],
    /** tries made inside the retry envelope (1 = first try succeeded;
      * maxAttempts with a non-200 status = gave up). */
    attempts: Int = 1,
)

/** An outlink discovered while parsing a page, with its in-page ordinal
  * (hitIdx of the child task) and a score hint from the parser.
  */
final case class DiscoveredLink(url: String, kind: String, ordinal: Int, score: Double)

/** Validated dataset-record row (subset of reference DatasetMetadata,
  * models/dataset.py:73-161, that the synthetic corpus exercises).
  */
final case class DatasetRecord(
    dataset_repository_name: String,
    dataset_id_in_repository: String,
    dataset_url_in_repository: String,
    title: String,
    author_names: Seq[String],
    description: Option[String],
    keywords: Seq[String],
    license: Option[String],
    doi: Option[String],
    date_created: Option[String],
    download_number: Option[Long],
    view_number: Option[Long],
    number_of_files: Option[Long],
    /** ingest-time dedup sketches over the cleaned description — a
      * training-data crawl computes these at parse so downstream
      * dedup never re-reads the corpus (same md5-shingle scheme as
      * operators.DedupOps). */
    description_minhash: Seq[Long],
    description_simhash: Long,
    description_tokens: Long,
    /** raw nested-JSON simulation metadata as scraped (NOMAD-style pages
      * carry it inline); kept for provenance. */
    simulation_json: Option[String] = None,
    /** validated [[SimulationMetadata]] — populated by
      * `Validators.validateDataset` from `simulation_json`; a malformed or
      * invalid payload quarantines the whole record (pydantic
      * ValidationError semantics, models/utils.py:14-49). */
    simulation: Option[SimulationMetadata] = None,
)

/** External database identifier (reference models/simulation.py:23-71).
  * `url` is computed from (database_name, identifier) when absent —
  * the model_validator `compute_url` semantics. */
final case class ExternalIdentifier(
    database_name: String,
    identifier: String,
    url: Option[String],
)

/** Molecule in a simulation (models/simulation.py:74-102). `molecule_type`
  * maps the reference's `type` field (Scala keyword). */
final case class Molecule(
    name: String,
    molecule_type: Option[String],
    number_of_molecules: Option[Long],
    number_of_atoms: Option[Long],
    formula: Option[String],
    external_identifiers: Seq[ExternalIdentifier],
    /** amino-acid / nucleotide sequence (mddb.py PROTSEQ/NUCLSEQ). */
    sequence: Option[String] = None,
    /** InChIKey for small molecules (mddb.py:516-526). */
    inchikey: Option[String] = None,
)

/** Simulation software (models/simulation.py:123-137). */
final case class Software(name: String, version: Option[String])

/** Forcefield or model (models/simulation.py:105-120). */
final case class ForceFieldModel(name: String, version: Option[String])

/** Nested MD-simulation metadata (models/simulation.py:140-278): list
  * fields validated by `Validators.parseSimulation` — timesteps must be
  * strictly positive (unit suffixes allowed), temperatures normalized to
  * Kelvin ("27C" → 300.15; bare numbers assumed Kelvin unless negative).
  * Absent lists are empty (the reference's None; Spark-side a struct of
  * empty arrays keeps the schema closed).
  */
final case class SimulationMetadata(
    software: Seq[Software],
    total_number_of_atoms: Option[Long],
    molecules: Seq[Molecule],
    forcefields_models: Seq[ForceFieldModel],
    simulation_timesteps_in_fs: Seq[Double],
    simulation_temperatures_in_kelvin: Seq[Double],
)

/** HEAD size-probe answer (S13, reference atlas.py:88-124): the size of one
  * file URL learned from a metadata-only request; merged into the files
  * table by the post-pass. */
final case class HeadProbe(file_url: String, file_size_in_bytes: Long)

/** Validated file row (reference FileMetadata, models/file.py:27-97). */
final case class FileRecord(
    dataset_repository_name: String,
    dataset_id_in_repository: String,
    dataset_url_in_repository: String,
    file_name: String,
    file_url_in_repository: String,
    file_size_in_bytes: Option[Long],
    file_md5: Option[String],
    containing_archive_file_name: Option[String],
    file_type: String,
)

/** Post-crawl cleanup parameters — the reference's query-file exclusion
  * patterns + MD file-type list (core/toolbox.py:265-325, 328-466; run on
  * every scrape's output, zenodo.py:625-639).
  */
final case class CleanupConfig(
    /** substring patterns excluding a file by its full path (checked
      * first, in order; first match wins). */
    excludedPathPatterns: Seq[String] = Seq("__MACOSX", ".git"),
    /** prefix patterns excluding a file by its basename (checked after
      * path patterns, in order). */
    excludedFilePatterns: Seq[String] = Seq("."),
    /** file types that count as molecular-dynamics data; a dataset whose
      * (remaining) files have none of these is a false positive. `zip` is
      * deliberately absent (toolbox.py:452-454). */
    mdFileTypes: Seq[String] = Seq("gro", "mdp", "xtc", "top", "tpr"),
)

object Validators {
  private val DoiRe = "^10\\.\\d{4,9}/[\\w\\-./]+$".r
  private val DateInRe =
    "^(\\d{4}-\\d{2}-\\d{2})[T ](\\d{2}:\\d{2}:\\d{2}).*$".r
  private val DateOnlyRe = "^(\\d{4}-\\d{2}-\\d{2})$".r

  /** Reference date normalization (models/dataset.py:166-187): ISO-ish
    * string → `%Y-%m-%dT%H:%M:%S`; unparseable → None (row keeps going,
    * field nulled — reference logs-and-drops field-level too).
    */
  def normalizeDate(s: String): Option[String] = s match {
    case DateInRe(d, t)  => Some(s"${d}T$t")
    case DateOnlyRe(d)   => Some(s"${d}T00:00:00")
    case _               => None
  }

  /** DOI regex gate (models/dataset.py:19-22). */
  def validDoi(s: String): Boolean = DoiRe.matches(s)

  // precompiled — String.replaceAll compiles its pattern on EVERY call,
  // and cleanText runs once per scraped record in the parse hot path
  private val TagRe = java.util.regex.Pattern.compile("<[^>]*>")
  private val CtlRe = java.util.regex.Pattern.compile("[\\n\\r\\t]")
  private val SpcRe = java.util.regex.Pattern.compile(" {2,}")

  /** clean_text = strip_html ∘ strip_whitespace (core/toolbox.py:212-262):
    * tags removed, the common HTML entities decoded, `[\n\r\t]` → space,
    * runs of spaces → one, trimmed. Runs per record inside the crawl's
    * parse flatMap — part of the measured parse cost.
    */
  def cleanText(s: String): String = {
    val noTags = TagRe.matcher(s).replaceAll("")
    val decoded = noTags.replace("&amp;", "&").replace("&lt;", "<")
      .replace("&gt;", ">").replace("&quot;", "\"").replace("&#39;", "'")
      .replace("&nbsp;", " ")
    SpcRe.matcher(CtlRe.matcher(decoded).replaceAll(" "))
      .replaceAll(" ").trim
  }

  private val ByteUnitMult: Map[String, Double] = Map(
    "b" -> 1d, "kb" -> 1e3, "mb" -> 1e6, "gb" -> 1e9, "tb" -> 1e12,
    "pb" -> 1e15, "eb" -> 1e18,
    "kib" -> 1024d, "mib" -> math.pow(1024, 2), "gib" -> math.pow(1024, 3),
    "tib" -> math.pow(1024, 4), "pib" -> math.pow(1024, 5))
  private val ByteNumRe = "([-+]?[0-9]*\\.?[0-9]+)".r
  private val ByteUnitRe = "([a-z]+)\\s*$".r

  /** pydantic ByteSize (models/file.py:48-65): "24.4 kB" → 24400,
    * "689 Bytes" → 689 ("bytes" normalized to "b" first); the number times
    * the unit's multiplier as a double, truncated like pydantic's `int(...)`.
    * No number, or an unknown unit → None.
    */
  def parseByteSizeText(raw: String): Option[Long] = {
    val s = raw.trim.toLowerCase.replace("bytes", "b")
    for {
      numM <- ByteNumRe.findFirstMatchIn(s)
      num = numM.group(1).toDouble
      mult <- ByteUnitRe.findFirstMatchIn(s)
        .map(m => ByteUnitMult.get(m.group(1).trim))
        .getOrElse(Some(1d))
    } yield math.floor(num * mult).toLong
  }

  /** Python Path.suffix semantics minus the dot (models/file.py:67-80,
    * pinned by tests/models/test_file.py:60-82): extension of the basename;
    * `archive.tar.gz → gz`; no dot or leading-dot-only → "".
    */
  def fileType(name: String): String = {
    val base = name.substring(name.lastIndexOf('/') + 1)
    val i = base.lastIndexOf('.')
    if (i <= 0) "" else base.substring(i + 1)
  }

  // ---- nested simulation metadata (models/simulation.py) ------------------

  private val NumRe = "([-+]?\\d*\\.?\\d+(?:[eE][-+]?\\d+)?)".r

  /** Leading/embedded numeric part of a value-with-units string
    * (simulation.py:201-214). */
  def numericPart(s: String): Option[Double] =
    NumRe.findFirstMatchIn(s).map(_.group(1).toDouble)

  /** Strictly positive value-with-units (simulation.py:174-225): "2.0" and
    * "0.0997μs" pass; "0", "-1" or no number → None. */
  def positiveValue(s: String): Option[Double] = numericPart(s).filter(_ > 0)

  /** Temperature string → Kelvin (simulation.py:230-278): "300K"/"300" →
    * 300.0; "27C"/"27°C" or any negative value → Celsius, +273.15. */
  def temperatureToKelvin(s: String): Option[Double] = {
    val clean = s.trim.toLowerCase
    numericPart(clean).map { v =>
      if (clean.contains("c") || v < 0) v + 273.15 else v
    }
  }

  /** compute_url model validator (simulation.py:47-70). */
  def externalUrl(databaseName: String, identifier: String): Option[String] =
    databaseName match {
      case "PDB"     => Some(s"https://www.rcsb.org/structure/$identifier")
      case "UNIPROT" => Some(s"https://www.uniprot.org/uniprotkb/$identifier")
      case _         => None
    }

  /** Parse + validate a nested simulation-metadata JSON payload (the NOMAD
    * deep-extraction surface, nomad.py:248-372): Left = quarantine reason
    * (non-positive timestep, negative counts, malformed JSON — pydantic
    * ValidationError semantics).
    */
  def parseSimulation(json: String): Either[String, SimulationMetadata] =
    try {
      import org.json4s._
      val j = org.json4s.jackson.JsonMethods.parse(json)
      def strs(v: JValue, f: String): Option[String] =
        v \ f match { case JString(s) => Some(s); case _ => None }
      def longs(v: JValue, f: String): Option[Long] =
        v \ f match {
          case JInt(n) => Some(n.toLong); case JLong(n) => Some(n); case _ => None
        }
      def arr(v: JValue, f: String): List[JValue] =
        v \ f match { case JArray(xs) => xs; case _ => Nil }

      val software = arr(j, "software").map(x =>
        Software(strs(x, "name").getOrElse(""), strs(x, "version")))
      val ff = arr(j, "forcefields_models").map(x =>
        ForceFieldModel(strs(x, "name").getOrElse(""), strs(x, "version")))
      val atoms = longs(j, "total_number_of_atoms")
      if (atoms.exists(_ < 0)) return Left("negative total_number_of_atoms")

      val molecules = arr(j, "molecules").map { x =>
        val count = longs(x, "number_of_molecules")
        if (count.exists(_ < 0)) return Left("negative number_of_molecules")
        val ext = arr(x, "external_identifiers").map { e =>
          val db = strs(e, "database_name").getOrElse("")
          val id = strs(e, "identifier").getOrElse("")
          if (id.isEmpty) return Left("empty external identifier")
          ExternalIdentifier(db, id,
            strs(e, "url").orElse(externalUrl(db, id)))
        }
        Molecule(strs(x, "name").getOrElse(""), strs(x, "type"),
          count, longs(x, "number_of_atoms"), strs(x, "formula"), ext)
      }

      val timesteps = arr(j, "simulation_timesteps_in_fs").map {
        case JString(s) => positiveValue(s)
          .getOrElse(return Left(s"invalid timestep: $s"))
        case JDouble(d) if d > 0 => d
        case JInt(n) if n > 0    => n.toDouble
        case other => return Left(s"invalid timestep: $other")
      }
      val temps = arr(j, "simulation_temperatures").map {
        case JString(s) => temperatureToKelvin(s)
          .getOrElse(return Left(s"unparseable temperature: $s"))
        case JDouble(d) => d
        case JInt(n)    => n.toDouble
        case other => return Left(s"unparseable temperature: $other")
      }
      Right(SimulationMetadata(software, atoms, molecules, ff,
        timesteps, temps))
    } catch {
      case scala.util.control.NonFatal(_) => Left("malformed simulation json")
    }

  // ---- MDDB/MDposit nested metadata (scrapers/mddb.py) ---------------------

  /** Protein display name for a UniProt accession. The reference resolves
    * names over the UniProt REST API (mddb.py:234-301) and falls back to
    * `"Protein <id>"` when the API yields nothing, or `"Unknown protein"`
    * for the sentinel ids; the engine is offline-deterministic, so the
    * fallback IS the semantics (name resolution is an external enrichment,
    * not crawl logic).
    */
  def proteinName(uniprotId: String): String =
    if (uniprotId == "noref" || uniprotId == "notfound") "Unknown protein"
    else s"Protein $uniprotId"

  /** The reference's 6-case protein-assembly fallback (mddb.py:303-439):
    * how (PDB ids, UniProt accessions, protein sequences) combine into
    * Molecule rows depends on which lists are present and whether their
    * cardinalities line up.
    */
  def extractProteins(pdbIds: Seq[ExternalIdentifier], uniprot: Seq[String],
                      seqs: Seq[String]): Seq[Molecule] = {
    def uniExt(id: String) =
      ExternalIdentifier("UNIPROT", id, externalUrl("UNIPROT", id))
    (uniprot, seqs) match {
      // Case 1: neither sequences nor accessions — a single anonymous
      // protein only if PDB ids anchor it (mddb.py:335-350)
      case (Nil, Nil) =>
        if (pdbIds.nonEmpty)
          Seq(Molecule("Protein", Some("PROTEIN"), None, None, None, pdbIds))
        else Seq.empty
      // Case 2: sequences but no accessions — one anonymous protein per
      // sequence (mddb.py:351-365)
      case (Nil, ss) =>
        ss.map(s => Molecule("Protein", Some("PROTEIN"), None, None, None,
          pdbIds, sequence = Some(s)))
      // Case 3: accessions but no sequences — one named protein per
      // accession (mddb.py:366-382)
      case (us, Nil) =>
        us.map(u => Molecule(proteinName(u), Some("PROTEIN"), None, None,
          None, uniExt(u) +: pdbIds))
      // Case 4: ONE accession, many sequences — all sequences assumed to
      // belong to it (mddb.py:383-404)
      case (Seq(u), ss) if ss.size > 1 =>
        ss.map(s => Molecule(proteinName(u), Some("PROTEIN"), None, None,
          None, uniExt(u) +: pdbIds, sequence = Some(s)))
      // Case 5: cardinality mismatch — a single "Unknown protein" only if
      // PDB ids anchor it (mddb.py:405-425)
      case (us, ss) if us.size != ss.size =>
        if (pdbIds.nonEmpty)
          Seq(Molecule("Unknown protein", Some("PROTEIN"), None, None, None,
            pdbIds))
        else Seq.empty
      // Case 6: zip accessions with sequences 1:1 (mddb.py:426-439)
      case (us, ss) =>
        us.zip(ss).map { case (u, s) =>
          Molecule(proteinName(u), Some("PROTEIN"), None, None, None,
            uniExt(u) +: pdbIds, sequence = Some(s))
        }
    }
  }

  /** Nucleic acids: one anonymous molecule per sequence, PDB ids attached
    * (mddb.py:442-476). */
  def extractNucleicAcids(pdbIds: Seq[ExternalIdentifier],
                          seqs: Seq[String]): Seq[Molecule] =
    seqs.map(s => Molecule("Nucleic acid", Some("NUCLEIC_ACID"), None, None,
      None, pdbIds, sequence = Some(s)))

  /** Parse + validate an MDDB/MDposit project-metadata JSON payload
    * (mddb.py:159-230 software/forcefields, 479-599 molecule assembly,
    * 690-701 timestep/temperature). Same quarantine contract as
    * [[parseSimulation]]: Left = drop-and-log the whole record.
    */
  def parseMddbMeta(json: String): Either[String, SimulationMetadata] =
    try {
      import org.json4s._
      val j = org.json4s.jackson.JsonMethods.parse(json)
      def str(f: String): Option[String] =
        j \ f match { case JString(s) => Some(s); case _ => None }
      def num(f: String): Option[Double] = j \ f match {
        case JInt(n) => Some(n.toDouble); case JLong(n) => Some(n.toDouble)
        case JDouble(d) => Some(d); case _ => None
      }
      def strArr(f: String): List[String] = j \ f match {
        case JArray(xs) => xs.collect { case JString(s) => s }
        case _ => Nil
      }

      // software: PROGRAM (+VERSION) → one entry; absent → none
      // (extract_software_and_version, mddb.py:159-188)
      val software = str("PROGRAM").map(_.trim).filter(_.nonEmpty)
        .map(p => Software(p, str("VERSION"))).toSeq
      // forcefields: FF strings then the WAT water model
      // (extract_forcefield_or_model_and_version, mddb.py:191-231)
      val ff = strArr("FF").map(f => ForceFieldModel(f.trim, None)) ++
        str("WAT").map(_.trim).filter(_.nonEmpty)
          .map(w => ForceFieldModel(w, None))

      val pdbIds = strArr("PDBIDS").map(p =>
        ExternalIdentifier("PDB", p, externalUrl("PDB", p)))
      val proteins = extractProteins(pdbIds, strArr("REFERENCES"),
        strArr("PROTSEQ"))
      val nucleic = extractNucleicAcids(pdbIds, strArr("NUCLSEQ"))
      // small molecules: SOL/NA/CL counts > 0 + INCHIKEYS
      // (extract_small_molecules, mddb.py:479-527)
      val small = Seq("SOL" -> "SOLVENT", "NA" -> "ION", "CL" -> "ION")
        .flatMap { case (name, typ) =>
          num(name).map(_.toLong).filter(_ > 0).map(c =>
            Molecule(name, Some(typ), Some(c), None, None, Seq.empty))
        } ++ strArr("INCHIKEYS").map(k =>
          Molecule("Small molecule", Some("SMALL_MOLECULE"), None, None,
            None, Seq.empty, inchikey = Some(k)))

      // timestep: `[time_step] if time_step else None` (mddb.py:694) — a
      // FALSY timestep (0 or absent) is treated as absent and the record is
      // kept; only a negative value actually enters the list, where the
      // shared simulation model's strict positivity rejects the record
      // (simulation.py:174-199)
      val timesteps = num("TIMESTEP").filter(_ != 0.0).toSeq.map { t =>
        if (t < 0) return Left(s"invalid timestep: $t") else t
      }
      // TEMP is already Kelvin in MDposit payloads (mddb.py:694-700)
      val temps = num("TEMP").toSeq

      Right(SimulationMetadata(software, num("mdAtoms").map(_.toLong),
        proteins ++ nucleic ++ small, ff, timesteps, temps))
    } catch {
      case scala.util.control.NonFatal(_) => Left("malformed mddb metadata")
    }

  /** Validate a raw dataset row: required fields per the reference's
    * `extra=forbid` + required-title contract. Left = quarantine reason.
    */
  def validateDataset(r: DatasetRecord): Either[String, DatasetRecord] = {
    if (r.dataset_id_in_repository.isEmpty) Left("empty dataset_id")
    else if (r.title.isEmpty) Left("empty title")
    else if (r.doi.exists(d => !validDoi(d))) Left(s"bad doi: ${r.doi.get}")
    else if (r.number_of_files.exists(_ <= 0)) Left("number_of_files <= 0")
    else if (r.download_number.exists(_ < 0)) Left("negative downloads")
    else {
      val normalized = r.copy(date_created = r.date_created.flatMap(normalizeDate))
      normalized.simulation_json match {
        case None => Right(normalized)
        case Some(js) =>
          // payload format follows the repository: MDposit projects carry
          // the flat PROGRAM/FF/PDBIDS envelope (mddb.py), NOMAD entries
          // the nested archive shape (nomad.py)
          val parsed =
            if (r.dataset_repository_name == "mddb") parseMddbMeta(js)
            else parseSimulation(js)
          parsed.map(sim => normalized.copy(simulation = Some(sim)))
      }
    }
  }

  def validateFile(r: FileRecord): Either[String, FileRecord] = {
    if (r.file_name.isEmpty) Left("empty file_name")
    else if (r.file_size_in_bytes.exists(_ < 0)) Left("negative size")
    else Right(r.copy(file_type = fileType(r.file_name)))
  }
}
