package graft.operators

import graft.{QueryEntry, Tables}
import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Simulation-input file parsers, re-expressing the reference ETL scripts:
  *
  *  - `.mdp` parameter extraction (scripts/parse_mdp_files.py:27-32,91-143):
  *    case-insensitive `key = value` regexes, LAST match wins, plus the
  *    thermostat/barostat normalization tables (C13,
  *    parse_mdp_files.py:37-52,146-194).
  *  - `.gro` content classification (scripts/parse_gro_files.py:124-175):
  *    fixed-width format — line 2 = atom count, columns 6-10 of each atom
  *    line = residue name — membership flags against residue classes.
  *
  * File bodies are synthesized deterministically from the `documents`
  * table, identically in Spark and the DuckDB oracle; the parse logic is
  * pure codegen'd column expressions (no UDFs).
  */
object FileParsers {
  import Tables.t

  // ---- shared synthesis: one .mdp body per document -----------------------
  private def pick(mod: Int, opts: Seq[String], c: Column): Column = {
    val cases = opts.zipWithIndex
    cases.tail.foldLeft(when(pmod(c, lit(mod)) === cases.head._2, cases.head._1)) {
      case (acc, (o, i)) => acc.when(pmod(c, lit(mod)) === i, o)
    }.otherwise(opts.head)
  }

  private val tcoupls =
    Seq("no", "berendsen", "Nose-Hoover", "v-rescale", "nose_hoover", "ANDERSEN")
  private val pcoupls = Seq("no", "Berendsen", "Parrinello-Rahman", "c-rescale")

  /** mdp body: comments, key=value lines (mixed case/spacing), a duplicated
    * `dt` on every 5th doc (last-match-wins semantics), junk lines. */
  def mdpContent: Column = {
    val id = col("doc_id")
    concat_ws("\n",
      concat(lit("; sample mdp for doc "), id),
      concat(lit("integrator = "), pick(2, Seq("md", "sd"), id)),
      concat(lit("DT = 0.00"), (pmod(id, lit(4)) + 1)),
      concat(lit("nsteps  =  "), id * 1000),
      lit("; a comment line"),
      concat(lit("tcoupl = "), pick(6, tcoupls, id)),
      concat(lit("Pcoupl = "), pick(4, pcoupls, id)),
      concat(lit("ref_t = "), (pmod(id, lit(41)) + 280)),
      when(pmod(id, lit(5)) === 0, lit("dt = 0.009")).otherwise(lit("")),
    )
  }

  private val sqlTcoupl =
    "CASE doc_id % 6 WHEN 0 THEN 'no' WHEN 1 THEN 'berendsen' WHEN 2 THEN 'Nose-Hoover' WHEN 3 THEN 'v-rescale' WHEN 4 THEN 'nose_hoover' ELSE 'ANDERSEN' END"
  private val sqlPcoupl =
    "CASE doc_id % 4 WHEN 0 THEN 'no' WHEN 1 THEN 'Berendsen' WHEN 2 THEN 'Parrinello-Rahman' ELSE 'c-rescale' END"
  private val sqlMdp =
    s"""SELECT doc_id,
         '; sample mdp for doc ' || doc_id || chr(10) ||
         'integrator = ' || (CASE WHEN doc_id % 2 = 0 THEN 'md' ELSE 'sd' END) || chr(10) ||
         'DT = 0.00' || (doc_id % 4 + 1) || chr(10) ||
         'nsteps  =  ' || (doc_id * 1000) || chr(10) ||
         '; a comment line' || chr(10) ||
         'tcoupl = ' || ($sqlTcoupl) || chr(10) ||
         'Pcoupl = ' || ($sqlPcoupl) || chr(10) ||
         'ref_t = ' || (doc_id % 41 + 280) || chr(10) ||
         (CASE WHEN doc_id % 5 = 0 THEN 'dt = 0.009' ELSE '' END) AS content
       FROM documents"""

  /** last case-insensitive `key = value` match in the body (C14); NULL
    * when the body has no such key (`try_element_at`: the ANSI
    * `element_at` throws on an empty match list). */
  def mdpField(content: Column, key: String): Column = {
    val all = regexp_extract_all(content,
      lit(s"(?i)$key\\s*=\\s*([^\\s\\n]+)"), lit(1))
    try_element_at(all, lit(-1))
  }

  /** C13 normalization: lowercase, strip -/_ , lookup; miss or NULL →
    * "unknown". Not `TextFunctions.normalizeCoupling`, which maps NULL to
    * "undefined": the `q_mdp_parse` and `q_fn_thermostat` oracles pin
    * each rule. */
  def normalizeCoupling(raw: Column, table: Map[String, String]): Column = {
    val k = translate(lower(raw), "-_", "")
    coalesce(element_at(typedLit(table), k), lit("unknown"))
  }

  /** The six mdp parameter columns over a content column — the ONE
    * definition shared by the oracle-checked `q_mdp_parse` and the
    * download stage's `mdp_params` table (divergence between the two
    * would silently un-verify the stage). */
  def mdpParamColumns(c: Column): Seq[Column] = Seq(
    mdpField(c, "dt").cast("double").as("dt"),
    mdpField(c, "nsteps").cast("long").as("nsteps"),
    mdpField(c, "ref[-_ ]?t").cast("double").as("temperature"),
    normalizeCoupling(mdpField(c, "tcoupl"), TextFunctions.thermostats).as("thermostat"),
    normalizeCoupling(mdpField(c, "pcoupl"), TextFunctions.barostats).as("barostat"),
    mdpField(c, "integrator").as("integrator"))

  // ---- gro synthesis + classification --------------------------------------
  // Rotation covers all five catalog classes PLUS `2MA` — the one residue
  // of the published catalog that appears in two classes (nucleic+glucid)
  // and is therefore excluded from BOTH by the dual-class removal; docs
  // carrying only 2MA must classify all-false on nucleic/glucid.
  private val residues =
    Seq("ALA", "DPPC", "SOL", "NA", "0MA", "DA", "LYS", "2MA")
  /** FULL residue class sets — params/residue_names.yml via
    * [[ResidueCatalog]] (322-entry file, dual-class removal applied). */
  val proteinSet: Seq[String] = ResidueCatalog.proteinSet
  val lipidSet: Seq[String] = ResidueCatalog.lipidSet
  val waterIonSet: Seq[String] = ResidueCatalog.waterIonSet
  val nucleicSet: Seq[String] = ResidueCatalog.nucleicSet
  val glucidSet: Seq[String] = ResidueCatalog.glucidSet

  /** gro body: title, atom-count line, fixed-width atom lines (residue name
    * at columns 6-10, right-padded). */
  def groContent: Column = {
    val id = col("doc_id")
    val nAtoms = pmod(id, lit(5)) + 3
    val atomLines = transform(sequence(lit(1), nAtoms), i => {
      val resIdx = pmod(id + i, lit(residues.size)).cast("int")
      val resname = rpad(element_at(typedLit(residues), resIdx + 1), 5, " ")
      concat(format_string("%5d", i), resname,
        lit("  C"), i.cast("string"), lit("   "), i.cast("string"),
        lit("   1.000   2.000   3.000"))
    })
    concat_ws("\n",
      concat(lit("doc "), id, lit(" molecule")),
      format_string("%5d", nAtoms),
      array_join(atomLines, "\n"))
  }

  private val sqlResidues = "['ALA','DPPC','SOL','NA','0MA','DA','LYS','2MA']"
  private val sqlGro =
    s"""SELECT doc_id,
         'doc ' || doc_id || ' molecule' || chr(10) ||
         lpad(CAST(doc_id % 5 + 3 AS VARCHAR), 5, ' ') || chr(10) ||
         array_to_string(list_transform(range(1, CAST(doc_id % 5 + 3 AS BIGINT) + 1),
           i -> lpad(CAST(i AS VARCHAR), 5, ' ')
                || rpad(($sqlResidues)[CAST((doc_id + i) % 8 AS INT) + 1], 5, ' ')
                || '  C' || i || '   ' || i || '   1.000   2.000   3.000'),
           chr(10)) AS content
       FROM documents"""

  /** The six gro structure columns over a content column
    * (scripts/parse_gro_files.py semantics: atom count on line 2,
    * fixed-width residue names at columns 6-10 of the atom lines, one flag
    * per residue class) — the ONE definition shared by the oracle-checked
    * `q_gro_classify` and the download stage's `gro_params` table. The
    * `greatest` guard gives a body of fewer than two lines no atom lines
    * instead of a negative slice length, and `try_element_at` a NULL atom
    * count instead of the ANSI index error. */
  def groParamColumns(c: Column): Seq[Column] = {
    val lines = split(c, "\n")
    val resnames = array_distinct(transform(
      slice(lines, lit(3), greatest(size(lines) - 2, lit(0))),
      l => trim(substring(l, 6, 5))))
    def overlaps(set: Seq[String]) = arrays_overlap(resnames, typedLit(set))
    Seq(
      trim(try_element_at(lines, lit(2))).cast("int").as("atom_number"),
      overlaps(proteinSet).as("has_protein"),
      overlaps(nucleicSet).as("has_nucleic"),
      overlaps(lipidSet).as("has_lipid"),
      overlaps(glucidSet).as("has_glucid"),
      overlaps(waterIonSet).as("has_water_ion"))
  }

  def entries: Seq[QueryEntry] = Seq(
    // ---- C14 + C13: mdp field extraction + coupling normalization ---------
    QueryEntry(
      "q_mdp_parse",
      (s, dir) => {
        val withContent = t(s, dir, "documents").select(col("doc_id"), mdpContent.as("content"))
        withContent.select(col("doc_id") +: mdpParamColumns(col("content")): _*)
          .orderBy("doc_id")
      },
      Some(s"""WITH m AS ($sqlMdp)
        SELECT doc_id,
          CAST(list_extract(regexp_extract_all(content, '(?i)dt\\s*=\\s*([^\\s\\n]+)', 1), -1) AS DOUBLE) AS dt,
          CAST(list_extract(regexp_extract_all(content, '(?i)nsteps\\s*=\\s*([^\\s\\n]+)', 1), -1) AS BIGINT) AS nsteps,
          CAST(list_extract(regexp_extract_all(content, '(?i)ref[-_ ]?t\\s*=\\s*([^\\s\\n]+)', 1), -1) AS DOUBLE) AS temperature,
          CASE replace(replace(lower(list_extract(regexp_extract_all(content, '(?i)tcoupl\\s*=\\s*([^\\s\\n]+)', 1), -1)), '-', ''), '_', '')
            WHEN 'no' THEN 'no' WHEN 'berendsen' THEN 'Berendsen'
            WHEN 'nosehoover' THEN 'Nose-Hoover' WHEN 'andersen' THEN 'Andersen'
            WHEN 'andersenmassive' THEN 'Andersen-massive'
            WHEN 'vrescale' THEN 'V-rescale' ELSE 'unknown' END AS thermostat,
          CASE replace(replace(lower(list_extract(regexp_extract_all(content, '(?i)pcoupl\\s*=\\s*([^\\s\\n]+)', 1), -1)), '-', ''), '_', '')
            WHEN 'no' THEN 'no' WHEN 'berendsen' THEN 'Berendsen'
            WHEN 'crescale' THEN 'C-rescale'
            WHEN 'parrinellorahman' THEN 'Parrinello-Rahman'
            WHEN 'mttk' THEN 'MTTK' ELSE 'unknown' END AS barostat,
          list_extract(regexp_extract_all(content, '(?i)integrator\\s*=\\s*([^\\s\\n]+)', 1), -1) AS integrator
        FROM m ORDER BY doc_id"""),
    ),
    // ---- C15: gro fixed-width parse + residue classification --------------
    QueryEntry(
      "q_gro_classify",
      (s, dir) => {
        val withContent = t(s, dir, "documents")
          .select(col("doc_id"), groContent.as("content"))
        withContent.select(col("doc_id") +: groParamColumns(col("content")): _*)
          .orderBy("doc_id")
      },
      Some(s"""WITH g AS ($sqlGro),
        p AS (SELECT doc_id,
          CAST(trim(string_split(content, chr(10))[2]) AS INT) AS atom_number,
          list_distinct(list_transform(string_split(content, chr(10))[3:],
            l -> trim(substr(l, 6, 5)))) AS resnames
        FROM g)
        SELECT doc_id, atom_number,
          len(list_intersect(resnames, ${ResidueCatalog.sqlList(proteinSet)})) > 0 AS has_protein,
          len(list_intersect(resnames, ${ResidueCatalog.sqlList(nucleicSet)})) > 0 AS has_nucleic,
          len(list_intersect(resnames, ${ResidueCatalog.sqlList(lipidSet)})) > 0 AS has_lipid,
          len(list_intersect(resnames, ${ResidueCatalog.sqlList(glucidSet)})) > 0 AS has_glucid,
          len(list_intersect(resnames, ${ResidueCatalog.sqlList(waterIonSet)})) > 0 AS has_water_ion
        FROM p ORDER BY doc_id"""),
    ),

    // ---- mdp temperature histogram prep (get_info_from_mdp +
    // plot_temp_count, analyze.py:396-456): FIRST ref_t match per file
    // (the reference `break`s on the first hit), value kept as a STRING
    // and counted per distinct temperature, string-sorted.
    QueryEntry(
      "q_temp_hist",
      (s, dir) => {
        val withContent = t(s, dir, "documents")
          .select(col("doc_id"), mdpContent.as("content"))
        val first = element_at(regexp_extract_all(col("content"),
          lit("(?i)ref[-_ ]?t\\s*=\\s*([^\\s\\n]+)"), lit(1)), 1)
        withContent.select(first.as("temperature"))
          .where(col("temperature").isNotNull)
          .groupBy("temperature").agg(count(lit(1)).as("n"))
          .orderBy("temperature")
      },
      Some(s"""WITH m AS ($sqlMdp),
        x AS (SELECT list_extract(regexp_extract_all(content,
            '(?i)ref[-_ ]?t\\s*=\\s*([^\\s\\n]+)', 1), 1) AS temperature
          FROM m)
        SELECT temperature, count(*) AS n FROM x
        WHERE temperature IS NOT NULL
        GROUP BY temperature ORDER BY temperature"""),
    ),

    // ---- gro system-size histogram prep (get_info_from_gro +
    // plot_sys_size_count, analyze.py:458-527): the reference streams each
    // file and reads ONLY the header (breaks after the atom-count line), so
    // the twin synthesizes headers — title + count — with counts spanning
    // all three buckets. Bucket labels are the reference's literal strings
    // (sic — "1000 > and > 10000" / "> 100000" are its actual labels).
    QueryEntry(
      "q_atoms_hist",
      (s, dir) => {
        val header = concat_ws("\n",
          concat(lit("doc "), col("doc_id"), lit(" molecule")),
          format_string("%8d", pmod(col("doc_id") * 7919, lit(30000)).cast("int")))
        val withContent = t(s, dir, "documents")
          .select(col("doc_id"), header.as("content"))
        val atoms = trim(element_at(split(col("content"), "\n"), 2)).cast("int")
        withContent.select(
            when(atoms <= 1000, "<= 1000")
              .when(atoms <= 10000, "1000 > and > 10000")
              .otherwise("> 100000").as("bucket"))
          .groupBy("bucket").agg(count(lit(1)).as("n"))
          .orderBy("bucket")
      },
      Some("""WITH g AS (
          SELECT 'doc ' || doc_id || ' molecule' || chr(10) ||
            lpad(CAST((doc_id * 7919) % 30000 AS VARCHAR), 8, ' ') AS content
          FROM documents),
        p AS (SELECT CAST(trim(string_split(content, chr(10))[2]) AS INT)
            AS atoms FROM g)
        SELECT CASE WHEN atoms <= 1000 THEN '<= 1000'
                    WHEN atoms <= 10000 THEN '1000 > and > 10000'
                    ELSE '> 100000' END AS bucket,
               count(*) AS n
        FROM p GROUP BY 1 ORDER BY 1"""),
    ),
  )
}
