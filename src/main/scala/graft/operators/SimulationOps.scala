package graft.operators

import graft.{QueryEntry, Tables}
import graft.functions.TextFunctions
import org.apache.spark.sql.functions._

/** Deep nested-JSON extraction + simulation-metadata validation — the
  * NOMAD/MDDB surface (reference scrapers/nomad.py:248-372,
  * models/simulation.py:140-278): a 4-level JSON document is synthesized
  * deterministically per row, then deep paths are extracted and validated
  * (value-with-unit timestep parse, temperature normalization to Kelvin,
  * PDB URL computation) with codegen'd column expressions — no UDF.
  *
  * Scale: the JSON build + extraction is a narrow per-row map over a
  * single-column scan; at 100 TB this pipelines entirely inside
  * whole-stage codegen with no shuffle.
  */
object SimulationOps {
  import Tables.t

  private val NumPat = "([-+]?\\d*\\.?\\d+)"

  def entries: Seq[QueryEntry] = Seq(
    QueryEntry(
      "q_simulation_parse",
      (s, dir) => {
        val d = t(s, dir, "documents").select(col("doc_id"))
        val sw = element_at(
          array(lit("gromacs"), lit("namd"), lit("openmm")),
          (pmod(col("doc_id"), lit(3)) + 1).cast("int"))
        val tsFs = (pmod(col("doc_id"), lit(4)) + 1).cast("string")
        val atoms = (pmod(col("doc_id") * 37, lit(999000)) + 1000).cast("string")
        val m3 = pmod(col("doc_id"), lit(3))
        val temp = when(m3 === 0,
            concat((pmod(col("doc_id"), lit(40)) + 280).cast("string"), lit("K")))
          .when(m3 === 1,
            concat((pmod(col("doc_id"), lit(40)) + 5).cast("string"), lit("C")))
          .otherwise((pmod(col("doc_id"), lit(40)) + 290).cast("string"))
        val pdb = lpad(pmod(col("doc_id"), lit(9999)).cast("string"), 4, "0")
        val j = concat(
          lit("""{"results":{"method":{"simulation":{"program_name":""""), sw,
          lit("""","integration_timestep":""""), tsFs, lit("""fs"}},"""),
          lit(""""properties":{"structures":{"structure_original":{"n_atoms":"""),
          atoms, lit(""","temperature":""""), temp, lit(""""}}}},"""),
          lit(""""material":{"topology":[{"label":"mol","pdb_id":""""), pdb,
          lit(""""}]}}"""))
        val withJ = d.withColumn("j", j)
        val tRaw = get_json_object(col("j"),
          "$.results.properties.structures.structure_original.temperature")
        val ts = regexp_extract(
          get_json_object(col("j"),
            "$.results.method.simulation.integration_timestep"),
          NumPat, 1).cast("double")
        withJ.select(
          col("doc_id"),
          get_json_object(col("j"),
            "$.results.method.simulation.program_name").as("program_name"),
          get_json_object(col("j"),
            "$.results.properties.structures.structure_original.n_atoms")
            .cast("long").as("n_atoms"),
          TextFunctions.temperatureToKelvin(tRaw).as("temp_kelvin"),
          ts.as("timestep_fs"),
          concat(lit("https://www.rcsb.org/structure/"),
            get_json_object(col("j"), "$.material.topology[0].pdb_id"))
            .as("pdb_url"))
          .filter(col("timestep_fs") > 0) // positive-check validator
          .orderBy("doc_id")
      },
      Some(s"""WITH src AS (
          SELECT doc_id,
            '{"results":{"method":{"simulation":{"program_name":"'
            || (CASE doc_id % 3 WHEN 0 THEN 'gromacs' WHEN 1 THEN 'namd'
                ELSE 'openmm' END)
            || '","integration_timestep":"' || CAST(doc_id % 4 + 1 AS VARCHAR)
            || 'fs"}},"properties":{"structures":{"structure_original":{"n_atoms":'
            || CAST((doc_id * 37) % 999000 + 1000 AS VARCHAR)
            || ',"temperature":"'
            || (CASE doc_id % 3
                WHEN 0 THEN CAST(doc_id % 40 + 280 AS VARCHAR) || 'K'
                WHEN 1 THEN CAST(doc_id % 40 + 5 AS VARCHAR) || 'C'
                ELSE CAST(doc_id % 40 + 290 AS VARCHAR) END)
            || '"}}}},"material":{"topology":[{"label":"mol","pdb_id":"'
            || lpad(CAST(doc_id % 9999 AS VARCHAR), 4, '0') || '"}]}}' AS j
          FROM documents),
        ex AS (
          SELECT doc_id,
            json_extract_string(j, '$$.results.method.simulation.program_name')
              AS program_name,
            CAST(json_extract_string(j,
              '$$.results.properties.structures.structure_original.n_atoms')
              AS BIGINT) AS n_atoms,
            json_extract_string(j,
              '$$.results.properties.structures.structure_original.temperature')
              AS traw,
            CAST(regexp_extract(json_extract_string(j,
              '$$.results.method.simulation.integration_timestep'),
              '$NumPat', 1) AS DOUBLE) AS timestep_fs,
            json_extract_string(j, '$$.material.topology[0].pdb_id') AS pdb
          FROM src)
        SELECT doc_id, program_name, n_atoms,
          CASE WHEN contains(traw, 'C')
                 OR CAST(regexp_extract(traw, '$NumPat', 1) AS DOUBLE) < 0
               THEN CAST(regexp_extract(traw, '$NumPat', 1) AS DOUBLE) + 273.15
               ELSE CAST(regexp_extract(traw, '$NumPat', 1) AS DOUBLE)
          END AS temp_kelvin,
          timestep_fs,
          'https://www.rcsb.org/structure/' || pdb AS pdb_url
        FROM ex WHERE timestep_fs > 0 ORDER BY doc_id"""),
    ),

    // ---- the 6-case protein-assembly fallback (mddb.py:303-439) as pure
    // column arithmetic: which Molecule rows come out of (PDB ids, UniProt
    // accessions, protein sequences) depends on presence + cardinality
    // agreement of the lists. Per-row, shuffle-free, whole-stage codegen.
    QueryEntry(
      "q_mddb_assembly",
      (s, dir) => {
        val d = t(s, dir, "documents").select(col("doc_id"))
        val nPdb = pmod(col("doc_id"), lit(3))
        val sel = pmod(col("doc_id") * 7, lit(6))
        val nUni = when(sel === 0 || sel === 1, 0L)
          .when(sel === 2, pmod(col("doc_id"), lit(2)) + 1)
          .when(sel === 3, 1L).when(sel === 4, 2L)
          .otherwise(pmod(col("doc_id"), lit(3)) + 1)
        val nSeq = when(sel === 0 || sel === 2, 0L)
          .when(sel === 1, pmod(col("doc_id"), lit(3)) + 1)
          .when(sel === 3, pmod(col("doc_id"), lit(2)) + 2)
          .when(sel === 4, 3L)
          .otherwise(pmod(col("doc_id"), lit(3)) + 1)
        // the reference's case dispatch, in declaration order
        val caseNo = when(nUni === 0 && nSeq === 0, 1)
          .when(nUni === 0, 2).when(nSeq === 0, 3)
          .when(nUni === 1 && nSeq > 1, 4)
          .when(nUni =!= nSeq, 5).otherwise(6)
        val nProteins = when(caseNo === 1 || caseNo === 5,
            when(nPdb > 0, 1L).otherwise(0L))
          .when(caseNo === 2 || caseNo === 4, nSeq)
          .otherwise(nUni) // cases 3 and 6: one molecule per accession
        val uid = concat(lit("P"),
          lpad(pmod(col("doc_id"), lit(99999)).cast("string"), 5, "0"))
        val firstName = when(nProteins === 0, lit(null).cast("string"))
          .when(caseNo === 1 || caseNo === 2, lit("Protein"))
          .when(caseNo === 5, lit("Unknown protein"))
          .otherwise(concat(lit("Protein "), uid))
        d.select(col("doc_id"), caseNo.as("case_no"),
            nPdb.as("n_pdb"), nUni.as("n_uniprot"), nSeq.as("n_seq"),
            nProteins.as("n_proteins"), firstName.as("first_name"))
          .orderBy("doc_id")
      },
      Some("""WITH src AS (
          SELECT doc_id, doc_id % 3 AS n_pdb, (doc_id * 7) % 6 AS sel
          FROM documents),
        counts AS (
          SELECT doc_id, n_pdb,
            CASE sel WHEN 0 THEN 0 WHEN 1 THEN 0
              WHEN 2 THEN doc_id % 2 + 1 WHEN 3 THEN 1 WHEN 4 THEN 2
              ELSE doc_id % 3 + 1 END AS n_uniprot,
            CASE sel WHEN 0 THEN 0 WHEN 2 THEN 0
              WHEN 1 THEN doc_id % 3 + 1 WHEN 3 THEN doc_id % 2 + 2
              WHEN 4 THEN 3 ELSE doc_id % 3 + 1 END AS n_seq
          FROM src),
        cased AS (
          SELECT *, CASE
              WHEN n_uniprot = 0 AND n_seq = 0 THEN 1
              WHEN n_uniprot = 0 THEN 2
              WHEN n_seq = 0 THEN 3
              WHEN n_uniprot = 1 AND n_seq > 1 THEN 4
              WHEN n_uniprot <> n_seq THEN 5
              ELSE 6 END AS case_no
          FROM counts)
        SELECT doc_id, case_no, n_pdb, n_uniprot, n_seq,
          CASE WHEN case_no IN (1, 5) THEN (CASE WHEN n_pdb > 0 THEN 1 ELSE 0 END)
               WHEN case_no IN (2, 4) THEN n_seq
               ELSE n_uniprot END AS n_proteins,
          CASE WHEN (CASE WHEN case_no IN (1, 5)
                       THEN (CASE WHEN n_pdb > 0 THEN 1 ELSE 0 END)
                       WHEN case_no IN (2, 4) THEN n_seq
                       ELSE n_uniprot END) = 0 THEN NULL
               WHEN case_no IN (1, 2) THEN 'Protein'
               WHEN case_no = 5 THEN 'Unknown protein'
               ELSE 'Protein P' || lpad(CAST(doc_id % 99999 AS VARCHAR), 5, '0')
          END AS first_name
        FROM cased ORDER BY doc_id"""),
    ),
  )
}
