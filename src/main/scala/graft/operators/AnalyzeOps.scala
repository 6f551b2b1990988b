package graft.operators

import graft.{QueryEntry, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's post-hoc analysis surface (`analyze.py`): file-extension
  * → category / MD-engine classification (:185-307) feeding year×engine
  * pivot tables (:312-394), over the merged datasets⋈files frame built
  * with a RIGHT join (:552).
  *
  * Scale notes: the classification is a pure `when` cascade (codegen'd, no
  * UDF); the pivot is `groupBy(year).pivot(engine, known values)` — with
  * the pivot domain declared, Spark plans ONE partial-aggregated shuffle
  * (no second pass to discover values); the right join broadcasts the
  * datasets side exactly like its left-join mirror.
  */
object AnalyzeOps {
  import Tables.t

  // extension sets, verbatim from analyze.py:200-252
  val coordinateExts = Seq("tpr", "gro", "psf", "crd", "coor", "namdbin",
    "coord", "pdb")
  val topologyExts = Seq("mdp", "itp", "ndx", "top", "cpt", "namd", "inp",
    "prm", "ntf", "xsc", "prmtop")
  val trajectoryExts = Seq("xtc", "trr", "edr", "dcd", "vel", "prm7",
    "crdbox", "inpcrd", "mdcrd", "nc", "ncdf", "trj")
  val gromacsExts = Seq("tpr", "gro", "mdp", "itp", "ndx", "top", "xtc",
    "trr", "edr", "cpt")
  val namdExts = Seq("psf", "namd", "inp", "prm", "ntf", "crd", "dcd",
    "coor", "namdbin", "vel", "xsc")
  val amberExts = Seq("prmtop", "coord", "prm7", "top", "crdbox", "inpcrd",
    "mdcrd", "nc", "ncdf", "trj")

  /** ext_cat (analyze.py:256-267): category arms in match order. */
  private val categoryArms = Seq("coordinate" -> coordinateExts,
    "topology" -> topologyExts, "trajectory" -> trajectoryExts)

  /** engine (analyze.py:269-280): gromacs before namd before amber —
    * shared extensions (top, crd…) resolve to the EARLIER engine, the
    * reference's declaration-order semantics. */
  private val engineArms = Seq("gromacs" -> gromacsExts,
    "namd" -> namdExts, "amber" -> amberExts)

  /** First-match-wins classification of `ext` over `arms`,
    * case-insensitive, unknown → "other". */
  private def classify(ext: Column, arms: Seq[(String, Seq[String])]): Column = {
    val e = lower(ext)
    val (label0, exts0) = arms.head
    arms.tail.foldLeft(when(e.isin(exts0: _*), label0)) {
      case (c, (label, exts)) => c.when(e.isin(exts: _*), label)
    }.otherwise("other")
  }

  /** The SQL `CASE` twin of [[classify]] over the column `ext`. */
  private def sqlClassify(arms: Seq[(String, Seq[String])]): String =
    arms.map { case (label, exts) =>
      s"WHEN lower(ext) IN (${exts.map(e => s"'$e'").mkString(",")}) THEN '$label'"
    }.mkString("CASE\n              ", "\n              ",
      "\n              ELSE 'other' END")

  def extCategory(ext: Column): Column = classify(ext, categoryArms)

  def extEngine(ext: Column): Column = classify(ext, engineArms)

  private val extPool = Seq("gro", "mdp", "xtc", "psf", "dcd", "prmtop",
    "nc", "pdb", "top", "txt", "zip", "cpt")
  private val sqlExtPool =
    extPool.map(e => s"'$e'").mkString("[", ",", "]")

  /** A synthetic file extension per document, drawn from [[extPool]]. */
  private def extCol: Column = element_at(typedLit(extPool),
    (pmod(col("doc_id") * 7, lit(extPool.size)) + 1).cast("int"))

  private val sqlExt = s"($sqlExtPool)[CAST((doc_id * 7) % 12 AS INT) + 1]"

  /** The synthetic dated file frame: (doc_id, year, ext) per document. */
  private def datedFiles(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"))
      .withColumn("year", (pmod(col("doc_id") * 13, lit(15)) + 2010).cast("int"))
      .withColumn("ext", extCol)

  /** The select list of [[datedFiles]] in SQL, open for more columns. */
  private val sqlDatedFiles =
    s"""SELECT doc_id,
            CAST((doc_id * 13) % 15 + 2010 AS INT) AS year,
            $sqlExt AS ext"""

  def entries: Seq[QueryEntry] = Seq(
    // ---- year × engine pivot (plot_timeline_engine, analyze.py:333-352) --
    QueryEntry(
      "q_ext_engine_pivot",
      (s, dir) => {
        val d = datedFiles(s, dir)
        d.withColumn("engine", extEngine(col("ext")))
          .groupBy(col("year"))
          // declared pivot domain → single-shuffle plan
          .pivot("engine", Seq("gromacs", "namd", "amber", "other"))
          .count()
          .na.fill(0L)
          .orderBy("year")
      },
      Some(s"""WITH src AS (
          $sqlDatedFiles
          FROM documents),
        classified AS (
          SELECT year,
            ${sqlClassify(engineArms)} AS engine
          FROM src)
        SELECT year,
          count(*) FILTER (WHERE engine = 'gromacs') AS gromacs,
          count(*) FILTER (WHERE engine = 'namd') AS namd,
          count(*) FILTER (WHERE engine = 'amber') AS amber,
          count(*) FILTER (WHERE engine = 'other') AS other
        FROM classified GROUP BY year ORDER BY year"""),
    ),

    // ---- category classification rollup (prepare_ext_count_df) ----------
    QueryEntry(
      "q_ext_category",
      (s, dir) => {
        val d = t(s, dir, "documents").select(col("doc_id"))
          .withColumn("ext", extCol)
        d.select(extCategory(col("ext")).as("cat"),
            extEngine(col("ext")).as("engine"))
          .groupBy("cat", "engine").agg(count(lit(1)).as("n"))
          .orderBy("cat", "engine")
      },
      Some(s"""WITH src AS (
          SELECT $sqlExt AS ext
          FROM documents),
        classified AS (
          SELECT
            ${sqlClassify(categoryArms)} AS cat,
            ${sqlClassify(engineArms)} AS engine
          FROM src)
        SELECT cat, engine, count(*) AS n
        FROM classified GROUP BY cat, engine ORDER BY cat, engine"""),
    ),

    // ---- the merge shape of analyze.py:552: datasets ⋈ files, RIGHT join
    // (files without a matching dataset survive with null dataset columns)
    QueryEntry(
      "q_right_join_agg",
      (s, dir) => {
        val customer = t(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment"))
        val orders = t(s, dir, "orders")
          .select(col("o_custkey"), col("o_totalprice"))
        broadcast(customer)
          .join(orders, col("c_custkey") === col("o_custkey"), "right")
          .groupBy(coalesce(col("c_mktsegment"), lit("UNMATCHED")).as("segment"))
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast("decimal(28,6)")).cast("double").as("total"))
          .orderBy("segment")
      },
      Some("""SELECT coalesce(c_mktsegment, 'UNMATCHED') AS segment,
            count(*) AS n,
            CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS total
          FROM customer RIGHT JOIN orders ON c_custkey = o_custkey
          GROUP BY 1 ORDER BY 1"""),
    ),

    // ---- year × engine SIZE pivot (plot_timeline_size_engine,
    // analyze.py:354-373): trajectory-category files only, size summed per
    // (year, engine) — mean = sum/n is derivable, the sum is bit-exact.
    // Declared pivot domain → single shuffle, same plan shape as
    // q_ext_engine_pivot.
    QueryEntry(
      "q_ext_size_pivot",
      (s, dir) => {
        val d = datedFiles(s, dir)
          .withColumn("size",
            (pmod(col("doc_id") * 131, lit(100000)) + 1000).cast("long"))
        d.where(extCategory(col("ext")) === "trajectory")
          .withColumn("engine", extEngine(col("ext")))
          .groupBy(col("year"))
          .pivot("engine", Seq("gromacs", "namd", "amber", "other"))
          .agg(sum(col("size")))
          .na.fill(0L)
          .orderBy("year")
      },
      Some(s"""WITH src AS (
          $sqlDatedFiles,
            CAST((doc_id * 131) % 100000 + 1000 AS BIGINT) AS size
          FROM documents),
        classified AS (
          SELECT year, size,
            ${sqlClassify(engineArms)} AS engine
          FROM src
          WHERE ${sqlClassify(categoryArms)} = 'trajectory')
        SELECT year,
          CAST(coalesce(sum(size) FILTER (WHERE engine = 'gromacs'), 0) AS BIGINT) AS gromacs,
          CAST(coalesce(sum(size) FILTER (WHERE engine = 'namd'), 0) AS BIGINT) AS namd,
          CAST(coalesce(sum(size) FILTER (WHERE engine = 'amber'), 0) AS BIGINT) AS amber,
          CAST(coalesce(sum(size) FILTER (WHERE engine = 'other'), 0) AS BIGINT) AS other
        FROM classified GROUP BY year ORDER BY year"""),
    ),

    // ---- year × category timeline pivot (plot_timeline_category,
    // analyze.py:312-333): count per (year, cat), rows classified "other"
    // dropped before the pivot — the last analyze.py prepared frame.
    // Declared pivot domain → one partial-aggregated shuffle.
    QueryEntry(
      "q_ext_category_pivot",
      (s, dir) => {
        val d = datedFiles(s, dir)
        d.withColumn("cat", extCategory(col("ext")))
          .where(col("cat") =!= "other")
          .groupBy(col("year"))
          .pivot("cat", Seq("coordinate", "topology", "trajectory"))
          .count()
          .na.fill(0L)
          .orderBy("year")
      },
      Some(s"""WITH src AS (
          $sqlDatedFiles
          FROM documents),
        classified AS (
          SELECT year,
            ${sqlClassify(categoryArms)} AS cat
          FROM src)
        SELECT year,
          count(*) FILTER (WHERE cat = 'coordinate') AS coordinate,
          count(*) FILTER (WHERE cat = 'topology') AS topology,
          count(*) FILTER (WHERE cat = 'trajectory') AS trajectory
        FROM classified WHERE cat <> 'other'
        GROUP BY year ORDER BY year"""),
    ),
  )
}
