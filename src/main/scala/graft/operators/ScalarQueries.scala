package graft.operators

import graft.{QueryEntry, Tables}
import graft.functions.TextFunctions._
import org.apache.spark.sql.functions._

/** Oracle-checked queries for the scalar-function surface (SURVEY.md §2.8).
  * Inputs are synthesized deterministically from the driver's tables with
  * integer arithmetic only, so the Spark and DuckDB sides see byte-identical
  * strings; each query then applies one reference function and its SQL
  * mirror. The rules the crawl also runs are `Validators` kernels (one
  * static call in generated code); the rest are Catalyst built-ins, except
  * the integer-exact size formatter, a UDF.
  */
object ScalarQueries {
  import Tables.t

  /** SQL twin of [[graft.functions.TextFunctions.stripWhitespace]]. */
  private def sqlStripWhitespace(x: String): String =
    raw"""regexp_replace(regexp_replace(
          $x,
          '[\n\r\t]', ' ', 'g'), ' {2,}', ' ', 'g')"""

  def entries: Seq[QueryEntry] = Seq(
    // ---- Unicode canonicalization (NFC + accent fold) ---------------------
    // see [[graft.functions.NormalizeText]]: a static kernel StaticInvoke calls;
    // input mixes composed literals (via translate) with raw combining
    // marks so the normalizer has real work on every row
    QueryEntry(
      "q_fn_normalize",
      (s, dir) => {
        import graft.functions.NormalizeText
        val raw = concat(translate(col("text"), "ae", "àé"),
          lit(" à é"))
        t(s, dir, "documents")
          .select(col("doc_id"), raw.as("raw"))
          .select(col("doc_id"),
            NormalizeText.nfc(col("raw")).as("nfc"),
            NormalizeText.foldAccents(col("raw")).as("folded"),
            length(NormalizeText.nfc(col("raw"))).as("nfc_len"),
            length(col("raw")).as("raw_len"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
          nfc_normalize(raw) AS nfc, strip_accents(raw) AS folded,
          CAST(len(nfc_normalize(raw)) AS INT) AS nfc_len,
          CAST(len(raw) AS INT) AS raw_len
        FROM (SELECT doc_id,
            replace(replace(text, 'a', 'à'), 'e', 'é')
              || ' a' || chr(768) || ' e' || chr(769) AS raw
          FROM documents) ORDER BY doc_id"""),
    ),
    // ---- C4: file extension (Path.suffix semantics) ----------------------
    QueryEntry(
      "q_fn_file_type",
      (s, dir) => {
        val names = t(s, dir, "documents").select(
          col("doc_id"),
          concat(
            lit("path/to/"),
            when(col("doc_id") % 11 === 0, lit(".")).otherwise(lit("")),
            lit("doc_"), col("doc_id"),
            when(col("doc_id") % 6 === 0, lit(".xtc"))
              .when(col("doc_id") % 6 === 1, lit(".tar.gz"))
              .when(col("doc_id") % 6 === 2, lit(""))
              .when(col("doc_id") % 6 === 3, lit(".name.with.dots.pdb"))
              .when(col("doc_id") % 6 === 4, lit("."))
              .otherwise(lit(".gro")),
          ).as("file_name"))
        names.withColumn("file_type", fileType(col("file_name")))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, file_name,
        regexp_extract(regexp_extract(file_name, '([^/]*)$', 1),
                       '[^.]\.([^./]+)$', 1) AS file_type
        FROM (SELECT doc_id,
          concat('path/to/',
                 CASE WHEN doc_id % 11 = 0 THEN '.' ELSE '' END,
                 'doc_', CAST(doc_id AS VARCHAR),
                 CASE WHEN doc_id % 6 = 0 THEN '.xtc'
                      WHEN doc_id % 6 = 1 THEN '.tar.gz'
                      WHEN doc_id % 6 = 2 THEN ''
                      WHEN doc_id % 6 = 3 THEN '.name.with.dots.pdb'
                      WHEN doc_id % 6 = 4 THEN '.'
                      ELSE '.gro' END) AS file_name
          FROM documents) ORDER BY doc_id"""),
    ),
    // ---- C2/C3: whitespace cleanup ---------------------------------------
    QueryEntry(
      "q_fn_clean_text",
      (s, dir) => {
        val noisy = t(s, dir, "documents").select(
          col("doc_id"),
          concat(lit(" \t"), regexp_replace(col("text"), " ", "\t  "), lit("\r\n"))
            .as("noisy"))
        noisy.withColumn("clean", stripWhitespace(col("noisy")))
          .select("doc_id", "clean").orderBy("doc_id")
      },
      Some(s"""SELECT doc_id,
        ${sqlStripWhitespace("""concat(' ', chr(9), regexp_replace(text, ' ', chr(9) || '  ', 'g'),
                 chr(13) || chr(10))""")} AS clean
        FROM documents ORDER BY doc_id"""),
    ),
    // ---- C1: strip_html ----------------------------------------------------
    QueryEntry(
      "q_fn_strip_html",
      (s, dir) => {
        val html = t(s, dir, "documents").select(
          col("doc_id"),
          concat(lit("<p class=\"x\">"), col("text"),
                 lit("</p> <b>a&amp;b &lt;ok&gt;</b><br/>")).as("html"))
        html.withColumn("text_clean", cleanText(col("html")))
          .select("doc_id", "text_clean").orderBy("doc_id")
      },
      Some(s"""SELECT doc_id,
        ${sqlStripWhitespace("""replace(replace(replace(replace(replace(replace(
            regexp_replace(concat('<p class="x">', text,
                           '</p> <b>a&amp;b &lt;ok&gt;</b><br/>'),
                           '<[^>]*>', '', 'g'),
          '&amp;','&'),'&lt;','<'),'&gt;','>'),'&quot;','"'),'&#39;',''''),
          '&nbsp;',' ')""")} AS text_clean
        FROM documents ORDER BY doc_id"""),
    ),
    // ---- C5: human-readable size (integer-exact ladder) --------------------
    QueryEntry(
      "q_fn_human_size",
      (s, dir) => {
        val sizes = t(s, dir, "lineitem").select(
          col("l_orderkey"), col("l_linenumber"),
          when(col("l_linenumber") === 6, lit(-5L))
            .when(col("l_linenumber") === 7, lit(2000000000000000L))
            .otherwise(pmod(col("l_orderkey") * 7919L + col("l_linenumber"),
                            lit(10000000000000L)))
            .as("bytes"))
        sizes.withColumn("hr_size", humanSizeInt(col("bytes")))
          .orderBy("l_orderkey", "l_linenumber")
      },
      Some("""SELECT l_orderkey, l_linenumber, bytes,
        CASE WHEN bytes < 0 THEN 'Negative size!'
             WHEN bytes >= 1000000000000000 THEN 'File too big!'
             ELSE printf('%d.%02d %s',
                    ((bytes*100 + d//2)//d)//100, ((bytes*100 + d//2)//d)%100, u)
        END AS hr_size
        FROM (SELECT l_orderkey, l_linenumber, bytes,
                CASE WHEN bytes < 1000 THEN 1
                     WHEN bytes < 1000000 THEN 1000
                     WHEN bytes < 1000000000 THEN 1000000
                     WHEN bytes < 1000000000000 THEN 1000000000
                     ELSE 1000000000000 END AS d,
                CASE WHEN bytes < 1000 THEN 'B'
                     WHEN bytes < 1000000 THEN 'KB'
                     WHEN bytes < 1000000000 THEN 'MB'
                     WHEN bytes < 1000000000000 THEN 'GB'
                     ELSE 'TB' END AS u
              FROM (SELECT l_orderkey, l_linenumber,
                      CASE WHEN l_linenumber = 6 THEN -5
                           WHEN l_linenumber = 7 THEN 2000000000000000
                           ELSE (l_orderkey * 7919 + l_linenumber) % 10000000000000
                      END AS bytes
                    FROM lineitem))
        ORDER BY l_orderkey, l_linenumber"""),
    ),
    // ---- C6: ByteSize parse -------------------------------------------------
    QueryEntry(
      "q_fn_bytesize",
      (s, dir) => {
        val raw = t(s, dir, "lineitem").select(
          col("l_orderkey"), col("l_linenumber"),
          concat(
            (col("l_orderkey") % 900 + 1).cast("string"),
            when(col("l_linenumber") % 2 === 0,
                 concat(lit("."), (col("l_orderkey") % 10).cast("string")))
              .otherwise(lit("")),
            lit(" "),
            when(col("l_linenumber") % 6 === 0, lit("B"))
              .when(col("l_linenumber") % 6 === 1, lit("kB"))
              .when(col("l_linenumber") % 6 === 2, lit("MB"))
              .when(col("l_linenumber") % 6 === 3, lit("GB"))
              .when(col("l_linenumber") % 6 === 4, lit("KiB"))
              .otherwise(lit("Bytes")),
          ).as("raw_size"))
        raw.withColumn("size_in_bytes", parseByteSize(col("raw_size")))
          .orderBy("l_orderkey", "l_linenumber")
      },
      Some("""SELECT l_orderkey, l_linenumber, raw_size,
        CAST(floor(
          CAST(regexp_extract(regexp_replace(lower(trim(raw_size)), 'bytes', 'b', 'g'),
                              '([-+]?[0-9]*\.?[0-9]+)', 1) AS DOUBLE) *
          CASE trim(regexp_extract(regexp_replace(lower(trim(raw_size)), 'bytes', 'b', 'g'),
                                   '([a-z]+)\s*$', 1))
            WHEN 'b' THEN 1 WHEN 'kb' THEN 1000.0 WHEN 'mb' THEN 1000000.0
            WHEN 'gb' THEN 1000000000.0 WHEN 'kib' THEN 1024.0
            WHEN '' THEN 1 ELSE NULL END) AS BIGINT) AS size_in_bytes
        FROM (SELECT l_orderkey, l_linenumber,
          concat(CAST(l_orderkey % 900 + 1 AS VARCHAR),
                 CASE WHEN l_linenumber % 2 = 0
                      THEN concat('.', CAST(l_orderkey % 10 AS VARCHAR))
                      ELSE '' END,
                 ' ',
                 CASE WHEN l_linenumber % 6 = 0 THEN 'B'
                      WHEN l_linenumber % 6 = 1 THEN 'kB'
                      WHEN l_linenumber % 6 = 2 THEN 'MB'
                      WHEN l_linenumber % 6 = 3 THEN 'GB'
                      WHEN l_linenumber % 6 = 4 THEN 'KiB'
                      ELSE 'Bytes' END) AS raw_size
          FROM lineitem)
        ORDER BY l_orderkey, l_linenumber"""),
    ),
    // ---- C7: date normalization --------------------------------------------
    QueryEntry(
      "q_fn_date_norm",
      (s, dir) =>
        t(s, dir, "orders")
          .select(col("o_orderkey"), normalizeDate(col("o_orderdate")).as("date_created"))
          .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S') AS date_created
        FROM orders ORDER BY o_orderkey"""),
    ),
    // ---- C8: temperature → Kelvin -------------------------------------------
    QueryEntry(
      "q_fn_temperature",
      (s, dir) => {
        val raw = t(s, dir, "events").select(
          col("event_id"),
          concat(
            (col("user_id") % 40 + 270).cast("string"),
            when(col("event_id") % 2 === 0,
                 concat(lit("."), (col("event_id") % 10).cast("string")))
              .otherwise(lit("")),
            when(col("event_id") % 5 === 0, lit("K"))
              .when(col("event_id") % 5 === 1, lit("°C"))
              .when(col("event_id") % 5 === 2, lit(""))
              .when(col("event_id") % 5 === 3, lit(" K"))
              .otherwise(lit("C")),
          ).as("raw_temp"))
        raw.withColumn("kelvin", temperatureToKelvin(col("raw_temp")))
          .orderBy("event_id")
      },
      Some("""SELECT event_id, raw_temp,
        CASE WHEN position('c' IN lower(trim(raw_temp))) > 0 OR v < 0
             THEN v + 273.15 ELSE v END AS kelvin
        FROM (SELECT event_id, raw_temp,
          CAST(regexp_extract(lower(trim(raw_temp)),
               '([-+]?[0-9]*\.?[0-9]+([eE][-+]?[0-9]+)?)', 1) AS DOUBLE) AS v
          FROM (SELECT event_id,
            concat(CAST(user_id % 40 + 270 AS VARCHAR),
                   CASE WHEN event_id % 2 = 0
                        THEN concat('.', CAST(event_id % 10 AS VARCHAR))
                        ELSE '' END,
                   CASE WHEN event_id % 5 = 0 THEN 'K'
                        WHEN event_id % 5 = 1 THEN '°C'
                        WHEN event_id % 5 = 2 THEN ''
                        WHEN event_id % 5 = 3 THEN ' K'
                        ELSE 'C' END) AS raw_temp
            FROM events))
        ORDER BY event_id"""),
    ),
    // ---- C10: DOI validation -------------------------------------------------
    QueryEntry(
      "q_fn_doi",
      (s, dir) => {
        val d = t(s, dir, "documents").select(
          col("doc_id"),
          when(col("doc_id") % 4 === 0,
               concat(lit("10."), (col("doc_id") % 9000 + 1000).cast("string"),
                      lit("/zenodo."), col("doc_id")))
            .when(col("doc_id") % 4 === 1,
               concat(lit("doi:10.5281/zenodo."), col("doc_id")))
            .when(col("doc_id") % 4 === 2,
               concat(lit("10.123/short."), col("doc_id")))
            .otherwise(concat(lit("10.5281/bad space."), col("doc_id")))
            .as("doi"))
        d.withColumn("is_valid", isValidDoi(col("doi"))).orderBy("doc_id")
      },
      Some("""SELECT doc_id, doi,
        regexp_matches(doi, '^10\.\d{4,9}/[\w\-./]+$') AS is_valid
        FROM (SELECT doc_id,
          CASE WHEN doc_id % 4 = 0
               THEN concat('10.', CAST(doc_id % 9000 + 1000 AS VARCHAR),
                           '/zenodo.', CAST(doc_id AS VARCHAR))
               WHEN doc_id % 4 = 1
               THEN concat('doi:10.5281/zenodo.', CAST(doc_id AS VARCHAR))
               WHEN doc_id % 4 = 2
               THEN concat('10.123/short.', CAST(doc_id AS VARCHAR))
               ELSE concat('10.5281/bad space.', CAST(doc_id AS VARCHAR)) END AS doi
          FROM documents) ORDER BY doc_id"""),
    ),
    // ---- C11: md5 prefix strip ------------------------------------------------
    QueryEntry(
      "q_fn_md5_strip",
      (s, dir) =>
        t(s, dir, "documents")
          .select(col("doc_id"),
                  concat(lit("md5:"), md5(col("text"))).as("checksum"))
          .withColumn("file_md5", stripMd5Prefix(col("checksum")))
          .orderBy("doc_id"),
      Some("""SELECT doc_id, concat('md5:', md5(text)) AS checksum,
        regexp_replace(concat('md5:', md5(text)), '^md5:', '') AS file_md5
        FROM documents ORDER BY doc_id"""),
    ),
    // ---- C13: thermostat normalization ----------------------------------------
    QueryEntry(
      "q_fn_thermostat",
      (s, dir) => {
        val raw = t(s, dir, "documents").select(
          col("doc_id"),
          when(col("doc_id") % 8 === 0, lit("Nose-Hoover"))
            .when(col("doc_id") % 8 === 1, lit("berendsen"))
            .when(col("doc_id") % 8 === 2, lit("V-RESCALE"))
            .when(col("doc_id") % 8 === 3, lit("no"))
            .when(col("doc_id") % 8 === 4, lit("Andersen_massive"))
            .when(col("doc_id") % 8 === 5, lit("sd"))
            .when(col("doc_id") % 8 === 6, lit("ANDERSEN"))
            .otherwise(lit(null).cast("string"))
            .as("raw_thermostat"))
        raw.withColumn("thermostat", normalizeThermostat(col("raw_thermostat")))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, raw_thermostat,
        CASE WHEN raw_thermostat IS NULL THEN 'undefined'
             ELSE coalesce(
               CASE replace(replace(lower(raw_thermostat), '-', ''), '_', '')
                 WHEN 'no' THEN 'no' WHEN 'berendsen' THEN 'Berendsen'
                 WHEN 'nosehoover' THEN 'Nose-Hoover'
                 WHEN 'andersen' THEN 'Andersen'
                 WHEN 'andersenmassive' THEN 'Andersen-massive'
                 WHEN 'vrescale' THEN 'V-rescale' END, 'unknown') END AS thermostat
        FROM (SELECT doc_id,
          CASE WHEN doc_id % 8 = 0 THEN 'Nose-Hoover'
               WHEN doc_id % 8 = 1 THEN 'berendsen'
               WHEN doc_id % 8 = 2 THEN 'V-RESCALE'
               WHEN doc_id % 8 = 3 THEN 'no'
               WHEN doc_id % 8 = 4 THEN 'Andersen_massive'
               WHEN doc_id % 8 = 5 THEN 'sd'
               WHEN doc_id % 8 = 6 THEN 'ANDERSEN'
               ELSE NULL END AS raw_thermostat
          FROM documents) ORDER BY doc_id"""),
    ),
    // ---- C16: JSON path extraction --------------------------------------------
    QueryEntry(
      "q_fn_json",
      (s, dir) =>
        t(s, dir, "events")
          .select(col("event_type"),
                  get_json_object(col("props"), "$.k").cast("long").as("k"))
          .groupBy(col("event_type"))
          .agg(sum(col("k")).as("sum_k"), count(col("k")).as("n"))
          .orderBy("event_type"),
      Some("""SELECT event_type,
        CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        count(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n
        FROM events GROUP BY event_type ORDER BY event_type"""),
    ),
    // ---- C12: keyword join ------------------------------------------------------
    QueryEntry(
      "q_fn_keywords",
      (s, dir) =>
        t(s, dir, "documents")
          .select(col("doc_id"),
                  joinKeywords(slice(split(col("text"), " "), 1, 5)).as("keywords"))
          .orderBy("doc_id"),
      Some("""SELECT doc_id,
        array_to_string(string_split(text, ' ')[1:5], ';') AS keywords
        FROM documents ORDER BY doc_id"""),
    ),
    // ---- URL canonicalization ------------------------------------------------
    // Seen-set hygiene at crawl scale: the same resource under scheme/host
    // case variants, a default port, a fragment, or duplicated path slashes
    // must hash to ONE seen-set key. Canonical form: lowercase scheme+host,
    // strip :80 for the http scheme ONLY (on any other scheme :80 is a
    // real non-default port naming a different resource), drop the
    // fragment, collapse // in the path. (Query-param reordering is
    // deliberately out of scope — param order can be semantic.) Pure
    // regexp/substr chain, codegen'd, identical in DuckDB.
    QueryEntry(
      "q_fn_url_canon",
      (s, dir) => {
        val raw = concat(
          when(col("doc_id") % 2 === 0, lit("HTTP://")).otherwise(lit("http://")),
          lit("Node"), pmod(col("doc_id"), lit(5)),
          lit(".Example.ORG"),
          when(col("doc_id") % 3 === 0, lit(":80")).otherwise(lit("")),
          lit("/data//set/"), col("doc_id"),
          when(col("doc_id") % 4 === 0, lit("#section2")).otherwise(lit("")))
        val noFrag = regexp_replace(raw, "#.*$", "")
        val schemeHost = regexp_extract(noFrag, "^([a-zA-Z]+://[^/]*)", 1)
        val path = substr(noFrag, length(schemeHost) + 1, lit(1000000))
        val canon = concat(
          regexp_replace(lower(schemeHost), "^(http://[^/:]+):80$", "$1"),
          regexp_replace(path, "/{2,}", "/"))
        t(s, dir, "documents")
          .select(col("doc_id"), raw.as("raw_url"), canon.as("canon_url"))
          .orderBy("doc_id")
      },
      Some("""WITH src AS (SELECT doc_id,
            (CASE WHEN doc_id % 2 = 0 THEN 'HTTP://' ELSE 'http://' END)
            || 'Node' || (doc_id % 5) || '.Example.ORG'
            || (CASE WHEN doc_id % 3 = 0 THEN ':80' ELSE '' END)
            || '/data//set/' || doc_id
            || (CASE WHEN doc_id % 4 = 0 THEN '#section2' ELSE '' END)
              AS raw_url
          FROM documents),
        nf AS (SELECT doc_id, raw_url,
            regexp_replace(raw_url, '#.*$', '') AS no_frag FROM src),
        sh AS (SELECT doc_id, raw_url, no_frag,
            regexp_extract(no_frag, '^([a-zA-Z]+://[^/]*)', 1) AS scheme_host
          FROM nf)
        SELECT doc_id, raw_url,
          regexp_replace(lower(scheme_host), '^(http://[^/:]+):80$', '\1')
          || regexp_replace(substr(no_frag, len(scheme_host) + 1, 1000000),
               '/{2,}', '/', 'g') AS canon_url
        FROM sh ORDER BY doc_id"""),
    ),
    // ---- higher-order array functions (transform/filter/aggregate/zip_with) -
    // The HOF surface over the embedding vectors, all codegen'd per-row
    // (no explode, no shuffle — the explode form would multiply scan rows
    // ×dim at 100 TB). Floats are floor-quantized to micro-integers
    // per-element FIRST (one correctly-rounded IEEE op each), then every
    // fold is exact BIGINT arithmetic — cross-element double folds are the
    // one HOF shape whose rounding could diverge across engines, so the
    // contract never does one. zip_with pairs each element with its
    // 1-based ordinal from `sequence` (DuckDB mirror: list indexing over
    // `range`).
    QueryEntry(
      "q_hof_array",
      (s, dir) => {
        val ql = transform(col("embedding"),
          x => floor(x.cast("double") * 1e6).cast("long"))
        t(s, dir, "embeddings")
          .select(col("vec_id"),
            aggregate(transform(ql, v => v * v), lit(0L), (acc, v) => acc + v)
              .as("sq_sum"),
            aggregate(
              zip_with(ql, sequence(lit(1), size(col("embedding"))),
                (v, i) => v * i),
              lit(0L), (acc, v) => acc + v).as("wdot"),
            size(filter(col("embedding"), x => x > 0)).cast("long")
              .as("n_pos"))
          .orderBy("vec_id")
      },
      Some("""WITH q AS (SELECT vec_id,
            list_transform(embedding,
              x -> CAST(floor(CAST(x AS DOUBLE) * 1e6) AS BIGINT)) AS ql,
            CAST(len(list_filter(embedding, x -> x > 0)) AS BIGINT) AS n_pos
          FROM embeddings)
        SELECT vec_id,
          CAST(list_aggregate(list_transform(ql, v -> v * v), 'sum')
            AS BIGINT) AS sq_sum,
          CAST(list_aggregate(list_transform(range(1, len(ql) + 1),
              i -> ql[CAST(i AS INT)] * i), 'sum') AS BIGINT) AS wdot,
          n_pos
        FROM q ORDER BY vec_id"""),
    ),
    // ---- regexp_extract_all (pattern mining into arrays) -------------------
    // The all-matches twin of the single-capture extracts used throughout
    // (DOI, md5, mdp fields): every ≥7-letter word per document, plus the
    // sorted-distinct form — the shape of vocabulary/entity mining over a
    // corpus. Both engines run greedy leftmost matching. The arrays are
    // emitted as scalar md5 digests of their space-joined form (the
    // q_array_set_ops house style): the driver's pandas comparator cannot
    // sort raw array cells. Per-row codegen'd, no shuffle.
    QueryEntry(
      "q_regex_extract_all",
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"),
          md5(concat_ws(" ",
            regexp_extract_all(col("text"), lit("[a-z]{7,}"), lit(0))))
            .as("long_words_md5"),
          md5(concat_ws(" ", array_sort(array_distinct(
            regexp_extract_all(col("text"), lit("[a-z]{7,}"), lit(0))))))
            .as("distinct_words_md5"),
          size(regexp_extract_all(col("text"), lit("[a-z]{7,}"), lit(0)))
            .cast("long").as("n_matches"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
          md5(coalesce(
            array_to_string(regexp_extract_all(text, '[a-z]{7,}'), ' '),
            '')) AS long_words_md5,
          md5(coalesce(array_to_string(
            list_sort(list_distinct(regexp_extract_all(text, '[a-z]{7,}'))),
            ' '), '')) AS distinct_words_md5,
          CAST(len(regexp_extract_all(text, '[a-z]{7,}')) AS BIGINT)
            AS n_matches
        FROM documents ORDER BY doc_id"""),
    ),
  )
}
