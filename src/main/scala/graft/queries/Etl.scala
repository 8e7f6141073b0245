package graft.queries

import java.io.{File, FileOutputStream}
import java.util.zip.{ZipEntry, ZipOutputStream}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables
import graft.sources.{Dbc, Dbf, DatasusEtl}

/** End-to-end DATASUS-shaped ETL queries (SURVEY §2.1 S5/S7, §2.2 P5/P7,
  * §2.3 A4/A5) gated by the DuckDB oracle.
  *
  * The driver fixtures are parquet, so [[EtlFixtures]] deterministically
  * re-encodes the `orders`/`documents` tables as real `.dbc` archives, a
  * `.zip`, and an NDJSON envelope under /tmp — then the queries run the
  * genuine binary pipeline (zip-explode → blast-decompress → DBF-parse →
  * string records → aggregate) and the oracle checks the same answer
  * computed straight from parquet. Any decoder bug breaks the hash match.
  */
object EtlFixtures {

  /** Priority bucket → UF code used in the synthetic DATASUS file names. */
  val ufOf: Map[String, String] =
    Map("1" -> "PE", "2" -> "SP", "3" -> "RJ", "4" -> "MG", "5" -> "BA")

  val ufCaseSql: String =
    """CASE substr(o_orderpriority, 1, 1)
      | WHEN '1' THEN 'PE' WHEN '2' THEN 'SP' WHEN '3' THEN 'RJ'
      | WHEN '4' THEN 'MG' ELSE 'BA' END""".stripMargin

  val dbfCols = Seq("orderkey", "custkey", "status", "total", "orderdate", "priority")

  /** Columns of the DRIFTED month (2502): `orderdate` and `priority`
    * disappear, `prio_cd` appears — the monthly schema-drift shape the
    * reference documents between its 87- and 92-column files
    * (ESTRUTURA_DADOS_PROCESSADOS.md:44-59). */
  val dbfColsDrift = Seq("orderkey", "custkey", "status", "total", "prio_cd")

  /** Build (once per sf dir) the binary fixtures; returns the fixture dir.
    * Marker is versioned: adding a fixture (the 2502 drift month) bumps it
    * so stale /tmp dirs from older builds rebuild instead of missing files. */
  def ensure(s: SparkSession, dir: String): String = synchronized {
    import s.implicits._
    val key = dir.replaceAll("[^A-Za-z0-9.]", "_")
    val base = new File(s"/tmp/graft_fixtures/$key")
    val marker = new File(base, "_OK_v2")
    if (marker.exists()) return base.getPath
    base.mkdirs()

    // Driver-side collect is fixture-only infrastructure: cap it so a
    // large-sf dir can never silently OOM the driver (sf0.1 orders are
    // 150k rows; the cap trips long before JVM pressure).
    val MaxFixtureRows = 2000000
    val collected = Tables.orders(s, dir)
      .select(
        $"o_orderkey".cast("string"),
        $"o_custkey".cast("string"),
        $"o_orderstatus",
        $"o_totalprice".cast(DecimalType(18, 2)).cast("string"),
        $"o_orderdate".cast("date").cast("string"),
        $"o_orderpriority")
      .take(MaxFixtureRows + 1)
    require(collected.length <= MaxFixtureRows,
      s"EtlFixtures.ensure: $dir orders exceed the $MaxFixtureRows-row fixture cap; " +
        "binary fixtures are for test scale factors only")
    val rows = collected
      .map(r => (0 until 6).map(r.getString))
      .sortBy(r => r(0).toLong) // deterministic file contents

    val dbcFiles = rows.groupBy(r => ufOf(r(5).substring(0, 1))).toSeq.sortBy(_._1).map {
      case (uf, rs) =>
        val dbf = Dbf.write(dbfCols, rs.toIndexedSeq)
        val dbc = Dbc.fromDbf(dbf)
        val f = new File(base, s"RD${uf}2501.dbc")
        val out = new FileOutputStream(f)
        try out.write(dbc) finally out.close()
        f
    }

    // DRIFTED month 2502 in its own subdir (the RD*.dbc glob of the
    // single-month queries must not pick it up): every third order, with
    // dbfColsDrift's column set — two columns gone, one new
    val m2502 = new File(base, "m2502"); m2502.mkdirs()
    val driftRows = rows.filter(_(0).toLong % 3 == 0)
      .map(r => Seq(r(0), r(1), r(2), r(3), r(5).substring(0, 1)))
    driftRows.groupBy(r => ufOf(r(4))).toSeq.sortBy(_._1).foreach {
      case (uf, rs) =>
        val dbc = Dbc.fromDbf(Dbf.write(dbfColsDrift, rs.toIndexedSeq))
        val f = new File(m2502, s"RD${uf}2502.dbc")
        val out = new FileOutputStream(f)
        try out.write(dbc) finally out.close()
    }

    val zip = new ZipOutputStream(new FileOutputStream(new File(base, "archive.zip")))
    try dbcFiles.foreach { f =>
      val e = new ZipEntry(f.getName)
      e.setTime(0L) // deterministic archive bytes
      zip.putNextEntry(e)
      zip.write(java.nio.file.Files.readAllBytes(f.toPath))
      zip.closeEntry()
    } finally zip.close()

    val docs = Tables.documents(s, dir)
      .select($"doc_id", $"lang", $"source", $"n_chars")
      .take(MaxFixtureRows + 1)
    require(docs.length <= MaxFixtureRows,
      s"EtlFixtures.ensure: $dir documents exceed the fixture cap")
    val docsSorted = docs.sortBy(_.getLong(0))
    val nd = new StringBuilder()
    nd ++= s"""{"tipo":"metadados","total_registros":${docsSorted.length},"colunas":["doc_id","lang","source","n_chars"]}\n"""
    docsSorted.foreach { r =>
      nd ++= s"""{"tipo":"registro","dados":{"doc_id":${r.getLong(0)},"lang":"${r.getString(1)}","source":"${r.getString(2)}","n_chars":${r.getLong(3)}}}\n"""
    }
    java.nio.file.Files.write(new File(base, "docs.ndjson").toPath,
      nd.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))

    java.nio.file.Files.write(marker.toPath, Array.emptyByteArray)
    base.getPath
  }
}

object Etl {

  /** S7+P7: scan .dbc files through the DSv2 "dbc" format (column pruning
    * + _file metadata column), derive (tipo, uf, competencia) from file
    * names, aggregate typed casts of the all-string records. */
  def qDbcScan(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = EtlFixtures.ensure(s, dir)
    val df = DatasusEtl.withFileMeta(
      s.read.format("dbc").load(s"$base/RD*.dbc")
        .select($"_file".as("_path"), $"orderkey", $"total"))
    df.groupBy($"tipo_arquivo", $"uf", $"competencia")
      .agg(count(lit(1)).as("n"),
           sum($"orderkey".cast("long")).as("sum_key"),
           sum(round($"total".cast("double") * 100).cast("long")).as("total_price_c"))
  }

  val qDbcScanSql: String =
    s"""SELECT 'RD' AS tipo_arquivo, ${EtlFixtures.ufCaseSql} AS uf,
       | '2501' AS competencia, count(*) AS n,
       | CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
       | CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_price_c
       |FROM orders GROUP BY 2""".stripMargin

  /** S5+S7: explode a ZIP of .dbc members, decode each, count per member. */
  def qZipDbc(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = EtlFixtures.ensure(s, dir)
    val members = DatasusEtl.zipExplode(s, s"$base/archive.zip")
    DatasusEtl.decodeMembers(members, EtlFixtures.dbfCols)
      .groupBy($"_path".as("arquivo"))
      .agg(count(lit(1)).as("n"))
  }

  val qZipDbcSql: String =
    s"""SELECT 'RD' || ${EtlFixtures.ufCaseSql} || '2501.dbc' AS arquivo, count(*) AS n
       |FROM orders GROUP BY 1""".stripMargin

  /** A4+A5: the run-etl.ts:26-54 load report + _indice rollup — per-table
    * totals, file count, mean records/file, and the per-file breakdown
    * (ESTRUTURA_DADOS_PROCESSADOS.md:37-72) — as one hash aggregate,
    * replacing the reference's O(T·N) nested loops. The per-file list is
    * emitted as a sorted "file:count,..." STRING (the driver's row sorter
    * cannot hash array cells) and the mean as integer-division cents. */
  def qEtlReport(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = EtlFixtures.ensure(s, dir)
    val perFile = DatasusEtl.withFileMeta(
        s.read.format("dbc").load(s"$base/RD*.dbc").select($"_file".as("_path")))
      .groupBy($"tipo_arquivo", $"arquivo", $"competencia")
      .agg(count(lit(1)).as("registros"))
    perFile.groupBy($"tipo_arquivo".as("tabela"))
      .agg(sum($"registros").as("total_registros"),
           count(lit(1)).as("n_arquivos"),
           array_join(sort_array(collect_list(
             concat_ws(":", $"arquivo", $"registros"))), ",").as("arquivos"),
           array_join(sort_array(collect_set($"competencia")), ",")
             .as("competencias_existentes"))
      .withColumn("media_registros_c", expr("(total_registros * 100) DIV n_arquivos"))
  }

  val qEtlReportSql: String =
    s"""WITH per_file AS (
       |  SELECT 'RD' || ${EtlFixtures.ufCaseSql} || '2501.dbc' AS arquivo,
       |         count(*) AS registros
       |  FROM orders GROUP BY 1)
       |SELECT 'RD' AS tabela, CAST(sum(registros) AS BIGINT) AS total_registros,
       |  count(*) AS n_arquivos,
       |  string_agg(arquivo || ':' || registros, ',' ORDER BY arquivo) AS arquivos,
       |  '2501' AS competencias_existentes,
       |  (CAST(sum(registros) AS BIGINT) * 100) // count(*) AS media_registros_c
       |FROM per_file""".stripMargin

  /** MONTHLY SCHEMA DRIFT — SURVEY §7 hard-part #2, gated: the reference's
    * monthly files change column sets between competências (87 vs 92 cols,
    * ESTRUTURA_DADOS_PROCESSADOS.md:44-59). Decode two fixture months with
    * different column sets (2501: 6 cols; 2502: drops orderdate+priority,
    * adds prio_cd), merge with `unionByName(allowMissingColumns=true)`
    * — Spark's by-NAME union is exactly the semantics monthly loads need
    * (positional union would silently misalign) — and emit the per-column
    * fill profile of the merged relation: for each of the 7 merged
    * columns, how many rows carry it and how many are null because their
    * month lacked it. One global aggregate (7 counters), then a 7-row
    * stack — constant-size output at any corpus scale. */
  def qSchemaDrift(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = EtlFixtures.ensure(s, dir)
    val m1 = s.read.format("dbc").load(s"$base/RD*.dbc")
    val m2 = s.read.format("dbc").load(s"$base/m2502/RD*.dbc")
    val merged = m1.unionByName(m2, allowMissingColumns = true)
    val cols = merged.columns.sorted
    merged
      .agg(count(lit(1)).as("n_total"),
        cols.map(c => count(col(c)).as(s"f_$c")).toSeq: _*)
      .selectExpr("n_total",
        s"stack(${cols.length}, " +
          cols.map(c => s"'$c', f_$c").mkString(", ") + ") AS (col, n_filled)")
      .select($"col", $"n_total", $"n_filled",
        ($"n_total" - $"n_filled").as("n_null"))
  }

  val qSchemaDriftSql: String =
    """WITH merged AS (
      |  SELECT o_orderkey AS orderkey, o_custkey AS custkey,
      |    o_orderstatus AS status, o_totalprice AS total,
      |    o_orderdate AS orderdate, o_orderpriority AS priority,
      |    NULL AS prio_cd
      |  FROM orders
      |  UNION ALL
      |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
      |    NULL, NULL, substr(o_orderpriority, 1, 1)
      |  FROM orders WHERE o_orderkey % 3 = 0),
      |a AS (
      |  SELECT count(*) AS n_total,
      |    count(orderkey) AS f_orderkey, count(custkey) AS f_custkey,
      |    count(status) AS f_status, count(total) AS f_total,
      |    count(orderdate) AS f_orderdate, count(priority) AS f_priority,
      |    count(prio_cd) AS f_prio_cd
      |  FROM merged)
      |SELECT u.col AS col, n_total,
      |  CAST(u.nf AS BIGINT) AS n_filled,
      |  CAST(n_total - u.nf AS BIGINT) AS n_null
      |FROM (SELECT n_total, unnest([
      |  {'col': 'custkey', 'nf': f_custkey},
      |  {'col': 'orderdate', 'nf': f_orderdate},
      |  {'col': 'orderkey', 'nf': f_orderkey},
      |  {'col': 'priority', 'nf': f_priority},
      |  {'col': 'prio_cd', 'nf': f_prio_cd},
      |  {'col': 'status', 'nf': f_status},
      |  {'col': 'total', 'nf': f_total}]) AS u FROM a) t""".stripMargin

  /** S8: NDJSON envelope source — metadata first line + registro lines
    * (NDJSON_IMPLEMENTADO.md:141-156) is Spark's native JSON-lines format;
    * the envelope collapses to filter + nested select. */
  def qNdjson(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = EtlFixtures.ensure(s, dir)
    s.read.json(s"$base/docs.ndjson")
      .filter($"tipo" === "registro")
      .select($"dados.*")
      .groupBy($"lang")
      .agg(count(lit(1)).as("n"), sum($"n_chars").as("sum_chars"))
  }

  val qNdjsonSql: String =
    """SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |FROM documents GROUP BY lang""".stripMargin

  /** P8: the competência (month) sequence as a relational query — calendar
    * walk from a fixed anchor, newest first, zero-padded (the reference's
    * getCompetence loop, datasus.service.ts:73-97). */
  def qCompet(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    s.range(12).select(
      $"id".cast("long").as("idx"),
      date_format(add_months(lit("2025-06-01").cast("date"), -$"id"), "yyyy").as("ano"),
      date_format(add_months(lit("2025-06-01").cast("date"), -$"id"), "MM").as("mes"))
  }

  val qCompetSql: String =
    """SELECT i AS idx,
      |  strftime(DATE '2025-06-01' - i * INTERVAL 1 MONTH, '%Y') AS ano,
      |  strftime(DATE '2025-06-01' - i * INTERVAL 1 MONTH, '%m') AS mes
      |FROM range(0, 12) r(i)""".stripMargin

  /** P10+P3: polymorphic link-resolution normalization as pure column
    * logic over the reference's observed response shapes
    * (datasus.service.ts:186-206). */
  def qLinkResolve(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val bodies = Seq(
      (1L, """["https://x/a.zip"]"""),
      (2L, """{"link": "https://x/b.zip"}"""),
      (3L, """see https://x/c.zip for data"""),
      (4L, """no link here"""),
      (5L, """{"other": 1}"""),
      (6L, """["ftp://not-http/d.zip"]""")).toDF("id", "body")
    bodies.select($"id", graft.sources.DatasusCatalog.resolveLink($"body").as("url"))
  }

  val qLinkResolveSql: String =
    """WITH bodies(id, body) AS (VALUES
      |  (1::BIGINT, '["https://x/a.zip"]'),
      |  (2::BIGINT, '{"link": "https://x/b.zip"}'),
      |  (3::BIGINT, 'see https://x/c.zip for data'),
      |  (4::BIGINT, 'no link here'),
      |  (5::BIGINT, '{"other": 1}'),
      |  (6::BIGINT, '["ftp://not-http/d.zip"]')),
      |resolved AS (
      |  SELECT id, coalesce(
      |    CASE WHEN json_valid(body) THEN json_extract_string(body, '$[0]') END,
      |    CASE WHEN json_valid(body) THEN json_extract_string(body, '$.link') END,
      |    CASE WHEN regexp_extract(body, 'https?:[^"\s\]]+\.zip') <> ''
      |         THEN regexp_extract(body, 'https?:[^"\s\]]+\.zip') END) AS url
      |  FROM bodies)
      |SELECT id, CASE WHEN url LIKE 'http%' THEN url END AS url FROM resolved""".stripMargin

  /** The reference's default entry workload (ObjectDados,
    * datasus-object-processor.ts:13-50): the filter-dimension vocabulary
    * crossed per family — 89 (fonte, tipo_arquivo, modalidade, uf)
    * combinations. Gated so the vocabulary and the cross product are
    * hash-checked against an oracle built from the same constants. */
  def qCatalogWorkload(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.sources.DatasusVocabulary.defaultWorkload(s)
      .withColumn("entry_idx",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy($"sistema", $"tipo_arquivo")).cast("long"))
  }

  val qCatalogWorkloadSql: String = {
    val rows = graft.sources.DatasusVocabulary.DefaultWorkload
      .map { case (sis, fonte, tipo, mod, uf) =>
        s"('$sis', '$fonte', '$tipo', '$mod', '$uf')"
      }.mkString(",\n  ")
    s"""SELECT sistema, fonte, tipo_arquivo, modalidade, uf,
       |  row_number() OVER (ORDER BY sistema, tipo_arquivo) AS entry_idx
       |FROM (VALUES
       |  $rows) t(sistema, fonte, tipo_arquivo, modalidade, uf)""".stripMargin
  }

  /** §2.6 DATASUS scalar surface in one query: zero-pad, month arithmetic,
    * base64 round-trip, byte→MB formatting, and the regex-over-payload
    * `total_registros` extraction the reference does on response bodies
    * (STREAMING_JSON_IMPLEMENTADO.md:143-146). */
  def qEtlScalar(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir)
      .filter($"o_orderkey" % 1000 === 0)
      .select(
        $"o_orderkey",
        lpad(month($"o_orderdate").cast("string"), 2, "0").as("mes_pad"),
        date_format(add_months($"o_orderdate".cast("date"), -1), "yyyy-MM").as("prev_month"),
        unbase64(base64($"o_orderpriority".cast("binary"))).cast("string").as("b64_roundtrip"),
        round($"o_totalprice" / 1048576.0 * 100).cast("long").as("mb_c"),
        // locale number format (thousands separators, 2 decimals): the
        // oracle reconstructs the identical rendering from integer cents
        format_number($"o_totalprice", 2).as("price_fmt"),
        regexp_extract(
          concat(lit("{\"total_registros\": "), $"o_orderkey", lit("}")),
          "\"total_registros\":\\s*(\\d+)", 1).cast("long").as("extracted"))
  }

  val qEtlScalarSql: String =
    """SELECT o_orderkey,
      |  lpad(CAST(month(o_orderdate) AS VARCHAR), 2, '0') AS mes_pad,
      |  strftime(CAST(o_orderdate AS DATE) - INTERVAL 1 MONTH, '%Y-%m') AS prev_month,
      |  CAST(from_base64(to_base64(o_orderpriority::BLOB)) AS VARCHAR) AS b64_roundtrip,
      |  CAST(round(o_totalprice / 1048576.0 * 100) AS BIGINT) AS mb_c,
      |  format('{:,}', CAST(round(o_totalprice * 100) AS BIGINT) // 100) || '.' ||
      |    lpad(CAST(CAST(round(o_totalprice * 100) AS BIGINT) % 100 AS VARCHAR), 2, '0') AS price_fmt,
      |  CAST(regexp_extract('{"total_registros": ' || o_orderkey || '}',
      |       '"total_registros":\s*(\d+)', 1) AS BIGINT) AS extracted
      |FROM orders WHERE o_orderkey % 1000 = 0""".stripMargin

  /** END-TO-END LAKE PIPELINE gated as ONE unit (round-11, VERDICT-r10
    * #8): the full [[graft.Pipeline.run]] composition — DSv2 dbc decode →
    * name-derived partition columns → dynamic-partition-overwrite lake
    * write → partition-discovering read-back → the run-etl.ts load
    * report — over the fixture corpus, the way a user actually runs the
    * engine (PipelineSpec covers the orchestration; this puts the
    * COMPOSED result under the DuckDB oracle). Two relations feed the
    * hash: the perTable report Pipeline.run itself computes, and a
    * partition audit RE-READ from the written lake (distinct uf /
    * competência partition values; counts, so they hold under the
    * session's partition-type inference), so decode, partition derivation,
    * the overwrite write path, and partition-typed read-back all sit
    * under one gate row. The mean is re-derived as exact integer cents
    * (the float `round` in the report column is display-only and never
    * reaches a hash). The lake dir is keyed by (dir-hash, pid):
    * re-runs dynamic-overwrite the SAME partitions — idempotent re-load
    * is itself the semantics under test (the reference only detects
    * duplicates, datasus.service.ts:33). */
  def qPipelineLake(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = EtlFixtures.ensure(s, dir)
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
    val lakeDir = s"/tmp/graft_lake_gate/${key}_p${ProcessHandle.current().pid()}"
    val rep = graft.Pipeline.run(s, s"$base/RD*.dbc", lakeDir)
    val parts = s.read.parquet(lakeDir)
      .groupBy($"tipo_arquivo".cast("string").as("tabela"))
      .agg(countDistinct($"uf").as("n_ufs"),
           countDistinct($"competencia").as("n_competencias"))
    rep.perTable
      .select($"tabela".cast("string").as("tabela"),
        $"total_registros", $"n_arquivos",
        expr("(total_registros * 100) DIV n_arquivos").as("media_registros_c"),
        array_join($"competencias_existentes", ",").as("competencias"))
      .join(parts, "tabela")
  }

  val qPipelineLakeSql: String =
    s"""SELECT 'RD' AS tabela,
       |  CAST(count(*) AS BIGINT) AS total_registros,
       |  CAST(count(DISTINCT ${EtlFixtures.ufCaseSql}) AS BIGINT) AS n_arquivos,
       |  (CAST(count(*) AS BIGINT) * 100) // count(DISTINCT ${EtlFixtures.ufCaseSql}) AS media_registros_c,
       |  '2501' AS competencias,
       |  CAST(count(DISTINCT ${EtlFixtures.ufCaseSql}) AS BIGINT) AS n_ufs,
       |  CAST(1 AS BIGINT) AS n_competencias
       |FROM orders""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_pipeline_lake" -> (qPipelineLake _),
    "q_etl_scalar"   -> (qEtlScalar _),
    "q_dbc_scan"     -> (qDbcScan _),
    "q_zip_dbc"      -> (qZipDbc _),
    "q_etl_report"   -> (qEtlReport _),
    "q_ndjson"       -> (qNdjson _),
    "q_compet"       -> (qCompet _),
    "q_link_resolve" -> (qLinkResolve _),
    "q_catalog_workload" -> (qCatalogWorkload _),
    "q_schema_drift" -> (qSchemaDrift _),
  )

  def oracles: Map[String, String] = Map(
    "q_pipeline_lake" -> qPipelineLakeSql,
    "q_etl_scalar"   -> qEtlScalarSql,
    "q_dbc_scan"     -> qDbcScanSql,
    "q_zip_dbc"      -> qZipDbcSql,
    "q_etl_report"   -> qEtlReportSql,
    "q_ndjson"       -> qNdjsonSql,
    "q_compet"       -> qCompetSql,
    "q_link_resolve" -> qLinkResolveSql,
    "q_catalog_workload" -> qCatalogWorkloadSql,
    "q_schema_drift" -> qSchemaDriftSql,
  )
}
