package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.classic
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.sources.{DatasusEtl, Sinks}

/** The reference's whole `npm run etl:run` (SURVEY §3 E1) as one call:
  * decode a corpus of .dbc files, derive partition columns from names,
  * load the partitioned lake idempotently, and return the run-etl.ts
  * summary (A2/A3/A4/A6 aggregations) — four process/node boundaries and
  * two queues collapsed into a single linear DataFrame job.
  */
object Pipeline {

  final case class LoadReport(summary: DataFrame, perTable: DataFrame)

  /** The lake's report columns with the partition columns read back as
    * strings: competência is a zero-padded code ("0501" = 2005-01) that
    * partition-dir type inference would read as an int. */
  private val ReportSchema = StructType(
    DatasusEtl.NameColumns.map(StructField(_, StringType, nullable = true)))

  /** @param dbcGlob input .dbc files (e.g. "s3://bucket/month/&#42;.dbc")
    * @param lakeDir partitioned parquet lake root (tipo/uf/competencia)
    * @return the load report, computed from one scan of the lake during
    *         the call: local DataFrames, so collecting them runs no job. */
  def run(spark: SparkSession, dbcGlob: String, lakeDir: String): LoadReport = {
    unfused(spark)(Sinks.writeLake(decode(spark, dbcGlob), lakeDir))

    val perTableRows = spark.read.schema(ReportSchema).parquet(lakeDir)
      .groupBy(col("tipo_arquivo").as("tabela"))
      .agg(count(lit(1)).as("total_registros"),
           countDistinct(col("arquivo")).as("n_arquivos"),
           round(count(lit(1)) / countDistinct(col("arquivo"))).cast("long")
             .as("media_registros"),
           sort_array(collect_set(col("competencia"))).as("competencias_existentes"))
    val rows = perTableRows.collect().toSeq
    val perTable = local(spark, perTableRows.schema, rows)
    // the sums are null over no rows, as sum() is
    def total(c: String): Any =
      if (rows.isEmpty) null else rows.map(_.getAs[Long](c)).sum
    val summary = local(spark, StructType(Seq(
        StructField("total_registros_inseridos", LongType),
        StructField("tabelas_distintas", LongType, nullable = false),
        StructField("arquivos_processados", LongType))),
      Seq(Row(total("total_registros"), rows.length.toLong, total("n_arquivos"))))
    LoadReport(summary, perTable)
  }

  /** The permissive decode with `withFileMeta`'s columns, taken from the
    * scan's name columns (computed once per file). Each scan partition is
    * one file, so the name columns arrive sorted and a lake write
    * partitioned by them plans no local sort. */
  private def decode(spark: SparkSession, dbcGlob: String): DataFrame = {
    val raw = spark.read.format("dbc").option("mode", "permissive").load(dbcGlob)
    val names = DatasusEtl.NameColumns
    raw.select(raw.columns.toSeq.map(c => if (names.contains(c)) raw.metadataColumn(c) else col(c)) ++
      names.filterNot(raw.columns.contains).map(raw.metadataColumn): _*)
  }

  /** Runs `body`, which plans and runs its queries on this thread, with
    * whole-stage codegen off, leaving the session's conf alone. The month
    * load's write stage only turns the scan's rows (one string column per
    * DBF field, 92 in SIA files) into UnsafeRows. Fused, that is one
    * generated loop the JIT takes tens of seconds to compile, and the
    * stage runs unoptimized meanwhile; unfused, it is a generated
    * projection split into small methods. */
  private def unfused[T](spark: SparkSession)(body: => T): T = {
    val conf = spark.asInstanceOf[classic.SparkSession].sessionState.conf.clone()
    conf.setConf(SQLConf.WHOLESTAGE_CODEGEN_ENABLED, false)
    SQLConf.withExistingConf(conf)(body)
  }

  private def local(spark: SparkSession, schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  /** The reference's actual load target — a SQL database per file type
    * with duplicate-competência protection (datasus.service.ts:15-39) —
    * as one call: decode, derive partition columns, then per-tipo
    * `Sinks.appendNewCompetencias` (all-text DDL create-if-absent, batch
    * append, already-loaded months skipped). Returns per-tipo
    * (appended, skipped) counts. Tipos are bounded (~15), so the
    * driver-side loop is over table names, never data. */
  def runToJdbc(spark: SparkSession, dbcGlob: String, url: String,
                props: java.util.Properties = new java.util.Properties(),
                textType: String = "STRING"): Map[String, (Long, Long)] = {
    // persist: the decode (blast + DBF parse) must run once, not once for
    // the tipo listing plus once per tipo table
    val decoded = decode(spark, dbcGlob).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val tipos = decoded.select("tipo_arquivo").distinct()
        .collect().map(_.getString(0)).sorted
      tipos.map { tipo =>
        val t = decoded.filter(col("tipo_arquivo") === tipo).drop("tipo_arquivo")
        tipo -> Sinks.appendNewCompetencias(
          t, url, s"datasus_$tipo".toLowerCase, props, textType = textType)
      }.toMap
    } finally decoded.unpersist()
  }
}
