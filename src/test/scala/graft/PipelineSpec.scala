package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.EtlFixtures

/** End-to-end pipeline: decode -> partitioned lake -> report, idempotent. */
class PipelineSpec extends AnyFunSuite {
  import SparkTestSession._

  test("pipeline loads the lake, reports totals, and re-runs idempotently") {
    val base = EtlFixtures.ensure(spark, sf)
    val lake = java.nio.file.Files.createTempDirectory("graft_pipe").toFile.getPath + "/lake"

    val r1 = Pipeline.run(spark, s"$base/RD*.dbc", lake)
    val s1 = r1.summary.collect()(0)
    val nOrders = Tables.orders(spark, sf).count()
    assert(s1.getAs[Long]("total_registros_inseridos") == nOrders)
    assert(s1.getAs[Long]("tabelas_distintas") == 1)
    assert(s1.getAs[Long]("arquivos_processados") == 5)

    val per = r1.perTable.collect()(0)
    assert(per.getAs[scala.collection.Seq[String]]("competencias_existentes").toSeq == Seq("2501"))

    // month re-load: same totals, no duplicate append
    val r2 = Pipeline.run(spark, s"$base/RD*.dbc", lake)
    assert(r2.summary.collect()(0).getAs[Long]("total_registros_inseridos") == nOrders)

    // lake reads partition-prune on uf
    val one = spark.read.parquet(lake).filter(col("uf") === "PE")
    assert(one.count() > 0 && one.count() < nOrders)
  }

  test("run leaves the session's SQL conf as it found it and keeps zero-padded competências") {
    val dir = java.nio.file.Files.createTempDirectory("graft_pipe_conf").toFile
    val rows = (1 to 40).map(i => Seq(i.toString, s"v${i % 3}"))
    java.nio.file.Files.write(new java.io.File(dir, "PAPE0501.dbc").toPath,
      graft.sources.Dbc.fromDbf(graft.sources.Dbf.write(Seq("A", "B"), rows)))
    java.nio.file.Files.write(new java.io.File(dir, "PAAL0501.dbc").toPath,
      graft.sources.Dbc.fromDbf(graft.sources.Dbf.write(Seq("A", "B"), rows.take(10))))
    val lake = dir.getPath + "/lake"
    // partition-type inference at its default (on): competência must stay
    // a string without the caller's session being changed
    spark.conf.unset("spark.sql.sources.partitionColumnTypeInference.enabled")
    val before = spark.conf.getAll
    val r = Pipeline.run(spark, s"$dir/*.dbc", lake)
    val after = spark.conf.getAll
    assert(after == before,
      s"run changed the session conf: ${(after.toSet diff before.toSet) ++ (before.toSet diff after.toSet)}")
    val per = r.perTable.collect()(0)
    assert(per.getAs[String]("tabela") == "PA")
    assert(per.getAs[Long]("total_registros") == 50)
    assert(per.getAs[scala.collection.Seq[String]]("competencias_existentes").toSeq == Seq("0501"))
    // the Spark schema in the lake's file footers: the records and
    // `arquivo`, all nullable, with no field metadata carried over from
    // the source's metadata columns (a read would hide both: Spark reads
    // parquet columns back as nullable)
    val part = new java.io.File(lake, "tipo_arquivo=PA/uf=PE/competencia=0501")
      .listFiles().filter(_.getName.endsWith(".parquet")).head
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(part.getPath), spark.sparkContext.hadoopConfiguration))
    val fileSchema = try org.apache.spark.sql.types.DataType.fromJson(reader.getFooter.getFileMetaData
        .getKeyValueMetaData.get("org.apache.spark.sql.parquet.row.metadata"))
        .asInstanceOf[org.apache.spark.sql.types.StructType]
      finally reader.close()
    assert(fileSchema.fieldNames.toSeq == Seq("a", "b", "arquivo"))
    assert(fileSchema.forall(f => f.nullable && f.metadata == org.apache.spark.sql.types.Metadata.empty),
      fileSchema.json)
  }
}
