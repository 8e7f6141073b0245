package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.EtlFixtures
import graft.sources.v2.DbcTable

/** DSv2 "dbc" format: discovery by short name, schema from the
  * uncompressed header, column pruning, and the _file metadata column. */
class DbcV2Spec extends AnyFunSuite {
  import SparkTestSession._

  private lazy val base = EtlFixtures.ensure(spark, sf)

  test("format(\"dbc\") reads the same rows as the library reader") {
    val v2 = spark.read.format("dbc").load(s"$base/RD*.dbc")
    assert(v2.schema.fieldNames.toSeq == EtlFixtures.dbfCols)
    assert(v2.schema.fields.forall(_.dataType.typeName == "string"))
    val lib = graft.sources.DatasusEtl.readDbc(spark, s"$base/RD*.dbc")
    assert(v2.count() == lib.count())
    val a = v2.agg(sum(col("orderkey").cast("long"))).collect()(0).getLong(0)
    val b = lib.agg(sum(col("orderkey").cast("long"))).collect()(0).getLong(0)
    assert(a == b)
  }

  test("column pruning reaches the scan (ReadSchema analog)") {
    val df = spark.read.format("dbc").load(s"$base/RD*.dbc").select("status")
    val scans = df.queryExecution.executedPlan.collectLeaves()
    assert(scans.exists(_.toString.contains("DbcScan[status]")),
      s"pruned scan missing in:\n${df.queryExecution.executedPlan}")
    assert(df.distinct().count() > 0)
  }

  test("_file metadata column supports P7 partition derivation") {
    val df = spark.read.format("dbc").load(s"$base/RD*.dbc")
      .select(col("_file"), col("orderkey"))
      .withColumn("uf", regexp_extract(element_at(split(col("_file"), "/"), -1),
        "^([A-Z]+?)([A-Z]{2})(\\d{4})\\.", 2))
    val ufs = df.select("uf").distinct().collect().map(_.getString(0)).toSet
    assert(ufs == EtlFixtures.ufOf.values.toSet)
  }

  test("schema drift: columns resolve by name per file, missing columns null") {
    val dir = java.nio.file.Files.createTempDirectory("graft_drift").toFile
    // first file defines the table schema (a, b); second file has the
    // columns REORDERED plus an extra; third lacks column b entirely
    val f1 = graft.sources.Dbc.fromDbf(graft.sources.Dbf.write(
      Seq("A", "B"), Seq(Seq("a1", "b1"))))
    val f2 = graft.sources.Dbc.fromDbf(graft.sources.Dbf.write(
      Seq("B", "X", "A"), Seq(Seq("b2", "x2", "a2"))))
    val f3 = graft.sources.Dbc.fromDbf(graft.sources.Dbf.write(
      Seq("A"), Seq(Seq("a3"))))
    java.nio.file.Files.write(new java.io.File(dir, "F1PE2501.dbc").toPath, f1)
    java.nio.file.Files.write(new java.io.File(dir, "F2PE2501.dbc").toPath, f2)
    java.nio.file.Files.write(new java.io.File(dir, "F3PE2501.dbc").toPath, f3)
    val got = spark.read.format("dbc").load(s"$dir/*.dbc")
      .select("a", "b").collect()
      .map(r => (r.getString(0), Option(r.getString(1)))).toSet
    assert(got == Set(("a1", Some("b1")), ("a2", Some("b2")), ("a3", None)))
  }

  test("permissive mode skips a corrupt file; strict mode fails") {
    val dir = java.nio.file.Files.createTempDirectory("graft_perm").toFile
    val good = graft.sources.Dbc.fromDbf(
      graft.sources.Dbf.write(Seq("A", "B"), Seq(Seq("1", "x"), Seq("2", "y"))))
    java.nio.file.Files.write(new java.io.File(dir, "OKPE2501.dbc").toPath, good)
    val corrupt = good.take(good.length - 8) // truncated compressed body
    java.nio.file.Files.write(new java.io.File(dir, "BADPE2501.dbc").toPath, corrupt)
    val strict = spark.read.format("dbc").load(s"$dir/*.dbc")
    assertThrows[org.apache.spark.SparkException](strict.count())
    val permissive = spark.read.format("dbc").option("mode", "permissive")
      .load(s"$dir/*.dbc")
    assert(permissive.count() == 2)
    // the fleet-wide knob every Spark file source honors must work too:
    // an operator running parquet/orc with ignoreCorruptFiles=true gets
    // the same posture here without a source-specific option
    spark.conf.set("spark.sql.files.ignoreCorruptFiles", "true")
    try assert(spark.read.format("dbc").load(s"$dir/*.dbc").count() == 2)
    finally spark.conf.set("spark.sql.files.ignoreCorruptFiles", "false")
    assertThrows[org.apache.spark.SparkException](
      spark.read.format("dbc").load(s"$dir/*.dbc").count())
  }

  test("permissive mode truncates MID-file corruption to the rows already decoded") {
    // a large file whose compressed tail is cut: the streaming decoder
    // surfaces the failure from the row iterator (lazy next()), not at
    // construction — permissive mode must emit the prefix decoded so far
    // instead of failing the task
    val dir = java.nio.file.Files.createTempDirectory("graft_midperm").toFile
    val rows = (1 to 2000).map(i => Seq(f"$i%06d", s"v${i % 10}"))
    val full = graft.sources.Dbc.fromDbf(
      graft.sources.Dbf.write(Seq("A", "B"), rows))
    val corrupt = full.take(full.length - 6)
    java.nio.file.Files.write(new java.io.File(dir, "MIDPE2501.dbc").toPath, corrupt)
    val strict = spark.read.format("dbc").load(s"$dir/*.dbc")
    assertThrows[org.apache.spark.SparkException](strict.count())
    val n = spark.read.format("dbc").option("mode", "permissive")
      .load(s"$dir/*.dbc").count()
    assert(n > 0 && n < 2000, s"expected a decoded prefix, got $n rows")
  }

  test("format(\"dbc\") lists and opens files with the session's Hadoop settings") {
    // the scheme is known only to this session's conf: a source that built
    // its own Configuration could neither list nor open these files
    val dir = java.nio.file.Files.createTempDirectory("graft_fs").toFile
    val rows = (1 to 30).map(i => Seq(i.toString, s"v$i"))
    java.nio.file.Files.write(new java.io.File(dir, "FSPE2501.dbc").toPath,
      graft.sources.Dbc.fromDbf(graft.sources.Dbf.write(Seq("A", "B"), rows)))
    val key = s"fs.${SessionOnlyFs.Scheme}.impl"
    spark.conf.set(key, classOf[SessionOnlyFs].getName)
    try {
      val df = spark.read.format("dbc").load(s"${SessionOnlyFs.Scheme}://${dir.getPath}/*.dbc")
      val got = df.select(col("_file"), col("a"), col("b")).collect()
      assert(got.map(r => Seq(r.getString(1), r.getString(2))).toSeq.sortBy(_.head.toInt) == rows)
      assert(got.forall(_.getString(0).startsWith(s"${SessionOnlyFs.Scheme}:")))
    } finally spark.conf.unset(key)
  }

  test("format(\"dbc\") rows equal Dbf.records under the name rule (seeded random tables)") {
    import graft.sources.{DatasusEtl, Dbc, Dbf}
    import spark.implicits._
    // file names pin the per-file parse to withFileMeta's regex semantics:
    // (path under the table's directory, expected tipo, uf, competencia)
    val names = Seq(
      ("PAPE2501.dbc", "PA", "PE", "2501"),
      ("RDSP0912.dbc", "RD", "SP", "0912"),
      ("ABCDEFPE1234.dbc", "ABCDEF", "PE", "1234"), // lazy tipo
      ("data.dbc", "", "", ""),                     // no match: empty, not null
      ("papE2501.dbc", "", "", ""),                 // lower case
      ("PAPE2501.tar.dbc", "PA", "PE", "2501"),     // extra dots after the rule
      ("PA.PE2501.dbc", "", "", ""),                // a dot inside the rule
      ("PAPE25011.dbc", "", "", ""),                // five digits
      ("PE2501.dbc", "", "", ""),                   // no tipo
      ("x.y/PSAL2312.dbc", "PS", "AL", "2312"),     // dotted directory
      ("a/b/c/ABPB2001.dbc", "AB", "PB", "2001"),   // nested directories
      ("PAPE2501.DBC", "PA", "PE", "2501"))         // upper-case extension
    val rnd = new scala.util.Random(4242L)
    def char(): Char = rnd.nextInt(10) match {
      case 0 | 1 | 2 => (0x21 + rnd.nextInt(0x5F)).toChar // ASCII, 0x7F included
      case 3 | 4 | 5 => (0x80 + rnd.nextInt(0x80)).toChar // latin1's upper half
      case 6 | 7 => ' '
      case _ => rnd.nextInt(0x21).toChar                  // bytes <= 0x20
    }
    def value(len: Int): String =
      if (rnd.nextInt(5) == 0) " " * len // all blank
      else Seq.fill(len)(char()).mkString
    val root = java.nio.file.Files.createTempDirectory("graft_equiv").toFile
    val checkedNames = scala.collection.mutable.Set.empty[String]
    for (t <- 0 until 3 * names.size) {
      val (name, tipo, uf, competencia) = names(t % names.size)
      val nFields = 1 + rnd.nextInt(6)
      val widths = Seq.fill(nFields)(rnd.nextInt(5) match {
        case 0 => 1
        case 1 => 254
        case _ => 1 + rnd.nextInt(254)
      })
      val nRows = if (t == 5) 0 else 1 + rnd.nextInt(25)
      // Dbf.write sizes a field by its longest value: the first row is full width
      val rows = (0 until nRows).map(r => widths.map(w => value(if (r == 0) w else rnd.nextInt(w + 1))))
      val dbf = Dbf.write(widths.indices.map(i => s"F$i"), rows)
      val h = Dbf.parseHeader(dbf)
      (0 until nRows).foreach { r =>
        val flag = h.headerSize + r * h.recordSize
        if (t == 17 || (r > 0 && rnd.nextInt(4) == 0)) dbf(flag) = 0x2A // deleted
        else if (rnd.nextInt(10) == 0) dbf(flag) = 0x00 // any other flag is live
      }
      // .dbc with coded literals, .dbc with raw literals, and .dbf: each
      // name is read in all three forms
      val (bytes, fileName) = (t + t / names.size) % 3 match {
        case 0 => (Dbc.fromDbf(dbf), name)
        case 1 => (Dbc.fromDbf(dbf, coded = false), name)
        case _ => (dbf, name.dropRight(4) + ".dbf")
      }
      val file = new java.io.File(root, s"t$t/$fileName")
      file.getParentFile.mkdirs()
      java.nio.file.Files.write(file.toPath, bytes)
      val path = "file:" + file.getAbsolutePath
      val expected = Dbf.records(dbf).map(_.toSeq).toSeq
      val df = spark.read.format("dbc").load(file.getPath)
      val dataCols = df.columns.toSeq
      assert(dataCols == widths.indices.map(i => s"f$i"))
      val ctx = s"table $t ($fileName, widths $widths)"

      val full = df.collect().map(r => dataCols.indices.map(r.getString)).toSeq
      assert(full == expected, ctx)

      val metaCols = DbcTable.FileColumn +: DatasusEtl.NameColumns
      val meta = Map(DbcTable.FileColumn -> path, "arquivo" -> path.substring(path.lastIndexOf('/') + 1),
        "tipo_arquivo" -> tipo, "uf" -> uf, "competencia" -> competencia)
      val picked = rnd.shuffle(rnd.shuffle(dataCols).take(1 + rnd.nextInt(dataCols.size)) ++
        rnd.shuffle(metaCols).take(rnd.nextInt(metaCols.size + 1)))
      val pruned = df.select(picked.map(col): _*).collect().map(r => picked.indices.map(r.getString)).toSeq
      assert(pruned == expected.map(rec => picked.map(c =>
        if (meta.contains(c)) meta(c) else rec(dataCols.indexOf(c)))), s"$ctx, columns $picked")

      if (expected.nonEmpty) {
        val scanned = df.select(metaCols.map(col): _*).distinct().collect()
        assert(scanned.length == 1, ctx)
        val got = metaCols.indices.map(scanned.head.getString)
        assert(got == metaCols.map(meta), ctx)
        // the same parse, per row, by the reference rule
        val perRow = DatasusEtl.withFileMeta(Seq(path).toDF("_path"))
          .select(DatasusEtl.NameColumns.map(col): _*).head()
        assert(got.tail == DatasusEtl.NameColumns.indices.map(perRow.getString), ctx)
        checkedNames += name
      }
    }
    assert(checkedNames == names.map(_._1).toSet)
  }

  test("one partition per file (executor-grain parallelism)") {
    val df = spark.read.format("dbc").load(s"$base/RD*.dbc")
    assert(df.rdd.getNumPartitions == 5)
  }
}

/** A local filesystem under its own scheme, for sources that must honour
  * the session's Hadoop settings (`fs.<scheme>.impl`). */
class SessionOnlyFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create(s"${SessionOnlyFs.Scheme}:///")
  override def getScheme: String = SessionOnlyFs.Scheme
}

object SessionOnlyFs {
  val Scheme = "graftsessionfs"
}
