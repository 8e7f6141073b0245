package graft.sources

import java.util.zip.ZipInputStream

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** The reference's ingest spine re-expressed Spark-first (SURVEY §2.1):
  * binaryFile scan → ZIP member explode (S5/S6) → DBC→DBF decode (S7) →
  * all-string records + file-name partition derivation (P5/P7).
  *
  * The reference does this through four process/node boundaries (Bull
  * queues, HTTP to a Flask converter, psycopg2 —
  * /root/reference/src/datasus/datasus.service.ts:498-552); here it is one
  * narrow DataFrame pipeline: each file decodes independently inside a
  * task (embarrassingly parallel — 1000 executors decode 1000 files), and
  * nothing touches the driver.
  */
object DatasusEtl {

  /** The DATASUS file-name rule (naming FLUXO_DBC.md:93-95): a base name
    * like PAPE2501.dbc is tipo `PA`, uf `PE`, competência `2501`. */
  val FileNameRule: String = "^([A-Z]+?)([A-Z]{2})(\\d{4})\\."
  private val fileNamePattern = java.util.regex.Pattern.compile(FileNameRule)

  /** The name columns a lake is partitioned by ([[Sinks.writeLake]]). */
  val PartitionColumns: Seq[String] = Seq("tipo_arquivo", "uf", "competencia")

  /** The columns [[withFileMeta]] derives, in [[fileNameParts]]'s order. */
  val NameColumns: Seq[String] = "arquivo" +: PartitionColumns

  /** [[NameColumns]] of one path, computed once per file by the `dbc`
    * source: exactly `withFileMeta`'s expressions — the base name after
    * the last `/`, and `regexp_extract`'s groups of [[FileNameRule]]
    * (empty strings when the name does not match). */
  def fileNameParts(path: String): Array[String] = {
    val base = path.substring(path.lastIndexOf('/') + 1)
    val m = fileNamePattern.matcher(base)
    if (m.find()) Array(base, m.group(1), m.group(2), m.group(3))
    else Array(base, "", "", "")
  }

  /** P7: derive (arquivo, tipo_arquivo, uf, competencia) from DATASUS file
    * names like PAPE2501.dbc (reference response fields
    * src/datasus/datasus.service.ts:23-27). The rule, [[FileNameRule]], is
    * shared with the `dbc` source, which offers the same four columns per
    * file as metadata columns (see [[graft.sources.v2.DbcDataSource]]). */
  def withFileMeta(df: DataFrame, pathCol: String = "_path"): DataFrame = {
    val base = element_at(split(col(pathCol), "/"), -1)
    df.withColumn("arquivo", base)
      .withColumn("tipo_arquivo", regexp_extract(base, FileNameRule, 1))
      .withColumn("uf", regexp_extract(base, FileNameRule, 2))
      .withColumn("competencia", regexp_extract(base, FileNameRule, 3))
      .drop(pathCol)
  }

  private def headerFromFirstFile(spark: SparkSession, glob: String, dbc: Boolean): Dbf.Header = {
    val conf = spark.sparkContext.hadoopConfiguration
    val path = new org.apache.hadoop.fs.Path(glob)
    val fs = path.getFileSystem(conf)
    val first = fs.globStatus(path).filter(_.isFile).map(_.getPath).sortBy(_.getName).headOption
      .getOrElse(throw new IllegalArgumentException(s"no files match $glob"))
    val in = fs.open(first)
    val head = try {
      val buf = new Array[Byte](65536)
      var n = 0
      while (n < buf.length) {
        val r = in.read(buf, n, buf.length - n)
        if (r < 0) { n = buf.length } else n += r // best effort fill
      }
      buf
    } finally in.close()
    // .dbc keeps the DBF header uncompressed at the front — schema inference
    // never decompresses (cheap driver-side peek, like parquet footers).
    Dbf.parseHeader(head)
  }

  private def schemaFor(h: Dbf.Header): StructType =
    StructType(StructField("_path", StringType, nullable = false) +:
      h.fields.map(f => StructField(f.name.toLowerCase, StringType, nullable = true)))

  /** Read a glob of .dbc (or .dbf) files into an all-string DataFrame with
    * a `_path` column. Column set comes from the first file's header;
    * files with drifting schemas must be read per-group and merged with
    * unionByName (the reference observes 87- vs 92-column drift,
    * ESTRUTURA_DADOS_PROCESSADOS.md:44-59). */
  def readDbc(spark: SparkSession, glob: String): DataFrame =
    readBinary(spark, glob, dbc = true)

  def readDbf(spark: SparkSession, glob: String): DataFrame =
    readBinary(spark, glob, dbc = false)

  private def readBinary(spark: SparkSession, glob: String, dbc: Boolean): DataFrame = {
    val schema = schemaFor(headerFromFirstFile(spark, glob, dbc))
    val nCols = schema.length - 1
    val bin = spark.read.format("binaryFile").load(glob)
      .select(col("path"), col("content"))
    val rows = bin.rdd.flatMap { r =>
      val path = r.getString(0)
      val bytes = r.getAs[Array[Byte]](1)
      val dbf = if (dbc) Dbc.toDbf(bytes) else bytes
      Dbf.records(dbf).map { arr =>
        val padded = if (arr.length >= nCols) arr.take(nCols) else arr ++ Array.fill(nCols - arr.length)(null: String)
        Row.fromSeq(path +: padded.toSeq)
      }
    }
    spark.createDataFrame(rows, schema)
  }

  /** Schema-drift merge (SURVEY §7 risk 2): monthly DATASUS files drift
    * between 87 and 92 columns (ESTRUTURA_DADOS_PROCESSADOS.md:44-59).
    * Specified semantics: union by column NAME, absent columns null —
    * exactly `unionByName(allowMissingColumns = true)` folded over the
    * per-schema-group reads. */
  def unionWithDrift(dfs: Seq[DataFrame]): DataFrame = {
    require(dfs.nonEmpty, "unionWithDrift: no inputs")
    dfs.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** S5: explode ZIP archives (binaryFile rows) into (zip_path, member
    * name, bytes), keeping only `.dbc` members (P1 extension filter,
    * reference src/datasus/datasus.service.ts:398-401). Runs inside tasks;
    * Spark's spill machinery replaces the reference's explicit temp-dir
    * bookkeeping (S6). */
  def zipExplode(spark: SparkSession, zipGlob: String): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile").load(zipGlob)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (path, bytes) => explodeZipMembers(path, bytes) }
      .toDF("zip_path", "member", "content")
  }

  /** Per-member extraction cap: a crafted archive (zip bomb) must fail
    * by name before it inflates a task's heap, the same
    * allocation-proportionality discipline as the codec tier. DATASUS
    * members are 30–150 MB; 1 GiB is an order of magnitude of slack. */
  val MaxZipMemberBytes: Int = 1 << 30

  /** The pure per-archive member walk behind [[zipExplode]], under the
    * engine-wide untrusted-bytes contract (see CodecFuzzSpec): extract,
    * or throw a named IllegalArgumentException. A corrupt archive from
    * an upstream mirror would otherwise surface as a raw ZipException
    * that kills the task (and after the retries, the 100 TB job) with
    * no indication of WHICH file was bad. */
  def explodeZipMembers(path: String, bytes: Array[Byte]): Seq[(String, String, Array[Byte])] = {
    val zis = new ZipInputStream(new java.io.ByteArrayInputStream(bytes))
    try {
      val out = Seq.newBuilder[(String, String, Array[Byte])]
      var e = zis.getNextEntry
      while (e != null) {
        if (!e.isDirectory && e.getName.toLowerCase.endsWith(".dbc")) {
          val buf = new java.io.ByteArrayOutputStream()
          val tmp = new Array[Byte](8192)
          var n = zis.read(tmp)
          while (n > 0) {
            require(buf.size() + n <= MaxZipMemberBytes,
              s"zip member ${e.getName} in $path exceeds $MaxZipMemberBytes bytes")
            buf.write(tmp, 0, n)
            n = zis.read(tmp)
          }
          out += ((path, e.getName, buf.toByteArray))
        }
        e = zis.getNextEntry
      }
      out.result()
    } catch {
      case e: java.io.IOException =>
        throw new IllegalArgumentException(s"corrupt ZIP archive $path: ${e.getMessage}", e)
    } finally zis.close()
  }

  /** Decode exploded ZIP members (from [[zipExplode]]) with a known column
    * list into the same all-string shape as [[readDbc]]. */
  def decodeMembers(df: DataFrame, colNames: Seq[String]): DataFrame = {
    val spark = df.sparkSession
    val schema = StructType(StructField("_path", StringType, nullable = false) +:
      colNames.map(n => StructField(n, StringType, nullable = true)))
    val nCols = colNames.length
    val rows = df.select(col("member"), col("content")).rdd.flatMap { r =>
      val member = r.getString(0)
      val dbf = Dbc.toDbf(r.getAs[Array[Byte]](1))
      Dbf.records(dbf).map { arr =>
        val padded = if (arr.length >= nCols) arr.take(nCols) else arr ++ Array.fill(nCols - arr.length)(null: String)
        Row.fromSeq(member +: padded.toSeq)
      }
    }
    spark.createDataFrame(rows, schema)
  }
}
