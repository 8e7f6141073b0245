package graft.sources.v2

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, MetadataAttribute}
import org.apache.spark.sql.connector.catalog.{MetadataColumn, SupportsMetadataColumns, SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder, Transform}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns, SupportsReportOrdering}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import graft.sources.{DatasusEtl, Dbc, Dbf}

/** DataSource V2 connector for DATASUS `.dbc` / `.dbf` files:
  * `spark.read.format("dbc").load(glob)` (SURVEY §7 step 2's end state —
  * the decode scan S7 as a first-class source instead of a library call).
  *
  * Design for scale:
  *  - one InputPartition per file — a .dbc body is a single DCL stream
  *    (not splittable), but a 100 TB month is tens of thousands of files,
  *    which is exactly executor-grain parallelism;
  *  - schema from the first file's UNCOMPRESSED header prefix — schema
  *    inference never decompresses anything (parquet-footer-cheap);
  *  - column pruning pushed into the record parser: only requested fields
  *    are materialized from the fixed-width rows (SupportsPushDown
  *    RequiredColumns), the row-format analog of parquet ReadSchema;
  *  - records are framed and decoded by [[Dbf.recordsPrunedStream]]
  *    (`.dbc`, through the Blast window) or [[Dbf.recordsPruned]] (`.dbf`),
  *    the readers the DBF fuzz suites drive;
  *  - metadata columns, constant per file: `_file` (the source path) and
  *    the P7 name columns `arquivo`, `tipo_arquivo`, `uf`, `competencia`
  *    ([[DatasusEtl.fileNameParts]]: the rule [[DatasusEtl.withFileMeta]]
  *    applies per row, computed once per file). Because every
  *    partition is one file, the scan reports each partition as sorted by
  *    the name columns it outputs, lake partition columns
  *    ([[DatasusEtl.PartitionColumns]]) first, so a lake write partitioned
  *    by them plans no local sort;
  *  - files are listed and opened with the session's Hadoop configuration
  *    (`spark.hadoop.*` and runtime `fs.*` settings: object-store
  *    credentials, custom filesystems), shipped to the readers serialized.
  */
class DbcDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "dbc"

  private def paths(options: CaseInsensitiveStringMap): Seq[String] = {
    val merged = Option(options.get("paths")).map(_.split(",").toSeq)
      .getOrElse(Seq.empty) ++ Option(options.get("path")).toSeq
    require(merged.nonEmpty, "dbc source: no path specified")
    merged
  }

  // one per load: Spark calls inferSchema and getTable on the same instance
  private lazy val hadoopConf: Configuration =
    org.apache.spark.sql.classic.SparkSession.active.sessionState.newHadoopConf()

  private def listFiles(globs: Seq[String]): Seq[String] =
    globs.flatMap { g =>
      val p = new Path(g)
      val fs = p.getFileSystem(hadoopConf)
      Option(fs.globStatus(p)).toSeq.flatten.filter(_.isFile).map(_.getPath.toString)
    }.sorted

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val files = listFiles(paths(options))
    require(files.nonEmpty, s"dbc source: no files match ${paths(options)}")
    val p = new Path(files.head)
    val fs = p.getFileSystem(hadoopConf)
    val in = fs.open(p)
    val head = try {
      val buf = new Array[Byte](65536)
      var n = 0
      var eof = false
      while (n < buf.length && !eof) {
        val r = in.read(buf, n, buf.length - n)
        if (r < 0) eof = true else n += r
      }
      buf
    } finally in.close()
    StructType(Dbf.parseHeader(head).fields.map(f =>
      StructField(f.name.toLowerCase, StringType, nullable = true)))
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    new DbcTable(schema, listFiles(paths(opts)), hadoopConf)
  }
}

/** Alias provider so `format("dbf")` also resolves (same reader — the
  * path extension decides whether a blast decompression runs). */
class DbfDataSource extends DbcDataSource {
  override def shortName(): String = "dbf"
}

object DbcTable {
  val FileColumn = "_file"

  /** The per-file name columns, in the order the scan reports them as
    * each partition's sort order: the lake's partition columns first. */
  val OrderedNameColumns: Seq[String] = DatasusEtl.PartitionColumns :+ "arquivo"
}

class DbcTable(schema: StructType, files: Seq[String], conf: Configuration)
    extends Table with SupportsRead with SupportsMetadataColumns {
  override def name(): String = s"dbc(${files.size} files)"
  override def schema(): StructType = schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava

  // the name columns carry no comment: a column taken from a metadata
  // column keeps its comment, which a lake write stores in the file footer.
  // The partition columns are non-null (a file name always yields them, ""
  // when it does not match the rule): Spark maps a nullable string
  // partition column's "" to null in a projection, which would hide the
  // order the scan reports
  override def metadataColumns(): Array[MetadataColumn] =
    (new MetadataColumn {
      override def name(): String = DbcTable.FileColumn
      override def dataType(): DataType = StringType
      override def comment(): String = "source file path"
    } +: DatasusEtl.NameColumns.map(n => new MetadataColumn {
      override def name(): String = n
      override def dataType(): DataType = StringType
      override def isNullable: Boolean = !DatasusEtl.PartitionColumns.contains(n)
    })).toArray

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new DbcScanBuilder(schema, files, conf,
      // per-read option, OR the fleet-wide knob every Spark file source
      // honors (spark.sql.files.ignoreCorruptFiles) — so an operator who
      // already runs parquet/orc permissively gets the same posture here
      // without learning a source-specific option. Captured at planning
      // time on the driver, like FileSourceScanExec does.
      permissive = "permissive".equalsIgnoreCase(options.getOrDefault("mode", "strict")) ||
        org.apache.spark.sql.internal.SQLConf.get.ignoreCorruptFiles)
}

class DbcScanBuilder(fullSchema: StructType, files: Seq[String], conf: Configuration,
                     permissive: Boolean)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = fullSchema

  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema

  override def build(): Scan = new DbcScan(fullSchema, required, files, conf, permissive)
}

class DbcScan(fullSchema: StructType, required: StructType, files: Seq[String],
              conf: Configuration, permissive: Boolean)
    extends Scan with Batch with SupportsReportOrdering {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"DbcScan[${required.fieldNames.mkString(",")}] (${files.size} files)"

  private val isMeta: Array[Boolean] = required.fields.map(f => MetadataAttribute.isValid(f.metadata))

  override def planInputPartitions(): Array[InputPartition] =
    files.map(f => DbcInputPartition(f): InputPartition).toArray

  // broadcast once per scan, as Spark's file sources do: read once per
  // executor instead of once per task
  override def createReaderFactory(): PartitionReaderFactory =
    new DbcReaderFactory(required.fieldNames, isMeta, permissive,
      org.apache.spark.sql.classic.SparkSession.active.sparkContext
        .broadcast(new SerializableConfiguration(conf)))

  /** Every partition is one file, so each name column it outputs holds a
    * single value per partition: sorted, trivially. A name shadowed by a
    * data column is left out (resolving it would be ambiguous). */
  override def outputOrdering(): Array[SortOrder] = {
    val dataNames = fullSchema.fieldNames.toSet
    val metaNames = required.fieldNames.zip(isMeta).collect { case (n, true) => n }.toSet
    DbcTable.OrderedNameColumns
      .filter(c => metaNames.contains(c) && !dataNames.contains(c))
      .map(c => Expressions.sort(Expressions.column(c), SortDirection.ASCENDING))
      .toArray
  }
}

case class DbcInputPartition(path: String) extends InputPartition

class DbcReaderFactory(requiredCols: Array[String], isMeta: Array[Boolean], permissive: Boolean,
                       conf: Broadcast[SerializableConfiguration])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new DbcPartitionReader(partition.asInstanceOf[DbcInputPartition].path,
      requiredCols, isMeta, permissive, conf.value.value)
}

/** Reads one .dbc/.dbf file; materializes only the required fields.
  * `permissive = true` (option mode=permissive) skips undecodable files
  * with a warning instead of failing the task — the operational posture
  * for multi-decade public archives with occasional corrupt members. */
class DbcPartitionReader(path: String, requiredCols: Array[String], isMeta: Array[Boolean],
                         permissive: Boolean, conf: Configuration)
    extends PartitionReader[InternalRow] {

  // per output position: the file's constant for a metadata column, else
  // null; data columns take positions within the PRUNED record array —
  // only required fields are ever decoded
  private val constants: Array[UTF8String] = {
    lazy val parts = DatasusEtl.NameColumns.zip(DatasusEtl.fileNameParts(path)).toMap
    requiredCols.zip(isMeta).map {
      case (_, false) => null
      case (DbcTable.FileColumn, true) => UTF8String.fromString(path)
      case (c, true) => UTF8String.fromString(parts(c))
    }
  }
  private val dataCols = requiredCols.zip(isMeta).collect { case (c, false) => c }
  private val outIdx: Array[Int] = {
    var p = -1
    isMeta.map(m => if (m) -1 else { p += 1; p })
  }

  private lazy val rows: Iterator[Array[String]] =
    try {
      val p = new Path(path)
      val fs = p.getFileSystem(conf)
      val len = fs.getFileStatus(p).getLen
      require(len <= Int.MaxValue - 16,
        s"dbc: file $path is $len bytes; single-stream compressed .dbc beyond 2 GB is unsupported")
      val in = fs.open(p)
      val bytes = try {
        val buf = new Array[Byte](len.toInt)
        in.readFully(0, buf)
        buf
      } finally in.close()
      // .dbc: stream the DECOMPRESSED side through the bounded Blast
      // window — the compressed input is the file's own size, but the
      // output (the side that can blow up) never materializes
      val (header, records) =
        if (path.toLowerCase.endsWith(".dbc")) {
          val (h, body) = Dbc.stream(bytes)
          (h, (idx: Array[Int]) => Dbf.recordsPrunedStream(h, body, idx))
        } else {
          val h = Dbf.parseHeader(bytes)
          (h, (idx: Array[Int]) => Dbf.recordsPruned(bytes, h, idx))
        }
      // resolve required names against THIS file's own header — under the
      // 87-vs-92-column monthly drift a positional mapping from the first
      // file would silently read wrong fixed-width offsets
      val fileCols = header.fields.map(_.name.toLowerCase)
      val idx = dataCols.map(c => fileCols.indexOf(c))
      if (idx.contains(-1)) {
        // columns absent in this file: decode the present ones, null the rest
        val present = idx.zipWithIndex.filter(_._1 >= 0)
        records(present.map(_._1)).map { arr =>
          val row = new Array[String](dataCols.length)
          present.map(_._2).zipWithIndex.foreach { case (outPos, i) => row(outPos) = arr(i) }
          row
        }
      } else records(idx)
    } catch {
      case e: Exception if permissive =>
        org.slf4j.LoggerFactory.getLogger(getClass)
          .warn(s"dbc permissive mode: skipping undecodable file $path: ${e.getMessage}")
        Iterator.empty
    }

  /** Permissive mode must also absorb LAZY decode failures: the streaming
    * path surfaces mid-file corruption from the iterator, not at
    * construction. Rows decoded before the failure have already been
    * emitted (documented semantics: a corrupt tail truncates the file). */
  private def guarded(it: Iterator[Array[String]]): Iterator[Array[String]] =
    if (!permissive) it
    else new Iterator[Array[String]] {
      // The streaming decode (Dbf.recordsPrunedStream) does its work in the
      // underlying next() — hasNext alone throws nothing there. Prefetch in
      // hasNext so BOTH calls are guarded: mid-file corruption truncates the
      // iterator instead of failing the task.
      private var dead = false
      private var pending: Array[String] = _
      override def hasNext: Boolean = !dead && (pending != null || {
        try {
          if (it.hasNext) { pending = it.next(); true } else false
        } catch {
          case e: Exception =>
            org.slf4j.LoggerFactory.getLogger(getClass)
              .warn(s"dbc permissive mode: truncating corrupt file $path: ${e.getMessage}")
            dead = true
            false
        }
      })
      override def next(): Array[String] = {
        if (!hasNext) throw new NoSuchElementException("next on exhausted dbc iterator")
        val r = pending; pending = null; r
      }
    }

  private lazy val safeRows = guarded(rows)

  private var current: Array[String] = _

  override def next(): Boolean = {
    if (safeRows.hasNext) { current = safeRows.next(); true } else false
  }

  override def get(): InternalRow = {
    val vals = new Array[Any](outIdx.length)
    var i = 0
    while (i < outIdx.length) {
      vals(i) = outIdx(i) match {
        case -1 => constants(i)
        case j => if (current(j) == null) null else UTF8String.fromString(current(j))
      }
      i += 1
    }
    new GenericInternalRow(vals)
  }

  override def close(): Unit = ()
}
