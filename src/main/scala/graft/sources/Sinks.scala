package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Sink layer (SURVEY §2.1 S9/S10, §7 step 4).
  *
  * The reference loads into PostgreSQL one row at a time from a Python
  * loop with hand-rolled dynamic DDL (all-TEXT columns + SERIAL id,
  * /root/reference/ESTRUTURA_DADOS_PROCESSADOS.md:164-203); here both
  * sinks are declarative writes — the JDBC writer batches and creates the
  * table, and the lake sink gets idempotent month re-loads from dynamic
  * partition overwrite instead of the reference's duplicate-append.
  */
object Sinks {

  /** S10: JDBC append with the reference's all-text dynamic DDL semantics
    * (ESTRUTURA_DADOS_PROCESSADOS.md:164-203: every record column TEXT,
    * create-if-absent, then batched INSERT). `createTableColumnTypes`
    * takes SPARK SQL types — STRING maps to the dialect's text type
    * (TEXT on PostgreSQL, exactly the reference's DDL; CLOB on Derby),
    * or pass e.g. "VARCHAR(4096)" to pin a width. `batchsize` replaces
    * the reference converter's row-at-a-time psycopg2 loop
    * (OTIMIZACAO_API_PYTHON.md:156-167 measured 10-50x from batching).
    * Exercised end-to-end against embedded Derby in JdbcSinkSpec. */
  def jdbcOptions(df: DataFrame, batchSize: Int = 10000,
                  textType: String = "STRING"): Map[String, String] = Map(
    "createTableColumnTypes" -> df.schema.fieldNames.map(f => s"$f $textType").mkString(", "),
    "batchsize" -> batchSize.toString,
    "isolationLevel" -> "READ_COMMITTED")

  /** Append `df` with every column cast to string (the reference's
    * stringly-typed record shape); creates the table with all-text DDL if
    * absent. */
  def writeJdbc(df: DataFrame, url: String, table: String,
                props: java.util.Properties = new java.util.Properties(),
                textType: String = "STRING"): Unit = {
    // when(isNotNull, ...) keeps values identical but forces every column
    // NULLABLE: the reference's dynamic DDL is all-nullable TEXT, and a
    // non-nullable literal column (e.g. a lit() competência on first load)
    // would otherwise bake NOT NULL into the created table and reject
    // later batches carrying NULLs
    val allText = df.select(df.columns.map(c =>
      org.apache.spark.sql.functions.when(col(c).isNotNull, col(c).cast("string")).as(c)).toSeq: _*)
    val opts = jdbcOptions(allText, textType = textType)
    allText.write
      .mode("append")
      .option("createTableColumnTypes", opts("createTableColumnTypes"))
      .option("batchsize", opts("batchsize"))
      .jdbc(url, table, props)
  }

  /** Read a JDBC table back through Spark (S12 surface; the DSv2 catalog
    * route is spec'd in JdbcSinkSpec via JDBCTableCatalog). */
  def readJdbc(s: SparkSession, url: String, table: String,
               props: java.util.Properties = new java.util.Properties()): DataFrame =
    s.read.jdbc(url, table, props)

  /** SQLStates that mean exactly "relation does not exist": Derby 42X05,
    * PostgreSQL 42P01, ODBC/MySQL/SQLServer 42S02, legacy S0002. NOT the
    * whole class 42 — it also covers syntax errors and access-rule
    * violations (e.g. PostgreSQL 42501 insufficient_privilege), which must
    * PROPAGATE like connection drops and auth failures: treating them as
    * "table absent" would silently disable the duplicate-load guard and
    * re-append loaded months. */
  private val MissingRelationStates = Set("42X05", "42P01", "42S02", "S0002")

  private[graft] def isMissingRelation(e: Throwable): Boolean = {
    var t: Throwable = e
    while (t != null) {
      t match {
        case sql: java.sql.SQLException
            if Option(sql.getSQLState).exists(MissingRelationStates.contains) => return true
        case _ =>
      }
      t = t.getCause
    }
    false
  }

  /** The reference's `competencias_existentes` check
    * (datasus.service.ts:33): which competência values are already loaded.
    * Empty when the table does not exist yet (missing-relation SQLState
    * only — other failures propagate). The distinct runs in Spark after a
    * column-pruned scan — months are bounded (hundreds), so the result is
    * always driver-small. */
  def existingCompetencias(s: SparkSession, url: String, table: String,
                           props: java.util.Properties = new java.util.Properties(),
                           c: String = "competencia"): Set[String] =
    try readJdbc(s, url, table, props).select(c).distinct()
      .collect().map(_.getString(0)).toSet
    catch {
      case e: Throwable if isMissingRelation(e) => Set.empty // first load
    }

  /** Duplicate-load guard the reference only *detects* with: append ONLY
    * rows whose competência is not already in the table. Returns
    * (appendedRows, skippedRows). The already-loaded set is bounded
    * (months), so the filter is a broadcast-friendly NOT IN. The input is
    * persisted for the duration — it is typically the tail of the full
    * decode pipeline, which must not replay for count + write. */
  def appendNewCompetencias(df: DataFrame, url: String, table: String,
                            props: java.util.Properties = new java.util.Properties(),
                            c: String = "competencia",
                            textType: String = "STRING"): (Long, Long) = {
    val loaded = existingCompetencias(df.sparkSession, url, table, props, c)
    val cached = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val total = cached.count()
      // NULL competência can never equal a loaded month, so such rows are
      // always appended — without the explicit isNull branch, NOT IN
      // evaluates to NULL and silently drops them once any month is loaded
      // (inconsistent with the loaded.isEmpty path, which keeps them).
      val fresh =
        if (loaded.isEmpty) cached
        else cached.filter(col(c).isNull || !col(c).isin(loaded.toSeq: _*))
      val appended = if (loaded.isEmpty) total else fresh.count()
      if (appended > 0) writeJdbc(fresh, url, table, props, textType)
      (appended, total - appended)
    } finally cached.unpersist()
  }

  /** EXACTLY-ONCE streaming upsert into a JDBC sink (round-9): the
    * `foreachBatch` body that makes the reference's real sink shape
    * (PostgreSQL, ESTRUTURA_DADOS_PROCESSADOS.md:164-203) safe under
    * kill/replay — Structured Streaming's file sinks get exactly-once
    * from the metadata log, but a database sink must supply its own
    * idempotence because a batch can commit to the DB and then die
    * BEFORE the checkpoint commits, so the same batchId replays on
    * restart. Epoch-guard + stage-and-swap:
    *
    *  1. `<table>_EPOCHS(batch_id, writer_id PK)` records committed
    *     batches per writer; a replayed batchId returns immediately
    *     (the guard);
    *  2. the batch stages into `<table>_STAGE` via the normal
    *     executor-parallel batched writer in OVERWRITE mode — a partial
    *     staging write from a previous crash is simply overwritten;
    *  3. one driver-side transaction moves staged rows into the target
    *     AND records the epoch: `INSERT..SELECT; INSERT epoch; COMMIT`
    *     — atomic, so the data and its marker appear together or not
    *     at all. Every crash window replays into either the guard
    *     (committed) or a clean re-stage (not committed).
    *
    * Single-writer contract per (url, table) — the same contract every
    * epoch-guard sink has (Delta/Iceberg txn ids per query) — but the
    * bookkeeping no longer TRUSTS it (round-9 ADVICE): `writerId`
    * (the query/checkpoint identity; [[graft.streaming.StreamingEtl.runToJdbc]]
    * passes its checkpoint path) enters both the epoch key
    * (batch_id, writer_id composite PK) and the staging table name, so
    * two queries streaming into the same (url, table) — or a zombie
    * pre-restart driver racing its replacement — can neither skip each
    * other's batches via a shared batchId nor cross-overwrite a shared
    * stage. Duplicate TARGET rows from two writers are still possible
    * (that is the documented contract violation), but each writer's own
    * exactly-once guarantee now holds independently. Writer identity is
    * keyed by a COLLISION-RESISTANT digest (MD5 hex of `writerId`, the
    * [[graft.queries.Memo.persistedBucketedTable]] naming pattern) in
    * BOTH the epoch row and the stage-table suffix: the previous 31-bit
    * truncated `String.hashCode` suffix let two distinct checkpoint
    * paths silently share one stage (birthday bound ~2^16 writers), and
    * a >512-char path either failed the epoch insert after the target
    * insert or — on length-truncating databases — conflated distinct
    * writers in the replay guard. The digest is fixed-width (32 hex
    * chars), so neither hazard exists regardless of path length. Target
    * and
    * staging share the all-text DDL of [[writeJdbc]]; `textType` must
    * be a concrete SQL type here (e.g. VARCHAR(4096)) because the
    * driver issues its own CREATE. Proven by StreamingRecoverySpec:
    * mid-run kill, restart, no double-insert, final table == batch. */
  def jdbcUpsertBatch(df: DataFrame, batchId: Long, url: String, table: String,
                      props: java.util.Properties = new java.util.Properties(),
                      textType: String = "VARCHAR(4096)",
                      writerId: String = ""): Unit = {
    val epochs = s"${table}_EPOCHS"
    // free-form writer id -> fixed-width collision-resistant key: used
    // verbatim in the epoch rows and (uppercased prefix, to stay a legal
    // unquoted identifier) in the stage-table suffix
    val writerKey =
      if (writerId.isEmpty) ""
      else java.security.MessageDigest.getInstance("MD5")
        .digest(writerId.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val stage =
      if (writerId.isEmpty) s"${table}_STAGE"
      else s"${table}_STAGE_${writerKey.take(16).toUpperCase}"
    def withConn[A](f: java.sql.Connection => A): A = {
      val c = java.sql.DriverManager.getConnection(url, props)
      try f(c) finally c.close()
    }
    def ensureTable(c: java.sql.Connection, ddl: String): Unit =
      try { val st = c.createStatement(); try st.execute(ddl) finally st.close() }
      catch { case e: java.sql.SQLException if isExistingRelation(e) => }
    val alreadyCommitted = withConn { c =>
      ensureTable(c, s"CREATE TABLE $epochs (batch_id BIGINT, " +
        "writer_id VARCHAR(64) NOT NULL, PRIMARY KEY (batch_id, writer_id))")
      // migration probe: epoch rows written before the digest-keyed
      // identity (round 11) store the RAW writerId — in a VARCHAR(512)
      // column, so legacy ids up to 512 chars exist on disk — and the
      // replay guard must match either form, or the first run after an
      // upgrade re-inserts every already-committed batch once, a silent
      // one-time duplicate-row replay. New rows always write the digest.
      // The raw arm runs as a SEPARATE probe: against a post-r11
      // VARCHAR(64) epochs table, binding a longer raw id may raise a
      // parameter-truncation error on strict databases — and an id that
      // cannot fit the column proves no legacy row exists there. ONLY
      // that truncation class (SQLState 22001 / data-exception 22xxx /
      // SQLDataException) is treated as no-match; a transient failure
      // (lock timeout, dropped connection) must propagate so the batch
      // retries — swallowing it would report "no legacy row" and
      // re-insert an already-committed batch, a permanent duplicate.
      // Ids that fit the column (<= 64 chars) probe with no catch at
      // all: no truncation is possible there.
      def probe(id: String): Boolean = {
        val st = c.prepareStatement(
          s"SELECT 1 FROM $epochs WHERE batch_id = ? AND writer_id = ?")
        try {
          st.setLong(1, batchId); st.setString(2, id)
          val rs = st.executeQuery(); rs.next()
        } finally st.close()
      }
      probe(writerKey) ||
        (writerId != writerKey && writerId.length <= 512 && {
          if (writerId.length <= 64) probe(writerId)
          else
            try probe(writerId)
            catch {
              case e: java.sql.SQLException
                  if e.isInstanceOf[java.sql.SQLDataException] ||
                    Option(e.getSQLState).exists(_.startsWith("22")) => false
            }
        })
    }
    if (alreadyCommitted) return
    // stage (overwrite = crash-safe re-stage; executor-parallel batching)
    val allText = df.select(df.columns.map(c =>
      org.apache.spark.sql.functions.when(col(c).isNotNull, col(c).cast("string")).as(c)).toSeq: _*)
    allText.write.mode("overwrite")
      .option("createTableColumnTypes",
        allText.schema.fieldNames.map(f => s"$f $textType").mkString(", "))
      .option("batchsize", "10000")
      .jdbc(url, stage, props)
    // Spark's JDBC writer QUOTES column identifiers (staging gets
    // case-exact names); driver-issued SQL must quote identically or
    // Derby/PostgreSQL fold the unquoted names to a different case
    val cols = df.columns.map(c => s""""$c"""").mkString(", ")
    withConn { c =>
      ensureTable(c, s"CREATE TABLE $table (" +
        df.columns.map(f => s""""$f" $textType""").mkString(", ") + ")")
      c.setAutoCommit(false)
      val st = c.createStatement()
      try {
        st.executeUpdate(s"INSERT INTO $table ($cols) SELECT $cols FROM $stage")
        val ep = c.prepareStatement(
          s"INSERT INTO $epochs (batch_id, writer_id) VALUES (?, ?)")
        try { ep.setLong(1, batchId); ep.setString(2, writerKey); ep.executeUpdate() }
        finally ep.close()
        c.commit()
      } catch { case e: Throwable => c.rollback(); throw e }
      finally st.close()
    }
  }

  /** SQLStates for "relation already exists": Derby X0Y32, PostgreSQL
    * 42P07, ODBC S0001/42S01 — the create-if-absent probe of
    * [[jdbcUpsertBatch]] (narrow by the same rationale as
    * [[MissingRelationStates]]). */
  private val ExistingRelationStates = Set("X0Y32", "42P07", "42S01", "S0001")
  private[graft] def isExistingRelation(e: Throwable): Boolean = {
    var t: Throwable = e
    while (t != null) {
      t match {
        case sql: java.sql.SQLException
            if Option(sql.getSQLState).exists(ExistingRelationStates.contains) => return true
        case _ =>
      }
      t = t.getCause
    }
    false
  }

  /** S11 escape hatch: per-partition push to an external receiver (the
    * reference POSTs multipart bodies to its converter,
    * datasus.service.ts:307-388; in-engine decode makes that obsolete,
    * but systems still need "ship each partition's payload somewhere").
    * `send` runs on executors — it must be serializable and idempotent
    * (task retries re-send). */
  def foreachPartitionPost(df: DataFrame)(send: Iterator[Array[Byte]] => Unit): Unit = {
    val bin = df.schema.fields match {
      case Array(f) if f.dataType == org.apache.spark.sql.types.BinaryType => df
      case _ => df.toJSON.select(org.apache.spark.sql.functions.col("value")
          .cast(org.apache.spark.sql.types.BinaryType))
    }
    bin.foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
      send(rows.map(_.getAs[Array[Byte]](0)))
    }
  }

  /** Partitioned parquet lake with idempotent re-loads: dynamic partition
    * overwrite replaces exactly the (tipo, uf, competencia) partitions in
    * `df`, fixing the reference's duplicate-append gap
    * (datasus.service.ts:33 only *detects* duplicates). Spark sorts each
    * task's rows by the partition columns first unless `df` already
    * reports that order, as the `dbc` source's per-file name columns do. */
  def writeLake(df: DataFrame, outDir: String,
                partitionCols: Seq[String] = DatasusEtl.PartitionColumns): Unit = {
    df.write
      .mode("overwrite")
      // per-write option, not a session-wide conf mutation
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .parquet(outDir)
  }
}
