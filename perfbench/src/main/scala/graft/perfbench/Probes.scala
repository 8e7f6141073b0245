package graft.perfbench

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.execution.FilterExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.NativeEval
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.types.UTF8String

import graft.{Pipeline, SparkEntry}
import graft.operators.ConnectedComponents
import graft.queries.Dedup
import graft.sources.{Blast, DatasusEtl, Dbc, Dbf, Sinks}
import graft.streaming.StreamMeter

/** Per-layer probes of a traced run: each times calls into one layer's
  * public functions on the run's seeded inputs. A workload runs the probes
  * of the layers it exercises; the figures go to the run's artifact. */
final class Probes(s: SparkSession, tr: Tracer) {
  private val out = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  def result: Map[String, Double] = out.toMap
  /** Wrong results a probe found. */
  val errors = scala.collection.mutable.ArrayBuffer.empty[String]
  def put(k: String, v: Double): Unit = out(k) = v

  private def median(xs: Seq[Double]): Double = {
    val v = xs.sorted
    if (v.length % 2 == 1) v(v.length / 2) else (v(v.length / 2 - 1) + v(v.length / 2)) / 2
  }
  private def secs[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime(); val a = body; (a, (System.nanoTime() - t0) / 1e9)
  }
  /** Median seconds of `passes` timed passes after one warm-up pass. */
  private def timed(passes: Int)(body: => Any): Double = {
    body
    median((1 to passes).map(_ => secs(body)._2))
  }
  @volatile private var sink = 0L

  /** Decode (Blast, dBASE, `.dbc`), the DSv2 scan, the lake sink and the
    * load report, on the month. */
  def sources(monthDir: File, spec: Month.Spec, work: File): Probes = {
    val bytes = spec.files.map(f => Files.readAllBytes(new File(monthDir, f).toPath))
    val records = spec.records.toDouble
    var outBytes = 0L
    val explode = tr.span("sources", "Blast.explode")(timed(3) {
      outBytes = bytes.map { b =>
        Blast.explode(b, ((b(8) & 0xFF) | ((b(9) & 0xFF) << 8)) + 4).length.toLong
      }.sum
    })
    put("sources.blast_explode_mb_per_s", outBytes / 1e6 / explode)
    def decode(idx: Array[Int]): Unit = bytes.foreach { b =>
      val (h, body) = Dbc.stream(b)
      val it = Dbf.recordsPrunedStream(h, body, idx)
      while (it.hasNext) sink += it.next().length
    }
    put("sources.dbf_full_ns_per_record", tr.span("sources", "Dbf.full")(
      timed(3)(decode(Month.fields.indices.toArray))) * 1e9 / records)
    put("sources.dbf_pruned_ns_per_record", tr.span("sources", "Dbf.pruned")(
      timed(3)(decode(Array(0, 3, 10)))) * 1e9 / records)

    val glob = s"${monthDir.getPath}/*.dbc"
    put("sources.scan_s", tr.span("sources", "dbc.scan")(timed(1) {
      val wide = s.read.format("dbc").load(glob)
      wide.agg(count(lit(1)), sum(length(concat_ws("|", wide.columns.map(col).toSeq: _*))))
        .collect()
    }))
    val decoded = DatasusEtl.withFileMeta(
      s.read.format("dbc").option("mode", "permissive").load(glob).withColumn("_path", col("_file")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    tr.span("sources", "decode.materialize")(decoded.count())
    val lake = new File(work, "probe_lake")
    put("sources.lake_write_s", tr.span("sources", "Sinks.writeLake")(timed(1) {
      Sinks.writeLake(decoded, lake.getPath)
    }))
    decoded.unpersist(true)
    val (lakeBytes, lakeFiles) = Workloads.dirBytes(lake)
    put("sources.lake_bytes", lakeBytes.toDouble)
    put("sources.lake_files", lakeFiles.toDouble)
    val report = tr.span("sources", "Pipeline.run")(Pipeline.run(s, glob, lake.getPath))
    put("sources.report_s", tr.span("sources", "report")(timed(2) {
      report.perTable.collect(); report.summary.collect()
    }))
    this
  }

  /** Single-thread ns/row of the `NativeEval` bodies over the corpus, and
    * over its candidate pairs for the two-argument bodies. */
  def functions(docsDir: File, planted: Seq[(Long, Long)], seed: Long): Probes = {
    val docs = s.read.parquet(s"$docsDir/documents.parquet").select("doc_id", "text")
      .orderBy("doc_id").collect().map(r => UTF8String.fromString(r.getString(1)))
    val n = docs.length
    val (toks, sh) = tr.span("functions", "inputs") {
      (docs.map(NativeEval.tokenNgrams(_, 1)), docs.map(NativeEval.tokenShingles(_, 3)))
    }
    val pairs = ((0 until n - 1).map(i => (i, i + 1)) ++
      planted.map { case (a, b) => (a.toInt, b.toInt) }).toArray
    // the corpus has no vectors: seeded 64-dimensional ones, one per document
    val rng = new java.util.SplittableRandom(seed)
    val vecs = Array.fill(n)(new GenericArrayData(
      Array.fill[Any](64)(rng.nextDouble() * 2 - 1)): ArrayData)

    def perRow(body: String, rows: Int)(f: Int => Any): Unit = {
      val sec = tr.span("functions", body)(timed(3) {
        var i = 0
        while (i < rows) { sink += f(i).hashCode; i += 1 }
      })
      put(s"functions.${body}_ns_per_row", sec * 1e9 / rows)
    }
    perRow("tokenNgrams", n)(i => NativeEval.tokenNgrams(docs(i), 2))
    perRow("tokenShingles", n)(i => NativeEval.tokenShingles(docs(i), 3))
    perRow("minhashSig", n)(i => NativeEval.minhashSig(sh(i), 128))
    perRow("simhash60", n)(i => NativeEval.simhash60(sh(i)))
    perRow("simhash96", n)(i => NativeEval.simhash96(sh(i)))
    perRow("winnowFingerprint", n)(i => NativeEval.winnowFingerprint(toks(i), 4, 4, 0L))
    perRow("repetitionStats", n)(i => NativeEval.repetitionStats(toks(i)))
    perRow("arrayJaccard", pairs.length)(i => NativeEval.arrayJaccard(sh(pairs(i)._1), sh(pairs(i)._2)))
    perRow("arrayIntersectSize", pairs.length)(i =>
      NativeEval.arrayIntersectSize(sh(pairs(i)._1), sh(pairs(i)._2)))
    perRow("cosineBandKeys", n)(i => NativeEval.cosineBandKeys(vecs(i), 32, 4))
    this
  }

  /** The dedup chain cold and warm on a fresh session, its candidate and
    * verified pair counts from the executed plan's SQL metrics, and
    * connected components on its verified edges. */
  def dedup(docsDir: File): Probes = {
    val s2 = s.newSession()
    val dir = docsDir.getPath
    // building a dedup query's DataFrame already runs its session-cache
    // builds, so the time includes the build
    def run(q: String): (DataFrame, Array[org.apache.spark.sql.Row], Double) = {
      val ((df, rows), sec) = tr.span("queries", q)(secs {
        val df = SparkEntry.queries(q)(s2, dir)
        (df, df.collect())
      })
      (df, rows, sec)
    }
    val (mdf, pairs, mCold) = run("q_dedup_minhash")
    put("queries.q_dedup_minhash_cold_s", mCold)
    put("queries.q_dedup_minhash_warm_s", run("q_dedup_minhash")._3)
    put("queries.q_dedup_keep_cold_s", run("q_dedup_keep")._3)
    put("queries.q_dedup_keep_warm_s", run("q_dedup_keep")._3)

    // candidates enter the exact verify through the join under its filter
    val plan = PlanProbe.flatten(mdf.queryExecution.executedPlan)
    val verify = plan.collectFirst { case f: FilterExec if f.condition.sql.contains("* 5") => f }
    val cand = verify.flatMap(f => PlanProbe.flatten(f).collectFirst {
      case j @ (_: SortMergeJoinExec | _: BroadcastHashJoinExec | _: ShuffledHashJoinExec) => j
    }).flatMap(_.metrics.get("numOutputRows")).map(_.value.toDouble)
    val verified = verify.flatMap(_.metrics.get("numOutputRows")).map(_.value.toDouble)
      .getOrElse(pairs.length.toDouble)
    val candidates = cand.getOrElse(verified)
    put("queries.candidate_pairs", candidates)
    put("queries.verified_pairs", verified)
    put("queries.verify_yield", if (candidates > 0) verified / candidates else 0.0)

    val edges = s2.createDataFrame(pairs.map(r => (r.getLong(0), r.getLong(1))).toSeq)
      .toDF("u", "v")
    val (iters, ccSec) = tr.span("operators", "ConnectedComponents.runWithIters")(secs {
      val (df, it) = ConnectedComponents.runWithIters(edges)
      df.count()
      it
    })
    put("operators.cc_s", ccSec)
    put("operators.cc_iterations", iters.toDouble)
    this
  }

  /** A `Trigger.AvailableNow` drain of `q_stream_incrdedup` over the
    * corpus's arrival files (one per micro-batch) on a fresh session: the
    * write-once static side's build, the micro-batch phases (p50 over the
    * drain's batches, from its progress events), the harness time
    * (`StreamMeter`) and the state rows. The drained result must equal its
    * batch twin, `q_dedup_incremental`. */
  def streaming(streamDir: File): Probes = {
    val s3 = s.newSession()
    val dir = streamDir.getPath
    put("streaming.static_build_s", tr.span("streaming", "static_index")(secs {
      Dedup.persistedBandIndex(s3, dir).count()
      Dedup.historicalShingles(s3, dir).count()
    })._2)
    StreamProbe.drain()
    val h0 = StreamMeter.setupNanos
    val rows = tr.span("streaming", "q_stream_incrdedup") {
      SparkEntry.queries("q_stream_incrdedup")(s3, dir).collect()
    }
    put("streaming.harness_s", (StreamMeter.setupNanos - h0) / 1e9)
    Settle(() => StreamProbe.events.get)
    val progress = StreamProbe.drain()
    put("streaming.batches", progress.count(_.numInputRows > 0).toDouble)
    Seq("trigger_ms" -> "triggerExecution", "add_batch_ms" -> "addBatch",
      "latest_offset_ms" -> "latestOffset", "query_planning_ms" -> "queryPlanning",
      "wal_commit_ms" -> "walCommit").foreach { case (k, d) =>
      put(s"streaming.$k", median(progress.map(StreamProbe.durationMs(_, d))))
    }
    put("streaming.state_rows", progress.lastOption
      .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(0L).toDouble)
    val twin = tr.span("queries", "q_dedup_incremental") {
      SparkEntry.queries("q_dedup_incremental")(s3, dir).collect()
    }
    if (Workloads.digest(rows) != Workloads.digest(twin))
      errors += "the streaming drain differs from its batch twin"
    this
  }
}

object Probes {
  /** (cached relations, their memory + disk bytes) across the context. */
  def memo(s: SparkSession): (Double, Double) = {
    val info = s.sparkContext.getRDDStorageInfo
    (info.length.toDouble, info.map(i => i.memSize + i.diskSize).sum.toDouble)
  }
}
