package graft.perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}

import graft.{Pipeline, SparkEntry}

/** One closed-loop job's outcome: the input items it processed, how many
  * operations it ran and how many of those gave a wrong result or
  * failed. */
final case class JobOutcome(items: Long, ops: Int, failed: Int, errors: Seq[String]) {
  def +(o: JobOutcome): JobOutcome =
    JobOutcome(items + o.items, ops + o.ops, failed + o.failed, errors ++ o.errors)
}

/** A benchmark workload. `touch` is the first contact with the inputs that
  * set-up time includes; `first` is the first, untimed job of the warm-up;
  * `job` is one closed-loop iteration; `finish` checks what only the end
  * of a run can show. */
trait Workload {
  /** Typical wall time of one warm job, which sets the job count of a run. */
  def nominalJobS: Double
  def touch(s: SparkSession): Unit
  def first(s: SparkSession, tr: Tracer): JobOutcome = job(s, tr)
  def job(s: SparkSession, tr: Tracer): JobOutcome
  /** Called once the warm-up is over, before the measured jobs. */
  def startMeasuring(): Unit = ()
  def finish(s: SparkSession): JobOutcome = JobOutcome(0, 0, 0, Nil)
  /** Extra end-to-end figures of this workload, by name. */
  def extra: Map[String, Double] = Map.empty
  /** Raw per-operation latency samples (ms), by name. */
  def samples: Map[String, Seq[Double]] = Map.empty
  /** Digest of the result, where it must be the same in every run. */
  def resultDigest: Option[String] = None
  /** Traced runs only: the per-layer probes of the layers this workload
    * exercises, run after the traced job. */
  def probes(s: SparkSession, tr: Tracer, work: File): Map[String, Double]
}

object Workloads {
  /** Canonical digest of a result: its rows rendered and sorted. */
  def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach { r =>
      md.update(r.getBytes(java.nio.charset.StandardCharsets.UTF_8)); md.update('\n'.toByte)
    }
    md.digest().map(b => f"$b%02x").mkString
  }

  def check(ok: Boolean, msg: => String): Seq[String] = if (ok) Nil else Seq(msg)

  def dirBytes(d: File): (Long, Long) = {
    val files = Option(d.listFiles()).toSeq.flatten
    files.foldLeft((0L, 0L)) { case ((b, n), f) =>
      if (f.isDirectory) { val (b2, n2) = dirBytes(f); (b + b2, n + n2) }
      else if (f.getName.endsWith(".parquet")) (b + f.length, n + 1) else (b, n)
    }
  }
}

import Workloads._

/** A DATASUS month re-loaded into one lake by `Pipeline.run`: every job
  * after the first is the idempotent dynamic-overwrite re-load. */
final class EtlMonth(monthDir: File, spec: Month.Spec, lake: File) extends Workload {
  val nominalJobS = 3.0
  private val glob = s"${monthDir.getPath}/*.dbc"
  private val tipos = spec.files.map(_.take(2)).distinct.size

  def touch(s: SparkSession): Unit = s.read.format("dbc").load(glob).schema

  def job(s: SparkSession, tr: Tracer): JobOutcome = {
    val report = tr.span("sources", "Pipeline.run") { Pipeline.run(s, glob, lake.getPath) }
    val summary = tr.span("sources", "report") {
      report.perTable.collect()
      report.summary.collect()(0)
    }
    val errs =
      check(summary.getAs[Long]("total_registros_inseridos") == spec.records,
        s"report total ${summary.get(0)} != ${spec.records} records") ++
      check(summary.getAs[Long]("arquivos_processados") == spec.files.size,
        s"report files ${summary.get(2)} != ${spec.files.size}") ++
      check(summary.getAs[Long]("tabelas_distintas") == tipos,
        s"report tables ${summary.get(1)} != $tipos")
    JobOutcome(spec.records, 1, if (errs.isEmpty) 0 else 1, errs)
  }

  override def finish(s: SparkSession): JobOutcome = {
    val n = s.read.parquet(lake.getPath).count()
    val errs = check(n == spec.records, s"lake holds $n rows, expected ${spec.records}")
    JobOutcome(0, 1, errs.size, errs)
  }

  def probes(s: SparkSession, tr: Tracer, work: File): Map[String, Double] =
    new Probes(s, tr).sources(monthDir, spec, work).result

  override def extra: Map[String, Double] = {
    val in = spec.files.map(f => new File(monthDir, f).length).sum
    Map("stored_bytes_per_input_byte" -> dirBytes(lake)._1.toDouble / in)
  }
}

/** Seed-shuffled passes over read-only registry queries. The first pass
  * saves each query's result for the DuckDB oracle check; every later
  * execution must reproduce that result. */
final class AnalyticsMix(dir: String, seed: Long, resultsDir: File) extends Workload {
  val nominalJobS = 4.0
  private val digests = mutable.Map.empty[String, String]
  private val latMs = mutable.ArrayBuffer.empty[Double]
  private val lastMs = mutable.LinkedHashMap.empty[String, Double]
  private var pass = 0

  def touch(s: SparkSession): Unit = s.read.parquet(s"$dir/lineitem.parquet").schema

  private def order(): Seq[String] = {
    pass += 1
    new scala.util.Random(seed * 7919 + pass).shuffle(AnalyticsMix.Queries)
  }

  override def startMeasuring(): Unit = latMs.clear()

  /** Runs every query once and saves its result for the oracle check. */
  override def first(s: SparkSession, tr: Tracer): JobOutcome = {
    val errs = AnalyticsMix.Queries.flatMap { q =>
      try {
        val df = SparkEntry.queries(q)(s, dir)
        val rows = df.collect()
        digests(q) = digest(rows)
        s.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
          .coalesce(1).write.mode("overwrite").parquet(new File(resultsDir, q).getPath)
        Nil
      } catch { case e: Exception => Seq(s"$q: ${e.getMessage}") }
    }
    JobOutcome(AnalyticsMix.Queries.size, AnalyticsMix.Queries.size, errs.size, errs)
  }

  def job(s: SparkSession, tr: Tracer): JobOutcome = {
    val errs = order().flatMap { q =>
      val t0 = System.nanoTime()
      try {
        val rows = tr.span("queries", q) {
          val df = SparkEntry.queries(q)(s, dir)
          tr.span("plans", s"$q.plan") { df.queryExecution.executedPlan }
          df.collect()
        }
        latMs += (System.nanoTime() - t0) / 1e6
        lastMs(q) = latMs.last
        check(digests.get(q).contains(digest(rows)), s"$q: result differs from its first result")
      } catch { case e: Exception => Seq(s"$q: ${e.getMessage}") }
    }
    JobOutcome(AnalyticsMix.Queries.size, AnalyticsMix.Queries.size, errs.size, errs)
  }

  override def samples: Map[String, Seq[Double]] = Map("query_ms" -> latMs.toSeq)

  /** Each query's latency in the traced pass. */
  def probes(s: SparkSession, tr: Tracer, work: File): Map[String, Double] =
    lastMs.map { case (q, ms) => s"queries.${q}_ms" -> ms }.toMap
}

object AnalyticsMix {
  val Queries: Seq[String] = Seq(
    "q1_agg", "q3_join_topk", "q5_star_join", "q_window", "q_range_join", "q_salted_join",
    "q_ev_session", "q_ev_asof")
}

/** Near-duplicate detection over a seeded corpus: `q_dedup_minhash`, then
  * `q_dedup_keep`, each job on a fresh session so the session caches start
  * cold. Old sessions stay alive, so their cached relations stay too. The
  * corpus is a directory of arrival files, so the traced run also drains
  * it through the streaming twin. */
final class DedupCorpus(dir: String, nDocs: Long, planted: Seq[(Long, Long)],
                        recallFloor: Double, seed: Long) extends Workload {
  val nominalJobS = 3.5
  private var first: Option[String] = None
  private var lastRecall = 0.0

  def touch(s: SparkSession): Unit = s.read.parquet(s"$dir/documents.parquet").schema

  def job(s0: SparkSession, tr: Tracer): JobOutcome = {
    val s = s0.newSession()
    val pairs = tr.span("queries", "q_dedup_minhash") {
      SparkEntry.queries("q_dedup_minhash")(s, dir).collect()
    }
    val keep = tr.span("queries", "q_dedup_keep") {
      SparkEntry.queries("q_dedup_keep")(s, dir).collect()
    }
    val found = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    lastRecall = planted.count(found).toDouble / math.max(1, planted.size)
    val d = digest(pairs) + digest(keep)
    if (first.isEmpty) first = Some(d)
    val errs = check(first.contains(d), "dedup result differs from the run's first result") ++
      check(lastRecall >= recallFloor, f"planted-duplicate recall $lastRecall%.3f < $recallFloor")
    JobOutcome(nDocs, 1, if (errs.isEmpty) 0 else 1, errs)
  }

  override def resultDigest: Option[String] = first

  private var probeErrors: Option[Seq[String]] = None

  def probes(s: SparkSession, tr: Tracer, work: File): Map[String, Double] = {
    val p = new Probes(s, tr).functions(new File(dir), planted, seed).dedup(new File(dir))
      .streaming(new File(dir))
    probeErrors = Some(p.errors.toSeq)
    p.result
  }

  override def finish(s: SparkSession): JobOutcome = probeErrors match {
    case Some(errs) => JobOutcome(0, 1, errs.size, errs)
    case None => JobOutcome(0, 0, 0, Nil)
  }
  override def extra: Map[String, Double] = Map("planted_recall" -> lastRecall)
}
