package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** One benchmark run inside one JVM: set-up timed several times, untimed
  * warm-up jobs, then closed-loop jobs that fill the given seconds (or,
  * traced, the workload's job once untraced and once traced, then the
  * layer probes).
  * Raw measurements go to the `--out` JSON; the caller computes metrics.
  *
  *   Main --workload W --seed N --seconds S --trace 0|1 --cores C --work DIR
  *        --out FILE  plus the workload's input: --month DIR --month-records R
  *        | --tables DIR | --docs DIR
  *
  * The inputs are generated beforehand (the `.dbc` month by `Month`'s own
  * entry point, the rest by `gen.py`), so no generator warms this JVM.
  * Analytics runs also write the oracle SQL of their queries to
  * `oracle_sql.json` in `--work`.
  */
object Main {
  private val SetupCycles = 5

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = new File(a("work"))
    work.mkdirs()
    // one arrival file per micro-batch for the traced streaming drain
    sys.props("graft.stream.maxFilesPerTrigger") = "1"

    def dir(k: String) = new File(a(k))
    def planted(d: File) = scala.io.Source.fromFile(new File(d, "planted.tsv")).getLines()
      .map(_.split('\t')).map(p => (p(0).toLong, p(1).toLong)).toVector
    def count(d: File) = scala.io.Source.fromFile(new File(d, "n_docs.txt")).mkString.trim.toLong
    val wl = a("workload")
    val phases = mutable.LinkedHashMap.empty[String, Double]
    def phase[A](name: String)(body: => A): A = {
      val t0 = System.nanoTime()
      try body finally phases(name) = (System.nanoTime() - t0) / 1e9
    }
    val workload: Workload = phase("inputs_s") { wl match {
      case "etl_month" =>
        val spec = Month.spec(seed, a("month-records").toInt)
        new EtlMonth(dir("month"), spec, new File(work, "lake"))
      case "analytics_mix" => new AnalyticsMix(dir("tables").getPath, seed, new File(work, "results"))
      case "dedup_corpus" =>
        new DedupCorpus(dir("docs").getPath, count(dir("docs")), planted(dir("docs")), 0.9, seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } }

    if (wl == "analytics_mix") Files.writeString(new File(work, "oracle_sql.json").toPath,
      Json.obj(AnalyticsMix.Queries.map(q => q -> Json.str(graft.SparkEntry.oracleSql(q)))))

    val setups = (1 to SetupCycles).map { i =>
      val t0 = System.nanoTime()
      val s = session(a("cores"), work)
      workload.touch(s)
      s.range(0, 1000).selectExpr("sum(id)").collect()
      val dt = (System.nanoTime() - t0) / 1e9
      if (i < SetupCycles) s.stop()
      dt
    }
    val s = SparkSession.active

    val jobs = mutable.ArrayBuffer.empty[String]
    var attempted = 0L
    var failed = 0L
    val errors = mutable.ArrayBuffer.empty[String]
    def account(o: JobOutcome): Unit = {
      attempted += o.ops; failed += o.failed; errors ++= o.errors
    }
    def timedJob(tr: Tracer): Double = {
      val c0 = cpuNs(); val t0 = System.nanoTime()
      val o = tr.span("bench", "job")(workload.job(s, tr))
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (cpuNs() - c0) / 1e9
      account(o)
      val (rel, bytes) = Probes.memo(s)
      jobs += Json.obj(Seq("wall_s" -> Json.num(wall), "cpu_s" -> Json.num(cpu),
        "items" -> o.items.toString, "memo_relations" -> Json.num(rel),
        "memo_storage_bytes" -> Json.num(bytes)))
      wall
    }

    // The JIT takes far longer than a run to settle, so the job counts are
    // fixed, not timed: every run measures the same jobs of a fresh
    // process. `measuredJobs` jobs of the workload's nominal length fill
    // the given seconds; the warm-up (its first job included) runs half as
    // many, at least three, which is where job times stop falling steeply.
    val measuredJobs = math.max(3, math.round(seconds / workload.nominalJobS).toInt)
    val warmJobCount = math.max(3, (measuredJobs + 1) / 2)
    val off = new Tracer(false, s"$wl-$seed")
    val warmJobs = mutable.ArrayBuffer.empty[Double]
    def untimed(job: => JobOutcome): Unit = {
      val t0 = System.nanoTime()
      account(job)
      warmJobs += (System.nanoTime() - t0) / 1e9
    }
    phase("warm_s") {
      untimed(workload.first(s, off))
      (2 to warmJobCount).foreach(_ => untimed(workload.job(s, off)))
    }
    workload.startMeasuring()
    val trace = mutable.LinkedHashMap.empty[String, String]
    if (!traced) phase("loop_s") {
      (1 to measuredJobs).foreach(_ => timedJob(off))
    } else phase("traced_s") {
      // one untraced job, then one traced job with the listeners on
      val tr = new Tracer(true, s"$wl-$seed")
      val stages = new StageProbe
      s.sparkContext.addSparkListener(stages)
      def tracedJob(): Double = {
        PlanProbe.enabled = true
        val wall = timedJob(tr)
        Settle(() => stages.events.get, () => PlanProbe.executions.get)
        PlanProbe.enabled = false
        wall
      }
      def untracedJob(): Double = {
        s.sparkContext.removeSparkListener(stages)
        try timedJob(off) finally s.sparkContext.addSparkListener(stages)
      }
      val untraced = untracedJob()
      val tracedWall = tracedJob()
      s.sparkContext.removeSparkListener(stages)
      val layer = mutable.LinkedHashMap.empty[String, Double]
      val (rel, bytes) = Probes.memo(s)
      layer ++= Seq("queries.memo_relations" -> rel, "queries.memo_storage_bytes" -> bytes)
      layer ++= tr.span("bench", "probes")(workload.probes(s, tr, work))
      Seq("exchanges", "sort_merge_joins", "broadcast_joins", "nested_loop_joins")
        .foreach(k => layer(s"plans.$k") = PlanProbe.count(k).toDouble)
      val cores = s.sparkContext.defaultParallelism
      layer ++= Seq(
        "stages.jobs" -> stages.jobs.get.toDouble,
        "stages.tasks" -> stages.tasks.get.toDouble,
        "stages.executor_cpu_s" -> stages.cpuNs.get / 1e9,
        "stages.gc_s" -> stages.gcMs.get / 1e3,
        "stages.gc_share" -> stages.gcMs.get.toDouble / math.max(1L, stages.runMs.get),
        "stages.shuffle_write_bytes" -> stages.shuffleWrite.get.toDouble,
        "stages.shuffle_read_bytes" -> stages.shuffleRead.get.toDouble,
        "stages.spill_bytes" -> stages.spill.get.toDouble,
        "stages.task_skew" -> stages.taskSkew,
        "stages.idle_share" -> math.max(0.0, 1 - stages.runMs.get / 1e3 / (cores * tracedWall)))
      tr.selfSeconds.foreach { case (k, v) => layer(s"self_s.$k") = v }
      layer ++= Seq("trace.untraced_job_s" -> untraced, "trace.traced_job_s" -> tracedWall,
        "trace.overhead_ratio" -> tracedWall / untraced)
      trace("layer") = Json.obj(layer.map { case (k, v) => k -> Json.num(v) })
      trace("spans") = tr.toJson
    }
    phase("finish_s")(account(workload.finish(s)))

    val json = Json.obj(Seq(
      "workload" -> Json.str(wl), "seed" -> seed.toString,
      "cores" -> s.sparkContext.defaultParallelism.toString,
      "setup_s" -> Json.arr(setups),
      "phases" -> Json.obj(phases.map { case (k, v) => k -> Json.num(v) }),
      "warm_jobs_s" -> Json.arr(warmJobs),
      "jobs" -> jobs.mkString("[", ",", "]"),
      "attempted" -> attempted.toString, "failed" -> failed.toString,
      "errors" -> errors.map(Json.str).mkString("[", ",", "]"),
      "extra" -> Json.obj(workload.extra.map { case (k, v) => k -> Json.num(v) }),
      "samples" -> Json.obj(workload.samples.map { case (k, v) => k -> Json.arr(v) }),
    ) ++ workload.resultDigest.map(d => "result_digest" -> Json.str(d)) ++ trace)
    Files.writeString(new File(a("out")).toPath, json)
    s.stop()
  }

  private def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def session(cores: String, work: File): SparkSession = {
    val s = GraftSession.builder(cores)
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.sql.streaming.streamingQueryListeners", classOf[StreamProbe].getName)
      .config("spark.sql.queryExecutionListeners", classOf[PlanProbe].getName)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
