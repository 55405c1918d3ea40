package streambench

import java.nio.file.{Files, Path, Paths}

import graft.jobs.Jobs
import graft.streaming.StreamingJob.KeyedStore

/** Runs one workload of the benchmark and prints its result.
  *
  * {{{
  * Main --workload steady_stream|catchup_drain|dashboard --seed N
  *      --seconds S --trace 0|1 --work DIR --trace-dir DIR
  * }}}
  *
  * With `--trace 0` the last stdout line carries the end-to-end metrics;
  * with `--trace 1` it carries the per-layer metrics, measured in a traced
  * pass that follows an untraced one, and the spans go to `--trace-dir`.
  * The line before it carries the detail: the workload's own metric
  * names, every failed check by name, and the host-contention canary.
  */
object Main {
  val Workloads = Seq("steady_stream", "catchup_drain", "dashboard")
  val Cores = 4
  // the canary spins on half the cores: it reads near 1.0 unless other
  // processes (or a hypervisor) take CPU time away from this one
  val CanaryThreads = Cores / 2

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: Path, traceDir: Path)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val o = Opts(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", Paths.get(need("work")).toAbsolutePath,
      Paths.get(need("trace-dir")).toAbsolutePath)
    require(Workloads.contains(o.workload), s"unknown workload ${o.workload}")
    require(o.seconds >= 1, "--seconds must be at least 1")
    o
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    Files.createDirectories(o.work)
    val runId = s"${o.workload}-${o.seed}-${ProcessHandle.current().pid()}"
    val load1Start = Host.load1
    val shareStart = Host.cpuShare(CanaryThreads)
    val t0 = System.nanoTime()
    val spark = Jobs.localBuilder("streambench", Cores.toString)
      .config("spark.local.dir", o.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(false, runId)
    val bench = new Bench(spark, o.seed, o.seconds, o.work, tracer)
    val out = try {
      val calibration = bench.calibrationMs()
      val setups = (1 to Bench.SetupReps).map(_ => bench.setupOnce())
      val setupS = Stats.median(setups)
      val tPass = System.nanoTime()
      def pass(): Pass = o.workload match {
        case "steady_stream" => bench.steadyPass()
        case "catchup_drain" => bench.catchupPass()
        case "dashboard" => bench.dashboardPass()
      }
      val first = pass()
      val passS = (System.nanoTime() - tPass) / 1e9
      val heapMb = Host.heapUsedMb
      bench.release(first)
      val layers = if (!o.trace) Map.empty[String, (Double, String)] else {
        bench.enableJobProbe()
        tracer.on = true
        val traced = tracer("pass")(pass())
        val l = Layers(bench, traced, first, sessionS, heapMb)
        bench.release(traced)
        tracer.write(o.traceDir.resolve(s"$runId.jsonl"))
        l
      }
      bench.unpersistReference()
      KeyedStore.clear()
      val e2e = first.e2e ++ Map("setup_s" -> setupS)
      val canary = Map(
        "load1_start" -> load1Start, "load1_end" -> Host.load1,
        "cpu_share_start" -> shareStart, "cpu_share_end" -> Host.cpuShare(CanaryThreads),
        "calibration_ms" -> calibration, "jit_cpu_s" -> Host.jitNs / 1e9) ++ first.extra
      val timeline = Seq("session_s" -> sessionS) ++
        setups.zipWithIndex.map { case (v, i) => s"setup_${i + 1}_s" -> v } ++ Seq(
        "first_pass_s" -> passS, "total_s" -> (System.nanoTime() - t0) / 1e9)
      val contended = canary("cpu_share_start") < 0.8 || canary("cpu_share_end") < 0.8 ||
        first.extra.get("generator_lag_p95_ms").exists(_ > 50)
      val metrics: Map[String, (Double, String)] =
        if (o.trace) layers
        else e2e.collect { case (k, v) if Units.contains(k) => k -> (v, Units(k)) }
      val detail = Json.obj(Seq(
        "workload" -> Json.str(o.workload), "seed" -> o.seed.toString,
        "trace" -> o.trace.toString, "contended" -> contended.toString,
        "metrics" -> Json.metrics(workloadNames(o.workload, e2e, first, heapMb)),
        "canary" -> Json.obj(canary.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
        "timeline" -> Json.obj(timeline.map { case (k, v) => k -> Json.num(v) }),
        "failed_checks" -> bench.failures.map(Json.str).mkString("[", ",", "]")))
      val result = Json.obj(Seq(
        "correct" -> (first.failed == 0 && bench.failures.isEmpty).toString,
        "attempted" -> first.attempted.toString,
        "failed" -> first.failed.toString,
        "metrics" -> Json.metrics(metrics)))
      s"""{"detail":$detail}""" + "\n" + result
    } finally {
      spark.stop()
    }
    println(out)
    System.out.flush()
    sys.exit(0)
  }

  /** The end-to-end metrics and their units. `cpu_ms_per_op` is measured
    * on every pass too, but it moved by a quarter between runs on the
    * same host, so it is reported as a layer metric.
    */
  val Units: Map[String, String] = Map(
    "latency_p50_ms" -> "ms", "latency_p95_ms" -> "ms", "throughput_per_s" -> "1/s",
    "setup_s" -> "s")

  /** The end-to-end metrics under the names each workload's users know
    * them by, plus two that are not bounded metrics: the failure ratio
    * (0 on a correct run; the result's `failed` carries it) and the heap
    * (it varies by a third from run to run, so it is a layer metric).
    */
  def workloadNames(workload: String, e: Map[String, Double], p: Pass,
                 heapMb: Double): Map[String, (Double, String)] = {
    val common = Map(
      "heap_used_mb_end" -> (heapMb, "MB"),
      "setup_s" -> (e("setup_s"), "s"),
      "failed_ratio" -> (p.failed.toDouble / math.max(1L, p.attempted), "ratio"))
    common ++ (workload match {
      case "steady_stream" => Map(
        "latency_p50_ms" -> (e("latency_p50_ms"), "ms"),
        "latency_p95_ms" -> (e("latency_p95_ms"), "ms"),
        "generator_lag_p95_ms" -> (p.extra("generator_lag_p95_ms"), "ms"),
        "committed_rows_per_s" -> (e("throughput_per_s"), "1/s"),
        "cpu_ms_per_krow" -> (e("cpu_ms_per_op") * 1000, "ms"))
      case "catchup_drain" => Map(
        "drain_rows_per_s" -> (e("throughput_per_s"), "1/s"),
        "drain_latency_p50_ms" -> (e("latency_p50_ms"), "ms"),
        "drain_latency_p95_ms" -> (e("latency_p95_ms"), "ms"),
        "cpu_ms_per_krow" -> (e("cpu_ms_per_op") * 1000, "ms"))
      case _ => Map(
        "query_p50_ms" -> (e("latency_p50_ms"), "ms"),
        "query_p95_ms" -> (e("latency_p95_ms"), "ms"),
        "queries_per_s" -> (e("throughput_per_s"), "1/s"),
        "cpu_ms_per_query" -> (e("cpu_ms_per_op"), "ms"))
    })
  }
}

/** The per-layer metrics of a traced pass. */
object Layers {
  def apply(b: Bench, traced: Pass, untraced: Pass, sessionS: Double,
            heapMb: Double): Map[String, (Double, String)] = {
    def med(phase: String) = Stats.median(traced.triggers.map(_.ms(phase).toDouble))
    val nTrig = math.max(1, traced.triggers.size).toDouble
    val j = traced.streamJobs
    // the stream workloads' dashboard layer comes from one probe pass
    // over the facts they wrote; the dashboard's from its own loop
    val (queryMs, shuffle) =
      if (traced.queryMs.nonEmpty) (traced.queryMs, traced.shuffleBytesPerQuery)
      else b.analyticsProbe(traced.leg)
    val stages = b.stageProbe(traced.triggerRows)
    val ms: Map[String, Double] = Map(
      "streaming.trigger_ms" -> med("triggerExecution"),
      "streaming.add_batch_ms" -> med("addBatch"),
      "streaming.wal_commit_ms" -> med("walCommit"),
      "streaming.commit_offsets_ms" -> med("commitOffsets"),
      "streaming.latest_offset_ms" -> med("latestOffset"),
      "streaming.get_batch_ms" -> med("getBatch"),
      "streaming.query_planning_ms" -> med("queryPlanning"),
      "spark.executor_cpu_ms" -> j.cpuNs / 1e6 / nTrig,
      "spark.gc_ms" -> j.gcMs / nTrig,
      "analytics.planning_ms" -> b.planningMs) ++
      stages ++ queryMs.map { case (q, xs) => s"analytics.${q}_ms" -> Stats.median(xs) }
    ms.map { case (k, v) => k -> (v, "ms") } ++ Map(
      "streaming.triggers" -> (traced.triggers.size.toDouble, "count"),
      "streaming.keyed_store_entries" -> (KeyedStore.hashes.size.toDouble, "count"),
      "spark.jobs_per_trigger" -> (j.jobs / nTrig, "count"),
      "spark.tasks" -> (j.tasks / nTrig, "count"),
      "spark.shuffle_write_bytes" -> (shuffle, "bytes"),
      "io.files_written" -> (b.filesWritten(traced.leg), "count"),
      "analytics.files_scanned" -> (b.filesScanned, "count"),
      "setup.session_s" -> (sessionS, "s"),
      "heap_used_mb_end" -> (heapMb, "MB"),
      "cpu_ms_per_op" -> (untraced.e2e("cpu_ms_per_op"), "ms"),
      "trace.spans" -> (b.tracer.size.toDouble, "count"),
      "trace.overhead_pct" -> ((traced.primary / untraced.primary - 1) * 100, "%"))
  }
}

/** Just enough JSON writing for the result lines. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  /** Non-finite values have no JSON form; they are written as null. */
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def metrics(m: Map[String, (Double, String)]): String =
    obj(m.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
      k -> obj(Seq("value" -> num(v), "unit" -> str(u)))
    })
}
