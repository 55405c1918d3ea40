package streambench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.analytics.Dashboard
import graft.etl.ScoringPipeline
import graft.io.{FileStreamSource, IdempotentBatchSink}
import graft.jobs.Jobs
import graft.streaming.StreamingJob.KeyedStore

/** Scratch directories of one stream query: the drop folder its file
  * source watches and the output root the fan-out writes under.
  */
final case class Leg(dir: Path) {
  val drop: Path = Files.createDirectories(dir.resolve("drop"))
  val out: String = dir.resolve("out").toString
  val facts: String = s"$out/facts"
  val scores: String = s"$out/scores"
}

/** What one measured pass of a workload produced. `e2e` holds the
  * end-to-end metrics; the rest feeds the traced run's layer metrics.
  */
final case class Pass(e2e: Map[String, Double], primary: Double, attempted: Long,
                      failed: Long, triggers: Seq[Trigger], streamJobs: Counts,
                      triggerRows: Int, leg: Leg, queryMs: Map[String, Seq[Double]],
                      extra: Map[String, Double], shuffleBytesPerQuery: Double = 0)

/** The three workloads over the program's public entry points, with their
  * correctness checks. One instance serves one run.
  */
final class Bench(spark: SparkSession, seed: Long, seconds: Int, work: Path,
                  val tracer: Tracer) {
  import Bench._

  val inputs = new Inputs(seed)
  val users: DataFrame = Wire.frame(spark, inputs.users, Wire.userSchema)
  val regions: DataFrame = Wire.frame(spark, inputs.regions, Wire.regionSchema)
  val streams = new StreamProbe
  spark.streams.addListener(streams)
  private var jobProbe: Option[JobProbe] = None

  /** Named correctness failures, in the order they were found. */
  val failures = ArrayBuffer.empty[String]
  private def fail(what: String): Unit = failures += what

  private var legs = 0
  private def newLeg(tag: String): Leg = {
    legs += 1
    Leg(Files.createDirectories(work.resolve(s"$tag-$legs")))
  }
  private def remove(leg: Leg): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(leg.dir.toFile)

  def enableJobProbe(): Unit = if (jobProbe.isEmpty) {
    val p = new JobProbe
    spark.sparkContext.addSparkListener(p)
    jobProbe = Some(p)
  }
  private def counts(): Counts =
    jobProbe.fold(Counts(0, 0, 0, 0, 0))(_.counts(spark))

  /** The file drop source (the io layer's); a catch-up drain caps how
    * many files one trigger takes, as the reference caps Kafka offsets.
    */
  private def source(leg: Leg, maxFiles: Option[Int]): DataFrame = maxFiles match {
    case None => FileStreamSource(leg.drop.toString, Wire.rawSchema, "json")
      .loadStream(spark)
    case Some(n) => spark.readStream.schema(Wire.rawSchema)
      .option("maxFilesPerTrigger", n.toLong).json(leg.drop.toString)
  }

  /** decode → `Jobs.startStreamingScoring` (enrich, score, fan-out). */
  private def start(leg: Leg, maxFiles: Option[Int]): StreamingQuery =
    tracer("jobs.startStreamingScoring") {
      Jobs.startStreamingScoring(
        tracer("etl.decode")(ScoringPipeline.decode(source(leg, maxFiles))),
        users, regions, leg.out)
    }

  private def stage(leg: Leg, txs: Seq[Tx], files: Int, stampMs: Long): Unit =
    tracer("io.stage") {
      val per = (txs.size + files - 1) / files
      txs.grouped(per).zipWithIndex.foreach { case (g, i) =>
        Wire.drop(leg.drop, f"part-$i%05d.json", g.iterator.map(Wire.line(_, stampMs)))
      }
    }

  private def drain(q: StreamingQuery): Unit =
    tracer("streaming.processAllAvailable")(q.processAllAvailable())

  private def recordTriggers(ts: Seq[Trigger]): Unit =
    ts.foreach(t => tracer.record(s"streaming.trigger.${t.batchId}", t.startMs, t.endMs))

  // -------------------------------------------------------------------
  // set-up
  // -------------------------------------------------------------------

  /** One stream set-up: stage `SetupRows` events, start the pipeline and wait
    * for its first trigger to commit. Seconds.
    */
  def setupOnce(): Double = tracer("setup") {
    KeyedStore.clear()
    val t0 = System.nanoTime()
    val leg = newLeg("setup")
    stage(leg, inputs.events(SetupRows), 1, System.currentTimeMillis())
    val q = start(leg, None)
    drain(q)
    val s = (System.nanoTime() - t0) / 1e9
    q.stop()
    remove(leg)
    KeyedStore.clear()
    s
  }

  /** A fixed Spark job for the contention canary: its time moves with
    * the host, not with the program. Milliseconds, median of three.
    */
  def calibrationMs(): Double = Stats.median((1 to 4).map { _ =>
    Stats.timedMs(spark.range(0L, 4000000L, 1L, 4)
      .selectExpr("sum(id % 7)").collect())
  }.drop(1))

  // -------------------------------------------------------------------
  // steady_stream: open loop at a fixed producer rate
  // -------------------------------------------------------------------

  def steadyPass(): Pass = {
    KeyedStore.clear()
    val leg = newLeg("steady")
    // events due in the lead-in are checked but not measured: the window
    // opens once the trigger loop has settled at the producer's rate
    val n = (SteadyLeadS + seconds) * Rate
    val txs = inputs.events(n)
    val q = start(leg, None)
    drain(q) // the empty first trigger: the clock starts on a running query
    val t0 = System.currentTimeMillis()
    val w0 = t0 + SteadyLeadS * 1000L
    val lags = new ConcurrentLinkedQueue[java.lang.Long]
    val gen = new Thread(() => {
      var sent = 0
      var tick = 1
      while (sent < n) {
        val target = t0 + tick.toLong * TickMs
        val wait = target - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        val due = math.min(n, tick * TickMs * Rate / 1000)
        // each event is stamped with the time it was due, not the time
        // it was written: a late generator shows up as latency
        Wire.drop(leg.drop, f"part-$tick%06d.json", (sent until due).iterator
          .map(j => Wire.line(txs(j), t0 + j * 1000L / Rate)))
        lags.add(System.currentTimeMillis() - target)
        sent = due
        tick += 1
      }
    }, "streambench-generator")
    gen.start()
    Thread.sleep(math.max(0L, w0 - System.currentTimeMillis()))
    val c0 = counts()
    val cpu0 = Host.cpuNs
    tracer("generator")(gen.join())
    drain(q)
    val cpuMs = (Host.cpuNs - cpu0) / 1e6
    val jobs = counts() - c0
    val trig = streams.dataTriggers(spark, q, n)
    q.stop()
    recordTriggers(trig)
    val ends = trig.map(t => t.batchId -> t.endMs).toMap
    val stamped = tracer("check.latency") {
      spark.read.parquet(leg.facts).select("batch", "tempo_entrada_kafka").collect()
    }
    val lat = stamped.toSeq.filter(_.getTimestamp(1).getTime >= w0).flatMap { r =>
      ends.get(r.getInt(0).toLong).map(_ - r.getTimestamp(1).getTime.toDouble)
    }
    val failed = checkFacts("steady_stream", leg, txs)
    val window = trig.filter(_.endMs > w0)
    val lastEnd = if (window.isEmpty) w0 + 1 else window.map(_.endMs).max
    val p50 = Stats.median(lat)
    Pass(Map(
      "latency_p50_ms" -> p50,
      "latency_p95_ms" -> Stats.quantile(lat, 0.95),
      "throughput_per_s" -> lat.size * 1000.0 / (lastEnd - w0),
      "cpu_ms_per_op" -> cpuMs / math.max(1, lat.size)),
      primary = p50, attempted = n, failed = failed, triggers = window,
      streamJobs = jobs, triggerRows = Rate, leg = leg, queryMs = Map.empty,
      extra = Map("generator_lag_p95_ms" ->
        Stats.quantile(lags.asScala.toSeq.map(_.toDouble), 0.95),
        "latency_samples" -> lat.size.toDouble))
  }

  // -------------------------------------------------------------------
  // catchup_drain: a staged backlog drained in large triggers
  // -------------------------------------------------------------------

  private lazy val replayBase = inputs.events(CatchupBaseRows)

  def catchupPass(): Pass = {
    KeyedStore.clear()
    val leg = newLeg("catchup")
    // whole triggers only, at least three: the backlog grows with --seconds
    val triggers = math.max(3, math.round(
      seconds * CatchupRowsPerSecond.toDouble / CatchupTriggerRows).toInt)
    val files = triggers * CatchupFilesPerTrigger
    val txs = inputs.replay(replayBase, files * CatchupRowsPerFile)
    stage(leg, txs, files, System.currentTimeMillis())
    val c0 = counts()
    val cpu0 = Host.cpuNs
    // the clock starts at the restart: every staged event is due now
    val t0 = System.currentTimeMillis()
    val q = start(leg, Some(CatchupFilesPerTrigger))
    drain(q)
    val cpuMs = (Host.cpuNs - cpu0) / 1e6
    val jobs = counts() - c0
    val trig = streams.dataTriggers(spark, q, txs.length)
    q.stop()
    recordTriggers(trig)
    val lat = trig.flatMap(t => Iterator.fill(t.rows.toInt)((t.endMs - t0).toDouble))
    val failed = checkFacts("catchup_drain", leg, txs)
    val committed = txs.length - failed
    val drainMs = if (trig.isEmpty) 1.0 else (trig.map(_.endMs).max - t0).toDouble
    Pass(Map(
      "latency_p50_ms" -> Stats.median(lat),
      "latency_p95_ms" -> Stats.quantile(lat, 0.95),
      "throughput_per_s" -> committed * 1000.0 / drainMs,
      "cpu_ms_per_op" -> cpuMs / math.max(1L, committed)),
      primary = drainMs, attempted = txs.length, failed = failed, triggers = trig,
      streamJobs = jobs, triggerRows = CatchupTriggerRows,
      leg = leg, queryMs = Map.empty, extra = Map.empty)
  }

  // -------------------------------------------------------------------
  // dashboard: a closed loop of one client over the fan-out's facts
  // -------------------------------------------------------------------

  private lazy val dashTxs = inputs.events(DashRows)
  private var reference: DataFrame = _
  private val referenceSums = scala.collection.mutable.Map.empty[String, Sums]
  private val verified = scala.collection.mutable.Set.empty[(String, Sums)]

  /** The fan-out writes the facts the dashboard reads; the reference is
    * the batch pipeline over the same transactions. The first call also
    * computes each query's reference result, which warms every plan.
    */
  private def dashboardFacts(): (Leg, Seq[Trigger], Counts, DataFrame) = {
    KeyedStore.clear()
    val leg = newLeg("dashboard")
    stage(leg, dashTxs, DashFiles, System.currentTimeMillis())
    val c0 = counts()
    val q = start(leg, Some(1))
    drain(q)
    val jobs = counts() - c0
    val trig = streams.dataTriggers(spark, q, dashTxs.length)
    q.stop()
    recordTriggers(trig)
    checkFacts("dashboard", leg, dashTxs)
    if (reference == null) tracer("check.reference") {
      reference = ScoringPipeline.runDeterministic(
        Wire.transactions(spark, dashTxs), users, regions).persist()
      reference.count()
      // four client threads: this also compiles every query's plan
      // before the timed loop, and Spark runs their jobs side by side
      val (scoped, plain) = queries.partition(q => AnsiOff(q._1))
      val pool = java.util.concurrent.Executors.newFixedThreadPool(Main.Cores)
      try {
        val futures = plain.map { case (name, f) =>
          name -> pool.submit(() => Sums(checksum(f(reference)).collect().head))
        }
        futures.foreach { case (name, fu) => referenceSums(name) = fu.get() }
      } finally pool.shutdown()
      scoped.foreach { case (name, f) =>
        referenceSums(name) = withQueryConf(name)(Sums(checksum(f(reference)).collect().head))
      }
    }
    (leg, trig, jobs, factsReader(leg))
  }

  /** The benchmark's own facts reader. The fan-out writes the scored
    * stream without the shape stage, so its region column is still
    * `id_regiao_transacao`; the dashboard's queries expect `id_regiao`.
    */
  private def factsReader(leg: Leg): DataFrame =
    spark.read.parquet(leg.facts).withColumnRenamed("id_regiao_transacao", "id_regiao")

  def dashboardPass(): Pass = {
    val (leg, trig, jobs, facts) = dashboardFacts()
    val times = ArrayBuffer.empty[Double]
    val perQuery = scala.collection.mutable.Map.empty[String, ArrayBuffer[Double]]
    var failed = 0L
    val q0 = counts()
    val cpu0 = Host.cpuNs
    val t0 = System.nanoTime()
    def elapsedS = (System.nanoTime() - t0) / 1e9
    while (elapsedS < seconds) {
      for ((name, f) <- inputs.shuffle(queries) if elapsedS < seconds) {
        val (ms, ok) = runQuery(name, f, facts)
        times += ms
        perQuery.getOrElseUpdate(name, ArrayBuffer.empty) += ms
        if (!ok) { failed += 1; fail(s"dashboard.$name result differs from the batch reference") }
      }
    }
    val wallS = elapsedS
    val cpuMs = (Host.cpuNs - cpu0) / 1e6
    val qc = counts() - q0
    val p50 = Stats.median(times.toSeq)
    Pass(Map(
      "latency_p50_ms" -> p50,
      "latency_p95_ms" -> Stats.quantile(times.toSeq, 0.95),
      "throughput_per_s" -> times.size / wallS,
      "cpu_ms_per_op" -> cpuMs / math.max(1, times.size)),
      primary = p50, attempted = times.size, failed = failed, triggers = trig,
      streamJobs = jobs, triggerRows = DashRows / DashFiles, leg = leg,
      queryMs = perQuery.view.mapValues(_.toSeq).toMap,
      extra = Map("query_samples" -> times.size.toDouble),
      shuffleBytesPerQuery = qc.shuffleBytes.toDouble / math.max(1, times.size))
  }

  private val planning = ArrayBuffer.empty[Double]
  private val scanned = ArrayBuffer.empty[Double]

  /** Runs one dashboard query, built and executed through the checksum
    * action; records its planning time and the files its scans read.
    */
  private def timeQuery(name: String, f: DataFrame => DataFrame,
                        input: DataFrame): (Double, Sums) =
    tracer(s"analytics.$name")(withQueryConf(name) {
      var c: DataFrame = null
      var sums: Sums = null
      val ms = Stats.timedMs { c = checksum(f(input)); sums = Sums(c.collect().head) }
      planning += c.queryExecution.tracker.phases.values
        .map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum
      scanned += scanFiles(c.queryExecution.executedPlan).toDouble
      (ms, sums)
    })

  /** One dashboard query, checked against the batch reference. */
  private def runQuery(name: String, f: DataFrame => DataFrame,
                       facts: DataFrame): (Double, Boolean) = {
    val (ms, sums) = timeQuery(name, f, facts)
    val ok = referenceSums.get(name).contains(sums) || verified((name, sums)) ||
      tracer("check.tolerant")(withQueryConf(name)(sameRows(f(facts), f(reference)))) && {
        verified += ((name, sums)); true
      }
    (ms, ok)
  }

  /** `Dashboard.zScorePerRow` divides by the payer's standard deviation,
    * which is exactly 0 for a payer whose transactions all have the same
    * value; under the session's ANSI mode that division fails the whole
    * query. The benchmark runs that query with ANSI off (the division
    * then yields null) and documents the defect, so the program's
    * behaviour on other queries is unchanged.
    */
  private def withQueryConf[T](name: String)(body: => T): T =
    if (!AnsiOff(name)) body
    else {
      val key = "spark.sql.ansi.enabled"
      val prev = spark.conf.getOption(key)
      spark.conf.set(key, "false")
      try body
      finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }

  /** Per-layer probe for the stream workloads: each dashboard query once
    * over the facts the traced pass wrote. Returns ms by query and the
    * shuffle bytes written per query.
    */
  def analyticsProbe(leg: Leg): (Map[String, Seq[Double]], Double) = {
    val facts = factsReader(leg)
    val c0 = counts()
    val ms = queries.map { case (name, f) => name -> Seq(timeQuery(name, f, facts)._1) }
    (ms.toMap, (counts() - c0).shuffleBytes.toDouble / queries.size)
  }

  // -------------------------------------------------------------------
  // per-layer probes on one trigger-sized input
  // -------------------------------------------------------------------

  /** Self time of each pipeline stage, from cumulative materializations
    * of read → +decode → +enrich → +score on `rows` recorded events, and
    * the time of one `IdempotentBatchSink.write` of the scored rows.
    */
  def stageProbe(rows: Int): Map[String, Double] = tracer("probe.stages") {
    val leg = newLeg("probe")
    stage(leg, inputs.events(rows), 1, System.currentTimeMillis())
    val raw = spark.read.schema(Wire.rawSchema).json(leg.drop.toString)
    val decoded = ScoringPipeline.decode(raw)
    val enriched = ScoringPipeline.enrich(decoded, users, regions)
    val scored = ScoringPipeline.score(enriched)
    def noop(df: DataFrame): Double =
      Stats.timedMs(df.write.format("noop").mode("overwrite").save())
    val reps = (0 to ProbeReps).map { _ =>
      Seq(raw, decoded, enriched, scored).map(noop)
    }.drop(1) // the first round compiles the plans
    def med(i: Int) = Stats.median(reps.map(_(i)))
    val cached = scored.persist()
    cached.count()
    val sink = IdempotentBatchSink(leg.dir.resolve("sink").toString)
    val writes = (0 to ProbeReps).map(b => Stats.timedMs(sink.write(cached, b.toLong)))
      .drop(1)
    cached.unpersist()
    remove(leg)
    Map("io.source_read_ms" -> med(0), "etl.decode_ms" -> (med(1) - med(0)),
      "etl.enrich_ms" -> (med(2) - med(1)), "etl.score_ms" -> (med(3) - med(2)),
      "io.sink_write_ms" -> Stats.median(writes))
  }

  def planningMs: Double = Stats.median(planning.toSeq)
  def filesScanned: Double = Stats.median(scanned.toSeq)

  def filesWritten(leg: Leg): Double =
    Seq(leg.facts, leg.scores).map { root =>
      val d = new java.io.File(root)
      if (!d.exists) 0
      else org.apache.commons.io.FileUtils.listFiles(d, Array("parquet"), true).size
    }.sum.toDouble

  def release(p: Pass): Unit = remove(p.leg)

  def unpersistReference(): Unit = if (reference != null) reference.unpersist()

  // -------------------------------------------------------------------
  // correctness
  // -------------------------------------------------------------------

  /** Checks the facts sink and the keyed snapshot against the batch
    * pipeline over the same transactions. Returns the rows that count
    * as failed: not committed, duplicated or wrongly scored.
    */
  private def checkFacts(label: String, leg: Leg, txs: Array[Tx]): Long =
    tracer("check.facts") {
      val n = txs.length.toLong
      try {
        val facts = spark.read.parquet(leg.facts).select(ScoreCols.map(col): _*)
        val ref = ScoringPipeline.runDeterministic(
          Wire.transactions(spark, txs.toSeq), users, regions)
          .select(ScoreCols.map(col): _*)
        def summary(df: DataFrame): Row = {
          val h = xxhash64(ScoreCols.map(col): _*)
          df.agg(count(lit(1)), countDistinct(col("id_transacao")),
            count(when(col("id_transacao").isNull, 1)),
            coalesce(sum(pmod(h, lit(HashMod))), lit(0L)),
            coalesce(bit_xor(h), lit(0L))).head()
        }
        val f = summary(facts)
        val r = summary(ref)
        val (rows, distinct, nulls) = (f.getLong(0), f.getLong(1), f.getLong(2))
        var bad = math.max(0L, n - distinct) + (rows - distinct) + nulls
        if (rows != n) fail(s"$label.facts_row_count $rows != $n")
        if (distinct != rows) fail(s"$label.facts_duplicate_ids ${rows - distinct}")
        if (nulls != 0) fail(s"$label.facts_null_ids $nulls")
        if (f.getLong(3) != r.getLong(3) || f.getLong(4) != r.getLong(4)) {
          val wrong = ref.exceptAll(facts).count()
          fail(s"$label.facts_scores_differ_from_runDeterministic $wrong rows")
          bad += wrong
        }
        val keyed = KeyedStore.hashes.size.toLong
        if (keyed != distinct) {
          fail(s"$label.keyed_store_size $keyed != $distinct distinct ids")
          bad += math.abs(keyed - distinct)
        }
        math.min(n, bad)
      } catch {
        case NonFatal(e) =>
          fail(s"$label.facts_unreadable ${e.getClass.getSimpleName}")
          n
      }
    }
}

/** An order-independent digest of a result: rows, and the sum and xor
  * of their row hashes.
  */
final case class Sums(rows: Long, sum: Long, xor: Long)
object Sums {
  def apply(r: Row): Sums = Sums(r.getLong(0),
    if (r.isNullAt(1)) 0L else r.getLong(1), if (r.isNullAt(2)) 0L else r.getLong(2))
}

object Bench {
  val Rate = 500 // events per second of the steady producer
  val TickMs = 100 // the generator drops one file per tick
  val SteadyLeadS = 4 // unmeasured lead-in of the steady stream, seconds
  val SetupRows = 20000 // also warms the per-row code paths before a pass
  val SetupReps = 3
  val CatchupBaseRows = 20000
  val CatchupRowsPerFile = 20000
  val CatchupFilesPerTrigger = 2
  val CatchupRowsPerSecond = 12000 // backlog rows per second of --seconds
  val CatchupTriggerRows = CatchupFilesPerTrigger * CatchupRowsPerFile
  val DashRows = 40000
  val DashFiles = 2
  val ProbeReps = 3
  val HashMod = 2147483648L

  /** Queries run with ANSI mode off; see `withQueryConf`. */
  val AnsiOff: Set[String] = Set("w2_zscore")

  val ScoreCols: Seq[String] = Seq("id_transacao", "t5_score", "t6_score",
    "t7_score", "score_medio", "score_aprovado", "saldo_aprovado",
    "limite_aprovado", "transacao_aprovada")

  private val valueBounds = Seq(0.0, 100.0, 200.0, 500.0, 1000.0)
  private val valueLabels = Seq("0-100", "100-200", "200-500", "500-1000", "1000+")
  private val distBounds = Seq(0.0, 10.0, 25.0, 50.0)
  private val distLabels = Seq("0-10", "10-25", "25-50", "50+")

  /** The reference dashboard's analyses that the facts columns support. */
  val queries: Seq[(String, DataFrame => DataFrame)] = Seq(
    "a1_approval_counts" -> (df => Dashboard.approvalCounts(df)),
    "a2_value_histogram" -> (df => Dashboard.valueHistogram(df, valueBounds, valueLabels)),
    "a3_frequency_by_user_hour" -> (df => Dashboard.frequencyByUserHour(df)),
    "a4_user_stats" -> (df => Dashboard.userStats(df)),
    "a5_rates_by_hour" -> (df => Dashboard.ratesByHour(df)),
    "a6_approval_by_region" -> (df => Dashboard.approvalRateByRegion(df)),
    "a7_denial_totals" -> (df => Dashboard.denialTotals(df)),
    "a8_denied_by_modality" -> (df => Dashboard.deniedByModality(df)),
    "a9_count_by_hour" -> (df => Dashboard.countByHour(df)),
    "a10_distance_crosstab" -> (df => Dashboard.distanceCrosstab(df, distBounds, distLabels)),
    "a11_value_by_modality" -> (df =>
      Dashboard.statsByModality(df, "modalidade_pagamento", "valor_transacao")),
    "a12_hourly_rollup" -> (df =>
      Dashboard.hourlyRollup(df, col("data_horario"), col("valor_transacao"))),
    "a13_recent_mean" -> (df => Dashboard.recentMean(df, 100)),
    "a14_outlier_trimmed" -> (df => Dashboard.outlierTrimmedStats(df)),
    "a15_region_rate_bounds" -> (df => Dashboard.regionRateBounds(df)),
    "f1_multiselect" -> (df => Dashboard.multiselectFilter(df, Seq("PIX", "TED"), 8, 18)
      .select("id_transacao", "valor_transacao", "transacao_aprovada")),
    "w1_frequency_score" -> (df => Dashboard.frequencyScorePerRow(df)),
    "w2_zscore" -> (df => Dashboard.zScorePerRow(df)),
    "w4_recency_top_n" -> (df => Dashboard.recencyTopN(df, 10)))

  /** The timed action of every dashboard query: one aggregate over its
    * result, so each query runs to completion and yields a digest.
    */
  def checksum(df: DataFrame): DataFrame = {
    val h = xxhash64(df.columns.toSeq.map(c => col(s"`$c`")): _*)
    df.select(h.as("h")).agg(count(lit(1)), sum(pmod(col("h"), lit(HashMod))),
      bit_xor(col("h")))
  }

  /** Files read by the plan's file scans, from their `numFiles` metric. */
  def scanFiles(plan: SparkPlan): Long = plan match {
    case a: AdaptiveSparkPlanExec => scanFiles(a.executedPlan)
    case s: QueryStageExec => scanFiles(s.plan)
    case f: FileSourceScanExec => f.metrics.get("numFiles").map(_.value).getOrElse(0L)
    case p => p.children.map(scanFiles).sum
  }

  /** Row-by-row comparison that allows a rounded double to differ by one
    * unit in its last kept digit (a sum taken in another order can round
    * the other way). Used only when the digests differ.
    */
  def sameRows(a: DataFrame, b: DataFrame): Boolean = {
    def rows(df: DataFrame) = df.collect().toSeq.map(_.toSeq).sortBy(r =>
      r.map {
        case d: Double => f"$d%.3f"
        case v => String.valueOf(v)
      }.mkString("\u0001"))
    val (x, y) = (rows(a), rows(b))
    x.size == y.size && x.zip(y).forall { case (r, s) =>
      r.size == s.size && r.zip(s).forall {
        case (u: Double, v: Double) =>
          math.abs(u - v) <= 1.01e-4 + 1e-9 * math.abs(u)
        case (u, v) => u == v
      }
    }
  }
}
