package streambench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.LongAdder

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.BenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

/** One completed micro-batch as its progress event reports it. Phase
  * durations are taken one by one from the event: `triggerExecution`
  * already contains the other phases, so they are never summed.
  */
final case class Trigger(runId: String, batchId: Long, rows: Long,
                         startMs: Long, phases: Map[String, Long]) {
  def ms(phase: String): Long = phases.getOrElse(phase, 0L)
  def endMs: Long = startMs + ms("triggerExecution")
}

/** Collects the progress event of every micro-batch of every query. */
final class StreamProbe extends StreamingQueryListener {
  private val seen = new ConcurrentLinkedQueue[Trigger]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    seen.add(Trigger(p.runId.toString, p.batchId, p.numInputRows,
      Instant.parse(p.timestamp).toEpochMilli,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
  }

  /** The query's batches that carried rows, once `rows` rows are reported
    * (progress events arrive on the listener bus after the batch ends).
    */
  def dataTriggers(spark: SparkSession, q: StreamingQuery, rows: Long): Seq[Trigger] = {
    val id = q.runId.toString
    def now = seen.asScala.filter(t => t.runId == id && t.rows > 0).toSeq
    BenchBus.drain(spark.sparkContext)
    val deadline = System.nanoTime() + 5000000000L
    while (now.map(_.rows).sum < rows && System.nanoTime() < deadline)
      Thread.sleep(20)
    now.sortBy(_.batchId)
  }
}

final case class Counts(jobs: Long, tasks: Long, cpuNs: Long, gcMs: Long,
                        shuffleBytes: Long) {
  def -(o: Counts): Counts = Counts(jobs - o.jobs, tasks - o.tasks,
    cpuNs - o.cpuNs, gcMs - o.gcMs, shuffleBytes - o.shuffleBytes)
}

/** Jobs, tasks, executor CPU, GC and shuffle bytes, from task-end events.
  * Registered only in traced runs.
  */
final class JobProbe extends SparkListener {
  private val jobs, tasks, cpuNs, gcMs, shuffleBytes = new LongAdder
  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.increment()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.increment()
    val m = e.taskMetrics
    if (m != null) {
      cpuNs.add(m.executorCpuTime)
      gcMs.add(m.jvmGCTime)
      shuffleBytes.add(m.shuffleWriteMetrics.bytesWritten)
    }
  }
  def counts(spark: SparkSession): Counts = {
    BenchBus.drain(spark.sparkContext)
    Counts(jobs.sum, tasks.sum, cpuNs.sum, gcMs.sum, shuffleBytes.sum)
  }
}

/** Spans around the benchmark's calls into each layer, kept in memory and
  * written out as JSON lines when the run ends. Times are epoch
  * microseconds; a span's parent is the span open on the same thread when
  * it started (0 for none).
  */
final class Tracer(var on: Boolean, runId: String) {
  private final case class Span(id: Int, parent: Int, name: String,
                                startUs: Long, endUs: Long)
  private val spans = ArrayBuffer.empty[Span]
  private var open = List(0)
  private val epochUs0 = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()
  private def nowUs: Long = epochUs0 + (System.nanoTime() - nano0) / 1000L

  def apply[T](name: String)(f: => T): T =
    if (!on) f
    else {
      val id = spans.size + 1
      val parent = open.head
      val start = nowUs
      open = id :: open
      spans += Span(id, parent, name, start, start)
      try f
      finally {
        open = open.tail
        spans(id - 1) = spans(id - 1).copy(endUs = nowUs)
      }
    }

  /** A span whose times were measured elsewhere (a micro-batch, from its
    * progress event), under the span open now.
    */
  def record(name: String, startMs: Long, endMs: Long): Unit =
    if (on) spans += Span(spans.size + 1, open.head, name,
      startMs * 1000L, endMs * 1000L)

  def size: Int = spans.size

  def write(path: Path): Unit = if (on) {
    Files.createDirectories(path.getParent)
    Files.write(path, spans.map { s =>
      s"""{"run":"$runId","id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_us":${s.startUs},"end_us":${s.endUs}}"""
    }.mkString("", "\n", "\n").getBytes(UTF_8))
  }
}

object Host {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Process CPU time without the JIT compiler threads, in ns. A run is
    * young enough that C1/C2 compilation takes over a core; that is the
    * JVM warming up, not work the pipeline does. (The harness runs with
    * a fixed set of compiler threads, so none exits and takes its time
    * along.)
    */
  def cpuNs: Long = os.getProcessCpuTime - jitNs

  /** CPU time of the JIT compiler threads, from /proc, in ns. */
  def jitNs: Long = {
    val tasks = new java.io.File("/proc/self/task").listFiles()
    if (tasks == null) 0L
    else tasks.iterator.map { t =>
      try {
        val comm = new String(Files.readAllBytes(t.toPath.resolve("comm")), UTF_8)
        if (!comm.contains("CompilerThre")) 0L
        else {
          val stat = new String(Files.readAllBytes(t.toPath.resolve("stat")), UTF_8)
          // fields after the parenthesised name: utime and stime are 14 and 15
          val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
          (f(11).toLong + f(12).toLong) * TickNs
        }
      } catch { case _: java.io.IOException => 0L }
    }.sum
  }
  private val TickNs = 10000000L // USER_HZ = 100

  def load1: Double = os.getSystemLoadAverage

  /** Driver heap in use after a forced collection, in MB. */
  def heapUsedMb: Double = {
    val mem = ManagementFactory.getMemoryMXBean
    System.gc(); System.gc()
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Share of the wall clock that `threads` busy threads got on a CPU:
    * near 1.0 on an idle host, lower when other processes compete.
    */
  def cpuShare(threads: Int, millis: Long = 200L): Double = {
    val bean = ManagementFactory.getThreadMXBean
    val got = new LongAdder
    val t0 = System.nanoTime()
    val ts = (1 to threads).map { _ =>
      val t = new Thread(() => {
        val c0 = bean.getCurrentThreadCpuTime
        var x = 0L
        while (System.nanoTime() - t0 < millis * 1000000L) x += x * 31 + 7
        got.add(bean.getCurrentThreadCpuTime - c0 + (x & 0L))
      })
      t.start(); t
    }
    ts.foreach(_.join())
    got.sum.toDouble / (threads * (System.nanoTime() - t0))
  }
}

object Stats {
  /** Linear-interpolation quantile of unsorted values. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def timedMs(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6
  }
}
