package loadbench

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.LoadBenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.ml.{ModelClient, ModelRegistry}

/** One layer call made by the benchmark: `parent` is the enclosing span's
  * id (-1 at top level), `op` the op id (-1 during set-up). */
final case class Span(id: Int, name: String, parent: Int, op: Int,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Counts model calls and the time spent in them, delegating to the client
  * that was current when it was created. Counters are process-global: in
  * `local[n]` every executor thread calls the same instance. */
final class TimingModelClient(inner: ModelClient) extends ModelClient {
  private def timed[T](f: => T): T = {
    val t0 = System.nanoTime
    try f finally {
      TimingModelClient.nanos.addAndGet(System.nanoTime - t0)
      TimingModelClient.calls.incrementAndGet(); ()
    }
  }
  def embedDense(text: String, dim: Int): Array[Float] = timed(inner.embedDense(text, dim))
  def encodeSparse(text: String): Map[String, Float] = timed(inner.encodeSparse(text))
  def embedMultimodal(text: String, imageB64: String, dim: Int): Array[Float] =
    timed(inner.embedMultimodal(text, imageB64, dim))
  def similarity(query: String, passage: String, dim: Int): Float =
    timed(inner.similarity(query, passage, dim))
  def spanScore(query: String, window: String, dim: Int): Double =
    timed(inner.spanScore(query, window, dim))
}
object TimingModelClient {
  val calls = new AtomicLong
  val nanos = new AtomicLong
}

/** Jobs, stages and tasks as the Spark scheduler reports them. A job's name
  * is its final stage's call site ("localCheckpoint at Seismic.scala:437"),
  * kept in the detail file. */
final class JobListener extends SparkListener {
  final class Job(val id: Int, val startMs: Long, val name: String) {
    var endMs = -1L
    var stages, tasks = 0
    var busyMs, shuffleWrite, spill, result = 0L
  }
  private val byId = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Job]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val name = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    val j = new Job(e.jobId, e.time, name)
    byId(e.jobId) = j
    e.stageIds.foreach(stageJob(_) = j)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    byId.get(e.jobId).foreach(_.endMs = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      j.busyMs += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        j.result += m.resultSize
      }
    }
  }
  /** Jobs submitted inside [fromMs, toMs]. */
  def jobsIn(fromMs: Long, toMs: Long): Seq[Job] = synchronized {
    byId.values.filter(j => j.startMs >= fromMs && j.startMs <= toMs).toSeq
  }
}

/** Streaming trigger durations: addBatch and the whole triggerExecution. */
final class TriggerListener extends StreamingQueryListener {
  final case class Trigger(startMs: Long, addBatchMs: Long, triggerMs: Long)
  private val triggers = ArrayBuffer.empty[Trigger]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    val d = p.durationMs
    def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
    triggers += Trigger(java.time.Instant.parse(p.timestamp).toEpochMilli,
      ms("addBatch"), ms("triggerExecution"))
  }
  def triggersIn(fromMs: Long, toMs: Long): Seq[Trigger] = synchronized {
    triggers.filter(t => t.startMs >= fromMs && t.startMs <= toMs).toSeq
  }
}

/** Process counters read from outside the program. */
object Proc {
  /** (rchar, wchar) of this process: bytes passed through read/write
    * system calls, page-cache hits included. */
  def io(): (Long, Long) = {
    val kv = scala.io.Source.fromFile("/proc/self/io").getLines()
      .map(_.split(":\\s*")).collect { case Array(k, v) => k -> v.trim.toLong }.toMap
    (kv.getOrElse("rchar", 0L), kv.getOrElse("wchar", 0L))
  }
  /** Peak resident set (VmHWM) in MiB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong / 1024.0).getOrElse(0.0)
  def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
}

/** The traced run's recorder. With `enabled` false every method runs its
  * body and records nothing, so ops share one code path in both runs.
  * With it on, each layer call gets a span, lazy layer outputs are
  * materialized at the boundary (so each layer's work lands in its own
  * span), counts are recorded where the work happens, and the op runs
  * with the Spark and streaming listeners and the timing model client. */
final class Tracer(val enabled: Boolean) {
  val spans = ArrayBuffer.empty[Span]
  // open spans per thread: an op may call layers from several threads
  private val open = ThreadLocal.withInitial[List[Int]](() => Nil)
  private val nextId = new AtomicInteger
  @volatile private var op = -1

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId.getAndIncrement()
      val outer = open.get
      open.set(id :: outer)
      val t0 = System.nanoTime
      try body
      finally {
        val s = Span(id, name, outer.headOption.getOrElse(-1), op, t0, System.nanoTime)
        spans.synchronized { spans += s }
        open.set(outer)
      }
    }

  /** A lazy layer output, materialized inside its span when tracing. */
  def df(name: String)(body: => DataFrame): DataFrame =
    if (!enabled) body else span(name)(body.localCheckpoint(true))

  private val counts = mutable.HashMap.empty[(Int, String), Double]
  def count(name: String, n: => Double): Unit =
    if (enabled) counts((op, name)) = counts.getOrElse((op, name), 0.0) + n

  // ------------------------------------------------------------ per-op state
  final case class OpRecord(op: Int, fromMs: Long, toMs: Long, wallS: Double,
      gcMs: Long, rchar: Long, wchar: Long, mlCalls: Long, mlNanos: Long)
  val ops = ArrayBuffer.empty[OpRecord]
  val jobs = new JobListener
  val triggers = new TriggerListener

  /** Runs one traced op; returns its result and wall seconds. */
  def tracedOp[T](spark: SparkSession, i: Int)(body: => T): (T, Double) = {
    val sc = spark.sparkContext
    sc.addSparkListener(jobs)
    spark.streams.addListener(triggers)
    op = i
    val gc0 = Proc.gcMs(); val (r0, w0) = Proc.io()
    val c0 = TimingModelClient.calls.get; val n0 = TimingModelClient.nanos.get
    val fromMs = System.currentTimeMillis
    val t0 = System.nanoTime
    try {
      val out = ModelRegistry.withClient(new TimingModelClient(ModelRegistry.current))(body)
      val wall = (System.nanoTime - t0) / 1e9
      val toMs = System.currentTimeMillis
      val (r1, w1) = Proc.io()
      ops += OpRecord(i, fromMs, toMs, wall, Proc.gcMs() - gc0, r1 - r0, w1 - w0,
        TimingModelClient.calls.get - c0, TimingModelClient.nanos.get - n0)
      (out, wall)
    } finally {
      op = -1
      LoadBenchBus.drain(sc)
      sc.removeSparkListener(jobs)
      spark.streams.removeListener(triggers)
    }
  }

  /** Total seconds of spans named `name`, per op (set-up spans: op -1). */
  def spanSeconds(name: String, opId: Int): Double =
    spans.iterator.filter(s => s.name == name && s.op == opId).map(_.seconds).sum

  def countOf(name: String, opId: Int): Double = counts.getOrElse((opId, name), 0.0)

  /** Mean over traced ops of every layer metric measured from outside. */
  def layerMetrics(cpus: Int, spanNames: Seq[String]): Map[String, Double] = {
    if (ops.isEmpty) return Map.empty
    val perOp = ops.toSeq.map { r =>
      val js = jobs.jobsIn(r.fromMs, r.toMs)
      val covered = unionMs(js.map(j => (j.startMs, if (j.endMs < 0) r.toMs else j.endMs)),
        r.fromMs, r.toMs) / 1000.0
      val busy = js.map(_.busyMs).sum / 1000.0
      val trig = triggers.triggersIn(r.fromMs, r.toMs)
      val base = Map(
        "spark.jobs_per_op" -> js.size.toDouble,
        "spark.stages_per_op" -> js.map(_.stages).sum.toDouble,
        "spark.tasks_per_op" -> js.map(_.tasks).sum.toDouble,
        "spark.driver_gap_s" -> math.max(0.0, r.wallS - covered),
        "spark.task_busy_s" -> busy,
        "spark.core_util" -> busy / (r.wallS * cpus),
        "spark.shuffle_write_bytes" -> js.map(_.shuffleWrite).sum.toDouble,
        "spark.spill_bytes" -> js.map(_.spill).sum.toDouble,
        "spark.result_bytes" -> js.map(_.result).sum.toDouble,
        "spark.gc_s" -> r.gcMs / 1000.0,
        "io.read_bytes" -> r.rchar.toDouble,
        "io.write_bytes" -> r.wchar.toDouble,
        "ml.calls" -> r.mlCalls.toDouble,
        "ml.busy_s" -> r.mlNanos / 1e9,
        "dedup.addbatch_s" -> trig.map(_.addBatchMs).sum / 1000.0,
        "dedup.trigger_overhead_s" -> trig.map(t => t.triggerMs - t.addBatchMs).sum / 1000.0)
      val spanned = spanNames.map(n => s"${n}_s" -> spanSeconds(n, r.op))
      base ++ spanned
    }
    perOp.head.keys.map(k => k -> perOp.map(_(k)).sum / perOp.size).toMap
  }

  /** Length of the union of intervals, clipped to [from, to]. */
  private def unionMs(iv: Seq[(Long, Long)], from: Long, to: Long): Long = {
    var total = 0L; var curS = -1L; var curE = -1L
    iv.map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
    if (curE > curS) total += curE - curS
    total
  }
}

object Tracer {
  /** Records nothing: the untraced path. */
  val Off = new Tracer(false)
}
