package loadbench

import java.io.File
import java.nio.file.{Files, Paths, StandardOpenOption}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** The benchmark program: one JVM runs one workload end to end.
  *
  *   loadbench.Main --workload <name> --inputs <dir> --work <dir> --seed <n>
  *     --seconds <s> --trace <0|1> --cpus <n> --setups <n> --warmup <s>
  *     [--min-ops <n>] [--results <dir>] [--commit <id>]
  *
  * Untraced (--trace 0): sets up `setups` times (each from a fresh
  * SparkSession) and reports the median set-up time, runs untimed warm-up
  * ops for `warmup` seconds (at least one), then a closed loop for
  * `seconds` and at least `min-ops` ops, then the untimed checks, and
  * prints the end-to-end metrics. Traced (--trace 1): sets up once, then
  * alternates traced and untraced ops (twice `min-ops` at least), and
  * prints the per-layer metrics plus the tracing overhead; the spans and
  * per-op records go to a new detail file under --results. */
object Main {
  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val inputs = a("inputs"); val work = a("work")
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    // a traced run alternates traced and untraced ops: twice the ops
    val minOps = a.getOrElse("min-ops", "1").toInt * (if (trace) 2 else 1)
    val cpus = a("cpus").toInt
    val w: Workload = workload match {
      case "search_hybrid" => new SearchHybrid(inputs)
      case "dedup_stream" => new DedupStream(inputs)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val context = hostContext(cpus)
    val tracer = new Tracer(trace)
    var spark: SparkSession = null
    try {
      // ---- set-up, from session creation through index build
      val setups = ArrayBuffer.empty[Double]
      for (_ <- 0 until (if (trace) 1 else a("setups").toInt)) {
        if (spark != null) spark.stop()
        Inputs.deleteTree(Paths.get(work))
        new File(work).mkdirs()
        val t0 = System.nanoTime
        spark = session(cpus, work)
        w.setup(spark, s"$work/data", tracer)
        setups += (System.nanoTime - t0) / 1e9
        log(f"set-up ${setups.size}: ${setups.last}%.2f s")
      }
      // an op that throws counts as failed, records no latency and does not
      // stop the loop
      var attempted = 0; var failed = 0
      def attempt(i: Int)(body: => Unit): Unit = {
        attempted += 1
        try { w.arrive(i); body }
        catch { case NonFatal(e) => failed += 1; log(s"op $i failed: $e") }
      }
      // ---- warm-up ops of the same shape, untimed
      val warmupS = a("warmup").toDouble
      var i = 0
      val warm0 = System.nanoTime
      while (i == 0 || (System.nanoTime - warm0) / 1e9 < warmupS) {
        val t0 = System.nanoTime
        attempt(i)(w.op(i, Tracer.Off))
        log(f"warm-up op $i: ${(System.nanoTime - t0) / 1e9}%.3f s")
        i += 1
      }
      // ---- the closed loop
      val plain = ArrayBuffer.empty[Double]
      val traced = ArrayBuffer.empty[Double]
      var items = 0L
      val loop0 = System.nanoTime
      val loopFrom = attempted
      while ((System.nanoTime - loop0) / 1e9 < seconds || attempted - loopFrom < minOps) {
        attempt(i) {
          if (trace && i % 2 == 0) {
            val (n, wall) = tracer.tracedOp(spark, i)(w.op(i, tracer))
            traced += wall; items += n
          } else {
            val t0 = System.nanoTime
            val n = w.op(i, Tracer.Off)
            plain += (System.nanoTime - t0) / 1e9; items += n
          }
        }
        i += 1
      }
      val loopS = (System.nanoTime - loop0) / 1e9
      log(f"loop: ${attempted - loopFrom} ops in $loopS%.2f s, $failed failed in all; " +
        s"ops ${plain.map(x => f"$x%.2f").mkString(" ")}")
      // peak memory of set-up, warm-up and the loop; the checks' own
      // ground-truth work comes after
      val peakRss = Proc.peakRssMb()
      val check0 = System.nanoTime
      // ---- untimed checks and sizes
      val chk = w.check()
      val bytesPerDoc = w.indexBytes.toDouble / math.max(1L, w.docsIndexed)
      log(f"checks: ${(System.nanoTime - check0) / 1e9}%.2f s, ok=${chk.ok}, " +
        f"recall=${chk.recall}%.4f")
      val (tailP, tail) = tailOf(plain.toSeq)
      val info = Map(
        "workload" -> workload, "seed" -> a("seed").toLong, "sizes" -> w.sizes,
        "context" -> context, "ops_timed" -> plain.size, "ops_traced" -> traced.size,
        "tail_percentile" -> tailP, "tail_samples" -> plain.size, "op_latencies_s" -> plain,
        "setup_runs_s" -> setups, "checks" -> chk.detail, "recall" -> chk.recall,
        "docs_indexed" -> w.docsIndexed)
      println(json.writeValueAsString(info))
      val metrics: Map[String, (Double, String)] =
        if (!trace) Map(
          "setup_s" -> (median(setups.toSeq) -> "s"),
          "items_per_s" -> (items / loopS -> "1/s"),
          "op_p50_s" -> (median(plain.toSeq) -> "s"),
          "op_tail_s" -> (tail -> "s"),
          "recall" -> (chk.recall -> "ratio"),
          "peak_rss_mb" -> (peakRss -> "MiB"),
          "index_bytes_per_doc" -> (bytesPerDoc -> "bytes"))
        else {
          val layers = LayerMetrics.all.map(_ -> 0.0).toMap ++
            tracer.layerMetrics(cpus, w.spanNames) ++ w.extraLayerMetrics(tracer) +
            ("trace.overhead_s" -> (median(traced.toSeq) - median(plain.toSeq)))
          writeDetail(a, workload, w, context, tracer, traced.toSeq, plain.toSeq, layers)
          layers.map { case (k, v) => k -> (v -> LayerMetrics.unit(k)) }
        }
      val result = Map(
        "correct" -> (chk.ok && plain.nonEmpty),
        "attempted" -> attempted, "failed" -> failed,
        // no op completed: NaN is not JSON, report 0 (the run is not correct)
        "metrics" -> metrics.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
          k -> Map("value" -> (if (v.isNaN) 0.0 else v), "unit" -> u) }.toMap)
      println(json.writeValueAsString(result))
    } finally {
      if (spark != null) spark.stop()
    }
  }

  private def log(msg: String): Unit = System.err.println(s"[loadbench] $msg")

  private def session(cpus: Int, work: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("loadbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.default.parallelism", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The highest percentile with at least ten samples above it, from a fixed
    * ladder, and its value (nearest rank). Falls back to the maximum when
    * fewer than eleven samples exist. */
  def tailOf(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted; val n = s.size
    if (n == 0) return (Double.NaN, Double.NaN)
    val ladder = Seq(99.9, 99.0, 95.0, 90.0, 80.0, 75.0, 50.0)
    ladder.find(p => n - math.ceil(p / 100 * n) >= 10) match {
      case Some(p) => (p, s(math.max(0, math.ceil(p / 100 * n).toInt - 1)))
      case None => (100.0, s.last)
    }
  }

  /** cpus, load1 and a short fixed-work CPU anchor (million mixes/s). */
  private def hostContext(cpus: Int): Map[String, Any] = {
    val load1 = scala.io.Source.fromFile("/proc/loadavg").mkString.split("\\s+")(0).toDouble
    var x = 0x9E3779B97F4A7C15L
    val t0 = System.nanoTime
    var k = 0
    while (k < 20000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; k += 1 }
    val anchor = 20.0 / ((System.nanoTime - t0) / 1e9)
    Map("cpus" -> cpus, "available_processors" -> Runtime.getRuntime.availableProcessors,
      "load1" -> load1, "cpu_anchor_mops" -> anchor, "anchor_check" -> (x & 0xff))
  }

  private def writeDetail(a: Map[String, String], workload: String, w: Workload,
      context: Map[String, Any], t: Tracer, traced: Seq[Double], plain: Seq[Double],
      layers: Map[String, Double]): Unit = {
    val dir = new File(a.getOrElse("results", "results"))
    dir.mkdirs()
    val stamp = java.time.Instant.now.toString.replace(":", "")
    val pid = ProcessHandle.current.pid
    val f = new File(dir, s"trace-$workload-seed${a("seed")}-$stamp-$pid.json")
    val detail = Map(
      "commit" -> a.getOrElse("commit", "unknown"), "workload" -> workload,
      "seed" -> a("seed").toLong, "cpus" -> a("cpus").toInt, "sizes" -> w.sizes,
      "context" -> context, "layer_metrics" -> layers,
      "op_latency_traced_s" -> traced, "op_latency_untraced_s" -> plain,
      "ops" -> t.ops.map(r => Map("op" -> r.op, "wall_s" -> r.wallS, "gc_ms" -> r.gcMs,
        "rchar" -> r.rchar, "wchar" -> r.wchar, "ml_calls" -> r.mlCalls,
        "jobs" -> t.jobs.jobsIn(r.fromMs, r.toMs).map(j => Map("id" -> j.id, "name" -> j.name,
          "start_ms" -> (j.startMs - r.fromMs), "end_ms" -> (j.endMs - r.fromMs),
          "stages" -> j.stages, "tasks" -> j.tasks, "busy_ms" -> j.busyMs))
      )),
      "spans" -> t.spans.map(s => Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "op" -> s.op, "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
    // CREATE_NEW: a later run never overwrites an earlier detail file
    Files.write(f.toPath, json.writerWithDefaultPrettyPrinter().writeValueAsBytes(detail),
      StandardOpenOption.CREATE_NEW)
    println(s"""{"detail": "${f.getPath}"}""")
  }
}

/** Every per-layer metric the traced run reports, with its unit. A layer a
  * workload never touches reports 0. */
object LayerMetrics {
  val all: Seq[String] = Seq(
    "spark.jobs_per_op", "spark.stages_per_op", "spark.tasks_per_op", "spark.driver_gap_s",
    "spark.task_busy_s", "spark.core_util", "spark.shuffle_write_bytes", "spark.spill_bytes",
    "spark.result_bytes", "spark.gc_s", "io.read_bytes", "io.write_bytes",
    "ml.calls", "ml.busy_s", "ingest.chunk_s", "ingest.chunks_per_doc", "ingest.enrich_s",
    "seismic.build_s", "seismic.search_s", "ann.build_s", "ann.search_s", "sparse.build_s",
    "sparse.score_s",
    "exec.fuse_s", "post.mmr_s", "dedup.minhash_s", "dedup.embedding_s", "dedup.addbatch_s",
    "dedup.trigger_overhead_s", "trace.overhead_s")
  def unit(name: String): String =
    if (name.endsWith("_s")) "s"
    else if (name.endsWith("_bytes")) "bytes"
    else if (name == "spark.core_util" || name.endsWith("_per_doc")) "ratio"
    else "count"
}
