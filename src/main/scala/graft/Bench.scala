package graft

import org.apache.spark.sql.SparkSession

/** Per-round benchmark: every SparkEntry query against SPARK_GRAFT_SF_DIR,
  * forced through the noop sink (count() would let Catalyst prune the
  * scoring projections away), after a JVM/codegen warmup pass. Prints ONE
  * JSON line per the driver contract. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def force(name: String): Unit =
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()

    // Warmup: one untimed pass over EVERY query — JIT, per-plan codegen
    // compilation, parquet footer caches, and the ingest-time artifacts a
    // resident engine would hold (token-enriched corpus, SEISMIC index —
    // the reference builds these at ingest/merge). The timed pass below
    // then measures steady-state query latency, not first-call JVM costs.
    val names = SparkEntry.queries.keys.toSeq.sorted
    try {
      SparkEntry.seismicIndex(spark, sfDir).clusters.count()
      SparkEntry.seismicTruncIndex(spark, sfDir).clusters.count()
    } catch { case _: Throwable => }
    names.foreach { name =>
      try force(name) catch { case _: Throwable => }
    }

    // Intra-query persists (minhash shingles, ngram index, SEISMIC summary
    // scores, …) are per-invocation: each pass builds NEW relations, so the
    // previous pass's cached RDDs are unreachable garbage that only adds
    // memory/GC pressure across 75 × 4 query runs. Snapshot the RDD ids
    // that back the long-lived ingest memos (materialized by the warmup
    // above) and release everything newer after each pass.
    val memoRdds = spark.sparkContext.getPersistentRDDs.keySet
    def dropPassGarbage(): Unit =
      spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!memoRdds.contains(id)) rdd.unpersist(blocking = false)
      }
    dropPassGarbage() // warmup's own garbage

    // Contention probe (VERDICT r15 task #2): the r15 driver bench came in
    // +15.6% with every sign pointing at host contention, but the
    // attribution was post-hoc prose. Sample system-wide CPU jiffies
    // (/proc/stat), our own process jiffies (/proc/self/stat — same
    // USER_HZ unit), and the 1-min loadavg around EVERY query, so the
    // run itself records how much CPU OTHER processes burned while it
    // ran — a contended run flags itself instead of being argued about.
    // (total, busy, steal, self) jiffies; negative sentinel on failure.
    // Files.readAll*, not an unclosed Source: these run around every query
    // of every pass (161 × 4 × 2 samples), and each leaked fd lives until
    // GC (ADVICE r17 — the procRchar finding, same pattern here)
    def readProc(path: String): String = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
      java.nio.charset.StandardCharsets.UTF_8)
    def cpuSample(): (Long, Long, Long, Long) =
      try {
        val cpu = readProc("/proc/stat").linesIterator.next()
          .trim.split("\\s+").drop(1).map(_.toLong)
        val total = cpu.take(math.min(8, cpu.length)).sum
        val idle = cpu(3) + (if (cpu.length > 4) cpu(4) else 0L)
        val steal = if (cpu.length > 7) cpu(7) else 0L
        // /proc/self/stat: comm may contain spaces — parse past the ')'
        val self = {
          val s = readProc("/proc/self/stat")
          val rest = s.substring(s.lastIndexOf(')') + 2).split("\\s+")
          rest(11).toLong + rest(12).toLong // utime + stime
        }
        (total, total - idle, steal, self)
      } catch { case _: Throwable => (-1L, 0L, 0L, 0L) }
    def load1(): Double =
      try readProc("/proc/loadavg").split("\\s+")(0).toDouble
      catch { case _: Throwable => -1.0 }
    // Absolute host-speed anchor (r16 bisect lesson): the jiffy probe
    // sees other-process CPU but is BLIND to frequency/power capping —
    // under a capped clock, busy-vs-idle ratios are unchanged while every
    // wall stretches uniformly (observed: a 164 s run with other≈0 next
    // to a 142 s run of the previous round's code, both uniform across
    // untouched queries). [[ScaleBench.cpuRefMops]] measures DELIVERED
    // cycles directly, once before every pass — and since r17 the
    // ALL-CORES variant runs alongside it ([[ScaleBench.cpuRefMopsAll]]):
    // hosts can cap multi-core frequency while one busy core still
    // boosts, which is exactly the residual the r16 single-thread anchor
    // could not see (VERDICT r16 task #1). The queries are multi-core, so
    // the normalized total below scales by the all-cores anchor.
    val cpuRefs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val cpuRefsAll = scala.collection.mutable.ArrayBuffer.empty[Double]
    // short in-run single-thread samples (~60 ms), one every ~20 queries:
    // the final-HEAD r16 cell caught the host capping BETWEEN passes
    // (535→470); these catch it between queries
    val cpuRefsInrun = scala.collection.mutable.ArrayBuffer.empty[Double]
    // in-run ALL-CORES samples, one every ~40 queries (r18 — VERDICT r17
    // "What's wrong" #2): the r16 blind spot was MULTI-core capping, and
    // pass-boundary samples cannot see a capped window shorter than a
    // pass; these run between queries, never inside a timed region
    val cpuRefsAllInrun = scala.collection.mutable.ArrayBuffer.empty[Double]
    ScaleBench.cpuRefMopsAll(cpus.toInt, 30000000L) // JIT-warm the kernel
    cpuRefs += ScaleBench.cpuRefMops()
    cpuRefsAll += ScaleBench.cpuRefMopsAll(cpus.toInt)
    // fraction of ALL cores' jiffies burned by other processes, and by
    // hypervisor steal, across a query's run — DISJOINT shares (ADVICE
    // r16 #3): busy includes the steal jiffies, so the other-process
    // share subtracts them alongside self — otherwise steal is counted
    // twice and the two percentages are not additive
    def otherShare(a: (Long, Long, Long, Long), b: (Long, Long, Long, Long)): (Double, Double) = {
      val dTot = b._1 - a._1
      if (a._1 < 0 || b._1 < 0 || dTot <= 0) (-1.0, -1.0)
      else (math.max(0.0,
        ((b._2 - a._2) - (b._3 - a._3) - (b._4 - a._4)).toDouble / dTot),
        (b._3 - a._3).toDouble / dTot)
    }

    // n=3 timed passes, median per query: single-pass timings at sub-second
    // scale drift ±30% run-to-run (GC, JIT recompiles) — the round-2 sparse
    // "regression" was exactly that noise. The median of 3 is stable enough
    // to make round-over-round deltas meaningful.
    val passes = 3
    val passLoads = scala.collection.mutable.ArrayBuffer.empty[Double]
    // A failed query records NO time (None), not its time-to-exception —
    // r7 counted four broken streaming queries' 70 ms throw latency as
    // bench results, so the summary claimed 96 healthy queries it didn't
    // have. Failures surface as "err" entries + n_failed downstream.
    // Per query: (seconds, other-CPU share, steal share) for the pass.
    val times: Array[Map[String, Option[(Double, Double, Double)]]] = Array.fill(passes) {
      passLoads += load1()
      val t = names.zipWithIndex.map { case (name, qi) =>
        if (qi % 20 == 0) cpuRefsInrun += ScaleBench.cpuRefMops(30000000L)
        if (qi % 40 == 20)
          cpuRefsAllInrun += ScaleBench.cpuRefMopsAll(cpus.toInt, 15000000L)
        val c0 = cpuSample()
        val t0 = System.nanoTime()
        val ok =
          try { force(name); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}"); false }
        val sec = (System.nanoTime() - t0) / 1e9
        val (other, steal) = otherShare(c0, cpuSample())
        name -> (if (ok) Some((sec, other, steal)) else None)
      }.toMap
      dropPassGarbage()
      cpuRefs += ScaleBench.cpuRefMops()
      cpuRefsAll += ScaleBench.cpuRefMopsAll(cpus.toInt)
      t
    }
    passLoads += load1()
    val byName = names.map { name =>
      name -> times.flatMap(_(name)).sortBy(_._1) }
    // failed = did not complete every timed pass (a deterministic breakage
    // fails all three; a flaky one still taints the median)
    val failedNames = byName.collect { case (n, ts) if ts.length < passes => n }
    // the contention shares reported per query come from the SAME pass as
    // its median wall — never a wall from one pass paired with counters
    // from another (the probesplit lesson, ADVICE r15 #3)
    val results = byName.collect { case (n, ts) if ts.length == passes =>
      n -> ts(passes / 2) }
    // Locale.ROOT: f"" interpolation uses the JVM default locale, and a
    // comma-decimal locale (de_DE) would emit invalid JSON ("q":1,2345).
    def num(v: Double): String = String.format(java.util.Locale.ROOT, "%.4f", Double.box(v))
    // 4-decimal times keep the side-file JSON compact without losing bench
    // signal (run-to-run drift is ±30%)
    val qs = (results.map { case (k, v) => "\"" + k + "\":" + num(v._1) } ++
      failedNames.map(n => "\"" + n + "\":\"err\"")).mkString("{", ",", "}")
    val contQs = results.map { case (k, v) =>
      "\"" + k + "\":[" + num(v._2) + "," + num(v._3) + "]" }
      .mkString("{", ",", "}")
    val total = results.map(_._2._1).sum
    val (maxName, maxT) =
      if (results.nonEmpty) results.maxBy(_._2._1) else ("none", (0.0, 0.0, 0.0))
    def medianOf(xs: Seq[Double]): Double = {
      val v = xs.filter(_ >= 0).sorted
      if (v.isEmpty) -1.0 else v(v.length / 2)
    }
    val otherMed = medianOf(results.map(_._2._2).toSeq)
    val stealMed = medianOf(results.map(_._2._3).toSeq)
    // ANCHOR-NORMALIZED total (VERDICT r16 task #1): scale the raw wall by
    // measured/baseline delivered multi-core throughput, so two windows of
    // the same code reconcile numerically instead of in prose. The
    // baselines are arbitrary fixed scale points (stamped from the r17
    // builder host's best-observed window) — BOTH runs being compared
    // normalize with the SAME constants, so only the ratio matters. A
    // residual after normalization is code or a capping mode the kernel
    // anchor cannot see; the in-run samples say whether the window was
    // even stationary.
    val BaselineAllMops = 16000.0
    val BaselineSingleMops = 540.0
    val refAllMed = medianOf(cpuRefsAll.toSeq)
    val refSingleMed = medianOf(cpuRefs.toSeq)
    val totalNorm =
      if (refAllMed > 0) total * (refAllMed / BaselineAllMops) else -1.0
    val totalNormSingle =
      if (refSingleMed > 0) total * (refSingleMed / BaselineSingleMops)
      else -1.0
    // self-adjudication: >10% of all cores spent in OTHER processes (or
    // >5% hypervisor steal) across the median-pass runs means the wall
    // numbers are contaminated by the host, not the code
    val contended = otherMed > 0.10 || stealMed > 0.05
    // Scaling-curve evidence (graft.ScaleBench, measured offline at ×1/×3/×10
    // replication of sf0.1 — see SCALE.md): embed the LATEST committed round's
    // artifacts, stamped with their source round so a reader can tell fresh
    // measurements from carried-over ones (BENCH_r05 presented round-4 curves
    // with nothing but the filename to say so).
    val (scaling, scalingSrc) = {
      val dir = java.nio.file.Paths.get("bench")
      val rx = "scale_r(\\d+)_(disjoint|shared|boilerplate|qset|tdata|semantic_contrast|vecrand|textrand|fixedbatch|streamcurve|probesplit|probe|aging|deltavar|clampcurve|clampread|backfill|quant)\\.json".r
      val byRound: Map[Int, Map[String, java.nio.file.Path]] =
        if (!java.nio.file.Files.isDirectory(dir)) Map.empty
        else {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.list(dir).iterator().asScala.toSeq.flatMap { p =>
            p.getFileName.toString match {
              case rx(r, mode) => Some((r.toInt, mode, p))
              case _ => None
            }
          }.groupBy(_._1).map { case (r, xs) => r -> xs.map(t => t._2 -> t._3).toMap }
        }
      if (byRound.isEmpty) ("", "")
      else {
        val round = byRound.keys.max
        // Pointer must quote the ACTUAL filename prefix: the regex round 6
        // parses from "scale_r06_*" but the files are zero-padded, and the
        // r06 pointer said "scale_r6_*.json" — a dead reference.
        val prefix = byRound(round).values.head.getFileName.toString
          .replaceAll("_(disjoint|shared|boilerplate|qset|tdata|semantic_contrast|vecrand|textrand|fixedbatch|streamcurve|probesplit|probe|aging|deltavar|clampcurve|clampread|backfill|quant)\\.json$", "")
        val parts = Seq("disjoint", "shared", "boilerplate", "tdata", "qset", "semantic_contrast", "vecrand", "textrand", "fixedbatch", "streamcurve", "probesplit", "probe", "aging", "deltavar", "clampcurve", "clampread", "backfill", "quant").flatMap { mode =>
          byRound(round).get(mode).map { p =>
            "\"" + mode + "\":" + new String(java.nio.file.Files.readAllBytes(p),
              java.nio.charset.StandardCharsets.UTF_8).trim
          }
        }
        (s""","scaling_measured_by":"graft.ScaleBench","scaling_src_round":$round,"scaling":${parts.mkString("{", ",", "}")}""",
          s""","scaling_src_round":$round,"scaling_detail":"bench/${prefix}_*.json"""")
      }
    }
    // stdout is tail-captured by the driver (~4 KB) and parsed from the LAST
    // JSON line it finds. BENCH_r04..r06 all came back "parsed": null because
    // the line inlined per-query data (94 queries ≈ 3.5 KB) and, with the sbt
    // epilogue, its HEAD fell out of the capture window. So: the full JSON —
    // per-query map + scaling inline — goes ONLY to the side file, and stdout
    // ends with a ≤1 KB summary whose "detail" points at it.
    val full = s"""{"metric":"total","value":${num(total)},"unit":"sec","queries":$qs,"sf":"$sfDir",""" +
      s""""commit":"${ScaleBench.gitCommit()}","dirty":${ScaleBench.gitDirty()},"cpus":$cpus,""" +
      s""""contention_other_steal":$contQs,"load1":[${passLoads.map(num).mkString(",")}],""" +
      s""""cpu_ref_mops":[${cpuRefs.map(num).mkString(",")}],""" +
      s""""cpu_ref_mops_median":${num(refSingleMed)},""" +
      s""""cpu_ref_all_mops":[${cpuRefsAll.map(num).mkString(",")}],""" +
      s""""cpu_ref_all_mops_median":${num(refAllMed)},""" +
      s""""cpu_ref_inrun_mops":[${cpuRefsInrun.map(num).mkString(",")}],""" +
      s""""cpu_ref_all_inrun_mops":[${cpuRefsAllInrun.map(num).mkString(",")}],""" +
      s""""cpu_ref_all_inrun_mops_median":${num(medianOf(cpuRefsAllInrun.toSeq))},""" +
      s""""anchor_baseline_all_mops":${num(BaselineAllMops)},""" +
      s""""anchor_baseline_single_mops":${num(BaselineSingleMops)},""" +
      s""""value_norm":${num(totalNorm)},"value_norm_single":${num(totalNormSingle)},""" +
      s""""other_cpu_pct":${num(otherMed)},"steal_pct":${num(stealMed)},"contended":$contended$scaling}"""
    // Detail path is (cpus, sf)-STAMPED by default, and it is the ONLY
    // output file: a fixed path let any later run (an 8-core scaling run,
    // a profile) clobber the 32-core run's per-query map. Runs at
    // different core counts coexist; the summary line's "detail" names
    // the file for this run, and the file itself carries commit, dirty
    // (uncommitted tracked changes), cpus and sf.
    val sfName = new java.io.File(sfDir).getName.replaceAll("[^A-Za-z0-9._-]", "_")
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      s"bench_detail_c${cpus}_$sfName.json")
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(outFile),
      full.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Throwable => System.err.println(s"[bench] write $outFile failed: ${e.getMessage}") }
    val summary = s"""{"metric":"total","value":${num(total)},"unit":"sec","n_queries":${results.size},"n_failed":${failedNames.size},"sf":"$sfDir","max_query":"$maxName","max_query_s":${num(maxT._1)},"contended":$contended,"other_cpu_pct":${num(otherMed)},"cpu_ref_mops":${num(refSingleMed)},"cpu_ref_all_mops":${num(refAllMed)},"value_norm":${num(totalNorm)},"detail":"$outFile"$scalingSrc}"""
    println(summary)
    spark.stop()
  }
}
