package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.dedup.EmbeddingIndex

/** THE measurement harness (r19 — VERDICT r18 #7): one main with
  * subcommands, replacing the eleven-plus one-shot profiler objects
  * (Profile, ProfileEmb/2, ProfileParts, ProfilePrefix/2, ProfileSemantic,
  * ProfileWinnowStats, ProfileDelta 1-3, QuantBench, QsetBench,
  * StreamCurve, AnchorProbe, R18Profile) that accumulated across
  * optimization rounds. Two subcommands survive — the ones the round
  * protocol actually uses; everything else was dead weight whose findings
  * live on in SCALE.md / OPTIMIZATION_r*.md:
  *
  *  - `jobs [passes=N] [detail=1] [q ...]` — the bench methodology
  *    (2 warmup passes, then N timed passes, median per query) over a
  *    query subset, with per-window host anchors and per-query JOB
  *    accounting (n_jobs, in-job vs driver-gap wall split, per-job
  *    callsites under detail=1) on the last pass. Cheaper than the
  *    161-query bench for per-change A/B cells but shares its warmth
  *    discipline: a cold Catalyst (driver JIT) inflates the gap share
  *    3-6× (measured r18: the same gate ran 34.6 → 17.3 → ~6 s across
  *    consecutive invocations at healthy anchors), so never trust a
  *    first invocation.
  *  - `quant [passes=N] [nbase=N] [ndelta=N] [out=path]` — the
  *    quantized-prefilter A/B cell in BOTH regimes (the VERDICT r16 #6
  *    done-criterion, re-run per round): `gate` = the real sf0.1 delta
  *    gate where the prefilter's extra joins cost more than the narrow
  *    payload saves, `volume` = a synthetic high-candidate-volume delta
  *    where verification dominates — plus, since r19, an `auto` variant
  *    per regime proving the default cutover picks the winning side.
  *
  * Reads `SPARK_GRAFT_SF_DIR` / `SPARK_GRAFT_CPUS` like every main. */
object Harness {

  def main(args: Array[String]): Unit = args.headOption match {
    case Some("jobs") => jobs(args.tail)
    case Some("quant") => quant(args.tail)
    case other =>
      System.err.println(
        s"usage: graft.Harness <jobs|quant> [k=v ...] (got: $other)")
      sys.exit(2)
  }

  private def argMapOf(args: Array[String]): (Map[String, String], Seq[String]) = {
    val (kv, bare) = args.partition(_.contains("="))
    (kv.flatMap { a =>
      a.split("=", 2) match { case Array(k, v) => Some(k -> v); case _ => None }
    }.toMap, bare.toSeq)
  }

  private def session(): (SparkSession, Int) = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    (spark, cpus.toInt)
  }

  // ------------------------------------------------------------------ jobs

  private final class JobSpans extends SparkListener {
    final case class Span(id: Int, t0: Long, var t1: Long, desc: String)
    val spans = new java.util.concurrent.ConcurrentHashMap[Int, Span]()
    override def onJobStart(js: SparkListenerJobStart): Unit = {
      val p = Option(js.properties)
      val d = p.flatMap(x => Option(x.getProperty("spark.job.description")))
        .orElse(p.flatMap(x => Option(x.getProperty("callSite.short"))))
        .orElse(js.stageInfos.lastOption.map(_.name))
        .getOrElse("")
      val stages = js.stageInfos.size
      spans.put(js.jobId,
        Span(js.jobId, System.nanoTime(), -1L, s"stages=$stages $d")); ()
    }
    override def onJobEnd(je: SparkListenerJobEnd): Unit = {
      Option(spans.get(je.jobId)).foreach(_.t1 = System.nanoTime()); ()
    }
    def reset(): Unit = spans.clear()
    def snapshot(): Seq[Span] = {
      import scala.jdk.CollectionConverters._
      spans.values.asScala.toSeq.sortBy(_.t0)
    }
  }

  /** Per-query wall + job accounting over a query subset — the former
    * R18Profile, verbatim methodology (its r18 job-count tables must stay
    * comparable): 2 untimed warmup passes, `passes` timed passes, median
    * per query; job spans and the in-job/gap split on the LAST pass. */
  private def jobs(args: Array[String]): Unit = {
    val (argMap, bare) = argMapOf(args)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val passes = argMap.getOrElse("passes",
      sys.env.getOrElse("SPARK_GRAFT_R18_PASSES", "3")).toInt
    val jobDetail = argMap.getOrElse("detail",
      sys.env.getOrElse("SPARK_GRAFT_R18_JOBS", "0")) == "1"
    val names: Seq[String] =
      if (bare.nonEmpty) bare
      else Seq("q_dedup_embedding_delta_capped", "q_dedup_embedding_delta",
        "q_stream_dedup_clusters_embedding", "q_stream_dedup_embedding",
        "q_stream_dedup_clusters_winnow", "q_stream_dedup_clusters",
        "q_stream_dedup_minhash", "q_dedup_minhash_delta_capped",
        "q_dedup_ngram_prefix", "q_dedup_keep")
    val (spark, cpus) = session()
    val listener = new JobSpans
    spark.sparkContext.addSparkListener(listener)

    def force(name: String): Unit =
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()

    // warmup: two passes — the second finishes what the first's cold
    // Catalyst left uncompiled (a single warmup still measured 2-3x gap
    // inflation on the first timed pass)
    (1 to 2).foreach { _ =>
      names.foreach { name =>
        try force(name) catch { case e: Throwable =>
          System.err.println(s"[jobs] warmup $name failed: ${e.getMessage}") }
      }
    }
    // Bench's per-pass cache hygiene: release every persisted relation a
    // pass leaked that is not one of the warmed ingest memos
    val memoRdds = spark.sparkContext.getPersistentRDDs.keySet
    def dropPassGarbage(): Unit =
      spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!memoRdds.contains(id)) rdd.unpersist(blocking = false)
      }
    dropPassGarbage()
    ScaleBench.cpuRefMopsAll(cpus, 30000000L) // JIT-warm the kernel

    val walls = scala.collection.mutable.Map.empty[String, List[Double]]
      .withDefaultValue(Nil)
    (1 to passes).foreach { pass =>
      val single = ScaleBench.cpuRefMops(60000000L)
      val all = ScaleBench.cpuRefMopsAll(cpus, 30000000L)
      println(f"[jobs] pass=$pass anchor1=$single%6.1f anchorN=$all%8.1f")
      names.foreach { name =>
        listener.reset()
        val t0 = System.nanoTime()
        try force(name) catch { case e: Throwable =>
          System.err.println(s"[jobs] $name failed: ${e.getMessage}") }
        val wall = (System.nanoTime() - t0) / 1e9
        walls(name) = wall :: walls(name)
        if (pass == passes) {
          Thread.sleep(300) // listener delivery is async
          val spans = listener.snapshot().filter(_.t1 > 0)
          val merged = spans.map(s => (s.t0, s.t1)).sortBy(_._1)
            .foldLeft(List.empty[(Long, Long)]) {
              case (Nil, iv) => iv :: Nil
              case ((a, b) :: rest, (c, d)) =>
                if (c <= b) (a, math.max(b, d)) :: rest else (c, d) :: (a, b) :: rest
            }
          val inJob = merged.map(iv => iv._2 - iv._1).sum / 1e9
          val med = walls(name).sorted.apply(walls(name).size / 2)
          println(f"[jobs] $name%-38s median=$med%7.3f last=$wall%7.3f " +
            f"n_jobs=${spans.size}%3d in_job=$inJob%7.3f gap=${wall - inJob}%7.3f")
          if (jobDetail) {
            var prevEnd = t0
            spans.foreach { s =>
              val d = (s.t1 - s.t0) / 1e6
              val gapBefore = (s.t0 - prevEnd) / 1e6
              prevEnd = math.max(prevEnd, s.t1)
              println(f"[jobs]   job=${s.id}%4d ${d}%8.1f ms (gap ${gapBefore}%8.1f) ${s.desc.take(100)}")
            }
          }
        }
      }
      dropPassGarbage()
    }
    spark.stop()
  }

  // ----------------------------------------------------------------- quant

  /** Quantized-prefilter A/B cell — the former QuantBench, with an AUTO
    * variant per regime (r19): the default `quantPrefilter = None` must
    * track the forced-off side at gate scale and the forced-on side at
    * volume, or the cutover threshold is mis-calibrated. */
  private def quant(args: Array[String]): Unit = {
    val (argMap, _) = argMapOf(args)
    val passes = argMap.getOrElse("passes", "5").toInt
    val nBase = argMap.getOrElse("nbase", "50000").toLong
    val nDelta = argMap.getOrElse("ndelta", "5000").toLong
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outFile = argMap.getOrElse("out", "/tmp/graftscale/quant_ab.json")
    val (spark, _) = session()
    def jnum(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

    def medianWall(tag: String)(body: => Long): (Double, Long) = {
      val walls = (1 to passes).map { _ =>
        val t0 = System.nanoTime()
        val rows = body
        ((System.nanoTime() - t0) / 1e9, rows)
      }
      val med = walls.map(_._1).sorted.apply(passes / 2)
      println(f"[quant] $tag%-28s median=$med%6.2fs rows=${walls.head._2}")
      (med, walls.head._2)
    }

    val sections = scala.collection.mutable.ArrayBuffer.empty[String]

    // ---- gate regime: the real sf0.1 gate, prefilter off vs on vs auto
    {
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val idxPath = SparkEntry.embeddingIndexPath(spark, sfDir)
      val delta = emb.where(col("vec_id") % 10 === 7)
      def run(qp: Option[Boolean]): Long =
        EmbeddingIndex.deltaPairs(spark, idxPath, delta, threshold = 0.45,
          quantPrefilter = qp).count()
      val anchor0 = ScaleBench.cpuRefMops()
      val (offW, offN) = medianWall("gate delta quant=off")(run(Some(false)))
      val (onW, onN) = medianWall("gate delta quant=on")(run(Some(true)))
      val (autoW, autoN) = medianWall("gate delta quant=auto")(run(None))
      val anchor1 = ScaleBench.cpuRefMops()
      require(offN == onN && offN == autoN,
        s"gate outputs diverged: $offN vs $onN vs $autoN")
      sections += s""""gate":{"off_s":${jnum(offW)},"on_s":${jnum(onW)},""" +
        s""""auto_s":${jnum(autoW)},"rows":$offN,""" +
        s""""cpu_ref_mops":[${jnum(anchor0)},${jnum(anchor1)}]}"""
    }

    // ---- volume regime: deterministic pseudo-random corpus, fixed nbits
    // (populations ∝ corpus — the regime the band-bucket caps exist for),
    // candidate volume ≈ nBase·nDelta·(1 − (15/16)^tables) gid pairs for
    // evenly filled buckets
    {
      // hash-derived floats in [-1, 1): engine-deterministic, incompressible
      def vecCol = transform(sequence(lit(0), lit(63)),
        i => ((pmod(xxhash64(col("id"), i), lit(2000001L)) - 1000000L)
          .cast("double") / 1000000.0).cast("float"))
      val base = spark.range(nBase).select(col("id").as("vec_id"),
        vecCol.as("embedding"))
      val delta = spark.range(nBase, nBase + nDelta).select(
        col("id").as("vec_id"), vecCol.as("embedding"))
      val root = java.nio.file.Files.createTempDirectory("quantvol").toFile
      try {
        EmbeddingIndex.write(base, root.getAbsolutePath, dim = 64, nbits = 4,
          tables = 8)
        def run(qp: Option[Boolean]): Long =
          EmbeddingIndex.deltaPairs(spark, root.getAbsolutePath, delta,
            threshold = 0.45, quantPrefilter = qp).count()
        val anchor0 = ScaleBench.cpuRefMops()
        val (offW, offN) = medianWall("volume delta quant=off")(run(Some(false)))
        val (onW, onN) = medianWall("volume delta quant=on")(run(Some(true)))
        val (autoW, autoN) = medianWall("volume delta quant=auto")(run(None))
        val anchor1 = ScaleBench.cpuRefMops()
        require(offN == onN && offN == autoN,
          s"volume outputs diverged: $offN vs $onN vs $autoN")
        sections += s""""volume":{"nbase":$nBase,"ndelta":$nDelta,""" +
          s""""off_s":${jnum(offW)},"on_s":${jnum(onW)},"auto_s":${jnum(autoW)},""" +
          s""""rows":$offN,"cpu_ref_mops":[${jnum(anchor0)},${jnum(anchor1)}]}"""
      } finally org.apache.commons.io.FileUtils.deleteDirectory(root)
    }

    val json = sections.mkString("{", ",", "}")
    new java.io.File(outFile).getParentFile.mkdirs()
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(s"[quant] wrote $outFile")
    spark.stop()
  }
}
