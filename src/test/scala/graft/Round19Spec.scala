package graft

import org.apache.spark.sql.functions._

import graft.dedup.{Dedup, EmbeddingIndex}

/** Round-19 pins (optimization round 2 — VERDICT r18 #3): the
  * byte-quantized prefilter's AUTO mode. `quantPrefilter = None` (the new
  * default everywhere) cuts over on measured candidate volume:
  *
  *  - batch forms: Σ C(pop, 2) over the bucket populations (the exact
  *    pre-dedup row count of the bucket join), probed only past the
  *    tier-1 id floor so gate-scale corpora never pay the probe job;
  *  - delta path: |candGid| read off the action the path already runs
  *    (zero extra jobs) — the exact verification-join row count.
  *
  * Pinned three ways per branch: output identity across {auto, forced-on,
  * forced-off}, the cutover ENGAGES past the threshold (byte_dot in the
  * physical plan when the thresholds are lowered under the fixture's
  * volume), and the cutover STAYS OFF below it (no byte_dot at default
  * thresholds on the same tiny fixture). Each batch branch also runs at
  * the default thresholds on a spark.range corpus past the id floor, so
  * the volume probe itself executes, and the probe's Σ C(pop, 2) is
  * checked against a driver-side sum over the same buckets. */
class Round19Spec extends SparkSpec {
  import spark.implicits._

  private def pairSet(df: org.apache.spark.sql.DataFrame) =
    df.select(col("id_a").cast("long"), col("id_b").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def hasByteDot(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.contains("byte_dot")

  /** Distinct unit vectors plus a perturbed near-duplicate of each —
    * duplicate-free (routes the non-collapse branch). */
  private def distinctVectors(seed: Long, n: Int, dim: Int): Seq[(Long, Seq[Float])] = {
    val rnd = new scala.util.Random(seed)
    def unit(): Array[Float] = {
      val v = Array.fill(dim)(rnd.nextGaussian().toFloat)
      val nm = math.sqrt(v.map(x => x.toDouble * x).sum)
      v.map(x => (x / nm).toFloat)
    }
    (0 until n).flatMap { i =>
      val b = unit()
      val near = b.zipWithIndex.map { case (x, j) =>
        x + (if (j % 7 == 0) 0.05f else 0f) }
      Seq((2L * i, b.toSeq), (2L * i + 1, near.toSeq))
    }
  }

  /** Every base vector replicated 3x (routes the collapse branch). */
  private def replicatedVectors(seed: Long, n: Int, dim: Int): Seq[(Long, Seq[Float])] = {
    val rnd = new scala.util.Random(seed)
    def unit(): Array[Float] = {
      val v = Array.fill(dim)(rnd.nextGaussian().toFloat)
      val nm = math.sqrt(v.map(x => x.toDouble * x).sum)
      v.map(x => (x / nm).toFloat)
    }
    var id = 0L
    (0 until n).flatMap { _ =>
      val b = unit()
      (0 until 3).map { _ => val r = (id, b.toSeq); id += 1; r }
    }
  }

  /** `n` ids over spark.range at a size only the volume probe sees: id i
    * carries vector k = i % distinct, hash-derived from k / 2 with odd k
    * nudged on one component, so every vector has a near-duplicate partner
    * and ids past `distinct` repeat an earlier vector. */
  private def rangeVectors(n: Long, distinct: Long, dim: Int) = {
    val k = col("id") % distinct
    spark.range(n).select(col("id").as("vec_id"), array((0 until dim).map { j =>
      val x = (pmod(xxhash64(floor(k / 2), lit(j)), lit(2001L)) - 1000L)
        .cast("double") / 1000.0
      (if (j == 0) x + (k % 2) * 0.02 else x).cast("float")
    }: _*).as("embedding"))
  }

  /** The Σ C(pop, 2) the bucket join materializes, summed on the driver
    * over the populations of `bucketed` that are at most `cap`. */
  private def driverVolume(bucketed: org.apache.spark.sql.DataFrame, cap: Long): Long =
    bucketed.groupBy(col("table"), col("bucket")).count().collect()
      .map(_.getLong(2)).filter(_ <= cap).map(p => p * (p - 1) / 2).sum

  test("quant auto cutover, duplicate-free branch: engages past threshold, off below, output-identical") {
    val dim = 16
    val vecs = distinctVectors(19001L, 30, dim).toDF("vec_id", "embedding")
    def run(qp: Option[Boolean], probeIds: Long, pairs: Long) =
      Dedup.embeddingNearDupLsh(vecs, dim = dim, threshold = 0.6,
        nbits = 4, tables = 4, quantPrefilter = qp,
        quantAutoPairs = pairs, quantAutoProbeIds = probeIds)
    val autoOn = run(None, 1L, 1L) // thresholds under the fixture's volume
    val autoOff = run(None, Dedup.QuantAutoMinPairs, Dedup.QuantAutoProbeMinIds)
    val forcedOn = run(Some(true), 1L, 1L)
    val forcedOff = run(Some(false), 1L, 1L)
    assert(pairSet(autoOn).nonEmpty, "fixture must produce pairs")
    assert(pairSet(autoOn) == pairSet(forcedOff), "auto-on output drifted")
    assert(pairSet(autoOn) == pairSet(forcedOn), "forced-on output drifted")
    assert(pairSet(autoOn) == pairSet(autoOff), "auto-off output drifted")
    assert(hasByteDot(autoOn), "auto cutover did not engage past threshold")
    assert(!hasByteDot(autoOff), "auto engaged below the default thresholds")
    assert(!hasByteDot(forcedOff), "forced-off plan contains byte_dot")

    // the DEFAULT thresholds past the id floor: the volume probe runs, the
    // bucket volume stays under QuantAutoMinPairs, the prefilter stays off
    val bigDim = 16
    val big = rangeVectors(Dedup.QuantAutoProbeMinIds + 2,
      Dedup.QuantAutoProbeMinIds + 2, bigDim)
    def runBig(qp: Option[Boolean]) =
      Dedup.embeddingNearDupLsh(big, dim = bigDim, threshold = 0.9,
        nbits = 12, tables = 4, quantPrefilter = qp)
    val bigAuto = runBig(None)
    assert(pairSet(bigAuto).nonEmpty, "range fixture must produce pairs")
    assert(pairSet(bigAuto) == pairSet(runBig(Some(false))),
      "default-threshold auto output drifted")
    assert(!hasByteDot(bigAuto), "auto engaged under QuantAutoMinPairs")

    // the shared volume equals the driver's Σ C(pop, 2) over the same
    // buckets, with the fullest bucket over maxBucket and left out
    val bucketed = big.select(col("vec_id").as("id"), posexplode(
      Dedup.lshBucketCol(col("embedding"), Dedup.lshPlanes(4, 12, bigDim, 42L)))
      .as(Seq("table", "bucket")))
    val maxPop = bucketed.groupBy(col("table"), col("bucket")).count()
      .agg(max(col("count"))).head().getLong(0)
    val cap = (maxPop - 1).toInt
    val volume = Dedup.bucketPairVolume(bucketed, Some(cap))
    assert(volume == driverVolume(bucketed, cap), "bucket volume drifted")
    assert(volume < driverVolume(bucketed, Long.MaxValue), "no bucket over the cap")
    assert(volume > 0L && volume < Dedup.QuantAutoMinPairs,
      s"fixture volume $volume outside (0, QuantAutoMinPairs)")
  }

  test("quant auto cutover, duplicate-collapse branch: engages past threshold, off below, output-identical") {
    val dim = 16
    val vecs = replicatedVectors(19002L, 12, dim).toDF("vec_id", "embedding")
    def run(qp: Option[Boolean], probeIds: Long, pairs: Long) =
      Dedup.embeddingNearDupLsh(vecs, dim = dim, threshold = 0.6,
        nbits = 2, tables = 4, quantPrefilter = qp,
        quantAutoPairs = pairs, quantAutoProbeIds = probeIds)
    val autoOn = run(None, 1L, 1L)
    val autoOff = run(None, Dedup.QuantAutoMinPairs, Dedup.QuantAutoProbeMinIds)
    val forcedOff = run(Some(false), 1L, 1L)
    assert(pairSet(autoOn).nonEmpty, "fixture must produce pairs")
    assert(pairSet(autoOn) == pairSet(forcedOff), "collapse auto output drifted")
    assert(pairSet(autoOn) == pairSet(autoOff), "collapse auto-off output drifted")
    assert(hasByteDot(autoOn), "collapse auto cutover did not engage")
    assert(!hasByteDot(autoOff), "collapse auto engaged below default thresholds")

    // the DEFAULT thresholds past the id floor on the DISTINCT-vector count
    // (the collapse branch's join population): the probe runs over the
    // rep-level buckets and keeps the prefilter off
    val bigDim = 16
    val distinct = Dedup.QuantAutoProbeMinIds + 2
    val big = rangeVectors(distinct + 600, distinct, bigDim)
    def runBig(qp: Option[Boolean]) =
      Dedup.embeddingNearDupLsh(big, dim = bigDim, threshold = 0.9,
        nbits = 12, tables = 4, quantPrefilter = qp)
    val bigAuto = runBig(None)
    assert(pairSet(bigAuto).nonEmpty, "range fixture must produce pairs")
    assert(pairSet(bigAuto) == pairSet(runBig(Some(false))),
      "collapse default-threshold auto output drifted")
    assert(!hasByteDot(bigAuto), "collapse auto engaged under QuantAutoMinPairs")
  }

  test("quant auto cutover, delta path: engages past threshold, off below, output-identical") {
    val dim = 16
    val all = distinctVectors(19003L, 24, dim)
    val base = all.filter(_._1 % 4 != 3).toDF("vec_id", "embedding")
    val delta = all.filter(_._1 % 4 == 3).toDF("vec_id", "embedding")
    val root = java.nio.file.Files.createTempDirectory("r19quant").toFile
    try {
      val idx = new java.io.File(root, "idx").getAbsolutePath
      EmbeddingIndex.write(base, idx, dim = dim, nbits = 2, tables = 4)
      def run(qp: Option[Boolean], pairs: Long) =
        EmbeddingIndex.deltaPairs(spark, idx, delta, threshold = 0.6,
          quantPrefilter = qp, quantAutoPairs = pairs)
      val autoOn = run(None, 1L)
      val autoOff = run(None, Dedup.QuantAutoMinPairs)
      val forcedOff = run(Some(false), 1L)
      assert(pairSet(autoOn).nonEmpty, "delta fixture must produce pairs")
      assert(pairSet(autoOn) == pairSet(forcedOff), "delta auto output drifted")
      assert(pairSet(autoOn) == pairSet(autoOff), "delta auto-off output drifted")
      assert(hasByteDot(autoOn), "delta auto cutover did not engage")
      assert(!hasByteDot(autoOff), "delta auto engaged below default threshold")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(root)
    }
  }
}
