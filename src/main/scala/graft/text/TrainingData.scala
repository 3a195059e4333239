package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.ml.HashEmbedder

/** Training-data pipeline operators beyond the reference's search surface:
  * deterministic stratified sampling (corpus mixing) and greedy sequence
  * packing. Both are designed to replay identically on any cluster layout —
  * sampling is a pure per-row hash predicate, packing is keyed by an
  * explicit shard so the greedy scan order is data-defined, not
  * partition-defined. */
object TrainingData {

  /** Sampling-hash modulus. MUST divide 2^32 so the unsigned SQL modulus
    * equals Java floorMod of the signed 32-bit FNV hash (same trick as
    * HashEmbedder's dim). */
  val SampleMod = 1024

  /** Deterministic stratified sampling / corpus mixing: keep a row iff
    * fnv("doc:<id>") mod 1024 < quota(stratum), quotas in 1024ths. The
    * hash is on the DOCUMENT ID, not a random draw — the sample is
    * reproducible across runs, clusters, and engines (the DuckDB oracle
    * computes the identical FNV-1a), and a doc keeps/loses membership
    * independently of partitioning. A per-language quota map IS a corpus
    * mixing spec ("40% en, 30% es, ..."): one scan, no shuffle, the
    * filter is row-local (a cheap UDF over (id) — the scan still prunes
    * columns; at 100 TB this is the mandatory one-pass shape). Rows in
    * strata absent from the map keep `defaultQuota`. */
  def stratifiedSample(df: DataFrame, strataCol: String, quotas: Map[String, Int],
      defaultQuota: Int = 0, idCol: String = "doc_id", salt: String = "doc:"): DataFrame = {
    require(quotas.values.forall(q => q >= 0 && q <= SampleMod),
      s"quotas are in ${SampleMod}ths and must sit in [0, $SampleMod]")
    val bucket = udf((id: Long) => math.floorMod(HashEmbedder.tokenHash(salt + id), SampleMod))
    val quotaCol: Column = quotas.foldLeft(lit(defaultQuota)) { case (acc, (k, v)) =>
      when(col(strataCol) === k, lit(v)).otherwise(acc)
    }
    df.where(bucket(col(idCol)) < quotaCol)
  }

  /** Temperature-scaled mixing quotas: target share of stratum s is
    * proportional to n_s^alpha (the multilingual-corpus sampling rule —
    * alpha=1 keeps natural proportions, alpha=0 equalizes strata, 0.3–0.7
    * up-samples the tail; see the mC4/XLM-R sampling literature). Expected
    * kept rows in stratum s = targetFrac·N·(n_s^alpha / Σ n^alpha), so the
    * keep probability is that over n_s, capped at 1, quantized to 1024ths
    * for the FNV keep rule.
    *
    * Cross-engine determinism contract: for alpha in {0, 0.25, 0.5, 1} the
    * power is computed as a sqrt chain — IEEE-754 sqrt is correctly
    * rounded on BOTH engines, so a SQL oracle that replicates this
    * arithmetic (normalizer summed in stratum-sorted order, same
    * association) reproduces the quotas BIT-EXACTLY and can verify the
    * temperature math independently. Other alphas fall back to Math.pow,
    * whose last-ulp behavior is libm-specific — spec-tested but not
    * oracle-exact. */
  def temperatureQuotas(counts: Map[String, Long], alpha: Double,
      targetFrac: Double): Map[String, Int] = {
    require(alpha >= 0.0 && alpha <= 1.0, "alpha must sit in [0, 1]")
    require(targetFrac > 0.0 && targetFrac <= 1.0, "targetFrac must sit in (0, 1]")
    def pw(n: Double): Double = alpha match {
      case 0.0 => 1.0
      case 0.25 => math.sqrt(math.sqrt(n))
      case 0.5 => math.sqrt(n)
      case 1.0 => n
      case a => math.pow(n, a)
    }
    val total = counts.values.sum.toDouble
    // fold in stratum-sorted order, seeded 0.0 — the exact association the
    // oracle's list_reduce(list_prepend(0.0, list(... ORDER BY stratum)))
    // computes, so z is the same double on both engines
    val sorted = counts.toSeq.sortBy(_._1)
    val z = sorted.foldLeft(0.0) { case (acc, (_, n)) => acc + pw(n.toDouble) }
    sorted.map { case (k, n) =>
      val p = targetFrac * total * pw(n.toDouble) / z / n.toDouble
      k -> math.min(SampleMod, math.floor(math.min(1.0, p) * SampleMod).toInt)
    }.toMap
  }

  /** Temperature-scaled corpus mixing: one tiny per-stratum count
    * aggregation (driver-sized by construction — strata are domains or
    * languages, not documents), quota computation via
    * [[temperatureQuotas]], then the same one-scan row-local FNV keep rule
    * as [[stratifiedSample]]. Two passes over the corpus; at 100 TB the
    * count pass is a column-pruned scan of one string column (or comes
    * free from catalog statistics / a metadata table). */
  def temperatureMix(df: DataFrame, strataCol: String, alpha: Double,
      targetFrac: Double, idCol: String = "doc_id", salt: String = "doc:"): DataFrame = {
    val counts = df.groupBy(col(strataCol)).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    stratifiedSample(df, strataCol, temperatureQuotas(counts, alpha, targetFrac),
      defaultQuota = 0, idCol = idCol, salt = salt)
  }

  /** Deterministic train/validation/test split assignment: the FNV bucket
    * of the doc id routes each row to a split, with cut points in
    * 1024ths (the 922/51/51 defaults ≈ 90/5/5). Same reproducibility contract as
    * [[stratifiedSample]] — membership is a pure function of the id, so
    * re-runs, backfills, and other engines agree row for row, and a doc
    * can never leak across splits between pipeline versions. One scan, no
    * shuffle. Returns the input plus a `split` column. */
  def assignSplits(df: DataFrame, trainQuota: Int = 922, valQuota: Int = 51,
      idCol: String = "doc_id", salt: String = "split:"): DataFrame = {
    require(trainQuota >= 0 && valQuota >= 0 && trainQuota + valQuota <= SampleMod,
      s"quotas are in ${SampleMod}ths: train + val must be <= $SampleMod")
    val bucket = udf((id: Long) => math.floorMod(HashEmbedder.tokenHash(salt + id), SampleMod))
    df.withColumn("split",
      when(bucket(col(idCol)) < trainQuota, "train")
        .when(bucket(col(idCol)) < trainQuota + valQuota, "val")
        .otherwise("test"))
  }

  /** Quantization grid for deterministic centroid aggregation: components
    * are floor-quantized to this scale and summed as LONGS, so the sum —
    * and therefore the centroid — is identical under ANY aggregation
    * order, engine, or partitioning (float sums are order-dependent;
    * integer sums are not). floor() is unambiguous where half-up/half-even
    * rounding modes could differ across engines. */
  val CentroidQ: Long = 1L << 20

  /** Embedding-space outlier scoring (the embedding-based quality /
    * anomaly filter of modern curation pipelines): per-group centroid of
    * the embedding column, then every vector's cosine against its own
    * group centroid — low scores flag mislabeled / off-domain / junk
    * rows. Returns (idCol, groupCol, centroid_cos) with is_outlier =
    * centroid_cos < threshold.
    *
    * Scale shape: the only aggregation is (group, component-idx) long
    * sums — group-count-sized, order-independent (see [[CentroidQ]]); the
    * centroid relation is groups × dim (tiny, broadcast into the scoring
    * join) and the cosine is a row-local codegen'd left fold
    * (dense_dot), so scoring is one scan. */
  def embeddingOutliers(df: DataFrame, groupCol: String = "label",
      vecCol: String = "embedding", idCol: String = "vec_id",
      threshold: Double = 0.5): DataFrame = {
    import graft.functions.VectorExpressions
    val q = lit(CentroidQ.toDouble)
    val exploded = df.select(col(groupCol).as("__g"),
        posexplode(col(vecCol)).as(Seq("__i", "__v")))
      .select(col("__g"), col("__i"),
        floor(col("__v").cast("double") * q).as("__q"))
    val cent = exploded.groupBy(col("__g"), col("__i"))
      .agg(sum(col("__q")).as("__s"), count(lit(1)).as("__n"))
      .withColumn("__c",
        col("__s").cast("double") / col("__n").cast("double") / q)
      .groupBy(col("__g"))
      .agg(array_sort(collect_list(struct(col("__i"), col("__c")))).as("__sc"))
      // dense_dot is the float32-typed codegen'd fold — the centroid
      // rounds once to nearest float (CAST AS REAL in the oracle), then
      // both sides widen exactly inside the double accumulation
      .select(col("__g"),
        transform(col("__sc"), s => s("__c").cast("float")).as("__cent"))
    val vd = col(vecCol)
    df.join(broadcast(cent), col(groupCol) === col("__g"))
      .withColumn("__dot", VectorExpressions.dense_dot(vd, col("__cent")))
      .withColumn("__nv", sqrt(VectorExpressions.dense_dot(vd, vd)))
      .withColumn("__nc", sqrt(VectorExpressions.dense_dot(col("__cent"), col("__cent"))))
      .withColumn("centroid_cos",
        Dedup.cosineCol(col("__dot"), col("__nv"), col("__nc")))
      .select(col(idCol), col(groupCol), col("centroid_cos"),
        (col("centroid_cos") < threshold).as("is_outlier"))
  }

  /** Greedy sequential sequence packing: assign docs to fixed-token-budget
    * packs (LLM pretraining sample packing). Docs are sharded by
    * doc_id mod nShards; WITHIN a shard, docs are scanned in doc_id order
    * and greedily accumulated — a doc that would overflow the running pack
    * starts the next one (an over-budget doc occupies a pack alone).
    *
    * Scale shape: shard is an explicit key, so the scan is
    * repartition(shard) + sortWithinPartitions + one streaming
    * mapPartitions pass — no global sort, no driver state, and shard
    * boundaries (not partition boundaries) reset the accumulator, so the
    * result is identical at any parallelism. nShards bounds per-task
    * sequentiality: at 100 TB you raise nShards, not executor memory.
    * Returns (doc_id, shard, pack_id, n_tokens). */
  def packGreedy(df: DataFrame, tokenBudget: Int, nShards: Int = 16,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(tokenBudget > 0 && nShards > 0, "tokenBudget and nShards must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    val tokCount = udf((s: String) => HashEmbedder.tokenize(s).length)
    df.select(col(idCol).cast("long").as("doc_id"),
        (col(idCol) % nShards).cast("int").as("shard"),
        tokCount(col(textCol)).as("n_tokens"))
      .repartition(col("shard"))
      .sortWithinPartitions(col("shard"), col("doc_id"))
      .as[(Long, Int, Int)]
      .mapPartitions { it =>
        var curShard = Int.MinValue
        var pack = 0
        var acc = 0
        it.map { case (id, shard, tok) =>
          if (shard != curShard) { curShard = shard; pack = 0; acc = tok }
          else if (acc + tok > tokenBudget) { pack += 1; acc = tok }
          else acc += tok
          (id, shard, pack, tok)
        }
      }
      .toDF("doc_id", "shard", "pack_id", "n_tokens")
  }
}
