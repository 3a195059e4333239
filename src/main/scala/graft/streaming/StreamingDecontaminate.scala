package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.dedup.Dedup

/** Streaming benchmark decontamination: a STREAM of candidate training docs
  * is flagged against a STATIC benchmark corpus — the ingestion-time
  * leakage gate (flag contaminated docs as they land, instead of a batch
  * sweep after the fact).
  *
  * Stream-compatible restructuring of [[Dedup.decontaminate]]: the per-doc
  * distinct-shingle count is computed ROW-LOCALLY before the explode (the
  * shingle SET size — identical to the batch groupBy count because
  * `Dedup.shingles` is a set), and the bench side ships its per-doc counts
  * ON its broadcast postings — so per-pair intersection counting is the
  * single stateful aggregation the stream needs (Complete mode), and the
  * Jaccard threshold is a stateless projection after it. At scale the
  * state is bounded by (stream docs sharing ≥1 shingle with bench) ×
  * (bench docs hit) — contamination pairs, not the corpus. */
object StreamingDecontaminate {

  /** Static bench side, built once: (s, bench_id, nb) hashed postings with
    * the per-doc distinct-shingle count attached. */
  def benchPostings(bench: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", n: Int = 3): DataFrame =
    bench.select(col(idCol).as("bench_id"),
        Dedup.shingleColPublic(col(textCol), n).as("__sh"))
      .select(col("bench_id"), size(col("__sh")).as("nb"), explode(col("__sh")).as("__s"))
      .select(col("bench_id"), col("nb"), xxhash64(col("__s")).as("s"))

  /** Streaming side: flag stream docs with Jaccard ≥ threshold vs any
    * bench doc. Run with outputMode Complete (single aggregation). */
  def flagStream(docs: DataFrame, bench: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", n: Int = 3, threshold: Double = 0.5): DataFrame = {
    val streamSh = docs.select(col(idCol).as("train_id"),
        Dedup.shingleColPublic(col(textCol), n).as("__sh"))
      .select(col("train_id"), size(col("__sh")).as("na"), explode(col("__sh")).as("__s"))
      .select(col("train_id"), col("na"), xxhash64(col("__s")).as("s"))
    streamSh
      .join(broadcast(benchPostings(bench, textCol, idCol, n)), "s")
      .groupBy(col("train_id"), col("na"), col("bench_id"), col("nb"))
      .agg(count(lit(1)).as("i"))
      .withColumn("__raw", col("i").cast("double") / (col("na") + col("nb") - col("i")))
      .where(col("__raw") >= threshold)
      .select(col("train_id"), col("bench_id"), round(col("__raw"), 4).as("jaccard"))
  }

  /** Static bench side for the WINNOW gate: (gh, bench_id) distinct
    * fingerprint postings, built once and broadcast. */
  def benchWinnowFps(bench: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", k: Int = 4, w: Int = 4): DataFrame =
    bench.select(col(idCol).cast("long").as("bench_id"),
        explode(Dedup.winnowGhsCol(col(textCol), k, w)).as("gh"))

  /** Static bench side for the EMBEDDING gate: per-table LSH signature rows
    * with the bench vector and hoisted norm attached, built once and
    * broadcast (the bench is an eval set — the same fits-in-memory
    * precondition as the batch forms). */
  def benchLshBuckets(bench: DataFrame, planes: Array[Array[Array[Float]]],
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame =
    bench.select(col(idCol).cast("long").as("bench_id"), col(vecCol).as("vb"),
        sqrt(graft.functions.VectorExpressions.dense_dot(col(vecCol), col(vecCol))).as("nb"),
        posexplode(Dedup.lshBucketCol(col(vecCol), planes)).as(Seq("table", "bucket")))

  /** Streaming EMBEDDING-space decontamination: flag stream vectors with
    * cosine ≥ threshold vs any bench vector — the paraphrase-catching gate
    * the shingle and winnow forms miss, applied as vectors land instead of
    * a batch sweep ([[graft.dedup.Dedup.decontaminateEmbeddingLsh]]'s
    * ingestion-time form).
    *
    * Stream-compatible restructuring: candidate generation is a STATELESS
    * stream-static join on (table, signature) against the broadcast bench
    * buckets — both sides hash through the SAME seeded hyperplanes — and
    * the exact cosine verify runs per collision row BEFORE any state, so
    * the only stateful step is the final per-pair aggregation collapsing
    * multi-table collisions (Complete mode; cosine is identical across a
    * pair's collisions, so max = the value). State is bounded by
    * contamination pairs, not the corpus. AvailableNow output equals the
    * batch relation exactly (same planes, same round-6 cosine). */
  def flagStreamEmbedding(docs: DataFrame, bench: DataFrame, dim: Int,
      vecCol: String = "embedding", idCol: String = "vec_id",
      threshold: Double = 0.95, nbits: Int = 8, tables: Int = 4,
      seed: Long = 42L): DataFrame = {
    val planes = Dedup.lshPlanes(tables, nbits, dim, seed)
    val dot = graft.functions.VectorExpressions.dense_dot _
    docs.select(col(idCol).cast("long").as("train_id"), col(vecCol).as("va"),
        sqrt(dot(col(vecCol), col(vecCol))).as("na"),
        posexplode(Dedup.lshBucketCol(col(vecCol), planes)).as(Seq("table", "bucket")))
      .join(broadcast(benchLshBuckets(bench, planes, vecCol, idCol)),
        Seq("table", "bucket"))
      .withColumn("cosine",
        Dedup.cosineCol(dot(col("va"), col("vb")), col("na"), col("nb")))
      .where(col("cosine") >= threshold)
      .groupBy(col("train_id"), col("bench_id"))
      .agg(max(col("cosine")).as("cosine"))
  }

  /** Streaming SUBSTRING-level decontamination: flag stream docs sharing
    * >= minShared winnowed fingerprints with any bench doc — the
    * ingestion-time form of [[graft.dedup.Dedup.decontaminateWinnow]],
    * catching a quoted benchmark passage as the doc lands. Winnow
    * selection is row-local and the per-doc DISTINCT hash set is computed
    * inside the row (array_distinct before the explode), so the per-pair
    * shared count is the stream's single stateful aggregation (Complete
    * mode); state is bounded by contamination pairs, not the corpus.
    * AvailableNow output equals the batch relation exactly. */
  def flagStreamWinnow(docs: DataFrame, bench: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", k: Int = 4, w: Int = 4,
      minShared: Int = 1): DataFrame =
    docs.select(col(idCol).cast("long").as("train_id"),
        explode(Dedup.winnowGhsCol(col(textCol), k, w)).as("gh"))
      .join(broadcast(benchWinnowFps(bench, textCol, idCol, k, w)), "gh")
      .groupBy(col("train_id"), col("bench_id"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
}
