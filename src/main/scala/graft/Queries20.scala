package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.{Dedup, EmbeddingIndex}

/** Twentieth bank (round 17): the byte-quantized verification prefilter
  * as an oracle-gated EQUIVALENCE — both gates run the same pipelines as
  * their unquantized siblings with `quantPrefilter = true` and ride the
  * siblings' oracles VERBATIM, so the DuckDB hash gate itself proves the
  * prefilter lossless (reference quantization semantics:
  * sparse/quantization/ByteQuantizer.java:25-34,
  * ByteQuantizationUtil.java:62-78 — linear scale-to-byte against a
  * ceiling with exact-rescore; adapted to a per-vector signed ceiling for
  * dense embeddings, [[Dedup.quantizeVecUdf]]).
  *
  * The prefilter is the 100 TB candidate-volume lever: verification joins
  * carry 64 bytes + 2 floats instead of 64 floats, and only survivors of
  * the provably-safe bound touch the wide payload. Left unforced it
  * follows ONE AUTO rule (Dedup's prefilter section): on once the
  * candidate volume reaches `QuantAutoMinPairs` — Σ C(pop, 2) over the
  * bucket populations in the batch forms, the exact |candGid| on the
  * delta path. Gate-scale corpora stay under it, because there the cost
  * is Spark stage count, not payload bytes (SCALE.md "quantized
  * prefilter" cell: the capped delta gate spends ~5 s of an 8 s wall in
  * driver gaps between 42 jobs); these forced-on gates keep the
  * prefilter itself oracle-pinned. */
object Queries20 {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // q_dedup_embedding_lsh with the prefilter on — identical output by
    // the margin proof; identical ORACLE by construction (shared SQL)
    "q_dedup_embedding_lsh_quant" -> ((s, dir) =>
      Dedup.embeddingNearDupLsh(t(s, dir, "embeddings"), dim = 64,
        threshold = 0.45, nbits = 4, tables = 8, quantPrefilter = Some(true))
        .orderBy(col("id_a"), col("id_b"))),

    // q_dedup_embedding_delta with the prefilter on the candidate-gid
    // verification join
    "q_dedup_embedding_delta_quant" -> ((s, dir) =>
      EmbeddingIndex.deltaPairs(
        s, SparkEntry.embeddingIndexPath(s, dir),
        t(s, dir, "embeddings").where(col("vec_id") % 10 === 7),
        threshold = 0.45, quantPrefilter = Some(true))
        .orderBy(col("id_a"), col("id_b"))))

  def oracleSql: Map[String, String] = Map(
    "q_dedup_embedding_lsh_quant" -> QueriesExtra.oracleSql("q_dedup_embedding_lsh"),
    "q_dedup_embedding_delta_quant" -> Queries16.oracleSql("q_dedup_embedding_delta"))
}
