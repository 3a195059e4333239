package loadbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ann.Ann
import graft.exec.HybridPipeline
import graft.ingest.Enrich
import graft.ml.ModelRegistry
import graft.model.{CombinationSpec, NormalizationSpec}
import graft.post.Rerank
import graft.seismic.Seismic
import graft.sparse.SparseRetrieval
import graft.streaming.IndexMaintenance

/** search_hybrid: each op is one fixed-size batch of hybrid queries. Every
  * query runs three subqueries (SEISMIC over the learned-sparse encoding,
  * IVF over the dense embedding, exact lexical scoring of its keywords over
  * the postings index), fuses them with min_max + arithmetic_mean, and
  * reranks the fused list with MMR. Ops only read.
  *
  * Set-up runs the ingest path once over the corpus: chunk, encode (dense
  * and sparse, through the model registry), write the base corpus and its
  * SEISMIC index as version 0 of a segmented index, then build the IVF and
  * postings indexes. */
final class SearchHybrid(in: String) extends Workload {
  private val Dim = 64
  private val TokenLimit = 64
  private val MaxChunks = 100
  private val Depth = 20     // per-subquery candidates and fused list length
  private val Final = 10     // results per query after MMR, and the recall cut
  private val Nlist = 8      // as in q_ann_ivf_batch
  private val Nprobe = 4
  private val PostingBuckets = 16
  private val CheckBatches = 32

  final case class Query(id: Long, text: String, keywords: Seq[String])
  private val batches: Array[Array[Query]] = Inputs.jsonl(s"$in/queries.jsonl").toSeq
    .map(n => (n.get("batch").asInt, Query(n.get("query_id").asLong, n.get("text").asText,
      Inputs.strings(n.get("keywords")))))
    .groupBy(_._1).toSeq.sortBy(_._1).map(_._2.map(_._2).toArray).toArray
  private val sourceDocs = Inputs.jsonl(s"$in/corpus.jsonl").size

  private var spark: SparkSession = _
  private var dir: String = _
  private var corpus: DataFrame = _
  private var seismic: Seismic.SeismicIndex = _
  private var ivf: DataFrame = _
  private var centroids: Array[Array[Float]] = _
  private var postings: DataFrame = _

  def sizes: Map[String, Any] = Inputs.sizes(in) ++ Map(
    "dim" -> Dim, "chunk_tokens" -> TokenLimit, "depth" -> Depth, "final_k" -> Final,
    "nlist" -> Nlist, "nprobe" -> Nprobe, "check_queries" -> CheckBatches * batches(0).length)

  def setup(s: SparkSession, d: String, t: Tracer): Unit = {
    spark = s; dir = d
    val raw = spark.read.schema("doc_id LONG, text STRING").json(s"$in/corpus.jsonl")
    val chunked = t.df("ingest.chunk") {
      raw.select(col("doc_id").as("src_id"),
          posexplode(Enrich.chunkFixedTokenUdf(TokenLimit, 0.0, MaxChunks)(col("text")))
            .as(Seq("ci", "text")))
        .select((col("src_id") * 1000 + col("ci")).as("doc_id"), col("src_id"), col("text"))
    }
    val enriched = t.df("ingest.enrich") {
      Enrich.sparseEncoding(
        Enrich.textEmbedding(chunked, Map("text" -> "embedding"), dim = Dim),
        Map("text" -> "tokens"))
    }
    val root = s"$dir/segmented"
    t.span("seismic.build") { IndexMaintenance.initialize(enriched, root) }
    corpus = spark.read.parquet(IndexMaintenance.baseDir(root, 0))
    seismic = Seismic.load(spark, IndexMaintenance.indexDir(root, 0))
    t.span("ann.build") {
      val vecs = corpus.select(col("doc_id").as("vec_id"), col("embedding"))
      val c = Ann.trainCentroids(vecs, Dim, Nlist)
      Ann.writeIndex(Ann.assign(vecs, c), c, s"$dir/ivf")
    }
    val (assigned, c) = Ann.loadIndex(spark, s"$dir/ivf")
    ivf = assigned; centroids = c
    t.span("sparse.build") {
      SparseRetrieval.writePostingsIndex(SparseRetrieval.buildPostings(corpus), s"$dir/postings",
        PostingBuckets)
    }
    postings = SparseRetrieval.loadPostingsIndex(spark, s"$dir/postings")
    t.count("ingest.chunks", corpus.count().toDouble)
  }

  /** The fused hybrid top-`Depth` per query; `exact` disables every
    * pruning knob (SEISMIC unpruned, IVF probing every cell). */
  private def fused(qs: Seq[Query], exact: Boolean, t: Tracer): DataFrame = {
    val client = ModelRegistry.current
    val sparseQ = qs.map(q => q.id -> client.encodeSparse(q.text)).toMap
    val denseQ = qs.map(q => q.id -> client.embedDense(q.text, Dim)).toMap
    val lexQ = qs.map(q => q.id -> Seq(q.keywords.map(_ -> 1.0f).toMap)).toMap
    val s1 = t.df("seismic.search") {
      if (exact) Seismic.searchBatch(seismic, corpus, sparseQ, k = Depth,
        topN = Int.MaxValue, heapFactor = Float.PositiveInfinity)
      else Seismic.searchBatch(seismic, corpus, sparseQ, k = Depth)
    }
    val s2 = t.df("ann.search") {
      Ann.ivfTopKBatch(ivf, centroids, denseQ, Depth, if (exact) Nlist else Nprobe)
    }
    val s3 = t.df("sparse.score") { HybridPipeline.scoreBatchSparse(postings, lexQ) }
    val scored = s1.select(col("query_id"), lit(0).as("subq"), col("doc_id"), col("score"))
      .unionByName(s2.select(col("query_id"), lit(1).as("subq"),
        col("vec_id").as("doc_id"), col("score")))
      .unionByName(s3.select(col("query_id"), lit(2).as("subq"), col("doc_id"), col("score")))
    t.df("exec.fuse") {
      HybridPipeline.run(scored, 3, NormalizationSpec.MinMax(),
        CombinationSpec.ArithmeticMean(), paginationDepth = Some(Depth), size = Depth)
    }
  }

  def op(i: Int, t: Tracer): Int = {
    val qs = batches(i % batches.length)
    val ranked = fused(qs, exact = false, t)
    val reranked = t.span("post.mmr") {
      // the client materializes the fused lists once, then reranks each query
      val withVec = ranked.join(corpus.select(col("doc_id"), col("embedding")), "doc_id")
        .localCheckpoint(true)
      qs.map { q =>
        q.id -> Rerank.mmrRerank(withVec.where(col("query_id") === q.id), "embedding", Final)
          .collect().sortBy(_.getAs[Int]("rank")).map(_.getAs[Long]("doc_id")).toSeq
      }
    }
    for ((qid, ids) <- reranked)
      require(ids.nonEmpty && ids.size <= Final && ids.distinct.size == ids.size &&
        ids.forall(isChunkId), s"malformed result for query $qid: $ids")
    qs.length
  }

  private def isChunkId(id: Long): Boolean =
    id >= 0 && id / 1000 < sourceDocs && id % 1000 < MaxChunks

  /** recall@10 of the fused hybrid list against the exact hybrid, over the
    * first `CheckBatches` batches sent as one batch. */
  def check(): Check = {
    val qs = batches.take(CheckBatches).toSeq.flatten
    def top(exact: Boolean): Map[Long, Set[Long]] =
      fused(qs, exact, Tracer.Off).where(col("rank") <= Final)
        .select("query_id", "doc_id").collect()
        .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val (approx, exact) = (top(exact = false), top(exact = true))
    val total = exact.values.map(_.size).sum
    val hits = exact.map { case (q, e) => approx.getOrElse(q, Set.empty).count(e.contains) }.sum
    val recall = if (total == 0) 0.0 else hits.toDouble / total
    Check(exact.size == qs.size && recall >= 0.5, recall, Map(
      "recall_at_10_queries" -> qs.size, "queries_with_exact_hits" -> exact.size))
  }

  def indexBytes: Long =
    Seq(IndexMaintenance.indexDir(s"$dir/segmented", 0), s"$dir/ivf", s"$dir/postings")
      .map(Inputs.du(_)).sum
  def docsIndexed: Long = sourceDocs

  override def spanNames: Seq[String] =
    Seq("seismic.search", "ann.search", "sparse.score", "exec.fuse", "post.mmr")
  override def extraLayerMetrics(t: Tracer): Map[String, Double] = Map(
    "ingest.chunk_s" -> t.spanSeconds("ingest.chunk", -1),
    "ingest.enrich_s" -> t.spanSeconds("ingest.enrich", -1),
    "ingest.chunks_per_doc" -> t.countOf("ingest.chunks", -1) / sourceDocs,
    "seismic.build_s" -> t.spanSeconds("seismic.build", -1),
    "ann.build_s" -> t.spanSeconds("ann.build", -1),
    "sparse.build_s" -> t.spanSeconds("sparse.build", -1))
}
