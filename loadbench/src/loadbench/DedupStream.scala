package loadbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.{Dedup, EmbeddingIndex, MinhashIndex}

/** dedup_stream: each op is one AvailableNow trigger over a newly arrived
  * source file, run on both dedup legs, one after the other: MinHash over
  * text and LSH over dim-64 vectors. Each leg reads its on-disk index and
  * cluster assignment and writes both back. Thresholds and index shapes are
  * those of the q_stream_dedup_clusters and q_stream_dedup_clusters_embedding
  * gates. */
final class DedupStream(in: String) extends Workload {
  private val Dim = 64
  private val TextThreshold = 0.5
  private val VecThreshold = 0.45
  private val VecNbits = 4
  private val VecTables = 8
  private val TextSchema = "doc_id LONG, text STRING"
  private val VecSchema = "vec_id LONG, embedding ARRAY<FLOAT>"

  private val nBatches = new File(s"$in/text").list().count(_.endsWith(".jsonl"))
  private def planted(leg: String): Seq[(Int, Long, Long)] =
    Inputs.jsonl(s"$in/planted_$leg.jsonl")
      .map(n => (n.get("batch").asInt, n.get("id").asLong, n.get("src").asLong)).toSeq
  private val (plantedText, plantedVec) = (planted("text"), planted("vec"))
  private val (baseText, baseVec) =
    (Inputs.jsonl(s"$in/base_text.jsonl").size, Inputs.jsonl(s"$in/base_vec.jsonl").size)
  // records of both legs: text documents plus vectors
  private val baseDocs = baseText + baseVec
  private val batchDocs = Inputs.jsonl(f"$in/text/batch_00000.jsonl").size +
    Inputs.jsonl(f"$in/vec/batch_00000.jsonl").size

  private var spark: SparkSession = _
  private var dir: String = _
  private var textStream: DataFrame = _
  private var vecStream: DataFrame = _
  private var arrived = 0   // batches whose source files have landed

  def sizes: Map[String, Any] = Inputs.sizes(in) ++ Map(
    "text_threshold" -> TextThreshold, "vec_threshold" -> VecThreshold,
    "vec_nbits" -> VecNbits, "vec_tables" -> VecTables)

  private def file(leg: String, b: Int) = f"$in/$leg/batch_$b%05d.jsonl"

  def setup(s: SparkSession, d: String, t: Tracer): Unit = {
    spark = s; dir = d; arrived = 0
    t.span("dedup.build") {
      MinhashIndex.write(spark.read.schema(TextSchema).json(s"$in/base_text.jsonl"),
        s"$dir/text_index")
      EmbeddingIndex.write(spark.read.schema(VecSchema).json(s"$in/base_vec.jsonl"),
        s"$dir/vec_index", dim = Dim, nbits = VecNbits, tables = VecTables)
    }
    for (leg <- Seq("text", "vec")) new File(s"$dir/src_$leg").mkdirs()
    textStream = spark.readStream.schema(TextSchema).json(s"$dir/src_text")
    vecStream = spark.readStream.schema(VecSchema).json(s"$dir/src_vec")
  }

  /** The batch's files land in the stream sources: copied under a hidden
    * name, then renamed, so the file source never lists a partial file. */
  override def arrive(i: Int): Unit = {
    require(i < nBatches, s"input exhausted: op $i, $nBatches batches generated")
    for (leg <- Seq("text", "vec")) {
      val tmp = new File(s"$dir/src_$leg/.arriving").toPath
      Files.copy(new File(file(leg, i)).toPath, tmp, StandardCopyOption.REPLACE_EXISTING)
      Files.move(tmp, new File(f"$dir/src_$leg/batch_$i%05d.jsonl").toPath,
        StandardCopyOption.ATOMIC_MOVE)
    }
    arrived = i + 1
  }

  /** One client: the MinHash leg's trigger, then the embedding leg's. */
  def op(i: Int, t: Tracer): Int = {
    t.span("dedup.minhash") {
      MinhashIndex.ingestStreamClustered(textStream, s"$dir/text_index", s"$dir/text_clusters",
        threshold = TextThreshold)
    }
    t.span("dedup.embedding") {
      EmbeddingIndex.ingestStreamClustered(vecStream, s"$dir/vec_index", s"$dir/vec_clusters",
        threshold = VecThreshold)
    }
    batchDocs
  }

  private def seen(leg: String, schema: String): DataFrame =
    spark.read.schema(schema).json(
      (s"$in/base_$leg.jsonl" +: (0 until arrived).map(file(leg, _))): _*)

  private def assignment(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** A pair surfaces when its later side arrives. The base was written
    * with `write`, not streamed, so pairs inside the base never surface:
    * the expected assignment is the closure of the whole-corpus pairs
    * that have a side outside the base (ids below `base` are the base). */
  private def arrivedPairs(pairs: DataFrame, base: Int): DataFrame =
    pairs.where(col("id_a") >= base || col("id_b") >= base).select("id_a", "id_b")

  def check(): Check = {
    val text = seen("text", TextSchema)
    val textIds = text.select(col("doc_id").as("id"))
    val textGot =
      assignment(MinhashIndex.currentClustersFull(spark, s"$dir/text_clusters", textIds))
    val textWant = assignment(Dedup.resolveClusters(
      arrivedPairs(Dedup.minhashLsh(text, threshold = TextThreshold), baseText), textIds))
    val vec = seen("vec", VecSchema)
    val vecIds = vec.select(col("vec_id").as("id"))
    val vecGot = assignment(EmbeddingIndex.currentClustersFull(spark, s"$dir/vec_clusters", vecIds))
    val vecWant = assignment(Dedup.resolveClusters(arrivedPairs(
      Dedup.embeddingNearDupLsh(vec, dim = Dim, threshold = VecThreshold, nbits = VecNbits,
        tables = VecTables), baseVec), vecIds))
    def landed(p: Seq[(Int, Long, Long)]) = p.filter(_._1 < arrived)
    def recall(a: Map[Long, Long], p: Seq[(Int, Long, Long)]) =
      if (p.isEmpty) 0.0
      else p.count { case (_, id, src) => a.get(id).exists(c => a.get(src).contains(c)) }
        .toDouble / p.size
    val (pText, pVec) = (landed(plantedText), landed(plantedVec))
    val (rText, rVec) = (recall(textGot, pText), recall(vecGot, pVec))
    Check(textGot == textWant && vecGot == vecWant && pText.nonEmpty && pVec.nonEmpty,
      (rText + rVec) / 2, Map(
        "text_matches_batch" -> (textGot == textWant), "vec_matches_batch" -> (vecGot == vecWant),
        "planted_pairs_text" -> pText.size, "planted_pairs_vec" -> pVec.size,
        "recall_text" -> rText, "recall_vec" -> rVec, "batches" -> arrived,
        "ids_text" -> textIds.count(), "ids_vec" -> vecIds.count()))
  }

  def indexBytes: Long =
    Seq("text_index", "vec_index", "text_clusters", "vec_clusters")
      .map(n => Inputs.du(s"$dir/$n", skip = Set("_checkpoint"))).sum
  def docsIndexed: Long = baseDocs + arrived.toLong * batchDocs

  override def spanNames: Seq[String] = Seq("dedup.minhash", "dedup.embedding")
}
