package loadbench

import java.io.File
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

/** Result of the untimed correctness checks run after the loop. */
final case class Check(ok: Boolean, recall: Double, detail: Map[String, Any])

/** One closed-loop workload: one client sends op i+1 when op i completes. */
trait Workload {
  /** Input sizes, as the generator recorded them plus the run's own. */
  def sizes: Map[String, Any]
  /** From a fresh session through index build, until the first op can go. */
  def setup(spark: SparkSession, dir: String, t: Tracer): Unit
  /** Untimed: the input of op i arrives (e.g. a source file lands). */
  def arrive(i: Int): Unit = ()
  /** Runs op i and validates its output; returns the items it completed. */
  def op(i: Int, t: Tracer): Int
  /** Untimed checks against exact ground truth. */
  def check(): Check
  /** Bytes on disk of the live index artifacts. */
  def indexBytes: Long
  /** Documents indexed so far (source documents, not chunks). */
  def docsIndexed: Long
  /** Span names whose per-op time is a per-layer metric. */
  def spanNames: Seq[String] = Nil
  /** Per-layer metrics that are not per-op means (set-up times, totals). */
  def extraLayerMetrics(t: Tracer): Map[String, Double] = Map.empty
}

object Inputs {
  private val mapper = new ObjectMapper

  def jsonl(path: String): Iterator[JsonNode] =
    Files.readAllLines(new File(path).toPath).asScala.iterator
      .filter(_.nonEmpty).map(mapper.readTree)

  def sizes(dir: String): Map[String, Any] = {
    val n = mapper.readTree(new File(s"$dir/sizes.json"))
    n.fields().asScala.map(e => e.getKey -> (e.getValue: Any)).toMap
  }

  def strings(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText).toSeq

  /** Bytes of regular files under `root`, skipping directories named in
    * `skip`. */
  def du(root: String, skip: Set[String] = Set.empty): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) {
        if (skip.contains(f.getName)) 0L
        else Option(f.listFiles).map(_.map(walk).sum).getOrElse(0L)
      } else f.length
    walk(new File(root))
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(q => Files.delete(q))
      finally s.close()
    }
}
