package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger

/** The lifecycle the three written near-dup indexes share ([[MinhashIndex]],
  * [[WinnowIndex]], [[EmbeddingIndex]]): leaf repair and compaction over
  * the index's partitioned relations, the stale-lock escape hatch, and the
  * one streaming ingest loop. Each family supplies only its leaf dirs and,
  * per stream, a [[NearDupIndex.Batch]] hook: its meta, the persisted
  * batch relations, the delta-pair call and the append writes. */
trait NearDupIndex {

  protected def postingsDir(path: String): String = s"$path/postings"
  protected def sketchesDir(path: String): String = s"$path/sketches"

  /** The index's partition-leaf relations: postings, plus sketches where
    * the family keeps a verification payload. */
  protected def leafDirs(path: String): Seq[String]

  /** Offline maintenance: merge partition leaves that accumulated more
    * than `maxFiles` append files ([[IndexCompaction]] — run between
    * ingest batches; preserves `deltaPairs` output exactly, spec-pinned).
    * Returns the number of leaves rewritten. Throws while a streaming
    * session holds the index lock (the leaf swap's momentary absence must
    * never race a live pruned read — the in-loop `compactEvery` path
    * compacts under its own lock instead). */
  def compact(spark: SparkSession, path: String, maxFiles: Int = 8): Int = {
    IndexMeta.assertUnlocked(path, "compact")
    compactLeaves(spark, path, maxFiles)
  }

  private def compactLeaves(spark: SparkSession, path: String, maxFiles: Int): Int =
    leafDirs(path).map(IndexCompaction.compactDir(spark, _, maxFiles)).sum

  /** Clear a crashed streaming session's stale [[IndexMeta.LockFile]] so
    * the offline tools (`compact`, `sweepClusters`) run again. Never
    * needed after clean termination — the ingest loop releases on exit. */
  def forceUnlock(dir: String): Unit = IndexMeta.unlock(dir)

  /** Crash-debris repair for the index's partition leaves
    * ([[IndexCompaction.repairDir]]): restores a leaf a crashed `compact`
    * left mid-swap, so a pruned read never treats it as empty. The
    * streaming loop runs it at the START of every batch. */
  def repair(path: String): Unit = leafDirs(path).foreach(IndexCompaction.repairDir)

  /** The STORED rows of the assignment an `ingestStreamClustered` session
    * maintains — members of multi-member clusters only; singletons are
    * implicit ([[ClusterFold.storedClusters]]). */
  def storedClusters(spark: SparkSession, clustersDir: String): DataFrame =
    ClusterFold.storedClusters(spark, clustersDir)

  /** The streaming ingest loop behind every `ingestStream*` entry point:
    * one available-now run over `stream`, checkpointed at
    * `$path/_checkpoint`, holding the index lock (and the sink's) for its
    * whole run. Per micro-batch: repair the leaves, sketch the batch once
    * (`prepare`), search its delta pairs against the index, hand them to
    * `sink`, append the batch to the index, compact if due, release the
    * batch caches.
    *
    * The emitted pair set is BATCHING-INVARIANT: a pair surfaces exactly
    * when its later side arrives (the earlier side from the index,
    * same-batch sides from the batch's own buckets) and every score is
    * deterministic, so streaming a corpus from an empty index reproduces
    * the family's whole-corpus operator however the stream is chopped
    * (spec-pinned; the q_stream_dedup_* gates ride the batch queries'
    * oracles on this property). Caps whose populations evolve as batches
    * land would break it, so no entry point exposes one except
    * [[MinhashIndex.ingestStream]]'s `maxBucket`, which gives the
    * invariance up when set.
    *
    * The loop is at-least-once. A replayed batch recomputes the same
    * pairs; its index appends are absorbed by the families' read-side
    * dedups, replayed pair rows agree (read a pairs `outDir` with
    * dropDuplicates(id_a, id_b)), and [[ClusterFold.foldBatch]] skips an
    * already-published epoch — a crash anywhere in the batch replays into
    * the same fixed point.
    *
    * Repair runs BEFORE the pruned read, whatever `compactEvery` is: a
    * crashed compact's retired leaf (possibly another session's) reads as
    * empty, and the batch's append would make the loss permanent.
    * `compactEvery` > 0 merges oversized leaves every N epochs — safe
    * in-loop, because this loop is the index's only writer, so the swap's
    * momentary leaf absence has no reader to race; a replayed epoch
    * re-compacts idempotently. 0 = offline-only ([[compact]]). */
  private[dedup] def ingest(stream: DataFrame, path: String, compactEvery: Int,
      sink: NearDupIndex.Sink)(
      prepare: (SparkSession, DataFrame) => NearDupIndex.Batch): Unit = {
    val checkpoint = s"$path/_checkpoint"
    NearDupIndex.withLocks(path +: sink.locks, checkpoint) {
      stream.writeStream
        .foreachBatch { (batch: DataFrame, epoch: Long) =>
          repair(path)
          val b = prepare(batch.sparkSession, batch)
          val pairs = b.pairs()
          sink.write(pairs, batch, epoch)
          b.append()
          if (compactEvery > 0 && (epoch + 1) % compactEvery == 0)
            compactLeaves(batch.sparkSession, path, 8)
          // pairs: the delta-pair call's materialized result cache
          (b.cached :+ pairs).foreach(_.unpersist(blocking = false))
        }
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", checkpoint)
        .start()
        .awaitTermination()
    }
  }
}

private[dedup] object NearDupIndex {

  /** One micro-batch, sketched once: `cached` are the persisted batch
    * relations both `pairs` and `append` read (they fill inside the pair
    * search's first action, so nothing counts them). */
  final case class Batch(cached: Seq[DataFrame], pairs: () => DataFrame,
      append: () => Unit) {
    /** The pairs of a delta that is not appended (the `deltaPairs` entry
      * points): the result is materialized, so the caches go at once. */
    def pairsOnly(): DataFrame = {
      val out = pairs()
      cached.foreach(_.unpersist(blocking = false))
      out
    }
  }

  /** Where a batch's pairs go, and the dirs it writes besides the index. */
  final case class Sink(locks: Seq[String],
      write: (DataFrame, DataFrame, Long) => Unit)

  /** Append each batch's pairs under `outDir`. */
  def pairsTo(outDir: String): Sink =
    Sink(Nil, (pairs, _, _) => pairs.write.mode("append").parquet(outDir))

  /** Fold each batch's pairs into the cluster assignment under
    * `clustersDir` ([[ClusterFold.foldBatch]]: star edges from the prior
    * assignment + only this batch's pairs, so `clustersDir` always holds
    * what a whole-corpus `resolveClusters` over the pairs seen so far
    * would — CC(star(CC(E₁)) ∪ E₂) = CC(E₁ ∪ E₂), by induction over
    * batches, spec-pinned). Per batch the work is bounded by |batch| +
    * |touched assignment| + |new pairs|; the corpus is never re-scanned. */
  def foldInto(clustersDir: String, idCol: String, targetRows: Long,
      maxParts: Int): Sink =
    Sink(Seq(clustersDir), (pairs, batch, epoch) =>
      ClusterFold.foldBatch(batch.sparkSession, clustersDir, epoch, pairs,
        batch.select(col(idCol).cast("long").as("id")).distinct(),
        targetRows = targetRows, maxParts = maxParts))

  /** Run `body` holding [[IndexMeta.lock]] on every dir, released in
    * reverse order — a refused lock releases the ones already taken. */
  private def withLocks(dirs: Seq[String], owner: String)(body: => Unit): Unit =
    dirs match {
      case d +: rest =>
        IndexMeta.lock(d, owner)
        try withLocks(rest, owner)(body) finally IndexMeta.unlock(d, owner)
      case _ => body
    }
}
