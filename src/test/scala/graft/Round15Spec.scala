package graft

import org.apache.spark.sql.functions._

import graft.dedup.{ClusterFold, Dedup, IndexCompaction, IndexMeta, MinhashIndex}

/** Round-15 pins (VERDICT r14 tasks #1-#3 + ADVICE r14 #1):
  *
  *  - the autoParts-clamp compaction cliff: past the maxParts clamp a
  *    fold must SKIP compaction (untouched partitions keep publishing by
  *    reference) instead of full-rewriting the snapshot every epoch;
  *  - incremental GC: per-publish filesystem work is bounded by touched
  *    partitions (PREVIOUS-manifest diff), with [[ClusterFold.sweep]] as
  *    the offline full-listing cleanup for crash debris;
  *  - crashed-compact debris repair BEFORE the pruned read in the
  *    streaming loop (a replayed epoch reads before its end-of-batch
  *    compact would repair), for every leg, both sinks and every index
  *    relation (postings and sketches leaves);
  *  - a seeded randomized multi-epoch fold-equivalence property over
  *    both the driver fast-path and the distributed CC path, with
  *    compactions and zero-pair epochs interleaved (plain generators —
  *    the offline cache has no scalatest-scalacheck bridge).
  */
class Round15Spec extends SparkSpec {
  import spark.implicits._

  private def tmpPath(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"r15_$tag").toFile
    d.deleteOnExit(); d.getAbsolutePath
  }

  private def assignSet(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  // near-dup corpora with real multi-member clusters (the Round13Spec shapes)
  private def docs(n: Int) = (0 until n).map { i =>
    val cluster = i / 3
    (i.toLong, s"the quick brown fox number $cluster jumps over the lazy dog " +
      s"and then walks around the block ${if (i % 3 == 2) "slowly today" else "quickly"}")
  }.toDF("doc_id", "text")

  private def vecs(n: Int, dim: Int = 16) = (0 until n).map { i =>
    val v = Array.fill(dim)(0f)
    if (i < n - 1) { v(i % 4) = 1f; v((i % 4) + 4) = 0.02f * (i / 4) }
    (i.toLong, v.toSeq)
  }.toDF("vec_id", "embedding")

  private def pairsDF(ps: Seq[(Long, Long)]) = ps.toDF("id_a", "id_b")

  private def epochDirs(cl: String): Set[String] =
    new java.io.File(cl).listFiles()
      .filter(f => f.isDirectory && f.getName.matches("[ev]\\d+.*"))
      .map(_.getName).toSet

  test("clamp cliff: past maxParts the fold skips compaction and keeps publishing by reference") {
    val cl = tmpPath("cliff")
    val ids = (0L until 60L).toDF("id")
    // 20 disjoint 3-clusters -> 60 stored rows; targetRows=4, maxParts=4:
    // 60 > 2*4*4 = 32, so every epoch sits PAST the compaction threshold
    // while autoParts(60, 4, 4) == 4 == nPart — the r14 code full-rewrote
    // the whole snapshot on every one of these epochs
    val seed = (0L until 20L).flatMap(c => Seq((3 * c, 3 * c + 1), (3 * c, 3 * c + 2)))
    ClusterFold.foldBatch(spark, cl, 0L, pairsDF(seed), ids,
      targetRows = 4L, maxParts = 4)
    val m0 = ClusterFold.readManifest(cl).get
    assert(m0.nPart == 4, s"grid should clamp at maxParts, got ${m0.nPart}")
    assert(m0.rows == 60L)
    // epoch 1 touches ONLY cluster {0,1,2} (partition pmod(0..2, 4))
    ClusterFold.foldBatch(spark, cl, 1L, pairsDF(Seq((0L, 1L))), ids,
      targetRows = 4L, maxParts = 4)
    val m1 = ClusterFold.readManifest(cl).get
    assert(m1.nPart == 4, "clamped grid must not regrid")
    // the cliff fix's contract: untouched partitions carry their OLD epoch
    // dir by manifest reference — a full rewrite would stamp everything e1
    val untouchedById = m1.entries.collect {
      case (("byid", k), e) if k == 3 => e // ids ≡ 3 (mod 4) were never touched
    }
    assert(untouchedById.nonEmpty && untouchedById.forall(_ == "e0"),
      s"untouched partition rewritten past the clamp: $m1")
    assert(m1.entries.exists { case ((rel, _), e) => rel == "byid" && e == "e1" },
      "touched partition did not move to the new epoch dir")
    // correctness unaffected
    assert(assignSet(ClusterFold.currentClustersFull(spark, cl, ids)) ==
      assignSet(Dedup.resolveClusters(pairsDF(seed ++ Seq((0L, 1L))), ids)))
    // a zero-pair epoch past the clamp is still zero data IO
    val dirsBefore = epochDirs(cl)
    ClusterFold.foldBatch(spark, cl, 2L, pairsDF(Seq.empty), ids,
      targetRows = 4L, maxParts = 4)
    assert(epochDirs(cl) == dirsBefore, "zero-pair epoch wrote past the clamp")
  }

  test("incremental GC: per-publish filesystem ops bounded by touched partitions") {
    val cl = tmpPath("gcinc")
    val ids = (0L until 80L).toDF("id")
    // targetRows=1 → epoch 0 compacts into a ~76-partition grid (2 rels):
    // a full-listing GC would walk O(nPart) leaves on EVERY publish
    val seed = (0L until 38L).map(c => (2 * c, 2 * c + 1))
    ClusterFold.foldBatch(spark, cl, 0L, pairsDF(seed), ids, targetRows = 1L)
    val nPart = ClusterFold.readManifest(cl).get.nPart
    assert(nPart >= 32, s"want a wide grid for this pin, got $nPart")
    // epochs 1/2 each touch ONE two-member cluster; epoch 2's publish GCs
    // the partitions epoch 1 superseded — a handful, never the grid
    ClusterFold.foldBatch(spark, cl, 1L, pairsDF(Seq((0L, 1L))), ids, targetRows = 1L)
    ClusterFold.foldBatch(spark, cl, 2L, pairsDF(Seq((4L, 5L))), ids, targetRows = 1L)
    val ops = ClusterFold.lastGcOps(cl)
    assert(ops > 0L, "epoch 2 should GC epoch 1's superseded leaves")
    assert(ops <= 20L,
      s"incremental GC did $ops fs ops — O(grid), not O(touched) (nPart=$nPart)")
    // correctness + the GC contract (current ∪ predecessor retained)
    assert(assignSet(ClusterFold.currentClustersFull(spark, cl, ids)) ==
      assignSet(Dedup.resolveClusters(
        pairsDF(seed ++ Seq((0L, 1L), (4L, 5L))), ids)))
  }

  test("sweep: offline full-listing cleanup removes orphan debris the incremental GC cannot see") {
    val cl = tmpPath("sweep")
    val ids = (0L until 10L).toDF("id")
    ClusterFold.foldBatch(spark, cl, 0L, pairsDF(Seq((0L, 1L))), ids)
    ClusterFold.foldBatch(spark, cl, 1L, pairsDF(Seq((0L, 2L))), ids)
    // plant crash debris: an epoch dir no manifest references (a publish
    // that died between the pointer flip and its deletions)
    val orphan = new java.io.File(s"$cl/e77/byid/pb=0")
    orphan.mkdirs()
    java.nio.file.Files.write(orphan.toPath.resolve("junk.parquet"), Array[Byte](1))
    val before = assignSet(ClusterFold.currentClustersFull(spark, cl, ids))
    ClusterFold.sweep(cl)
    assert(!new java.io.File(s"$cl/e77").exists(), "sweep left orphan debris")
    // live + predecessor-referenced dirs survive; the assignment is intact
    val live = ClusterFold.readManifest(cl).get.dirsReferenced ++
      ClusterFold.readManifestFile(cl, "PREVIOUS").map(_.dirsReferenced)
        .getOrElse(Set.empty)
    assert(epochDirs(cl).subsetOf(live))
    assert(assignSet(ClusterFold.currentClustersFull(spark, cl, ids)) == before)
  }

  test("stale PREVIOUS manifest never deletes live data (crash-window safety)") {
    val cl = tmpPath("stale")
    val ids = (0L until 10L).toDF("id")
    ClusterFold.foldBatch(spark, cl, 0L, pairsDF(Seq((0L, 1L))), ids)
    ClusterFold.foldBatch(spark, cl, 1L, pairsDF(Seq((2L, 3L))), ids)
    // simulate the crash window: PREVIOUS regresses to an ancient manifest
    // (here: the live CURRENT itself — worst case, maximal overlap with
    // live data). The next publish's delete set must not touch live leaves.
    val cur = IndexMeta.read(cl, "CURRENT")
    IndexMeta.write(cl, "PREVIOUS", cur.toIndexedSeq)
    ClusterFold.foldBatch(spark, cl, 2L, pairsDF(Seq((0L, 4L))), ids)
    assert(assignSet(ClusterFold.currentClustersFull(spark, cl, ids)) ==
      assignSet(Dedup.resolveClusters(
        pairsDF(Seq((0L, 1L), (2L, 3L), (0L, 4L))), ids)))
  }

  test("repairDir restores a leaf a crashed compact retired (pruned read would go empty)") {
    val docs = (0 until 12).map { i =>
      (i.toLong, s"shared boilerplate text block number ${i / 3} with more words after it")
    }.toDF("doc_id", "text")
    val idx = tmpPath("repair")
    MinhashIndex.write(docs, idx)
    val probe = Seq((100L, "shared boilerplate text block number 0 with more words after it"))
      .toDF("doc_id", "text")
    val want = MinhashIndex.deltaPairs(spark, idx, probe, threshold = 0.5).count()
    assert(want > 0L)
    // crash mid-swap on EVERY postings leaf: live leaf gone, retired copy left
    val post = new java.io.File(s"$idx/postings")
    post.listFiles().filter(f => f.isDirectory && f.getName.startsWith("pb="))
      .foreach { f =>
        assert(f.renameTo(new java.io.File(post, s".retired_${f.getName}")))
      }
    // the silent-loss mode ADVICE r14 #1 flagged: the pruned read treats a
    // missing leaf as empty and the probe emits NOTHING, no error
    assert(MinhashIndex.deltaPairs(spark, idx, probe, threshold = 0.5).count() == 0L)
    MinhashIndex.repair(idx)
    assert(MinhashIndex.deltaPairs(spark, idx, probe, threshold = 0.5).count() == want,
      "repair did not restore the retired leaves")
    // idempotent second run
    MinhashIndex.repair(idx)
    assert(MinhashIndex.deltaPairs(spark, idx, probe, threshold = 0.5).count() == want)
  }

  /** One leg × sink of the crashed-compact repair pin: `write` builds an
    * empty index, `ingest(stream, index, out, compactEvery)` runs one
    * stream session into `out`, and `pairs` is the leg's whole-corpus
    * operator. `leaves` are the index relations whose partition leaves
    * the simulated crash retires. */
  private final case class RepairRow(corpus: org.apache.spark.sql.DataFrame,
      idCol: String, leaves: Seq[String], clustered: Boolean,
      write: (org.apache.spark.sql.DataFrame, String) => Unit,
      ingest: (org.apache.spark.sql.DataFrame, String, String, Int) => Unit,
      pairs: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)

  private def repairText(n: Int) = (0 until n).map { i =>
    (i.toLong, s"streaming repair corpus item number ${i / 3} padded with common filler words")
  }.toDF("doc_id", "text")

  /** Session 1 (compactEvery = 1, one batch) fills the index; then every
    * partition leaf of every index relation is left retired, as a compact
    * that crashed between its two swap renames leaves it. Session 2 streams
    * copies of the corpus under new ids with compactEvery = 0 — the
    * CROSS-SESSION hole: a later default-config session must still
    * repair, or its pruned read sees the retired leaves as empty and its
    * append makes the loss permanent. Every pair linking the two
    * sessions comes from the index, so a missed repair shows as a
    * diverged result. */
  private def crashThenResume(row: RepairRow): Unit = {
    val all = row.corpus.persist()
    val srcDir = tmpPath("srepair_src")
    all.repartition(1).write.mode("overwrite").parquet(srcDir)
    val root = tmpPath("srepair")
    val idx = s"$root/index"; val out = s"$root/out"
    row.write(all.limit(0), idx)
    def session(compactEvery: Int): Unit =
      row.ingest(spark.readStream.schema(all.schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir), idx, out, compactEvery)
    session(1)
    row.leaves.foreach { leaf =>
      val dir = new java.io.File(s"$idx/$leaf")
      val live = dir.listFiles().filter(f => f.isDirectory && f.getName.contains("="))
      assert(live.nonEmpty, s"$leaf has no partition leaves to retire")
      live.foreach(f => assert(f.renameTo(new java.io.File(dir, s".retired_${f.getName}"))))
    }
    val more = all.withColumn(row.idCol, col(row.idCol) + 1000L)
    more.repartition(1).write.mode("append").parquet(srcDir)
    session(0)
    val both = all.unionByName(more)
    val ids = both.select(col(row.idCol).as("id"))
    val want = row.pairs(both).select(col("id_a"), col("id_b"))
    val (got, expected) =
      if (row.clustered) (assignSet(ClusterFold.currentClustersFull(spark, out, ids)),
        assignSet(Dedup.resolveClusters(want, ids)))
      else (assignSet(spark.read.parquet(out).select(col("id_a"), col("id_b")).distinct()),
        assignSet(want))
    assert(got == expected,
      s"retired ${row.leaves.mkString("/")} leaves were not repaired before the pruned read")
    all.unpersist()
  }

  test("ingestStreamClustered with compactEvery repairs crashed-compact debris before reading") {
    import graft.dedup.{EmbeddingIndex, WinnowIndex}
    val both = Seq("postings", "sketches")
    withClue("minhash: ") {
      crashThenResume(RepairRow(repairText(12), "doc_id", both, clustered = true,
        (df, idx) => MinhashIndex.write(df, idx),
        (st, idx, out, every) => MinhashIndex.ingestStreamClustered(st, idx, out,
          threshold = 0.5, compactEvery = every),
        Dedup.minhashLsh(_, threshold = 0.5)))
    }
    withClue("winnow: ") {
      crashThenResume(RepairRow(repairText(12), "doc_id", Seq("postings"), clustered = true,
        (df, idx) => WinnowIndex.write(df, idx, k = 4, w = 4),
        (st, idx, out, every) => WinnowIndex.ingestStreamClustered(st, idx, out,
          minShared = 2, compactEvery = every),
        Dedup.winnowPairs(_, k = 4, w = 4, minShared = 2)))
    }
    withClue("embedding: ") {
      crashThenResume(RepairRow(vecs(12), "vec_id", both, clustered = true,
        (df, idx) => EmbeddingIndex.write(df, idx, dim = 16, nbits = 4, tables = 8),
        (st, idx, out, every) => EmbeddingIndex.ingestStreamClustered(st, idx, out,
          threshold = 0.9, compactEvery = every),
        Dedup.embeddingNearDupLsh(_, dim = 16, threshold = 0.9, nbits = 4, tables = 8)))
    }
  }

  test("ingestStream (pairs sink) repairs crashed-compact debris before reading") {
    crashThenResume(RepairRow(repairText(12), "doc_id", Seq("postings", "sketches"),
      clustered = false,
      (df, idx) => MinhashIndex.write(df, idx),
      (st, idx, out, every) => MinhashIndex.ingestStream(st, idx, out,
        threshold = 0.5, compactEvery = every),
      Dedup.minhashLsh(_, threshold = 0.5)))
  }

  test("fold property: random multi-epoch streams ≡ whole-corpus resolveClusters (driver + distributed + compaction interleaved)") {
    val rnd = new scala.util.Random(20260816L)
    for (c <- 0 until 5) {
      val cl = tmpPath(s"prop$c")
      val nIds = 24 + rnd.nextInt(16)
      val universe = (0L until nIds.toLong).toDF("id")
      // case knobs: every case varies the fold's physical path, never its
      // contract — c%3==1 forces the distributed CC path outright (cutoff
      // 0), c%3==2 uses a tiny cutoff so megacluster batches CROSS it
      // mid-stream (pairs fit, touched members don't); odd cases use
      // targetRows=1 so snapshot compactions interleave with folds
      val maxDriver = c % 3 match {
        case 1 => 0
        case 2 => 4
        case _ => 1000000
      }
      val target = if (c % 2 == 1) 1L else 262144L
      val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      val nEpochs = 4 + rnd.nextInt(2)
      for (e <- 0 until nEpochs) {
        val ps: Seq[(Long, Long)] =
          if (e == 2) {
            // megacluster batch: a chain collapsing a third of the universe
            (0L until (nIds / 3).toLong).sliding(2).collect {
              case Seq(a, b) => (a, b) }.toSeq
          } else {
            val n = rnd.nextInt(6) // may be 0 → zero-pair epoch
            (0 until n).map { _ =>
              val a = rnd.nextInt(nIds).toLong
              val b = rnd.nextInt(nIds).toLong
              (math.min(a, b), math.max(a, b))
            }.filter(p => p._1 != p._2)
          }
        seen ++= ps
        ClusterFold.foldBatch(spark, cl, e.toLong, pairsDF(ps), universe,
          targetRows = target, maxDriverRows = maxDriver)
        val got = assignSet(ClusterFold.currentClustersFull(spark, cl, universe))
        val want = assignSet(Dedup.resolveClusters(pairsDF(seen.toSeq), universe))
        assert(got == want, s"case $c epoch $e (maxDriver=$maxDriver target=$target)")
        if (e == 1) {
          // replayed epoch mid-stream is a no-op at every cutoff
          ClusterFold.foldBatch(spark, cl, e.toLong, pairsDF(ps), universe,
            targetRows = target, maxDriverRows = maxDriver)
          assert(assignSet(ClusterFold.currentClustersFull(spark, cl, universe)) == want,
            s"case $c replay changed the assignment")
        }
      }
      // end-of-stream invariants: stored rows exclude singletons, and the
      // two mirrored relations agree after any mix of paths/compactions
      val stored = assignSet(ClusterFold.storedClusters(spark, cl))
      assert(stored.groupBy(_._2).forall(_._2.size > 1),
        s"case $c stored a singleton row")
      ClusterFold.sweep(cl)
      val live = ClusterFold.readManifest(cl).get.dirsReferenced ++
        ClusterFold.readManifestFile(cl, "PREVIOUS").map(_.dirsReferenced)
          .getOrElse(Set.empty)
      assert(epochDirs(cl).subsetOf(live), s"case $c sweep left debris")
    }
  }

  test("batching-invariance property: random stream chops ≡ whole-corpus closure (all legs)") {
    // Round13Spec pins ONE fixed chop per leg (repartition(3), one file
    // per trigger). The ingest loops claim invariance under ANY chop —
    // pin it with seeded random splits: random batch count, random
    // (salted-hash) doc-to-batch assignment, every leg.
    import graft.dedup.{EmbeddingIndex, MinhashIndex, WinnowIndex}
    val rnd = new scala.util.Random(20260817L)
    def chop(df: org.apache.spark.sql.DataFrame, idCol: String,
        k: Int, salt: Int, dir: String): Unit =
      df.repartition(k, pmod(xxhash64(col(idCol), lit(salt)), lit(k)))
        .write.mode("overwrite").parquet(dir)
    for (c <- 0 until 2) {
      val k = 1 + rnd.nextInt(4)
      val salt = rnd.nextInt(1 << 20)
      val nDocs = 21 + 3 * rnd.nextInt(5)
      val d = docs(nDocs).persist()
      val v = vecs(18).unionByName(
        vecs(18).withColumn("vec_id", col("vec_id") + 100)).persist()
      for (leg <- Seq("minhash", "winnow", "embedding")) {
        val root = tmpPath(s"chop_${c}_$leg")
        val src = s"$root/src"; val idx = s"$root/index"; val cl = s"$root/clusters"
        val (got, want) = leg match {
          case "minhash" =>
            chop(d, "doc_id", k, salt, src)
            MinhashIndex.write(d.limit(0), idx)
            val st = spark.readStream.schema(d.schema)
              .option("maxFilesPerTrigger", 1).parquet(src)
            MinhashIndex.ingestStreamClustered(st, idx, cl, threshold = 0.5)
            (ClusterFold.currentClustersFull(spark, cl,
              d.select(col("doc_id").as("id"))),
              Dedup.resolveClusters(
                Dedup.minhashLsh(d, threshold = 0.5).select(col("id_a"), col("id_b")),
                d.select(col("doc_id").as("id"))))
          case "winnow" =>
            chop(d, "doc_id", k, salt, src)
            graft.dedup.WinnowIndex.write(d.limit(0), idx, k = 4, w = 4)
            val st = spark.readStream.schema(d.schema)
              .option("maxFilesPerTrigger", 1).parquet(src)
            WinnowIndex.ingestStreamClustered(st, idx, cl, minShared = 2)
            (ClusterFold.currentClustersFull(spark, cl,
              d.select(col("doc_id").as("id"))),
              Dedup.resolveClusters(
                Dedup.winnowPairs(d, k = 4, w = 4, minShared = 2)
                  .select(col("id_a"), col("id_b")),
                d.select(col("doc_id").as("id"))))
          case "embedding" =>
            chop(v, "vec_id", k, salt, src)
            EmbeddingIndex.write(v.limit(0), idx, dim = 16, nbits = 4, tables = 8)
            val st = spark.readStream.schema(v.schema)
              .option("maxFilesPerTrigger", 1).parquet(src)
            EmbeddingIndex.ingestStreamClustered(st, idx, cl, threshold = 0.9)
            (ClusterFold.currentClustersFull(spark, cl,
              v.select(col("vec_id").as("id"))),
              Dedup.resolveClusters(
                Dedup.embeddingNearDupLsh(v, dim = 16, threshold = 0.9,
                  nbits = 4, tables = 8).select(col("id_a"), col("id_b")),
                v.select(col("vec_id").as("id"))))
        }
        assert(assignSet(got) == assignSet(want),
          s"case $c leg $leg diverged under a k=$k salt=$salt chop")
      }
      d.unpersist(); v.unpersist()
    }
  }

  test("ingestStreamClustered threads fold grid knobs through to the snapshot") {
    import graft.dedup.MinhashIndex
    val all = docs(30).persist()
    val srcDir = tmpPath("knobs_src")
    all.repartition(2).write.mode("overwrite").parquet(srcDir)
    val root = tmpPath("knobs")
    val idx = s"$root/index"; val cl = s"$root/clusters"
    MinhashIndex.write(all.limit(0), idx)
    val st = spark.readStream.schema(all.schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
    // the 100 TB runbook's lever: targetRows=1 forces the snapshot grid to
    // scale with stored rows instead of sitting at the 8-partition floor
    MinhashIndex.ingestStreamClustered(st, idx, cl, threshold = 0.5,
      foldTargetRows = 1L)
    val m = ClusterFold.readManifest(cl).get
    assert(m.rows > 8, s"corpus too small for the pin (rows=${m.rows})")
    assert(m.nPart >= math.min(m.rows, 8L),
      s"grid ignored the override: nPart=${m.nPart} rows=${m.rows}")
    assert(m.nPart > 8 || m.rows <= 8,
      s"targetRows=1 should regrid past the floor: nPart=${m.nPart} rows=${m.rows}")
    // semantics unchanged under the override
    assert(assignSet(ClusterFold.currentClustersFull(spark, cl,
      all.select(col("doc_id").as("id")))) ==
      assignSet(Dedup.resolveClusters(
        Dedup.minhashLsh(all, threshold = 0.5).select(col("id_a"), col("id_b")),
        all.select(col("doc_id").as("id")))))
    all.unpersist()
  }

  test("embedding delta: a redelivered member never emits a self-pair") {
    import graft.dedup.EmbeddingIndex
    def v(ids: Seq[Long]) = ids.map(i => (i, Seq.fill(8)(0.5f)))
      .toDF("vec_id", "embedding")
    val path = tmpPath("selfpair")
    EmbeddingIndex.write(v(Seq(1L, 2L)), path, dim = 8, nbits = 4, tables = 2)
    // at-least-once redelivery: id 1 arrives AGAIN (same vector) alongside
    // fresh ids 9 and 9 (duplicate row in one batch). Pre-fix, 1 sat in
    // both old and new members and crossPairsUdf emitted (1, 1); a
    // duplicated row inflated members to [9, 9] and withinPairsUdf
    // emitted (9, 9) — self-loops the documented dropDuplicates read
    // does NOT absorb and the cluster fold would store as bogus rows
    val delta = v(Seq(1L, 9L)).unionByName(v(Seq(9L)))
    val got = EmbeddingIndex.deltaPairs(spark, path, delta, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.forall(p => p._1 < p._2), s"self/inverted pair emitted: $got")
    assert(got == Set((1L, 9L), (2L, 9L), (1L, 2L)),
      s"redelivery changed the pair set: $got")
  }

  test("embedding LSH: null / mis-dimensioned vectors are excluded, not crashed") {
    import graft.dedup.EmbeddingIndex
    val rows: Seq[(Long, Option[Seq[Float]])] = Seq(
      (0L, Some(Seq.fill(8)(1.0f))),
      (1L, Some(Seq.fill(8)(1.0f))),   // near-dup of 0
      (2L, None),                      // null embedding (semanticDedup's split case)
      (3L, Some(Seq.fill(3)(1.0f))))   // mis-dimensioned
    val df = rows.toDF("vec_id", "embedding")
    // pre-fix: lshBucketUdf NPE'd on the null row and silently bucketed a
    // truncated prefix for the short one; both are now non-participants
    val batch = Dedup.embeddingNearDupLsh(df, dim = 8, threshold = 0.9,
      nbits = 4, tables = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batch == Set((0L, 1L)), s"got $batch")
    // the written-index leg survives the same corpus end to end
    val path = tmpPath("nullvec")
    EmbeddingIndex.write(df, path, dim = 8, nbits = 4, tables = 2)
    val delta = Seq((9L, Some(Seq.fill(8)(1.0f))), (10L, None))
      .toDF("vec_id", "embedding")
    val got = EmbeddingIndex.deltaPairs(spark, path, delta, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((0L, 9L), (1L, 9L)), s"got $got")
    // decontamination leg likewise
    val hits = Dedup.decontaminateEmbeddingLsh(df, delta, dim = 8,
      threshold = 0.9, nbits = 4, tables = 2)
    assert(hits.count() >= 1L)
  }

  test("IndexCompaction.repairDir drops stale .compact_ pre-swap debris") {
    val dir = tmpPath("cdebris")
    val leaf = new java.io.File(s"$dir/pb=3")
    leaf.mkdirs()
    java.nio.file.Files.write(leaf.toPath.resolve("part-0.parquet"), Array[Byte](1))
    val stale = new java.io.File(s"$dir/.compact_pb=3")
    stale.mkdirs()
    java.nio.file.Files.write(stale.toPath.resolve("part-0.parquet"), Array[Byte](2))
    IndexCompaction.repairDir(dir)
    assert(leaf.exists(), "live leaf must survive repair")
    assert(!stale.exists(), "stale .compact_ debris must be dropped")
  }
}
