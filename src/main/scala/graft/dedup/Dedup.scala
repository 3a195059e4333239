package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorExpressions
import graft.ml.HashEmbedder
import graft.text.TextAnalysis

/** Deduplication suite for training-data pipelines (builder-prompt
  * first-class ops). Five strategies, all shaped for 100 TB:
  *
  *   - exact: hash-groupBy on content. One shuffle on a 16-byte key.
  *   - MinHash + LSH: shingle → minhash signature (projection, no shuffle) →
  *     band buckets → candidate pairs via self-join on (band, bucket) →
  *     verified Jaccard. The self-join is per-bucket, so skew is bounded by
  *     bucket size, not corpus size.
  *   - SimHash: 64-bit weighted fingerprint; near-dup = hamming distance ≤ t
  *     within LSH-style chunks of the fingerprint.
  *   - n-gram Jaccard: exact verification kernel (used standalone on
  *     candidate pairs).
  *   - embedding cosine: near-dup = cosine ≥ τ on an embedding column;
  *     brute-force within LSH buckets (random-hyperplane) for scale.
  */
object Dedup {

  /** Ceiling for the brute-force embedding kernel's driver collect —
    * ~100k × 64-float vectors ≈ 26 MB broadcast, comfortably driver-safe;
    * anything larger must go through the LSH path. */
  val DefaultBruteMaxRows: Int = 100000

  // ------------------------------------------------------------------ exact

  /** Exact dedup groups: (text_hash, keep_id = min doc_id, dup_count). */
  def exact(df: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    df.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  // -------------------------------------------------------------- shingling

  def shingles(s: String, n: Int): Set[String] = {
    val toks = HashEmbedder.tokenize(s)
    if (toks.length < n) Set(toks.mkString(" "))
    else toks.sliding(n).map(_.mkString(" ")).toSet
  }

  /** Column form of `shingles` (distinct word n-grams) as a Scala UDF. A
    * native higher-order-function form (transform + slice + concat_ws)
    * benched 2-3× SLOWER than this UDF — Catalyst HOFs copy array data per
    * window, while the UDF's sliding/mkString works on pre-split strings.
    * Measured, not assumed: see round-2 bench history. */
  private[graft] def shingleCol(textCol: Column, n: Int): Column = {
    val u = udf((s: String) => shingles(s, n).toSeq)
    u(textCol)
  }

  // ---------------------------------------------------------------- minhash

  /** Deterministic universal-hash family h_i(x) = (a_i*x + b_i) mod p.
    * private[graft]: the oracle generator inlines the same params as SQL
    * literals so both engines evaluate the identical hash family.
    * a, b are drawn below 2^31 so a*x (x < 2^32) stays within signed-Long
    * range — with a up to p the product silently wrapped in Scala while the
    * SQL oracle computed exactly in 128-bit, giving the two engines
    * DIFFERENT hash families (masked downstream by Jaccard verification,
    * but a latent band-recall divergence). */
  private[graft] val P = 4294967311L // prime > 2^32
  private[graft] def hashParams(numHashes: Int, seed: Long): Array[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    val lim = 1L << 31
    Array.fill(numHashes)((1 + rnd.nextLong(lim - 1), rnd.nextLong(lim)))
  }

  def minhashSignature(sh: Set[String], params: Array[(Long, Long)]): Array[Long] = {
    val out = new Array[Long](params.length)
    if (sh.isEmpty) { java.util.Arrays.fill(out, Long.MaxValue); return out }
    // flat while-loops, no per-hash collection allocation: this kernel runs
    // per document × numHashes × |shingles| — the hot floor of the whole
    // minhash pipeline (measured 0.8s/5k docs in the naive Set-map form,
    // ~6× less in this one; a*x stays < 2^63 because a < 2^31, x < 2^32)
    val base = new Array[Long](sh.size)
    var i = 0
    sh.foreach { x => base(i) = HashEmbedder.tokenHash(x).toLong & 0xffffffffL; i += 1 }
    var p = 0
    while (p < params.length) {
      val a = params(p)._1; val b = params(p)._2
      var mn = Long.MaxValue
      var j = 0
      while (j < base.length) {
        val v = (a * base(j) + b) % P
        if (v < mn) mn = v
        j += 1
      }
      out(p) = mn
      p += 1
    }
    out
  }

  /** MinHash-LSH near-duplicate PAIRS (id_a < id_b):
    * numHashes = bands × rowsPerBand; candidates share ≥1 band; verified by
    * exact shingle Jaccard ≥ threshold.
    *
    * `maxBucket` (the maxDf idea at the band-bucket level): band buckets
    * with more than maxBucket distinct members are dropped from candidate
    * generation. The boilerplate regime makes this the scale lever — a
    * shared footer/header drives some band signatures for a constant
    * fraction of ALL docs, so those buckets grow linearly with the corpus
    * and their candidate pairs quadratically (measured: boilerplate ×10→×30
    * was 4.5 → 51 s, 11.5× time for 3× data, entirely below-threshold
    * false candidates that verification then discards). Recall cost:
    * only pairs whose EVERY shared band is corpus-hot — in that regime,
    * boilerplate-only false matches; a true near-dup pair at τ shares
    * bands on its CONTENT minima, which are corpus-rare. Emitted jaccard
    * stays exact (full-shingle verification, as always). A band-key hash
    * collision merging two buckets can now DROP candidates (not only add)
    * with the same accepted ~2⁻⁶⁴ odds as every hashed join key here. */
  def minhashLsh(
      df: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      shingleSize: Int = 3, numHashes: Int = 32, bands: Int = 8,
      threshold: Double = 0.7, seed: Long = 42L,
      maxBucket: Option[Int] = None): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    val params = hashParams(numHashes, seed)
    val sigUdf = udf((sh: Seq[String]) => minhashSignature(sh.toSet, params))

    // shingles computed ONCE (native expression), shared by the signature
    // path and the verification path
    // NOT eagerly materialized, deliberately (A/B-measured r15): a
    // count() here fills the cache and surfaces withSh's true in-memory
    // size to the planner, which then declines to BROADCAST the
    // verification join sides — x10 boilerplate went 18 MB -> 294 MB
    // shuffle, wall +21%. The racing-recompute risk the eager pattern
    // guards against elsewhere does not bite here: candidate generation's
    // exchange materializes the cache before the join stages consume it.
    val withSh = df.select(col(idCol).as("id"),
      shingleCol(col(textCol), shingleSize).as("sh")).persist()
    val sigs = withSh.select(col("id"), sigUdf(col("sh")).as("sig"))

    // band key = hash of the band's signature slice; ONLY (band, bucket, id)
    // is shuffled through candidate generation — payloads join back after
    // the pair set is deduped (keeps the wide columns out of the shuffle)
    val banded = sigs.select(
      col("id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)), b =>
        xxhash64(lit("band"), b, slice(col("sig"), b * lit(rows) + 1, lit(rows))))).as(Seq("band", "bucket")))

    val candidates = bucketPairs(banded, Seq("band", "bucket"), maxBucket)

    val jacc = udf((a: Seq[String], b: Seq[String]) => {
      val sa = a.toSet; val sb = b.toSet
      val inter = sa.intersect(sb).size.toDouble
      val uni = sa.union(sb).size.toDouble
      if (uni == 0) 1.0 else inter / uni
    })
    finishReleasing(
      candidates
        .join(withSh.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
        .join(withSh.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
        .withColumn("jaccard", round(jacc(col("sh_a"), col("sh_b")), 4))
        .where(col("jaccard") >= threshold)
        .select(col("id_a"), col("id_b"), col("jaccard")),
      withSh)
  }

  /** Candidate pairs by bucket aggregation, not a self-join: the bucketed
    * relation (whose lineage typically includes a signature/bucketing UDF)
    * is computed ONCE and shuffled ONCE (groupByKey) — a self-join
    * recomputes that lineage for each side, tripling the UDF cost
    * (measured on the minhash pipeline). Pairs are emitted through a LAZY
    * iterator (flatMapGroups): the earlier array-returning UDF materialized
    * a bucket's entire C(m,2) pair list in one allocation, and one hot
    * bucket (20k skewed simhash fingerprints at ×10 replication → 2·10⁸
    * tuples) took the executor down with it. Per-bucket memory is now
    * O(members); the pair stream spills through the dropDuplicates
    * shuffle like any other relation. Buckets are keyed by xxhash64 of the
    * key columns — a cross-bucket collision merges two buckets and only
    * adds candidates (downstream verification filters them), never drops.
    * `bucketed` must have an `id` column plus `keyCols`. */
  private def bucketPairs(bucketed: DataFrame, keyCols: Seq[String],
      maxBucket: Option[Int] = None): DataFrame = {
    val spark = bucketed.sparkSession
    import spark.implicits._
    val cap = maxBucket.getOrElse(Int.MaxValue)
    bucketed.select(xxhash64(keyCols.map(col): _*).as("__k"), col("id"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (_, it) =>
        val a = it.map(_._2).toArray
        java.util.Arrays.sort(a)
        // maxBucket: corpus-hot buckets emit NO pairs — a bucket whose
        // membership grows linearly with the corpus (boilerplate-driven
        // band signatures, stop fingerprints) contributes quadratically
        // many candidates, nearly all below-threshold false positives by
        // construction (they collide on the shared boilerplate, not on
        // content). Distinct-member count so duplicate postings of one doc
        // can't trip the cap.
        val distinctMembers = {
          var d = 0; var i = 0
          while (i < a.length) { if (i == 0 || a(i) != a(i - 1)) d += 1; i += 1 }
          d
        }
        if (a.length < 2 || distinctMembers > cap) Iterator.empty
        else (0 until a.length - 1).iterator.flatMap { i =>
          ((i + 1) until a.length).iterator
            .filter(j => a(i) != a(j))
            .map(j => (a(i), a(j)))
        }
      }
      .toDF("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
  }
  private[graft] def bucketPairsPublic(bucketed: DataFrame, keyCols: Seq[String],
      maxBucket: Option[Int] = None): DataFrame =
    bucketPairs(bucketed, keyCols, maxBucket)

  /** Eagerly materialize `out` (persist + count), then release the
    * per-invocation caches. Every dedup entry point persists shingle /
    * fingerprint / group relations mid-pipeline; without this, each CALL
    * leaks ALL of them for the life of the session (the growth class
    * ScaleBench had to reclaim externally, measured to OOM the executor
    * over accumulated passes). After this, only the single bounded RESULT
    * cache outlives the call — the relation the caller is actively using;
    * long-lived services release it like any result set (Spark LRU backs
    * them up). Eager materialization also de-fuses a downstream global
    * sort's range-sampling pass from the candidate pipeline — unpersisted,
    * the whole pipeline executed twice (measured 35 s vs 19 s).
    *
    * NOT localCheckpoint: Dataset.localCheckpoint materializes through
    * `.rdd`, which compiles the physical plan WITHOUT adaptive execution —
    * the candidate pipeline's runtime broadcast-join conversions revert to
    * sort-merge joins (measured 25 s vs 6 s on the prefix-dedup ×1 curve).
    * persist + count executes the normal AQE plan. */
  private[dedup] def finishReleasing(out: DataFrame, caches: DataFrame*): DataFrame = {
    val r = out.persist()
    r.count()
    caches.foreach(_.unpersist(blocking = false))
    r
  }
  private[graft] def shingleColPublic(textCol: Column, n: Int): Column = shingleCol(textCol, n)
  private[graft] def finishReleasingPublic(out: DataFrame, caches: DataFrame*): DataFrame =
    finishReleasing(out, caches: _*)
  private[graft] def verifyPairsPublic(pairs: DataFrame, arrs: DataFrame, threshold: Double): DataFrame =
    verifyPairs(pairs, arrs, threshold)

  // ---------------------------------------------------------------- simhash

  /** 64-bit SimHash over token hashes weighted by count. */
  def simhash(s: String): Long = {
    val acc = new Array[Int](64)
    HashEmbedder.tokenize(s).foreach { t =>
      // two 32-bit FNV hashes → 64 bits
      val h1 = HashEmbedder.tokenHash(t).toLong & 0xffffffffL
      val h2 = HashEmbedder.tokenHash(t.reverse + "#").toLong & 0xffffffffL
      val h = (h1 << 32) | h2
      var i = 0
      while (i < 64) { if (((h >>> i) & 1L) == 1L) acc(i) += 1 else acc(i) -= 1; i += 1 }
    }
    var out = 0L
    var i = 0
    while (i < 64) { if (acc(i) > 0) out |= (1L << i); i += 1 }
    out
  }

  private val simhashUdf = udf((s: String) => simhash(s))

  /** SimHash near-dup pairs with hamming ≤ maxHamming (= d), blocked on
    * COMBINATIONS of fingerprint chunks: with nChunks = d + a chunks,
    * flipping ≤ d bits leaves ≥ a chunks untouched (pigeonhole), so every
    * qualifying pair agrees on some a-subset of chunks — exhaustive, not
    * probabilistic, for ANY arity a ≥ 1.
    *
    * Arity choice is MEASURED, not assumed:
    *   - a = 1 (nChunks = d+1, linear explode) was tried for d ≥ 5 and
    *     rejected — real-text fingerprints are heavily skewed, and one
    *     ~10-bit hot chunk value collected 10⁴ docs at ×10 replication
    *     (2·10⁸ candidate pairs through one bucket, executor OOM).
    *   - a = 2 (round 4-6) bounded the hot bucket but still measured
    *     ratio_10x ≈ 4.1 on the disjoint scaling curve: pair keys carry
    *     only 2·64/(d+2) bits, and correlated fingerprint bits (shared
    *     vocabulary ⇒ shared hash signs) keep the big buckets quadratic.
    *   - a = 3 (this form) widens the agreement key to 3·64/(d+3) bits —
    *     for d = 6 that is 21 vs 16 bits, ~40× fewer uniform collisions
    *     and a steep cut on correlated ones — at the price of C(d+3,3) vs
    *     C(d+2,2) exploded rows per doc (84 vs 28 at d = 6). The explode
    *     grows LINEARLY in corpus size; the bucket-collision term it buys
    *     down is the quadratic one, the right trade at scale. Beyond
    *     d ≈ 8 the combo count steepens (C(d+3,3) ~ d³/6), so arity
    *     falls back to 2 rather than explode hundreds of rows per doc.
    *
    * Chunk boundaries are BALANCED (lo_i = ⌊i·64/n⌋): ceil-width chunks
    * exhaust the 64 bits early and leave trailing chunks EMPTY — an
    * always-equal key that degrades its combos to lower-arity blocking
    * (or a full cross join). Balanced widths differ by ≤ 1 bit and are
    * never zero for n ≤ 64.
    *
    * Candidates stream through ONE groupByKey pass with the hamming check
    * INLINE (fingerprints ride the explode; see the comment below) — the
    * fingerprint relation has exactly one consumer, so it is NOT persisted
    * (caching a corpus-sized relation read once is pure storage overhead;
    * the earlier join-back design that needed the cache is gone). The
    * result is still eagerly materialized before returning. */
  def simhashPairs(df: DataFrame, textCol: String = "text", idCol: String = "doc_id",
      maxHamming: Int = 3, comboArity: Int = 0): DataFrame = {
    require(maxHamming < 63,
      s"maxHamming must be < 63 (got $maxHamming): 64 one-bit chunks cannot leave 2 untouched")
    // auto arity: triples while the explode stays modest, else pairs; always
    // clamped so chunks keep ≥ 1 bit (nChunks ≤ 64)
    val arity = math.max(1, math.min(64 - maxHamming,
      if (comboArity > 0) comboArity else if (maxHamming <= 8) 3 else 2))
    val nChunks = maxHamming + arity
    val fps = df.select(col(idCol).as("id"), simhashUdf(col(textCol)).as("fp"))
    def chunk(i: Int): Column = {
      val lo = i * 64 / nChunks
      val bits = (i + 1) * 64 / nChunks - lo
      // mask to the chunk's true width: shiftright is arithmetic, so a
      // negative fp sign-extends and an over-wide mask would admit
      // phantom high bits in the top chunk
      shiftright(col("fp"), lo).bitwiseAND(lit(if (bits >= 64) -1L else (1L << bits) - 1))
    }
    val vNames = (1 to arity).map(i => s"v$i")
    val combos = (0 until nChunks).combinations(arity).toSeq.zipWithIndex.map {
      case (idxs, cid) =>
        struct(lit(cid).as("combo") +:
          idxs.zip(vNames).map { case (ci, vn) => chunk(ci).as(vn) }: _*)
    }
    val keyNames = "combo" +: vNames
    // Verification is INLINE in the bucket pass: hamming is one xor +
    // popcount, so deferring it behind the generic bucketPairs route
    // (dropDuplicates over ALL candidate pairs, then two join-backs to the
    // fingerprint relation, then the filter) shuffles every false-positive
    // collision three times for no reason. Carrying fp through the explode
    // costs 8 bytes/row; only pairs that already PASS the hamming test
    // reach a shuffle (the cross-combo dropDuplicates over true pairs) —
    // measured as the difference between ratio_10x 3.4 and ≤3 on the
    // disjoint curve. Buckets are keyed by xxhash64 of the combo key; a
    // cross-bucket collision merges two buckets — only adds candidate
    // comparisons (same id_a!=id_b guard), never drops a pair.
    val spark = df.sparkSession
    import spark.implicits._
    val keyed = fps.select(col("id"), col("fp"),
      explode(array(combos: _*)).as("k"))
      .select(xxhash64(keyNames.map(n => col(s"k.$n")): _*).as("__k"),
        col("id"), col("fp"))
    val d = maxHamming
    val pairs = keyed.as[(Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (_, it) =>
        val a = it.map(t => (t._2, t._3)).toArray
        scala.util.Sorting.quickSort(a)(Ordering.by(_._1))
        if (a.length < 2) Iterator.empty
        else (0 until a.length - 1).iterator.flatMap { i =>
          val (ia, fa) = a(i)
          ((i + 1) until a.length).iterator.flatMap { j =>
            val (ib, fb) = a(j)
            val h = java.lang.Long.bitCount(fa ^ fb)
            if (ia != ib && h <= d) Iterator.single((ia, ib, h)) else Iterator.empty
          }
        }
      }
      .toDF("id_a", "id_b", "hamming")
      .dropDuplicates("id_a", "id_b")
    finishReleasing(pairs)
  }

  // --------------------------------------------------------- ngram jaccard

  /** Exact n-gram Jaccard pairs above threshold, via inverted-index join:
    * explode distinct shingles → self-join on shingle → per-pair
    * intersection counts → |A∪B| = |A|+|B|−|A∩B|. Only pairs sharing at
    * least one shingle are materialized (pairs below any positive threshold
    * can't have zero intersection), so cost is Σ bucket² over shingle
    * buckets, not n² over documents — the scale-correct shape. Skewed
    * (very common) shingles are the residual hotspot; cap them upstream or
    * let AQE skew-split the join. */
  def ngramJaccardPairs(df: DataFrame, textCol: String = "text", idCol: String = "doc_id",
      n: Int = 3, threshold: Double = 0.5, maxDf: Option[Int] = None): DataFrame =
    // join on the 64-bit shingle hash, not the shingle string: the
    // inverted-index shuffle carries 8-byte keys instead of ~n·8-char
    // strings, and the join compares longs. xxhash64 collisions would
    // conflate distinct shingles with probability ~|shingles|²/2^65 —
    // negligible against the engine's 1e-6 score tolerance.
    // persisted: consumed three times (per-doc counts + both sides of the
    // inverted-index self-join) — the UDF explode would otherwise run 3×
    ngramJaccardPairsFromSh(shingleRel(df, textCol, idCol, n).persist(),
      threshold, maxDf)

  /** The (id, shingle-hash) postings relation every n-gram strategy — and
    * the dispatch probe — is built from. Extracted so [[ngramJaccardAuto]]
    * can materialize it ONCE and feed both the probe and the dispatched
    * strategy (the probe otherwise pays a full second tokenizer+explode
    * scan at exactly the scale the dispatcher targets). */
  private def shingleRel(df: DataFrame, textCol: String, idCol: String,
      n: Int): DataFrame =
    df.select(col(idCol).as("id"),
        explode(shingleCol(col(textCol), n)).as("__s"))
      .select(col("id"), xxhash64(col("__s")).as("s"))

  /** [[ngramJaccardPairs]] body over a prebuilt (id, s) relation. `sh`
    * must arrive persisted; it is released via [[finishReleasing]].
    * `precomputedHot`, when given, is the persisted+materialized set of
    * shingle keys with df > maxDf (the auto dispatcher already aggregated
    * the df distribution for its probe) — the capped branch then skips its
    * own postings-wide groupBy. */
  private def ngramJaccardPairsFromSh(sh: DataFrame, threshold: Double,
      maxDf: Option[Int], precomputedHot: Option[DataFrame] = None): DataFrame = {
    require(threshold > 0.0, "threshold must be positive (zero-overlap pairs are not materialized)")
    val cnt = sh.groupBy(col("id")).agg(count(lit(1)).as("n_sh"))
    // candidate generation and intersection counting are the same join —
    // ONE definition, shared by the uncapped case and the capped case's
    // nothing-above-the-cap early exit (formerly a verbatim copy that had
    // to be edited twice — review r15)
    def plainInter: DataFrame =
      sh.as("x").join(sh.as("y"), "s")
        .where(col("x.id") < col("y.id"))
        .groupBy(col("x.id").as("id_a"), col("y.id").as("id_b"))
        .agg(count(lit(1)).as("i"))
    val inter = maxDf match {
      case None => plainInter
      case Some(cap) =>
        // Skew cap: a stop-shingle ("the quick brown") posting of length L
        // contributes L² candidate rows to the self-join — at 100× corpus
        // scale one hot bucket dominates the stage. Shingles with document
        // frequency > cap are dropped from CANDIDATE GENERATION only: they
        // are the least discriminative shingles (P(pair is a near-dup |
        // shares this shingle) is lowest), and any true near-dup pair at
        // threshold τ shares ~τ/(1+τ) of its shingles, so it is still found
        // unless EVERY shared shingle is corpus-hot. Emitted jaccard values
        // stay exact: verification recomputes the FULL intersection per
        // candidate pair as a merge over each doc's sorted shingle-hash
        // array — so the cap costs recall on pairs whose entire overlap is
        // stop-shingles, never precision.
        // (The earlier rare-join + hot-shingle TOP-UP formulation kept a
        // second per-doc hot array and merged it per pair; in the shared-
        // vocabulary regime — most shingles hot — those arrays approach
        // full documents and the top-up dominated: ×10 replication measured
        // capped 121 s vs uncapped 23 s. One full-array merge per candidate
        // does the same work ONCE, with no hot/rare bookkeeping.)
        // hot-key set is TINY by construction (shingles with df > cap — the
        // stop-shingles), so materialize it once and drop them from
        // candidate generation with a broadcast anti join: no shuffle of
        // the shingle table.
        // non-precomputed hot set: COLLECT to a LocalRelation instead of
        // persist+count (r18) — it is broadcast into both consumers below,
        // so the driver already held it; as a LocalRelation the broadcast
        // builds cost ZERO Spark jobs in every action that re-derives
        // rare/hotArr lineage. A dispatcher-provided persisted set keeps
        // the cached-count path (its count is free).
        val (hotKeys, nHot) = precomputedHot match {
          case Some(h) => (h, h.count())
          case None =>
            import sh.sparkSession.implicits._
            val hotRel = sh.groupBy(col("s")).agg(count(lit(1)).as("__df"))
              .where(col("__df") > cap).select(col("s"))
            // Driver guard (ADVICE r18 #2): the hot set is tiny in the
            // boilerplate regime the cap targets, but the shared-vocabulary
            // regime can make MOST shingles hot — an unguarded collect
            // fails only as an opaque driver OOM. One row over the bound
            // routes the fallback: within it, the LocalRelation keeps
            // broadcast builds at zero jobs (r18); over it, the persisted
            // relation goes through the broadcast machinery's own size
            // limits and warnings, as before r18.
            val probe = hotRel.as[Long].take(HotCollectMaxRows + 1)
            if (probe.length <= HotCollectMaxRows)
              (probe.toSeq.toDF("s"), probe.length.toLong)
            else {
              val h = hotRel.persist()
              (h, h.count())
            }
        }
        // no shingle above the cap → rare == sh and the split machinery is
        // pure overhead; run the plain join (identical result)
        if (nHot == 0)
          return finishReleasing(
            interToJaccard(plainInter, cnt, threshold), sh, hotKeys)
        // Exact-dup pre-collapse (identical shingle sets ⇒ identical
        // candidacy AND identical jaccard against every third doc):
        // candidates + verification run once per GROUP, pairs expand
        // afterwards. The cap stays defined on FULL-corpus document
        // frequency (the oracle's semantics) — only the join work
        // collapses. This bounds the duplication regime, which is what
        // made the round-4 top-up inversion possible (quadratic pairs ×
        // near-full hot arrays).
        val arrs = fullArrays(sh)
        val reps = collapseGroups(arrs)
        val repSh = sh.join(reps.select(col("rid").as("id")), "id")
        val rare = repSh.join(broadcast(hotKeys), Seq("s"), "left_anti").persist()
        // i = i_rare (free from the candidate join's groupBy count)
        //   + i_hot (merge of per-rep HOT-shingle arrays — the hot set is
        //     tiny in the boilerplate regime, so this is O(|hot|) per pair,
        //     ~7× less than a full-array merge there; in the shared regime
        //     hot arrays approach full docs but the collapse has already
        //     bounded the PAIR count, so both regimes stay cheap)
        val iRare = rare.as("x").join(rare.as("y"), "s")
          .where(col("x.id") < col("y.id"))
          .groupBy(col("x.id").as("id_a"), col("y.id").as("id_b"))
          .agg(count(lit(1)).as("__ir"))
          .persist()
        val hotArr = repSh.join(broadcast(hotKeys), Seq("s"), "left_semi")
          .groupBy(col("id")).agg(sort_array(collect_list(col("s"))).as("hs"))
          .persist()
        val interRep = iRare
          .join(hotArr.select(col("id").as("id_a"), col("hs").as("ha")), Seq("id_a"), "left")
          .join(hotArr.select(col("id").as("id_b"), col("hs").as("hb")), Seq("id_b"), "left")
          .select(col("id_a"), col("id_b"),
            (col("__ir") + when(col("ha").isNotNull && col("hb").isNotNull,
              sortedInter(col("ha"), col("hb"))).otherwise(lit(0L))).as("i"))
        val repPairs = interToJaccard(interRep, cnt, threshold)
        // within-group (identical-doc) pairs are candidates iff the group
        // holds ≥1 rare shingle; an all-hot group's exact duplicates never
        // enter the rare join and stay dropped, matching the oracle
        val withinEligible = rare.select(col("id").as("rid")).distinct()
        return finishReleasing(
          expandRepPairs(repPairs, reps, withinEligible, threshold),
          sh, hotKeys, rare, iRare, hotArr, arrs, reps)
    }
    finishReleasing(interToJaccard(inter, cnt, threshold), sh)
  }

  /** Group docs by identical shingle SETS (hash of the sorted array):
    * (group hash, rid = min id, members sorted). Hash collisions conflate
    * distinct sets with probability ~|docs|²/2^65 — the same accepted odds
    * as the shingle-hash join keys. */
  private def collapseGroups(arrs: DataFrame): DataFrame =
    arrs.select(col("id"), xxhash64(col("hs")).as("__g"))
      .groupBy(col("__g"))
      .agg(min(col("id")).as("rid"), sort_array(collect_list(col("id"))).as("members"))
      .persist()

  /** Expand representative pairs back to doc pairs: within-group pairs are
    * exact duplicates (jaccard 1.0, emitted for `withinReps` groups when
    * τ ≤ 1); cross-group pairs inherit the representative jaccard verbatim.
    * Callers materialize the result through [[finishReleasing]] (which also
    * guards the downstream-global-sort double-execution this relation used
    * to persist against). */
  private def expandRepPairs(repPairs: DataFrame, reps: DataFrame,
      withinReps: DataFrame, threshold: Double): DataFrame = {
    val within =
      if (threshold > 1.0) repPairs.limit(0).select(col("id_a"), col("id_b"), col("jaccard"))
      else reps.join(withinReps, "rid").where(size(col("members")) > 1)
        .select(explode(withinPairsUdf(col("members"))).as("p"))
        .select(col("p._1").as("id_a"), col("p._2").as("id_b"), lit(1.0).as("jaccard"))
    val cross = repPairs
      .join(reps.select(col("rid").as("id_a"), col("members").as("__ma")), "id_a")
      .join(reps.select(col("rid").as("id_b"), col("members").as("__mb")), "id_b")
      .select(explode(crossPairsUdf(col("__ma"), col("__mb"))).as("p"), col("jaccard"))
      .select(col("p._1").as("id_a"), col("p._2").as("id_b"), col("jaccard"))
    within.unionByName(cross)
  }

  /** Prefix-filtered exact n-gram Jaccard pairs — the 100 TB shape of
    * [[ngramJaccardPairs]], with EXACT recall at the threshold (unlike the
    * `maxDf` cap, which trades recall on stop-shingle-only overlaps).
    *
    * Order all shingles by global document frequency ascending (ties by
    * hash); each doc contributes only its ⌈(1−τ)·|sh|⌉+1 RAREST shingles to
    * candidate generation (its "prefix"). Completeness: J(A,B) ≥ τ implies
    * |A∩B| ≥ τ·max(|A|,|B|); if the smallest common shingle (in the global
    * order) were outside A's prefix, all of A∩B would fit in A's suffix of
    * ⌈τ|A|⌉−1 < τ|A| elements — contradiction. So every qualifying pair
    * collides on a prefix shingle (Chaudhuri/Bayardo prefix filtering).
    *
    * Scale shape: candidate generation joins only on LOW-df shingles — the
    * hot buckets that make the plain inverted-index join corpus-quadratic
    * (shared vocabulary, boilerplate headers/footers) never enter the
    * self-join, with no recall cap to tune. Survivors are verified with one
    * merge-intersect over full sorted shingle-hash arrays; a length filter
    * (|B| ≥ τ|A|, necessary for J ≥ τ) prunes before the merge. */
  def ngramJaccardPairsPrefix(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", n: Int = 3, threshold: Double = 0.5): DataFrame =
    ngramJaccardPairsPrefixFromSh(
      shingleRel(df, textCol, idCol, n).persist(), threshold)

  /** [[ngramJaccardPairsPrefix]] body over a prebuilt (id, s) relation.
    * `sh` must arrive persisted; released via [[finishReleasing]]. */
  private def ngramJaccardPairsPrefixFromSh(sh: DataFrame,
      threshold: Double): DataFrame = {
    require(threshold > 0.0, "threshold must be positive (zero-overlap pairs are not materialized)")
    // materialize the cache BEFORE the fan-out: four consumers (df groupBy,
    // the ordered join, both verification arrays) otherwise launch parallel
    // stages that each re-run the shingle UDF scan while the blocks are
    // still being populated — measured ~2× the whole pipeline at sf0.1
    // (a no-op count when the caller already materialized the cache)
    sh.count()
    val arrs = fullArrays(sh)
    // ROW-LOCAL prefix selection (shared by both regimes below): the
    // earlier form ran two global windows (row_number + count, both
    // partitioned by doc) over the entire (id, shingle, df) relation — a
    // corpus×shingles sort-shuffle per call. The df annotation still needs
    // the one join on s, but the ordering, the per-doc count, and the
    // prefix cut are all computable inside a single per-doc array:
    // groupBy(id)+collect_list replaces the global sort with a hash
    // aggregation, sort_array orders each doc's (df, s) structs locally
    // (same (df asc, s asc) total order as the old window), and slice
    // emits ONLY the ⌈(1−τ)n⌉+1 rarest shingles — the non-prefix majority
    // never flows through the explode or a filter. (Any global total order
    // preserves the prefix-filter recall theorem; df ascending is the
    // discriminativeness heuristic that keeps hot shingles out.)
    def prefixOf(rel: DataFrame): DataFrame = {
      val dfs = rel.groupBy(col("s")).agg(count(lit(1)).as("__df"))
      rel.join(dfs, "s")
        .groupBy(col("id"))
        .agg(sort_array(collect_list(struct(col("__df"), col("s")))).as("__o"))
        .select(col("id"),
          explode(slice(col("__o"), lit(1),
            (ceil((lit(1.0) - threshold) * size(col("__o"))) + 1).cast("int"))).as("__p"))
        .select(col("id"), col("__p.s").as("s"))
    }
    // CHEAP DUPLICATE PROBE gating the collapse machinery (the
    // embeddingNearDupLsh protocol): one map-side-combinable aggregation
    // over the per-doc array hashes decides the regime. Duplicate-free
    // corpora — the production common case, and the density-preserving
    // disjoint scale shape — skip the rep groupBy, the rep-id join, and
    // the member-expansion joins, which are identity work there.
    val nAll = arrs.agg(count(lit(1)).as("n"),
      countDistinct(xxhash64(col("hs"))).as("nd")).head()
    if (nAll.getLong(1) == nAll.getLong(0)) {
      // EARLY RELEASE of the shingle cache: the staged ×10/×30 profile
      // showed the fused pipeline's super-linear step is storage pressure,
      // not algorithm (every stage's row count is exactly linear; the
      // stage-by-stage sum scales at ~1.6× for 3× data while the fused run
      // paid 3-5×, and a verify re-run with cold-evicted caches cost 1.8×
      // its warm time). sh is the largest resident block (corpus × ~52
      // postings) and the heavy candidate/verify phase never reads it —
      // only prefix (a (1−τ)-fraction slice) and arrs do. Materialize the
      // prefix, drop sh, THEN run the quadratic-ish phase against the two
      // small caches. (The probe above has already materialized arrs.)
      val pre = prefixOf(sh).persist()
      pre.count()
      sh.unpersist(blocking = false)
      return finishReleasing(
        verifyPairs(bucketPairs(pre, Seq("s")), arrs, threshold),
        pre, arrs)
    }
    // EXACT-DUP PRE-COLLAPSE: docs with identical shingle SETS (group key =
    // hash of the sorted array) have identical jaccard against every third
    // doc, so the quadratic join/merge work runs once per GROUP and pairs
    // expand afterwards as a linear emission. In the duplication regime
    // (every doc replicated m×) this turns Σ C(m·df,2) candidate merges
    // into Σ C(df,2) — without it, ×10 verbatim replication measured
    // minutes per pass; with it, near the ×1 cost plus the (inherently
    // quadratic) output rows. Group-hash collisions conflate distinct
    // shingle sets with probability ~|docs|²/2^65 — the same accepted odds
    // as the shingle-hash join keys. (df recomputed over REPRESENTATIVES —
    // the dedup'd df is the better discriminativeness signal.)
    val reps = collapseGroups(arrs)
    val repSh = sh.join(reps.select(col("rid").as("id")), "id")
    val repPairs = verifyPairs(bucketPairs(prefixOf(repSh), Seq("s")), arrs, threshold)
    // every group is within-eligible under prefix-exact semantics: identical
    // docs share their whole (nonempty) prefix, so they are always candidates
    finishReleasing(
      expandRepPairs(repPairs, reps, reps.select(col("rid")), threshold),
      sh, arrs, reps)
  }

  /** Corpus stats behind [[ngramStrategy]]'s dispatch, from one probe pass
    * over the shingle-df distribution (same tokenizer + hash as the
    * strategies themselves): `joinWork` = Σ_s C(df_s, 2) is EXACTLY the
    * candidate-pair row count the uncapped inverted-index self-join would
    * materialize; `hotJoinWork`/`hotPostings` split it at df > cap. */
  private[graft] final case class NgramProbeStats(nDocs: Long, postings: Long,
      joinWork: Long, hotJoinWork: Long, hotPostings: Long, maxDf: Long)

  private[graft] def ngramProbe(df: DataFrame, textCol: String, idCol: String,
      n: Int, cap: Int): NgramProbeStats =
    ngramProbeFromSh(shingleRel(df, textCol, idCol, n), df.count(), cap)

  private[graft] def ngramProbeFromSh(sh: DataFrame, nDocs: Long,
      cap: Int): NgramProbeStats =
    probeStatsFromDfRel(
      sh.select(col("s")).groupBy(col("s")).agg(count(lit(1)).as("df")),
      nDocs, cap)

  /** Probe stats from a prebuilt per-key document-frequency relation (any
    * key column + a `df` count column). Extracted so the auto dispatchers
    * can run ONE postings-wide df aggregation, persist it, and feed both
    * the probe and the dispatched strategy's hot-key filter — the second
    * full groupBy was measured at +36% wall / +2.2× shuffle on the ×30
    * boilerplate winnow cell (bench/scale_r11b_boilerplate.json). */
  private[graft] def probeStatsFromDfRel(dfRel: DataFrame, nDocs: Long,
      cap: Int): NgramProbeStats = {
    // df·(df−1) in DECIMAL(38,0), NOT long: at the 100 TB regime a
    // corpus-hot boilerplate shingle's df can exceed ~4.3e9, where the
    // long product silently wraps (and a double /2 loses precision past
    // 2^53) — a wrapped joinWork mis-dispatches the strategy. The product
    // is always even, so the driver-side /2 below is exact; sums saturate
    // to Long.MaxValue (the dispatch thresholds only need order-of-
    // magnitude fidelity, and a saturated value can only push AWAY from
    // the uncapped foot-gun).
    val zero = lit(0).cast("decimal(38,0)")
    val prodOf = (col("df").cast("decimal(38,0)") * (col("df") - 1))
      .cast("decimal(38,0)")
    val r = dfRel
      .agg(coalesce(sum(col("df")), lit(0L)).as("p"),
        coalesce(sum(prodOf), zero).as("w2"),
        coalesce(sum(when(col("df") > cap, prodOf).otherwise(zero)), zero).as("hw2"),
        coalesce(sum(when(col("df") > cap, col("df")).otherwise(lit(0L))), lit(0L)).as("hp"),
        coalesce(max(col("df")), lit(0L)).as("m"))
      .head()
    def halfToLong(d: java.math.BigDecimal): Long = {
      val h = d.divide(java.math.BigDecimal.valueOf(2))
      if (h.compareTo(java.math.BigDecimal.valueOf(Long.MaxValue)) >= 0) Long.MaxValue
      else h.longValueExact()
    }
    NgramProbeStats(nDocs, r.getLong(0), halfToLong(r.getDecimal(1)),
      halfToLong(r.getDecimal(2)), r.getLong(3), r.getLong(4))
  }

  /** Pick the n-gram dedup strategy from corpus stats — the
    * `approximate_threshold` idea (exact↔ANN auto-dispatch,
    * reference `query/NeuralSparseQueryBuilder` two-phase/SEISMIC gating)
    * applied to dedup, so the uncapped form's corpus-quadratic regimes are
    * never reached by default at scale:
    *
    *   - `"uncapped"` when the probe-counted candidate volume (Σ C(df,2))
    *     stays within `budgetPerDoc` rows per document — the plain join is
    *     then the cheapest exact form (density-preserving corpora of any
    *     row count land here: per-doc work is scale-invariant).
    *   - `"capped"` when candidates blow the budget AND ≥ `hotShare` of
    *     them come from df > `cap` shingles that carry ≤ `hotPostingsShare`
    *     of all postings — the boilerplate regime (a few corpus-hot
    *     header/footer shingles generating almost all candidate volume).
    *     The cap drops exactly those non-discriminative buckets from
    *     candidate generation; the only recall cost is pairs whose ENTIRE
    *     overlap is corpus-hot shingles — in this regime, boilerplate-only
    *     false near-dups.
    *   - `"prefix"` otherwise — candidate volume is blown but spread across
    *     the df distribution (shared-vocabulary / verbatim-duplication
    *     regimes), where no cap both helps and keeps recall; prefix
    *     filtering keeps EXACT recall while only each doc's rarest
    *     shingles enter the join.
    *
    * The probe is one aggregation over the shingle-df distribution (a scan
    * + one shuffle of 8-byte keys) — cheaper than the first stage of any
    * strategy, and row-count-bounded at any corpus size. */
  def ngramStrategy(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", n: Int = 3, cap: Int = 100,
      budgetPerDoc: Long = 512L, hotShare: Double = 0.5,
      hotPostingsShare: Double = 0.2): String =
    dispatchOf(ngramProbe(df, textCol, idCol, n, cap), budgetPerDoc,
      hotShare, hotPostingsShare)

  /** The [[ngramStrategy]] decision rule over probe stats (shared with
    * [[ngramJaccardAuto]], which probes its own materialized relation). */
  private def dispatchOf(p: NgramProbeStats, budgetPerDoc: Long,
      hotShare: Double, hotPostingsShare: Double): String =
    // the budget product in double: budgetPerDoc·nDocs can exceed Long at
    // planetary corpus sizes, and the comparison only needs magnitude
    if (p.joinWork.toDouble <= budgetPerDoc.toDouble * p.nDocs) "uncapped"
    else if (p.hotJoinWork >= hotShare * p.joinWork &&
      p.hotPostings <= hotPostingsShare * p.postings) "capped"
    else "prefix"

  /** Auto-dispatched exact n-gram Jaccard pairs: probe the corpus, then run
    * [[ngramJaccardPairs]] (uncapped or df-capped) or
    * [[ngramJaccardPairsPrefix]] per [[ngramStrategy]]'s regime call.
    * Output contract matches the underlying strategies — (id_a, id_b,
    * jaccard ≥ threshold) with jaccard always computed over FULL shingle
    * sets; recall is exact unless the probe lands in the boilerplate
    * regime (see [[ngramStrategy]]).
    *
    * EAGER: the probe executes three Spark jobs (doc count + shingle
    * materialization + df aggregation) at call time before returning the
    * lazily-planned pair relation.
    *
    * The shingle relation is materialized ONCE and shared: the probe's df
    * aggregation and the dispatched strategy read the same persisted
    * (id, s) postings (the strategy releases it). The earlier form paid a
    * full second tokenizer+explode scan for the probe — measured ~50% on
    * top of the dispatched strategy at ×30 boilerplate, at exactly the
    * scale the dispatcher targets. */
  def ngramJaccardAuto(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", n: Int = 3, threshold: Double = 0.5,
      cap: Int = 100, budgetPerDoc: Long = 512L, hotShare: Double = 0.5,
      hotPostingsShare: Double = 0.2): DataFrame =
    ngramJaccardAutoWithStrategy(df, textCol, idCol, n, threshold, cap,
      budgetPerDoc, hotShare, hotPostingsShare)._2

  /** [[ngramJaccardAuto]] plus the strategy the probe chose — for callers
    * that need to act on the dispatch (e.g. the correctness gate asserts
    * the fixture stayed out of the recall-trading capped regime) without
    * paying a second probe pass. */
  def ngramJaccardAutoWithStrategy(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", n: Int = 3, threshold: Double = 0.5,
      cap: Int = 100, budgetPerDoc: Long = 512L, hotShare: Double = 0.5,
      hotPostingsShare: Double = 0.2): (String, DataFrame) = {
    val sh = shingleRel(df, textCol, idCol, n).persist()
    // ONE df aggregation feeds probe AND (if dispatched capped) the hot-key
    // filter — the probe's groupBy is exactly the capped branch's, so
    // repeating it doubled the postings shuffle at the dispatcher's target
    // scale. The persisted relation is one (key, count) row per DISTINCT
    // shingle (map-side combined, disk-backed), strictly smaller than the
    // second shuffle it replaces; released before the strategy runs.
    val dfRel = sh.select(col("s")).groupBy(col("s"))
      .agg(count(lit(1)).as("df")).persist()
    val p = probeStatsFromDfRel(dfRel, df.count(), cap)
    dispatchOf(p, budgetPerDoc, hotShare, hotPostingsShare) match {
      case "uncapped" =>
        dfRel.unpersist(blocking = false)
        ("uncapped", ngramJaccardPairsFromSh(sh, threshold, None))
      case "capped" =>
        val hot = dfRel.where(col("df") > cap).select(col("s")).persist()
        hot.count() // materialize off the cached df relation, then drop it
        dfRel.unpersist(blocking = false)
        ("capped", ngramJaccardPairsFromSh(sh, threshold, Some(cap), Some(hot)))
      case _ =>
        dfRel.unpersist(blocking = false)
        ("prefix", ngramJaccardPairsPrefixFromSh(sh, threshold))
    }
  }

  /** All C(m,2) ordered pairs within one sorted member array. Equal ids
    * are skipped — an at-least-once redelivery can leave the same member
    * twice in one list, and a pair is strictly id_a < id_b (a self-loop
    * would store a bogus single-member "multi-member cluster"). */
  private[dedup] val withinPairsUdf = udf((ms: Seq[Long]) => {
    val out = Seq.newBuilder[(Long, Long)]
    var i = 0
    while (i < ms.length) {
      var j = i + 1
      while (j < ms.length) {
        if (ms(i) != ms(j)) out += ((ms(i), ms(j)))
        j += 1
      }
      i += 1
    }
    out.result()
  })

  /** All ordered cross pairs between two member arrays. Equal ids are
    * skipped — the arrays are disjoint in the batch collapse, but the
    * index delta path crosses OLD members with NEW members, and an
    * at-least-once redelivery (same id arriving again — same vector, or
    * a changed vector placing it under a second gid) puts one id on both
    * sides; emitting (x, x) would break the strict id_a < id_b contract
    * downstream reads rely on (review r15). */
  private[dedup] val crossPairsUdf = udf((ma: Seq[Long], mb: Seq[Long]) => {
    val out = Seq.newBuilder[(Long, Long)]
    var i = 0
    while (i < ma.length) {
      var j = 0
      while (j < mb.length) {
        val a = ma(i); val b = mb(j)
        if (a != b) out += (if (a < b) (a, b) else (b, a))
        j += 1
      }
      i += 1
    }
    out.result()
  })

  /** Per-doc FULL sorted shingle-hash arrays — the verification side of the
    * capped/prefix candidate generators. Array size IS the doc's distinct
    * shingle count, so verification needs no separate count relation.
    * Persisted: verifyPairs joins it on BOTH pair sides, and the two join
    * stages otherwise RACE to compute it before the cache is warm (same
    * for the sh scan underneath) — measured 2× the whole pipeline. */
  private def fullArrays(sh: DataFrame): DataFrame =
    sh.groupBy(col("id")).agg(sort_array(collect_list(col("s"))).as("hs")).persist()

  /** Merge-intersect over two sorted hash arrays: O(|a|+|b|), no
    * intermediate rows (the row-explode verification form materializes
    * Σ_pairs |sh| rows, which OOMs when the candidate-pair count is itself
    * quadratic — measured at ×10 shared-vocabulary replication). Native
    * codegen'd expression, NOT a Scala UDF: the UDF form deserialized both
    * catalyst arrays to Seq[Long] per candidate pair, and at ×10 disjoint
    * replication (4.2M candidates × two ~52-element arrays) that
    * conversion alone measured 17 s of the 23 s prefix pipeline — the
    * whole disjoint scaling slope lived here, not in the joins. */
  private[dedup] def sortedInter(a: Column, b: Column): Column =
    VectorExpressions.sorted_intersect_count(a, b)

  /** Exact-verify candidate pairs against full shingle arrays: length
    * filter first (J ≥ τ forces τ|A| ≤ |B| ≤ |A|/τ — necessary, cheap),
    * then one merge-intersect per surviving pair; threshold on the RAW
    * ratio, round(…, 4) emitted — identical math to [[interToJaccard]]. */
  private def verifyPairs(pairs: DataFrame, arrs: DataFrame,
      threshold: Double): DataFrame =
    pairs
      .join(arrs.select(col("id").as("id_a"), col("hs").as("ha")), "id_a")
      .join(arrs.select(col("id").as("id_b"), col("hs").as("hb")), "id_b")
      .withColumn("__na", size(col("ha")).cast("long"))
      .withColumn("__nb", size(col("hb")).cast("long"))
      .where(col("__nb") >= col("__na") * threshold &&
        col("__na") >= col("__nb") * threshold)
      .withColumn("__i", sortedInter(col("ha"), col("hb")))
      .withColumn("__raw", col("__i").cast("double") / (col("__na") + col("__nb") - col("__i")))
      .where(col("__raw") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("__raw"), 4).as("jaccard"))

  /** (id_a, id_b, i) intersection counts + per-doc shingle counts →
    * thresholded jaccard relation (threshold on the RAW ratio — matches
    * the oracle). */
  private def interToJaccard(inter: DataFrame, cnt: DataFrame,
      threshold: Double): DataFrame =
    inter
      .join(cnt.select(col("id").as("id_a"), col("n_sh").as("na")), "id_a")
      .join(cnt.select(col("id").as("id_b"), col("n_sh").as("nb")), "id_b")
      .withColumn("__raw", col("i").cast("double") / (col("na") + col("nb") - col("i")))
      .where(col("__raw") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("__raw"), 4).as("jaccard"))

  // ----------------------------------------------------- embedding near-dup

  /** The round-6 cosine every embedding pair kernel shares with its
    * oracle: a zero-norm side scores 0.0, otherwise dot / (na·nb), rounded
    * to 6 dp before any threshold or ordering. */
  private[graft] def cosineCol(dot: Column, na: Column, nb: Column): Column =
    round(when(na === 0.0 || nb === 0.0, lit(0.0)).otherwise(dot / (na * nb)), 6)

  /** Embedding cosine near-dup pairs (cosine ≥ threshold). Brute-force
    * variant — O(n²), exact; only for candidate sets / verification (the
    * scale path is the LSH variant below). One side is broadcast and the
    * pair loop runs in mapPartitions over row ranges: the same
    * distribution posture as the BroadcastNestedLoopJoin Catalyst picks
    * for the crossJoin form (which also materializes one side driver-side
    * to build its broadcast relation), but without per-pair join-row
    * materialization — the join OUTPUT rows, not the flops, were the
    * cost. Norms are hoisted; per pair only the dot product runs. */
  def embeddingNearDupBrute(df: DataFrame, vecCol: String = "embedding",
      idCol: String = "vec_id", threshold: Double = 0.95,
      maxRows: Int = DefaultBruteMaxRows): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // Row-count ceiling (mirrors resolveClusters' driverCutoff): the kernel
    // broadcasts every vector, so an unbounded corpus would kill the driver
    // at the collect below before the O(n²) even starts. One bounded take()
    // both enforces the gate and fetches the rows; past the ceiling the
    // caller must use the LSH path (embeddingNearDupLsh), which never
    // collects.
    val fetched = df.select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Seq[Float])].take(maxRows + 1)
    require(fetched.length <= maxRows,
      s"embeddingNearDupBrute is the verification kernel for ≤ $maxRows rows; " +
        "use embeddingNearDupLsh (bucketed, no driver collect) at corpus scale")
    val all = fetched
      .sortBy(_._1)
      .map { case (i, v) =>
        val a = v.toArray
        var s = 0.0; var k = 0
        while (k < a.length) { s += a(k).toDouble * a(k); k += 1 }
        (i, a, math.sqrt(s))
      }
    val bc = spark.sparkContext.broadcast(all)
    val n = all.length
    // Spark's round() semantics: BigDecimal HALF_UP at 6 dp (matches the
    // DuckDB oracle's round as the SQL-expression form did)
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    spark.sparkContext
      .parallelize(0 until n,
        math.max(1, math.min(n, spark.sparkContext.defaultParallelism * 4)))
      .flatMap { i =>
        val arr = bc.value
        val (ia, va, na) = arr(i)
        Iterator.range(i + 1, arr.length).flatMap { j =>
          val (ib, vb, nb) = arr(j)
          val cos =
            if (na == 0.0 || nb == 0.0) 0.0
            else {
              var dot = 0.0; var k = 0
              val len = math.min(va.length, vb.length)
              while (k < len) { dot += va(k).toDouble * vb(k); k += 1 }
              dot / (na * nb)
            }
          val r = round6(cos)
          if (r >= threshold) Some((ia, ib, r)) else None
        }
      }
      .toDF("id_a", "id_b", "cosine")
  }

  /** Scale path: random-hyperplane LSH buckets, exact cosine within bucket.
    * nbits hyperplanes → 2^nbits buckets; pairs with cosine ≥ τ collide with
    * probability (1 − θ/π)^nbits per table; multiple tables raise recall. */
  /** Seeded random hyperplanes, shared with the oracle generator (which
    * inlines them as SQL literals so both engines bucket identically). */
  /** Column form of the per-table LSH signatures for the streaming
    * decontamination gate — same planes/UDF as the batch paths, so stream
    * and batch bucket identically (the AvailableNow ≡ batch claim). */
  private[graft] def lshBucketCol(vec: Column,
      planes: Array[Array[Array[Float]]]): Column =
    lshBucketUdf(planes)(vec)

  private[graft] def lshPlanes(tables: Int, nbits: Int, dim: Int,
      seed: Long): Array[Array[Array[Float]]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(tables, nbits, dim)(rnd.nextGaussian().toFloat)
  }

  /** [[lshPlanes]], PREFIX-STABLE in nbits: each table draws from its own
    * seeded stream, so table t's first b planes are identical for every
    * nbits ≥ b. This is what lets a resolution-scaled index
    * ([[graft.dedup.EmbeddingIndex]] auto nbits — the semanticNlist
    * pattern) share ONE inlined plane set with its oracle: the SQL inlines
    * maxNbits planes per table and keeps only the probe-picked prefix of
    * bits, exactly like the semantic gate's centroid prefix. (The default
    * single-stream family above re-deals every table's planes whenever
    * nbits changes, so a SQL literal set could never cover two
    * resolutions; it stays as-is because every fixed-nbits gate's recall
    * on the committed fixtures is tuned to it.) */
  private[graft] def lshPlanesStable(tables: Int, nbits: Int, dim: Int,
      seed: Long): Array[Array[Array[Float]]] =
    Array.tabulate(tables) { t =>
      val rnd = new scala.util.Random(seed + 0x9E3779B97F4A7C15L * (t + 1))
      Array.fill(nbits, dim)(rnd.nextGaussian().toFloat)
    }

  /** Per-table random-hyperplane signature longs for one vector (one long
    * per table; bit b = sign of v·plane(t)(b)). Shared by the dedup and
    * decontamination LSH paths so both bucket identically. NULL and
    * mis-dimensioned vectors return null (→ posexplode emits no bucket
    * rows, so they participate in no candidate pair): a null vector
    * cannot be anyone's near-duplicate, and a truncated-prefix signature
    * for a wrong-dimension vector would silently bucket garbage — the
    * same exclusion [[semanticDedup]] applies via its null split
    * (review r15; the pre-fix UDF NPE'd on null). */
  private def lshBucketUdf(planes: Array[Array[Array[Float]]]) = {
    val tables = planes.length
    val nbits = planes(0).length
    val dim = planes(0)(0).length
    udf((v: Seq[Float]) => {
      if (v == null || v.length != dim) null
      else {
        val arr = v.toArray
        (0 until tables).map { t =>
          var sig = 0L
          var b = 0
          while (b < nbits) {
            var dot = 0.0
            var i = 0
            val pl = planes(t)(b)
            while (i < dim) { dot += arr(i).toDouble * pl(i); i += 1 }
            if (dot >= 0) sig |= (1L << b)
            b += 1
          }
          sig
        }
      }
    })
  }

  // ------------------------------------------ byte-quantized prefilter
  // Reference semantics: sparse/quantization/ByteQuantizer.java:25-34 —
  // linear scale-to-byte against a ceiling, then an exact rescore. The
  // ceiling here is PER-VECTOR max-|component|, because dense embeddings
  // are signed where the reference's sparse weights sit in [0, ceil=3.0].
  // The prefilter joins a 64-BYTE quantized copy + 2 floats instead of the
  // 64-FLOAT vector into candidate-pair verification, keeps every pair
  // whose quantized-cosine UPPER BOUND clears the threshold, and rescores
  // the survivors exactly against the float vectors. It is lossless (the
  // margin is a Cauchy-Schwarz bound on the dequantization error,
  // spec-pinned in Round17Spec), so outputs are bit-identical with it on
  // or off. [[verifyCosine]] is the one place that runs it.
  //
  // ONE AUTO RULE ([[quantOn]]): Some(true)/Some(false) force the
  // prefilter; None engages it once the candidate volume — the row count
  // of the verification join — reaches `quantAutoPairs`
  // ([[QuantAutoMinPairs]] by default). At gate scale (sf0.1, ~17k
  // candidate pairs) the cost is Spark job/stage count, and the two extra
  // joins cost more than the narrow payload saves (SCALE.md: gate 4.27 s
  // off / 4.37 s on); at volume (50k base + 5k delta, ~8M candidates) the
  // prefilter measured 0.36×. The volume comes from one of two places:
  //  - the batch forms: Σ C(pop, 2) over the pair-emitting bucket
  //    populations ([[bucketPairVolume]] — one aggregation), probed only
  //    past `quantAutoProbeIds` ids ([[QuantAutoProbeMinIds]]) so
  //    gate-scale corpora never pay the probe job;
  //  - the delta path: the exact |candGid|, read off an action it already
  //    runs (zero extra jobs — see EmbeddingIndex).

  /** Auto cutover: engage the quant prefilter at this candidate-pair
    * volume (see the section doc for the measured calibration). */
  private[graft] val QuantAutoMinPairs = 1000000L

  /** Driver-residency bound for hot-key/hot-bucket LocalRelation collects
    * (ADVICE r18 #2): under it, collected hot sets embed as LocalRelations
    * (zero-job broadcast builds); over it, the code falls back to a
    * persisted relation + the broadcast machinery's own limits. 1M longs
    * ≈ 8 MB payload — far under the driver heap, far over any regime the
    * caps are designed for. */
  private[graft] val HotCollectMaxRows = 1000000

  /** Tier-1 gate for the batch forms' volume probe: corpora under this
    * many ids skip the probe aggregation outright — at that size the probe
    * job IS the class of overhead the auto mode exists to avoid, and the
    * worst unprobed miss is bounded (a sub-16k-id corpus's verification
    * join is at most a few seconds of the flat regime even fully
    * colliding). The bench gates (~5k vectors at sf0.1) never probe. */
  private[graft] val QuantAutoProbeMinIds = 16384L

  /** (qv: 64 signed bytes, qs: per-vector ceiling = max-|component|).
    * q_i = round(v_i / qs · 127); a zero vector quantizes to zeros with
    * qs = 0 (its exact cosine is defined 0.0 — the prefilter passes it
    * through). Runs once per distinct vector, never per pair. */
  private[graft] val quantizeVecUdf = udf((v: Seq[Float]) => {
    if (v == null) null
    else {
      val a = v.toArray
      var mx = 0.0; var i = 0
      while (i < a.length) {
        val x = math.abs(a(i).toDouble); if (x > mx) mx = x; i += 1
      }
      val q = new Array[Byte](a.length)
      if (mx > 0) {
        i = 0
        while (i < a.length) {
          q(i) = math.round(a(i).toDouble / mx * 127.0).toByte; i += 1
        }
      }
      (q, mx.toFloat)
    }
  })

  /** KEEP predicate of the prefilter: quantized-cosine estimate plus its
    * provable error margin clears `threshold` (with 1e-6 slack absorbing
    * the exact path's 6-dp rounding and float noise). Derivation: with
    * per-component dequantization error ≤ qs/254 (half a quantization
    * step), ‖a−a′‖₂ ≤ √d·qs_a/254 =: ea, so by Cauchy-Schwarz
    * |a·b − a′·b′| ≤ ‖a‖·eb + ea·(‖b‖+eb) — divide by the true norms for
    * the cosine margin. Zero-norm sides pass through (exact path scores
    * them 0.0 and drops them itself when threshold > 0). */
  private[graft] def quantKeepCond(dim: Int, threshold: Double,
      qa: Column, sa: Column, na: Column,
      qb: Column, sb: Column, nb: Column): Column = {
    val est = (sa.cast("double") * sb.cast("double") / lit(127.0 * 127.0)) *
      VectorExpressions.byte_dot(qa, qb) / (na * nb)
    val rd = math.sqrt(dim.toDouble) / 254.0
    val ea = sa.cast("double") * rd
    val eb = sb.cast("double") * rd
    val margin = (na * eb + ea * (nb + eb)) / (na * nb)
    na === 0.0 || nb === 0.0 || (est + margin >= lit(threshold - 1e-6))
  }

  /** The prefilter's AUTO rule: a forced setting wins; otherwise engage at
    * `autoPairs` candidate pairs. `volume` is evaluated only when nothing
    * is forced. */
  private[dedup] def quantOn(forced: Option[Boolean], autoPairs: Long)(
      volume: => Long): Boolean =
    forced.getOrElse(volume >= autoPairs)

  /** Candidate volume of a (table, bucket) self-join: Σ C(pop, 2) over the
    * bucket populations of `bucketed` (one row per id per table), leaving
    * out buckets over `maxBucket` — they emit no pairs. One aggregation,
    * summed overflow-free by [[probeStatsFromDfRel]]. */
  private[graft] def bucketPairVolume(bucketed: DataFrame,
      maxBucket: Option[Int]): Long = {
    val p = probeStatsFromDfRel(
      bucketed.groupBy(col("table"), col("bucket")).agg(count(lit(1)).as("df")),
      0L, maxBucket.getOrElse(Int.MaxValue))
    p.joinWork - p.hotJoinWork
  }

  /** The embedding near-dup verifier: candidate pairs (id_a, id_b) against
    * one side relation (id, v, nrm, payload…). With `quant`, pairs first
    * pass the byte-quantized keep-test and only the survivors join the
    * float vectors; the exact [[cosineCol]] then decides. Returns
    * (id_a, id_b, cosine) plus `p_a`, `p_b` per payload column `p`, for
    * pairs with cosine ≥ threshold. */
  private[dedup] def verifyCosine(cand: DataFrame, side: DataFrame, dim: Int,
      threshold: Double, quant: Boolean, payload: Seq[String] = Nil): DataFrame = {
    val kept =
      if (!quant) cand
      else {
        val slim = side
          .withColumn("__q", quantizeVecUdf(col("v")))
          .select(col("id"), col("nrm"),
            col("__q._1").as("qv"), col("__q._2").as("qs"))
        def slimAs(s: String): DataFrame = slim.select(col("id").as(s"id_$s"),
          col("qv").as(s"q_$s"), col("qs").as(s"s_$s"), col("nrm").as(s"n_$s"))
        cand.join(slimAs("a"), "id_a").join(slimAs("b"), "id_b")
          .where(quantKeepCond(dim, threshold,
            col("q_a"), col("s_a"), col("n_a"),
            col("q_b"), col("s_b"), col("n_b")))
          .select(col("id_a"), col("id_b"))
      }
    def sideAs(s: String): DataFrame = side.select(Seq(col("id").as(s"id_$s"),
      col("v").as(s"v_$s"), col("nrm").as(s"n_$s")) ++
      payload.map(p => col(p).as(s"${p}_$s")): _*)
    kept.join(sideAs("a"), "id_a").join(sideAs("b"), "id_b")
      .withColumn("cosine", cosineCol(
        VectorExpressions.dense_dot(col("v_a"), col("v_b")), col("n_a"), col("n_b")))
      .where(col("cosine") >= threshold)
      .select(Seq(col("id_a"), col("id_b"), col("cosine")) ++
        payload.flatMap(p => Seq(col(s"${p}_a"), col(s"${p}_b"))): _*)
  }

  /** `maxBucket`: hyperplane buckets holding more than `maxBucket` DISTINCT
    * ids (members of identical-vector groups each count — the id-level
    * population a flat non-grouped index would see) emit NO candidate
    * pairs. This is [[minhashLsh]]'s band-bucket cap on the embedding leg:
    * at fixed nbits the per-table collision probability of unrelated
    * vectors is CONSTANT in corpus size, so bucket populations — and the
    * candidate join's output — grow linearly with the corpus; the cap
    * bounds the blowup at the cost of recall only inside corpus-hot
    * buckets (where the pairwise-cosine yield is lowest by construction).
    * `stablePlanes` picks the per-table-seeded [[lshPlanesStable]] family
    * (the resolution-scaled index's family) instead of the default. */
  def embeddingNearDupLsh(df: DataFrame, dim: Int, vecCol: String = "embedding",
      idCol: String = "vec_id", threshold: Double = 0.95,
      nbits: Int = 8, tables: Int = 4, seed: Long = 42L,
      maxBucket: Option[Int] = None, stablePlanes: Boolean = false,
      quantPrefilter: Option[Boolean] = None,
      quantAutoPairs: Long = QuantAutoMinPairs,
      quantAutoProbeIds: Long = QuantAutoProbeMinIds): DataFrame = {
    val planes =
      if (stablePlanes) lshPlanesStable(tables, nbits, dim, seed)
      else lshPlanes(tables, nbits, dim, seed)
    val bucketUdf = lshBucketUdf(planes)
    // null / mis-dimensioned vectors cannot participate in any cosine —
    // excluded up front (the semanticDedup split, applied to the LSH leg;
    // the bucket UDF also skips them, but the duplicate-collapse regime
    // groups by vector hash BEFORE bucketing and must not pair them)
    val keyed = df.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .where(col("v").isNotNull && size(col("v")) === dim)
    // CHEAP DUPLICATE PROBE gating the collapse machinery below: ONE
    // map-side-combinable aggregation over the vector hashes (partial
    // count-distinct per partition, no vector shuffle) decides the regime.
    // Duplicate-free corpora — the common case — skip the rep groupBy and
    // the two member-expansion joins, which cost ~4× at sf0.1 for zero
    // benefit; replicated corpora keep the Σ C(b,2) collapse win.
    val nAll = keyed.agg(
      count(lit(1)).as("n"), countDistinct(xxhash64(col("v"))).as("nd")).head()
    // the AUTO volume of either branch (see the prefilter section): the
    // pair count its bucket join materializes, probed past the id floor
    def quant(ids: Long, bucketed: DataFrame, cap: Option[Int]): Boolean =
      quantOn(quantPrefilter, quantAutoPairs)(
        if (ids < quantAutoProbeIds) 0L else bucketPairVolume(bucketed, cap))
    if (nAll.getLong(1) == nAll.getLong(0)) {
      // no duplicate vectors: bucket/verify directly over the corpus —
      // bucketPairs' population check IS the id-level maxBucket semantics
      val vecs = keyed
        .withColumn("nrm", sqrt(VectorExpressions.dense_dot(col("v"), col("v"))))
      val bucketed = keyed
        .select(col("id"), posexplode(bucketUdf(col("v"))).as(Seq("table", "bucket")))
      val candidates = bucketPairs(bucketed, Seq("table", "bucket"), maxBucket)
      return verifyCosine(candidates, vecs, dim, threshold,
        quant(nAll.getLong(0), bucketed, maxBucket))
    }
    // DUPLICATE-VECTOR COLLAPSE (the ngram rep-collapse, vector form):
    // identical embeddings have identical buckets AND identical cosine
    // against every third vector, so the quadratic bucket/verify work runs
    // once per GROUP and pairs expand afterwards as a linear emission. In
    // the duplication regime (every vector replicated m×) this turns
    // Σ C(m·b, 2) per-bucket comparisons into Σ C(b, 2) — measured 106 s
    // at ×10 verbatim replication without it. Group key = xxhash64 of the
    // vector; a collision conflates two distinct vectors with probability
    // ~|vecs|²/2^65 — the same accepted odds as the shingle-hash keys.
    val reps = keyed.withColumn("__g", xxhash64(col("v"))).groupBy(col("__g"))
      .agg(min(col("id")).as("rid"), sort_array(collect_list(col("id"))).as("members"),
        first(col("v")).as("v"))
      .persist()
    val repVecs = reps.select(col("rid").as("id"), col("v"),
      sqrt(VectorExpressions.dense_dot(col("v"), col("v"))).as("nrm"))
    // only (table, bucket, rid) flows through pair generation; vectors join
    // back after dedup (narrow shuffle — see SCALE.md)
    val bucketed0 = reps
      .select(col("rid").as("id"), posexplode(bucketUdf(col("v"))).as(Seq("table", "bucket")))
    // maxBucket under the collapse: population must stay the ID-LEVEL
    // distinct-member count (the oracle's semantics), so hot buckets are
    // found by SUMMING group sizes per bucket (each rid appears once per
    // bucket) and anti-joined out of group-pair generation; a group whose
    // EVERY bucket is hot also loses its within-group pairs — identical
    // vectors share all buckets, so that is exactly when the id-level form
    // would have dropped them everywhere.
    val bucketed = maxBucket match {
      case Some(cap) =>
        // COLLECT the hot set instead of persist+count (r18): bounded by
        // tables x 2^nbits buckets by construction (and already broadcast
        // below), so driver residency is unchanged while the LocalRelation
        // broadcast builds with ZERO Spark jobs in every action that
        // re-derives the bucketed lineage; empty hot skips the anti-join
        val hotRows = reps
          .select(size(col("members")).cast("long").as("__w"),
            posexplode(bucketUdf(col("v"))).as(Seq("table", "bucket")))
          .groupBy(col("table"), col("bucket"))
          .agg(sum(col("__w")).as("__pop"))
          .where(col("__pop") > cap)
          .select(col("table"), col("bucket")).collect()
        if (hotRows.isEmpty) bucketed0
        else {
          import df.sparkSession.implicits._
          val hot = broadcast(hotRows.map(r => (r.getInt(0), r.getLong(1)))
            .toSeq.toDF("table", "bucket"))
          bucketed0.join(hot, Seq("table", "bucket"), "left_anti")
        }
      case None => bucketed0
    }
    val candRep = bucketPairs(bucketed, Seq("table", "bucket"))
    // under the collapse the verification join's population is the
    // DISTINCT vectors, and the hot buckets are already anti-joined out
    val repPairs = verifyCosine(candRep, repVecs, dim, threshold,
      quant(nAll.getLong(1), bucketed, None))
    // within-group pairs: cosine computed from the SAME expression with
    // both sides the group vector (≡ what the pair path would emit —
    // round-6 float arithmetic, zero-norm groups score 0.0 and drop out)
    val within0 = reps.where(size(col("members")) > 1)
    val within1 =
      if (maxBucket.isDefined)
        within0.join(bucketed.select(col("id").as("rid")).distinct(),
          Seq("rid"), "left_semi")
      else within0
    val within = within1
      .withColumn("nrm", sqrt(VectorExpressions.dense_dot(col("v"), col("v"))))
      .withColumn("cosine", cosineCol(VectorExpressions.dense_dot(col("v"), col("v")),
        col("nrm"), col("nrm")))
      .where(col("cosine") >= threshold)
      .select(explode(withinPairsUdf(col("members"))).as("p"), col("cosine"))
      .select(col("p._1").as("id_a"), col("p._2").as("id_b"), col("cosine"))
    val cross = repPairs
      .join(reps.select(col("rid").as("id_a"), col("members").as("__ma")), "id_a")
      .join(reps.select(col("rid").as("id_b"), col("members").as("__mb")), "id_b")
      .select(explode(crossPairsUdf(col("__ma"), col("__mb"))).as("p"), col("cosine"))
      .select(col("p._1").as("id_a"), col("p._2").as("id_b"), col("cosine"))
    finishReleasing(within.unionByName(cross), reps)
  }

  // -------------------------------------------------------- semantic dedup

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embedding space, call within-cluster
    * pairs with cosine ≥ threshold SEMANTIC duplicates, resolve them into
    * connected components, and keep ONE representative per component — the
    * member LEAST similar to its cluster centroid (the paper's keeper rule:
    * prefer the least prototypical example; ties by lowest id).
    *
    * Returns one row PER INPUT VECTOR: (vec_id, sem_cluster = component
    * label (min id; singletons label themselves), keep). Filtering
    * `keep` yields the semantically-deduplicated corpus.
    *
    * Spark shape: centroid assignment is a row-local codegen'd argmax
    * ([[graft.ann.Ann.assign]], the IVF machinery reused — seeded
    * data-independent centroids keep the whole pipeline oracle-exact);
    * candidate generation joins each cluster ONLY against itself
    * (`Σ |cluster|²` instead of the corpus square — at 100 TB, nlist
    * scales with the corpus so cluster populations stay bounded, exactly
    * how the paper runs k=11k on LAION); components ride
    * [[resolveClusters]] (bounded driver union-find, relational fallback);
    * the keeper rank is a window over components — every wide exchange is
    * keyed on cluster/component dimensions, never the raw corpus.
    * Cross-cluster near-dups are out of candidate scope BY DESIGN (the
    * paper's recall trade for the non-quadratic candidate step);
    * [[embeddingNearDupLsh]] is the exact-recall-oriented alternative. */
  def semanticDedup(df: DataFrame, dim: Int, nlist: Int = 8,
      threshold: Double = 0.95, vecCol: String = "embedding",
      idCol: String = "vec_id", seed: Long = 42L): DataFrame = {
    import graft.ann.Ann
    val centroids = Ann.seededCentroids(nlist, dim, seed)
    val all = df.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
    // Null/mis-dimensioned vectors cannot participate in ANY cosine, and
    // the two assignment branches used to disagree on them (the inline
    // argmax mapped them to sentinel -1, whose ccos lookup
    // element_at(..., 0) crashes; the join argmax silently dropped them,
    // breaking the one-row-per-input contract). Split them off ONCE here,
    // branch-independently: they return as singleton keepers
    // (sem_cluster = own id, keep = true) — a row with no comparable
    // embedding is trivially not a semantic duplicate of anything.
    val valid = col("v").isNotNull && size(col("v")) === dim
    val keyed = all.where(valid)
    val degenerate = all.where(!valid)
      .select(col("id").as(idCol), col("id").as("sem_cluster"),
        lit(true).as("keep"))
    // Small nlist: the inline codegen'd argmax ([[Ann.assign]]). Large
    // nlist (the production regime — nlist scales with the corpus): the
    // broadcast-join argmax — the inline form's ONE generated method grows
    // with nlist past the JIT compile threshold and runs as interpreted
    // bytecode (measured 6× at nlist=80). Both produce identical
    // assignments (round-6, first-max/lowest-id ties).
    val assigned = (if (nlist <= 16) {
      val centArr = array(centroids.map(c => typedLit(c)): _*)
      Ann.assign(keyed, centroids, vecCol = "v", roundDp = 6)
        .withColumn("ccos", round(VectorExpressions.dense_cosine(col("v"),
          element_at(centArr, col("centroid_id") + 1)), 6))
    } else {
      Ann.assignByJoin(keyed, centroids, idCol = "id", vecCol = "v", roundDp = 6)
        .withColumnRenamed("centroid_cos", "ccos")
    }).persist()
    assigned.count() // materialize before the self-join fan-out
    val side = assigned.select(col("id"), col("v"), col("centroid_id"))
    val pairs = side.as("a").join(side.as("b"), "centroid_id")
      .where(col("a.id") < col("b.id"))
      .withColumn("cos",
        round(VectorExpressions.dense_cosine(col("a.v"), col("b.v")), 6))
      .where(col("cos") >= threshold)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    val labels = resolveClusters(pairs, assigned.select(col("id")))
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("ccos").asc, col("id").asc)
    val out = labels.join(assigned.select(col("id"), col("ccos")), "id")
      .withColumn("keep", row_number().over(w) === 1)
      .select(col("id").as(idCol), col("cluster_id").as("sem_cluster"), col("keep"))
    finishReleasing(out.unionByName(degenerate), assigned)
  }

  /** Probe-scaled SemDeDup — the configuration that survives 100×. A fixed
    * nlist makes cluster populations grow linearly with the corpus and the
    * within-cluster pair step quadratically (measured: ×30 ratio 27.5 with
    * nlist=8 vs 4.2 with nlist scaled — bench/scale_r10_semantic_contrast
    * .json); the paper's own regime scales k with the corpus (k=11k on
    * LAION). ONE count() probes the corpus and picks
    * `nlist = clamp(ceil(n / targetCluster), minNlist, maxNlist)` so the
    * EXPECTED cluster population stays ≈ targetCluster at every scale,
    * then runs [[semanticDedup]] (which dispatches to the broadcast-join
    * argmax above nlist=16, so the chosen nlist can reach the thousands
    * with no codegen cliff). The probe is the [[ngramStrategy]] pattern:
    * plan-time data statistics choose the physical configuration.
    *
    * Oracle protocol: [[graft.ann.Ann.seededCentroids]] fills row-major
    * from one seeded stream, so centroids for nlist are a PREFIX of
    * centroids for any larger nlist under the same seed — an oracle can
    * inline `maxNlist` centroid literals and select the same prefix from
    * its own count(*) (Queries15.semanticDedupScaledSql does exactly
    * this). `maxNlist` defaults effectively-unbounded; gates pass a finite
    * cap only so the oracle's literal inlining stays small. */
  def semanticDedupAuto(df: DataFrame, dim: Int, targetCluster: Int = 20,
      threshold: Double = 0.95, vecCol: String = "embedding",
      idCol: String = "vec_id", seed: Long = 42L,
      minNlist: Int = 8, maxNlist: Int = 1 << 20): DataFrame = {
    val nlist = semanticNlist(df.count(), targetCluster, minNlist, maxNlist)
    semanticDedup(df, dim, nlist, threshold, vecCol, idCol, seed)
  }

  /** The nlist formula shared by [[semanticDedupAuto]] and its oracle:
    * clamp(ceil(n / targetCluster), minNlist, maxNlist). */
  def semanticNlist(n: Long, targetCluster: Int, minNlist: Int,
      maxNlist: Int): Int = {
    require(targetCluster > 0 && minNlist > 0 && maxNlist >= minNlist,
      s"bad nlist bounds: target=$targetCluster min=$minNlist max=$maxNlist")
    math.min(maxNlist.toLong,
      math.max(minNlist.toLong, math.ceil(n.toDouble / targetCluster).toLong)).toInt
  }

  // ------------------------------------------------------- cluster resolve

  /** Resolve near-dup PAIRS into clusters (connected components), fully
    * relational (no driver-side graph). Each round does
    *   (1) min-label propagation: l(v) ← min(l(v), min over neighbors l(u))
    *   (2) pointer jumping:       l(v) ← min(l(v), l(l(v)))
    * The shortcut step roughly doubles how far the component minimum has
    * traveled per round, so convergence takes O(log(diameter)) rounds even
    * on long duplicate chains (propagation alone needs O(diameter) — the
    * round-1 bug this replaces). Convergence is detected by the Σ cluster_id
    * checksum: labels are monotonically non-increasing per id (`least`), so
    * the sum strictly decreases iff any label changed (decimal(38,0) — no
    * long overflow at any corpus size). Throws if maxIterations rounds do
    * not converge rather than silently returning split clusters.
    *
    * Returns (id, cluster_id = min id of the component); singletons map to
    * themselves. Keep rows where id == cluster_id for one representative
    * per duplicate group. */
  def resolveClusters(pairs: DataFrame, allIds: DataFrame,
      maxIterations: Int = 20,
      driverCutoff: Long = 1000000L): DataFrame = {
    // the pair set is expensive to produce (LSH/ngram joins) — persist it
    // BEFORE deriving the directed edge set, otherwise the two union
    // branches below each re-run the whole candidate-generation lineage
    // (measured: 2× the ngram join per resolve)
    val base = pairs.select(col("id_a"), col("id_b")).persist()
    // Adaptive: the VERIFIED pair set is the small residue of dedup (the
    // corpus-scale work — shingling, banding, verification — already ran
    // distributed). Below the cutoff (~16 MB of longs) a driver union-find
    // beats a multi-round shuffle fixpoint by an order of magnitude; the
    // relational path below remains for the billion-pair regime. A single
    // bounded take() both tests the cutoff and fetches the pairs (no
    // separate count pass); union-find is undirected so the raw pair set
    // suffices — no need to materialize the swapped union for this path.
    val bound = (driverCutoff + 1).min(Int.MaxValue.toLong).toInt
    val sample = {
      import base.sparkSession.implicits._
      base.as[(Long, Long)].take(bound)
    }
    if (sample.isEmpty) { // no pairs at all: everyone is a singleton
      base.unpersist()
      return allIds.select(col("id"), col("id").as("cluster_id"))
    }
    if (sample.length < bound) {
      val out = resolveClustersDriver(sample, allIds, base.sparkSession)
      base.unpersist()
      return out
    }
    val edges = base.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(base.select(col("id_b").as("src"), col("id_a").as("dst")))
      .persist()
    def checksum(df: DataFrame): java.math.BigDecimal =
      df.agg(coalesce(sum(col("cluster_id").cast("decimal(38,0)")),
        lit(0).cast("decimal(38,0)"))).head().getDecimal(0)
    // The fixpoint runs ONLY over nodes that appear in some pair — on a
    // dedup workload that is orders of magnitude smaller than the corpus
    // (pairs ≪ docs); untouched ids are singletons by definition and are
    // unioned back at the end without ever entering the loop.
    val nodes = edges.select(col("src").as("id")).distinct().localCheckpoint()
    // localCheckpoint (not persist): truncates the logical plan each round —
    // an iterative join loop otherwise accumulates a lineage whose
    // optimization cost grows faster than the data cost. On a real cluster
    // prefer reliable checkpointing (sc.setCheckpointDir + .checkpoint) so
    // executor loss does not kill the fixpoint.
    var labels = nodes.select(col("id"), col("id").as("cluster_id")).localCheckpoint()
    var prevSum = checksum(labels)
    var converged = false
    var i = 0
    while (!converged && i < maxIterations) {
      val neighborMin = edges
        .join(labels.withColumnRenamed("id", "dst").withColumnRenamed("cluster_id", "n_label"), "dst")
        .groupBy(col("src").as("id"))
        .agg(min(col("n_label")).as("neighbor_label"))
      val propagated = labels
        .join(neighborMin, Seq("id"), "left")
        .select(col("id"),
          least(col("cluster_id"), coalesce(col("neighbor_label"), col("cluster_id"))).as("cluster_id"))
      // pointer jumping: follow the label one more hop (l(l(v))) — labels
      // form a pointer forest since l(v) ≤ v always holds
      val parents = propagated
        .select(col("id").as("cluster_id"), col("cluster_id").as("__jump"))
      val updated = propagated
        .join(parents, Seq("cluster_id"), "left")
        .select(col("id"),
          least(col("cluster_id"), coalesce(col("__jump"), col("cluster_id"))).as("cluster_id"))
        .localCheckpoint()
      val curSum = checksum(updated)
      labels = updated
      converged = curSum.compareTo(prevSum) == 0
      prevSum = curSum
      i += 1
    }
    if (!converged) {
      edges.unpersist(); base.unpersist()
      throw new IllegalStateException(
        s"resolveClusters did not converge in $maxIterations rounds — component diameter exceeds 2^$maxIterations?")
    }
    val singletons = allIds.select(col("id"))
      .join(nodes, Seq("id"), "left_anti")
      .select(col("id"), col("id").as("cluster_id"))
    val out = labels.union(singletons)
    edges.unpersist(); base.unpersist()
    out
  }

  /** Fold freshly-discovered pairs into an existing cluster assignment
    * WITHOUT replaying historical pair generation: the previous assignment
    * collapses to one star edge per non-root member (id → cluster_id) and
    * re-resolves together with the new pairs —
    * CC(star(CC(E₁)) ∪ E₂) = CC(E₁ ∪ E₂), union-find path compression as
    * a relation. This closes the incremental ingest loop
    * ([[MinhashIndex.deltaPairs]] / [[WinnowIndex.deltaPairs]] →
    * this → updated keep-set): per-batch cluster maintenance is bounded by
    * |previous assignment| + |new pairs|, never by the historical pair
    * stream, and new pairs may merge any number of existing clusters (the
    * smaller min propagates through the stars). `prevAssign` is a
    * [[resolveClusters]]-shaped (id, cluster_id) relation — singleton rows
    * are allowed and carry no edge; `allIds` is the updated id universe
    * (base + arrived docs) for singleton backfill. */
  def resolveClustersIncremental(prevAssign: DataFrame, newPairs: DataFrame,
      allIds: DataFrame, maxIterations: Int = 20,
      driverCutoff: Long = 1000000L): DataFrame = {
    val stars = prevAssign.where(col("id") =!= col("cluster_id"))
      .select(col("id").as("id_a"), col("cluster_id").as("id_b"))
    resolveClusters(stars.unionByName(newPairs.select(col("id_a"), col("id_b"))),
      allIds, maxIterations, driverCutoff)
  }

  /** Driver union-find with path compression for small verified pair sets;
    * cluster_id = min id of the component, singletons map to themselves. */
  private def resolveClustersDriver(es: Array[(Long, Long)], allIds: DataFrame,
      spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x // path compression
      while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    es.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // min-id root: union always points the larger root at the smaller, so
    // find() already yields the component minimum
    val nodeIds = es.iterator.flatMap(e => Iterator(e._1, e._2)).toSet
    val labels = nodeIds.iterator.map(v => (v, find(v))).toSeq.toDF("id", "cluster_id")
    val nodesDf = nodeIds.toSeq.toDF("id")
    val singletons = allIds.select(col("id"))
      .join(broadcast(nodesDf), Seq("id"), "left_anti")
      .select(col("id"), col("id").as("cluster_id"))
    labels.union(singletons)
  }

  // ------------------------------------------------------ canonical keepers

  /** Dedup RESOLUTION: given cluster labels (id, cluster_id) from
    * [[resolveClusters]] and the corpus, decide which copy of each
    * near-dup group survives — the standard training-data policy keeps
    * the LONGEST doc (quality proxy), ties to the lowest id. Returns the
    * full corpus keep-list (doc_id, cluster_id, kept); the deduplicated
    * corpus is `kept` = true. The rank window partitions by cluster —
    * near-dup groups are small by construction, so no skewed partition
    * forms at any corpus size (singletons are their own cluster). */
  def keepCanonical(labels: DataFrame, docs: DataFrame, idCol: String = "doc_id",
      lengthCol: String = "n_chars"): DataFrame = {
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col(lengthCol).desc, col("id").asc)
    labels
      .join(docs.select(col(idCol).as("id"), col(lengthCol)), "id")
      .withColumn("kept", row_number().over(w) === 1)
      .select(col("id").as(idCol), col("cluster_id"), col("kept"))
  }

  // --------------------------------------------------------- decontamination

  /** Cross-corpus decontamination: flag TRAIN docs whose n-gram Jaccard
    * against ANY BENCH doc reaches the threshold — the benchmark-leakage
    * filter every training-data pipeline runs before a model sees the
    * corpus. Bipartite form of [[ngramJaccardPairs]]: shingle both sides on
    * the 64-bit hash, inverted-index JOIN train×bench postings (never a
    * train×train self-join — cost is Σ_s |train_s|·|bench_s|, not the
    * dedup quadratic), per-pair intersection counts → Jaccard.
    *
    * 100 TB shape: the bench side is an EVAL SET — orders of magnitude
    * smaller than the corpus. When its shingle postings fit the broadcast
    * budget, the train side streams map-side with NO shuffle of the big
    * relation; above the budget it degrades to a shuffle join on the
    * shingle key (AQE re-picks broadcast at runtime if the estimate was
    * pessimistic). Returns (train_id, bench_id, jaccard ≥ threshold). */
  def decontaminate(train: DataFrame, bench: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", n: Int = 3, threshold: Double = 0.5,
      broadcastBench: Boolean = true): DataFrame = {
    require(threshold > 0.0, "threshold must be positive (zero-overlap pairs are not materialized)")
    def shingled(df: DataFrame, out: String): DataFrame =
      df.select(col(idCol).as(out), explode(shingleCol(col(textCol), n)).as("__s"))
        .select(col(out), xxhash64(col("__s")).as("s"))
    val shT = shingled(train, "train_id").persist()
    val shB = shingled(bench, "bench_id").persist()
    val cntT = shT.groupBy(col("train_id")).agg(count(lit(1)).as("na"))
    val cntB = shB.groupBy(col("bench_id")).agg(count(lit(1)).as("nb"))
    val right = if (broadcastBench) broadcast(shB) else shB
    val out = shT.join(right, "s")
      .groupBy(col("train_id"), col("bench_id"))
      .agg(count(lit(1)).as("i"))
      .join(cntT, "train_id")
      .join(broadcast(cntB), "bench_id")
      .withColumn("__raw", col("i").cast("double") / (col("na") + col("nb") - col("i")))
      .where(col("__raw") >= threshold)
      .select(col("train_id"), col("bench_id"), round(col("__raw"), 4).as("jaccard"))
    finishReleasing(out, shT, shB)
  }

  // ------------------------------------------------------------- winnowing

  /** Per-document winnowing fingerprint selection (Schleimer/Wilkerson/
    * Aiken, "Winnowing: Local Algorithms for Document Fingerprinting",
    * SIGMOD 2003 — the MOSS algorithm; public). Token-level k-gram hashes
    * (Rabin-Karp base 31 mod 2^61-1 over unsigned FNV-1a token hashes, the
    * same arithmetic as [[graft.text.TextAnalysis.rollingHash]]), then each
    * window of `w` consecutive gram hashes selects its minimum — RIGHTMOST
    * position on ties, the paper's rule. Returns the distinct selected
    * (position, hash) fingerprints, 1-based positions.
    *
    * Guarantee (the paper's correctness theorem): two documents sharing a
    * run of at least w + k - 1 consecutive tokens share at least one
    * selected fingerprint. Expected density is 2/(w+1) of all grams, so
    * the per-doc output is ~2n/(w+1) rows — this is what makes winnowing
    * the 100 TB shape for exact-substring-overlap detection: selection is
    * CONTENT-defined (identical text selects identical grams regardless of
    * position), row-local, and sub-linear in emitted volume, where the
    * naive all-grams join would shuffle one row per token.
    *
    * Documents with fewer than k tokens yield no grams and no fingerprints;
    * documents with 1..w-1 grams winnow over a single truncated window. */
  def winnowFingerprints(text: String, k: Int, w: Int): Seq[(Int, Long)] = {
    val M = (1L << 61) - 1
    val toks = HashEmbedder.tokenize(text)
    val n = toks.length - k + 1
    if (n <= 0) return Seq.empty
    val th = new Array[Long](toks.length)
    var i = 0
    while (i < toks.length) { th(i) = HashEmbedder.tokenHash(toks(i)).toLong & 0xffffffffL; i += 1 }
    val gh = new Array[Long](n)
    i = 0
    while (i < n) {
      var h = 0L
      var j = 0
      while (j < k) { h = (TextAnalysis.mulMod(h, 31L, M) + th(i + j)) % M; j += 1 }
      gh(i) = h
      i += 1
    }
    val starts = math.max(1, n - w + 1)
    val sel = scala.collection.mutable.LinkedHashSet.empty[(Int, Long)]
    var s = 0
    while (s < starts) {
      val end = math.min(s + w - 1, n - 1)
      var minPos = s
      var p = s + 1
      while (p <= end) { if (gh(p) <= gh(minPos)) minPos = p; p += 1 }
      sel += ((minPos + 1, gh(minPos)))
      s += 1
    }
    sel.toSeq
  }

  private def winnowUdf(k: Int, w: Int) =
    udf((s: String) => winnowFingerprints(s, k, w))

  /** Per-doc DISTINCT winnowed fingerprint hashes as one row-local array
    * column — the streaming-compatible form (no distinct() aggregation
    * needed downstream; array_distinct runs inside the row). */
  private[graft] def winnowGhsCol(text: Column, k: Int, w: Int): Column =
    array_distinct(transform(winnowUdf(k, w)(text), f => f("_2")))

  /** Winnowing-based shared-substring pairs: (id_a, id_b, n_shared) where
    * n_shared = count of DISTINCT winnowed fingerprint hashes the two
    * documents share, filtered to >= minShared. Complements the Jaccard
    * family: MinHash/SimHash measure whole-document set similarity, this
    * detects LOCAL verbatim overlap (a copied passage inside otherwise
    * unrelated documents — the Lee et al. "Deduplicating Training Data"
    * substring-dedup regime) with the winnowing guarantee above.
    *
    * Scale shape: fingerprint extraction is one row-local scan (no
    * shuffle); the only shuffles are the fingerprint-hash join and the
    * per-pair count. Pair emission per hash streams through
    * groupByKey+flatMapGroups (a hot hash never materializes its C(d,2)
    * pairs in one allocation), and `maxDf` optionally drops corpus-hot
    * fingerprints from candidate generation entirely — the boilerplate
    * regime lever, same trade as ngram maxDf (recall only at hashes whose
    * df exceeds the cap). Uncapped pair generation is quadratic in
    * per-hash df AND serial within the hash's single group — a corpus-wide
    * boilerplate fingerprint (df = N) emits C(N,2) pairs on one core. At
    * corpus scale use [[winnowPairsAuto]] (one probe over the
    * fingerprint-df distribution picks the cap) rather than hand-setting
    * maxDf; verbatim duplication is bounded structurally by the
    * duplicate-set pre-collapse (see [[winnowPairsFromArr]]). */
  def winnowPairs(df: DataFrame, textCol: String = "text", idCol: String = "doc_id",
      k: Int = 4, w: Int = 4, minShared: Int = 1,
      maxDf: Option[Int] = None): DataFrame = {
    require(k >= 1 && w >= 1 && minShared >= 1, "k, w, minShared must be >= 1")
    winnowPairsFromArr(winnowDocArr(df, textCol, idCol, k, w), minShared, maxDf)
  }

  /** Per-doc SORTED distinct winnowed fingerprint hashes, built row-locally
    * (no shuffle — winnowGhsCol dedupes inside the row; sorting makes the
    * set hash below deterministic). Docs with no fingerprints (< k tokens)
    * drop here, matching the postings form where they emit no rows. */
  private[graft] def winnowDocArr(df: DataFrame, textCol: String,
      idCol: String, k: Int, w: Int): DataFrame =
    df.select(col(idCol).cast("long").as("id"),
        sort_array(winnowGhsCol(col(textCol), k, w)).as("ghs"))
      .where(size(col("ghs")) > 0)

  /** [[winnowPairs]] over a prepared per-doc fingerprint-array relation.
    *
    * DUPLICATE-SET PRE-COLLAPSE (the ngram/embedding collapse, winnow
    * form): docs with IDENTICAL fingerprint sets have identical n_shared
    * against every third doc, so one cheap probe (count vs distinct set
    * hash — map-side combinable, no extra shuffle of the postings) decides
    * the regime. Duplicate-free corpora — the common case — run the plain
    * postings pipeline; replicated corpora run candidate generation and
    * the per-pair count once per GROUP and expand pairs afterwards as a
    * row-local emission: Σ C(m·df, 2) candidate rows become Σ C(df, 2)
    * (within-group pairs share their WHOLE set, n_shared = |set|; cross
    * pairs inherit the representative count verbatim). The ×30 verbatim-
    * replication cell's 824 MB pair-stream shuffle (SCALE.md round 11) is
    * exactly what this bounds. Set-hash collisions conflate distinct sets
    * with probability ~|docs|²/2^65 — the same accepted odds as the
    * fingerprint join keys. In capped mode df stays defined on FULL-corpus
    * document frequency (the oracle's semantics) and the collapse groups
    * on the SURVIVING set — identical capped sets imply identical capped
    * candidacy and counts. */
  private[dedup] def winnowPairsFromArr(docArr0: DataFrame, minShared: Int,
      maxDf: Option[Int], precomputedHot: Option[DataFrame] = None): DataFrame = {
    val spark = docArr0.sparkSession
    import spark.implicits._
    val docArr = docArr0.persist()
    val fp = docArr.select(col("id"), explode(col("ghs")).as("gh"))
    def pairCounts(rel: DataFrame): DataFrame = rel
      .select(col("gh"), col("id"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (_, it) =>
        val a = it.map(_._2).toArray
        java.util.Arrays.sort(a)
        if (a.length < 2) Iterator.empty
        else (0 until a.length - 1).iterator.flatMap { i =>
          ((i + 1) until a.length).iterator
            .filter(j => a(i) != a(j))
            .map(j => (a(i), a(j)))
        }
      }
      .toDF("id_a", "id_b")
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
    // capped postings + per-doc arrays over the SURVIVING hashes (only the
    // capped branch pays the array re-aggregation shuffle). The cap is
    // applied as a broadcast ANTI join against the df > cap key set — tiny
    // by the boilerplate-regime definition (the ngramJaccardPairsFromSh
    // hotKeys pattern), so the postings relation is never shuffled for the
    // filter; the earlier keep-set SEMI join shuffled all postings against
    // an almost-corpus-sized keep relation. `precomputedHot`, when given,
    // is persisted+materialized by the auto dispatcher from its probe's df
    // aggregation — the capped branch then runs zero df groupBys of its own.
    val (capFp, arrs, extraCaches) = maxDf match {
      case Some(cap) =>
        val hot = precomputedHot.getOrElse(
          fp.groupBy(col("gh")).agg(count(lit(1)).as("__df"))
            .where(col("__df") > cap).select(col("gh")).persist())
        // a caller-provided hot set is NOT released here: the caller may
        // still be broadcasting it into relations that materialize after
        // this call returns (WinnowIndex.deltaPairs' old×new anti-joins) —
        // releasing a cache this function did not create was ADVICE r11
        val ownedHot = if (precomputedHot.isDefined) Nil else Seq(hot)
        if (hot.count() == 0) (fp, docArr, ownedHot) // cap excludes nothing
        else {
          val cfp = fp.join(broadcast(hot), Seq("gh"), "left_anti").persist()
          val ca = cfp.groupBy(col("id"))
            .agg(sort_array(collect_list(col("gh"))).as("ghs")).persist()
          (cfp, ca, ownedHot ++ Seq(cfp, ca))
        }
      case None => (fp, docArr, Seq.empty[DataFrame])
    }
    val nAll = arrs.agg(count(lit(1)).as("n"),
      countDistinct(xxhash64(col("ghs"))).as("nd")).head()
    if (nAll.getLong(1) == nAll.getLong(0))
      return finishReleasing(pairCounts(capFp), docArr +: extraCaches: _*)
    val reps = arrs
      .select(col("id"), xxhash64(col("ghs")).as("__g"),
        size(col("ghs")).cast("long").as("__nsh"))
      .groupBy(col("__g"))
      .agg(min(col("id")).as("rid"),
        sort_array(collect_list(col("id"))).as("members"),
        first(col("__nsh")).as("nsh"))
      .persist()
    val repPairs = pairCounts(capFp.join(reps.select(col("rid").as("id")), "id"))
    val within = reps
      .where(size(col("members")) > 1 && col("nsh") >= minShared)
      .select(explode(withinPairsUdf(col("members"))).as("p"), col("nsh"))
      .select(col("p._1").as("id_a"), col("p._2").as("id_b"),
        col("nsh").as("n_shared"))
    val cross = repPairs
      .join(reps.select(col("rid").as("id_a"), col("members").as("__ma")), "id_a")
      .join(reps.select(col("rid").as("id_b"), col("members").as("__mb")), "id_b")
      .select(explode(crossPairsUdf(col("__ma"), col("__mb"))).as("p"),
        col("n_shared"))
      .select(col("p._1").as("id_a"), col("p._2").as("id_b"), col("n_shared"))
    finishReleasing(within.unionByName(cross), (docArr +: reps +: extraCaches): _*)
  }

  /** Pick the winnow dedup strategy from the fingerprint-df distribution —
    * [[ngramStrategy]]'s probe applied to winnowing, so "at corpus scale
    * always set maxDf" stops being a prose norm and becomes the default
    * behavior. Winnowing has no prefix analog: every candidate pair shares
    * a REAL selected fingerprint, so outside the boilerplate regime a
    * blown candidate volume IS true shared-substring output (and verbatim
    * duplication is bounded structurally by the set pre-collapse in
    * [[winnowPairs]]) — the dispatch is binary:
    *
    *   - `"capped"` when the probe-counted candidate volume (Σ C(df,2))
    *     blows `budgetPerDoc` rows per doc AND ≥ `hotShare` of it comes
    *     from df > `cap` fingerprints carrying ≤ `hotPostingsShare` of all
    *     postings — the boilerplate regime (a shared footer's fingerprints
    *     in every doc; recall lost only on pairs whose entire overlap is
    *     corpus-hot, i.e. boilerplate-only matches).
    *   - `"uncapped"` otherwise — exact counts over all fingerprints. */
  def winnowStrategy(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", k: Int = 4, w: Int = 4, cap: Int = 100,
      budgetPerDoc: Long = 512L, hotShare: Double = 0.5,
      hotPostingsShare: Double = 0.2): String = {
    // persisted: count() and the df probe are two actions over the same
    // relation — unpersisted, the winnow fingerprint UDF ran twice per
    // strategy call (ADVICE r11)
    val docArr = winnowDocArr(df, textCol, idCol, k, w).persist()
    val out = winnowDispatch(
      ngramProbeFromSh(docArr.select(explode(col("ghs")).as("s")),
        docArr.count(), cap),
      budgetPerDoc, hotShare, hotPostingsShare)
    docArr.unpersist(blocking = false)
    out
  }

  private def winnowDispatch(p: NgramProbeStats, budgetPerDoc: Long,
      hotShare: Double, hotPostingsShare: Double): String =
    if (dispatchOf(p, budgetPerDoc, hotShare, hotPostingsShare) == "capped")
      "capped"
    else "uncapped"

  /** Auto-dispatched winnow pairs: probe the fingerprint-df distribution
    * once, then run [[winnowPairs]] uncapped or df-capped per
    * [[winnowStrategy]]'s regime call. The per-doc fingerprint arrays are
    * built ONCE (row-locally) and shared by probe and strategy — the
    * ngramJaccardAuto materialize-once contract. EAGER: the probe executes
    * two Spark jobs (doc count + df aggregation) at call time. */
  def winnowPairsAuto(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", k: Int = 4, w: Int = 4, minShared: Int = 1,
      cap: Int = 100, budgetPerDoc: Long = 512L, hotShare: Double = 0.5,
      hotPostingsShare: Double = 0.2): DataFrame =
    winnowPairsAutoWithStrategy(df, textCol, idCol, k, w, minShared, cap,
      budgetPerDoc, hotShare, hotPostingsShare)._2

  /** [[winnowPairsAuto]] plus the chosen strategy — for callers acting on
    * the dispatch (the correctness gate asserts its fixture stays out of
    * the recall-trading capped regime) without a second probe pass. */
  def winnowPairsAutoWithStrategy(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", k: Int = 4, w: Int = 4, minShared: Int = 1,
      cap: Int = 100, budgetPerDoc: Long = 512L, hotShare: Double = 0.5,
      hotPostingsShare: Double = 0.2): (String, DataFrame) = {
    require(k >= 1 && w >= 1 && minShared >= 1, "k, w, minShared must be >= 1")
    val docArr = winnowDocArr(df, textCol, idCol, k, w).persist()
    // ONE fingerprint-df aggregation feeds probe AND (if dispatched capped)
    // the hot-key filter — see ngramJaccardAutoWithStrategy; the repeated
    // groupBy was +36% wall / +2.2× shuffle on the ×30 boilerplate cell.
    val dfRel = docArr.select(explode(col("ghs")).as("gh"))
      .groupBy(col("gh")).agg(count(lit(1)).as("df")).persist()
    val p = probeStatsFromDfRel(dfRel, docArr.count(), cap)
    winnowDispatch(p, budgetPerDoc, hotShare, hotPostingsShare) match {
      case "capped" =>
        val hot = dfRel.where(col("df") > cap).select(col("gh")).persist()
        hot.count() // materialize off the cached df relation, then drop it
        dfRel.unpersist(blocking = false)
        val out = winnowPairsFromArr(docArr, minShared, Some(cap), Some(hot))
        // the callee no longer releases caller-owned hot sets (ADVICE r11
        // ownership rule); its result is materialized on return, so the
        // broadcast hot set has no remaining consumer here
        hot.unpersist(blocking = false)
        ("capped", out)
      case _ =>
        dfRel.unpersist(blocking = false)
        ("uncapped", winnowPairsFromArr(docArr, minShared, None))
    }
  }

  /** Longest common token RUN of two documents (the maximal verbatim
    * shared span, in tokens) — classic O(n·m) two-row DP; token equality
    * is checked on the strings (hash equality is only the fast path).
    * Runs per CANDIDATE PAIR, so the quadratic cost is bounded by doc
    * length, not corpus size. */
  private[graft] def longestCommonRun(a: Array[String], b: Array[String]): Int =
    longestCommonRunEnd(a, b)._1

  /** (length, 1-based end position in `b`) of the longest common token run.
    * Ties resolve to the FIRST cell in (i asc, j asc) scan order that
    * achieves the maximal length — i.e. the run with the smallest end
    * position in `a`, then in `b`. The SQL mirror ranks islands by
    * (len DESC, i_end ASC, j_end ASC), which is the same rule: cells with
    * value == max are exactly the end cells of maximal runs. */
  private[graft] def longestCommonRunEnd(a: Array[String], b: Array[String]): (Int, Int) = {
    if (a.isEmpty || b.isEmpty) return (0, 0)
    val ha = new Array[Int](a.length)
    val hb = new Array[Int](b.length)
    var x = 0
    while (x < a.length) { ha(x) = HashEmbedder.tokenHash(a(x)); x += 1 }
    x = 0
    while (x < b.length) { hb(x) = HashEmbedder.tokenHash(b(x)); x += 1 }
    var best = 0
    var bestEndB = 0
    var prev = new Array[Int](b.length + 1)
    var cur = new Array[Int](b.length + 1)
    var i = 0
    while (i < a.length) {
      var j = 0
      while (j < b.length) {
        cur(j + 1) = if (ha(i) == hb(j) && a(i) == b(j)) prev(j) + 1 else 0
        if (cur(j + 1) > best) { best = cur(j + 1); bestEndB = j + 1 }
        j += 1
      }
      val t = prev; prev = cur; cur = t
      i += 1
    }
    (best, bestEndB)
  }

  private val runUdf = udf((a: String, b: String) =>
    longestCommonRun(HashEmbedder.tokenize(a), HashEmbedder.tokenize(b)))

  /** Winnow pairs annotated with the EXTENT of the overlap: the longest
    * shared token run per candidate pair — the quantity substring-dedup
    * policies actually threshold on ("drop one copy when >= 50 tokens are
    * verbatim-shared"). Candidates come from [[winnowPairs]] (cheap,
    * guaranteed to contain every pair with a run >= w+k-1); the DP extent
    * kernel then runs per PAIR — corpus cost is candidate-bounded, and
    * each extent is a row-local O(len²) kernel on the joined texts. The
    * pair relation is the broadcast side of both text joins WHEN maxDf is
    * set (bounded pair count); with maxDf unset a corpus-hot fingerprint
    * makes pairs quadratic, so the hint is withheld and AQE decides — at
    * corpus scale always set maxDf (the [[winnowPairs]] warning). Returns
    * (id_a, id_b, n_shared, max_run). */
  def winnowPairExtent(df: DataFrame, textCol: String = "text", idCol: String = "doc_id",
      k: Int = 4, w: Int = 4, minShared: Int = 1,
      maxDf: Option[Int] = None): DataFrame = {
    val pairs0 = winnowPairs(df, textCol, idCol, k, w, minShared, maxDf)
    val pairs = if (maxDf.isDefined) broadcast(pairs0) else pairs0
    val txt = df.select(col(idCol).cast("long").as("__tid"), col(textCol).as("__txt"))
    pairs
      .join(txt.select(col("__tid").as("id_a"), col("__txt").as("__ta")), "id_a")
      .join(txt.select(col("__tid").as("id_b"), col("__txt").as("__tb")), "id_b")
      .select(col("id_a"), col("id_b"), col("n_shared"),
        runUdf(col("__ta"), col("__tb")).as("max_run"))
  }

  private val exciseUdf = udf((a: String, b: String) => {
    val ta = HashEmbedder.tokenize(a)
    val tb = HashEmbedder.tokenize(b)
    val (len, endB) = longestCommonRunEnd(ta, tb)
    val kept = new scala.collection.mutable.ArrayBuffer[String](tb.length)
    var j = 0
    while (j < tb.length) {
      val pos = j + 1
      if (len == 0 || pos < endB - len + 1 || pos > endB) kept += tb(j)
      j += 1
    }
    (len, kept.mkString(" "))
  })

  /** Span EXCISION — the removal step of substring dedup (the Lee et al.
    * policy: keep ONE copy of a duplicated span): for each winnow
    * candidate pair, locate the longest shared token run and delete it
    * from the HIGHER-id document, keeping the lower-id copy intact.
    * Per-pair dry-run form: one row per pair with the excised text, so a
    * doc in several pairs shows each excision independently (the caller
    * picks a resolution policy, exactly like keepCanonical consumes
    * pair/cluster output). Text re-serializes with single spaces
    * (whitespace-normalized, like every tokenizer in this engine).
    * The pair relation broadcasts only when maxDf bounds it (see
    * [[winnowPairExtent]]). Returns (id_a, id_b, run_len, text_b_clean). */
  def winnowExcise(df: DataFrame, textCol: String = "text", idCol: String = "doc_id",
      k: Int = 4, w: Int = 4, minShared: Int = 1,
      maxDf: Option[Int] = None): DataFrame = {
    val pairs0 = winnowPairs(df, textCol, idCol, k, w, minShared, maxDf)
    val pairs = if (maxDf.isDefined) broadcast(pairs0) else pairs0
    val txt = df.select(col(idCol).cast("long").as("__tid"), col(textCol).as("__txt"))
    pairs
      .join(txt.select(col("__tid").as("id_a"), col("__txt").as("__ta")), "id_a")
      .join(txt.select(col("__tid").as("id_b"), col("__txt").as("__tb")), "id_b")
      .withColumn("__e", exciseUdf(col("__ta"), col("__tb")))
      .select(col("id_a"), col("id_b"),
        col("__e._1").as("run_len"), col("__e._2").as("text_b_clean"))
  }

  /** Winnowing-based decontamination: flag TRAIN docs sharing at least
    * `minShared` winnowed fingerprints with ANY bench doc — SUBSTRING-level
    * benchmark leakage (a benchmark question quoted inside a long training
    * doc), which whole-document Jaccard decontamination under-detects
    * because the shared span is a small fraction of the train doc's
    * shingle set. Same guarantee as [[winnowPairs]]: any shared run of
    * w + k - 1 tokens is caught.
    *
    * 100 TB shape mirrors [[decontaminate]]: the bench side is an eval set
    * — its fingerprint list broadcasts, the train side streams map-side
    * with no shuffle of the big relation (AQE re-picks if the estimate was
    * pessimistic). Returns (train_id, bench_id, n_shared). */
  def decontaminateWinnow(train: DataFrame, bench: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      k: Int = 4, w: Int = 4, minShared: Int = 1,
      broadcastBench: Boolean = true): DataFrame = {
    def fps(df: DataFrame, out: String): DataFrame =
      df.select(col(idCol).cast("long").as(out),
          explode(winnowUdf(k, w)(col(textCol))).as("f"))
        .select(col(out), col("f._2").as("gh"))
        .distinct()
    val right0 = fps(bench, "bench_id")
    val right = if (broadcastBench) broadcast(right0) else right0
    fps(train, "train_id")
      .join(right, "gh")
      .groupBy(col("train_id"), col("bench_id"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  /** Embedding-space decontamination: flag TRAIN vectors whose cosine vs
    * ANY BENCH vector reaches the threshold — catches paraphrase leakage
    * the shingle form misses. The bench side broadcasts whole (an eval
    * set); the train side is ONE distributed scan against it (broadcast
    * nested-loop, no shuffle of the big relation, no collect) — cost is
    * |train|·|bench| dots, embarrassingly parallel over train partitions.
    * Same hoisted-norm cosine as the dedup pair kernels (NOT dense_cosine's
    * fused form — last-ulp parity with the oracle). */
  def decontaminateEmbedding(train: DataFrame, bench: DataFrame,
      vecCol: String = "embedding", idCol: String = "vec_id",
      threshold: Double = 0.95): DataFrame = {
    def side(df: DataFrame, id: String, v: String, n: String): DataFrame =
      df.select(col(idCol).cast("long").as(id), col(vecCol).as(v),
        sqrt(VectorExpressions.dense_dot(col(vecCol), col(vecCol))).as(n))
    side(train, "train_id", "v_a", "n_a")
      .crossJoin(broadcast(side(bench, "bench_id", "v_b", "n_b")))
      .withColumn("cosine", cosineCol(
        VectorExpressions.dense_dot(col("v_a"), col("v_b")), col("n_a"), col("n_b")))
      .where(col("cosine") >= threshold)
      .select(col("train_id"), col("bench_id"), col("cosine"))
  }

  /** Bucketed bipartite embedding decontamination — the escape hatch from
    * [[decontaminateEmbedding]]'s brute |train|·|bench| COMPUTE (not from
    * bench-side memory: like the brute form, the bench side is
    * broadcast-hinted on the assumption it is an eval set that fits in
    * executor memory — a bench too large to broadcast needs the hint
    * dropped so AQE sizes the join):
    * BOTH sides hash through the SAME seeded hyperplanes, candidates are
    * (table, signature) collisions, survivors verify with the exact
    * hoisted-norm cosine. Candidate recall is the random-hyperplane LSH
    * contract (a cos ≥ τ pair collides in one table with probability
    * (1 − θ/π)^nbits; `tables` tables raise it) — the oracle replicates
    * candidate generation with the identical plane literals, so the gate
    * checks the LSH semantics end to end, not just the verify.
    *
    * 100 TB shape: cost is Σ_buckets |train_b|·|bench_b| instead of
    * |train|·|bench| — and the bench side's buckets broadcast (an eval
    * set), so the train side never shuffles. Duplicate-vector collapse
    * (probe-gated per side, the [[embeddingNearDupLsh]] protocol) bounds
    * the replication regime: identical vectors bucket and score
    * identically, so bucket-join work runs once per DISTINCT vector per
    * side and (train, bench) pairs expand linearly afterwards. */
  def decontaminateEmbeddingLsh(train: DataFrame, bench: DataFrame, dim: Int,
      vecCol: String = "embedding", idCol: String = "vec_id",
      threshold: Double = 0.95, nbits: Int = 8, tables: Int = 4,
      seed: Long = 42L): DataFrame = {
    val planes = lshPlanes(tables, nbits, dim, seed)
    val bucketUdf = lshBucketUdf(planes)
    def side(df: DataFrame): DataFrame =
      df.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
        .where(col("v").isNotNull && size(col("v")) === dim)
    // cheap duplicate probe per side (map-side-combinable agg over vector
    // hashes, no vector shuffle): duplicate-free sides skip the collapse
    // groupBy and the member-expansion join entirely
    def maybeReps(k: DataFrame): Option[DataFrame] = {
      val r = k.agg(count(lit(1)).as("n"),
        countDistinct(xxhash64(col("v"))).as("nd")).head()
      if (r.getLong(1) == r.getLong(0)) None
      else Some(k.withColumn("__g", xxhash64(col("v"))).groupBy(col("__g"))
        .agg(min(col("id")).as("id"),
          sort_array(collect_list(col("id"))).as("members"),
          first(col("v")).as("v"))
        .persist())
    }
    val tReps = maybeReps(side(train))
    val bReps = maybeReps(side(bench))
    val tRel = tReps.map(_.select(col("id"), col("v"))).getOrElse(side(train))
    val bRel = bReps.map(_.select(col("id"), col("v"))).getOrElse(side(bench))
    def bucketed(rel: DataFrame, id: String): DataFrame =
      rel.select(col("id").as(id),
        posexplode(bucketUdf(col("v"))).as(Seq("table", "bucket")))
    def withNorm(rel: DataFrame, id: String, v: String, n: String): DataFrame =
      rel.select(col("id").as(id), col("v").as(v),
        sqrt(VectorExpressions.dense_dot(col("v"), col("v"))).as(n))
    // only (table, bucket, id) flows through candidate generation; vectors
    // join back after the pair set is deduped (narrow shuffle)
    val cand = bucketed(tRel, "train_id")
      .join(broadcast(bucketed(bRel, "bench_id")), Seq("table", "bucket"))
      .select(col("train_id"), col("bench_id"))
      .dropDuplicates("train_id", "bench_id")
    val repPairs = cand
      .join(withNorm(tRel, "train_id", "v_a", "n_a"), "train_id")
      .join(broadcast(withNorm(bRel, "bench_id", "v_b", "n_b")), "bench_id")
      .withColumn("cosine", cosineCol(
        VectorExpressions.dense_dot(col("v_a"), col("v_b")), col("n_a"), col("n_b")))
      .where(col("cosine") >= threshold)
      .select(col("train_id"), col("bench_id"), col("cosine"))
    // expand collapsed members back to ids on whichever sides collapsed
    // (identical vectors have identical cosine against every counterpart,
    // so expansion is a pure linear emission of the rep's verdict)
    val tExp = tReps match {
      case Some(r) => repPairs
        .join(r.select(col("id").as("train_id"), col("members").as("__mt")), "train_id")
        .select(explode(col("__mt")).as("train_id"), col("bench_id"), col("cosine"))
      case None => repPairs
    }
    val out = bReps match {
      case Some(r) => tExp
        .join(broadcast(r.select(col("id").as("bench_id"), col("members").as("__mb"))), "bench_id")
        .select(col("train_id"), explode(col("__mb")).as("bench_id"), col("cosine"))
      case None => tExp
    }
    finishReleasing(out, (tReps.toSeq ++ bReps.toSeq): _*)
  }
}
