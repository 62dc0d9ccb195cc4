package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Deduplication operators for large-scale document pipelines.
 *
 * Scale design (100 TB): every variant is bucketed — candidate pairs come
 * from shuffle-on-key joins (band hashes / simhash bands), NEVER an
 * all-pairs crossJoin. Cost is O(n * bands) shuffle rows; bucket skew is
 * capped (oversized buckets dropped with a count, documented below).
 */
object Dedup {

  /** Deterministic 64-bit string hash (FNV-1a), stable across JVMs/runs. */
  def fnv64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) {
      h ^= s.charAt(i).toLong
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  /** Exact dedup: keep one row per exact value of `keyCols` (lowest id).
    * Pure hash-aggregation — one shuffle on the key. */
  def exact(df: DataFrame, keyCols: Seq[String], idCol: String): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col(idCol))
    df.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1).drop("_rn")
  }

  /** Exact-dup groups: per duplicate key, the keeper id + copy count.
    * Groups on a 128-bit digest of the key, not the key itself — the
    * shuffle moves 16 bytes per row instead of the full document text
    * (at 100 TB the difference is the whole corpus crossing the wire).
    * md5 collisions across distinct texts are ~2^-64 at petabyte corpus
    * sizes; the value semantics are identical to grouping by the text. */
  def exactGroups(df: DataFrame, keyCol: String, idCol: String): DataFrame =
    df.groupBy(md5(col(keyCol).cast("binary")).as("_k"))
      .agg(min(col(idCol)).cast("long").as("keeper_id"), count(lit(1)).cast("long").as("copies"))
      .select("keeper_id", "copies")

  // ---------- MinHash + LSH ----------

  val MinhashPerms = 64
  val Bands = 16
  val RowsPerBand = MinhashPerms / Bands
  // Deterministic permutation parameters (odd multipliers).
  /** Per-permutation seeds for the splitmix64 row hashes. The original
    * linear "permutations" a_p*x+b_p with multiplicatively-related a_p
    * (golden-ratio times small odd numbers) are CORRELATED: writing
    * y = C*x, perm p compares (2p+1)*y + b_p, so the argmin tracks the
    * same y ordering across every p and one unlucky shingle can capture
    * the minimum in ALL 64 permutations at once. Observed (r15, planted
    * sf1 family 600000637): an append-two-tokens variant at exact
    * Jaccard 0.975 shared 0/16 LSH bands with its own family — a recall
    * collapse the independence model puts at 5.6e-17. splitmix64 with an
    * independent seed per permutation restores pairwise-independent row
    * orderings (standard finalizer; public domain Steele et al.). */
  private val permSeed: Array[Long] =
    Array.tabulate(MinhashPerms)(i => 0x9E3779B97F4A7C15L * (i + 1) + 0xC2B2AE3D27D4EB4FL)

  /** splitmix64 finalizer: decorrelates the per-permutation orderings. */
  @inline private def mix64(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** MinHash signature of a document: word-shingle set -> 64 min-hashes.
    * Shingle hashes are combined from per-word FNV hashes (order-sensitive
    * mix) rather than materializing shingle strings — no per-shingle
    * allocation in the hot loop. */
  def minhashSignature(text: String, shingleSize: Int): Array[Long] = {
    val words = text.toLowerCase.split("\\W+").filter(_.nonEmpty)
    val sig = Array.fill(MinhashPerms)(Long.MaxValue)
    if (words.length >= shingleSize) {
      val wh = new Array[Long](words.length)
      var w = 0
      while (w < words.length) { wh(w) = fnv64(words(w)); w += 1 }
      // Shingle hashes first, then one tight per-permutation scan: the
      // permutation state stays in a register across the whole shingle
      // array instead of re-loading sig(p) per (shingle, perm) pair.
      val n = words.length - shingleSize + 1
      val sh = new Array[Long](n)
      var i = 0
      while (i < n) {
        var h = 0xcbf29ce484222325L
        var k = 0
        while (k < shingleSize) { h ^= wh(i + k); h *= 0x100000001b3L; k += 1 }
        sh(i) = h
        i += 1
      }
      var p = 0
      while (p < MinhashPerms) {
        val seed = permSeed(p)
        var mn = Long.MaxValue
        var j = 0
        while (j < n) {
          val v = mix64(sh(j) ^ seed)
          if (v < mn) mn = v
          j += 1
        }
        sig(p) = mn
        p += 1
      }
    }
    sig
  }

  /** The 16 LSH band hashes of a document's MinHash signature (index =
    * band). Computed in one pass so the banding query plan is a single
    * UDF + posexplode instead of 16 slice/hash expression trees. */
  def minhashBandHashes(text: String, shingleSize: Int): Array[Long] = {
    val sig = minhashSignature(text, shingleSize)
    val bands = new Array[Long](Bands)
    var b = 0
    while (b < Bands) {
      var h = 0xcbf29ce484222325L
      var r = 0
      while (r < RowsPerBand) { h ^= sig(b * RowsPerBand + r); h *= 0x100000001b3L; r += 1 }
      bands(b) = h
      b += 1
    }
    bands
  }

  /** Banding-only candidate pairs (id_a < id_b), NOT scored — for callers
    * that re-score candidates with an exact metric (e.g. exact shingle
    * Jaccard). Shuffle shape: only (_id, band, hash) rows — 3 longs per
    * band row — ever cross the wire; the signature itself stays in the
    * producing task. */
  def minhashCandidatePairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      shingleSize: Int = 3,
      maxBucket: Int = 1000): DataFrame =
    minhashCandidatePairsCounted(df, textCol, idCol, shingleSize, maxBucket)._1

  /** [[minhashCandidatePairs]] plus the materialized pair count — the
    * persist + count already runs inside materialization, so callers that
    * gate on the count (Bloom-vs-semi-join pruning) read it here instead
    * of paying a second count job over the cached frame. */
  private def minhashCandidatePairsCounted(
      df: DataFrame,
      textCol: String,
      idCol: String,
      shingleSize: Int,
      maxBucket: Int): (DataFrame, Long) = {
    // One UDF evaluation per document emits all 16 band hashes; posexplode
    // fans them out to (id, band, hash) rows. The 64-long signature never
    // appears in the plan at all.
    val bandsUdf = udf((t: String) => minhashBandHashes(if (t == null) "" else t, shingleSize))
    val docs = df.select(col(idCol).cast("long").as("_id"), col(textCol).as("_text"))
    val banded = docs.select(col("_id"), posexplode(bandsUdf(col("_text"))))
      .toDF("_id", "_b", "_h")

    // Bucket-scoped pairs as a SELF-JOIN on the band key, not a
    // collect_list + pair-expanding UDF: a full bucket of k members emits
    // its k(k-1)/2 pairs STREAMED through the join (codegen, spillable),
    // where the UDF shape materialized them as one k²/2-element Scala Seq
    // in a single row — a multi-MB allocation per dense bucket whose GC
    // made wall time bimodal. Both the size aggregation and the join
    // shuffle hash by (_b, _h), so the banding pass is shuffled once and
    // reused (ReusedExchange), not recomputed.
    val (pairs, keep) = bandedBucketPairs(banded, maxBucket, Seq.empty)
    materializeCounted(pairs.select("id_a", "id_b").dropDuplicates("id_a", "id_b"), keep)
  }

  /** Persist + materialize `result`, then release every `upstream` cache —
    * so a long-lived session never accumulates the large intermediate
    * caches (banded rows, candidate signatures). Lineage is preserved (no
    * checkpoint): a lost block of the result recomputes through the
    * now-uncached upstream instead of failing the job. The returned frame
    * IS persisted; callers that are done with it may `unpersist()` it —
    * it is the only cache this module retains, sized by the (small)
    * near-dup pair output, not the corpus. */
  private def materializeReleasing(result: DataFrame, upstream: DataFrame*): DataFrame =
    materializeCounted(result, upstream: _*)._1

  /** [[materializeReleasing]] that also hands back the row count its
    * materializing action already computed. */
  private def materializeCounted(result: DataFrame, upstream: DataFrame*): (DataFrame, Long) = {
    val out = result.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = out.count()
    upstream.foreach(_.unpersist(false))
    (out, n)
  }

  /** (id_a, id_b [, carried cols suffixed _a/_b]) for every intra-bucket
    * pair of `banded` (_id, _b, _h, carried...), buckets capped at
    * `maxBucket` members (skew guard). */
  private def bandedBucketPairs(banded: DataFrame, maxBucket: Int,
      carry: Seq[String]): (DataFrame, DataFrame) = {
    // The skew cap rides a WINDOW count over the same (_b, _h) shuffle the
    // join needs — no separate size-aggregation branch, which would be a
    // third full evaluation of the banding pass (the hash UDFs are
    // nondeterministic, so Spark cannot ReusedExchange them away).
    // Singleton buckets survive the filter but emit no pairs in the join.
    val w = org.apache.spark.sql.expressions.Window.partitionBy("_b", "_h")
    // Persisted so the hash+banding pass runs ONCE, with both join sides
    // reading the (id, band, hash) projection back — ~24 bytes x bands per
    // doc, MEMORY_AND_DISK so a 100 TB corpus spills locally instead of
    // recomputing the signature UDF per side (same pattern as the
    // feature persist in rescore).
    val keep = banded
      .withColumn("_n", count(lit(1)).over(w))
      .filter(col("_n") <= maxBucket)
      .drop("_n")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def side(suffix: String) = keep.select(
      (Seq(col("_b"), col("_h"), col("_id").as(s"id$suffix")) ++
        carry.map(c => col(c).as(s"$c$suffix"))): _*)
    val pairs = side("_a").join(side("_b"), Seq("_b", "_h"))
      .filter(col("id_a") < col("id_b"))
      .drop("_b", "_h")
    // The caller materializes `pairs`, then unpersists the returned `keep`
    // handle (via materializeReleasing) — the banded cache must not outlive
    // the pair computation in a long-lived session.
    (pairs, keep)
  }

  /** Feature-frame row count (candidate ids plus Bloom false positives) at
    * or above which the re-score joins fall back from broadcast to shuffle.
    * A boilerplate-heavy corpus at web scale can inflate candidates past
    * driver memory, and the ~1% false positives grow with the corpus — the
    * gate keeps the broadcast path for small feature frames only.
    * Overridable for tests. */
  @volatile var broadcastCandidateLimit: Long = 100000L

  /** Candidate-pair count at/above which the CORPUS-side candidate pruning
    * falls back from a broadcast Bloom filter to a shuffle semi-join. A
    * Bloom at 1% fpp costs ~1.2 bytes per key — two orders of magnitude
    * lighter than a broadcast hash relation — so the no-corpus-shuffle
    * pruning path survives far past [[broadcastCandidateLimit]]; at ~1e8
    * pairs the filter is ~100 MB and a shuffle is the honest choice. */
  @volatile var bloomCandidateLimit: Long = 100000000L

  private def gated(d: DataFrame, rows: Long): DataFrame =
    if (rows < broadcastCandidateLimit) broadcast(d) else d

  /** Prune the corpus frame to (approximately) the candidate ids WITHOUT
    * shuffling it: a broadcast Bloom filter over both pair sides drops
    * non-candidate rows at the scan (guide §3.2/§8 — the document payload
    * never crosses the wire; only the pair frame, which is persisted and
    * tiny relative to the corpus, is scanned to build the filter). False
    * positives only cost their own feature computation — every downstream
    * use inner-joins back to the exact pair set, so the result is
    * identical. Past [[bloomCandidateLimit]] the filter itself would be
    * driver-heavy and the caller's exact semi-join takes over. */
  private def pruneToCandidates(corpus: DataFrame, idCol: String,
      cands: DataFrame, nCand: Long): DataFrame = {
    if (nCand >= bloomCandidateLimit) {
      val candIds = cands.select(col("id_a").as(idCol))
        .union(cands.select(col("id_b").as(idCol))).distinct()
      corpus.join(candIds, idCol)
    } else {
      val ids = cands.select(col("id_a")).union(cands.select(col("id_b")))
      // Size the filter by the (approximate) DISTINCT id count, not the
      // pair count: docs appear in many pairs, so 2*nCand oversizes the
      // filter 10-20x and the partial-filter merge (one bitset OR per
      // input partition, single-threaded in treeAggregate's final step)
      // dominated the build. HLL under-estimation only raises fpp a
      // little — false positives cost a wasted feature row, never a
      // wrong result — and the coalesce keeps the number of partials
      // (hence merge work) bounded regardless of the pair cache's
      // partitioning.
      val nIds = ids.agg(approx_count_distinct("id_a")).head.getLong(0)
      val bf = ids.coalesce(math.min(ids.rdd.getNumPartitions, 16))
        .stat.bloomFilter("id_a", math.max((1.25 * nIds).toLong, 1000L), 0.01)
      val bfB = corpus.sparkSession.sparkContext.broadcast(bf)
      val mightBeCand = udf((id: Long) => bfB.value.mightContainLong(id))
      corpus.filter(mightBeCand(col(idCol)))
    }
  }

  /** Near-duplicate pairs via MinHash-LSH banding, scored by the estimated
    * Jaccard of the two 64-permutation signatures. Returns (id_a, id_b,
    * est_jaccard) with id_a < id_b and est_jaccard >= threshold.
    * `maxBucket` caps pathological buckets (identical boilerplate at web
    * scale) — dropped buckets trade recall for a hard O(maxBucket^2)
    * per-bucket bound. Banding never ships the signature; it is recomputed
    * for the candidate ids only (see [[rescore]]). On a persistent table
    * the signature would be a precomputed stored column. */
  def minhashNearDuplicates(
      df: DataFrame,
      textCol: String,
      idCol: String,
      threshold: Double = 0.8,
      shingleSize: Int = 3,
      maxBucket: Int = 1000): DataFrame =
    rescore(df, textCol, idCol, shingleSize, maxBucket, minhashSignature(_, shingleSize),
      expr(s"aggregate(zip_with(_fa, _fb, (x, y) -> IF(x = y, 1, 0)), 0, (a, v) -> a + v)" +
        s" / cast($MinhashPerms as double)"),
      threshold, Some("est_jaccard"))

  /** LSH candidates re-scored with EXACT n-gram Jaccard (deterministic —
    * oracle-matchable): the per-pair score is a codegen'd `array_intersect`
    * over the two shingle-hash sets with J = i / (|a| + |b| - i). Returns
    * (id_a, id_b) with id_a < id_b. */
  def minhashNearDuplicatesExact(
      df: DataFrame,
      textCol: String,
      idCol: String,
      threshold: Double = 0.9,
      shingleSize: Int = 3,
      maxBucket: Int = 1000): DataFrame = {
    val i = size(array_intersect(col("_fa"), col("_fb"))).cast("double")
    val u = size(col("_fa")) + size(col("_fb")) - i
    rescore(df, textCol, idCol, shingleSize, maxBucket, ngramHashes(_, shingleSize),
      when(u === 0, lit(1.0)).otherwise(i / u), threshold, None)
  }

  /** The re-score behind both MinHash entry points. Candidate pairs come
    * from banding, persisted with their count; `feature` then runs ONCE per
    * candidate doc (docs appear in many pairs), over a corpus scan the
    * broadcast Bloom prunes in place (see [[pruneToCandidates]] — the
    * corpus is never shuffled). Both pair sides join their features as
    * `_fa` / `_fb`, and pairs whose `score` (a Column over those two) is at
    * least `threshold` are kept: (id_a, id_b [, scoreCol]). The feature
    * side broadcasts only while the persisted feature frame — candidate ids
    * plus Bloom false positives, which grow with the corpus — has fewer
    * than [[broadcastCandidateLimit]] rows; past it both joins shuffle. */
  private def rescore(df: DataFrame, textCol: String, idCol: String, shingleSize: Int,
      maxBucket: Int, feature: String => Array[Long], score: Column, threshold: Double,
      scoreCol: Option[String]): DataFrame = {
    val (cands, nCand) = minhashCandidatePairsCounted(df, textCol, idCol, shingleSize, maxBucket)
    val featUdf = udf((t: String) => feature(if (t == null) "" else t)).asNondeterministic()
    val docs = df.select(col(idCol).cast("long").as("_id"), col(textCol).as("_text"))
    val feats = pruneToCandidates(docs, "_id", cands, nCand)
      .select(col("_id"), featUdf(col("_text")).as("_f"))
      .persist()
    val nFeat = feats.count()
    def side(s: String) = gated(feats.select(col("_id").as(s"id_$s"), col("_f").as(s"_f$s")), nFeat)
    val scored = cands.join(side("a"), "id_a").join(side("b"), "id_b")
      .withColumn("_score", score)
      .filter(col("_score") >= threshold)
      .select((Seq(col("id_a"), col("id_b")) ++ scoreCol.map(col("_score").as(_))): _*)
    materializeReleasing(scored, cands, feats)
  }

  // ---------- SimHash ----------

  /** 64-bit SimHash over word hashes. */
  def simhash(text: String): Long = {
    val words = text.toLowerCase.split("\\W+").filter(_.nonEmpty)
    val acc = new Array[Int](64)
    words.foreach { w =>
      val h = fnv64(w)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) acc(b) += 1 else acc(b) -= 1
        b += 1
      }
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (acc(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** SimHash near-dup candidates: 4 bands of 16 bits; pairs whose full
    * hashes are within `maxHamming` (exact for `maxHamming <= 3`: three
    * errors over four bands leave one band clean, so every qualifying pair
    * shares at least one band bucket).
    *
    * Skew handling is a second banding LEVEL, not a drop: a band bucket
    * larger than `maxBucket` (boilerplate-heavy corpora concentrate
    * signatures) is re-bucketed by four 12-bit sub-bands of the OTHER 48
    * bits. A qualifying pair whose clean band landed in an over-cap bucket
    * has all its <=3 errors inside those 48 bits, so (pigeonhole again)
    * one sub-band is clean and the pair survives — an earlier revision
    * dropped over-cap buckets outright, which silently lost ~3% of true
    * pairs on the sf1 corpus while staying green at small SF. Degenerate
    * sub-buckets (thousands of near-identical signatures) are genuine
    * near-dup cliques whose EXACT answer is itself quadratic in the clique
    * — no cap can avoid that output; the sub-band join merely pays it
    * where it is real. */
  def simhashNearDuplicates(df: DataFrame, textCol: String, idCol: String,
      maxHamming: Int = 3, maxBucket: Int = 1000): DataFrame = {
    // asNondeterministic prevents projection collapse from re-evaluating
    // the hash UDF once per band row.
    val shUdf = udf((t: String) => simhash(if (t == null) "" else t)).asNondeterministic()
    val withH = df.select(col(idCol).cast("long").as("_id"), col(textCol).as("_t"))
      .select(col("_id"), shUdf(col("_t")).as("_sh"))
    val banded = withH.withColumn("_b", explode(array((0 until 4).map(lit): _*)))
      .withColumn("_h", expr("shiftrightunsigned(_sh, _b * 16)").bitwiseAND(lit(0xFFFFL)))
    // One window count over the same (_b,_h) shuffle the join needs splits
    // small from over-cap buckets; the banding pass is persisted so the
    // hash UDF runs once (see bandedBucketPairs for the same pattern).
    val w = org.apache.spark.sql.expressions.Window.partitionBy("_b", "_h")
    val counted = banded.withColumn("_n", count(lit(1)).over(w))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def pairsOf(src: DataFrame, keys: Seq[String]): DataFrame = {
      def side(suffix: String) = src.select(
        (keys.map(col) :+ col("_id").as(s"id$suffix")) :+ col("_sh").as(s"_sh$suffix"): _*)
      side("_a").join(side("_b"), keys)
        .filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b", "_sh_a", "_sh_b")
    }
    val small = pairsOf(counted.filter(col("_n") <= maxBucket), Seq("_b", "_h"))
    // Second level: the other 48 bits (band _b removed) in 4 x 12-bit
    // sub-bands. Codegen'd shift arithmetic, no UDF.
    val big = counted.filter(col("_n") > maxBucket)
      .withColumn("_rest", expr(
        "shiftleft(shiftrightunsigned(_sh, (_b + 1) * 16), _b * 16)")
        .bitwiseOR(expr("_sh & (shiftleft(cast(1 as bigint), _b * 16) - 1)")))
      .withColumn("_sb", explode(array((0 until 4).map(lit): _*)))
      .withColumn("_h2", expr("shiftrightunsigned(_rest, _sb * 12)").bitwiseAND(lit(0xFFFL)))
    val refined = pairsOf(big, Seq("_b", "_h", "_sb", "_h2"))
    materializeReleasing(
      small.union(refined)
        .withColumn("hamming", expr("cast(bit_count(_sh_a ^ _sh_b) as int)"))
        .filter(col("hamming") <= maxHamming)
        .select("id_a", "id_b", "hamming")
        .dropDuplicates("id_a", "id_b"),
      counted)
  }

  /** Resolve near-duplicate PAIRS into connected-component clusters and
    * assign every document its cluster id (the component's minimum doc id;
    * the canonical representative is the doc whose id equals its
    * cluster_id) — the step after pair generation in a dedup pipeline:
    * near-dup families are transitive (A~B, B~C), so keeping one doc per
    * PAIR over-deletes while one per COMPONENT is the standard policy.
    *
    * Algorithm: min-label propagation with POINTER JUMPING — each round
    * (a) takes the min over neighbors' labels and (b) replaces each label
    * by its label's label, so label chains halve every round and a
    * component of diameter d converges in O(log d) rounds, not O(d).
    * Each round is two pair-sized hash joins + one aggregation; documents
    * in no pair never enter the loop and come back as their own singleton
    * cluster via the final left join. Returns (doc_id, cluster_id).
    *
    * Unlike the pair producers above, the result is returned UNPERSISTED
    * (its plan is a distinct over `docs` joined to the checkpointed
    * labels): a caller that runs more than one action on it should
    * persist it first, or each action rescans `docs`. */
  def resolveClusters(docs: DataFrame, idCol: String, pairs: DataFrame,
      maxRounds: Int = 20): DataFrame = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val ids = docs.select(col(idCol).cast("long").as("id")).distinct()
    // No distinct() on the edge set: min() aggregation over a multiset of
    // neighbors equals min() over the set, so duplicate pairs cannot change
    // any label below — the dedup shuffle the earlier revision paid at
    // setup bought nothing (this module's pair producers already emit
    // unique (id_a, id_b) rows; a caller-supplied duplicate only costs its
    // own join row, never a wrong answer).
    val edges = pairs
      .select(col("id_a").cast("long").as("src"), col("id_b").cast("long").as("dst"))
      .union(pairs.select(col("id_b").cast("long").as("src"), col("id_a").cast("long").as("dst")))
      .persist(lvl)
    // Each round's label frame is EAGERLY LOCAL-CHECKPOINTED, not persisted:
    // persist caches the data but the lineage still embeds ~4 copies of the
    // previous round's plan (next = hopped ⋈ rep(hopped), hopped = labels ⋈
    // f(labels)), so the logical plan QUADRUPLES per round — at sf0.001 the
    // pre-fix loop built 45→145→379→677 MB plan strings and at corpus scale
    // it OOMs the driver before any data cost matters. Checkpointing
    // truncates each round's plan at the cached blocks (a one-node
    // LogicalRDD), making every round's plan constant-size.
    //
    // Initialization folds the classic first propagation round into ONE
    // aggregation over the edge list: label0(v) = min(v, min neighbor(v))
    // is exactly what round 1's neighbor-min hop would compute from
    // identity labels, for the cost of the node-set distinct the earlier
    // init paid anyway (both are one shuffle of the edge list; groupBy src
    // covers every node because edges carries both directions). For
    // clique-shaped near-dup families — every member directly adjacent to
    // the family minimum, the dominant real-corpus shape — label0 is
    // already the fixpoint and the loop below runs exactly one
    // verification round. Labels only ever decrease, so starting one hop
    // further along converges to the same component-minimum fixpoint in
    // the same or fewer rounds (monotone iteration, r15 A/B: sf0.1
    // dedup_clusters 2 rounds -> 1).
    val initObs = "graft_cluster_nodes"
    val init = edges.groupBy(col("src").as("id"))
      .agg(min(col("dst")).as("_nmin"))
      .select(col("id"), least(col("id"), col("_nmin")).as("label"))
      .observe(initObs, count(lit(1)).as("n"))
    var labels = init.localCheckpoint(true)
    // Node count, measured by the init materialization itself (observed
    // metric — no extra job). A local-checkpointed frame is a stats-less
    // LogicalRDD, so without help the planner guesses its size as
    // defaultSizeInBytes and BROADCASTS THE EDGE CACHE instead (observed at
    // sf1: a 1.8M-row / 44 MB edge broadcast rebuilt in every round while
    // the 16-byte-per-row label frame shuffled). The measured count drives
    // an explicit size gate: labels broadcast only while they verifiably
    // fit, and at corpus scale the loop degrades to shuffle joins.
    val nNodes = init.queryExecution.observedMetrics(initObs).getLong(0)
    def lbl(d: DataFrame): DataFrame = if (nNodes < 1000000L) broadcast(d) else d
    maxClusterLoopPlanNodes = planNodes(labels)
    var changed = 1L
    var round = 0
    while (changed > 0 && round < maxRounds) {
      // Fused neighbor-min hop: every node's OWN label rides the same
      // (id)-keyed aggregation as its neighbors' labels (tagged by _own so
      // the pre-round label comes back for the convergence metric), which
      // replaces the old nbrMin-then-join-back-to-labels shape — one whole
      // join (and its exchange / broadcast-build job) less per round. The
      // union branch is exactly one row per labeled node, so
      // min(when(_own, _l)) recovers the old label and min(_l) is
      // min(own, min-neighbor) — identical to the previous hop.
      val contrib = edges
        .join(lbl(labels.select(col("id").as("dst"), col("label").as("_nl"))), "dst")
        .select(col("src").as("id"), col("_nl").as("_l"), lit(false).as("_own"))
        .union(labels.select(col("id"), col("label").as("_l"), lit(true).as("_own")))
      val hopped = contrib.groupBy("id").agg(
        min(col("_l")).as("label"),
        min(when(col("_own"), col("_l"))).as("_old"))
      // Pointer jumping: label <- label(label); halves chain length per
      // jump. Every label value is itself a node id present in the frame
      // (labels are minima over node ids), so the left join always matches;
      // left + coalesce only guards the empty-frame degenerate case.
      def jump(df: DataFrame): DataFrame = {
        val rep = df.select(col("id").as("label"), col("label").as("_ll"))
        df.join(rep, Seq("label"), "left")
          .select(col("id"), col("_old"),
            least(col("label"), coalesce(col("_ll"), col("label"))).as("label"))
      }
      // Round 1 jumps once: clique-shaped families (the dominant real
      // corpus shape) are already at the fixpoint after init, so a second
      // jump would be two extra exchanges for nothing. From round 2 on the
      // component is provably deep, so each checkpoint barrier carries TWO
      // jumps — chain distance quarters per round and a diameter-d
      // component pays ~log4(d) driver barriers instead of ~log2(d).
      val jumped = if (round == 0) jump(hopped) else jump(jump(hopped))
      // The convergence count rides the checkpoint job as an observed
      // metric (CollectMetrics accumulates during the materialization pass)
      // instead of a separate count() job per round — one action, one
      // driver barrier per round.
      val obsName = s"graft_cluster_changed_r$round"
      val observed = jumped.observe(obsName,
        coalesce(sum(when(col("label") =!= col("_old"), 1L).otherwise(0L)), lit(0L))
          .as("changed"))
      maxClusterLoopPlanNodes = math.max(maxClusterLoopPlanNodes, planNodes(observed))
      val next = observed.localCheckpoint(true)
      changed = observed.queryExecution.observedMetrics(obsName).getLong(0)
      releaseCheckpoint(labels)
      labels = next.select("id", "label")
      round += 1
    }
    if (changed > 0)
      throw new IllegalStateException(
        s"cluster resolution did not converge in $maxRounds rounds (component diameter > 2^$maxRounds)")
    val out = ids.join(lbl(labels), Seq("id"), "left")
      .select(col("id").as("doc_id"), coalesce(col("label"), col("id")).as("cluster_id"))
    // The FINAL labels checkpoint is NOT explicitly released: the result's
    // (truncated) lineage bottoms out in it, so a lost result block must
    // be able to recompute through those blocks — releasing them here
    // would turn an executor loss into a job failure. The frame is small
    // (two long columns, one row per clustered id) and Spark's
    // ContextCleaner unpersists it once the returned frame drops the last
    // reference; only the per-round INTERMEDIATE checkpoints (unreferenced
    // by any lineage) are released eagerly in the loop above.
    //
    // The result itself is NOT persisted+counted here (it was through r15):
    // unlike the pair frames, `out` no longer references any cache that is
    // released below — its plan is ids ⋈ labels-checkpoint only — so the
    // caller's own action computes it directly and an extra materialization
    // job bought nothing. edges fed only the (already-checkpointed) loop.
    edges.unpersist(false)
    out
  }

  /** Largest analyzed-plan node count seen inside the last
    * [[resolveClusters]] loop — the lineage-growth guard's probe. With the
    * checkpoint fix the count is flat across rounds (a few dozen nodes);
    * the pre-fix persist loop grew it ~4× per round. */
  @volatile private[graft] var maxClusterLoopPlanNodes: Int = 0

  private def planNodes(df: DataFrame): Int = {
    var n = 0
    df.queryExecution.analyzed.foreach(_ => n += 1)
    n
  }

  /** Release the cached blocks behind a local-checkpointed DataFrame.
    * Dataset.unpersist only clears CacheManager entries from persist(), so
    * a checkpointed loop iteration's blocks would otherwise linger until
    * the driver GC notices the dropped RDD reference — explicit release
    * keeps the loop's footprint at one labels copy instead of one per
    * round. */
  private def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.unpersist(false)
      case _ => ()
    }

  /** Distinct word-shingle HASHES, sorted — set semantics identical to the
    * string shingles (64-bit collisions are ~1e-13 per document) but the
    * exact-Jaccard re-score then intersects longs instead of allocating
    * and comparing one string per shingle, which dominated the re-score
    * cost on dup-dense corpora. */
  def ngramHashes(s: String, n: Int): Array[Long] =
    ngramHashesFromWords(s.toLowerCase.split("\\W+").filter(_.nonEmpty), n)

  /** [[ngramHashes]] over an already-tokenized word array — for callers
    * that need the token list for their own checks (e.g. the
    * decontamination empty-document guard) without tokenizing twice. */
  def ngramHashesFromWords(w: Array[String], n: Int): Array[Long] = {
    if (w.length < n) Array(fnv64(w.mkString(" ")))
    else {
      val wh = new Array[Long](w.length)
      var x = 0
      while (x < w.length) { wh(x) = fnv64(w(x)); x += 1 }
      val out = new Array[Long](w.length - n + 1)
      var i = 0
      while (i <= w.length - n) {
        var h = 0xcbf29ce484222325L
        var k = 0
        while (k < n) { h ^= wh(i + k); h *= 0x100000001b3L; k += 1 }
        out(i) = h
        i += 1
      }
      java.util.Arrays.sort(out)
      var m = 0
      var j = 0
      while (j < out.length) {
        if (j == 0 || out(j) != out(j - 1)) { out(m) = out(j); m += 1 }
        j += 1
      }
      java.util.Arrays.copyOf(out, m)
    }
  }

  /** Word n-gram shingle set (the unit of exact Jaccard). */
  def ngrams(s: String, n: Int = 3): Set[String] = {
    val w = s.toLowerCase.split("\\W+").filter(_.nonEmpty)
    if (w.length < n) Set(w.mkString(" "))
    else (0 to w.length - n).map(i => w.slice(i, i + n).mkString(" ")).toSet
  }

  /** N-gram Jaccard similarity for a verified pair (exact, not estimated) —
    * used to re-score LSH candidates. */
  def ngramJaccard(a: String, b: String, n: Int = 3): Double = {
    val (ga, gb) = (ngrams(a, n), ngrams(b, n))
    if (ga.isEmpty && gb.isEmpty) 1.0
    else ga.intersect(gb).size.toDouble / ga.union(gb).size.toDouble
  }
}
