package graft.ops

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import graft.functions.{Text, Vectors}

/**
 * Deduplication operators for training-data pipelines: exact, MinHash+LSH,
 * SimHash, n-gram Jaccard, embedding-cosine near-dup.
 *
 * Scale design notes (the part that matters at 100 TB):
 *  - exact dedup is a single hash groupBy (partial-agg absorbs dup mass
 *    map-side; identical texts collapse before the shuffle);
 *  - every near-dup pipeline (MinHash LSH, SimHash Manku blocks, embedding
 *    sign-bit LSH) is ONE wide shuffle: signature + bucket keys computed in
 *    a single codegen stage, `groupBy(bucket).collect_list(struct(id,sig))`,
 *    then a native [[graft.functions.VerifiedPairsBase]] generator emits
 *    verified pairs per bucket — the quadratic step runs per-bucket, never
 *    globally, bounded by the bucket cap (a free `size` filter on the
 *    collected list), and rejected candidates never materialize as rows;
 *  - SimHash buckets on Manku/Jain/Sarma WWW'07 block combinations so
 *    hamming≤d pairs collide in ≥1 table; the block-count knob trades
 *    explode factor against bucket density (see [[simhashNearDups]]).
 */
object Dedup {

  /** Buckets larger than `cap` with their sizes — the dropped-candidate
    * report for a capped LSH pipeline. */
  def overflowBuckets(df: DataFrame, keyCols: Seq[String], cap: Int): DataFrame =
    df.groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("bucket_size"))
      .where(col("bucket_size") > cap)

  /** Exact duplicate groups by full content hash. Returns (content_hash, cnt). */
  def exactDupGroups(df: DataFrame, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol).cast(StringType)).as("content_hash"))
      .agg(count(lit(1)).as("cnt"))
      .where(col("cnt") > 1)

  /**
   * Keep one representative row per exact-duplicate group (min of `idCol`).
   *
   * Partial-agg + anti-join shape, NOT a window over the content hash: a
   * skewed exact-dup group (boilerplate/templated pages — 10⁸ rows of one
   * text at web scale) would land a window's whole group on ONE task's
   * sort, while `groupBy(hash)` collapses the dup mass map-side before the
   * shuffle; the two narrow passes shuffle only (hash, id). The removal
   * set (the dup mass, a few percent of a real corpus) is far too big to
   * broadcast at 10¹² rows, and nothing relies on a broadcast: the shape is
   * safe because the anti-join key is the unique id, so no hot key routes
   * full rows to one task.
   * `idCol` is assumed unique per row (the dedup key contract; duplicate
   * (text, id) carriers are all representatives of their group).
   */
  def exactDedup(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val h = md5(col(textCol).cast(StringType))
    val narrow = df.select(h.as("_ch"), col(idCol).as("_id"))
    // dup groups only: (hash, min id) — partial aggregation absorbs any
    // hot group's mass before the exchange, and the narrow projection
    // shuffles (hash, id), never the text
    val dupGroups = narrow.groupBy(col("_ch"))
      .agg(min(col("_id")).as("_rep"), count(lit(1)).as("_n"))
      .where(col("_n") > 1)
      .select(col("_ch"), col("_rep"))
    // removal set = non-representative members of dup groups; the final
    // anti-join is keyed on the unique id, so no content-hash hot key ever
    // routes full rows to one task (the window form's failure mode)
    val removals = narrow.join(dupGroups, "_ch")
      .where(col("_id") =!= col("_rep"))
      .select(col("_id").as(idCol))
    df.join(removals, Seq(idCol), "left_anti")
  }

  /**
   * Word-shingle hashes WITHOUT building shingle strings: tokens are hashed
   * once, then each shingle hash combines `n` consecutive token hashes via
   * xxhash64 over longs. Computed by the native codegen'd
   * [[graft.functions.ShingleHashes]] expression: the HOF form (kept in the
   * tests as `DedupHof.shingleHashesHOF`) reads the token-hash array
   * through `element_at` inside a lambda, which
   * re-evaluates the whole array construction per access — O(n²·k) token
   * hashes per doc, measured 16.6 s for 5,050 docs (it, not the signature
   * passes, was the true minhash bottleneck).
   */
  def shingleHashes(textCol: Column, shingleSize: Int): Column =
    graft.functions.HashExpressions.shingleHashesNative(Text.tokens(textCol), shingleSize)

  /**
   * MinHash signature: `numHashes` independent permutation mins over the
   * shingle-hash set; permutation i = top-32-bits of xxhash64(seed=i,
   * shingleHash) — 32-bit minhash values (`array<int>`): per-slot collision
   * probability is Jaccard + O(2^-32), same LSH power at HALF the signature
   * bytes. Computed by the FUSED codegen'd
   * [[graft.functions.MinHashFromTokens]] expression — tokens → rolling
   * shingle window → per-slot mins in one pass, no intermediate shingle
   * array, no dedup set (min over multiset ≡ min over set); output
   * bit-identical to the two-step
   * `minhashSignatureNative(shingleHashes(...))` form (property-tested).
   */
  def minhashSignature(textCol: Column, numHashes: Int, shingleSize: Int = 3): Column =
    graft.functions.HashExpressions.minhashFromTokensNative(
      Text.tokens(textCol), shingleSize, numHashes)

  /** One LSH band key per band: xxhash64 over (band index, the band's
    * signature slots) — band index hashed INTO the key so one long keys
    * the whole table set. Shared by the batch pipeline and the streaming
    * near-dup operator ([[graft.streaming.ValidateStream.nearDupPairs]]). */
  private[graft] def bandKeyCols(sig: Column, numHashes: Int, bands: Int): Seq[Column] = {
    val rowsPerBand = numHashes / bands
    (0 until bands).map { b =>
      xxhash64(lit(b) +: (0 until rowsPerBand)
        .map(r => element_at(sig, b * rowsPerBand + r + 1)): _*)
    }
  }

  /**
   * MinHash + LSH banding near-dup candidate pairs: signature split into
   * `bands` bands of rows; docs sharing any band bucket are candidates;
   * candidates verified by exact signature-similarity (fraction of equal
   * minhash components ≈ Jaccard).
   *
   * Returns (id_a, id_b, sig_sim) with id_a < id_b, sig_sim ≥ threshold.
   *
   * ONE-SHUFFLE shape: the whole pipeline is
   *
   *   scan → sig + band keys (one codegen stage) → explode(bands)
   *        → groupBy(bucket).collect_list(struct(id, sig))   [the shuffle]
   *        → size(items) ≤ cap filter → [[graft.functions.MinhashPairs]]
   *        → dropDuplicates(id_a, id_b)                      [pairs-only]
   *
   * Each signature is computed once and nothing is cached. Report buckets
   * dropped by the cap via [[overflowBuckets]]. Band index is hashed INTO
   * the bucket key, so the key is a single long; a cross-band key
   * collision merely merges two buckets — extra candidates are then
   * signature-verified, so the result is unchanged w.h.p. (2⁻⁶⁴-scale).
   *
   * At cluster scale nothing here needs persistence or checkpointing: the
   * output is a plain DataFrame — write it to a table for durability.
   */
  def minhashNearDups(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 32, bands: Int = 8, shingleSize: Int = 3,
      threshold: Double = 0.7, maxBucket: Int = 100000): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    // fused tokens→signature expression: one codegen pass, no intermediate
    // shingle array to materialize or dedup. Null-text docs are dropped
    // (the old size(sh) > 0 filter's only effect — sh was never empty).
    val withSig = df
      .where(col(textCol).isNotNull)
      .select(col(idCol).as("id"),
        minhashSignature(col(textCol), numHashes, shingleSize).as("sig"))
    // band key = xxhash64 over (band, the band's signature slots) — pure
    // long-hash codegen computed in the SAME stage as the signature (no
    // separate pass, no cached table to re-read). Band indices are
    // literals, so each slot is an O(1) element_at on the materialized sig
    // column. The same pair may collide in several bands.
    bucketPairs(withSig, "sig", bandKeyCols(col("sig"), numHashes, bands), maxBucket,
      graft.functions.HashExpressions.minhashPairs(_, numHashes, threshold), "sig_sim")
  }

  /** The bucket → pairs tail all near-dup pipelines share (see the object
    * doc): `base` is `(id, <payload>)`; `maxBucket <= 0` keeps every bucket;
    * `pairs` maps a bucket's items to `(id_a, id_b, <metric>)` rows. */
  private def bucketPairs(base: DataFrame, payload: String, keys: Seq[Column],
      maxBucket: Int, pairs: Column => Column, metric: String): DataFrame = {
    val buckets = base.select(col("id"), col(payload), explode(array(keys: _*)).as("bucket"))
      .groupBy("bucket")
      .agg(collect_list(struct(col("id"), col(payload))).as("items"))
    val capped = if (maxBucket > 0) buckets.where(size(col("items")) <= maxBucket) else buckets
    capped.select(pairs(col("items")).as(Seq("id_a", "id_b", metric)))
      .dropDuplicates("id_a", "id_b")
  }

  /**
   * 64-bit SimHash over tokens: bit b of the hash is the sign of the sum of
   * (2*bit_b(xxhash64(token)) - 1) across tokens. Computed by the native
   * codegen'd [[graft.functions.Simhash64]] expression — the HOF form
   * (`DedupHof.simhash64HOF` in the tests) ran 64 interpreted zip_with ops
   * per token (16.0 s for 5,050 docs, ~3 ms/doc: a scale-killer at corpus
   * size).
   */
  def simhash64(textCol: Column): Column =
    graft.functions.HashExpressions.simhash64Native(Text.tokens(textCol))

  /**
   * SimHash near-dup pairs with hamming distance ≤ maxHamming, using the
   * GENERAL Manku block scheme (Manku/Jain/Sarma, WWW'07 "Detecting
   * Near-Duplicates for Web Crawling" §3): split 64 bits into `numBlocks`
   * (k) blocks and bucket on every combination of (k − d) blocks, d =
   * maxHamming. A pair within hamming ≤ d has its differing bits in ≤ d
   * blocks, so ≥ k − d blocks agree — in particular the combination made
   * of those agreeing blocks — so every true pair collides in ≥ 1 table
   * (recall 1 before caps).
   *
   * THE k KNOB IS THE SCALE DIAL. k = d + 1 (the default, combinations of
   * size 1) keys on ~64/k bits — cheapest explode (k tables) but bucket
   * density grows as n / 2^(64/k): at d = 3 that is n/65536 docs per
   * bucket, and the per-bucket s²/2 join work turns quadratic once
   * n ≫ 10⁶ (measured: a 4M-doc probe ground to minutes). Raising k
   * widens the key: k = 6, d = 3 keys on 3 blocks ≈ 32 bits —
   * C(6,3) = 20 tables (20× linear explode) but ~n/2^32 expected bucket
   * density, which stays sub-1 up to billions of docs. Pick the smallest
   * k whose key width keeps n / 2^keyBits ≪ cap.
   */
  def simhashNearDups(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucket: Int = 100000, numBlocks: Int = 0): DataFrame = {
    val d = maxHamming
    val k = if (numBlocks <= 0) d + 1 else numBlocks
    require(k > d, s"numBlocks ($k) must exceed maxHamming ($d)")
    require(k <= 16, "numBlocks > 16 gives < 4-bit blocks — raise bits per block instead")
    val combos = (0 until k).combinations(k - d).toSeq
    require(combos.size <= 64,
      s"C($k, ${k - d}) = ${combos.size} tables — too many; lower numBlocks")
    val bounds = (0 to k).map(i => i * 64 / k) // block i = bits [bounds(i), bounds(i+1))
    def blockVal(sig: Column, i: Int): Column = {
      val sh = bounds(i)
      val width = bounds(i + 1) - sh
      val extracted = call_function("shiftrightunsigned", sig, lit(sh))
      if (sh + width >= 64) extracted
      else extracted.bitwiseAND(lit((1L << width) - 1))
    }
    val withSig = df.select(col(idCol).as("id"), simhash64(col(textCol)).as("sig"))
    // one key per (k−d)-combination: xxhash64 over (combo index, the combo's
    // block values) — pure long-hash codegen in the signature's stage; the
    // combo index is hashed INTO the key so one long keys the whole table
    // set (the sig payload here is a single long)
    val keys = combos.zipWithIndex.map { case (combo, ci) =>
      xxhash64((lit(ci.toLong) +: combo.map(i => blockVal(col("sig"), i))): _*)
    }
    bucketPairs(withSig, "sig", keys, maxBucket,
      graft.functions.HashExpressions.hammingPairs(_, maxHamming), "hamming")
  }

  /** Pairwise word-set Jaccard similarity for candidate pairs (verification step). */
  def jaccardWords(a: Column, b: Column): Column = {
    val da = size(array_distinct(a))
    val db = size(array_distinct(b))
    val du = size(array_distinct(concat(a, b)))
    val inter = da + db - du
    when(du === 0, lit(0.0)).otherwise(inter.cast(DoubleType) / du.cast(DoubleType))
  }

  /**
   * n-gram Jaccard near-dups over an explicit candidate set (self-join of a
   * bounded id range or pre-bucketed candidates). For unbounded inputs use
   * [[minhashNearDups]] — this exact variant is the verifier / small-N path,
   * and it ENFORCES that contract: the input is counted up front and the
   * call throws (before any cross join is scheduled) when it exceeds
   * `maxRows`. The count is one cheap job on an input that is small by
   * contract; an unguarded O(n²) cartesian reaching a 10^9-row frame by
   * accident is the scale failure this forbids.
   */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double, maxRows: Long = 100000L): DataFrame = {
    require(maxRows > 0, "maxRows must be positive")
    val nRows = df.count()
    require(nRows <= maxRows,
      s"ngramJaccardPairs is the exact small-N verifier: input has $nRows rows > maxRows=$maxRows " +
        s"(~${nRows * nRows / 2} candidate pairs); use minhashNearDups for unbounded inputs " +
        "or raise maxRows deliberately")
    val sh = df.select(col(idCol).as("id"),
      array_distinct(Text.shingles(col(textCol), n)).as("sh"))
    val a = sh.select(col("id").as("id_a"), col("sh").as("sh_a"))
    val b = sh.select(col("id").as("id_b"), col("sh").as("sh_b"))
    a.crossJoin(b).where(col("id_a") < col("id_b"))
      .withColumn("jaccard", jaccardWords(col("sh_a"), col("sh_b")))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /**
   * Embedding-cosine near-dup pairs: bucket by sign-bit LSH (high-cosine
   * pairs collide with high probability), exact cosine within buckets.
   * `lshBits` trades recall vs bucket size; multi-probe via several seeds.
   */
  def embeddingNearDups(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.95, lshBits: Int = 8, probes: Int = 2,
      maxBucket: Int = 100000): DataFrame = {
    val base = df.select(col(idCol).as("id"), Vectors.normalize(col(vecCol)).as("v"))
    // probe index hashed INTO the bucket key; cosine of pre-normalized
    // vectors = ascending-order dot, computed inside the generator —
    // bit-identical to the Vectors.dot Column form
    val probeKeys = (0 until probes).map(s =>
      xxhash64(lit(s), Vectors.signBits(col("v"), lshBits, seed = 42 + s)))
    bucketPairs(base, "v", probeKeys, maxBucket,
      graft.functions.HashExpressions.cosinePairs(_, threshold), "cos")
  }

  /** Round bound of [[connectedComponents]] and its [[connectedComponentsStar]] name. */
  private val ComponentsMaxIter = 30

  /**
   * Connected components over an undirected pair set — the step between
   * "near-dup pairs found" and "corpus deduplicated": every node of a
   * component gets the component's MINIMUM id as `label`, so
   * `id === label` picks exactly one representative per cluster and
   * everything else is the removal set.
   *
   * Alternating large-star / small-star rounds on plain RDDs (Kiveris,
   * Lattanzi, Mirrokni, Rastogi, Vassilvitskii, "Connected Components in
   * MapReduce and Beyond", SoCC'14): O(log² n) rounds on ANY graph, so a
   * drift chain (doc i near-dup of doc i+1 only, diameter = chain length)
   * terminates like a near-clique, and the edge set never grows across
   * rounds, so a round costs at most its input. An edge is (node, target)
   * with target < node after round 1. Each round is
   *  - large-star: group the symmetric adjacency by node u and point every
   *    strictly larger neighbor at m = min(N(u) ∪ {u});
   *  - small-star: group by the larger endpoint u and point u and its
   *    smaller neighbors at their minimum — persisted, the next round's input;
   *  - the star check: one reduceByKey over the new edges, whose count is
   *    the round's one job and also materialises the persisted round.
   * A round has converged when every node has at most one distinct target
   * and no target has a target of its own. The edges are then disjoint
   * stars; rounds preserve connectivity, so each star is a whole component,
   * centred on its minimum because every edge points at a smaller id.
   * Exceeding `maxIter` rounds FAILS LOUDLY: an unconverged labeling
   * silently under-merges clusters, which a dedup must never do.
   *
   * The caller's pair plan is read ONCE, into a persisted (long, long) RDD
   * that round 1 and the node set both derive from; nodes that appear only
   * in self-pairs label themselves. No Catalyst query or generated class
   * per round, and the graph is never collected to one machine. Returns
   * (id, label) backed by one eager local checkpoint; every RDD the call
   * persists is unpersisted on the way out, on success and on failure.
   */
  def connectedComponents(pairs: DataFrame, aCol: String = "id_a",
      bCol: String = "id_b", maxIter: Int = ComponentsMaxIter): DataFrame = {
    val input = pairs.select(col(aCol).cast(LongType), col(bCol).cast(LongType)).rdd
      .map(r => (r.getLong(0), r.getLong(1))).persist(StorageLevel.MEMORY_AND_DISK)
    var edges = input.filter { case (a, b) => a != b }
    try {
      var rounds = 0
      var converged = false
      while (!converged) {
        if (rounds == maxIter) {
          throw new IllegalArgumentException(
            s"connectedComponents did not converge in $maxIter rounds — raise maxIter; " +
              "an unconverged labeling under-merges")
        }
        val large = edges.flatMap { case (a, b) => Iterator((a, b), (b, a)) }.groupByKey()
          .flatMap { case (u, nbrs) =>
            val m = math.min(u, nbrs.min)
            nbrs.iterator.filter(_ > u).distinct.map(v => (v, m))
          }
        // large-star edges already point from the larger endpoint (v > u >= m)
        val next = large.groupByKey().flatMap { case (u, smaller) =>
          val m = smaller.min
          (Iterator(u) ++ smaller.iterator).filter(_ != m).distinct.map(v => (v, m))
        }.persist(StorageLevel.MEMORY_AND_DISK)
        try converged = nonStarNodes(next) == 0
        finally { edges.unpersist(); edges = next }
        rounds += 1
      }
      val labels = input.flatMap { case (a, b) => Iterator((a, a), (b, b)) }
        .union(edges).reduceByKey(math.min(_, _), input.getNumPartitions)
      pairs.sparkSession.createDataFrame(labels).toDF("id", "label").localCheckpoint(true)
    } finally { input.unpersist(); edges.unpersist() }
  }

  /** Nodes of `edges` (node → target) that break the star shape: more than
    * one distinct target, or a target that has a target of its own. */
  private def nonStarNodes(edges: RDD[(Long, Long)]): Long =
    edges.flatMap { case (v, t) =>
      Iterator((v, (t, t, false)), (t, (Long.MaxValue, Long.MinValue, true)))
    }.reduceByKey((x, y) => (math.min(x._1, y._1), math.max(x._2, y._2), x._3 || y._3))
      .filter { case (_, (lo, hi, isTarget)) => lo <= hi && (lo != hi || isTarget) }
      .count()

  /** [[connectedComponents]] under the name the benchmark sweep and the
    * `d_components_star` query call. */
  def connectedComponentsStar(pairs: DataFrame, aCol: String = "id_a",
      bCol: String = "id_b", maxIter: Int = ComponentsMaxIter): DataFrame =
    connectedComponents(pairs, aCol, bCol, maxIter)

  /**
   * Remove near-duplicates given their pair set: keep one representative
   * (the minimum id) per connected component, plus every unpaired doc.
   * The anti-join side is the REMOVAL set (paired non-representatives),
   * keyed on the unique id: small removal sets broadcast under AQE, large
   * ones sort-merge without skew. Components come from
   * [[connectedComponents]], whose star rounds terminate on near-clique
   * and drift-chain pair sets alike.
   */
  def dedupByPairs(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val removals = connectedComponents(pairs)
      .where(col("id") =!= col("label"))
      .select(col("id").as(idCol))
    df.join(removals, Seq(idCol), "left_anti")
  }

  /** Exact brute-force embedding near-dups (oracle / small-N verification
    * path). Like [[ngramJaccardPairs]], the small-N contract is ENFORCED:
    * the input is counted up front and the call throws BEFORE any cross
    * join is scheduled when it exceeds `maxRows` — an unguarded O(n²)
    * cartesian reaching an unbounded frame is the scale failure this
    * forbids. Use [[embeddingNearDups]] for unbounded inputs. */
  def embeddingNearDupsExact(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, maxRows: Long = 100000L): DataFrame = {
    require(maxRows > 0, "maxRows must be positive")
    val nRows = df.count()
    require(nRows <= maxRows,
      s"embeddingNearDupsExact is the exact small-N verifier: input has $nRows rows > " +
        s"maxRows=$maxRows (~${nRows * nRows / 2} candidate pairs); use embeddingNearDups " +
        "for unbounded inputs or raise maxRows deliberately")
    val base = df.select(col(idCol).as("id"), col(vecCol).as("v"))
    val a = base.select(col("id").as("id_a"), col("v").as("v_a"))
    val b = base.select(col("id").as("id_b"), col("v").as("v_b"))
    a.crossJoin(b).where(col("id_a") < col("id_b"))
      .withColumn("cos", Vectors.cosine(col("v_a"), col("v_b")))
      .where(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
  }
}
