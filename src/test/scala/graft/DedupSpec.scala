package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.functions._
import graft.ops.{Ann, Dedup, DedupHof}
import graft.functions.{Text, Vectors}

class DedupSpec extends SparkTestBase {

  /** Distinct whole-stage classes of one minhash → CC → dedup pass. */
  private val WholeStageBudget = 16

  private val words = Vector("spark", "data", "table", "row", "column", "join", "scan",
    "filter", "agg", "merge", "batch", "key", "value", "hash", "sort", "group", "window",
    "query", "plan", "stage")

  /** Deterministic doc: ~40 words from the vocab. */
  private def mkText(i: Int): String = {
    (0 until 40).map { j =>
      val h = i.toLong * 2654435761L + (j + 1).toLong * 2246822519L
      words(Math.floorMod((h >> 7).toInt, words.size))
    }.mkString(" ")
  }

  private def corpus(n: Int) = {
    val spark0 = spark
    import spark0.implicits._
    // base docs + near-dups of the first 5 (one word changed) + exact dups of 3
    val base = (0 until n).map(i => (i.toLong, mkText(i)))
    val nearDups = (0 until 5).map(i => (1000L + i, mkText(i).replaceFirst("\\w+$", "changed")))
    val exactDups = (0 until 3).map(i => (2000L + i, mkText(i)))
    (base ++ nearDups ++ exactDups).toDF("id", "text").repartition(4)
  }

  test("exact dedup: duplicate groups found, representatives kept") {
    val df = corpus(50)
    val groups = Dedup.exactDupGroups(df, "text")
    assert(groups.count() === 3)
    val deduped = Dedup.exactDedup(df, "text", "id")
    assert(deduped.count() === df.count() - 3)
    // representative is the min id of each group
    assert(deduped.where(col("id") >= 2000).count() === 0)
  }

  test("minhash LSH finds injected near-dups (and exact dups)") {
    val df = corpus(50)
    val pairs = Dedup.minhashNearDups(df, "id", "text", numHashes = 32, bands = 8,
      shingleSize = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the 3 exact dups must be found (signature similarity 1.0)
    for (i <- 0 until 3) assert(pairs.contains((i.toLong, 2000L + i)), s"exact dup $i missing")
    // most of the 5 near-dups should be found (one word changed in ~38 shingles)
    val foundNear = (0 until 5).count(i => pairs.contains((i.toLong, 1000L + i)))
    assert(foundNear >= 4, s"found only $foundNear/5 near-dups")
  }

  test("simhash near-dups: exact dups at hamming 0; block bucketing catches hamming<=3") {
    val df = corpus(50)
    val pairs = Dedup.simhashNearDups(df, "id", "text", maxHamming = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    for (i <- 0 until 3) {
      assert(pairs.get((i.toLong, 2000L + i)).contains(0), s"exact dup $i should be hamming 0")
    }
  }

  test("connected components: transitive clusters get min-id labels; dedup keeps representatives") {
    val spark0 = spark
    import spark0.implicits._
    // chain 1-2-3 (transitive, never a direct 1-3 pair), pair 10-11,
    // duplicate+reversed edges, and a longer chain 20..24; the input counts
    // its reads, so a second scan of the caller's pair plan shows
    val sc = spark.sparkContext
    val reads = sc.longAccumulator("pair reads")
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (11L, 10L), (2L, 1L),
      (20L, 21L), (21L, 22L), (22L, 23L), (23L, 24L))
    val pairs = sc.parallelize(edges, 3).map { p => reads.add(1); p }.toDF("id_a", "id_b")
    def persisted = sc.getPersistentRDDs.toMap
    // two star rounds (one star-check job each; the second round's check
    // is the labeling) and the collect
    val jobs = new AtomicInteger
    val countJobs = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet(): Unit
    }
    val beforeSuccess = persisted.keySet
    val labels = listening(countJobs)(Dedup.connectedComponents(pairs).collect())
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L, 23L -> 20L, 24L -> 20L))
    assert(reads.value === edges.size.toLong, "the pair input was read more than once")
    assert(jobs.get <= 3, s"connectedComponents ran ${jobs.get} jobs on the mixed graph")
    // persisted-RDD hygiene, checked as growth only (ContextCleaner may drop
    // earlier RDDs meanwhile): success keeps at most the one RDD backing
    // the returned labels, non-convergence keeps nothing
    val grown = persisted.keySet -- beforeSuccess
    assert(grown.size <= 1, s"persisted RDDs left behind: ${grown.flatMap(persisted.get)}")
    // non-convergence fails loudly instead of under-merging: the 20..24
    // chain is not a star after one round
    val beforeFailure = persisted.keySet
    intercept[IllegalArgumentException] {
      Dedup.connectedComponents(pairs, maxIter = 1)
    }
    val leaked = persisted.keySet -- beforeFailure
    assert(leaked.isEmpty, s"persisted RDDs left behind: ${leaked.flatMap(persisted.get)}")
    // dedupByPairs: one representative per cluster + all unpaired docs
    val docs = (1L to 5L).union(Seq(10L, 11L, 30L)).toDF("id")
      .withColumn("text", concat(lit("d"), col("id")))
    val kept = Dedup.dedupByPairs(docs, "id",
      Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b"))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 4L, 5L, 10L, 30L))
    // cache hygiene: nothing pinned in the SQL cache manager
    assert(spark.sharedState.cacheManager.isEmpty,
      "connectedComponents left a DataFrame pinned in the cache manager")
  }

  /** Min-id component labels by a local union-find: the reference
    * the distributed star rounds are checked against. */
  private def unionFindLabels(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      // the larger root goes under the smaller: every root is its component's min
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(x => x -> find(x)).toMap
  }

  test("star components match a union-find reference and converge on deep chains") {
    val spark0 = spark
    import spark0.implicits._
    val sc = spark.sparkContext
    def persisted = sc.getPersistentRDDs.toMap
    def labelsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // seeded random graphs with self-pairs, duplicate pairs and reversed pairs
    for (seed <- Seq(42, 7, 2024)) {
      val rnd = new scala.util.Random(seed)
      val ids = 40 + rnd.nextInt(160)
      val base = Seq.fill(ids + rnd.nextInt(ids)) {
        (rnd.nextInt(ids).toLong, rnd.nextInt(ids).toLong)
      }
      val pairs = base ++ base.take(20).map(_.swap) ++ base.take(10) ++
        base.take(5).map { case (a, _) => (a, a) }
      assert(labelsOf(Dedup.connectedComponents(pairs.toDF("id_a", "id_b"))) ===
        unionFindLabels(pairs), s"seed $seed")
    }
    // self-pair-only node labels itself; empty input yields empty labels;
    // the star name runs the same rounds
    assert(labelsOf(Dedup.connectedComponents(Seq((5L, 5L)).toDF("id_a", "id_b"))) ===
      Map(5L -> 5L))
    assert(Dedup.connectedComponents(Seq.empty[(Long, Long)].toDF("id_a", "id_b"))
      .count() === 0L)
    assert(labelsOf(Dedup.connectedComponentsStar(Seq((3L, 2L), (2L, 9L)).toDF("id_a", "id_b")))
      === Map(2L -> 2L, 3L -> 2L, 9L -> 2L))
    // drift chain: a 4096-node path graph has diameter 4095, and the star
    // rounds must converge in O(log² n) rounds (13 here), not O(diameter);
    // three rounds are not enough. Shift ids so min-id is NOT an endpoint
    // (label must still be the component min, found mid-chain).
    val n = 4096
    val chain = (0 until n - 1).map(i => (((i + 7) % n).toLong, ((i + 8) % n).toLong))
      .toDF("id_a", "id_b")
    val beforeFailure = persisted.keySet
    intercept[IllegalArgumentException] {
      Dedup.connectedComponents(chain, maxIter = 3)
    }
    val leaked = persisted.keySet -- beforeFailure
    assert(leaked.isEmpty, s"persisted RDDs left behind: ${leaked.flatMap(persisted.get)}")
    val beforeSuccess = persisted.keySet
    val chainLabels = Dedup.connectedComponents(chain)
    val grown = persisted.keySet -- beforeSuccess
    assert(grown.size <= 1, s"persisted RDDs left behind: ${grown.flatMap(persisted.get)}")
    assert(chainLabels.count() === n.toLong)
    assert(chainLabels.select(countDistinct(col("label"))).head().getLong(0) === 1L)
    assert(chainLabels.agg(max(col("label"))).head().getLong(0) === 0L)
    // dedupByPairs survives a drift-chain pair set (keeps only node 0)
    val chainDocs = (0L until n.toLong).toDF("id")
      .withColumn("text", concat(lit("d"), col("id")))
    val keptChain = Dedup.dedupByPairs(chainDocs, "id", chain)
    assert(keptChain.count() === 1L)
    assert(spark.sharedState.cacheManager.isEmpty,
      "connectedComponents left a DataFrame pinned in the cache manager")
  }

  test("a non-numeric id cast fails connectedComponents with its NumberFormatException") {
    val spark0 = spark
    import spark0.implicits._
    // an ANSI cast of a non-numeric id fails the first round's task; the
    // executor logs that expected failure as an ERROR
    val pairs = Seq(("a", "b"), ("b", "c")).toDF("id_a", "id_b")
    val e = withLoggersOff("org.apache.spark.executor.Executor",
      "org.apache.spark.scheduler.TaskSetManager") {
      intercept[Exception](Dedup.connectedComponents(pairs))
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[NumberFormatException]), e.toString)
  }

  test("exact dedup: skewed corpus (one group ~10% of rows) keeps min-id representative") {
    val spark0 = spark
    import spark0.implicits._
    // one hot exact-dup group at 10% of the corpus — the windowed keep-one
    // form sent this whole group to one task's sort; the agg + anti-join
    // form collapses it map-side. Correctness must be unchanged.
    val base = (0 until 9000).map(i => (i.toLong, s"unique text number $i"))
    val hot = (9000 until 10000).map(i => (i.toLong, "hot template text"))
    val df = (base ++ hot).toDF("id", "text").repartition(8)
    val kept = Dedup.exactDedup(df, "text", "id")
    assert(kept.count() === 9001L) // 9000 uniques + 1 hot representative
    assert(kept.where(col("id") >= 9000).collect().map(_.getLong(0)).toSeq === Seq(9000L))
  }

  test("embedding exact near-dups: over-budget input throws before any cross join runs") {
    val spark0 = spark
    import spark0.implicits._
    val df = (0 until 30).map(i => (i.toLong,
      (0 until 8).map(d => math.sin(i + d).toFloat).toArray)).toDF("id", "vec")
    val e = intercept[IllegalArgumentException] {
      Dedup.embeddingNearDupsExact(df, "id", "vec", 0.5, maxRows = 10)
    }
    assert(e.getMessage.contains("embeddingNearDups"))
    // raising the bound deliberately re-admits the same input
    assert(Dedup.embeddingNearDupsExact(df, "id", "vec", -1.0, maxRows = 50).count() > 0)
  }

  test("embedding near-dups: LSH path finds what exact path finds (high threshold)") {
    val spark0 = spark
    import spark0.implicits._
    def vec(i: Int): Array[Float] =
      (0 until 16).map(d => math.sin(i * 0.7 + d * 1.3).toFloat).toArray
    // 30 base vectors + 4 near-copies (tiny perturbation)
    val base = (0 until 30).map(i => (i.toLong, vec(i)))
    val near = (0 until 4).map(i => (100L + i, vec(i).zipWithIndex.map { case (v, d) =>
      v + (if (d == 0) 0.01f else 0f) }))
    val df = (base ++ near).toDF("id", "vec").repartition(4)
    val exact = Dedup.embeddingNearDupsExact(df, "id", "vec", 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.embeddingNearDups(df, "id", "vec", 0.999, lshBits = 6, probes = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    for (i <- 0 until 4) assert(exact.contains((i.toLong, 100L + i)))
    // LSH must find at least 3/4 of the true near-dups (recall, multiprobe)
    assert((0 until 4).count(i => lsh.contains((i.toLong, 100L + i))) >= 3)
    // and produce no pairs the exact path rejects
    assert(lsh.subsetOf(exact))
  }

  test("text functions: tokens, quality, langid, fingerprint deterministic") {
    val spark0 = spark
    import spark0.implicits._
    val df = Seq(
      (1L, "the spark of data is in the table"),
      (2L, "der hund und die katze ist nicht da"),
      (3L, "xyzzy qwerty plugh")).toDF("id", "text")
    val out = df.select(col("id"),
      Text.tokenCount(col("text")).as("tc"),
      Text.langId(col("text")).as("lang"),
      Text.fingerprint(col("text")).as("fp"),
      Text.stopwordRatio(col("text"), Text.defaultStopwords).as("sr")).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getInt(1) === 8)
    assert(out(1L).getString(2) === "en")
    assert(out(2L).getString(2) === "de")
    assert(out(3L).getString(2) === "und")
    assert(out(1L).getDouble(4) > 0.3)
    // fingerprint: equal text → equal fp; different → different
    val fp2 = df.select(Text.fingerprint(col("text"))).collect().map(_.getLong(0))
    assert(fp2.distinct.length === 3)
  }

  test("ANN bruteTopK matches window-rank reference implementation") {
    val spark0 = spark
    import spark0.implicits._
    def vec(i: Int): Array[Float] =
      (0 until 8).map(d => math.cos(i * 1.1 + d * 0.5).toFloat).toArray
    val docs = (0 until 60).map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
    val queries = (0 until 5).map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
    val got = Ann.bruteTopK(docs, queries, "vec_id", "embedding", "vec_id", "embedding", k = 3)
      .select("query_id", "rank", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // reference: window rank
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("q").orderBy(col("s").desc, col("d"))
    val ref = docs.as("a").crossJoin(queries.as("b"))
      .where(col("a.vec_id") =!= col("b.vec_id"))
      .select(col("b.vec_id").as("q"), col("a.vec_id").as("d"),
        Vectors.cosine(col("a.embedding"), col("b.embedding")).as("s"))
      .withColumn("r", row_number().over(w)).where(col("r") <= 3)
      .select(col("q"), col("r").cast("long"), col("d"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === ref)
  }

  test("ANN lshTopK: results are a high-recall subset with correct ranks") {
    val spark0 = spark
    import spark0.implicits._
    def vec(i: Int): Array[Float] =
      (0 until 8).map(d => math.cos(i * 1.1 + d * 0.5).toFloat).toArray
    val docs = (0 until 60).map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
    val queries = (0 until 5).map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
    val approx = Ann.lshTopK(docs, queries, "vec_id", "embedding", "vec_id", "embedding",
      k = 3, bits = 4, probes = 3)
    // every returned neighbor's score must equal the true cosine (no fabrication)
    val rows = approx.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getLong(1) <= 3))
  }

  test("native Simhash64 equals HOF simhash bit-for-bit (incl. empty/null/odd tokens)") {
    val spark0 = spark
    import spark0.implicits._
    val texts = (0 until 200).map(i => (i.toLong, mkText(i))) ++ Seq(
      (900L, ""), (901L, "   "), (902L, "one"), (903L, "a b c d"),
      (904L, "unicode \u00fcber stra\u00dfe \u4e2d\u6587"), (905L, null: String))
    val df = texts.toDF("id", "text")
    inEachEvaluator { mode =>
      val both = df.select(col("id"),
        Dedup.simhash64(col("text")).as("native"),
        DedupHof.simhash64HOF(col("text")).as("hof"))
      assert(both.where(!(col("native") <=> col("hof"))).count() === 0, mode)
      // null text propagates null through both forms
      assert(both.where(col("id") === 905L).collect()(0).isNullAt(1), mode)
    }
  }

  test("fused MinHashFromTokens == two-step native == HOF signature exactly (incl. edges)") {
    val spark0 = spark
    import spark0.implicits._
    val texts = (0 until 200).map(i => (i.toLong, mkText(i))) ++ Seq(
      (900L, "one two"), (901L, "x"), (902L, ""), (903L, null: String),
      (904L, "a a a a a a"), // duplicate shingles: min over multiset == min over set
      (905L, "unicode über straße 中文 mixed in text"))
    val df = texts.toDF("id", "text")
    inEachEvaluator { mode =>
      for (k <- Seq(1, 3, 5)) {
        val all = df.select(col("id"),
          Dedup.minhashSignature(col("text"), 32, k).as("fused"),
          graft.functions.HashExpressions.minhashSignatureNative(
            Dedup.shingleHashes(col("text"), k), 32).as("twostep"),
          DedupHof.minhashSignatureHOF(col("text"), 32, k).as("hof"))
        assert(all.where(!(col("fused") <=> col("twostep"))).count() === 0,
          s"$mode k=$k fused!=twostep")
        assert(all.where(!(col("fused") <=> col("hof"))).count() === 0, s"$mode k=$k fused!=hof")
      }
    }
  }

  test("native ShingleHashes equals HOF shingle hashes exactly (short/dup/unicode docs)") {
    val spark0 = spark
    import spark0.implicits._
    val texts = (0 until 200).map(i => (i.toLong, mkText(i))) ++ Seq(
      (900L, ""), (901L, "one"), (902L, "one two"), (903L, "one two three"),
      (904L, "a a a a a a"), // duplicate shingles → distinct must collapse
      (905L, "x y x y x y x y"),
      (906L, "unicode über straße 中文 mixed in text"),
      (907L, null: String))
    val df = texts.toDF("id", "text")
    inEachEvaluator { mode =>
      for (k <- Seq(1, 3, 5)) {
        val both = df.select(col("id"),
          Dedup.shingleHashes(col("text"), k).as("native"),
          DedupHof.shingleHashesHOF(col("text"), k).as("hof"))
        assert(both.where(!(col("native") <=> col("hof"))).count() === 0, s"$mode k=$k diverged")
      }
    }
  }

  test("bucket caps bound degenerate corpora; generous caps change nothing on normal ones") {
    val spark0 = spark
    import spark0.implicits._
    // degenerate: 2000 identical docs — every (band,bucket) is one hot bucket
    // of 2000 rows (2M candidate pairs per band without a cap)
    val template = mkText(7)
    val degenerate = (0 until 2000).map(i => (i.toLong, template)).toDF("id", "text")
      .repartition(8)
    val capped = graft.ops.Dedup.minhashNearDups(degenerate, "id", "text",
      numHashes = 32, bands = 8, threshold = 0.9, maxBucket = 100)
    // all buckets overflow → no candidates survive (exact-dup mass is
    // exactDedup's job, per the Manku pipeline ordering); the point is the
    // job completes with bounded work instead of going quadratic
    assert(capped.count() === 0)
    val banded = degenerate.select(col("id"), lit(0).as("band"),
      graft.functions.HashExpressions
        .minhashSignatureNative(graft.ops.Dedup.shingleHashes(col("text"), 3), 32)
        .getItem(0).as("bucket"))
    val overflow = graft.ops.Dedup.overflowBuckets(banded, Seq("band", "bucket"), 100)
    assert(overflow.count() === 1)
    assert(overflow.collect()(0).getAs[Long]("bucket_size") === 2000L)

    // simhash: same degenerate corpus, capped → completes with 0 pairs
    assert(graft.ops.Dedup.simhashNearDups(degenerate, "id", "text",
      maxHamming = 3, maxBucket = 100).count() === 0)

    // normal corpus: a generous cap must not change the result set
    val df = corpus(40)
    val un = Dedup.minhashNearDups(df, "id", "text", numHashes = 32, bands = 8,
      threshold = 0.9, maxBucket = 0).select("id_a", "id_b")
    val cp = Dedup.minhashNearDups(df, "id", "text", numHashes = 32, bands = 8,
      threshold = 0.9, maxBucket = 1000).select("id_a", "id_b")
    assert(un.exceptAll(cp).count() === 0)
    assert(cp.exceptAll(un).count() === 0)
  }

  test("minhashNearDups is lazy, caches nothing, and leaves no pinned cache behind") {
    val df = corpus(30)
    val out = Dedup.minhashNearDups(df, "id", "text", numHashes = 32, bands = 8, threshold = 0.9)
    // building the DataFrame ran no job and cached nothing (one-shuffle
    // pipeline: nothing is read twice, so nothing needs persisting)
    assert(spark.sharedState.cacheManager.isEmpty)
    assert(out.count() >= 3) // the exact dups at minimum
    assert(spark.sharedState.cacheManager.isEmpty,
      "minhashNearDups left a DataFrame pinned in the cache manager")
  }

  test("near-dup tails leave Catalyst lazily; bucket caps are exact") {
    val spark0 = spark
    import spark0.implicits._
    import graft.tools.DedupCorpus
    val df = corpus(30)
    val jobs = new AtomicInteger
    val countJobs = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet(): Unit
    }
    // building runs no job, although the corpus plan has an exchange
    val built = listening(countJobs)(Seq(
      "minhash" -> Dedup.minhashNearDups(df, "id", "text", numHashes = 32, bands = 8,
        threshold = 0.9),
      "simhash" -> Dedup.simhashNearDups(df, "id", "text", maxHamming = 3)))
    assert(jobs.get === 0, "building a near-dup DataFrame ran a job")
    assert(spark.sharedState.cacheManager.isEmpty)
    for ((name, out) <- built) {
      val p = out.queryExecution.executedPlan.toString
      assert(!p.contains("ObjectHashAggregate") && !p.contains("Generate"), s"$name:\n$p")
      // two shuffles after the signature stage: the capped bucket combine and
      // the pair distinct
      val lineage = out.queryExecution.toRdd.toDebugString
      assert("ShuffledRDD\\[".r.findAllIn(lineage).size === 2, s"$name:\n$lineage")
      val pairs = out.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      for (i <- 0 until 3) assert(pairs.contains((i.toLong, 2000L + i)), s"$name: exact dup $i")
      // a self-join analyzes: each side gets attributes of its own
      assert(out.as("x").join(out.as("y"), col("x.id_b") === col("y.id_a")).count() ===
        pairs.toSeq.map { case (_, b) => pairs.count(_._1 == b) }.sum, name)
    }
    // a bucket of more than maxBucket rows yields no pairs, counted across
    // map tasks; the 4-doc clusters (blocks 5..8) stay exact beside it
    val clusters = (500L until 900L).map(id => (id, DedupCorpus.text(id, 0L)))
    val expected = (5 until 9).flatMap { b =>
      val ids = (0 until DedupCorpus.DupsPerBlock).map(b * 100L + _)
      for (i <- ids; j <- ids if i < j) yield (i, j)
    }.toSet
    def withHot(hot: Int) = ((0 until hot).map(i => (i.toLong, mkText(7))) ++ clusters)
      .toDF("id", "text").repartition(4)
    def pairsOf(out: org.apache.spark.sql.DataFrame) =
      out.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def minhash(d: org.apache.spark.sql.DataFrame, cap: Int) = pairsOf(Dedup.minhashNearDups(
      d, "id", "text", numHashes = 32, bands = 8, threshold = 1.0, maxBucket = cap))
    def simhash(d: org.apache.spark.sql.DataFrame, cap: Int) = pairsOf(Dedup.simhashNearDups(
      d, "id", "text", maxHamming = 3, maxBucket = cap))
    val hot500 = withHot(500)
    assert(minhash(hot500, 50) === expected)
    val sh500 = simhash(hot500, 50)
    assert(expected.subsetOf(sh500))
    assert(!sh500.exists(_._1 < 500), "simhash paired a doc of the over-cap bucket")
    // at exactly maxBucket rows the bucket pairs in full; one row fewer allowed drops it
    val hot60 = withHot(60)
    val all60 = (for (i <- 0L until 60L; j <- i + 1 until 60L) yield (i, j)).toSet
    assert(minhash(hot60, 60) === expected ++ all60)
    assert(minhash(hot60, 59) === expected)
    assert(all60.subsetOf(simhash(hot60, 60)))
    assert(!simhash(hot60, 59).exists(_._1 < 60))
  }

  test("one ingest-dedup pass stays within its whole-stage class budget") {
    import org.apache.spark.sql.execution.{QueryExecution, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.util.QueryExecutionListener
    // every distinct whole-stage source takes a codegen-cache entry per class
    // loader. The near-dup bucket tail is one operator that generates no
    // class, and connectedComponents' labels come back as rows; its pair
    // read (through toRdd, which no listener sees) is the one stage not
    // counted here
    val sources = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val plans = new AdaptiveSparkPlanHelper {}
    val collect = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.collect(qe.executedPlan) { case w: WholeStageCodegenExec => w.doCodeGen()._2.body }
          .foreach(sources.add)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    // the benchmark's ingest-dedup shape: a template shard of 7 texts
    // x ~114 docs (over the cap of 100) and 12 blocks of 4-doc clusters
    val docs = graft.tools.DedupCorpus.generate(spark, 2000, 4, degen = 800)
      .withColumnRenamed("doc_id", "id")
    spark.listenerManager.register(collect)
    try {
      val pairs = Dedup.minhashNearDups(docs, "id", "text", threshold = 1.0, maxBucket = 100)
        .select("id_a", "id_b").localCheckpoint(true)
      assert(pairs.count() === 72L)
      val labels = Dedup.connectedComponents(pairs)
      assert(labels.count() === 48L)
      assert(labels.select(countDistinct(col("label"))).first().getLong(0) === 12L)
      // the labels carry their row count, so the removal set broadcasts from
      // the first plan: one star round, the broadcast, the count's two stages
      var kept = 0L
      assert(jobsOf { kept = Dedup.dedupByPairs(docs, "id", pairs).count() } === 4)
      assert(kept === 2000L - 36L)
      assert(Dedup.exactDedup(docs, "text", "id").count() === 2000L - 793L - 36L)
      GraftBridge.drainListenerBus(spark.sparkContext)
    } finally spark.listenerManager.unregister(collect)
    assert(sources.size <= WholeStageBudget,
      s"${sources.size} distinct whole-stage classes > $WholeStageBudget")
  }

  test("scale-probe corpus: cluster pairs exact, degenerate template shard absorbed by the cap") {
    import graft.tools.DedupCorpus
    val docs = DedupCorpus.generate(spark, 3000, 8, degen = 500)
    // cap 50 < any template-shard bucket (~71+ docs per vary-group) but far
    // above the 4-doc cluster buckets: the probe must COMPLETE and find
    // exactly the per-block exact-duplicate pairs
    val mh = Dedup.minhashNearDups(docs, "doc_id", "text",
      numHashes = 32, bands = 8, threshold = 1.0, maxBucket = 50)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = (5 until 30).flatMap { b =>
      val ids = (0 until DedupCorpus.DupsPerBlock).map(b * 100L + _)
      for (i <- ids; j <- ids if i < j) yield (i, j)
    }.toSet
    assert(mh === expected)
    assert(mh.size === DedupCorpus.expectedClusterPairs(3000, 500))
    // simhash (hamming ≤ 3) finds at least every exact cluster pair — in
    // BOTH block schemes: k = d+1 (4 tables, 16-bit keys) and the general
    // Manku k=6 (C(6,3)=20 tables, ~32-bit keys — the volume-scale dial)
    val sh = Dedup.simhashNearDups(docs, "doc_id", "text", maxHamming = 3, maxBucket = 50)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(expected.subsetOf(sh))
    val sh6 = Dedup.simhashNearDups(docs, "doc_id", "text", maxHamming = 3,
        maxBucket = 50, numBlocks = 6)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(expected.subsetOf(sh6))
    // and drops the degenerate shard (no pair with both ids < 500 survives a cap of 50)
    assert(!sh.exists { case (a, b) => a < 500 && b < 500 })
    assert(!mh.exists { case (a, b) => a < 500 && b < 500 })
  }

  test("simhash general Manku scheme == block-per-table scheme on uncapped corpora") {
    val docs = graft.tools.DedupCorpus.generate(spark, 1200, 8, degen = 0)
    def pairs(k: Int) = Dedup.simhashNearDups(docs, "doc_id", "text",
        maxHamming = 3, maxBucket = 0, numBlocks = k)
      .select("id_a", "id_b", "hamming").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // recall is 1 in every scheme when nothing is capped → identical output
    assert(pairs(4) === pairs(6))
    assert(pairs(4) === pairs(8))
  }

  test("minhash banding: each planted Jaccard level's candidate rate is within a Hoeffding band of 1 - (1 - s^r)^b") {
    val spark0 = spark
    import spark0.implicits._
    // the test's failure probability, fixed up front and split over the
    // levels (union bound); inputs are seeded, so the outcome is fixed too
    val delta = 1e-6
    val (r, b, perLevel) = (4, 8, 200)
    // per level s: n shingles per doc, c of them shared, c / (2n - c) = s
    val levels = Seq(0.3 -> (104, 48), 0.5 -> (102, 68), 0.8 -> (99, 88), 0.9 -> (95, 90))
    val rnd = new scala.util.Random(20)
    def fresh(k: Int) = Seq.fill(k)("t" + java.lang.Long.toHexString(rnd.nextLong()))
    def shingles(toks: Seq[String]) = toks.sliding(3).map(_.mkString(" ")).toSet
    // pair p of level l: ids (l·10⁴ + 2p, l·10⁴ + 2p + 1); b shares a's
    // first c + 2 tokens, then continues with fresh ones
    val planted = for (((s, (n, c)), l) <- levels.zipWithIndex; p <- 0 until perLevel) yield {
      val a = fresh(n + 2)
      val bt = a.take(c + 2) ++ fresh(n - c)
      val (sa, sb) = (shingles(a), shingles(bt))
      assert((sa & sb).size.toDouble / (sa | sb).size === s, s"level $s pair $p")
      val id = l * 10000L + 2 * p
      (l, (id, a.mkString(" ")), (id + 1, bt.mkString(" ")))
    }
    val docs = planted.flatMap { case (_, x, y) => Seq(x, y) }.toDF("id", "text").repartition(4)
    // at threshold 0 every candidate verifies, so the output is the candidate set
    val candidates = Dedup.minhashNearDups(docs, "id", "text", numHashes = r * b, bands = b,
        shingleSize = 3, threshold = 0.0)
      .collect().map(row => (row.getLong(0), row.getLong(1))).toSet
    val eps = math.sqrt(math.log(2 * levels.size / delta) / (2 * perLevel))
    for (((s, _), l) <- levels.zipWithIndex) {
      val rate = planted.count { case (pl, (a, _), (bId, _)) => pl == l && candidates((a, bId)) }
        .toDouble / perLevel
      val expected = 1 - math.pow(1 - math.pow(s, r), b)
      assert(math.abs(rate - expected) <= eps, s"s = $s: candidate rate $rate, expected $expected ± $eps")
    }
  }
}
