package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Library-level dedup invariants on constructed near-duplicates. */
class DedupSpec extends SparkSpec {

  private def docs = {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    Seq(
      (1L, base),
      (2L, base),                                   // exact dup of 1
      (3L, base.replace("today", "tomorrow")),      // near dup of 1
      (4L, "completely different words about spark engines and shuffles here now"),
      (5L, "another unrelated document with its own tokens entirely for tests")
    ).toDF("doc_id", "text")
  }

  test("exact dedup keeps min-id representative with counts") {
    val d = Dedup.exact(docs, "text", "doc_id")
    assert(d.count() == 4)
    assert(d.where(col("dup_count") === 2).select("doc_id").head().getLong(0) == 1L)
  }

  test("shingle Jaccard finds exact and near dups, not unrelated docs") {
    val pairs = Dedup.shingleJaccardPairs(docs, "text", "doc_id", 5, 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val keys = pairs.map(p => (p._1, p._2)).toSet
    assert(keys.contains((1L, 2L)))
    assert(pairs.find(p => (p._1, p._2) == ((1L, 2L))).get._3 == 1.0) // identical
    assert(keys.contains((1L, 3L)) && keys.contains((2L, 3L)))
    assert(!keys.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("crossCorpusOverlap flags contaminated corpus docs, hot-cap correction exact") {
    import spark.implicits._
    val corpus = docs // docs 1-5 play the training corpus
    val bench = Seq(
      (100L, "the quick brown fox jumps over the lazy dog again and again today"),
      (101L, "held out benchmark question nothing in the corpus ever mentions at all")
    ).toDF("doc_id", "text")
    val hits = Dedup.crossCorpusOverlap(corpus, bench, "text", "doc_id",
      shingleLen = 5, minOverlap = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // docs 1 and 2 contain benchmark 100 verbatim (and near-dup 3 leaks
    // most of it); 101 leaks nowhere
    assert(hits((1L, 100L)) == 1.0 && hits((2L, 100L)) == 1.0)
    assert(hits((3L, 100L)) > 0.8 && hits((3L, 100L)) < 1.0)
    assert(!hits.keySet.exists(_._2 == 101L))
    assert(!hits.keySet.exists(p => p._1 == 4L || p._1 == 5L))
    // cap at df ≤ 2: docs 1/2 still qualify through their df-2 shingles
    // and the hot correction restores their EXACT 1.0 overlap; doc 3's
    // shared shingles are all above the cap, so (3,100) drops — the
    // documented only-hot-overlap loss
    val capped = Dedup.crossCorpusOverlap(corpus, bench, "text", "doc_id",
      shingleLen = 5, minOverlap = 0.5, maxShingleDf = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(capped((1L, 100L)) == 1.0 && capped((2L, 100L)) == 1.0)
    assert(!capped.contains((3L, 100L)))
  }

  test("MinHash LSH candidates ⊆ verified pairs and contain exact dups") {
    val pairs = Dedup.minHashLshPairs(docs, "text", "doc_id", minJaccard = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((1L, 2L))) // identical docs always collide
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("bench-config pair recall: MinHash-LSH ≡ exact Jaccard pairs; SimHash captures most") {
    // The CORRECTNESS-style derived check for the two rows-only LSH
    // queries (dedup_minhash / dedup_simhash run verbatim): against the
    // exact inverted-index Jaccard oracle (dedup_ngram_jaccard's
    // config), the banded MinHash at the bench defaults (8 bands × 2
    // rows, threshold 0.5) must recover the exact pair set — its
    // candidates are exact-verified, so lsh ⊆ exact ALWAYS holds, and
    // at this banding the S-curve leaves no 0.5+ pair unbucketed
    // (measured: 28/28 on the sf0.001 documents; seeded hashing makes
    // the number deterministic, so a banding regression cannot hide
    // in a rows-only count). SimHash bounds a DIFFERENT metric
    // (Hamming ≤ 3 on 64-bit signatures ≈ cosine on term vectors, not
    // Jaccard), so it is pinned looser: ≥ 70% of the Jaccard pairs
    // (measured 21/28, plus 6 legitimate cosine-near pairs Jaccard
    // scores below 0.5).
    val realDocs = graft.sources.Tables.documents(spark, sf("sf0.001"))
    val exact = Dedup.shingleJaccardPairs(realDocs, "text", "doc_id",
      shingleLen = 5, minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    val lsh = Dedup.minHashLshPairs(realDocs, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact),
      s"LSH emitted pairs the exact oracle rejects: ${lsh -- exact}")
    val lshRecall = lsh.intersect(exact).size.toDouble / exact.size
    assert(lshRecall >= 0.95, s"MinHash-LSH pair recall too low: $lshRecall")
    val sim = Dedup.simHashPairs(realDocs, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val simRecall = sim.intersect(exact).size.toDouble / exact.size
    assert(simRecall >= 0.7, s"SimHash pair recall too low: $simRecall")
  }

  test("SimHash: identical docs at Hamming 0; near dups within 3") {
    val pairs = Dedup.simHashPairs(docs, "text", "doc_id", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Int]("hamming")).toMap
    assert(pairs((1L, 2L)) == 0)
    assert(!pairs.keySet.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("embedding cosine pairs respect the block and threshold") {
    import spark.implicits._
    val e = Seq(
      (1L, 0, Seq(1.0f, 0.0f)), (2L, 0, Seq(1.0f, 0.01f)), // near-identical, same block
      (3L, 0, Seq(0.0f, 1.0f)),                            // orthogonal
      (4L, 1, Seq(1.0f, 0.0f))                             // other block — never paired
    ).toDF("vec_id", "label", "embedding")
    val pairs = Dedup.embeddingCosinePairs(e, "embedding", "vec_id", "label", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((1L, 2L)))
  }

  test("cross-set pairs: every eval×corpus hit above threshold, block-bounded") {
    import spark.implicits._
    val evalSet = Seq(
      (100L, 0, Seq(1.0f, 0.0f)),
      (101L, 1, Seq(0.0f, 1.0f))).toDF("vec_id", "block", "embedding")
    val corpus = Seq(
      (1L, 0, Seq(1.0f, 0.02f)),  // near 100, same block → pair
      (2L, 0, Seq(0.0f, 1.0f)),   // orthogonal to 100 → no pair
      (3L, 1, Seq(1.0f, 0.0f)),   // near 100 but WRONG block → never seen
      (4L, 1, Seq(0.01f, 1.0f))   // near 101, same block → pair
    ).toDF("vec_id", "block", "embedding")
    val got = Dedup.crossSetCosinePairs(evalSet, corpus,
      "embedding", "vec_id", "block", minCosine = 0.9)
      .select("eval_id", "doc_id").as[(Long, Long)].collect().toSet
    assert(got == Set((100L, 1L), (101L, 4L)))
  }

  // Hot-shingle corpus: every doc shares one boilerplate stop-phrase;
  // only docs 1/2 are genuine near-dups through their OWN rare shingles.
  private def hotCorpus = {
    import spark.implicits._
    val boiler = "subscribe to our newsletter for more updates"
    (1L to 40L).map { i =>
      val body =
        if (i == 2L) "alpha beta gamma delta epsilon zeta shared body one"
        else s"unique${i} tokens${i} words${i} only${i} here${i} now${i} doc${i} x${i}"
      (i, s"$boiler ${if (i == 1L) "alpha beta gamma delta epsilon zeta shared body one" else body}")
    }.toDF("doc_id", "text")
  }

  test("shingle-df cap: stop-phrase pairs pruned, rare-shingle dups keep exact scores") {
    val uncapped = Dedup.shingleJaccardPairs(hotCorpus, "text", "doc_id", 5, 0.1)
    // every doc pairs with every other through the boilerplate → ~40²/2
    assert(uncapped.count() > 700)
    val capped = Dedup.shingleJaccardPairs(hotCorpus, "text", "doc_id", 5, 0.1,
      maxShingleDf = 10)
    val pairs = capped.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // only the pair sharing sub-threshold shingles survives …
    assert(pairs.map(p => (p._1, p._2)).toSeq == Seq((1L, 2L)))
    // … and its Jaccard is the exact UNCAPPED value (verification runs on
    // full shingle sets, including the boilerplate overlap)
    val exact = uncapped.where(col("doc_a") === 1 && col("doc_b") === 2)
      .head().getDouble(2)
    assert(pairs.head._3 == exact)
    // the dropped keys are observable
    assert(Dedup.hotShingles(hotCorpus, "text", "doc_id", 5, 10).count() > 0)
  }

  test("duplicateClusters: transitive chains collapse to the min id") {
    import spark.implicits._
    val docs = (1L to 7L).map(i => (i, s"d$i")).toDF("doc_id", "t")
    // chain 1-2-3 (1~2, 2~3 but NOT 1~3 directly), pair 5-6, singleton 4, 7
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("doc_a", "doc_b")
    val clusters = Dedup.duplicateClusters(docs, "doc_id", pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 4L, 5L -> 5L, 6L -> 5L, 7L -> 7L))
    // no pairs at all: every id is its own cluster
    val alone = Dedup.duplicateClusters(docs, "doc_id", pairs.limit(0))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(alone == (1L to 7L).map(i => i -> i).toMap)
  }

  test("duplicateClustersStar: same chains, and ≡ label propagation on a random graph") {
    import spark.implicits._
    val docs = (1L to 7L).map(i => (i, s"d$i")).toDF("doc_id", "t")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("doc_a", "doc_b")
    val star = Dedup.duplicateClustersStar(docs, "doc_id", pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(star == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 4L, 5L -> 5L, 6L -> 5L, 7L -> 7L))
    val alone = Dedup.duplicateClustersStar(docs, "doc_id", pairs.limit(0))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(alone == (1L to 7L).map(i => i -> i).toMap)
    // a 24-node chain (diameter >> the star round count) plus seeded
    // random extra edges: star rounds must agree with min-label
    // propagation everywhere — both converge to min-reachable-id
    val rnd = new scala.util.Random(42)
    val n = 24L
    val chain = (1L until n).map(i => (i, i + 1))
    val extra = Seq.fill(10)((rnd.nextInt(n.toInt).toLong + 1,
      rnd.nextInt(n.toInt).toLong + 1)).filter(p => p._1 != p._2)
    val nodes = (1L to n).map(i => (i, s"d$i")).toDF("doc_id", "t")
    val edges = (chain ++ extra).toDF("doc_a", "doc_b")
    val byStar = Dedup.duplicateClustersStar(nodes, "doc_id", edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val byLabel = Dedup.duplicateClusters(nodes, "doc_id", edges, maxIters = 40)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byStar == byLabel)
    assert(byStar.values.toSet == Set(1L)) // one chain-connected component
  }

  test("edge-set fingerprint: exact decimal half-sums, order-independent") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.expressions.XXH64
    import org.apache.spark.sql.types.DecimalType
    val rnd = new scala.util.Random(7)
    val set = Seq.fill(500)((rnd.nextLong(), rnd.nextLong())).distinct
    // xxhash64(src, dst) seeds the second column's hash with the first's
    val hashes = set.map { case (s, d) => XXH64.hashLong(d, XXH64.hashLong(s, 42L)) }
    val hi = hashes.map(h => BigInt(h >>> 32)).sum
    val lo = hashes.map(h => BigInt(h & 0xFFFFFFFFL)).sum
    val shuffled = rnd.shuffle(set).toDF("src", "dst").repartition(7)
    val fp = Dedup.edgeSetFingerprint(shuffled)
    assert(Seq("hi", "lo").forall(c => fp.schema(c).dataType == DecimalType(38, 0)))
    val r = fp.head()
    assert(r.getLong(0) == set.size)
    assert(BigInt(r.getDecimal(1).toBigInteger) == hi)
    assert(BigInt(r.getDecimal(2).toBigInteger) == lo)
  }

  test("bloom semi-join reduction never changes crossCorpusOverlap results") {
    import spark.implicits._
    val corpus = docs
    val bench = Seq(
      (100L, "the quick brown fox jumps over the lazy dog again and again today"),
      (101L, "held out benchmark question nothing in the corpus ever mentions at all")
    ).toDF("doc_id", "text")
    def run(prune: Boolean) = Dedup.crossCorpusOverlap(corpus, bench,
        "text", "doc_id", shingleLen = 5, minOverlap = 0.1, bloomPrune = prune)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(run(true) == run(false))
    // and the probe itself prunes: a never-seen shingle tests negative
    val bloom = Dedup.bloomOf(
      Dedup.shingleRows(bench, "text", "doc_id", 5), "g")
    val probed = Seq("the quick brown fox jumps", "zz yy xx ww vv")
      .toDF("g")
      .where(Dedup.bloomMightContain(bloom, col("g")))
      .collect().map(_.getString(0)).toSeq
    assert(probed == Seq("the quick brown fox jumps"))
  }

  test("crossJaccardPairs: batch-vs-corpus Jaccard matches a hand computation; bloom prune is identity") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),        // 2 shingles
      (2L, "one two three four five six seven"),          // 3 shingles
      (3L, "totally unrelated content with other words")  // distinct
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "alpha beta gamma delta epsilon eta"),        // shares 1 of its 2
      (11L, "one two three four five six seven")          // identical to 2
    ).toDF("doc_id", "text")
    def run(prune: Boolean) = Dedup.crossJaccardPairs(batch, corpus,
        "text", "doc_id", shingleLen = 5, minJaccard = 0.3, bloomPrune = prune)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // (1,10): inter 1, union 2+2-1=3 → 1/3; (2,11): inter 3, union 3 → 1.0
    assert(run(false) == Set((1L, 10L, 0.3333), (2L, 11L, 1.0)))
    assert(run(true) == run(false))
  }

  test("bloomOf guards the empty build side; bloomOfOpt returns None; prune skipped") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    // a null sketch would build a null predicate that silently drops
    // every probe row — the primitive must refuse, not mislead
    assert(Dedup.bloomOfOpt(empty.select(col("text").as("g")), "g").isEmpty)
    assertThrows[IllegalArgumentException] {
      Dedup.bloomOf(empty.select(col("text").as("g")), "g")
    }
    // crossCorpusOverlap with an empty benchmark + prune ON: empty
    // result, no crash, no null predicate
    val corpus = docs
    assert(Dedup.crossCorpusOverlap(corpus, empty, "text", "doc_id",
      shingleLen = 5, minOverlap = 0.1, bloomPrune = true).isEmpty)
  }

  test("semanticDedupPairs survives inputs smaller than the sample modulus") {
    import spark.implicits._
    // 3 rows with sampleMod=16: the 1/16 hash sample is almost surely
    // empty — the guard must fall back to fitting on the full frame
    // instead of KMeans.fit throwing on zero rows
    val tiny = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Array(0.99f, 0.01f, 0.0f, 0.0f)),
      (3L, Array(0.0f, 1.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val pairs = Dedup.semanticDedupPairs(tiny, "embedding", "vec_id",
        kCells = 2, minCosine = 0.9, sampleMod = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("semanticDedupPairs: one cell ≡ brute-force pairs; cells only lose cross-cell recall") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // 3 well-separated direction clusters of 8 vectors each (tight jitter
    // → within-cluster cosine high, cross-cluster low)
    val e = (0 until 24).map { i =>
      val base = Array.fill(16)(0.0)
      base(i % 3 * 5) = 1.0
      val v = base.map(x => (x + rnd.nextGaussian() * 0.05).toFloat)
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    val brute = Dedup.semanticDedupPairs(e, "embedding", "vec_id",
        kCells = 1, minCosine = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.nonEmpty)
    // every brute pair is within one direction cluster by construction
    assert(brute.forall { case (a, b) => a % 3 == b % 3 })
    val blocked = Dedup.semanticDedupPairs(e, "embedding", "vec_id",
        kCells = 3, minCosine = 0.8, sampleMod = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // blocking never invents pairs, and on separated clusters the coarse
    // quantizer recovers the brute-force answer exactly
    assert(blocked.subsetOf(brute))
    assert(blocked == brute)
  }

  test("MinHash bucket cap prunes degenerate all-identical buckets") {
    import spark.implicits._
    val sameText = "identical boilerplate document body repeated verbatim everywhere always"
    val clones = (1L to 30L).map(i => (i, sameText))
      .toDF("doc_id", "text")
    val uncapped = Dedup.minHashLshPairs(clones, "text", "doc_id", minJaccard = 0.3)
    assert(uncapped.count() == 30L * 29 / 2)
    val capped = Dedup.minHashLshPairs(clones, "text", "doc_id", minJaccard = 0.3,
      maxBucketSize = 10)
    assert(capped.count() == 0)
  }

  test("bestRepresentatives keeps the highest-quality member, min-id on ties") {
    import spark.implicits._
    val clustered = Seq((1L, 1L), (2L, 1L), (3L, 1L), // cluster 1
      (4L, 4L), (5L, 4L),                             // cluster 4 (tie)
      (6L, 6L))                                       // singleton
      .toDF("id", "cluster")
    val quality = Seq((1L, 10L), (2L, 30L), (3L, 20L),
      (4L, 7L), (5L, 7L), (6L, 1L)).toDF("doc_id", "q")
    val reps = Dedup.bestRepresentatives(clustered, "id", "cluster",
      quality, "doc_id", "q").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(reps(1L) == ((2L, 30L, 3L)))  // max quality wins
    assert(reps(4L) == ((4L, 7L, 2L)))   // tie → smallest id
    assert(reps(6L) == ((6L, 1L, 1L)))   // singleton survives
  }

  test("winnowing guarantee: a shared run of window+shingleLen−1 tokens shares a fingerprint") {
    import spark.implicits._
    // docs 1 and 2 share an 8-token run (= 4 + 5 − 1) embedded in
    // otherwise-disjoint text; doc 3 is unrelated
    val run = "alpha beta gamma delta epsilon zeta eta theta"
    val d = Seq(
      (1L, s"one two three $run four five six seven"),
      (2L, s"red green blue $run yellow purple orange pink"),
      (3L, "wholly unrelated tokens that never overlap anything else here"))
      .toDF("doc_id", "text")
    val fps = Dedup.winnowFingerprints(d, "text", "doc_id")
    val byDoc = fps.collect().groupBy(_.getLong(0))
      .map { case (k, v) => k -> v.map(_.getLong(1)).toSet }
    assert((byDoc(1L) & byDoc(2L)).nonEmpty,
      "the guaranteed shared fingerprint is missing")
    assert((byDoc(1L) & byDoc(3L)).isEmpty && (byDoc(2L) & byDoc(3L)).isEmpty)
  }

  test("winnowing density: the index is a strict subset of the shingle hashes, far smaller") {
    import spark.implicits._
    val toks = (0 until 400).map(i => s"w${(i * 7919) % 211}")
    val d = Seq((1L, toks.mkString(" "))).toDF("doc_id", "text")
    val fps = Dedup.winnowFingerprints(d, "text", "doc_id", shingleLen = 5,
      window = 4)
    val nFps = fps.count()
    val nGrams = 400 - 4 // sliding(5) count
    // expected density 2/(window+1) = 0.4; assert well under the full set
    assert(nFps < nGrams * 6 / 10, s"$nFps fingerprints from $nGrams grams")
    assert(nFps > 0)
  }

  test("winnowing short-document fallback: fewer grams than the window → one fingerprint") {
    import spark.implicits._
    val d = Seq((1L, "just five little tokens here"), // 5 tokens → 1 gram
      (2L, "six tokens makes two grams now ok"))     // 7 tokens → 3 grams < 4
      .toDF("doc_id", "text")
    val counts = Dedup.winnowFingerprints(d, "text", "doc_id")
      .groupBy(col("doc")).count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts(1L) == 1L, counts)
    assert(counts(2L) == 1L, counts)
  }

  test("winnowingPairs: identical docs score fp_jaccard 1.0; determinism under repartition") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val d = Seq((1L, base), (2L, base),
      (3L, "completely different words about spark engines and shuffles here"))
      .toDF("doc_id", "text")
    val pairs = Dedup.winnowingPairs(d, "text", "doc_id", minShared = 1)
    val rows = pairs.collect()
    assert(rows.length == 1)
    assert(rows.head.getLong(0) == 1L && rows.head.getLong(1) == 2L)
    assert(rows.head.getDouble(rows.head.fieldIndex("fp_jaccard")) == 1.0)
    val again = Dedup.winnowingPairs(d.repartition(5), "text", "doc_id",
      minShared = 1)
    assert(pairs.exceptAll(again).isEmpty && again.exceptAll(pairs).isEmpty)
  }
}
