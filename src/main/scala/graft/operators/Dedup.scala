package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, XxHash64}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.{CheckpointShim, ColumnShim}
import org.apache.spark.sql.types.BinaryType
import graft.functions.VectorOps
import graft.functions.expressions.SimHash64

/** Deduplication operators for large text/embedding corpora.
  *
  * Every variant is expressed so the candidate-generation step is a
  * key-equality join (shuffle on a small key, never an n² cross join):
  *  - exact:     group by content (or content hash at scale);
  *  - shingle:   inverted index on shingles → pairs sharing a shingle;
  *  - MinHash:   LSH bands → pairs sharing a band bucket, exact-verified
  *               on the candidates only;
  *  - SimHash:   16-bit segments → pairs sharing a segment (≤3-bit
  *               Hamming neighbors always share one of four 16-bit
  *               segments — pigeonhole);
  *  - embedding: exact cosine within blocking keys, norms precomputed
  *               per row and dot products codegen'd (VecDot).
  * All hashes are seed-fixed xxhash64 — deterministic across runs,
  * executors and retries (rand()-based signatures are not).
  *
  * Shingle generation is a typed flatMap with per-document local dedup
  * (a Set built inside the executor) — compiled Scala, no interpreted
  * higher-order lambdas, and no global distinct shuffle.
  *
  * Cache lifecycle: the pair operators persist their shingle/band frames
  * internally (they feed several plan branches), so each one materializes
  * its — far smaller — pair result with an eager `localCheckpoint` and
  * releases its internal caches before returning. The returned frame is a
  * single checkpointed leaf the CALLER owns: free it with
  * `CheckpointShim.freeLocalCheckpoint` once consumed (or let the session
  * end); nothing else from the operator outlives the call.
  */
object Dedup {

  /** Exact dedup: one representative (min id) + duplicate count per
    * distinct content value. Groups on the 16-byte md5 of the content,
    * never the content itself — shuffling multi-KB text keys is the
    * classic exact-dedup mistake at corpus scale. An md5 collision
    * (~2⁻⁶⁴ birthday bound at 10¹⁰ docs) would merge two distinct
    * texts; a pipeline that cannot tolerate that verifies full texts
    * within buckets (the buckets are this function's output).
    */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(md5(col(textCol).cast("binary")).as("__fp"))
      .agg(min(col(textCol)).as(textCol), min(col(idCol)).as(idCol),
        count(lit(1)).as("dup_count"))
      .select(col(textCol), col(idCol), col("dup_count"))

  /** Incremental exact dedup: the daily-delta shape. A new batch is
    * deduped WITHIN itself (min-id representative per content hash) and
    * then anti-joined against the already-ingested corpus's fingerprint
    * index — so the daily cost is O(batch + index probe), never a
    * re-dedup of the full 100 TB corpus. `seenHashes` is one `h` column
    * of md5 hex strings (the index a pipeline persists and unions each
    * day's survivors into). Returns the batch rows that are new to both
    * the batch and the corpus.
    */
  def incrementalExact(batch: DataFrame, textCol: String, idCol: String,
      seenHashes: DataFrame): DataFrame =
    batch
      .groupBy(md5(col(textCol).cast("binary")).as("h"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("batch_dups"))
      .join(seenHashes.select(col("h")), Seq("h"), "left_anti")
      .select(col(idCol), col("batch_dups"))

  /** (doc, g) rows: distinct word shingles per document. Public — also
    * the building block for repetition scoring and contamination checks.
    */
  def shingleRows(df: DataFrame, textCol: String, idCol: String,
      n: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val pairs: Dataset[(Long, String)] =
      df.select(col(idCol).cast("long"), col(textCol).cast("string"))
        .as[(Long, String)]
        .flatMap { case (id, text) =>
          // limit -1 keeps trailing empty tokens — DuckDB string_split
          // semantics, which every shingle-replay oracle assumes; the
          // default split(' ') silently drops them, so a document with a
          // trailing space would shingle differently on the two engines
          val toks = text.split(" ", -1)
          val out = scala.collection.mutable.Set.empty[String]
          if (toks.length <= n) out += toks.mkString(" ")
          else toks.sliding(n).foreach(w => out += w.mkString(" "))
          out.iterator.map(g => (id, g))
        }
    pairs.toDF("doc", "g")
  }

  /** Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    * "Winnowing: Local Algorithms for Document Fingerprinting",
    * SIGMOD'03 — the MOSS technique): per document, the DISTINCT
    * window-minimum 48-bit gram hashes. The guarantee that makes this
    * the contamination-checker's index: any shared token run of at
    * least `window + shingleLen − 1` tokens between two documents is
    * CERTAIN to share a fingerprint, while the index holds only
    * ~2/(window+1) of the full shingle set — at 100 TB that density
    * factor is the difference between an index that fits and one that
    * doesn't.
    *
    * Determinism: the gram hash is the md5-48 draw ([[KmvSketch.hash48]])
    * and the window minimum is over hash VALUES (equal minima are the
    * same fingerprint, so no tie rule is needed) — a pure function of
    * the text, bit-identical across engines/retries/partitionings and
    * replayable by a SQL oracle. Documents with fewer grams than the
    * window contribute their single overall minimum, so short documents
    * still index.
    *
    * Scale shape: one tokenize flatMap + ONE doc-partitioned window
    * (the only shuffle, keyed by doc id) + a distinct. Output (doc, fp).
    */
  def winnowFingerprints(df: DataFrame, textCol: String, idCol: String,
      shingleLen: Int = 5, window: Int = 4): DataFrame = {
    require(shingleLen >= 1 && window >= 1,
      s"need positive shingleLen/window; got $shingleLen/$window")
    val spark = df.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.{Window => W}
    val grams: Dataset[(Long, Long, String)] = df
      .select(col(idCol).cast("long"), col(textCol).cast("string"))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        // same tokenization contract as shingleRows: split(" ", -1)
        // keeps trailing empties (string_split parity), ≤ n tokens →
        // the whole document is its one gram
        val toks = text.split(" ", -1)
        val gs =
          if (toks.length <= shingleLen) Iterator.single(toks.mkString(" "))
          else toks.sliding(shingleLen).map(_.mkString(" "))
        gs.zipWithIndex.map { case (g, p) => (id, p.toLong, g) }
      }
    val hashed = grams.toDF("doc", "pos", "g")
      .select(col("doc"), col("pos"), KmvSketch.hash48(col("g")).as("h"))
    val wspec = W.partitionBy(col("doc")).orderBy(col("pos"))
      .rowsBetween(0, window - 1)
    hashed
      .withColumn("__n_in", count(col("h")).over(wspec))
      .withColumn("fp", min(col("h")).over(wspec))
      // full windows only — trailing partial windows select nothing new;
      // the pos=0 arm is the short-document (grams < window) fallback
      .where(col("__n_in") === window ||
        (col("pos") === 0 && col("__n_in") < window))
      .select(col("doc"), col("fp")).distinct()
  }

  /** Candidate near-dup / contamination pairs from winnowing
    * fingerprints: documents sharing ≥ `minShared` fingerprints, with
    * the exact Jaccard over their fingerprint SETS. Same inverted-index
    * shape as [[shingleJaccardPairs]] on a ~2/(window+1)-density index;
    * `maxFpDf` caps boilerplate fingerprints exactly as maxShingleDf
    * caps stop-phrase shingles (a fingerprint held by k docs emits k²
    * pairs). Unlike the Jaccard verify there, the cap here also bounds
    * the intersection counts — winnowing is the SCREEN a full verify
    * runs behind, so its scores stay index-local by design.
    */
  def winnowingPairs(df: DataFrame, textCol: String, idCol: String,
      shingleLen: Int = 5, window: Int = 4, minShared: Long = 2,
      maxFpDf: Long = 10000L): DataFrame = {
    val fps = winnowFingerprints(df, textCol, idCol, shingleLen, window)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val rare = fps
      .join(fps.groupBy(col("fp")).agg(count(lit(1)).as("__df"))
        .where(col("__df") <= maxFpDf), Seq("fp"))
      .select(col("doc"), col("fp"))
    val inter = rare
      .join(rare.select(col("doc").as("doc2"), col("fp")), Seq("fp"))
      .where(col("doc") < col("doc2"))
      .select(col("doc").as("doc_a"), col("doc2").as("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared_fp"))
      .where(col("n_shared_fp") >= minShared)
    val card = fps.groupBy(col("doc")).agg(count(lit(1)).as("n"))
    val result = inter
      .join(card.select(col("doc").as("doc_a"), col("n")), Seq("doc_a"))
      .join(card.select(col("doc").as("doc_b"), col("n").as("n2")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("n_shared_fp"),
        round(col("n_shared_fp") / (col("n") + col("n2") - col("n_shared_fp")), 4)
          .as("fp_jaccard"))
      .localCheckpoint(true)
    fps.unpersist(false)
    result
  }

  /** Quality-aware representative per duplicate cluster: instead of
    * dedup's min-id convention, keep the member that maximizes
    * `qualityCol` (ties → smallest id — fully deterministic, so the
    * surviving corpus is reproducible). `clustered` is the (id, cluster)
    * frame [[duplicateClusters]] / [[duplicateClustersStar]] produce;
    * `quality` maps id → score (tokens, LM score, freshness — caller's
    * choice). This is the "keep the best copy" policy a production
    * dedup actually wants: near-duplicate groups usually contain one
    * clean original and N truncated/boilerplated scrapes.
    *
    * Scale shape: one join on id + one cluster-partitioned rank window
    * (the same shuffle budget as the min-id aggregate it replaces).
    *
    * Output = (cluster, rep_id, rep_quality, n_members).
    */
  def bestRepresentatives(clustered: DataFrame, idCol: String,
      clusterCol: String, quality: DataFrame, qIdCol: String,
      qualityCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.{Window => W}
    val joined = clustered
      .join(quality.select(col(qIdCol).as(idCol), col(qualityCol)), Seq(idCol))
    val byCluster = W.partitionBy(col(clusterCol))
    joined
      .withColumn("__rn", row_number().over(
        byCluster.orderBy(col(qualityCol).desc, col(idCol).asc)))
      .withColumn("n_members", count(lit(1)).over(byCluster))
      .where(col("__rn") === 1)
      .select(col(clusterCol), col(idCol).as("rep_id"),
        col(qualityCol).as("rep_quality"), col("n_members"))
  }

  /** Shingles with document frequency above `maxDf` — the "stop-phrase"
    * keys the candidate joins must never self-join on (a shingle shared
    * by k documents emits k² pairs). Exposed so callers can inspect/log
    * what a cap drops before relying on it.
    */
  def hotShingles(df: DataFrame, textCol: String, idCol: String,
      shingleLen: Int, maxDf: Long): DataFrame =
    shingleRows(df, textCol, idCol, shingleLen)
      .groupBy(col("g")).agg(count(lit(1)).as("df"))
      .where(col("df") > maxDf)

  /** Exact word-shingle Jaccard near-dup pairs via an inverted shingle
    * index. `minJaccard` filters after an exact |A∩B| / |A∪B| computation;
    * only pairs sharing ≥1 shingle are ever materialized.
    *
    * `maxShingleDf` caps the inverted index: a shingle shared by k
    * documents emits k² candidate pairs, so one boilerplate stop-phrase
    * makes the join quadratic on web-scale text. Candidate generation
    * skips shingles with document frequency > maxShingleDf; the exact
    * Jaccard verification still runs on FULL shingle sets, so any pair
    * that also shares at least one sub-threshold shingle gets its exact
    * uncapped score. Only pairs whose entire overlap is stop-phrases are
    * lost — set the threshold above your corpus's boilerplate df (it is
    * far above TESTDATA's max df, where output is identical to uncapped).
    */
  def shingleJaccardPairs(df: DataFrame, textCol: String, idCol: String,
      shingleLen: Int, minJaccard: Double,
      maxShingleDf: Long = 10000L): DataFrame = {
    // the shingle frame feeds candidate generation, both sides of the
    // verification join AND the cardinality table — persist it so the
    // tokenizing flatMap (and the scan under it) runs once, not 5×;
    // MEMORY_AND_DISK spills instead of recomputing at corpus scale
    val shingles = shingleRows(df, textCol, idCol, shingleLen)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the df table feeds the hot probe, BOTH sides of the candidate
    // self-join and the correction branch — persisted, the aggregation
    // over the full shingle table runs once instead of 3×. It is the
    // small side (distinct shingles, two fixed-width columns).
    val dfc = shingles.groupBy(col("g")).agg(count(lit(1)).as("df"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val rare = shingles.join(dfc.where(col("df") <= maxShingleDf), Seq("g"))
      .select(col("doc"), col("g"))
    // |A∩B| restricted to sub-threshold shingles falls straight out of
    // the inverted-index self-join — one groupBy, no candidate-distinct
    // and no re-join of each pair against its full shingle sets
    val interRare = rare
      .join(rare.select(col("doc").as("doc2"), col("g")), Seq("g"))
      .where(col("doc") < col("doc2"))
      .select(col("doc").as("doc_a"), col("doc2").as("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("inter_rare"))
    // adaptive correction for shared HOT shingles (exact verification
    // runs on FULL sets): one bounded probe (limit-1 over the df
    // aggregate, reading the already-persisted shingle frame) decides
    // at plan-build time whether any shingle exceeds the cap. The
    // common case — no stop-phrase shingles — then skips the correction
    // joins entirely AND references interRare once instead of twice
    // (it is deliberately not persisted: large to materialize, cheap to
    // recompute over the cached shingles — measured 3-10× faster).
    // Same runtime-adaptivity idea AQE applies to join strategies.
    val hotG = dfc.where(col("df") > maxShingleDf).select(col("g"))
    val inter =
      if (hotG.limit(1).isEmpty)
        interRare.withColumnRenamed("inter_rare", "inter")
      else {
        val hotRows = shingles.join(hotG, Seq("g"))
        val interHot = interRare.select(col("doc_a"), col("doc_b"))
          .join(hotRows.select(col("doc").as("doc_a"), col("g")), Seq("doc_a"))
          .join(hotRows.select(col("doc").as("doc_b"), col("g")), Seq("doc_b", "g"))
          .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("inter_hot"))
        interRare.join(interHot, Seq("doc_a", "doc_b"), "left")
          .withColumn("inter",
            col("inter_rare") + coalesce(col("inter_hot"), lit(0L)))
      }
    val card = shingles.groupBy(col("doc")).agg(count(lit(1)).as("n"))
    val result = inter
      .join(card.select(col("doc").as("doc_a"), col("n")), Seq("doc_a"))
      .join(card.select(col("doc").as("doc_b"), col("n").as("n2")), Seq("doc_b"))
      .withColumn("jaccard", col("inter") / (col("n") + col("n2") - col("inter")))
      .where(col("jaccard") >= minJaccard)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))
      .localCheckpoint(true)
    dfc.unpersist(false)
    shingles.unpersist(false)
    result
  }

  /** MinHash + LSH near-dup pairs, verified with exact Jaccard on the
    * candidates only. numHashes = bands × rowsPerBand. Signatures come
    * from one grouped aggregation of per-slot hash mins — one shuffle
    * keyed by doc, any corpus size.
    *
    * Hash family: two 48-bit md5 draws per shingle combined as
    * `slot_i = (h1 + i·h2) mod 2⁴⁸` — the Kirsch-Mitzenmacher
    * construction (two hashes simulate k), so a shingle pays TWO md5s
    * instead of k while keeping MinHash's collision-probability =
    * Jaccard property. md5 + exact integer mixing exist identically in
    * the oracle engine ([[KmvSketch]]'s draw discipline), so the WHOLE
    * pipeline (signatures, band buckets, candidates, exact verify)
    * replays bit for bit in SQL. Band keys hash the slot values the
    * same way.
    *
    * `maxBucketSize` caps the band buckets the same way `maxShingleDf`
    * caps the shingle index: a bucket holding k documents emits k² pairs,
    * and on web-scale corpora degenerate buckets (empty/boilerplate docs
    * that minhash identically) go quadratic. Buckets above the cap are
    * skipped — their members are near-identical to thousands of others,
    * so exact-dedup (or a smaller-cap rerun on the bucket residue) is the
    * right tool for them. TESTDATA buckets never reach the default cap.
    */
  def minHashLshPairs(df: DataFrame, textCol: String, idCol: String,
      shingleLen: Int = 5, bands: Int = 8, rowsPerBand: Int = 2,
      minJaccard: Double = 0.5, maxBucketSize: Long = 10000L): DataFrame = {
    val k = bands * rowsPerBand
    // reused by the signature aggregation, exact verification (both
    // sides) and cardinalities — same persist rationale as
    // shingleJaccardPairs
    val shingles = shingleRows(df, textCol, idCol, shingleLen)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // 48-bit md5 draws — shared form with the SQL oracle
    def mh48(c: Column): Column =
      conv(substring(md5(c), 1, 12), 16, 10).cast("long")
    // k min-hash slots in one aggregation pass, from TWO md5s per
    // shingle: slot_i = (h1 + i·h2) mod 2^48 (exact long arithmetic —
    // i·h2 ≤ 15·2^48 ≪ 2^63)
    val withDraws = shingles
      .withColumn("__h1", mh48(col("g")))
      .withColumn("__h2", mh48(concat(lit("#"), col("g"))))
    val sigs = withDraws.groupBy(col("doc")).agg(
      min(pmod(col("__h1"), lit(1L << 48))).as("h0"),
      (1 until k).map(i =>
        min(pmod(col("__h1") + lit(i.toLong) * col("__h2"), lit(1L << 48)))
          .as(s"h$i")): _*)
    // band buckets: hash of each band's slots
    val banded = sigs.select(col("doc") +: (0 until bands).map { b =>
      mh48(concat_ws(":",
        (b * rowsPerBand until (b + 1) * rowsPerBand)
          .map(i => col(s"h$i").cast("string")): _*))
        .as(s"b$b")
    }: _*)
    val bandRows = banded.select(col("doc"), explode(array((0 until bands).map { b =>
      struct(lit(b).as("band"), col(s"b$b").as("bucket"))
    }: _*)).as("bb"))
      .select(col("doc"), col("bb.band"), col("bb.bucket"))
      // feeds the bucket-size probe/cap and both sides of the candidate
      // self-join — persist so the signature aggregation runs once
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bucketSizes = bandRows.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("bsz"))
    // adaptive cap (same probe pattern as shingleJaccardPairs): when no
    // bucket exceeds the cap — every healthy corpus — candidates join
    // straight on the band rows, skipping the size filter join
    val boundedRows =
      if (bucketSizes.where(col("bsz") > maxBucketSize).limit(1).isEmpty)
        bandRows
      else bandRows
        .join(bucketSizes.where(col("bsz") <= maxBucketSize), Seq("band", "bucket"))
        .select(col("doc"), col("band"), col("bucket"))
    val candidates = boundedRows
      .join(boundedRows.select(col("doc").as("doc2"), col("band"), col("bucket")),
        Seq("band", "bucket"))
      .where(col("doc") < col("doc2"))
      .select(col("doc").as("doc_a"), col("doc2").as("doc_b"))
      .distinct()
    // exact verification restricted to candidate pairs: shingle join on
    // (doc_a) then (g, doc_b)
    val interCand = candidates
      .join(shingles.select(col("doc").as("doc_a"), col("g")), Seq("doc_a"))
      .join(shingles.select(col("doc").as("doc_b"), col("g")), Seq("doc_b", "g"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("inter"))
    val card = shingles.groupBy(col("doc")).agg(count(lit(1)).as("n"))
    val result = interCand
      .join(card.select(col("doc").as("doc_a"), col("n")), Seq("doc_a"))
      .join(card.select(col("doc").as("doc_b"), col("n").as("n2")), Seq("doc_b"))
      .withColumn("jaccard", col("inter") / (col("n") + col("n2") - col("inter")))
      .where(col("jaccard") >= minJaccard)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))
      .localCheckpoint(true)
    bandRows.unpersist(false)
    shingles.unpersist(false)
    result
  }

  /** SimHash near-dup pairs with Hamming distance ≤ maxHamming (≤ 3 with
    * the default 4 × 16-bit segments guarantees no false negatives by
    * pigeonhole). Candidates share a (segment index, segment value) key.
    * The 64-bit signature is one compiled pass per document (SimHash64).
    */
  def simHashPairs(df: DataFrame, textCol: String, idCol: String,
      maxHamming: Int = 3): DataFrame = {
    val sig = ColumnShim.column(SimHash64(
      ColumnShim.expression(split(col(textCol), " "))))
    hammingPairs64(df.select(col(idCol).cast("long").as("doc"), sig.as("sig")),
      "doc", "sig", maxHamming)
  }

  /** Banded Hamming pair join over any precomputed 64-bit signature
    * column (SimHash, image dHash, …): candidates share one of the 4
    * 16-bit segments, so every pair at Hamming ≤ 3 is caught with no
    * false negatives (pigeonhole); the exact `bit_count(xor)` filter
    * runs only on candidates. The signature-equality shape of
    * [[simHashPairs]], factored out so non-text signatures (e.g.
    * [[graft.multimodal.Multimodal.dHash64]] perceptual image hashes)
    * reuse the same banding instead of an all-pairs comparison.
    */
  def hammingPairs64(sigs0: DataFrame, idCol: String, sigCol: String,
      maxHamming: Int = 3): DataFrame = {
    val sigs = sigs0.select(col(idCol).cast("long").as("doc"),
      col(sigCol).cast("long").as("sig"))
    val segments = sigs.select(col("doc"), col("sig"),
        explode(array((0 until 4).map { seg =>
          struct(lit(seg).as("seg"),
            shiftrightunsigned(col("sig"), seg * 16).bitwiseAND(lit(0xFFFFL)).as("segval"))
        }: _*)).as("ss"))
      .select(col("doc"), col("sig"), col("ss.seg"), col("ss.segval"))
    segments.alias("x").join(segments.alias("y"), Seq("seg", "segval"))
      .where(col("x.doc") < col("y.doc"))
      .select(col("x.doc").as("doc_a"), col("y.doc").as("doc_b"),
        bit_count(col("x.sig").bitwiseXOR(col("y.sig"))).as("hamming"))
      .dropDuplicates("doc_a", "doc_b")
      .where(col("hamming") <= maxHamming)
  }

  /** Serialized Bloom filter over a string key column, built DISTRIBUTED
    * with Spark's own runtime-filter machinery (`BloomFilterAggregate`
    * over `xxhash64` — partial sketches merge per partition; only the
    * final ~MB sketch reaches the driver). The same pair of internal
    * expressions Catalyst injects for runtime row-level filtering,
    * exposed as a library primitive for semi-join reduction.
    */
  def bloomOf(df: DataFrame, keyCol: String,
      expectedItems: Long = 1L << 22): Array[Byte] =
    bloomOfOpt(df, keyCol, expectedItems).getOrElse(throw new
      IllegalArgumentException("bloomOf: build side has no rows — " +
        "BloomFilterAggregate yields no sketch (a null-literal probe " +
        "would silently drop every row); use bloomOfOpt for inputs " +
        "that may be empty"))

  /** [[bloomOf]] that returns `None` when the build side has no rows —
    * `BloomFilterAggregate` evaluates to null over zero rows, and a null
    * sketch literal inside [[bloomMightContain]] builds a null predicate
    * that silently drops every probe row. Callers skip the prune on
    * `None` (an empty build side means the join output is empty anyway,
    * but the PRUNE must not be the thing that decides that).
    */
  def bloomOfOpt(df: DataFrame, keyCol: String,
      expectedItems: Long = 1L << 22): Option[Array[Byte]] = {
    val hashed = XxHash64(Seq(ColumnShim.expression(col(keyCol))), 42L)
    val agg = new BloomFilterAggregate(hashed, expectedItems)
      .toAggregateExpression()
    Option(df.select(ColumnShim.column(agg).as("bf")).head()
      .getAs[Array[Byte]](0))
  }

  /** Compiled membership probe against a [[bloomOf]] sketch — no UDF;
    * `BloomFilterMightContain` generates the same code Spark's injected
    * runtime filters run. No false negatives, so pruning a join input
    * with it never changes the join's result — it only drops rows the
    * join would discard anyway, BEFORE they shuffle.
    */
  def bloomMightContain(bloom: Array[Byte], key: Column): Column =
    ColumnShim.column(BloomFilterMightContain(Literal(bloom, BinaryType),
      XxHash64(Seq(ColumnShim.expression(key)), 42L)))

  /** Benchmark decontamination: for every (corpus doc, benchmark doc)
    * pair sharing word shingles, the fraction of the BENCHMARK document's
    * distinct shingles that appear in the corpus document — the standard
    * train/eval contamination test (a benchmark item counts as leaked
    * when enough of its n-grams exist verbatim in a training document).
    *
    * Same inverted-index shape as [[shingleJaccardPairs]] but across two
    * corpora: candidates come from the shingle-equality join restricted
    * to corpus shingles with document frequency ≤ `maxShingleDf` (a
    * boilerplate shingle shared by k corpus docs × m benchmark docs
    * emits k·m pairs), and the hot-shingle correction restores exact
    * full-set overlap counts for the surviving pairs. Returns
    * (corpus_id, bench_id, overlap) with overlap ≥ `minOverlap`.
    */
  def crossCorpusOverlap(corpus: DataFrame, benchmark: DataFrame,
      textCol: String, idCol: String, shingleLen: Int, minOverlap: Double,
      maxShingleDf: Long = 10000L, bloomPrune: Boolean = false): DataFrame =
    crossShingleInter(corpus, benchmark, textCol, idCol, shingleLen,
        maxShingleDf, bloomPrune) { (inter, benchSh, _) =>
      val benchCard = benchSh.groupBy(col("doc")).agg(count(lit(1)).as("n_bench"))
      inter
        .join(benchCard.select(col("doc").as("bench_id"), col("n_bench")),
          Seq("bench_id"))
        .withColumn("overlap", col("inter") / col("n_bench"))
        .where(col("overlap") >= minOverlap)
        .select(col("corpus_id"), col("bench_id"),
          round(col("overlap"), 4).as("overlap"))
    }

  /** Incremental NEAR-dup: exact word-shingle Jaccard pairs between a
    * NEW batch and the already-ingested corpus — the A×B companion to
    * [[incrementalExact]] (which only catches verbatim copies) and to
    * [[shingleJaccardPairs]] (which pairs a corpus against itself). The
    * daily shape: candidates come from the batch⋈corpus inverted-index
    * join (df-capped on the corpus side, where boilerplate lives), so
    * the per-day cost is O(batch shingles + index probe), never a
    * re-pairing of the corpus; `bloomPrune` drops corpus shingles that
    * cannot match map-side before the shuffle, exactly as in
    * [[crossCorpusOverlap]]. Returns (corpus_id, batch_id, jaccard)
    * with exact full-set Jaccard ≥ `minJaccard` — exact for every pair
    * that becomes a CANDIDATE, i.e. shares at least one shingle with
    * corpus-side document frequency ≤ `maxShingleDf`. A pair whose
    * shared shingles are ALL hotter than the cap never enters the
    * intersection and is not reported; raise `maxShingleDf` if such
    * boilerplate-only overlaps matter.
    */
  def crossJaccardPairs(batch: DataFrame, corpus: DataFrame,
      textCol: String, idCol: String, shingleLen: Int, minJaccard: Double,
      maxShingleDf: Long = 10000L, bloomPrune: Boolean = false): DataFrame =
    crossShingleInter(corpus, batch, textCol, idCol, shingleLen,
        maxShingleDf, bloomPrune) { (inter, batchSh, corpusSh) =>
      val bCard = batchSh.groupBy(col("doc")).agg(count(lit(1)).as("n_b"))
      val cCard = corpusSh.groupBy(col("doc")).agg(count(lit(1)).as("n_c"))
      inter
        .join(bCard.select(col("doc").as("bench_id"), col("n_b")), Seq("bench_id"))
        .join(cCard.select(col("doc").as("corpus_id"), col("n_c")), Seq("corpus_id"))
        .withColumn("jaccard",
          col("inter") / (col("n_b") + col("n_c") - col("inter")))
        .where(col("jaccard") >= minJaccard)
        .select(col("corpus_id"), col("bench_id").as("batch_id"),
          round(col("jaccard"), 4).as("jaccard"))
    }

  /** The shared cross-corpus inverted-index intersection: exact
    * |A∩B| shingle counts for every (corpus doc, small-side doc) pair
    * sharing at least one sub-cap shingle, with the hot-shingle
    * correction restoring full-set counts (same adaptive probe as
    * [[shingleJaccardPairs]]). `finish` builds the operator's result
    * from (inter(corpus_id, bench_id, inter), smallSideShingles,
    * corpusShingles); the core owns the persist/checkpoint lifecycle —
    * the returned frame is one eagerly-checkpointed leaf the caller
    * frees via `CheckpointShim.freeLocalCheckpoint`.
    *
    * The corpus shingle frame handed to `finish` is always the UNPRUNED
    * (lazy, unpersisted) one: per-document cardinalities (Jaccard
    * denominators) must count full shingle sets, and a Bloom prune only
    * thins shingles that cannot intersect — so it may shrink candidate
    * generation but must never shrink a denominator.
    */
  private def crossShingleInter(corpus: DataFrame, small: DataFrame,
      textCol: String, idCol: String, shingleLen: Int, maxShingleDf: Long,
      bloomPrune: Boolean)(
      finish: (DataFrame, DataFrame, DataFrame) => DataFrame): DataFrame = {
    val benchSh = shingleRows(small, textCol, idCol, shingleLen)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // semi-join reduction: the benchmark side is small by construction,
    // so a Bloom sketch of ITS shingles drops the overwhelming majority
    // of corpus shingles map-side, BEFORE the inverted-index shuffle —
    // at 100 TB the corpus-side exchange is the dominant cost and this
    // is the standard runtime-filter answer. No false negatives → the
    // result is bit-identical with or without the prune (false positives
    // die in the equality join); the df counts stay exact because the
    // verdict is a pure function of the shingle value.
    // the PRUNED frame is the persisted one: the bloom probe carries the
    // multi-MB sketch literal in its plan, so it must run ONCE during
    // cache materialization — persisting raw and re-filtering in every
    // consumer ships the sketch in each stage's task binary (measured
    // 4× on decontaminate). finish receives the LAZY raw frame for
    // exact cardinalities; the variants that need them pay one extra
    // corpus tokenize pass (partial-aggregated, no sketch in the plan).
    val rawCorpusSh = shingleRows(corpus, textCol, idCol, shingleLen)
    // bloomOfOpt: an empty benchmark yields no sketch — skip the prune
    // (the equality join below returns empty regardless)
    val corpusSh = (if (bloomPrune)
        bloomOfOpt(benchSh, "g").fold(rawCorpusSh)(bf =>
          rawCorpusSh.where(bloomMightContain(bf, col("g"))))
      else rawCorpusSh)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // same rationale as shingleJaccardPairs: the df table feeds the hot
    // probe, the rare filter and the correction branch — compute once
    val dfc = corpusSh.groupBy(col("g")).agg(count(lit(1)).as("df"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val rare = corpusSh.join(dfc.where(col("df") <= maxShingleDf), Seq("g"))
      .select(col("doc"), col("g"))
    val interRare = rare.select(col("doc").as("corpus_id"), col("g"))
      .join(benchSh.select(col("doc").as("bench_id"), col("g")), Seq("g"))
      .groupBy(col("corpus_id"), col("bench_id"))
      .agg(count(lit(1)).as("inter_rare"))
    // same adaptive probe as shingleJaccardPairs: skip the correction
    // joins (and the second interRare reference) when no corpus shingle
    // exceeds the cap
    val hotG = dfc.where(col("df") > maxShingleDf).select(col("g"))
    val inter =
      if (hotG.limit(1).isEmpty)
        interRare.withColumnRenamed("inter_rare", "inter")
      else {
        val hotRows = corpusSh.join(hotG, Seq("g"))
        val interHot = interRare.select(col("corpus_id"), col("bench_id"))
          .join(hotRows.select(col("doc").as("corpus_id"), col("g")), Seq("corpus_id"))
          .join(benchSh.select(col("doc").as("bench_id"), col("g")), Seq("bench_id", "g"))
          .groupBy(col("corpus_id"), col("bench_id")).agg(count(lit(1)).as("inter_hot"))
        interRare.join(interHot, Seq("corpus_id", "bench_id"), "left")
          .withColumn("inter",
            col("inter_rare") + coalesce(col("inter_hot"), lit(0L)))
      }
    val result = finish(inter, benchSh, rawCorpusSh).localCheckpoint(true)
    dfc.unpersist(false)
    corpusSh.unpersist(false)
    benchSh.unpersist(false)
    result
  }

  /** Duplicate-cluster resolution: connected components over a near-dup
    * pair graph, as iterative min-label propagation — the step that
    * turns PAIRS (any of the candidate generators above) into "keep one
    * document per duplicate cluster". Each iteration joins current
    * labels across the (bidirectional) edge list, takes the min of own
    * and neighbor labels, and localCheckpoints; stops when no label
    * changed. Iterations ∝ graph diameter — near-dup clusters are
    * shallow (a dup cluster's diameter is small by construction); a
    * general billion-edge graph would upgrade this loop to the
    * large-star/small-star variant, same join shape.
    *
    * Returns (id, cluster) where cluster = min doc id reachable through
    * duplicate pairs.
    */
  def duplicateClusters(df: DataFrame, idCol: String, pairs: DataFrame,
      maxIters: Int = 20, checkpointDir: Option[String] = None): DataFrame = {
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionAll(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .distinct().localCheckpoint(true)
    // durable mode: each round's labels commit a DurableIters parquet
    // snapshot and a re-run resumes from the highest committed round
    // (one extra no-change round if the snapshot was already the fixed
    // point — min-label propagation is idempotent past convergence)
    val labels = Iterate(df.select(col(idCol).cast("long").as("id"))
        .withColumn("cluster", col("id")), maxIters, checkpointDir)({ (labels, _) =>
      val neighborMin = edges
        .join(labels.select(col("id").as("dst"), col("cluster").as("ncl")), Seq("dst"))
        .groupBy(col("src")).agg(min(col("ncl")).as("nmin"))
      // carry a per-row `changed` flag through the checkpoint so
      // convergence is a scan of the materialized blocks — not a second
      // labels⋈labels join per iteration
      labels
        .join(neighborMin.withColumnRenamed("src", "id"), Seq("id"), "left")
        .select(col("id"),
          least(col("cluster"), coalesce(col("nmin"), col("cluster"))).as("cluster"),
          (coalesce(col("nmin"), col("cluster")) < col("cluster")).as("changed"))
    }, (next, _) => next.where(col("changed")).isEmpty)
    CheckpointShim.freeLocalCheckpoint(edges)
    labels.drop("changed")
  }

  /** Duplicate-cluster resolution via alternating large-star/small-star
    * rounds — the billion-edge upgrade path of [[duplicateClusters]]
    * (Kiveris et al., "Connected Components in MapReduce and Beyond").
    * Min-label propagation needs diameter-many rounds and re-joins the
    * FULL edge list every round; star rounds rewire edges toward the
    * component minimum and converge in O(log² n) rounds over a shrinking
    * edge set — on a long-chain graph that is ~log² rounds of shuffles
    * instead of diameter-many. Same contract and same oracle as
    * [[duplicateClusters]]: (id, cluster = min reachable doc id).
    *
    * large-star (symmetric view): for each node u with
    * m = min(N(u) ∪ {u}), re-attach every LARGER neighbor v > u
    * directly to m. small-star (big→small oriented edges): re-attach
    * every smaller neighbor, and u itself, to that minimum. Both steps
    * only rewire within a component, and the joint fixed point is the
    * star graph {(node, root)} — so cluster extraction is a single
    * left join, no transitive chase.
    */
  def duplicateClustersStar(df: DataFrame, idCol: String, pairs: DataFrame,
      maxIters: Int = 16, checkpointDir: Option[String] = None): DataFrame = {
    // durable mode: the loop state is the (shrinking) rewired edge set —
    // each round commits a DurableIters snapshot; a re-run resumes from
    // the highest committed round (one extra fixed-point-detection round
    // if it was already converged). The loop stops when a round leaves
    // the set's fingerprint unchanged; the first round fingerprints the
    // state it reads, so an empty set stops after one empty round.
    var fpPrev: Option[Row] = None
    val edges = Iterate(pairs
        .select(col("doc_a").cast("long").as("a"), col("doc_b").cast("long").as("b"))
        .select(greatest(col("a"), col("b")).as("src"),
          least(col("a"), col("b")).as("dst"))
        .where(col("src") =!= col("dst")).distinct(),
        maxIters, checkpointDir)({ (edges, _) =>
      if (fpPrev.isEmpty) fpPrev = Some(edgeSetFingerprint(edges).head())
      // large-star over the symmetric view; the output (v, m) is
      // naturally big→small oriented because v > u ≥ m
      val sym = edges.unionAll(
        edges.select(col("dst").as("src"), col("src").as("dst")))
      val minL = sym.groupBy(col("src")).agg(min(col("dst")).as("mn"))
        .select(col("src").as("u"), least(col("mn"), col("src")).as("m"))
      val large = sym.where(col("dst") > col("src"))
        .join(minL, col("src") === col("u"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .distinct()
      // small-star on the oriented output: every dst is < src, so the
      // group minimum needs no self-comparison; (u, m) keeps u attached
      val minS = large.groupBy(col("src")).agg(min(col("dst")).as("m"))
      large.join(minS, Seq("src"))
        .where(col("dst") =!= col("m"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .unionAll(minS.select(col("src"), col("m").as("dst")))
        .distinct()
    }, { (next, _) =>
      val fpNext = Some(edgeSetFingerprint(next).head())
      val unchanged = fpNext == fpPrev
      fpPrev = fpNext
      unchanged
    })
    // at the fixed point each non-root appears once as (node, root);
    // the groupBy-min is a no-op there but keeps the result well-defined
    // if maxIters cut convergence short (same caveat as the label loop)
    val roots = edges.groupBy(col("src").as("id")).agg(min(col("dst")).as("r"))
    val result = df.select(col(idCol).cast("long").as("id"))
      .join(roots, Seq("id"), "left")
      .select(col("id"), coalesce(col("r"), col("id")).as("cluster"))
      .localCheckpoint(true)
    CheckpointShim.freeLocalCheckpointIfAny(edges)
    result
  }

  /** One-row fingerprint `(n, hi, lo)` of a DISTINCT (src, dst) long
    * set, the fixed-point test of [[duplicateClustersStar]] in place of
    * count + anti-join:
    *   fp(S) = (|S|, Σ high32(xxhash64(src,dst)), Σ low32(xxhash64(src,dst))).
    * S = T ⇒ fp(S) = fp(T), and for S ≠ T a collision needs the 64-bit
    * hashes of the differing edges to cancel exactly in BOTH half-sums:
    * with xxhash64 modeled uniform that is ~2⁻⁶⁴ per round-comparison,
    * and the downstream oracle hash-gate would surface a premature stop
    * anyway. The win is one SCAN-aggregate per round over the
    * just-checkpointed blocks in place of two counts + a full anti-JOIN
    * of consecutive edge sets. The half-sums accumulate in
    * DECIMAL(38,0): each term is below 2³², so an int64 sum throws under
    * ANSI past ~2³¹ edges. Empty sets sum to null on both sides.
    */
  private[operators] def edgeSetFingerprint(edges: DataFrame): DataFrame = {
    val h = xxhash64(col("src"), col("dst"))
    edges.agg(count(lit(1)).as("n"),
      sum(shiftrightunsigned(h, 32).cast("decimal(38,0)")).as("hi"),
      sum(h.bitwiseAND(lit(0xFFFFFFFFL)).cast("decimal(38,0)")).as("lo"))
  }

  /** Embedding near-dup pairs: exact cosine ≥ minCosine within a blocking
    * key (e.g. a cluster/label id or an LSH bucket) so the pair space is
    * per-block, not global n². Norms are computed once per row BEFORE the
    * pair join; the per-pair work is a single codegen'd dot product.
    */
  /** Semantic dedup (SemDeDup-shape): near-dup pairs by embedding cosine,
    * blocked by IVF cells from a real coarse quantizer instead of a
    * caller-provided label. Fit KMeans on a deterministic 1/`sampleMod`
    * hash sample (cluster SHAPE needs a sample, not every vector — a
    * full-table Lloyd pass is the cost that explodes at 100 TB), assign
    * every vector to its nearest centroid (one codegen'd dot per cell,
    * ‖c‖² folded to literals), then run the exact per-block cosine join.
    * Pair space is Σ per-cell n², never global n²; cells are the
    * partition/bucket key of the stored table at scale. Cross-cell
    * near-dups are the recall loss — the standard SemDeDup trade, tuned
    * by `kCells` (fewer cells = higher recall, bigger blocks).
    */
  def semanticDedupPairs(df: DataFrame, vecCol: String, idCol: String,
      kCells: Int, minCosine: Double, seed: Long = 42L,
      sampleMod: Int = 16): DataFrame = {
    val sample =
      if (kCells <= 1) df // one block — no quantizer needed
      else {
        // guard: for inputs smaller than ~sampleMod rows (or unlucky
        // hash values) the 1/sampleMod sample can be empty and
        // KMeans.fit would throw — fall back to clustering the full
        // frame (it is tiny in exactly the case the sample is empty)
        val s0 = df.where(pmod(xxhash64(col(idCol)), lit(sampleMod)) === 0)
        if (s0.limit(1).isEmpty) df else s0
      }
    val blocked =
      if (kCells <= 1) df.withColumn("cell", lit(0))
      else SimilaritySearch.assignToCentroids(df, vecCol,
        SimilaritySearch.fitIvf(sample, vecCol, kCells, seed))
    embeddingCosinePairs(blocked, vecCol, idCol, "cell", minCosine)
  }

  /** Cross-SET cosine pairs — semantic decontamination (the embedding
    * sibling of the n-gram `decontaminate`): every (eval item, corpus
    * item) pair above `minCosine`, blocked by a shared coarse-quantizer
    * cell so the pair space is Σ per-cell |eval|·|corpus|, never
    * |eval|·|corpus| globally. Both frames must carry the SAME
    * `blockCol` assignment (one quantizer, two `assignToCentroids`
    * calls — or one call on the union, filtered after). Unlike
    * [[embeddingCosinePairs]] there is no id ordering: the two sets are
    * disjoint roles, and every qualifying cross pair is evidence.
    */
  def crossSetCosinePairs(evalSet: DataFrame, corpus: DataFrame,
      vecCol: String, idCol: String, blockCol: String,
      minCosine: Double): DataFrame = {
    def prep(df: DataFrame, idAs: String) =
      df.select(col(blockCol).as("block"), col(idCol).as(idAs),
        col(vecCol).as("v"), VectorOps.l2Norm(col(vecCol)).as("nrm"))
    prep(evalSet, "eval_id").alias("x")
      .join(prep(corpus, "doc_id").alias("y"), Seq("block"))
      .select(col("eval_id"), col("doc_id"),
        VectorOps.cosineWithNorms(col("x.v"), col("y.v"),
          col("x.nrm"), col("y.nrm")).as("cos"))
      .where(col("cos") >= minCosine)
      .select(col("eval_id"), col("doc_id"), round(col("cos"), 4).as("cosine"))
  }

  def embeddingCosinePairs(df: DataFrame, vecCol: String, idCol: String,
      blockCol: String, minCosine: Double): DataFrame = {
    val e = df.select(col(blockCol).as("block"), col(idCol).as("id"),
      col(vecCol).as("v"), VectorOps.l2Norm(col(vecCol)).as("nrm"))
    e.alias("x")
      .join(e.alias("y"), Seq("block"))
      .where(col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        VectorOps.cosineWithNorms(col("x.v"), col("y.v"),
          col("x.nrm"), col("y.nrm")).as("cos"))
      .where(col("cos") >= minCosine)
      .select(col("id_a"), col("id_b"), round(col("cos"), 4).as("cosine"))
  }
}
