package graft.operators

import graft.SparkSpec
import graft.functions.VectorOps
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {

  test("VectorOps dot/norm/cosine in double precision") {
    import spark.implicits._
    val df = Seq((Seq(1.0f, 2.0f, 2.0f), Seq(2.0f, 0.0f, 0.0f))).toDF("a", "b")
    val r = df.select(
      VectorOps.dot(col("a"), col("b")).as("d"),
      VectorOps.l2Norm(col("a")).as("na"),
      VectorOps.cosine(col("a"), col("b")).as("c")).head()
    assert(r.getDouble(0) == 2.0)
    assert(r.getDouble(1) == 3.0)
    assert(math.abs(r.getDouble(2) - 2.0 / (3.0 * 2.0)) < 1e-12)
  }

  test("cosine of a zero vector is the -2 sentinel, never NaN (desc-sort safety)") {
    import spark.implicits._
    val df = Seq((Seq(0.0f, 0.0f), Seq(1.0f, 0.0f))).toDF("z", "v")
    val r = df.select(
      VectorOps.cosine(col("z"), col("v")).as("c"),
      VectorOps.cosineWithNorms(col("z"), col("v"),
        VectorOps.l2Norm(col("z")), VectorOps.l2Norm(col("v"))).as("cn")).head()
    assert(r.getDouble(0) == -2.0 && r.getDouble(1) == -2.0)
  }

  test("VecScale/l2Normalize: unit norms, zero vectors go null not throw") {
    import spark.implicits._
    val df = Seq((1L, Seq(3.0f, 4.0f)), (2L, Seq(0.0f, 0.0f))).toDF("id", "v")
    val out = df.select(col("id"), VectorOps.l2Normalize(col("v")).as("n"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getSeq[Double](1))).toMap
    assert(out(1L).zip(Seq(0.6, 0.8))
      .forall { case (a, b) => math.abs(a - b) < 1e-12 })
    assert(out(2L) == null) // ANSI-safe: try_divide, not a throw
    // equals the interpreted HOF formulation
    val hof = df.where(col("id") === 1).select(
      expr("transform(v, x -> CAST(x AS DOUBLE) / sqrt(aggregate(v, 0D, (a, y) -> a + CAST(y AS DOUBLE) * y)))"))
      .head().getSeq[Double](0)
    assert(hof.zip(out(1L)).forall { case (a, b) => math.abs(a - b) < 1e-12 })
  }

  test("VecScale propagates null elements instead of zeroing them") {
    import spark.implicits._
    val df = Seq(1).toDF("i").select(
      VectorOps.scale(expr("array(1.0D, CAST(NULL AS DOUBLE), 3.0D)"), lit(2.0)).as("v"))
    assert(df.schema("v").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType].containsNull)
    val got = df.head().getSeq[Any](0)
    assert(got == Seq(2.0, null, 6.0))
  }

  test("brute-force top-k on real embeddings: k rows, sorted, query excluded") {
    val e = graft.sources.Tables.embeddings(spark, sf("sf0.001"))
    val top = SimilaritySearch.bruteForceTopK(e, "embedding", "vec_id", 0L, 10)
      .collect()
    assert(top.length == 10)
    assert(!top.map(_.getLong(0)).contains(0L))
    val sims = top.map(_.getDouble(1))
    assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
  }

  test("LSH top-k results are a subset of brute-force ordering universe") {
    val e = graft.sources.Tables.embeddings(spark, sf("sf0.001"))
    val brute = SimilaritySearch.bruteForceTopK(e, "embedding", "vec_id", 0L, 500)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val lsh = SimilaritySearch.lshTopK(e, "embedding", "vec_id", 0L, 10, nPlanes = 6)
      .collect()
    assert(lsh.nonEmpty)
    // every LSH hit carries the same exact cosine the brute-force scan found
    lsh.foreach(r => assert(math.abs(brute(r.getLong(0)) - r.getDouble(1)) < 1e-9))
  }

  test("fitIvf: seeded KMeans centroids are deterministic and separate clear clusters") {
    import spark.implicits._
    // two tight clusters around (10,0) and (0,10)
    val pts = ((1 to 20).map(i => (i.toLong, Seq(10.0f + i * 0.01f, 0.0f))) ++
      (21 to 40).map(i => (i.toLong, Seq(0.0f, 10.0f + i * 0.01f)))).toDF("id", "v")
    val c1 = SimilaritySearch.fitIvf(pts, "v", k = 2)
    val c2 = SimilaritySearch.fitIvf(pts, "v", k = 2)
    assert(c1 == c2) // same seed → same centroids
    val cells = SimilaritySearch.assignToCentroids(pts, "v", c1)
      .select("id", "cell").collect().map(r => r.getLong(0) -> r.getInt(1))
    val (a, b) = cells.partition(_._1 <= 20)
    assert(a.map(_._2).distinct.length == 1)
    assert(b.map(_._2).distinct.length == 1)
    assert(a.head._2 != b.head._2)
  }

  test("ivfTopK: more probes never lose recall; full probe equals brute force") {
    val e = graft.sources.Tables.embeddings(spark, sf("sf0.001"))
    val centroids = SimilaritySearch.fitIvf(e, "embedding", k = 4)
    def recallAt10(nprobe: Int): Double = {
      val got = SimilaritySearch
        .ivfTopK(e, "embedding", "vec_id", 0L, 10, centroids, nprobe)
        .collect().map(_.getLong(0)).toSet
      val truth = SimilaritySearch.bruteForceTopK(e, "embedding", "vec_id", 0L, 10)
        .collect().map(_.getLong(0)).toSet
      got.intersect(truth).size.toDouble / truth.size
    }
    val r1 = recallAt10(1); val r2 = recallAt10(2); val r4 = recallAt10(4)
    assert(r1 <= r2 && r2 <= r4, s"recall not monotone: $r1 $r2 $r4")
    assert(r4 == 1.0) // probing every cell IS the exact search
  }

  test("pqTopK: recall vs brute force, and rerank=all equals brute force exactly") {
    val e = graft.sources.Tables.embeddings(spark, sf("sf0.001"))
    val n = e.count().toInt
    val codebooks = SimilaritySearch.fitPq(e, "embedding", dim = 64, m = 8,
      codesPerSub = 16, maxIter = 3)
    val truth = SimilaritySearch.bruteForceTopK(e, "embedding", "vec_id", 0L, 10)
      .collect().map(_.getLong(0))
    // rerank over every row: the ADC order stops mattering and the exact
    // cosine pass IS brute force — ids and order must match bit-for-bit
    val full = SimilaritySearch.pqTopK(e, "embedding", "vec_id", 0L, 10,
      codebooks, rerank = n).collect().map(_.getLong(0))
    assert(full.toSeq == truth.toSeq)
    // the production shape: a bounded rerank set still recovers most of
    // the true top-10 (8×16 codebooks on 64-dim leave ample signal)
    val approx = SimilaritySearch.pqTopK(e, "embedding", "vec_id", 0L, 10,
      codebooks, rerank = 40).collect().map(_.getLong(0)).toSet
    val recall = approx.intersect(truth.toSet).size.toDouble / truth.length
    assert(recall >= 0.5, s"PQ recall@10 too low: $recall")
    // determinism: seeded codebooks + deterministic ADC → same answer
    val again = SimilaritySearch.pqTopK(e, "embedding", "vec_id", 0L, 10,
      SimilaritySearch.fitPq(e, "embedding", dim = 64, m = 8,
        codesPerSub = 16, maxIter = 3), rerank = 40)
      .collect().map(_.getLong(0)).toSet
    assert(again == approx)
  }

  test("knnJoinPq: rerank=all equals the brute-force join for every query") {
    val e = graft.sources.Tables.embeddings(spark, sf("sf0.001"))
    val n = e.count().toInt
    val queries = e.where(pmod(col("vec_id"), lit(50)) === 0)
    val codebooks = SimilaritySearch.fitPq(e, "embedding", dim = 64, m = 8,
      codesPerSub = 16, maxIter = 2)
    val truth = SimilaritySearch
      .knnJoinBruteForce(e, queries, "embedding", "vec_id", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val full = SimilaritySearch
      .knnJoinPq(e, queries, "embedding", "vec_id", k = 5, codebooks, rerank = n)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(full == truth)
    // bounded rerank: every query still gets k rows, ranks 1..k
    val approx = SimilaritySearch
      .knnJoinPq(e, queries, "embedding", "vec_id", k = 5, codebooks, rerank = 25)
      .collect()
    val perQuery = approx.groupBy(_.getLong(0))
    assert(perQuery.values.forall(_.map(_.getLong(2)).sorted.toSeq == (1L to 5L)))
    // and recalls a solid share of the true neighbor pairs
    val approxPairs = approx.map(r => (r.getLong(0), r.getLong(1))).toSet
    val truthPairs = truth.map(t => (t._1, t._2))
    val recall = approxPairs.intersect(truthPairs).size.toDouble / truthPairs.size
    assert(recall >= 0.5, s"knnJoinPq recall too low: $recall")
  }

  test("knnJoinIvfPq: full probe + full rerank is exact; bench config holds recall@10 >= 0.9") {
    val e = graft.sources.Tables.embeddings(spark, sf("sf0.001"))
    val n = e.count().toInt
    val queries = e.where(pmod(col("vec_id"), lit(50)) === 0)
    // the bench query's exact fit: both quantizers on the same
    // deterministic 1/16 hash sample, seeded KMeans
    val sample = e.where(pmod(xxhash64(col("vec_id")), lit(16)) === 0)
    val centroids = SimilaritySearch.fitIvf(sample, "embedding", k = 8, maxIter = 3)
    val codebooks = SimilaritySearch.fitPq(sample, "embedding", dim = 64, m = 8,
      codesPerSub = 16, maxIter = 3)
    val truth = SimilaritySearch
      .knnJoinBruteForce(e, queries, "embedding", "vec_id", k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // probing every cell with rerank=all removes both approximations:
    // the composition must degrade to the exact join bit-for-bit
    val full = SimilaritySearch
      .knnJoinIvfPq(e, queries, "embedding", "vec_id", k = 10, centroids,
        codebooks, nprobe = 8, rerank = n)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(full == truth)
    // the RECALL BAR for the bench configuration (the knn_join_pq query
    // verbatim: L2-normalized vectors, residual m=64×16 codebooks,
    // kCells=8, nprobe=6, rerank=50). The synthetic embeddings are
    // ISOTROPIC (measured: same-label and cross-label mean cosine both
    // 0.000) — the adversarial case for ANN, where the top-10/top-50
    // cosine gap is ~0.1 and coarse-cell locality is all there is. At
    // this configuration the measured composed recall (0.93) equals the
    // IVF-only ceiling — the SQ4-grade residual ADC contributes no
    // loss. Fixed seeds make the number deterministic, so a future
    // rewrite cannot silently trade recall for speed: wins must keep
    // recall@10 >= 0.9.
    val en = e.select(col("vec_id"),
      VectorOps.l2Normalize(col("embedding")).as("embedding"))
    val sampleN = en.where(pmod(xxhash64(col("vec_id")), lit(16)) === 0)
    val centroidsN = SimilaritySearch.fitIvf(sampleN, "embedding", k = 8, maxIter = 3)
    val codebooksN = SimilaritySearch.fitPq(
      SimilaritySearch.cellResiduals(sampleN, "embedding", centroidsN),
      "__resid", dim = 64, m = 64, codesPerSub = 16, maxIter = 2)
    val queriesN = en.where(pmod(col("vec_id"), lit(50)) === 0)
    val truthN = SimilaritySearch
      .knnJoinBruteForce(en, queriesN, "embedding", "vec_id", k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = SimilaritySearch
      .knnJoinIvfPq(en, queriesN, "embedding", "vec_id", k = 10, centroidsN,
        codebooksN, nprobe = 6, rerank = 50)
      .collect()
    val perQuery = approx.groupBy(_.getLong(0))
    assert(perQuery.values.forall(_.map(_.getLong(2)).sorted.toSeq == (1L to 10L)))
    val approxPairs = approx.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = approxPairs.intersect(truthN).size.toDouble / truthN.size
    assert(recall >= 0.9, s"knnJoinIvfPq recall@10 too low: $recall")
    // SECOND kCells point — the scale rule made tamper-evident. The
    // bench's kCells=8 is a small-data point on the kCells ~ √n curve,
    // not a constant: at fixed probed fraction nprobe/kCells = 0.75 the
    // measured recall@10 on this corpus (n = 500, √n ≈ 22) is
    //   kCells  4    8    16   32
    //   recall  0.94 0.92 0.96 0.81
    // — flat while kCells stays ≲ √n-scale, collapsing once cells
    // (~16 members at kCells=32) undershoot the per-cell candidate
    // depth the rerank budget assumes. A 100 TB corpus re-derives
    // kCells from √n (FAISS's guideline), keeping cells ~10⁴-member
    // sized; the library parameterizes it, the queries pin one point.
    val centroids16 = SimilaritySearch.fitIvf(sampleN, "embedding",
      k = 16, maxIter = 3)
    val codebooks16 = SimilaritySearch.fitPq(
      SimilaritySearch.cellResiduals(sampleN, "embedding", centroids16),
      "__resid", dim = 64, m = 64, codesPerSub = 16, maxIter = 2)
    val pairs16 = SimilaritySearch
      .knnJoinIvfPq(en, queriesN, "embedding", "vec_id", k = 10, centroids16,
        codebooks16, nprobe = 12, rerank = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall16 = pairs16.intersect(truthN).size.toDouble / truthN.size
    assert(recall16 >= 0.9,
      s"knnJoinIvfPq recall@10 at kCells=16 too low: $recall16")
  }

  test("knnJoinIvfPq: enforced batch chunking returns the unchunked result exactly") {
    val e = graft.sources.Tables.embeddings(spark, sf("sf0.001"))
    val queries = e.where(pmod(col("vec_id"), lit(25)) === 0)
    val sample = e.where(pmod(xxhash64(col("vec_id")), lit(16)) === 0)
    val centroids = SimilaritySearch.fitIvf(sample, "embedding", k = 4, maxIter = 2)
    val codebooks = SimilaritySearch.fitPq(
      SimilaritySearch.cellResiduals(sample, "embedding", centroids),
      "__resid", dim = 64, m = 8, codesPerSub = 16, maxIter = 1)
    def run(batchSize: Int) = SimilaritySearch
      .knnJoinIvfPq(e, queries, "embedding", "vec_id", k = 5, centroids,
        codebooks, nprobe = 2, rerank = 25, batchSize = batchSize)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val unchunked = run(batchSize = 1000000)
    // batchSize=2 forces many hash chunks over this query batch; per-query
    // top-k never looks across queries, so the union must be IDENTICAL —
    // the broadcast-budget enforcement cannot perturb results
    val chunked = run(batchSize = 2)
    assert(chunked == unchunked)
    assert(chunked.map(_._1).size > 2) // really exercised >1 chunk
  }

  test("knnJoinIvfPqStored probes the cell-partitioned code table with a pruned scan, results ≡ inline") {
    import graft.streaming.AnnIndexStream
    val e = graft.sources.Tables.embeddings(spark, sf("sf0.001"))
    val queries = e.where(pmod(col("vec_id"), lit(50)) === 0)
    val sample = e.where(pmod(xxhash64(col("vec_id")), lit(16)) === 0)
    val centroids = SimilaritySearch.fitIvf(sample, "embedding", k = 8, maxIter = 2)
    val codebooks = SimilaritySearch.fitPq(
      SimilaritySearch.cellResiduals(sample, "embedding", centroids),
      "__resid", dim = 64, m = 8, codesPerSub = 16, maxIter = 1)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_probe").toString
    AnnIndexStream.indexRows(e, "embedding", "vec_id", centroids, codebooks)
      .write.partitionBy("cell").mode("overwrite").parquet(dir)
    val stored = spark.read.parquet(dir)
    val probed = SimilaritySearch.probedCells(queries, "embedding", centroids, nprobe = 2)
    assert(probed.nonEmpty && probed.size <= 8)
    // the scan the stored probe join performs: static IN-list on the
    // partition column — the files read must come ONLY from probed-cell
    // directories, and the plan must show the predicate as a
    // PartitionFilter (directory pruning), not a post-scan Filter
    val prunedScan = stored.where(col("cell").isin(probed: _*))
    val planStr = prunedScan.queryExecution.executedPlan.toString
    assert(planStr.contains("PartitionFilters") && planStr.contains("cell"), planStr)
    val filesRead = prunedScan.select(input_file_name()).distinct()
      .collect().map(_.getString(0))
    val cellDirsRead = filesRead.map(f =>
      f.split("/").find(_.startsWith("cell=")).get.stripPrefix("cell=").toInt).toSet
    assert(cellDirsRead == probed.toSet,
      s"scan read cells $cellDirsRead, probed $probed")
    // and the maintained-index probe returns exactly the inline result
    val inline = SimilaritySearch
      .knnJoinIvfPq(e, queries, "embedding", "vec_id", k = 5, centroids,
        codebooks, nprobe = 2, rerank = 25)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val fromStore = SimilaritySearch
      .knnJoinIvfPqStored(stored, e, queries, "embedding", "vec_id", k = 5,
        centroids, codebooks, nprobe = 2, rerank = 25)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(fromStore == inline)
  }

  test("pqEncode emits m codes per row within each codebook's id range") {
    val e = graft.sources.Tables.embeddings(spark, sf("sf0.001"))
    val codebooks = SimilaritySearch.fitPq(e, "embedding", dim = 64, m = 8,
      codesPerSub = 16, maxIter = 2)
    val codes = SimilaritySearch.pqEncode(e, "embedding", codebooks)
      .select(col("pq_code")).collect().map(_.getSeq[Int](0))
    assert(codes.forall(_.length == 8))
    assert(codes.forall(_.forall(c => c >= 0 && c < 16)))
  }

  test("knnJoin: IVF full probe equals brute force for every query in the batch") {
    val e = graft.sources.Tables.embeddings(spark, sf("sf0.001"))
    val queries = e.where(col("vec_id") % 25 === 0)
    val brute = SimilaritySearch
      .knnJoinBruteForce(e, queries, "embedding", "vec_id", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(brute.nonEmpty)
    // every query id contributes exactly k ranked rows
    assert(brute.groupBy(_._1).forall(_._2.size == 3))
    val centroids = SimilaritySearch.fitIvf(e, "embedding", k = 4)
    val full = SimilaritySearch
      .knnJoinIvf(e, queries, "embedding", "vec_id", k = 3, centroids, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(full == brute) // probing every cell IS the exact join
    val pruned = SimilaritySearch
      .knnJoinIvf(e, queries, "embedding", "vec_id", k = 3, centroids, nprobe = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // one-probe results are a subset of the scored universe: each hit is
    // a real corpus row, never the query itself
    assert(pruned.forall { case (q, n) => q != n })
  }

  test("IVF cells stored as a partition column make probes partition pruning") {
    val e = graft.sources.Tables.embeddings(spark, sf("sf0.001"))
    val centroids = SimilaritySearch.fitIvf(e, "embedding", k = 4)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_store").toString
    SimilaritySearch.assignToCentroids(e, "embedding", centroids)
      .write.partitionBy("cell").mode("overwrite").parquet(dir)
    val probed = spark.read.parquet(dir).where(col("cell") === 1)
    val scan = probed.queryExecution.executedPlan.toString
    // the cell predicate must land in PartitionFilters (directory
    // pruning), not in a post-scan Filter over all cells
    assert(scan.contains("PartitionFilters") && scan.contains("cell"), scan)
    val prunedFiles = probed.queryExecution.executedPlan.collectLeaves()
      .head.toString
    assert(prunedFiles.contains("(cell = 1)") ||
      scan.matches("(?s).*PartitionFilters: \\[[^\\]]*cell[^\\]]*\\].*"), prunedFiles)
    assert(probed.count() > 0)
  }

  test("the IVF-PQ code table stored by cell is probe-prunable and reconstructs the ADC scan") {
    import graft.streaming.AnnIndexStream
    val e = graft.sources.Tables.embeddings(spark, sf("sf0.001"))
    val centroids = SimilaritySearch.fitIvf(e, "embedding", k = 4)
    val codebooks = SimilaritySearch.fitPq(
      SimilaritySearch.cellResiduals(e, "embedding", centroids),
      "__resid", dim = 64, m = 8, codesPerSub = 16, maxIter = 1)
    val dir = java.nio.file.Files.createTempDirectory("graft_pq_store").toString
    // the maintained index table: (vec_id, cell, pq_code), cell-partitioned
    AnnIndexStream.indexRows(e, "embedding", "vec_id", centroids, codebooks)
      .write.partitionBy("cell").mode("overwrite").parquet(dir)
    val probed = spark.read.parquet(dir).where(col("cell") === 1)
    val scan = probed.queryExecution.executedPlan.toString
    // a probe must be DIRECTORY pruning over the code table — the 100 TB
    // claim of the IVF-PQ composition — not a post-scan filter
    assert(scan.contains("PartitionFilters") && scan.contains("cell"), scan)
    assert(probed.count() > 0)
    // and the stored codes are exactly what the inline encoding computes
    val stored = spark.read.parquet(dir)
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("cell"),
        r.getAs[scala.collection.Seq[Int]]("pq_code").toSeq)).toSet
    val inline = AnnIndexStream.indexRows(e, "embedding", "vec_id",
        centroids, codebooks)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getSeq[Int](2).toSeq)).toSet
    assert(stored == inline)
  }

  test("centroid assignment picks the nearest cell") {
    import spark.implicits._
    val df = Seq((1L, Seq(0.9f, 0.0f)), (2L, Seq(0.0f, 1.1f))).toDF("id", "v")
    val cells = SimilaritySearch.assignToCentroids(df, "v",
      Seq(0 -> Seq(1.0, 0.0), 1 -> Seq(0.0, 1.0)))
      .select("id", "cell").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(cells == Map(1L -> 0, 2L -> 1))
  }

  test("SignBits64: bit i ⇔ element i > 0; matches the axis-aligned hyperplane form") {
    import spark.implicits._
    import org.apache.spark.sql.graftshim.ColumnShim
    def sig(c: org.apache.spark.sql.Column) = ColumnShim.column(
      graft.functions.expressions.SignBits64(ColumnShim.expression(c)))
    val df = Seq(
      (1L, Seq(1.0f, -1.0f, 0.0f, 2.0f)),     // bits 0 and 3
      (2L, Seq(-1.0f, -1.0f, -1.0f, -1.0f)),  // none
      (3L, Seq.fill(64)(1.0f))                // all 64 (bit 63 = sign bit)
    ).toDF("id", "v")
    val out = df.select(col("id"), sig(col("v")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) == ((1L << 0) | (1L << 3)))
    assert(out(2L) == 0L)
    assert(out(3L) == -1L) // all 64 bits set = two's-complement -1
    // identical to the hyperplane signature with the identity basis
    val planes = (0 until 4).map(i => Seq.tabulate(4)(j => if (i == j) 1.0 else 0.0))
    val both = df.where(col("id") =!= 3).select(
      sig(col("v")).as("a"),
      VectorOps.hyperplaneSignature(col("v"), planes).as("b")).collect()
    assert(both.forall(r => r.getLong(0) == r.getLong(1)))
    // SQL form (GraftExtensions, injected by GraftSession)
    df.createOrReplaceTempView("sb_in")
    val viaSql = spark.sql("SELECT sign_bits64(v) AS s FROM sb_in WHERE id = 1").head()
    assert(viaSql.getLong(0) == ((1L << 0) | (1L << 3)))
  }

  test("hammingTopK: binary coarse filter + exact rerank finds the true neighbor") {
    import spark.implicits._
    // query 0 at (+,+,-,-); id 1 identical signs (hamming 0), id 2 one
    // flip, id 3 opposite — rank must follow the exact cosine among the
    // reranked set, which here agrees with hamming order
    val df = Seq(
      (0L, Seq(1.0f, 1.0f, -1.0f, -1.0f)),
      (1L, Seq(0.9f, 1.1f, -0.8f, -1.2f)),
      (2L, Seq(1.0f, -0.1f, -1.0f, -1.0f)),
      (3L, Seq(-1.0f, -1.0f, 1.0f, 1.0f))).toDF("vec_id", "embedding")
    val out = SimilaritySearch.hammingTopK(df, "embedding", "vec_id",
      queryId = 0L, k = 3, rerank = 3).collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(out.head.getLong(1) == 0L)            // hamming(query, id 1) = 0
    assert(out.last.getLong(1) == 4L)            // id 3 flips all 4 sign bits
    assert(out.head.getDouble(2) > 0.98)         // exact cosine survived rerank
    // determinism across partitionings
    val again = SimilaritySearch.hammingTopK(df.repartition(5), "embedding",
      "vec_id", queryId = 0L, k = 3, rerank = 3).collect()
    assert(again.map(_.toSeq).toSeq == out.map(_.toSeq).toSeq)
  }

  test("hardNegatives: nearest different-label vectors only, exact top-k") {
    import spark.implicits._
    val df = Seq(
      (0L, Seq(1.0f, 0.0f), 0),   // query
      (1L, Seq(0.99f, 0.1f), 0),  // same label — excluded however close
      (2L, Seq(0.9f, 0.3f), 1),   // nearest wrong-label
      (3L, Seq(0.0f, 1.0f), 1),
      (4L, Seq(-1.0f, 0.0f), 2)).toDF("vec_id", "embedding", "label")
    val out = SimilaritySearch.hardNegatives(
      df, df.where(col("vec_id") === 0), "embedding", "vec_id", "label", k = 2)
      .collect()
    assert(out.map(_.getLong(1)).toSeq == Seq(2L, 3L))
    assert(out.forall(_.getLong(2) != 0L))       // no same-label row leaked
    assert(out.map(_.getLong(3)).toSeq == Seq(1L, 2L))
  }

  test("rocchioTopK: feedback and query excluded; the moved query finds the cluster") {
    import spark.implicits._
    // query 0 sits between cluster A (ids 1..6, near (1, 0.1)) and a
    // decoy (id 50, exactly the query's direction but far from A's
    // center); after feedback on A the moved query prefers A's tail
    val rows = Seq((0L, Seq(1.0f, 0.0f))) ++
      (1L to 6L).map(i => (i, Seq(1.0f, 0.1f + i * 0.001f))) ++
      Seq((50L, Seq(1.0f, 0.0f))) ++
      (60L to 80L).map(i => (i, Seq(0.0f, 1.0f)))
    val df = rows.toDF("vec_id", "embedding")
    val out = SimilaritySearch.rocchioTopK(df, "embedding", "vec_id",
      queryId = 0L, k = 5, fb = 3)
      .collect().map(r => r.getLong(0))
    assert(out.length == 5)
    assert(!out.contains(0L), "query leaked into results")
    // top-3 feedback is 50 (identical direction) + the two nearest of A —
    // none of them may reappear
    val fb = SimilaritySearch.bruteForceTopK(df, "embedding", "vec_id", 0L, 3)
      .collect().map(_.getLong(0)).toSet
    assert(out.toSet.intersect(fb).isEmpty, s"feedback $fb leaked: ${out.toSeq}")
    // the re-ranked head is A's remaining members (2 of the 6 were
    // consumed as feedback, so exactly 4 remain and they lead the list)
    assert(out.take(4).toSet.subsetOf((1L to 6L).toSet),
      s"moved query wandered: ${out.toSeq}")
  }
}
