package graft

import org.apache.spark.sql.functions._

/** Measurement main for the clustered-ANN scale law (SCALE.md r19):
  * fit an IVF coarse quantizer with `kCells`, run the batch k-NN join
  * at `nprobe`, and report recall@k against brute force plus the
  * MEASURED probed fraction (corpus rows actually scanned per query,
  * from the real cell occupancies — not the nominal nprobe/kCells).
  *
  * {{{ sbt "runMain graft.AnnLaw <embeddingsDir> <kCells> <nprobe> [k] [nQueries]" }}}
  *
  * Prints one JSON line: n, kCells, nprobe, recall, probed_fraction,
  * ann_sec, brute_sec.
  */
object AnnLaw {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: AnnLaw <dir> <kCells> <nprobe> [k] [nQueries]")
    val dir = args(0)
    val kCells = args(1).toInt
    val nprobe = args(2).toInt
    val k = if (args.length > 3) args(3).toInt else 10
    val nQ = if (args.length > 4) args(4).toInt else 100
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.operators.SimilaritySearch
    val corpus = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding")).cache()
    val n = corpus.count()
    val queries = corpus.where(pmod(col("vec_id"), lit(n / nQ)) === 0)
    val qn = queries.count()

    val fit = corpus.where(pmod(xxhash64(col("vec_id")), lit(4)) === 0)
    // maxIter 20 (not the gate rows' 5): at kCells in the hundreds the
    // random-init fit needs real refinement or cells straddle the true
    // clusters and recall decays for reasons that have nothing to do
    // with the probe law being measured
    val centroids = SimilaritySearch.fitIvf(fit, "embedding", kCells,
      maxIter = 20)

    // measured probed fraction: cell occupancy joined to each query's
    // probed cell list
    val occupancy = SimilaritySearch
      .assignToCentroids(corpus.select(col("embedding").as("v")), "v", centroids)
      .groupBy(col("cell")).agg(count(lit(1)).as("cn"))
    val cellDists = centroids.map { case (cid, c) =>
      val cNormSq = c.map(x => x * x).sum
      struct((lit(cNormSq) - lit(2.0) *
        graft.functions.VectorOps.dot(col("embedding"), array(c.map(lit): _*))).as("d"),
        lit(cid).as("cid"))
    }
    val probed = queries.select(col("vec_id"),
        explode(slice(array_sort(array(cellDists: _*)), 1, nprobe)
          .getField("cid")).as("cell"))
      .join(occupancy, Seq("cell"))
      .agg(sum(col("cn")).as("scanned")).head().getLong(0)
    val probedFraction = probed.toDouble / (n.toDouble * qn)

    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    val (annRows, annSec) = timed {
      SimilaritySearch.knnJoinIvf(corpus, queries, "embedding", "vec_id",
        k, centroids, nprobe)
        .select(col("query_id"), col("neighbor_id")).collect()
    }
    // the warehouse path: cell assignment is a STORED artifact (built
    // once, like knnJoinIvfPqStored's code table) — time the probe +
    // rerank alone against a materialized assignment
    val stored = SimilaritySearch.assignToCentroids(
        corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("v"),
          graft.functions.VectorOps.l2Norm(col("embedding")).as("vn")),
        "v", centroids)
      .localCheckpoint(true)
    val (_, storedSec) = timed {
      import org.apache.spark.sql.expressions.Window
      val q = queries.select(col("vec_id").as("query_id"),
        col("embedding").as("qv"),
        graft.functions.VectorOps.l2Norm(col("embedding")).as("qn"),
        explode(slice(array_sort(array(cellDists: _*)), 1, nprobe)
          .getField("cid")).as("cell"))
      val scored = stored.join(broadcast(q), Seq("cell"))
        .where(col("neighbor_id") =!= col("query_id"))
        .select(col("query_id"), col("neighbor_id"),
          graft.functions.VectorOps.cosineWithNorms(
            col("v"), col("qv"), col("vn"), col("qn")).as("cos"))
      val byQuery = Window.partitionBy(col("query_id"))
        .orderBy(col("cos").desc, col("neighbor_id").asc)
      scored.withColumn("rank", row_number().over(byQuery))
        .where(col("rank") <= k).collect()
    }
    val (bruteRows, bruteSec) = timed {
      SimilaritySearch.knnJoinBruteForce(corpus, queries, "embedding",
        "vec_id", k)
        .select(col("query_id"), col("neighbor_id")).collect()
    }
    val ann = annRows.map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = bruteRows.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (ann intersect brute).size.toDouble / brute.size
    println(f"""{"n":$n,"kCells":$kCells,"nprobe":$nprobe,"k":$k,"nQueries":$qn,"recall":$recall%.4f,"probed_fraction":$probedFraction%.4f,"ann_sec":$annSec%.3f,"ann_stored_sec":$storedSec%.3f,"brute_sec":$bruteSec%.3f}""")
    spark.stop()
  }
}
