package graft

import org.apache.spark.sql.execution.window.WindowExec

/** Plan-shape regressions: the round-1 verdict's scale-killer was a
  * partitionless `Window.orderBy` (whole dataset sorted on ONE partition)
  * in the id-assignment queries. These tests pin the fixed plans.
  */
class PlanSpec extends SparkSpec {

  private val dir = sf("sf0.001")

  // queries that previously planned a partitionless WindowExec
  private val fixed =
    Seq("g1_vocab_entities", "r2_seq_split", "r5_relabel", "r4_negsample")

  fixed.foreach { name =>
    test(s"$name plans without a partitionless Window") {
      val df = SparkEntry.queries(name)(spark, dir)
      val bad = df.queryExecution.sparkPlan.collectWithSubqueries {
        case w: WindowExec if w.partitionSpec.isEmpty => w
      }
      assert(bad.isEmpty,
        s"partitionless WindowExec in $name:\n${df.queryExecution.sparkPlan}")
    }
  }

  test("additive MRR eval plans no cartesian product / nested-loop join") {
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // the Q × E candidate materialization was the one metric-inherent
    // crossJoin in the engine; the additive-rank form must plan as
    // equi-joins around the DenseId rank table and nothing else
    val eSums = (0L until 20L).map(i => (i, i * 0.5)).toDF("entity_id", "esum")
    val rSums = Seq((0L, 0.1), (1L, 0.2)).toDF("relation_id", "rsum")
    val valid = Seq((0L, 0L, 3L), (1L, 1L, 5L)).toDF("head_id", "relation_id", "tail_id")
    val ranks = graft.metrics.Scores.additiveRanks(valid, valid, eSums, rSums)
    val bad = ranks.queryExecution.sparkPlan.collectWithSubqueries {
      case c: CartesianProductExec => c
      case b: BroadcastNestedLoopJoinExec => b
    }
    assert(bad.isEmpty,
      s"non-equi join in additive MRR plan:\n${ranks.queryExecution.sparkPlan}")
    // and the window sweep below covers it too — but assert locally that
    // no partitionless WindowExec ranks the entity table
    val badW = ranks.queryExecution.sparkPlan.collectWithSubqueries {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    }
    assert(badW.isEmpty)
  }

  test("additive MRR eval plans every join of the query side as a broadcast up front") {
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
    import spark.implicits._
    // with size-based broadcasting off, only the planned broadcasts stay:
    // the query side's three gates (planned twice, under the correction
    // and under the result), the true triplets of the asked pairs and
    // the correction. The one sort-merge join left is the true tails
    // against the entity ranks, neither of which the query count bounds;
    // AQE may still turn that one into a broadcast at run time
    val eSums = (0L until 20L).map(i => (i, i * 0.5)).toDF("entity_id", "esum")
    val rSums = Seq((0L, 0.1), (1L, 0.2)).toDF("relation_id", "rsum")
    val valid = Seq((0L, 0L, 3L), (1L, 1L, 5L)).toDF("head_id", "relation_id", "tail_id")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = graft.metrics.Scores.additiveRanks(valid, valid, eSums, rSums)
        .queryExecution.sparkPlan
      val joins = plan.collectWithSubqueries {
        case _: BroadcastHashJoinExec => "broadcast"
        case _: SortMergeJoinExec => "sort-merge"
      }
      assert(joins.count(_ == "broadcast") == 8 && joins.count(_ == "sort-merge") == 1,
        s"$joins in\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("knnJoinIvfPq candidate stage plans a hash join on the cell key, never a nested-loop product") {
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    import org.apache.spark.sql.functions.col
    import graft.operators.SimilaritySearch
    import spark.implicits._
    // tiny deterministic corpus; what matters is the PLAN, not the data
    val vecs = (1 to 40).map(i =>
      (i.toLong, Seq.tabulate(4)(j => (i * (j + 1) % 7).toFloat))).toDF("id", "v")
    val centroids = SimilaritySearch.fitIvf(vecs, "v", k = 2)
    val codebooks = SimilaritySearch.fitPq(
      SimilaritySearch.cellResiduals(vecs, "v", centroids),
      "__resid", dim = 4, m = 2, codesPerSub = 4, maxIter = 1)
    val joined = SimilaritySearch.knnJoinIvfPq(vecs,
      vecs.where(col("id") <= 3), "v", "id", k = 2, centroids, codebooks,
      nprobe = 1, rerank = 5)
    // the flat knnJoinPq's |Q|x|C| product was a BroadcastNestedLoopJoin;
    // the composition must replace it with an equi-join on `cell` — the
    // shape that becomes partition pruning over a cell-partitioned table
    val bad = joined.queryExecution.sparkPlan.collectWithSubqueries {
      case c: CartesianProductExec => c
      case b: BroadcastNestedLoopJoinExec => b
    }
    assert(bad.isEmpty,
      s"non-equi candidate join in IVF-PQ plan:\n${joined.queryExecution.sparkPlan}")
  }

  test("r2_seq_split plans as TakeOrdered (per-partition top-k), not a global sort") {
    val df = SparkEntry.queries("r2_seq_split")(spark, dir)
    val plan = df.queryExecution.sparkPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  // The queries above return DenseId output whose sparkPlan is just a
  // LogicalRDD scan — a Window reintroduced UPSTREAM of the RDD boundary
  // would be invisible there. Assert on the frames fed into DenseId too.
  Seq(
    "g1/r4 vocab input" ->
      ((d: String) => graft.queries.GraphQueries.entityVocabInput(spark, d)),
    "r5 relabel input" ->
      ((d: String) => graft.queries.GraphQueries.relabelInput(spark, d))
  ).foreach { case (name, mk) =>
    test(s"$name (upstream of DenseId) plans without a partitionless Window") {
      val df = mk(dir)
      val bad = df.queryExecution.sparkPlan.collectWithSubqueries {
        case w: WindowExec if w.partitionSpec.isEmpty => w
      }
      assert(bad.isEmpty,
        s"partitionless WindowExec upstream of DenseId in $name:\n${df.queryExecution.sparkPlan}")
    }
  }

  test("NO query plans a partitionless Window (global sweep)") {
    // every queries() entry, including future ones — the round-1
    // scale-killer can never silently come back anywhere
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, mk) =>
      val df = mk(spark, dir)
      val bad = df.queryExecution.sparkPlan.collectWithSubqueries {
        case w: WindowExec if w.partitionSpec.isEmpty => w
      }
      assert(bad.isEmpty,
        s"partitionless WindowExec in $name:\n${df.queryExecution.sparkPlan}")
    }
  }

  test("sample_per_group plans a map-side WindowGroupLimit below the exchange") {
    val plan = SparkEntry.queries("sample_per_group")(spark, dir)
      .queryExecution.sparkPlan.toString
    // two WindowGroupLimit nodes: partial (before shuffle) + final —
    // only ~k rows per (partition, group) ever reach the exchange
    assert("WindowGroupLimit".r.findAllIn(plan).size == 2, plan)
  }

  test("weighted_sample_per_group keeps the map-side WindowGroupLimit too") {
    val plan = SparkEntry.queries("weighted_sample_per_group")(spark, dir)
      .queryExecution.sparkPlan.toString
    assert("WindowGroupLimit".r.findAllIn(plan).size == 2, plan)
  }

  test("tpch_q3 plans TakeOrdered with filters pushed to every scan") {
    val qe = SparkEntry.queries("tpch_q3")(spark, dir).queryExecution
    val plan = qe.sparkPlan.toString
    // top-10 must be per-partition top-k + merge, not a global sort
    assert(plan.contains("TakeOrderedAndProject"), plan)
    // each of the three scans carries its pushed predicate
    val scans = qe.sparkPlan.collectWithSubqueries {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.length == 3, plan)
    assert(scans.count(_.metadata.get("PushedFilters").exists(_ != "[]")) == 3,
      scans.map(_.metadata.get("PushedFilters")).mkString("\n"))
  }

  test("tpch_q1 is one scan with the shipdate filter pushed and a single exchange") {
    val qe = SparkEntry.queries("tpch_q1")(spark, dir).queryExecution
    val plan = qe.sparkPlan.toString
    val scans = qe.sparkPlan.collectWithSubqueries {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.length == 1, plan)
    assert(scans.head.metadata.get("PushedFilters")
      .exists(_.contains("LessThanOrEqual(l_shipdate")), plan)
    assert("ShuffleExchange|Exchange hashpartitioning".r
      .findAllIn(plan).size <= 1, plan)
  }

  test("tpch_q9 probes every dimension via broadcast hash join; the name filter reaches the part scan") {
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec}
    val qe = SparkEntry.queries("tpch_q9")(spark, dir).queryExecution
    val plan = qe.sparkPlan
    // part / supplier / nation are explicit broadcasts; orders may be
    // broadcast (tiny sf) or shuffled (real scale) — either is fine,
    // but nothing may plan a nested-loop product
    assert(plan.collectWithSubqueries {
      case j: BroadcastHashJoinExec => j }.length >= 3, plan.toString)
    assert(plan.collectWithSubqueries {
      case j: BroadcastNestedLoopJoinExec => j
      case j: CartesianProductExec => j }.isEmpty, plan.toString)
    val partScan = plan.collectWithSubqueries {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.metadata.get("PushedFilters")
          .exists(_.contains("StringContains(p_name,bolt)")) => f
    }
    assert(partScan.nonEmpty, plan.toString)
  }

  test("tpch_q21 plans the EXISTS pair as left-semi + left-anti hash joins — no nested loop") {
    import org.apache.spark.sql.catalyst.plans.{LeftAnti, LeftSemi}
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec, ShuffledHashJoinExec, SortMergeJoinExec}
    val qe = SparkEntry.queries("tpch_q21")(spark, dir).queryExecution
    val plan = qe.sparkPlan
    // the correlated exists / not-exists pair must be hash joins on the
    // l_orderkey correlation key (any hash flavor — broadcast at tiny
    // sf, shuffled/sort-merge at scale), with the supplier inequality a
    // residual condition, NEVER a nested-loop product
    val joinTypes = plan.collectWithSubqueries {
      case j: BroadcastHashJoinExec => j.joinType
      case j: ShuffledHashJoinExec => j.joinType
      case j: SortMergeJoinExec => j.joinType
    }
    assert(joinTypes.contains(LeftSemi), plan.toString)
    assert(joinTypes.contains(LeftAnti), plan.toString)
    assert(plan.collectWithSubqueries {
      case j: BroadcastNestedLoopJoinExec => j
      case j: CartesianProductExec => j }.isEmpty, plan.toString)
    // the late-line filter reaches the lineitem scans
    val scans = plan.collectWithSubqueries {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.metadata.get("PushedFilters")
          .exists(_.contains("EqualTo(l_returnflag,R)")) => f
    }
    assert(scans.nonEmpty, plan.toString)
  }

  test("tpch_q2 de-correlates the scalar min through ONE ps build + window — no nested loop, no per-row re-execution") {
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    val qe = SparkEntry.queries("tpch_q2")(spark, dir).queryExecution
    val plan = qe.sparkPlan
    // the correlated scalar aggregate (min cost per part) de-correlates
    // through the window over the SINGLE ps build — never a per-outer-row
    // subquery, a nested-loop/cartesian product, or a duplicated ps leg
    assert(plan.collectWithSubqueries {
      case j: BroadcastNestedLoopJoinExec => j
      case j: CartesianProductExec => j }.isEmpty, plan.toString)
    val aggs = plan.collectWithSubqueries {
      case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
      case a: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => a
      case a: org.apache.spark.sql.execution.aggregate.SortAggregateExec => a
    }
    // one partial+final pair for the ps build and nothing else — the
    // rejoin formulation re-derived the whole ps subtree per branch
    // (measured: 6 aggregate execs, two lineitem scans)
    assert(aggs.size == 2, s"expected 2 aggregate execs, got ${aggs.size}\n$plan")
    assert(plan.collectWithSubqueries {
      case w: org.apache.spark.sql.execution.window.WindowExec => w }.size == 1,
      plan.toString)
    // lineitem is scanned exactly once, and the part filter is pushed
    val liScans = plan.collectWithSubqueries {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.schema.fieldNames.contains("l_extendedprice") => f
    }
    assert(liScans.size == 1, plan.toString)
    val scans = plan.collectWithSubqueries {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.metadata.get("PushedFilters")
          .exists(_.contains("EqualTo(p_size,15)")) => f
    }
    assert(scans.nonEmpty, plan.toString)
  }

  test("dsir_weights broadcasts the ratio table — no shuffle of the token stream for the join") {
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val qe = SparkEntry.queries("dsir_weights")(spark, dir).queryExecution
    val bhj = qe.sparkPlan.collectWithSubqueries {
      case j: BroadcastHashJoinExec => j
    }
    assert(bhj.nonEmpty, qe.sparkPlan.toString)
  }

  test("interval joins plan as equi-joins on the bin key — no nested-loop product") {
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    for (name <- Seq("interval_join_points", "interval_join_overlap")) {
      val qe = SparkEntry.queries(name)(spark, dir).queryExecution
      val bad = qe.sparkPlan.collectWithSubqueries {
        case c: CartesianProductExec => c
        case b: BroadcastNestedLoopJoinExec => b
      }
      assert(bad.isEmpty, s"non-equi join in $name:\n${qe.sparkPlan}")
    }
  }

  test("target encoding re-attaches via broadcast hash join — no fact-side shuffle for the probe") {
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.functions.col
    val o = graft.car.Splits.kfold(
      graft.sources.Tables.orders(spark, dir), col("o_orderkey"), 5)
    val enc = graft.operators.TargetEncode.oofEncoding(
      o, "o_orderpriority", "o_totalprice", "fold")
    val applied = graft.operators.TargetEncode.applyEncoding(
      o, enc, "o_orderpriority", "fold", fallbackPrior = 0.0)
    val bhj = applied.queryExecution.sparkPlan.collectWithSubqueries {
      case j: BroadcastHashJoinExec => j
    }
    assert(bhj.nonEmpty, applied.queryExecution.sparkPlan.toString)
  }

  test("discretize assignment adds zero exchanges beyond the cut fit itself") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.functions.col
    val df = spark.range(1000).select(col("id").cast("double").as("v"))
    val cuts = graft.operators.Discretize.fitQuantileBins(df, "v", 10)
    val assigned = graft.operators.Discretize.assignBins(df, "v", cuts)
    def exchanges(d: org.apache.spark.sql.DataFrame) =
      d.queryExecution.sparkPlan.collectWithSubqueries {
        case e: ShuffleExchangeExec => e
      }.length
    // the fact-side scan → assign path is map-only: every exchange in the
    // assigned plan already existed in the (broadcast 1-row) fit subtree
    assert(exchanges(assigned) == exchanges(cuts),
      assigned.queryExecution.sparkPlan.toString)
  }

  test("zorder_key is a pure map plan: one scan, no exchange") {
    val plan = SparkEntry.queries("zorder_key")(spark, dir)
      .queryExecution.sparkPlan.toString
    assert(!plan.contains("Exchange"), plan)
    assert(plan.contains("Scan parquet"), plan)
  }

  test("hilbert_key is a pure map plan inside whole-stage codegen") {
    val qe = SparkEntry.queries("hilbert_key")(spark, dir).queryExecution
    val plan = qe.sparkPlan.toString
    assert(!plan.contains("Exchange"), plan)
    assert(plan.contains("Scan parquet"), plan)
    // the xy2d loop must live INSIDE a codegen stage, not fall back to
    // interpreted projection
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    val stages = qe.executedPlan.collectWithSubqueries {
      case w: WholeStageCodegenExec => w
    }
    assert(stages.nonEmpty, qe.executedPlan.toString)
  }

  test("bm25_prf_topk: no cartesian product anywhere in the two-pass plan") {
    import org.apache.spark.sql.execution.joins.CartesianProductExec
    // both scoring passes, the feedback join, and the expansion
    // selection must all ride keyed joins — the only unkeyed joins
    // allowed are the broadcast-scalar stats frames (1-row BNLJ)
    val df = SparkEntry.queries("bm25_prf_topk")(spark, dir)
    val bad = df.queryExecution.sparkPlan.collectWithSubqueries {
      case c: CartesianProductExec => c
    }
    assert(bad.isEmpty, s"cartesian product in bm25_prf_topk:\n${df.queryExecution.sparkPlan}")
  }

  test("PageRank iterations plan at most one shuffle exchange each") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import spark.implicits._
    // broadcast off: at test sizes every join would broadcast and the pin
    // would pass vacuously — the co-partitioning claim is about the
    // shuffled-join path a 100×-scale run takes
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val edges = Seq("a" -> "b", "b" -> "c", "c" -> "a", "a" -> "c", "d" -> "a")
        .toDF("s", "d")
      val (r, handles) =
        graft.operators.PageRank.build(edges, "s", "d", iters = 5, scale = 1000000000000L)
      val shuffles = r.queryExecution.sparkPlan.collectWithSubqueries {
        case s: ShuffleExchangeExec => s
      }
      // exactly one per iteration: the incoming-mass aggregation. The
      // contribution join and the teleport join reuse the pre-partitioned
      // caches / upstream agg partitioning (alias-aware propagation).
      assert(shuffles.size <= 5,
        s"${shuffles.size} shuffle exchanges for 5 iterations:\n${r.queryExecution.sparkPlan}")
      handles.foreach(_.unpersist(false))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("Vocab.encode plans zero joins regardless of encoded-column count") {
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val cols = (0 until 22).map(i => s"c$i")
    val base = spark.range(5).select(
      cols.zipWithIndex.map { case (c, i) =>
        org.apache.spark.sql.functions.concat(
          org.apache.spark.sql.functions.lit(s"v${i}_"),
          org.apache.spark.sql.functions.col("id").cast("string")).as(c)
      }: _*)
    val vocab = graft.car.Vocab.build(Seq(base), cols)
    val enc = graft.car.Vocab.encode(base, vocab, cols)
    // the dictionary is applied as a codegen'd hash probe — a 22-column
    // encode must NOT fold 22 broadcast joins into the plan
    val joins = enc.queryExecution.sparkPlan.collectWithSubqueries {
      case j: BaseJoinExec => j
    }
    assert(joins.isEmpty, enc.queryExecution.sparkPlan.toString)
    // and the probe agrees with the vocabulary relation
    val ids = enc.select("c0Id").orderBy("c0Id").collect().map(_.getLong(0))
    assert(ids.length == 5 && ids.distinct.length == 5)
  }

  test("DenseId materializes its input's global sort exactly once") {
    import spark.implicits._
    val counted = spark.sparkContext.longAccumulator("denseid-input-rows")
    val base = Seq(3, 1, 2).toDF("k").mapPartitions { it =>
      it.map { r => counted.add(1); r }
    }(org.apache.spark.sql.Encoders.row(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.IntegerType)))))
    val out = graft.operators.DenseId.withOrderedId(base, "id", "k")
    // Construction is eager (sort + zipWithIndex + localCheckpoint). The
    // range partitioner samples the input before the sort pass, so up to
    // two input passes are legitimate — but never more.
    val afterBuild = counted.value
    assert(afterBuild <= 6L,
      s"DenseId construction read input ${afterBuild} row-times, expected ≤ 6 (sample + sort)")
    out.count(); out.count() // consume twice — input must not recompute
    assert(counted.value == afterBuild,
      s"DenseId consumers recomputed input: ${counted.value} row-times after build's ${afterBuild}")
  }

  test("DenseId tolerates non-orderable (map) passenger columns") {
    import spark.implicits._
    val df = Seq(("b", Map("x" -> 1)), ("a", Map("y" -> 2)))
      .toDF("k", "m") // MapType cannot be sorted — must be skipped as tiebreak
    val got = graft.operators.DenseId.withOrderedId(df, "id", "k")
      .orderBy("id").select("k", "id").as[(String, Long)].collect().toSeq
    assert(got == Seq("a" -> 0L, "b" -> 1L))
  }

  test("DenseId ids equal row_number-1 over the sort order") {
    import spark.implicits._
    val df = Seq("d", "b", "a", "c", "e").toDF("k")
    val got = graft.operators.DenseId.withOrderedId(df, "id", "k")
      .orderBy("id").as[(String, Long)].collect().toSeq
    assert(got == Seq("a" -> 0L, "b" -> 1L, "c" -> 2L, "d" -> 3L, "e" -> 4L))
  }

  test("editDistancePairs: the gram candidate stage is equi-joined; the only non-equi join is the short-string band") {
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    val df = SparkEntry.queries("dedup_editdist")(spark, dir)
    val plan = df.queryExecution.sparkPlan
    val cart = plan.collectWithSubqueries { case c: CartesianProductExec => c }
    assert(cart.isEmpty, s"cartesian product in dedup_editdist:\n$plan")
    // exactly ONE nested-loop join is expected and documented: the
    // length-banded fallback block for strings too short to gram-index
    val bnl = plan.collectWithSubqueries { case b: BroadcastNestedLoopJoinExec => b }
    assert(bnl.size <= 1,
      s"unexpected extra nested-loop joins in dedup_editdist:\n$plan")
  }

  test("basket_rules plans only equi-joins (pair blow-up rides the basket key)") {
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    val df = SparkEntry.queries("basket_rules")(spark, dir)
    val bad = df.queryExecution.sparkPlan.collectWithSubqueries {
      case c: CartesianProductExec => c
      case b: BroadcastNestedLoopJoinExec => b
    }
    assert(bad.isEmpty, s"non-equi join in basket_rules:\n${df.queryExecution.sparkPlan}")
  }

  test("jaccardPrefixPairs plans only equi-joins (prefix/verify both ride token or doc keys)") {
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    val d = graft.sources.Tables.documents(spark, dir)
    val df = graft.operators.SetSimJoin.jaccardPrefixPairs(
      d, "text", "doc_id", minJaccard = 0.8, checkpoint = false)
    val bad = df.queryExecution.sparkPlan.collectWithSubqueries {
      case c: CartesianProductExec => c
      case b: BroadcastNestedLoopJoinExec => b
    }
    assert(bad.isEmpty,
      s"non-equi join in jaccardPrefixPairs:\n${df.queryExecution.sparkPlan}")
  }

  test("linkScoredPairs plans ONE hash equi-join on the block key — no nested loop") {
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec, ShuffledHashJoinExec, SortMergeJoinExec}
    import graft.operators.RecordLinkage, RecordLinkage.FieldComparison
    import org.apache.spark.sql.functions.{abs => cabs, col, expr}
    val c = graft.sources.Tables.customer(spark, dir)
      .withColumn("blk", expr("c_custkey div 10"))
    val df = RecordLinkage.linkScoredPairs(c, c, "c_custkey", "blk",
      Seq(FieldComparison("seg", col("a_c_mktsegment") === col("b_c_mktsegment"),
        BigDecimal("2.0"), BigDecimal("-1.5"))),
      BigDecimal("2.0"), BigDecimal("0.0"), selfLink = true)
    val plan = df.queryExecution.sparkPlan
    val bad = plan.collectWithSubqueries {
      case x: CartesianProductExec => x
      case b: BroadcastNestedLoopJoinExec => b
    }
    assert(bad.isEmpty, s"non-equi join in linkScoredPairs:\n$plan")
    val joins = plan.collectWithSubqueries {
      case j: SortMergeJoinExec => j: Any
      case j: ShuffledHashJoinExec => j
      case j: BroadcastHashJoinExec => j
    }
    assert(joins.size == 1, s"expected exactly 1 equi-join, got ${joins.size}:\n$plan")
  }

  test("scd2_history windows all partition by the dimension key") {
    val df = SparkEntry.queries("scd2_history")(spark, dir)
    val bad = df.queryExecution.sparkPlan.collectWithSubqueries {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    }
    assert(bad.isEmpty,
      s"partitionless WindowExec in scd2_history:\n${df.queryExecution.sparkPlan}")
  }

  test("scd2_asof (buildHistory + range predicate) plans exactly one shuffle") {
    // the r13 bench recorded a transient 5× wall-time blip on this row
    // with zero code change; the fresh-suite rerun was back at r12
    // levels. Pin the plan so a real regression (an extra exchange
    // sneaking between the key-partitioned windows / aggregate) can
    // never hide behind "suite noise": run-length encoding is ONE
    // hash(key) exchange reused by both windows and the aggregate.
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // AQE off for the assertion: EnsureRequirements inserts the
    // exchanges only in executedPlan, and AdaptiveSparkPlanExec hides
    // its subtree from collect until execution
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = SparkEntry.queries("scd2_asof")(spark, dir)
      val shuffles = df.queryExecution.executedPlan.collectWithSubqueries {
        case s: ShuffleExchangeExec => s
      }
      assert(shuffles.size == 1,
        s"${shuffles.size} shuffle exchanges in scd2_asof:\n${df.queryExecution.executedPlan}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("dedup_semantic pairs: the only join is a hash equi-join on the cell key") {
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    // the SemDeDup blocking claim, pinned: within-cell pairing must
    // ride the cell key — a quantizer regression that loses the key
    // would silently fall back to an all-pairs product
    val df = SparkEntry.queries("dedup_semantic")(spark, dir)
    val bad = df.queryExecution.sparkPlan.collectWithSubqueries {
      case c: CartesianProductExec => c
      case n: BroadcastNestedLoopJoinExec => n
    }
    assert(bad.isEmpty,
      s"non-equi join in dedup_semantic:\n${df.queryExecution.sparkPlan}")
  }

  test("ann_index_rows is a pure map plan: scan + projections, zero exchanges") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // stateless quantizer application is THE streaming-ingest claim —
    // assignment and PQ encoding are codegen'd projections, so index
    // maintenance shuffles nothing
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = SparkEntry.queries("ann_index_rows")(spark, dir)
      val shuffles = df.queryExecution.executedPlan.collectWithSubqueries {
        case s: ShuffleExchangeExec => s
      }
      assert(shuffles.isEmpty,
        s"${shuffles.size} exchanges in ann_index_rows:\n${df.queryExecution.executedPlan}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("GraftSql views are plan-transparent: facade quantiles ≡ direct operator plan") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val rows = (1L to 300L).map(i => (s"g${i % 2}", i, (i * 13 % 89).toDouble))
    rows.toDF("grp", "id", "v").createOrReplaceTempView("ps_rows")
    GraftSql.registerQuantiles(spark, "ps_rows", Seq("grp"), "v", "id",
      k = 16, qPpms = Seq(500000L), outView = "ps_q")
    val direct = graft.operators.QuantileSketch.quantiles(
      graft.operators.QuantileSketch.sketch(
        spark.table("ps_rows"), Seq("grp"), "v", "id", 16),
      Seq("grp"), Seq(500000L))
    // sameResult canonicalizes expression ids — the view must add NO
    // plan nodes, which is the facade's co-optimization guarantee
    assert(spark.table("ps_q").queryExecution.optimizedPlan
      .sameResult(direct.queryExecution.optimizedPlan),
      "facade view plan differs from the direct operator plan")
  }
}
