package graft.metrics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** A5-A10 — the reference's evaluation metrics (reference evaluate.py) as
  * single-pass aggregations. Intended semantics are implemented; the
  * reference's implementation bugs are documented per method and NOT
  * reproduced unless flagged:
  *  - X3: accuracy computed as (array ÷ n) then mean'd → count/n²
  *    (reference evaluate.py:21-23) — intended P(ape ≤ τ) implemented.
  *  - X4: APE denominator is the PREDICTION, not the target (reference
  *    evaluate.py:19,27,34,40) — this one defines the competition score,
  *    so it IS the default; `apeVsTarget` gives the standard form.
  *  - X5: `cal_mse` computes MAE (reference evaluate.py:43-44) — named
  *    `mae` here.
  */
object Scores {

  /** |t − p| / p — reference form (X4). `try_divide` so a zero prediction
    * yields null (dropped by the avg-based consumers) instead of throwing
    * under Spark 4's ANSI mode. Divergence from the reference: numpy
    * produces `inf` there, which poisons the mean; null-and-skip is the
    * usable semantics and is documented here rather than reproduced.
    */
  def ape(target: Column, pred: Column): Column = try_divide(abs(target - pred), pred)

  /** |t − p| / t — textbook form, for comparison runs. */
  def apeVsTarget(target: Column, pred: Column): Column =
    try_divide(abs(target - pred), target)

  def mape(target: Column, pred: Column): Column = avg(ape(target, pred))

  def mae(target: Column, pred: Column): Column = avg(abs(target - pred))

  def mse(target: Column, pred: Column): Column = avg(pow(target - pred, 2))

  /** P(ape ≤ threshold) — intended accuracy (X3 fixed).
    *
    * `compatX3 = true` reproduces the reference AS CODED
    * (evaluate.py:21-23, 33-38): the boolean hit array is divided by
    * `n` BEFORE the mean, so the returned "accuracy" is count/n² — a
    * value that vanishes as the dataset grows. Provided behind a flag
    * per the §2.13 quirk contract (X1 `Splits.overlapBoundary` / X2
    * `Triplets.upperTriangleOnly` precedent); the intended metric is
    * the default. One divergence inside the divergence: numpy keeps
    * `inf` APE rows (zero prediction) in `len(ape)`; here they are
    * null (see [[ape]]) — skipped by the avg but still counted in n.
    */
  def thresholdedAccuracy(target: Column, pred: Column, threshold: Double,
      compatX3: Boolean = false): Column = {
    val intended = avg((ape(target, pred) <= threshold).cast("double"))
    if (compatX3) intended / count(lit(1)) else intended
  }

  /** Competition score: 0.2·(1−MAPE) + 0.8·P(ape ≤ τ)
    * (reference evaluate.py:17-24; τ = 0.05 for 问题一, 0.5 for 问题二's
    * ext variant, evaluate.py:25-32). One aggregation pass.
    */
  def competitionScore(target: Column, pred: Column, threshold: Double = 0.05): Column =
    lit(0.2) * (lit(1) - mape(target, pred)) +
      lit(0.8) * thresholdedAccuracy(target, pred, threshold)

  /** All scalar regression metrics in ONE pass over the frame. */
  def regressionReport(df: DataFrame, targetCol: String, predCol: String,
      threshold: Double = 0.05): DataFrame = {
    val t = col(targetCol); val p = col(predCol)
    df.agg(
      mape(t, p).as("mape"),
      mae(t, p).as("mae"),
      mse(t, p).as("mse"),
      thresholdedAccuracy(t, p, threshold).as("accuracy"),
      competitionScore(t, p, threshold).as("score"),
      corr(t, p).as("pearson"),
      count(lit(1)).as("n"))
  }

  /** A9 — macro F1 (reference evaluate.py:262-264; sklearn
    * `average="macro"`): per-class P/R/F1 over classes present in labels
    * ∪ predictions, unweighted mean. Three small aggregates + joins.
    */
  def macroF1(df: DataFrame, labelCol: String, predCol: String): DataFrame = {
    val scored = df.select(col(labelCol).as("label"), col(predCol).as("pred"))
    val classes = scored.select(col("label").as("cls"))
      .union(scored.select(col("pred"))).distinct()
    val tp = scored.where(col("label") === col("pred"))
      .groupBy(col("label").as("cls")).agg(count(lit(1)).as("tp"))
    val predCnt = scored.groupBy(col("pred").as("cls")).agg(count(lit(1)).as("pp"))
    val labelCnt = scored.groupBy(col("label").as("cls")).agg(count(lit(1)).as("ll"))
    classes
      .join(tp, Seq("cls"), "left").join(predCnt, Seq("cls"), "left")
      .join(labelCnt, Seq("cls"), "left")
      .na.fill(0, Seq("tp", "pp", "ll"))
      .select(
        when(col("pp") > 0, col("tp") / col("pp")).otherwise(0.0).as("precision"),
        when(col("ll") > 0, col("tp") / col("ll")).otherwise(0.0).as("recall"))
      .select(when(col("precision") + col("recall") > 0,
        lit(2) * col("precision") * col("recall") / (col("precision") + col("recall")))
        .otherwise(0.0).as("f1"))
      .agg(avg(col("f1")).as("macro_f1"))
  }

  /** A10 — filtered MRR + Hits@k (reference evaluate.py:111-191).
    *
    * Inputs: `valid(head_id, relation_id, tail_id)` triplets to rank;
    * `allTrue` — every known-true triplet (the filter set); `scores
    * (head_id, relation_id, candidate_id, score)` — model scores for
    * every candidate tail of each (head, relation) query.
    *
    * Fully set-based (reference loops per-triplet on the driver):
    *  1. anti-join removes candidates that are OTHER true tails
    *     (the "filtered" protocol keeps the target itself);
    *  2. rank = row_number over each query's score (desc);
    *  3. aggregate 1/rank and rank ≤ k.
    */
  def filteredMrr(valid: DataFrame, allTrue: DataFrame, scores: DataFrame,
      ks: Seq[Int] = Seq(1, 3, 10)): DataFrame = {
    // content-derived query_id (same scheme as additiveRanksOver): this
    // plan instantiates `queries` once, so monotonically_increasing_id
    // happened to be safe — but a stage retry over a nondeterministic
    // `valid` could still renumber rows mid-plan, and the hash id closes
    // that hazard class for free. Duplicate valid triplets stay distinct
    // queries via the duplicate ordinal; the near-singleton window
    // partitions are scale-safe.
    val dupW = Window
      .partitionBy(col("head_id"), col("relation_id"), col("target_id"))
      .orderBy(col("target_id"))
    val queries = valid.select(
      col("head_id"), col("relation_id"), col("tail_id").as("target_id"))
      .withColumn("query_id", xxhash64(col("head_id"), col("relation_id"),
        col("target_id"), row_number().over(dupW)))
    val candidates = queries.join(scores, Seq("head_id", "relation_id"))
    val filtered = candidates
      .join(allTrue.select(col("head_id"), col("relation_id"),
          col("tail_id").as("candidate_id"), lit(1).as("__true")),
        Seq("head_id", "relation_id", "candidate_id"), "left")
      .where(col("__true").isNull || col("candidate_id") === col("target_id"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("candidate_id").asc)
    val ranked = filtered.withColumn("rnk", row_number().over(w))
      .where(col("candidate_id") === col("target_id"))
    val hitAggs = ks.map(k => avg((col("rnk") <= k).cast("double")).as(s"hits$k"))
    ranked.agg(avg(lit(1.0) / col("rnk")).as("mrr"),
      hitAggs :+ count(lit(1)).as("n_queries"): _*)
  }

  /** Filtered MRR + Hits@k for the ADDITIVE score `S_h + R_r − S_c`
    * WITHOUT materializing the queries × entities candidate table.
    *
    * With an additive score a candidate's rank inside every query
    * depends only on its own entity sum: ordering candidates by
    * (score DESC, candidate_id ASC) is ordering them by
    * (esum ASC, entity_id ASC) — the same global order for all queries.
    * So the target's unfiltered rank is its position in ONE sorted
    * entity-sum table (a distributed range sort + zipWithIndex via
    * [[graft.operators.DenseId]] — no partitionless window, no
    * crossJoin), and the filtered-protocol correction subtracts the
    * count of OTHER true tails of the query that sit strictly earlier
    * in that order — a join against the (small) true-triplet set,
    * O(E log E + Σ|trueTails|) instead of O(Q·E). Same `sort_and_rank`
    * semantics as the reference (evaluate.py:105-109) and same result
    * as [[filteredMrr]]∘scoreAllCandidates wherever the float
    * subtraction `(S_h+R_r) − S_c` is injective over distinct sums
    * (always, barring catastrophic cancellation at ~1e16 magnitudes).
    *
    * `entitySums(entity_id, esum)` / `relationSums(relation_id, rsum)`
    * are the per-id embedding sums; queries whose head / relation /
    * target id is absent from them drop out of the metric exactly as
    * they do in the crossJoin form. `allTrue` is deduplicated
    * defensively — duplicate filter triplets must not double-subtract.
    *
    * Returns the same 1-row schema as [[filteredMrr]], materialized
    * eagerly (the internal rank table is freed before returning). The
    * mean reciprocal rank is summed in DECIMAL, so it does not depend on
    * the order the plan delivers the queries in.
    *
    * Plan: `valid` is the query set, an evaluation sample (the trainer
    * passes at most `evalSample` triplets), so every join it takes part
    * in, and the per-query correction, is planned as a broadcast up
    * front. Left to AQE those were sort-merge joins it turned into
    * broadcasts once a shuffle stage had run, and whether the other
    * side's stage had already been submitted by then varied from run to
    * run, so identical runs launched different numbers of jobs. One
    * join stays sort-merge: the asked pairs' true tails against the
    * entity ranks, since neither side is bounded by the sample (the
    * fan-out of a (head, relation) pair and the entity count grow with
    * the graph). AQE may still turn it into a broadcast at run time;
    * over five runs on the car benchmark's seed-11 input its job count
    * did not vary, but a job-count gate must tolerate ±1 there.
    */
  def filteredMrrAdditive(valid: DataFrame, allTrue: DataFrame,
      entitySums: DataFrame, relationSums: DataFrame,
      ks: Seq[Int] = Seq(1, 3, 10)): DataFrame = {
    val ranked = rankedEntitySums(entitySums)
    val perQuery = additiveRanksOver(ranked, valid, allTrue, relationSums)
    val hitAggs = ks.map(k => avg((col("rnk") <= k).cast("double")).as(s"hits$k"))
    val out = perQuery
      .agg(avg(lit(BigDecimal(1)) / col("rnk")).cast("double").as("mrr"),
        hitAggs :+ count(lit(1)).as("n_queries"): _*)
      .localCheckpoint(true)
    org.apache.spark.sql.graftshim.CheckpointShim.freeLocalCheckpoint(ranked)
    out
  }

  /** Per-query filtered rank of the target under the additive score —
    * the lazy core of [[filteredMrrAdditive]], exposed for plan pinning
    * and equality testing. Output: one row per surviving query with
    * `(query_id, head_id, relation_id, target_id, rnk)`. The internal
    * rank table stays checkpointed for the returned frame's lifetime —
    * use [[filteredMrrAdditive]] for the self-cleaning aggregate.
    */
  def additiveRanks(valid: DataFrame, allTrue: DataFrame,
      entitySums: DataFrame, relationSums: DataFrame): DataFrame =
    additiveRanksOver(rankedEntitySums(entitySums), valid, allTrue,
      relationSums)

  /** Exact per-group ROC AUC via the Mann-Whitney rank statistic —
    * the threshold-free binary-ranking metric (the companion to
    * [[macroF1]]'s thresholded view): AUC = P(score⁺ > score⁻) +
    * ½P(tie), computed as
    *
    * {{{ AUC = (Σ_pos avgrank − n⁺(n⁺+1)/2) / (n⁺·n⁻) }}}
    *
    * with AVERAGE ranks over ties (the standard tie treatment —
    * omitting it biases AUC on quantized scores). All arithmetic is
    * integral until the final division: scores group to a
    * distinct-value table, a per-group cumulative count gives each tie
    * group's rank block, and 2·Σavgrank stays a whole number
    * (`2·cumBefore + n + 1` per block) — so the ppm output is
    * hash-exact on any engine and the double is one rounded division.
    *
    * Scale shape: one groupBy to the (group, score)-distinct table, a
    * window PARTITIONED by group (never partitionless), one final
    * per-group aggregate. The rank products widen to DECIMAL(38,0):
    * Σranks ~ n² passes int64 at ~3·10⁹ rows per group.
    *
    * Degenerate groups (no positives or no negatives) return null AUC —
    * the metric is undefined there, and null-and-visible beats a
    * silent 0 or 1.
    *
    * @param labelCol 0/1 integer column
    * @return per group: (…groupCols, n_pos, n_neg, auc_ppm, auc)
    */
  def aucRoc(df: DataFrame, scoreCol: String, labelCol: String,
      groupCols: Seq[String]): DataFrame = {
    require(groupCols.nonEmpty,
      "need at least one group column (pass a literal for a global AUC)")
    val grp = groupCols.map(col)
    val byScore = df.groupBy(grp :+ col(scoreCol).as("__s"): _*)
      .agg(count(lit(1)).as("__n"), sum(col(labelCol).cast("long")).as("__np"))
    val w = Window.partitionBy(grp: _*).orderBy(col("__s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    byScore
      .withColumn("__cum", coalesce(sum(col("__n")).over(w), lit(0L)))
      .groupBy(grp: _*)
      .agg(
        sum(expr("CAST(__np AS DECIMAL(38,0)) * (2 * __cum + __n + 1)"))
          .as("__two_ranks"),
        sum(col("__np")).as("n_pos"),
        (sum(col("__n")) - sum(col("__np"))).as("n_neg"))
      .select(grp ++ Seq(col("n_pos"), col("n_neg"),
        // the when-guard keeps ANSI mode from throwing on the
        // degenerate groups the null contract covers
        when(col("n_pos") > 0 && col("n_neg") > 0,
          expr("""(1000000 * (__two_ranks - CAST(n_pos AS DECIMAL(38,0)) * (n_pos + 1)))
                  div (CAST(2 AS DECIMAL(38,0)) * n_pos * n_neg)"""))
          .as("auc_ppm"),
        when(col("n_pos") > 0 && col("n_neg") > 0,
          round(expr("""(__two_ranks - CAST(n_pos AS DECIMAL(38,0)) * (n_pos + 1))
                  / (CAST(2 AS DECIMAL(38,0)) * n_pos * n_neg)""").cast("double"),
            4)).as("auc")): _*)
  }

  /** Average precision (PR AUC, step interpolation) — the
    * imbalanced-data companion to [[aucRoc]]: AP = Σ_k (R_k − R_{k−1})·P_k
    * over distinct score thresholds descending (exactly sklearn's
    * `average_precision_score` formulation, which collapses tied scores
    * into one threshold — per-row cumsums would inflate P on quantized
    * scores). Each term is the exact rational ΔTP·TP/(n⁺·cumN); the sum
    * is emitted at ppb scale with ONE integral division per distinct
    * score — truncation < #thresholds/10⁹, and both engines run the
    * identical integer ops so the column stays hash-exact (the
    * per-term-div discipline of the PSI/KS family).
    *
    * Scale shape: one groupBy to the (group, score)-distinct table, two
    * frames over ONE group-partitioned window order (cumulative and
    * full-range), one final aggregate. Products widen to DECIMAL(38,0):
    * 10⁹·ΔTP·TP caps at ~10¹⁴ rows per group.
    *
    * Groups with no positives return null AP (undefined — the
    * [[aucRoc]] degeneracy contract); no negatives is fine (AP = 1).
    *
    * @param labelCol 0/1 integer column
    * @return per group: (…groupCols, n_pos, n_neg, ap_ppb, ap)
    */
  def averagePrecision(df: DataFrame, scoreCol: String, labelCol: String,
      groupCols: Seq[String]): DataFrame = {
    require(groupCols.nonEmpty,
      "need at least one group column (pass a literal for a global AP)")
    val grp = groupCols.map(col)
    val byScore = df.groupBy(grp :+ col(scoreCol).as("__s"): _*)
      .agg(count(lit(1)).as("__n"), sum(col(labelCol).cast("long")).as("__np"))
    val wCum = Window.partitionBy(grp: _*).orderBy(col("__s").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.partitionBy(grp: _*)
    byScore
      .withColumn("__cn", sum(col("__n")).over(wCum))
      .withColumn("__ctp", sum(col("__np")).over(wCum))
      .withColumn("__npos", sum(col("__np")).over(wAll))
      .withColumn("__term",
        when(col("__np") > 0 && col("__npos") > 0,
          expr("""(1000000000 * CAST(__np AS DECIMAL(38,0)) * __ctp)
                  div (CAST(__npos AS DECIMAL(38,0)) * __cn)"""))
          .otherwise(lit(0L)))
      .groupBy(grp: _*)
      .agg(max(col("__npos")).as("n_pos"),
        (max(col("__cn")) - max(col("__npos"))).as("n_neg"),
        sum(col("__term")).as("__ap"))
      .select(grp ++ Seq(col("n_pos"), col("n_neg"),
        when(col("n_pos") > 0, col("__ap")).as("ap_ppb"),
        when(col("n_pos") > 0,
          round(col("__ap").cast("double") / 1e9, 4)).as("ap")): _*)
  }

  /** Mann-Whitney U (Wilcoxon rank-sum) two-sample test — the
    * nonparametric A/B comparison for skewed metrics (revenue,
    * latency) where a means test misleads: U counts how often a group-1
    * value outranks a group-0 value (ties half), normalized by the
    * large-sample z with the TIE-CORRECTED variance
    *
    * {{{ V = n₀n₁/12 · [(n+1) − Σ(t³−t)/(n(n−1))] }}}
    *
    * Everything is exact integers until the final z: 2U comes from the
    * same doubled-average-rank identity [[aucRoc]] uses (2U₁ =
    * 2Σranks₁ − n₁(n₁+1)), the tie term sums t³−t over the
    * score-distinct table, and z is a fixed double expression over
    * those exact sums — deterministic cross-engine. DECIMAL(38,0)
    * products hold to ~10⁹ rows.
    *
    * @param groupCol 0/1 integer column (the two samples)
    * @return one row: (n0, n1, u_x2 = 2U₁, tie_cubes, z) — z null when
    *         either sample is empty or the variance is 0 (all values
    *         tied)
    */
  def mannWhitney(df: DataFrame, valueCol: String, groupCol: String): DataFrame = {
    val byScore = df.select(col(valueCol).as("__s"),
        col(groupCol).cast("long").as("__g"))
      .groupBy(col("__s"))
      .agg(count(lit(1)).as("__n"), sum(col("__g")).as("__n1"))
    // score-distinct table is values-sized; the cum window rides a
    // constant partition key — cheap here, and PlanSpec-visible if the
    // optimizer ever folds it (the Privacy lesson: prefer PrefixSum on
    // data-sized frames; this one is bounded by distinct values)
    val cum = graft.operators.PrefixSum.withRunningTotal(
        byScore.withColumn("__v", col("__n")), "__v", "__cuminc", "__s")
      .withColumn("__cum", col("__cuminc") - col("__n"))
    val stats = cum.agg(
        sum(expr("CAST(__n1 AS DECIMAL(38,0)) * (2 * __cum + __n + 1)"))
          .as("__two_ranks"),
        sum(col("__n1")).as("n1"),
        (sum(col("__n")) - sum(col("__n1"))).as("n0"),
        sum(expr("CAST(__n AS DECIMAL(38,0)) * __n * __n - __n")).as("__tc"))
      .select(col("n0"), col("n1"),
        expr("CAST(__two_ranks - CAST(n1 AS DECIMAL(38,0)) * (n1 + 1) AS LONG)")
          .as("u_x2"),
        col("__tc").cast("long").as("tie_cubes"))
    stats.select(col("n0"), col("n1"), col("u_x2"), col("tie_cubes"),
      when(col("n0") > 0 && col("n1") > 0 &&
        expr("""CAST(n0 + n1 + 1 AS DOUBLE)
                - CAST(tie_cubes AS DOUBLE)
                  / (CAST(n0 + n1 AS DOUBLE) * CAST(n0 + n1 - 1 AS DOUBLE))""")
          > 0.0,
        round(expr(
          """(CAST(u_x2 AS DOUBLE) - CAST(n0 AS DOUBLE) * CAST(n1 AS DOUBLE))
             / (2.0 * sqrt(
               CAST(n0 AS DOUBLE) * CAST(n1 AS DOUBLE) / 12.0
               * (CAST(n0 + n1 + 1 AS DOUBLE)
                  - CAST(tie_cubes AS DOUBLE)
                    / (CAST(n0 + n1 AS DOUBLE) * CAST(n0 + n1 - 1 AS DOUBLE)))))"""),
          4)).as("z"))
  }

  /** Cohen's kappa — chance-corrected agreement between two label
    * columns (two annotators, a model vs a heuristic, two pipeline
    * versions): κ = (p_o − p_e)/(1 − p_e) with p_e from the raters'
    * marginals. Computed in exact integers via the identity
    *
    * {{{ κ = (n·Σ_k n_kk − Σ_k row_k·col_k) / (n² − Σ_k row_k·col_k) }}}
    *
    * — one contingency aggregate (category²-sized), two marginal
    * aggregates joined ON the category, numerator/denominator widened
    * to DECIMAL(38,0) (n² overflows int64 past ~3·10⁹ rows). Output is
    * one row: (n, po_ppm, pe_ppm, kappa_ppm, kappa) — the ppm integers
    * hash-exact, the double one rounded division.
    *
    * Rows where either label is null are excluded (agreement over the
    * co-labeled set — the standard convention).
    */
  def cohenKappa(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val t = df.select(col(aCol).cast("string").as("__a"),
        col(bCol).cast("string").as("__b"))
      .where(col("__a").isNotNull && col("__b").isNotNull)
    val cells = t.groupBy(col("__a"), col("__b")).agg(count(lit(1)).as("__n"))
      .localCheckpoint(true)
    val rowTot = cells.groupBy(col("__a")).agg(sum(col("__n")).as("__ra"))
    val colTot = cells.groupBy(col("__b")).agg(sum(col("__n")).as("__cb"))
    val prod = rowTot.join(colTot, col("__a") === col("__b"))
      .agg(coalesce(sum(expr("CAST(__ra AS DECIMAL(38,0)) * __cb")),
        lit(java.math.BigDecimal.ZERO)).as("__rc"))
    val agg = cells.agg(sum(col("__n")).as("__tot"),
      sum(when(col("__a") === col("__b"), col("__n")).otherwise(0L)).as("__agree"))
    val out = agg.crossJoin(broadcast(prod))
      .select(col("__tot").as("n"),
        expr("(1000000 * __agree) div __tot").as("po_ppm"),
        expr("(1000000 * __rc) div (CAST(__tot AS DECIMAL(38,0)) * __tot)")
          .as("pe_ppm"),
        // p_e = 1 (both raters emit one identical category) zeroes the
        // denominator; kappa is undefined there → null, ANSI-safe
        expr("""CASE WHEN CAST(__tot AS DECIMAL(38,0)) * __tot = __rc
                THEN NULL
                ELSE (1000000 * (CAST(__tot AS DECIMAL(38,0)) * __agree - __rc))
                     div (CAST(__tot AS DECIMAL(38,0)) * __tot - __rc) END""")
          .as("kappa_ppm"),
        round(expr("""CASE WHEN CAST(__tot AS DECIMAL(38,0)) * __tot = __rc
                THEN NULL
                ELSE (CAST(__tot AS DECIMAL(38,0)) * __agree - __rc)
                     / (CAST(__tot AS DECIMAL(38,0)) * __tot - __rc) END""")
          .cast("double"), 4).as("kappa"))
      // 1-row result: materialize eagerly so the contingency checkpoint
      // (3 consumers above) can release before returning
      .localCheckpoint(true)
    org.apache.spark.sql.graftshim.CheckpointShim.freeLocalCheckpointIfAny(cells)
    out
  }

  /** Spearman rank correlation with textbook tie-averaged ranks, exact
    * to the last integer: a value's average rank is (min_rank +
    * (ties−1)/2), so DOUBLED average ranks 2·r = 2·rank() + ties − 1
    * are integers — and Pearson is scale-invariant, so ρ over the
    * doubled ranks IS Spearman's ρ. All sufficient statistics
    * accumulate as DECIMAL(38,0) products of those integer ranks
    * (order-independent); the one double division happens at the end.
    * Rows with a null on either side are excluded. Headroom: n ≤ ~10⁸
    * keeps (2n)²·n inside DECIMAL(38,0).
    *
    * Spark shape: NO partitionless rank window (the banned global
    * sweep) — each side's doubled rank is a pure function of its
    * VALUE, so it comes from a per-distinct-value count + a
    * [[graft.operators.PrefixSum]] running total (2·r(v) = 2·cum(v) −
    * cnt(v) + 1), joined back by value. Distinct-value-sized frames
    * everywhere except the two value joins.
    *
    * @return one row: (n, rho)
    */
  def spearman(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val t = df.select(col(aCol).as("__a"), col(bCol).as("__b"))
      .where(col("__a").isNotNull && col("__b").isNotNull)
    def rank2(vcol: String): DataFrame = {
      val cnts = t.groupBy(col(vcol).as("__v")).agg(count(lit(1)).as("__c"))
      graft.operators.PrefixSum.withRunningTotal(cnts, "__c", "__cum", "__v")
        .select(col("__v"),
          (lit(2L) * col("__cum") - col("__c") + 1L).as("__r2"))
    }
    val ranked = t
      .join(rank2("__a").select(col("__v").as("__a"), col("__r2").as("__ra")),
        Seq("__a"))
      .join(rank2("__b").select(col("__v").as("__b"), col("__r2").as("__rb")),
        Seq("__b"))
    ranked.agg(
      count(lit(1)).as("__n"),
      sum(expr("CAST(__ra AS DECIMAL(38,0))")).as("__sx"),
      sum(expr("CAST(__rb AS DECIMAL(38,0))")).as("__sy"),
      sum(expr("CAST(__ra AS DECIMAL(38,0)) * __rb")).as("__sxy"),
      sum(expr("CAST(__ra AS DECIMAL(38,0)) * __ra")).as("__sxx"),
      sum(expr("CAST(__rb AS DECIMAL(38,0)) * __rb")).as("__syy"))
    .select(col("__n").as("n"),
      round(expr("""CASE WHEN (__sxx * __n - __sx * __sx) = 0
              OR (__syy * __n - __sy * __sy) = 0 THEN NULL
            ELSE CAST(__sxy * __n - __sx * __sy AS DOUBLE)
              / sqrt(CAST(__sxx * __n - __sx * __sx AS DOUBLE)
                   * CAST(__syy * __n - __sy * __sy AS DOUBLE)) END"""), 4)
        .as("rho"))
  }

  /** Krippendorff's alpha, nominal data — the agreement coefficient for
    * VARIABLE raters per unit (kappa needs exactly two fixed raters;
    * real annotation tables rarely oblige). Computed from the
    * coincidence-matrix identity
    *
    * {{{ α = 1 − (n−1)·Σ_u[(m_u² − Σ_c o_uc²)/(m_u−1)] / (n² − Σ_c n_c²) }}}
    *
    * where m_u is unit u's value count, o_uc its per-category counts,
    * n = Σ m_u over pairable units (m_u ≥ 2), n_c the category
    * marginals over those units. Exact integers end to end: the
    * per-unit rational scales by 10¹² through a truncating `div`
    * (identical on both engines), every product widens to
    * DECIMAL(38,0). Headroom: exact to n ≈ 10⁹ pairable values
    * (10⁶·n·10¹²·n ≤ 10³⁸). Units with one value and null values are
    * excluded (unpairable — the standard convention).
    *
    * @return one row: (n_units, n, alpha_ppm, alpha)
    */
  def krippendorffAlpha(df: DataFrame, unitCol: String,
      valueCol: String): DataFrame = {
    val cnt = df.where(col(valueCol).isNotNull)
      .groupBy(col(unitCol).as("__u"), col(valueCol).cast("string").as("__c"))
      .agg(count(lit(1)).as("__o"))
      .localCheckpoint(true)
    val units = cnt.groupBy(col("__u"))
      .agg(sum(col("__o")).as("__m"),
        sum(expr("CAST(__o AS DECIMAL(38,0)) * __o")).as("__so2"))
      .where(col("__m") >= 2)
      .localCheckpoint(true)
    val doAgg = units.agg(
      count(lit(1)).as("__nu"),
      sum(col("__m")).as("__n"),
      sum(expr(
        """(1000000000000 * (CAST(__m AS DECIMAL(38,0)) * __m - __so2))
           div (__m - 1)""")).as("__do12"))
    val nc = cnt.join(units.select(col("__u")), Seq("__u"), "left_semi")
      .groupBy(col("__c")).agg(sum(col("__o")).as("__nc"))
      .agg(sum(expr("CAST(__nc AS DECIMAL(38,0)) * __nc")).as("__snc2"))
    val out = doAgg.crossJoin(broadcast(nc))
      .select(col("__nu").as("n_units"), col("__n").as("n"),
        // degenerate: one category everywhere → De = 0, α undefined
        expr("""CASE WHEN CAST(__n AS DECIMAL(38,0)) * __n = __snc2
                THEN NULL
                ELSE 1000000 - (CAST(1000000 AS DECIMAL(38,0)) * (__n - 1) * __do12)
                     div ((CAST(__n AS DECIMAL(38,0)) * __n - __snc2)
                          * 1000000000000) END""").as("alpha_ppm"),
        round(expr("""CASE WHEN CAST(__n AS DECIMAL(38,0)) * __n = __snc2
                THEN NULL
                ELSE 1.0 - CAST(CAST(__do12 AS DECIMAL(38,0)) * (__n - 1) AS DOUBLE)
                     / CAST((CAST(__n AS DECIMAL(38,0)) * __n - __snc2)
                            * 1000000000000 AS DOUBLE) END"""), 4).as("alpha"))
      .localCheckpoint(true)
    org.apache.spark.sql.graftshim.CheckpointShim.freeLocalCheckpointIfAny(cnt)
    org.apache.spark.sql.graftshim.CheckpointShim.freeLocalCheckpointIfAny(units)
    out
  }

  /** Global candidate order shared by every query: (esum ASC, id ASC)
    * ≡ (score DESC, id ASC). DenseId = distributed range sort +
    * zipWithIndex, eagerly checkpointed; `grank0` is 0-based.
    */
  private def rankedEntitySums(entitySums: DataFrame): DataFrame =
    graft.operators.DenseId.withOrderedId(
      entitySums.select(col("entity_id"), col("esum")),
      "grank0", "esum", "entity_id")

  private def additiveRanksOver(ranked: DataFrame, valid: DataFrame,
      allTrue: DataFrame, relationSums: DataFrame): DataFrame = {
    // query_id must be a pure function of row CONTENT: the `queries`
    // subtree is instantiated twice below (correction aggregate + final
    // join), and monotonically_increasing_id regenerates per
    // instantiation — a nondeterministic upstream or an AQE re-plan
    // between the two could mis-correlate n_better_true with the wrong
    // query. Duplicate valid triplets are distinct queries, so the id is
    // the triplet hash salted with a duplicate ordinal (row_number over
    // identical rows — which copy gets which ordinal is unobservable).
    // Unlike mono_id the hash is not guaranteed unique: a collision
    // would silently merge two queries' rank corrections — but at
    // ~n²/2⁶⁵ (≈5e-9 even for n = 10⁶ queries) it is far below any
    // operational failure rate; struct-equality join keys would close
    // it at the cost of wider shuffle rows.
    val dupW = Window
      .partitionBy(col("head_id"), col("relation_id"), col("target_id"))
      .orderBy(col("target_id"))
    val asked = broadcast(valid.select(
        col("head_id"), col("relation_id"), col("tail_id").as("target_id"))
      .withColumn("query_id", xxhash64(col("head_id"), col("relation_id"),
        col("target_id"), row_number().over(dupW))))
    // presence gates mirror the inner joins of the crossJoin form; entity
    // ids are unique in `ranked`, so the inner join on the head keeps each
    // query once, as a semi join would, while letting the query side be
    // the broadcast one (a left semi join can only build its right side)
    val known = broadcast(asked
      .join(ranked.select(col("entity_id").as("head_id")), Seq("head_id"))
      .join(broadcast(relationSums.select(col("relation_id"))),
        Seq("relation_id"), "left_semi"))
    val queries = broadcast(known.join(
      ranked.select(col("entity_id").as("target_id"), (col("grank0") + 1).as("grank")),
      Seq("target_id")))
    // filtered-protocol correction: OTHER true tails of (h, r) ranked
    // strictly ahead of the target would each shift it down one place.
    // Only the true triplets of the asked (h, r) pairs are ranked, and
    // tails are counted distinct, since `allTrue` may repeat a triplet.
    val corr = allTrue
      .select(col("head_id"), col("relation_id"), col("tail_id"))
      .join(queries, Seq("head_id", "relation_id"))
      .where(col("tail_id") =!= col("target_id"))
      .join(ranked.select(col("entity_id").as("tail_id"),
        (col("grank0") + 1).as("true_grank")), Seq("tail_id"))
      .where(col("true_grank") < col("grank"))
      .groupBy(col("query_id"))
      .agg(countDistinct(col("tail_id")).as("n_better_true"))
    queries.join(broadcast(corr), Seq("query_id"), "left")
      .select(col("query_id"), col("head_id"), col("relation_id"),
        col("target_id"),
        (col("grank") - coalesce(col("n_better_true"), lit(0L))).as("rnk"))
  }
}
