package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.sources.Tables
import graft.operators.{Discretize, IncrementalAgg, IntervalJoin, Stats, TargetEncode, TimeSeries}
import graft.car.Splits

/** Feature-prep and incremental-maintenance extension queries: the
  * leakage-safe/model-input side of the training-data pipeline
  * (target encoding, quantile binning, EWMA trend smoothing) plus the
  * warehouse shapes that keep 100 TB pipelines incremental (mergeable
  * rollup maintenance, binned large×large interval joins).
  *
  * Same conventions as the rest of the gate suite: exact decimal /
  * integer fixed-point accumulation, one double division at the end,
  * round(…, 4) on both engines.
  */
object MlPrepQueries {

  private val Day: Long = 86400000000L // µs

  /** Wall-clock epoch µs of a TIMESTAMP_NTZ column — pure calendar
    * arithmetic, no session-timezone dependence (Tables.events
    * discipline); equals DuckDB's `epoch_us` on the same naive value.
    */
  private def epochUs(c: String) =
    expr(s"timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', $c)")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Out-of-fold target encoding (TargetEncode): smoothed leave-fold-out
    // label means per (category, fold) — the leakage-safe categorical
    // encoder. Folds via the deterministic md5 gate (Splits.kfold), sums
    // as exact DECIMAL(20,6), one double division at the end.
    "target_encode" -> ((s, dir) => {
      val o = Splits.kfold(Tables.orders(s, dir), col("o_orderkey"), 5)
      TargetEncode.oofEncoding(o, "o_orderpriority", "o_totalprice", "fold",
        smoothing = 10.0)
    }),

    // Pairwise preference construction (Preference.pairs — the
    // reward-model / DPO prep step): per user, the top-3 vs bottom-3
    // scored events become strict (chosen, rejected) pairs with a
    // margin floor. Caps bound the pair fan-out at topM·bottomM per
    // group however heavy the group; both rank windows ride ONE
    // per-group exchange.
    "preference_pairs" -> ((s, dir) => {
      graft.operators.Preference.pairs(
        Tables.events(s, dir), "user_id", "event_id", "value",
        topM = 3, bottomM = 3, minMargin = 5.0)
        .select(col("user_id"), col("chosen_id"), col("rejected_id"),
          col("chosen_rank"), col("rejected_rank"),
          round(col("margin"), 4).as("margin"))
    }),

    // Bradley-Terry arena ratings (Preference.bradleyTerry, 3 MM
    // rounds): per-user best-vs-worst events become head-to-head
    // matches between event TYPES; the MM iteration lives entirely on
    // the players²-bounded win matrix. Σ terms snap to DECIMAL so the
    // unrolled SQL replay is exact.
    "bt_ratings" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val byBest = Window.partitionBy(col("user_id"))
        .orderBy(col("value").desc, col("event_id").asc)
      val byWorst = Window.partitionBy(col("user_id"))
        .orderBy(col("value").asc, col("event_id").asc)
      val ranked = Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("value"))
        .withColumn("__top", row_number().over(byBest))
        .withColumn("__bot", row_number().over(byWorst))
      val w = ranked.where(col("__top") === 1)
        .select(col("user_id"), col("event_type").as("winner"),
          col("value").as("__wv"))
      val l = ranked.where(col("__bot") === 1)
        .select(col("user_id"), col("event_type").as("loser"),
          col("value").as("__lv"))
      val matches = w.join(l, Seq("user_id"))
        .where(col("winner") =!= col("loser") && col("__wv") > col("__lv"))
      graft.operators.Preference.bradleyTerry(matches, "winner", "loser",
        iters = 3)
    }),

    // Streaming-maintained arena (BtStream): matches arrive in 3
    // user-keyed batches, each folded into the durable win-count
    // matrix (additive); ratings off the MAINTAINED state hash-match
    // the one-shot bt_ratings oracle — maintained ≡ one-shot BY the
    // gate. State is players²-bounded forever.
    "bt_maintained" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val base = graft.streaming.Maintained.stateRoot("bt-gate")
      val skDir = s"$base/counts"
      val byBest = Window.partitionBy(col("user_id"))
        .orderBy(col("value").desc, col("event_id").asc)
      val byWorst = Window.partitionBy(col("user_id"))
        .orderBy(col("value").asc, col("event_id").asc)
      val ranked = Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("value"))
        .withColumn("__top", row_number().over(byBest))
        .withColumn("__bot", row_number().over(byWorst))
      val w = ranked.where(col("__top") === 1)
        .select(col("user_id"), col("event_type").as("winner"),
          col("value").as("__wv"))
      val l = ranked.where(col("__bot") === 1)
        .select(col("user_id"), col("event_type").as("loser"),
          col("value").as("__lv"))
      val matches = w.join(l, Seq("user_id"))
        .where(col("winner") =!= col("loser") && col("__wv") > col("__lv"))
        .localCheckpoint(true)
      for (b <- 0 until 3)
        graft.streaming.BtStream.applyBatch(
          matches.where(pmod(col("user_id"), lit(3)) === b),
          "winner", "loser", skDir, b)
      graft.streaming.BtStream.ratings(s, skDir, iters = 3)
    }),

    // Pairwise win rates with Wilson 95% intervals — the uncertainty
    // column every arena leaderboard carries next to the rating: per
    // ordered player pair, wins/games and the Wilson score bounds
    // (exact integer counts; the interval is an identical double
    // expression on both engines, z = 1.96).
    "winrate_wilson" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val byBest = Window.partitionBy(col("user_id"))
        .orderBy(col("value").desc, col("event_id").asc)
      val byWorst = Window.partitionBy(col("user_id"))
        .orderBy(col("value").asc, col("event_id").asc)
      val ranked = Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("value"))
        .withColumn("__top", row_number().over(byBest))
        .withColumn("__bot", row_number().over(byWorst))
      val w = ranked.where(col("__top") === 1)
        .select(col("user_id"), col("event_type").as("winner"),
          col("value").as("__wv"))
      val l = ranked.where(col("__bot") === 1)
        .select(col("user_id"), col("event_type").as("loser"),
          col("value").as("__lv"))
      val m = w.join(l, Seq("user_id"))
        .where(col("winner") =!= col("loser") && col("__wv") > col("__lv"))
        .select(least(col("winner"), col("loser")).as("player_a"),
          greatest(col("winner"), col("loser")).as("player_b"),
          (col("winner") < col("loser")).cast("long").as("__a_won"))
      m.groupBy(col("player_a"), col("player_b"))
        .agg(count(lit(1)).as("n_games"), sum(col("__a_won")).as("n_a_wins"))
        .select(col("player_a"), col("player_b"), col("n_games"),
          col("n_a_wins"),
          round(col("n_a_wins").cast("double") / col("n_games"), 4)
            .as("winrate_a"),
          // Wilson score interval, z=1.96: (p̂ + z²/2n ± z·√(p̂(1−p̂)/n
          // + z²/4n²)) / (1 + z²/n) — all from the two exact counts
          round((col("n_a_wins") / col("n_games") + lit(1.9208) / col("n_games")
            - lit(1.96) * sqrt((col("n_a_wins") / col("n_games"))
              * (lit(1.0) - col("n_a_wins") / col("n_games")) / col("n_games")
              + lit(0.9604) / (col("n_games") * col("n_games"))))
            / (lit(1.0) + lit(3.8416) / col("n_games")), 4).as("wilson_lo"),
          round((col("n_a_wins") / col("n_games") + lit(1.9208) / col("n_games")
            + lit(1.96) * sqrt((col("n_a_wins") / col("n_games"))
              * (lit(1.0) - col("n_a_wins") / col("n_games")) / col("n_games")
              + lit(0.9604) / (col("n_games") * col("n_games"))))
            / (lit(1.0) + lit(3.8416) / col("n_games")), 4).as("wilson_hi"))
    }),

    // Group-relative advantage (Preference.groupAdvantage — the GRPO
    // normalization): per-user candidate scores centered and scaled by
    // the GROUP's own moments, the value-baseline-free signal a policy
    // trainer consumes. Moments from DECIMAL-snapped scores; one
    // per-group exchange.
    "group_advantage" -> ((s, dir) => {
      graft.operators.Preference.groupAdvantage(
        Tables.events(s, dir), "user_id", "event_id", "value")
    }),

    // Equal-frequency discretization (Discretize): 10 quantile bins of
    // l_extendedprice — one percentile-array aggregate to fit (exact,
    // to match the oracle; approx_percentile is the documented 100 TB
    // swap), then the codegen'd literal-cuts assignment (cuts are k-1
    // bounded stats — the Lloyd-state collect pattern). 6-dp cut snap
    // (a19 discipline), strict value > cut bin rule on both engines.
    "discretize_bins" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val cuts = Discretize.cutsOf(
        Discretize.fitQuantileBins(li, "l_extendedprice", k = 10))
      Discretize.assignBinsLit(li.select(col("l_extendedprice").as("v")), "v", cuts)
        .groupBy(col("bin").cast("long").as("bin"))
        .agg(count(lit(1)).as("n_rows"),
          round(min(col("v")), 4).as("min_v"),
          round(max(col("v")), 4).as("max_v"))
    }),

    // Bounded EWMA trend smoothing (TimeSeries.ewmaPow2Bounded): hourly
    // per-type event-value sums as exact µ-unit longs, then the α=1/2
    // 8-term EWMA as pure int64 window math — bit-exact across engines,
    // replayable by 8 unrolled lag() reads in the oracle.
    "ts_ewma" -> ((s, dir) => {
      val hourly = Tables.events(s, dir)
        .groupBy(col("event_type"),
          expr("(ts_ns div 1000) div 3600000000").as("hour_idx"))
        .agg((sum(col("value").cast(DecimalType(18, 6))) * lit(1000000))
          .cast("long").as("sum_micro"))
      TimeSeries.ewmaPow2Bounded(hourly, Seq("event_type"), "hour_idx",
          "sum_micro", terms = 8)
        .select(col("event_type"), col("hour_idx"),
          round(col("sum_micro").cast("double") / 1e6, 4).as("sum_value"),
          round(col("ewma_num").cast("double") / col("ewma_den") / 1e6, 4)
            .as("ewma_value"))
    }),

    // Incremental rollup maintenance (IncrementalAgg): state fit on 90%
    // of events, the 10% delta batch merged in via the mergeable
    // (count/sum/min/max) combiners — the oracle is the full rebuild, so
    // the hash match IS the merge ≡ rebuild proof at the gate.
    "agg_delta_merge" -> ((s, dir) => {
      val keys = Seq("event_type", "hour_idx")
      val ev = Tables.events(s, dir)
        .withColumn("hour_idx", expr("(ts_ns div 1000) div 3600000000"))
      val state = IncrementalAgg.fit(
        ev.where(pmod(col("event_id"), lit(10)) =!= 0), keys, "value")
      IncrementalAgg.report(
        IncrementalAgg.applyDelta(state,
          ev.where(pmod(col("event_id"), lit(10)) === 0), keys, "value"),
        keys)
    }),

    // Binned large×large point-in-interval join (IntervalJoin): order
    // windows [orderdate, orderdate + 1..5 days] × every lineitem
    // shipdate — day-binned equi-join, NOT a nested loop; per-interval
    // count + exact-decimal revenue sum.
    "interval_join_points" -> ((s, dir) => {
      // o_orderdate/l_shipdate are TIMESTAMP_NTZ in the testdata footers;
      // wall-clock µs via calendar arithmetic (tz-independent — the
      // Tables.events discipline), = DuckDB's epoch_us on naive timestamps.
      val start = epochUs("o_orderdate")
      val iv = Tables.orders(s, dir)
        .where(pmod(col("o_orderkey"), lit(20)) === 0)
        .select(col("o_orderkey"), start.as("s_us"),
          (start + (expr("(o_orderkey div 20) % 5") + 1) * lit(Day)).as("e_us"))
      val pts = Tables.lineitem(s, dir).select(
        epochUs("l_shipdate").as("pt_us"), col("l_extendedprice"))
      IntervalJoin.pointInInterval(pts, "pt_us", iv, "s_us", "e_us", Day)
        .groupBy(col("o_orderkey"))
        .agg(count(lit(1)).as("n_points"),
          round(sum(col("l_extendedprice").cast(DecimalType(18, 6)))
            .cast("double"), 4).as("sum_price"))
    }),

    // Binned interval-overlap join (IntervalJoin.intervalOverlap): two
    // order-window sets, every overlapping pair claimed exactly once in
    // the first shared bin — no dedup shuffle, no cartesian.
    "interval_join_overlap" -> ((s, dir) => {
      val start = epochUs("o_orderdate")
      val a = Tables.orders(s, dir)
        .where(pmod(col("o_orderkey"), lit(20)) === 0)
        .select(col("o_orderkey").as("a_key"), start.as("a_s"),
          (start + (expr("(o_orderkey div 20) % 5") + 1) * lit(Day)).as("a_e"))
      val b = Tables.orders(s, dir)
        .where(pmod(col("o_orderkey"), lit(20)) === 10)
        .select(col("o_orderkey").as("b_key"), start.as("b_s"),
          (start + (expr("(o_orderkey div 20) % 7") + 1) * lit(Day)).as("b_e"))
      IntervalJoin.intervalOverlap(a, "a_s", "a_e", b, "b_s", "b_e", Day)
        .groupBy(col("a_key"))
        .agg(count(lit(1)).as("n_overlaps"), min(col("b_key")).as("first_b"))
    }),

    // Order-invariant dataset fingerprint (Fingerprint): one exact
    // decimal sum of per-row md5 hashes — same integer on any engine,
    // partitioning, or row order; the copy-verification primitive.
    // The decimal stays internal: the output projects it as STRING
    // because Decimal is the one cell type the gate's two readers
    // canonicalize differently (CORRECTNESS_r12 artifact).
    "dataset_fingerprint" -> ((s, dir) => {
      graft.operators.Fingerprint.of(Tables.orders(s, dir),
          Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"))
        .withColumn("fingerprint", col("fingerprint").cast("string"))
    }),

    // Distribution-drift monitor (Drift/PSI): the baseline (pre-1999
    // shipments) owns the equal-frequency binning; the current slice's
    // mass per bin drives the per-bin PSI terms. Exact bin counts,
    // Laplace-smoothed proportions, decimal-fixed terms.
    "drift_psi" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val base = li.where(col("l_shipdate") < to_timestamp(lit("1999-01-01")))
      val cur = li.where(col("l_shipdate") >= to_timestamp(lit("1999-01-01")))
      graft.operators.Drift.psiByBin(base, cur, "l_extendedprice", k = 10)
        .select(col("bin").cast("long").as("bin"), col("n_base"), col("n_cur"),
          col("psi_term").cast("double").as("psi_term"))
    }),

    // Whole-feature-table PSI sweep (Drift.psiAll): four lineitem
    // features in one fit aggregate + one binned scan per side — the
    // winsorizeAll "k columns ≠ k scans" discipline applied to drift.
    "drift_psi_all" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      graft.operators.Drift.psiAll(
        li.where(col("l_shipdate") < to_timestamp(lit("1999-01-01"))),
        li.where(col("l_shipdate") >= to_timestamp(lit("1999-01-01"))),
        Seq("l_extendedprice", "l_quantity", "l_discount", "l_tax"), k = 10)
    }),

    // Hashing-trick feature projection: two categoricals explode to
    // namespaced feature strings, each lands in one of 32 signed buckets
    // via the deterministic md5 gate (the engine-reproducible stand-in
    // for murmur — same construction as kfold/mixture gates). Pure map +
    // one keys-sized aggregate; d stays fixed as cardinality grows,
    // which is the point of the trick at 100 TB.
    "feature_hash" -> ((s, dir) => {
      val g = conv(substring(md5(col("f")), 1, 4), 16, 10).cast("int")
      Tables.orders(s, dir)
        .select(explode(array(
          concat(lit("pri="), col("o_orderpriority")),
          concat(lit("st="), col("o_orderstatus")))).as("f"))
        .select((g % 32).as("bucket"),
          when(pmod(g.divide(lit(32)).cast("int"), lit(2)) === 0, 1L)
            .otherwise(-1L).as("sign"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_features"), sum(col("sign")).as("signed_sum"))
    }),

    // Supervised lag features (TimeSeries.supervisedLags): the hourly
    // series windowed into autoregressive (lag_1..lag_3, y) training
    // rows — incomplete-history rows dropped, exact µ-int values.
    "ts_supervised_lags" -> ((s, dir) => {
      val hourly = Tables.events(s, dir)
        .groupBy(col("event_type"),
          expr("(ts_ns div 1000) div 3600000000").as("hour_idx"))
        .agg((sum(col("value").cast(DecimalType(18, 6))) * lit(1000000))
          .cast("long").as("y"))
      TimeSeries.supervisedLags(hourly, Seq("event_type"), "hour_idx",
        "y", lags = 3)
    }),

    // Two-sided CUSUM level-shift scores (TimeSeries.cusum) on hourly
    // mean deviations per type: the sequential max(0, S+x−k) recursion
    // unrolled into two stacked window passes via the prefix-sum
    // closed form — integer-exact µ-units end to end, alarms at
    // h = 100 units with k = 10 units/step allowance.
    "ts_cusum" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val hourly = Tables.events(s, dir)
        .groupBy(col("event_type"),
          expr("(ts_ns div 1000) div 3600000000").as("hour_idx"))
        .agg((sum(col("value").cast(DecimalType(18, 6))) * lit(1000000))
          .cast("long").as("__s"), count(lit(1)).as("__n"))
        // integer div (both operands positive → ≡ DuckDB //): `/` on
        // longs would be double division
        .withColumn("mean_micro", expr("__s div __n"))
      val byType = Window.partitionBy(col("event_type"))
      val dev = hourly
        .withColumn("__tot", sum(col("mean_micro")).over(byType))
        .withColumn("__cnt", count(lit(1)).over(byType))
        .withColumn("dev", col("mean_micro") - expr("__tot div __cnt"))
        .select(col("event_type"), col("hour_idx"), col("dev"))
      TimeSeries.cusum(dev, Seq("event_type"), "hour_idx", "dev",
        driftK = 10000000L, threshold = 100000000L)
    }),

    // Rolling 24h Pearson correlation (TimeSeries.rollingCorr)
    // between hourly event volume and hourly mean value per type —
    // the "are these signals still moving together" monitor. Exact
    // decimal window moments, double-only closed form, all five
    // moments sharing one partition sort.
    "ts_rolling_corr" -> ((s, dir) => {
      val hourly = Tables.events(s, dir)
        .groupBy(col("event_type"),
          expr("(ts_ns div 1000) div 3600000000").as("hour_idx"))
        .agg(count(lit(1)).as("n_events"),
          (sum(col("value").cast(DecimalType(18, 6))) * lit(1000000))
            .cast("long").as("__s"))
        .withColumn("mean_micro", expr("__s div n_events")).drop("__s")
      TimeSeries.rollingCorr(hourly, Seq("event_type"), "hour_idx",
        "n_events", "mean_micro", window = 24)
    }),

    // Rolling OLS slope (TimeSeries.rollingTrend): the 12-hour local
    // trend of hourly value sums per type — where the series is
    // accelerating NOW, the trailing-frame complement of ts_trend's
    // whole-history fit. Exact-decimal window moments, double finish.
    "ts_rolling_trend" -> ((s, dir) => {
      val hourly = Tables.events(s, dir)
        .groupBy(col("event_type"),
          expr("(ts_ns div 1000) div 3600000000").as("hour_idx"))
        .agg((sum(col("value").cast(DecimalType(18, 6))) * lit(1000000))
          .cast("long").as("sum_micro"))
      TimeSeries.rollingTrend(hourly, Seq("event_type"), "hour_idx",
        "sum_micro", window = 12)
    }),

    // Hour-of-day seasonal index (TimeSeries.seasonalIndex): each
    // (type, hour-of-day) slot's mean event value over the type's
    // overall mean — the multiplicative decomposition read. Exact
    // integer sums; the index division is the only double math.
    "ts_seasonal_index" -> ((s, dir) => {
      val hourly = Tables.events(s, dir).where(col("value").isNotNull)
        .select(col("event_type"),
          pmod(expr("(ts_ns div 1000) div 3600000000"), lit(24)).as("hod"),
          (col("value").cast(DecimalType(18, 6)) * 1000000)
            .cast("long").as("v_micro"))
      TimeSeries.seasonalIndex(hourly, Seq("event_type"), "hod", "v_micro")
    }),

    // Seasonal-naive backtest (TimeSeries.backtestSeasonalNaive):
    // MASE of the 24-hour seasonal forecast vs the one-step naive on
    // hourly value sums per type — exact integer |errors| summed as
    // DECIMAL, shared denominator, double-only ratios.
    "ts_backtest_mase" -> ((s, dir) => {
      val hourly = Tables.events(s, dir)
        .groupBy(col("event_type"),
          expr("(ts_ns div 1000) div 3600000000").as("hour_idx"))
        .agg((sum(col("value").cast(DecimalType(18, 6))) * lit(1000000))
          .cast("long").as("sum_micro"))
      TimeSeries.backtestSeasonalNaive(hourly, Seq("event_type"),
        "hour_idx", "sum_micro", season = 24)
    }),

    // One-pass pairwise Pearson matrix (Stats.corrMatrix): all 6
    // correlations of the 4 µ-int lineitem measures from ONE aggregate
    // (4 sums + 10 exact decimal product moments), fanned out to pair
    // rows by exploding a literal pair array — k² corr() scans become
    // one scan at any k. The olsTrend discipline: exact decimal sums,
    // double-only closed-form finish on identical inputs.
    "stats_corr_matrix" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir).select(
        (col("l_quantity").cast(DecimalType(18, 6)) * 1000000)
          .cast("long").as("qty"),
        (col("l_extendedprice").cast(DecimalType(18, 6)) * 1000000)
          .cast("long").as("price"),
        (col("l_discount").cast(DecimalType(18, 6)) * 1000000)
          .cast("long").as("disc"),
        (col("l_tax").cast(DecimalType(18, 6)) * 1000000)
          .cast("long").as("tax"))
      Stats.corrMatrix(li, Seq("qty", "price", "disc", "tax"))
    }),

    // Incremental correlation maintenance: the corpus splits into a
    // base and a delta (orderkey % 97), each builds its own one-row
    // mergeable moment state, and the matrix comes from the MERGED
    // state — the oracle is the FULL-rebuild SQL, so the hash match
    // proves merge ≡ rebuild (the agg_delta_merge discipline applied
    // to second moments).
    "corr_delta_merge" -> ((s, dir) => {
      val cs = Seq("qty", "price", "disc", "tax")
      val li = Tables.lineitem(s, dir).select(
        col("l_orderkey"),
        (col("l_quantity").cast(DecimalType(18, 6)) * 1000000)
          .cast("long").as("qty"),
        (col("l_extendedprice").cast(DecimalType(18, 6)) * 1000000)
          .cast("long").as("price"),
        (col("l_discount").cast(DecimalType(18, 6)) * 1000000)
          .cast("long").as("disc"),
        (col("l_tax").cast(DecimalType(18, 6)) * 1000000)
          .cast("long").as("tax"))
      val base = Stats.corrState(
        li.where(pmod(col("l_orderkey"), lit(97)) =!= 0), cs)
      val delta = Stats.corrState(
        li.where(pmod(col("l_orderkey"), lit(97)) === 0), cs)
      Stats.corrFromState(
        Stats.mergeCorrStates(base.unionByName(delta), cs), cs)
    }),

    // Incremental per-group variance maintenance
    // (Stats.groupMomentsState/mergeGroupMoments/momentsReport): base
    // and delta shards each hold (key, n, Σx, Σx²) exact-decimal
    // states; the report reads the MERGED state while the oracle
    // rebuilds from the full table — the hash match proves
    // merge ≡ rebuild for second moments per key.
    "var_delta_merge" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir).select(
        col("l_orderkey"), col("l_returnflag"),
        (col("l_extendedprice").cast(DecimalType(18, 6)) * 1000000)
          .cast("long").as("price_micro"))
      val base = Stats.groupMomentsState(
        li.where(pmod(col("l_orderkey"), lit(97)) =!= 0),
        Seq("l_returnflag"), "price_micro")
      val delta = Stats.groupMomentsState(
        li.where(pmod(col("l_orderkey"), lit(97)) === 0),
        Seq("l_returnflag"), "price_micro")
      Stats.momentsReport(
        Stats.mergeGroupMoments(base.unionByName(delta), Seq("l_returnflag")),
        Seq("l_returnflag"))
    }),

    // χ² feature-relevance screen (Stats.chiSquareRelevance): both
    // categorical order features against a high-value label in ONE
    // exploded counting pass (the psiAll shape); exact integer
    // contingency cells incl. zero-observed grid cells, per-cell terms
    // snapped to DECIMAL(20,8) before the sum (text_bm25 discipline).
    "feature_relevance_chi2" -> ((s, dir) => {
      val o = Tables.orders(s, dir).withColumn("lbl",
        when(col("o_totalprice") >= 150000.0, lit("high")).otherwise(lit("low")))
      Stats.chiSquareRelevance(o, Seq("o_orderpriority", "o_orderstatus"), "lbl")
    }),

    // EXACT two-sample Kolmogorov-Smirnov drift statistic
    // (Drift.ksStatistic): the binning-free complement of drift_psi,
    // run as its own negative control — the two sides are the md5
    // halves of the SAME order-price population, so KS ≈ 0 (a few
    // thousand ppm of sampling noise); a real serving-time shift
    // would push it orders of magnitude higher. All int64 via two
    // PrefixSum passes; DriftSpec pins the positive control.
    "drift_ks" -> ((s, dir) => {
      val o = Tables.orders(s, dir).select(col("o_orderkey"),
        expr("cast(round(o_totalprice * 100) as bigint)").as("cents"))
      val gate = conv(substring(md5(col("o_orderkey").cast("string")), 1, 4),
        16, 10).cast("long")
      val flagged = o.withColumn("__g", gate)
      graft.operators.Drift.ksStatistic(
        flagged.where(col("__g") < 32768),
        flagged.where(col("__g") >= 32768), "cents")
    }),

    // Mutual information I(feature; label) in nats
    // (Stats.mutualInformation) — the "how many nats does this feature
    // buy" complement to the χ² table above, same one-explode
    // contingency pass, per-cell terms DECIMAL-fixed before the sum.
    "feature_relevance_mi" -> ((s, dir) => {
      val o = Tables.orders(s, dir).withColumn("lbl",
        when(col("o_totalprice") >= 150000.0, lit("high")).otherwise(lit("low")))
      Stats.mutualInformation(o, Seq("o_orderpriority", "o_orderstatus"), "lbl")
    }),

    // Decile lift table (Stats.liftTable): rank orders by total price,
    // cut into 10 equal-count bands WITHOUT a partitionless window
    // (DenseId rank), report each band's high-priority rate and lift
    // in exact integer ppm. Price doesn't predict priority in this
    // data, so the table shows the flat-lift negative control — the
    // calibration read a model-eval pipeline needs to recognize.
    "model_lift_table" -> ((s, dir) => {
      val o = Tables.orders(s, dir).select(
        col("o_orderkey"),
        (col("o_totalprice").cast(DecimalType(18, 6)) * 1000000)
          .cast("long").as("score"),
        when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L).as("y"))
      Stats.liftTable(o, "score", "y", "o_orderkey", buckets = 10)
    }),

    // Pareto / revenue-concentration report: per-supplier revenue in
    // exact int64 cents, globally ranked by DenseId and cumulated by
    // the distributed PrefixSum — NO partitionless window anywhere
    // (PlanSpec's global sweep holds for this query too), with
    // exact-ppm share and cumulative share. The "how few suppliers
    // carry 80% of revenue" concentration read.
    "pareto_report" -> ((s, dir) => {
      val rev = Tables.lineitem(s, dir)
        .groupBy(col("l_suppkey").cast("long").as("suppkey"))
        .agg(sum(expr("cast(round(l_extendedprice * 100) as bigint)"))
          .as("rev_cents"))
      val ranked = graft.operators.DenseId.withOrderedId(
        rev.select((-col("rev_cents")).as("__neg"), col("suppkey"),
          col("rev_cents")),
        "__rk", "__neg", "suppkey")
      val tot = rev.agg(sum(col("rev_cents")).as("__tot"))
      graft.operators.PrefixSum
        .withRunningTotal(ranked, "rev_cents", "__cum", "__rk")
        .crossJoin(broadcast(tot))
        .select(col("suppkey"), (col("__rk") + 1).as("rank"),
          col("rev_cents"),
          expr("(rev_cents * 1000000L) div __tot").as("share_ppm"),
          expr("(__cum * 1000000L) div __tot").as("cum_ppm"))
    }),

    // RFM customer segmentation (the classic marketing read): per
    // user, recency in hours from the stream's end, event frequency,
    // and monetary value in exact µ-units, each cut into quintiles by
    // the Discretize machinery (exact percentile fit, 6-dp cut snap,
    // strict > rule) — recency scored INVERTED (recent = 5). The
    // three fits are aggregate-sized; assignment is codegen'd literal
    // comparisons. Segment code = "r-f-m".
    "customer_rfm" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      val gmax = e.agg(max(expr("ts_ns div 1000")).as("gm"))
      val u = e.groupBy(col("user_id"))
        .agg(max(expr("ts_ns div 1000")).as("last_us"),
          count(lit(1)).as("frequency"),
          sum(col("value").cast(DecimalType(18, 6))).as("__mv"))
        .crossJoin(broadcast(gmax))
        .select(col("user_id"),
          expr("(gm - last_us) div 3600000000L").as("recency_hours"),
          col("frequency"),
          (col("__mv") * 1000000).cast("long").as("monetary_micro"))
      def cuts(c: String) =
        Discretize.cutsOf(Discretize.fitQuantileBins(u, c, 5))
      val binned = Discretize.assignBinsLit(
        Discretize.assignBinsLit(
          Discretize.assignBinsLit(u, "recency_hours", cuts("recency_hours"), "__rb"),
          "frequency", cuts("frequency"), "__fb"),
        "monetary_micro", cuts("monetary_micro"), "__mb")
      binned.select(col("user_id"), col("recency_hours"), col("frequency"),
          col("monetary_micro"),
          (lit(5) - col("__rb")).cast("long").as("r_score"),
          (col("__fb") + 1).cast("long").as("f_score"),
          (col("__mb") + 1).cast("long").as("m_score"))
        .withColumn("segment",
          concat_ws("-", col("r_score"), col("f_score"), col("m_score")))
    }),

    // Gini coefficient of that revenue distribution — the single-
    // number concentration complement of pareto_report's full Lorenz
    // table: G = 2·Σ(i·vᵢ)/(n·Σv) − (n+1)/n over ascending-ranked
    // values. Ranks from DenseId (no partitionless window), sums exact
    // int64, the two ratios double-only on exact inputs.
    "gini_revenue" -> ((s, dir) => {
      val rev = Tables.lineitem(s, dir)
        .groupBy(col("l_suppkey").cast("long").as("suppkey"))
        .agg(sum(expr("cast(round(l_extendedprice * 100) as bigint)"))
          .as("rev_cents"))
      graft.operators.DenseId.withOrderedId(rev, "__rk", "rev_cents", "suppkey")
        .agg(count(lit(1)).as("n_suppliers"),
          sum(col("rev_cents")).as("total_cents"),
          sum((col("__rk") + 1) * col("rev_cents")).as("__siv"))
        .select(col("n_suppliers"), col("total_cents"),
          round(lit(2.0) * col("__siv").cast("double")
              / (col("n_suppliers").cast("double") * col("total_cents").cast("double"))
            - (col("n_suppliers") + 1).cast("double")
              / col("n_suppliers").cast("double"), 6).as("gini"))
    }),

    // Calibration / reliability table (Stats.calibrationTable): the
    // min-max-normalized price as a pseudo-probability against the
    // urgent/high label — per equal-population band, mean PREDICTED ppm
    // vs OBSERVED rate ppm and their gap (the ECE terms). On this
    // fixture price doesn't predict priority, so the table shows a
    // ~uniform predicted ramp against a flat observed rate — the
    // miscalibration read a real scores column would be audited with.
    "model_calibration" -> ((s, dir) => {
      val o = Tables.orders(s, dir).select(col("o_orderkey"),
        (col("o_totalprice").cast(DecimalType(18, 6)) * 1000000)
          .cast("long").as("pc"),
        when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L).as("y"))
      val mm = o.agg(min(col("pc")).as("mn"), max(col("pc")).as("mx"))
      val scored = o.crossJoin(broadcast(mm))
        .withColumn("score_ppm", expr("((pc - mn) * 1000000) div (mx - mn)"))
      Stats.calibrationTable(scored, "score_ppm", "y", "o_orderkey",
        buckets = 10)
    }),

    // Exact grouped WEIGHTED quantiles (Stats.weightedQuantiles):
    // quantity-weighted price quartiles per return flag — the
    // survey/importance-weighted percentile. The threshold test is
    // exact integer arithmetic (100·cumw ≥ p·totw), so no double
    // q·total rounding can flip a boundary row on either engine.
    "weighted_quantiles" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir).select(
        col("l_returnflag"),
        (col("l_extendedprice").cast(DecimalType(18, 6)) * 1000000)
          .cast("long").as("price_micro"),
        col("l_quantity").cast("long").as("qty"))
      Stats.weightedQuantiles(li, Seq("l_returnflag"), "price_micro",
        "qty", Seq(25, 50, 75))
    }),

    // Poisson-bootstrap mean CIs (Stats.bootstrapMeanCI): per-type
    // event-value confidence intervals from 40 replicates, each row
    // drawing its multiplicities via the seedless md5 gate against
    // integer Poisson-CDF literals — the resampling scheme that never
    // materializes a resample and that a SQL oracle replays exactly.
    "stats_bootstrap_ci" -> ((s, dir) => {
      val e = Tables.events(s, dir).where(col("value").isNotNull)
        .select(col("event_type"), col("event_id"),
          (col("value").cast(DecimalType(18, 6)) * 1000000)
            .cast("long").as("v_micro"))
      Stats.bootstrapMeanCI(e, "v_micro", "event_id", Seq("event_type"),
        replicates = 40)
    }),

    // Per-group OLS trend (TimeSeries.olsTrend): slope + r² of the
    // hourly value sums per type in ONE aggregate pass — sums exact
    // DECIMAL, x shifted to hours-since-first per group, the final
    // slope/r² the only double math (identical inputs → identical
    // doubles, no rounding).
    "ts_trend" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val hourly = Tables.events(s, dir)
        .groupBy(col("event_type"),
          expr("(ts_ns div 1000) div 3600000000").as("hour_idx"))
        .agg((sum(col("value").cast(DecimalType(18, 6))) * lit(1000000))
          .cast("long").as("sum_micro"))
      val w = Window.partitionBy(col("event_type"))
      val shifted = hourly.withColumn("x",
        col("hour_idx") - min(col("hour_idx")).over(w))
      TimeSeries.olsTrend(shifted, Seq("event_type"), "x", "sum_micro")
    }),

    // Rolling exact median over the hourly series (5-row window per
    // type): robust trend smoothing next to ts_ewma's mean-based one.
    // Window percentile over exact µ-unit longs; the median of ≤5 int64
    // values is an exact double (or an exact .5 midpoint), so NO final
    // rounding is applied — both engines emit bit-identical doubles
    // (round(…,4) here would reintroduce the agg_delta_merge tie bug).
    "ts_rolling_median" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val hourly = Tables.events(s, dir)
        .groupBy(col("event_type"),
          expr("(ts_ns div 1000) div 3600000000").as("hour_idx"))
        .agg((sum(col("value").cast(DecimalType(18, 6))) * lit(1000000))
          .cast("long").as("sum_micro"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("hour_idx"))
        .rowsBetween(-4, Window.currentRow)
      hourly
        .withColumn("__med", expr("percentile(sum_micro, 0.5)").over(w))
        .select(col("event_type"), col("hour_idx"),
          (col("__med") / lit(1e6)).as("rolling_median"))
    }),

    // Ranking-quality evaluation: nDCG@10 per supplier — the system
    // ranking is parts by revenue, graded relevance is the (capped)
    // distinct-order count, so the metric measures how well revenue
    // ordering recovers demand ordering. Discipline: integer gains
    // (2^rel − 1), discount weights as shared double literals
    // (generated once, interpolated verbatim into BOTH engines), each
    // term decimal-fixed before the sum (the text_lm_score pattern), one
    // double division at the end. One shuffle on the supplier key; the
    // two rankings are two window sorts over the same partitioning.
    "rank_ndcg" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val li = Tables.lineitem(s, dir)
      val rel0 = li.groupBy(col("l_suppkey"), col("l_partkey"))
        .agg(least(countDistinct(col("l_orderkey")), lit(3L)).as("rel"),
          sum(col("l_extendedprice").cast(DecimalType(18, 6))).as("rev"))
      val bySysRank = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("rev").desc, col("l_partkey").asc)
      val byIdealRank = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("rel").desc, col("l_partkey").asc)
      val wArr = array(NdcgW.map(lit): _*)
      def term(rankCol: org.apache.spark.sql.Column) =
        when(rankCol <= 10,
          (expr("cast(shiftleft(1, cast(rel as int)) - 1 as double)")
            * element_at(wArr, rankCol)).cast(DecimalType(20, 8)))
      rel0.withColumn("sys_r", row_number().over(bySysRank))
        .withColumn("ideal_r", row_number().over(byIdealRank))
        .groupBy(col("l_suppkey"))
        .agg(sum(term(col("sys_r"))).as("__dcg"),
          sum(term(col("ideal_r"))).as("__idcg"))
        .select(col("l_suppkey"),
          round(col("__dcg").cast("double"), 4).as("dcg"),
          round(col("__dcg").cast("double") / col("__idcg").cast("double"), 4)
            .as("ndcg"))
    }),

    // Pre-join skew report (Salting.joinSkewReport): exact per-key
    // cnt_left × cnt_right for a planned lineitem self-join on
    // l_partkey — the keys that will dominate the shuffle, computed
    // from two keys-sized count tables BEFORE paying for the join.
    "join_skew_report" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      graft.operators.Salting.joinSkewReport(
        li, li.where(col("l_quantity") > 25), Seq("l_partkey"),
        minPairs = 900L)
    }),

    // EXACT class rebalancing (CorpusPrep.oversampleToMax): every
    // o_orderpriority class oversampled to exactly the majority class's
    // size — base copies by integer division, the remainder assigned to
    // the md5-smallest ids (deterministic, SQL-replayable; the hash-gate
    // discipline applied to oversampling). The gate emits the replica
    // rows themselves so the oracle hash proves both the per-class
    // totals AND which specific rows got the extra copy.
    "class_rebalance" -> ((s, dir) => {
      graft.operators.CorpusPrep.oversampleToMax(
          Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderpriority")),
          "o_orderkey", "o_orderpriority")
        .select(col("o_orderkey"), col("o_orderpriority"), col("copy"))
    }),

    // Group-median imputation (the robust null-repair prep step —
    // median, not mean, so the fill value ignores the tail): a
    // deterministic 1-in-20 mask on event_id plays the missing values,
    // the per-type median of the REMAINING values (exact interpolated
    // percentile over µ-int longs, the a14 discipline) broadcasts
    // back, and masked rows take it. Group medians are a groups-sized
    // aggregate — one scan + one broadcast join, k groups ≠ k scans.
    "impute_group_median" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .select(col("event_id"), col("event_type"),
          expr("cast(round(value * 1000000) as bigint)").as("__vm"))
        .withColumn("v_obs",
          when(pmod(col("event_id"), lit(20)) =!= 0, col("__vm")))
      val med = e.where(col("v_obs").isNotNull)
        .groupBy(col("event_type"))
        .agg(expr("percentile(v_obs, 0.5)").as("__med"))
      e.join(broadcast(med), Seq("event_type"))
        .select(col("event_id"), col("event_type"),
          col("v_obs").isNull.cast("long").as("was_missing"),
          coalesce(col("v_obs").cast("double"), col("__med"))
            .as("v_imputed_micro"))
    }),

    // Quantile normalization across sources (Stats.quantileNormalize):
    // each document's n_chars mapped to the POOLED corpus length
    // distribution at its within-source percent rank — the cross-source
    // aligner that makes length-based curation thresholds comparable
    // between sources with shifted length profiles. Exact integer rank
    // math (type-1 quantile, no interpolation) → hash-checkable.
    "quantile_normalize" -> ((s, dir) => {
      graft.operators.Stats.quantileNormalize(
        Tables.documents(s, dir).select(col("doc_id"), col("source"),
          col("n_chars")),
        "n_chars", "source", "doc_id")
    }),

    // Exact per-group ROC AUC (Scores.aucRoc): Mann-Whitney rank
    // statistic with average-rank tie handling, all-integer until the
    // final division — does order price rank urgency, per order
    // status. The ppm column is hash-exact; the double is one rounded
    // division.
    "model_auc" -> ((s, dir) => {
      graft.metrics.Scores.aucRoc(
        Tables.orders(s, dir).select(col("o_orderstatus").as("grp"),
          (col("o_totalprice").cast(DecimalType(18, 6)) * 1000000)
            .cast("long").as("score"),
          when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L).as("y")),
        "score", "y", Seq("grp"))
    }),

    // Cohen's kappa (Scores.cohenKappa): chance-corrected agreement
    // between two deterministic "annotators" of order importance —
    // the priority field vs a price-band heuristic. Exact contingency
    // integers; kappa_ppm hash-exact.
    "agreement_kappa" -> ((s, dir) => {
      graft.metrics.Scores.cohenKappa(
        Tables.orders(s, dir).select(
          when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), "high")
            .when(col("o_orderpriority") === "3-MEDIUM", "mid")
            .otherwise("low").as("rater_a"),
          when(col("o_totalprice") > 150000.0, "high")
            .when(col("o_totalprice") > 50000.0, "mid")
            .otherwise("low").as("rater_b")),
        "rater_a", "rater_b")
    }),

    // Spearman rank correlation (Scores.spearman): monotone association
    // between quantity and line price — textbook tie-averaged ranks
    // kept EXACT by doubling (2·avg_rank is an integer), ranks derived
    // from per-value counts + a PrefixSum running total (no global rank
    // window), Pearson over the integer ranks from exact DECIMAL sums.
    "rank_spearman" -> ((s, dir) => {
      graft.metrics.Scores.spearman(
        Tables.lineitem(s, dir), "l_quantity", "l_extendedprice")
    }),

    // Krippendorff's alpha (Scores.krippendorffAlpha): agreement with
    // VARIABLE raters per unit — each order's lineitems "annotate" the
    // order with their return flag; kappa can't express this shape.
    // Exact integers end to end (per-unit rationals scale by 10¹²
    // through truncating div); alpha_ppm hash-exact.
    "agreement_krippendorff" -> ((s, dir) => {
      graft.metrics.Scores.krippendorffAlpha(
        Tables.lineitem(s, dir), "l_orderkey", "l_returnflag")
    }),

    // Split-conformal prediction intervals (Conformal.splitConformal):
    // a per-returnflag price-per-unit model fit on the md5-gated
    // calibration half, the k = ceil(0.9(n+1)) order statistic of its
    // absolute residuals as q-hat, and the empirical coverage of
    // pred ± q-hat audited on the held-out half — the distribution-free
    // 90% guarantee, checked. All integer micro-units → hash-exact.
    "conformal_interval" -> ((s, dir) => {
      // the gated projection feeds four consumers; measured: re-running
      // the codegen'd scan+md5 per consumer beats persisting the 600k-row
      // frame (3.3 s vs ~5.2 s solo-warm at sf0.1) — recompute wins while
      // the gate is cheaper than a materialize+read cycle
      val li = Tables.lineitem(s, dir).select(
        col("l_returnflag").as("grp"),
        (col("l_extendedprice").cast(DecimalType(18, 6)) * 1000000)
          .cast("long").as("y"),
        col("l_quantity").cast("long").as("q"),
        pmod(conv(substring(md5(concat_ws("|", col("l_orderkey"),
          col("l_linenumber"))), 1, 4), 16, 10).cast("long"), lit(2))
          .as("gate"))
      val calib = li.where(col("gate") === 0)
      val test = li.where(col("gate") === 1)
      val slope = calib.groupBy(col("grp"))
        .agg(expr("sum(CAST(y AS DECIMAL(38,0))) div sum(q)").as("slope"))
      def withPred(df: org.apache.spark.sql.DataFrame) =
        df.join(broadcast(slope), Seq("grp"))
          .withColumn("pred", col("q") * col("slope"))
      graft.operators.Conformal.splitConformal(
        withPred(calib), withPred(test), Seq("grp"), "y", "pred",
        alphaPct = 10)
    }),

    // k-anonymity audit (Privacy.kAnonymityHistogram): equivalence-
    // class size histogram over customer quasi-identifiers (nation,
    // segment, $1k balance band) with exact cumulative row share —
    // "how re-identifiable is this table", driver-readable at any
    // scale. The first row's class_size IS the table's k level.
    "privacy_k_anonymity" -> ((s, dir) => {
      graft.operators.Privacy.kAnonymityHistogram(
        Tables.customer(s, dir).select(col("c_nationkey"),
          col("c_mktsegment"),
          expr("""(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
                  + 100000) div 100000""").as("bal_band")),
        Seq("c_nationkey", "c_mktsegment", "bal_band"))
    }),

    // l-diversity audit (Privacy.lDiversityHistogram): classes and
    // rows histogrammed by the DISTINCT count of the sensitive
    // attribute (market segment) inside each (nation, balance band)
    // equivalence class — rows at l = 1 have their segment fully
    // disclosed by class membership even when k is large.
    "privacy_l_diversity" -> ((s, dir) => {
      graft.operators.Privacy.lDiversityHistogram(
        Tables.customer(s, dir).select(col("c_nationkey"),
          expr("""(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
                  + 100000) div 100000""").as("bal_band"),
          col("c_mktsegment")),
        Seq("c_nationkey", "bal_band"), "c_mktsegment")
    }),

    // t-closeness audit (Privacy.tClosenessHistogram): per (nation,
    // balance band) class, the exact-ppm total variation distance
    // between the class's segment distribution and the global one,
    // histogrammed in 5% bands — the leak k and l both miss (a large,
    // varied class that is still heavily skewed vs the population).
    "privacy_t_closeness" -> ((s, dir) => {
      graft.operators.Privacy.tClosenessHistogram(
        Tables.customer(s, dir).select(col("c_nationkey"),
          expr("""(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
                  + 100000) div 100000""").as("bal_band"),
          col("c_mktsegment")),
        Seq("c_nationkey", "bal_band"), "c_mktsegment")
    }),

    // Average precision / PR AUC (Scores.averagePrecision): the
    // imbalanced-data companion to model_auc on the same ranking —
    // per-term integral divisions at ppb scale over distinct score
    // thresholds, sklearn's step interpolation replayed exactly by
    // the oracle.
    "model_pr_auc" -> ((s, dir) => {
      graft.metrics.Scores.averagePrecision(
        Tables.orders(s, dir).select(col("o_orderstatus").as("grp"),
          (col("o_totalprice").cast(DecimalType(18, 6)) * 1000000)
            .cast("long").as("score"),
          when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L).as("y")),
        "score", "y", Seq("grp"))
    }),

    // Two-regressor closed-form OLS (Regression.ols2): price-in-cents
    // against quantity and discount points per returnflag — exact
    // DECIMAL moment sums (partition-order-proof), then a fixed
    // sequence of IEEE double ops shared verbatim with the oracle.
    "regression_ols2" -> ((s, dir) => {
      graft.operators.Regression.ols2(
        Tables.lineitem(s, dir).select(col("l_returnflag").as("grp"),
          (col("l_extendedprice").cast(DecimalType(18, 2)) * 100)
            .cast("long").as("y_cents"),
          col("l_quantity").cast("long").as("qty"),
          (col("l_discount").cast(DecimalType(18, 2)) * 100)
            .cast("long").as("disc_pct")),
        Seq("grp"), "y_cents", "qty", "disc_pct")
    }),

    // Decision-stump screening (DecisionSplit.bestSplits): melt three
    // ordered features to long format with ONE stack, label = returned
    // line; exact ppm Gini costs, argmin by (cost, bin).
    "feature_best_split" -> ((s, dir) => {
      graft.operators.DecisionSplit.bestSplits(
        Tables.lineitem(s, dir).select(
          expr("""stack(3, 'quantity', CAST(l_quantity AS BIGINT),
                  'discount_pct',
                  CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT),
                  'ship_month', CAST(month(l_shipdate) AS BIGINT))
                  AS (feature, bin)"""),
          when(col("l_returnflag") === "R", 1L).otherwise(0L).as("y")),
        "feature", "bin", "y")
    }),

    // WOE encoding + information value (WoeEncoding.woeTable): three
    // categorical features melted long against the returned-line
    // label; exact half-count-smoothed integer ratios, ln/products
    // snapped to DECIMAL(20,8) before summation (the text_entropy
    // discipline) so the encoding table hash-matches the oracle.
    "feature_woe_iv" -> ((s, dir) => {
      graft.operators.WoeEncoding.woeTable(
        Tables.lineitem(s, dir).select(
          expr("""stack(3, 'line_status', l_linestatus,
                  'ship_quarter', CAST(quarter(l_shipdate) AS STRING),
                  'disc_band',
                  CAST(CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT)
                    div 3 AS STRING)) AS (feature, category)"""),
          when(col("l_returnflag") === "R", 1L).otherwise(0L).as("y")),
        "feature", "category", "y")
    }),

    // Order-statistic median CI (Stats.medianCi): distribution-free
    // 95% bounds on the median line price per returnflag — every
    // output an exact input value (selected order statistics, no
    // interpolation), ranks from the Conover normal approximation.
    "stats_median_ci" -> ((s, dir) => {
      graft.operators.Stats.medianCi(
        Tables.lineitem(s, dir).select(col("l_returnflag").as("grp"),
          (col("l_extendedprice").cast(DecimalType(18, 2)) * 100)
            .cast("long").as("price_cents")),
        Seq("grp"), "price_cents")
    }),

    // Isotonic (PAV) calibration (Isotonic.pavCalibrate): the unique
    // least-squares monotone map from $20k price bands to the urgent-
    // priority rate — data-sized work is one bin aggregate, PAV runs
    // on the 26-bin table in exact BigInt rationals, and the oracle
    // replays it as 25 unrolled leftmost-violation merges (the merge
    // ORDER never changes the PAV fixed point, only the step bound).
    "model_isotonic" -> ((s, dir) => {
      graft.operators.Isotonic.pavCalibrate(
        Tables.orders(s, dir).select(
          least(expr("""CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
            AS BIGINT) div 2000000"""), lit(25L)).as("bin"),
          when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L).as("y")),
        "bin", "y")
    })
  )

  /** Per-feature PSI oracle block with CTE names suffixed by index —
    * the single-column drift_psi SQL replayed per column, all CTEs in
    * one WITH (DuckDB-friendly), results unioned.
    */
  private def psiAllOracle(cols: Seq[String]): String = {
    val base = s"""base AS (SELECT ${cols.mkString(", ")} FROM lineitem
           WHERE l_shipdate < TIMESTAMP '1999-01-01'),
         cur AS (SELECT ${cols.mkString(", ")} FROM lineitem
           WHERE l_shipdate >= TIMESTAMP '1999-01-01')"""
    val blocks = cols.zipWithIndex.map { case (c, i) =>
      s""",
         cuts_$i AS (SELECT round(unnest(quantile_cont($c,
               [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9])), 6) AS cut
             FROM base),
         bb_$i AS (SELECT (SELECT count(*) FROM cuts_$i WHERE b.$c > cut) AS bin,
                 CAST(count(*) AS BIGINT) AS n_base
               FROM base b WHERE b.$c IS NOT NULL GROUP BY 1),
         cc_$i AS (SELECT (SELECT count(*) FROM cuts_$i WHERE u.$c > cut) AS bin,
                 CAST(count(*) AS BIGINT) AS n_cur
               FROM cur u WHERE u.$c IS NOT NULL GROUP BY 1),
         j_$i AS (SELECT coalesce(bb_$i.bin, cc_$i.bin) AS bin,
                 coalesce(n_base, 0) AS n_base, coalesce(n_cur, 0) AS n_cur
               FROM bb_$i FULL OUTER JOIN cc_$i ON bb_$i.bin = cc_$i.bin),
         t_$i AS (SELECT sum(n_base) AS tb, sum(n_cur) AS tc FROM j_$i),
         p_$i AS (SELECT '$c' AS feature,
               round(CAST(sum(CAST(
                 (CAST(n_cur + 1 AS DOUBLE) / (tc + 10)
                  - CAST(n_base + 1 AS DOUBLE) / (tb + 10))
                 * ln((CAST(n_cur + 1 AS DOUBLE) / (tc + 10))
                      / (CAST(n_base + 1 AS DOUBLE) / (tb + 10)))
                 AS DECIMAL(20,8))) AS DOUBLE), 4) AS psi
             FROM j_$i CROSS JOIN t_$i)"""
    }.mkString
    val union = cols.indices.map(i => s"SELECT * FROM p_$i").mkString(" UNION ALL ")
    s"WITH $base$blocks\n         $union"
  }

  /** stats_corr_matrix oracle: exact HUGEINT moments (the ts_trend
    * decimal discipline), then the SAME double closed form as
    * Stats.corrMatrix — (n·pxy − sx·sy) / √((n·pxx − sx²)(n·pyy − sy²))
    * — generated per pair so Spark and SQL can't drift apart.
    */
  private val CorrMatrixSql: String = {
    val cols = Seq("qty" -> "l_quantity", "price" -> "l_extendedprice",
      "disc" -> "l_discount", "tax" -> "l_tax")
    val names = cols.map(_._1)
    val base = cols.map { case (a, c) =>
      s"CAST(CAST($c AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS $a" }
      .mkString(",\n           ")
    val notNull = cols.map(c => s"${c._2} IS NOT NULL").mkString(" AND ")
    val huge = names.map(a => s"CAST($a AS HUGEINT) AS $a").mkString(", ")
    val sums = names.map(a =>
      s"CAST(CAST(sum($a) AS DECIMAL(38,0)) AS DOUBLE) AS s_$a").mkString(",\n           ")
    val pairsAll = for { i <- names.indices; j <- i until names.size }
      yield (names(i), names(j))
    val prods = pairsAll.map { case (a, b) =>
      s"CAST(CAST(sum($a * $b) AS DECIMAL(38,0)) AS DOUBLE) AS p_${a}_$b" }
      .mkString(",\n           ")
    def cm(a: String, b: String) = {
      val (x, y) = if (names.indexOf(a) <= names.indexOf(b)) (a, b) else (b, a)
      s"(CAST(n AS DOUBLE) * p_${x}_$y - s_$a * s_$b)"
    }
    val rows = pairsAll.collect { case (a, b) if a != b =>
      s"""SELECT '$a' AS col_x, '$b' AS col_y, n,
           CASE WHEN ${cm(a, a)} > 0 AND ${cm(b, b)} > 0
             THEN ${cm(a, b)} / sqrt(${cm(a, a)} * ${cm(b, b)}) END AS corr
         FROM g""" }.mkString("\n         UNION ALL ")
    s"""WITH base AS (SELECT $base
           FROM lineitem WHERE $notNull),
         h AS (SELECT $huge FROM base),
         g AS (SELECT CAST(count(*) AS BIGINT) AS n,
           $sums,
           $prods
         FROM h)
         $rows"""
  }

  /** feature_relevance_chi2 oracle: the full marginal×marginal grid
    * (zero-observed cells included), per-cell (o−e)²/e snapped to
    * DECIMAL(20,8) pre-sum — mirrors Stats.chiSquareRelevance term for
    * term.
    */
  private val Chi2Sql: String = {
    val feats = Seq("o_orderpriority", "o_orderstatus")
    val t = feats.map(f =>
      s"SELECT '$f' AS feature, CAST($f AS VARCHAR) AS v, lbl FROM b0 WHERE $f IS NOT NULL")
      .mkString("\n           UNION ALL ")
    val e = "(CAST(rc AS DOUBLE) * CAST(cc AS DOUBLE) / CAST(n AS DOUBLE))"
    s"""WITH b0 AS (SELECT o_orderpriority, o_orderstatus,
             CASE WHEN o_totalprice >= 150000.0 THEN 'high' ELSE 'low' END AS lbl
           FROM orders),
         t AS ($t),
         cells AS (SELECT feature, v, lbl, count(*) AS o FROM t GROUP BY 1, 2, 3),
         rt AS (SELECT feature, v, sum(o) AS rc FROM cells GROUP BY 1, 2),
         ct AS (SELECT feature, lbl, sum(o) AS cc FROM cells GROUP BY 1, 2),
         nt AS (SELECT feature, sum(o) AS n,
             count(DISTINCT v) AS r_levels, count(DISTINCT lbl) AS c_levels
           FROM cells GROUP BY 1),
         grid AS (SELECT rt.feature, rt.v, ct.lbl, rt.rc, ct.cc,
             coalesce(cells.o, 0) AS o
           FROM rt JOIN ct ON rt.feature = ct.feature
           LEFT JOIN cells ON cells.feature = rt.feature
             AND cells.v = rt.v AND cells.lbl = ct.lbl),
         terms AS (SELECT g.feature, n, r_levels, c_levels, CAST(
             (CAST(o AS DOUBLE) - $e) * (CAST(o AS DOUBLE) - $e) / $e
             AS DECIMAL(20,8)) AS term
           FROM grid g JOIN nt ON g.feature = nt.feature),
         agg AS (SELECT feature, CAST(max(n) AS BIGINT) AS n,
             CAST(max(r_levels) AS BIGINT) AS r_levels,
             CAST(max(c_levels) AS BIGINT) AS c_levels,
             CAST(sum(term) AS DOUBLE) AS chi2
           FROM terms GROUP BY 1)
         SELECT feature, n, r_levels, c_levels,
           CAST((r_levels - 1) * (c_levels - 1) AS BIGINT) AS dof, chi2,
           CASE WHEN (r_levels - 1) * (c_levels - 1) > 0
             THEN sqrt(chi2 / (CAST(n AS DOUBLE)
               * CAST(least(r_levels - 1, c_levels - 1) AS DOUBLE))) END
             AS cramers_v
         FROM agg"""
  }

  /** stats_bootstrap_ci oracle: replays the md5 Poisson gates
    * (Stats.PoissonGates16 literals interpolated — one source of
    * truth), exact HUGEINT weighted sums, quantile_cont over replicate
    * means (the funnel_latency percentile parity).
    */
  private val BootstrapSql: String = {
    val g = Stats.PoissonGates16
    s"""WITH base AS (SELECT event_type, event_id,
             CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v
           FROM events WHERE value IS NOT NULL),
         reps AS (SELECT event_type, event_id, v, r.b
           FROM base, (SELECT unnest(generate_series(1, 40)) AS b) r),
         gate AS (SELECT event_type, b, v,
             CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR) || ':'
               || CAST(b AS VARCHAR)), 1, 4)) AS INTEGER) AS u
           FROM reps),
         w AS (SELECT event_type, b, v,
             CASE WHEN u < ${g(0)} THEN 0 WHEN u < ${g(1)} THEN 1
                  WHEN u < ${g(2)} THEN 2 WHEN u < ${g(3)} THEN 3
                  WHEN u < ${g(4)} THEN 4 ELSE 5 END AS w
           FROM gate),
         rm AS (SELECT event_type, b,
             CASE WHEN sum(w) > 0
               THEN CAST(CAST(sum(CAST(w AS HUGEINT) * v) AS DECIMAL(38,0))
                      AS DOUBLE) / CAST(sum(w) AS DOUBLE) END AS m
           FROM w GROUP BY 1, 2),
         ci AS (SELECT event_type, quantile_cont(m, 0.025) AS ci_lo,
             quantile_cont(m, 0.5) AS ci_mid, quantile_cont(m, 0.975) AS ci_hi
           FROM rm GROUP BY 1),
         f AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
             CAST(CAST(sum(CAST(v AS HUGEINT)) AS DECIMAL(38,0)) AS DOUBLE)
               / CAST(count(*) AS DOUBLE) AS mean_micro
           FROM base GROUP BY 1)
         SELECT f.event_type, n_rows, mean_micro, ci_lo, ci_mid, ci_hi
         FROM f JOIN ci ON f.event_type = ci.event_type"""
  }

  /** nDCG@10 discount weights 1/log2(r+1), r = 1..10 — ONE source of
    * truth: the Spark literals and the oracle SQL list interpolate the
    * same doubles (Double.toString round-trips exactly, so both
    * engines parse the identical value).
    */
  private val NdcgW: Seq[Double] =
    (1 to 10).map(r => 1.0 / (math.log(r + 1.0) / math.log(2.0)))

  private val NdcgWSql: String = NdcgW.mkString("[", ", ", "]")

  /** 8 unrolled lag terms of the ts_ewma oracle, weights 2^(7-k). */
  private val EwmaTerms: String = (0 until 8).map { k =>
    val w = 1L << (7 - k)
    if (k == 0) s"$w * sum_micro"
    else s"coalesce($w * lag(sum_micro, $k) OVER w, 0)"
  }.mkString(" + ")

  private val EwmaDen: String = (0 until 8).map { k =>
    val w = 1L << (7 - k)
    if (k == 0) s"$w"
    else s"CASE WHEN lag(sum_micro, $k) OVER w IS NULL THEN 0 ELSE $w END"
  }.mkString(" + ")

  /** `bt_ratings`: the full Bradley-Terry MM replay — matches from the
    * per-user best/worst windows, the symmetric pair-total matrix, and
    * three unrolled γ updates with the same DECIMAL(20,8) snap points
    * as Preference.bradleyTerry (terms before the Σ_j sum, γ_raw before
    * the normalization sum).
    */
  private def btRatingsOracleSql: String = {
    val rounds = (1 to 3).map { k =>
      s""",
       d$k AS (SELECT t.i,
                 sum(CAST(t.n_tot / (ga.gamma + gb.gamma) AS DECIMAL(20,8)))
                   AS d
               FROM tot t JOIN g${k - 1} ga ON ga.i = t.i
                          JOIN g${k - 1} gb ON gb.i = t.j
               GROUP BY t.i),
       r$k AS (SELECT p.i, CAST(CAST(coalesce(w.w, 0) AS DOUBLE)
                  / CAST(d.d AS DOUBLE) AS DECIMAL(20,8)) AS graw
               FROM pl p JOIN d$k d ON d.i = p.i
               LEFT JOIN wins w ON w.i = p.i),
       s$k AS (SELECT sum(graw) AS s, CAST(count(*) AS BIGINT) AS ng
               FROM r$k),
       g$k AS (SELECT i, CAST(graw AS DOUBLE) * ng / CAST(s AS DOUBLE)
                 AS gamma
               FROM r$k CROSS JOIN s$k)"""
    }.mkString
    s"""WITH ranked AS (SELECT user_id, event_id, event_type, value,
         row_number() OVER (PARTITION BY user_id
           ORDER BY value DESC, event_id ASC) AS top_rk,
         row_number() OVER (PARTITION BY user_id
           ORDER BY value ASC, event_id ASC) AS bot_rk
       FROM events),
       wm AS (SELECT user_id, event_type AS winner, value AS wv
              FROM ranked WHERE top_rk = 1),
       lm AS (SELECT user_id, event_type AS loser, value AS lv
              FROM ranked WHERE bot_rk = 1),
       m AS (SELECT winner, loser FROM wm JOIN lm USING (user_id)
             WHERE winner <> loser AND wv > lv),
       n AS (SELECT winner AS i, loser AS j, CAST(count(*) AS BIGINT) AS n_ij
             FROM m GROUP BY 1, 2),
       tot AS (SELECT i, j, sum(n_ij) AS n_tot FROM (
                 SELECT i, j, n_ij FROM n
                 UNION ALL SELECT j AS i, i AS j, n_ij FROM n)
               GROUP BY 1, 2),
       wins AS (SELECT i, sum(n_ij) AS w FROM n GROUP BY 1),
       pl AS (SELECT DISTINCT i FROM tot),
       g0 AS (SELECT i, 1.0 AS gamma FROM pl)
       $rounds,
       fin AS (SELECT p.i AS player,
                 CAST(coalesce(w.w, 0) AS BIGINT) AS n_wins,
                 round(g.gamma, 4) + 0.0 AS rating
               FROM pl p JOIN g3 g ON g.i = p.i
               LEFT JOIN wins w ON w.i = p.i)
       SELECT player, n_wins, rating,
              CAST(row_number() OVER (ORDER BY rating DESC, player ASC)
                AS BIGINT) AS rank
       FROM fin"""
  }

  def oracleSql: Map[String, String] = Map(
    "bt_ratings" -> btRatingsOracleSql,
    // maintained ≡ one-shot: win counts are additive, so the oracle IS
    // the one-shot replay
    "bt_maintained" -> btRatingsOracleSql,
    "winrate_wilson" ->
      """WITH ranked AS (SELECT user_id, event_id, event_type, value,
           row_number() OVER (PARTITION BY user_id
             ORDER BY value DESC, event_id ASC) AS top_rk,
           row_number() OVER (PARTITION BY user_id
             ORDER BY value ASC, event_id ASC) AS bot_rk
         FROM events),
         wm AS (SELECT user_id, event_type AS winner, value AS wv
                FROM ranked WHERE top_rk = 1),
         lm AS (SELECT user_id, event_type AS loser, value AS lv
                FROM ranked WHERE bot_rk = 1),
         m AS (SELECT least(winner, loser) AS player_a,
                 greatest(winner, loser) AS player_b,
                 CASE WHEN winner < loser THEN 1 ELSE 0 END AS a_won
               FROM wm JOIN lm USING (user_id)
               WHERE winner <> loser AND wv > lv),
         agg AS (SELECT player_a, player_b,
                   CAST(count(*) AS BIGINT) AS n_games,
                   CAST(sum(a_won) AS BIGINT) AS n_a_wins
                 FROM m GROUP BY 1, 2)
         SELECT player_a, player_b, n_games, n_a_wins,
                round(CAST(n_a_wins AS DOUBLE) / n_games, 4) AS winrate_a,
                round((n_a_wins / n_games + 1.9208 / n_games
                  - 1.96 * sqrt((n_a_wins / n_games)
                    * (1.0 - n_a_wins / n_games) / n_games
                    + 0.9604 / (n_games * n_games)))
                  / (1.0 + 3.8416 / n_games), 4) AS wilson_lo,
                round((n_a_wins / n_games + 1.9208 / n_games
                  + 1.96 * sqrt((n_a_wins / n_games)
                    * (1.0 - n_a_wins / n_games) / n_games
                    + 0.9604 / (n_games * n_games)))
                  / (1.0 + 3.8416 / n_games), 4) AS wilson_hi
         FROM agg""",
    "group_advantage" ->
      """WITH s AS (SELECT user_id, event_id,
                CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS sc
              FROM events),
         st AS (SELECT user_id, sum(sc) AS s1, sum(sc * sc) AS s2,
                  CAST(count(*) AS BIGINT) AS n
                FROM s GROUP BY 1)
         SELECT s.user_id, event_id,
                round(CASE WHEN n * s2 - s1 * s1 = 0 THEN 0.0
                      ELSE CAST(n * sc - s1 AS DOUBLE)
                        / sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE)) END, 4)
                  + 0.0 AS advantage
         FROM s JOIN st ON s.user_id = st.user_id""",
    "preference_pairs" ->
      """WITH ranked AS (SELECT user_id, event_id, value,
           row_number() OVER (PARTITION BY user_id
             ORDER BY value DESC, event_id ASC) AS top_rk,
           row_number() OVER (PARTITION BY user_id
             ORDER BY value ASC, event_id ASC) AS bot_rk
         FROM events),
         chosen AS (SELECT user_id, event_id AS chosen_id,
                      value AS c_score, top_rk AS chosen_rank
                    FROM ranked WHERE top_rk <= 3),
         rejected AS (SELECT user_id, event_id AS rejected_id,
                        value AS r_score, bot_rk AS rejected_rank
                      FROM ranked WHERE bot_rk <= 3)
         SELECT c.user_id, chosen_id, rejected_id,
                CAST(chosen_rank AS BIGINT) AS chosen_rank,
                CAST(rejected_rank AS BIGINT) AS rejected_rank,
                round(c_score - r_score, 4) AS margin
         FROM chosen c JOIN rejected r ON c.user_id = r.user_id
         WHERE c_score > r_score AND c_score - r_score >= 5.0""",
    "target_encode" ->
      """WITH f AS (SELECT o_orderpriority,
               CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 4))
                    AS INTEGER) % 5 AS fold,
               CAST(o_totalprice AS DECIMAL(20,6)) AS y
             FROM orders),
         cell AS (SELECT o_orderpriority, fold, sum(y) AS fsum,
                         count(y) AS fcnt
                  FROM f GROUP BY 1, 2),
         catt AS (SELECT o_orderpriority, sum(fsum) AS tsum, sum(fcnt) AS tcnt
                  FROM cell GROUP BY 1),
         g AS (SELECT sum(tsum) AS gsum, sum(tcnt) AS gcnt FROM catt)
         SELECT cell.o_orderpriority, cell.fold, CAST(cell.fcnt AS BIGINT) AS n,
                round((CAST(catt.tsum - cell.fsum AS DOUBLE)
                       + 10.0 * (CAST(g.gsum AS DOUBLE) / g.gcnt))
                      / (CAST(catt.tcnt - cell.fcnt AS DOUBLE) + 10.0), 4) AS enc
         FROM cell JOIN catt USING (o_orderpriority) CROSS JOIN g""",
    "discretize_bins" ->
      """WITH cuts AS (SELECT round(unnest(quantile_cont(l_extendedprice,
                 [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9])), 6) AS c
               FROM lineitem),
         b AS (SELECT l_extendedprice AS v,
                 (SELECT count(*) FROM cuts WHERE v > c) AS bin
               FROM lineitem)
         SELECT bin, CAST(count(*) AS BIGINT) AS n_rows,
                round(min(v), 4) AS min_v, round(max(v), 4) AS max_v
         FROM b GROUP BY bin""",
    "ts_ewma" ->
      s"""WITH h AS (SELECT event_type,
               epoch_us(ts) // 3600000000 AS hour_idx,
               CAST(sum(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT)
                 AS sum_micro
             FROM events GROUP BY 1, 2)
         SELECT event_type, hour_idx,
                round(CAST(sum_micro AS DOUBLE) / 1e6, 4) AS sum_value,
                round(CAST($EwmaTerms AS DOUBLE) / ($EwmaDen) / 1e6, 4)
                  AS ewma_value
         FROM h
         WINDOW w AS (PARTITION BY event_type ORDER BY hour_idx)""",
    "agg_delta_merge" ->
      """WITH e AS (SELECT event_type,
               epoch_us(ts) // 3600000000 AS hour_idx,
               CAST(value AS DECIMAL(20,6)) AS y
             FROM events)
         SELECT event_type, hour_idx, CAST(count(y) AS BIGINT) AS n,
                round(CAST(sum(y) AS DOUBLE), 4) AS sum_value,
                CAST(CAST(sum(y) * 1000000 AS BIGINT) // count(y) AS DOUBLE)
                  / 1e6 AS mean_value,
                round(CAST(min(y) AS DOUBLE), 4) AS min_value,
                round(CAST(max(y) AS DOUBLE), 4) AS max_value
         FROM e GROUP BY 1, 2""",
    "interval_join_points" ->
      """WITH iv AS (SELECT o_orderkey, epoch_us(o_orderdate) AS s_us,
               epoch_us(o_orderdate)
                 + ((o_orderkey // 20) % 5 + 1) * 86400000000 AS e_us
             FROM orders WHERE o_orderkey % 20 = 0),
         p AS (SELECT epoch_us(l_shipdate) AS pt_us, l_extendedprice
               FROM lineitem)
         SELECT o_orderkey, CAST(count(*) AS BIGINT) AS n_points,
                round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6)))
                      AS DOUBLE), 4) AS sum_price
         FROM iv JOIN p ON p.pt_us >= iv.s_us AND p.pt_us <= iv.e_us
         GROUP BY o_orderkey""",
    "interval_join_overlap" ->
      """WITH a AS (SELECT o_orderkey AS a_key, epoch_us(o_orderdate) AS a_s,
               epoch_us(o_orderdate)
                 + ((o_orderkey // 20) % 5 + 1) * 86400000000 AS a_e
             FROM orders WHERE o_orderkey % 20 = 0),
         b AS (SELECT o_orderkey AS b_key, epoch_us(o_orderdate) AS b_s,
               epoch_us(o_orderdate)
                 + ((o_orderkey // 20) % 7 + 1) * 86400000000 AS b_e
             FROM orders WHERE o_orderkey % 20 = 10),
         j AS (SELECT a_key, b_key FROM a JOIN b
                 ON a_s <= b_e AND b_s <= a_e)
         SELECT a_key, CAST(count(*) AS BIGINT) AS n_overlaps,
                min(b_key) AS first_b
         FROM j GROUP BY a_key""",
    "dataset_fingerprint" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
                CAST(CAST(sum(CAST(('0x' || substr(md5(
                    CAST(o_orderkey AS VARCHAR) || '|' ||
                    CAST(o_custkey AS VARCHAR) || '|' ||
                    o_orderstatus || '|' || o_orderpriority), 1, 15))
                  AS BIGINT)) AS DECIMAL(38,0)) AS VARCHAR) AS fingerprint
         FROM orders""",
    "drift_psi_all" -> psiAllOracle(
      Seq("l_extendedprice", "l_quantity", "l_discount", "l_tax")),
    "drift_psi" ->
      """WITH base AS (SELECT l_extendedprice AS v FROM lineitem
               WHERE l_shipdate < TIMESTAMP '1999-01-01'),
         cur AS (SELECT l_extendedprice AS v FROM lineitem
               WHERE l_shipdate >= TIMESTAMP '1999-01-01'),
         cuts AS (SELECT round(unnest(quantile_cont(v,
                 [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9])), 6) AS c
               FROM base),
         bb AS (SELECT (SELECT count(*) FROM cuts WHERE v > c) AS bin,
                       CAST(count(*) AS BIGINT) AS n_base
                FROM base GROUP BY 1),
         cc AS (SELECT (SELECT count(*) FROM cuts WHERE v > c) AS bin,
                       CAST(count(*) AS BIGINT) AS n_cur
                FROM cur GROUP BY 1),
         j AS (SELECT coalesce(bb.bin, cc.bin) AS bin,
                      coalesce(n_base, 0) AS n_base,
                      coalesce(n_cur, 0) AS n_cur
               FROM bb FULL OUTER JOIN cc ON bb.bin = cc.bin),
         t AS (SELECT sum(n_base) AS tb, sum(n_cur) AS tc FROM j)
         SELECT bin, n_base, n_cur,
                CAST(CAST(
                  (CAST(n_cur + 1 AS DOUBLE) / (tc + 10)
                   - CAST(n_base + 1 AS DOUBLE) / (tb + 10))
                  * ln((CAST(n_cur + 1 AS DOUBLE) / (tc + 10))
                       / (CAST(n_base + 1 AS DOUBLE) / (tb + 10)))
                  AS DECIMAL(20,8)) AS DOUBLE) AS psi_term
         FROM j CROSS JOIN t""",
    "feature_hash" ->
      """WITH f AS (SELECT 'pri=' || o_orderpriority AS f FROM orders
               UNION ALL SELECT 'st=' || o_orderstatus FROM orders),
         g AS (SELECT CAST(('0x' || substr(md5(f), 1, 4)) AS INTEGER) AS gate
               FROM f)
         SELECT gate % 32 AS bucket, CAST(count(*) AS BIGINT) AS n_features,
                CAST(sum(CASE WHEN (gate // 32) % 2 = 0 THEN 1 ELSE -1 END)
                     AS BIGINT) AS signed_sum
         FROM g GROUP BY 1""",
    "ts_supervised_lags" ->
      """WITH h AS (SELECT event_type,
               epoch_us(ts) // 3600000000 AS hour_idx,
               CAST(sum(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS y
             FROM events GROUP BY 1, 2),
         l AS (SELECT event_type, hour_idx, y,
               lag(y, 1) OVER w AS lag_1,
               lag(y, 2) OVER w AS lag_2,
               lag(y, 3) OVER w AS lag_3
             FROM h WINDOW w AS (PARTITION BY event_type ORDER BY hour_idx))
         SELECT event_type, hour_idx, y, lag_1, lag_2, lag_3
         FROM l WHERE lag_3 IS NOT NULL""",
    "ts_cusum" ->
      """WITH h AS (SELECT event_type, epoch_us(ts) // 3600000000 AS hour_idx,
             CAST(sum(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS s,
             count(*) AS n
           FROM events GROUP BY 1, 2),
         m AS (SELECT event_type, hour_idx, s // n AS mean_micro FROM h),
         d AS (SELECT event_type, hour_idx,
             CAST(mean_micro - (sum(mean_micro) OVER (PARTITION BY event_type)
               // count(*) OVER (PARTITION BY event_type)) AS BIGINT) AS dev
           FROM m),
         p AS (SELECT event_type, hour_idx, dev,
             sum(dev - 10000000) OVER w AS p_up,
             sum(dev + 10000000) OVER w AS p_dn
           FROM d WINDOW w AS (PARTITION BY event_type ORDER BY hour_idx
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         c AS (SELECT event_type, hour_idx, dev,
             CAST(p_up - least(min(p_up) OVER w, 0) AS BIGINT) AS cusum_up,
             CAST(greatest(max(p_dn) OVER w, 0) - p_dn AS BIGINT) AS cusum_down
           FROM p WINDOW w AS (PARTITION BY event_type ORDER BY hour_idx
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         SELECT event_type, hour_idx, dev, cusum_up, cusum_down,
           CAST(CASE WHEN cusum_up > 100000000 THEN 1 ELSE 0 END AS INTEGER)
             AS flag_up,
           CAST(CASE WHEN cusum_down > 100000000 THEN 1 ELSE 0 END AS INTEGER)
             AS flag_down
         FROM c""",
    "ts_rolling_corr" ->
      """WITH h AS (SELECT event_type, epoch_us(ts) // 3600000000 AS hour_idx,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(sum(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT)
               // count(*) AS mm
           FROM events GROUP BY 1, 2),
         m AS (SELECT event_type, hour_idx, n_events,
             CAST(mm AS BIGINT) AS mean_micro,
             count(*) OVER w AS rn,
             CAST(CAST(sum(CAST(n_events AS HUGEINT)) OVER w
               AS DECIMAL(38,0)) AS DOUBLE) AS sx,
             CAST(CAST(sum(CAST(mm AS HUGEINT)) OVER w
               AS DECIMAL(38,0)) AS DOUBLE) AS sy,
             CAST(CAST(sum(CAST(n_events AS HUGEINT) * mm) OVER w
               AS DECIMAL(38,0)) AS DOUBLE) AS sxy,
             CAST(CAST(sum(CAST(n_events AS HUGEINT) * n_events) OVER w
               AS DECIMAL(38,0)) AS DOUBLE) AS sxx,
             CAST(CAST(sum(CAST(mm AS HUGEINT) * mm) OVER w
               AS DECIMAL(38,0)) AS DOUBLE) AS syy
           FROM h WINDOW w AS (PARTITION BY event_type ORDER BY hour_idx
             ROWS BETWEEN 23 PRECEDING AND CURRENT ROW))
         SELECT event_type, hour_idx, n_events, mean_micro,
           CAST(rn AS BIGINT) AS rolling_n,
           CASE WHEN rn >= 2
               AND (CAST(rn AS DOUBLE) * sxx - sx * sx) > 0
               AND (CAST(rn AS DOUBLE) * syy - sy * sy) > 0
             THEN (CAST(rn AS DOUBLE) * sxy - sx * sy)
               / sqrt((CAST(rn AS DOUBLE) * sxx - sx * sx)
                 * (CAST(rn AS DOUBLE) * syy - sy * sy)) END AS rolling_corr
         FROM m""",
    "ts_rolling_trend" ->
      """WITH h AS (SELECT event_type, epoch_us(ts) // 3600000000 AS hour_idx,
             CAST(sum(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT)
               AS sum_micro
           FROM events GROUP BY 1, 2),
         m AS (SELECT event_type, hour_idx, sum_micro,
             count(*) OVER w AS rn,
             CAST(CAST(sum(CAST(hour_idx AS HUGEINT)) OVER w
               AS DECIMAL(38,0)) AS DOUBLE) AS sx,
             CAST(CAST(sum(CAST(sum_micro AS HUGEINT)) OVER w
               AS DECIMAL(38,0)) AS DOUBLE) AS sy,
             CAST(CAST(sum(CAST(hour_idx AS HUGEINT) * sum_micro) OVER w
               AS DECIMAL(38,0)) AS DOUBLE) AS sxy,
             CAST(CAST(sum(CAST(hour_idx AS HUGEINT) * hour_idx) OVER w
               AS DECIMAL(38,0)) AS DOUBLE) AS sxx
           FROM h WINDOW w AS (PARTITION BY event_type ORDER BY hour_idx
             ROWS BETWEEN 11 PRECEDING AND CURRENT ROW))
         SELECT event_type, hour_idx, sum_micro,
           CAST(rn AS BIGINT) AS rolling_n,
           CASE WHEN rn >= 2
               AND (CAST(rn AS DOUBLE) * sxx - sx * sx) > 0
             THEN (CAST(rn AS DOUBLE) * sxy - sx * sy)
               / (CAST(rn AS DOUBLE) * sxx - sx * sx) END AS rolling_slope
         FROM m""",
    "ts_seasonal_index" ->
      """WITH b AS (SELECT event_type,
             (epoch_us(ts) // 3600000000) % 24 AS hod,
             CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v
           FROM events WHERE value IS NOT NULL),
         cells AS (SELECT event_type, hod,
             CAST(sum(CAST(v AS HUGEINT)) AS DECIMAL(38,0)) AS ss,
             CAST(count(*) AS BIGINT) AS sn
           FROM b GROUP BY 1, 2),
         tot AS (SELECT event_type, sum(ss) AS ts_, sum(sn) AS tn
           FROM cells GROUP BY 1)
         SELECT cells.event_type, hod AS slot, sn AS n_slot,
           CASE WHEN ts_ <> 0 THEN (CAST(ss AS DOUBLE) * CAST(tn AS DOUBLE))
             / (CAST(sn AS DOUBLE) * CAST(ts_ AS DOUBLE)) END
             AS seasonal_index
         FROM cells JOIN tot ON cells.event_type = tot.event_type""",
    "ts_backtest_mase" ->
      """WITH h AS (SELECT event_type, epoch_us(ts) // 3600000000 AS hour_idx,
             CAST(sum(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT)
               AS sum_micro
           FROM events GROUP BY 1, 2),
         l AS (SELECT event_type, sum_micro,
             lag(sum_micro, 24) OVER w AS fs, lag(sum_micro, 1) OVER w AS fn
           FROM h WINDOW w AS (PARTITION BY event_type ORDER BY hour_idx)),
         s AS (SELECT event_type, count(*) AS n_scored,
             CAST(CAST(sum(CAST(abs(sum_micro - fs) AS HUGEINT))
               AS DECIMAL(38,0)) AS DOUBLE) AS es,
             CAST(CAST(sum(CAST(abs(sum_micro - fn) AS HUGEINT))
               AS DECIMAL(38,0)) AS DOUBLE) AS en
           FROM l WHERE fs IS NOT NULL AND fn IS NOT NULL GROUP BY 1)
         SELECT event_type, CAST(n_scored AS BIGINT) AS n_scored,
           es / CAST(n_scored AS DOUBLE) AS mae_seasonal,
           en / CAST(n_scored AS DOUBLE) AS mae_naive,
           CASE WHEN en > 0 THEN es / en END AS mase
         FROM s""",
    "stats_corr_matrix" -> CorrMatrixSql,
    // FULL rebuild as the oracle: the hash match proves merge ≡ rebuild
    "corr_delta_merge" -> CorrMatrixSql,
    // FULL rebuild as the oracle — same proof shape for per-group variance
    "var_delta_merge" ->
      """WITH b AS (SELECT l_returnflag,
             CAST(CAST(l_extendedprice AS DECIMAL(18,6)) * 1000000 AS BIGINT)
               AS v
           FROM lineitem WHERE l_extendedprice IS NOT NULL),
         g AS (SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
             CAST(CAST(sum(CAST(v AS HUGEINT)) AS DECIMAL(38,0)) AS DOUBLE)
               AS sx,
             CAST(CAST(sum(CAST(v AS HUGEINT) * v) AS DECIMAL(38,0)) AS DOUBLE)
               AS sxx
           FROM b GROUP BY 1)
         SELECT l_returnflag, n, sx / CAST(n AS DOUBLE) AS mean,
           CASE WHEN n >= 2 THEN (CAST(n AS DOUBLE) * sxx - sx * sx)
             / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) END AS variance,
           CASE WHEN n >= 2 THEN sqrt((CAST(n AS DOUBLE) * sxx - sx * sx)
             / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))) END AS stddev
         FROM g""",
    "feature_relevance_chi2" -> Chi2Sql,
    "drift_ks" ->
      """WITH o AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
             CASE WHEN CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)),
                 1, 4)) AS BIGINT) < 32768 THEN 1 ELSE 0 END AS side
           FROM orders),
         m AS (SELECT v, CAST(sum(side) AS BIGINT) AS k1,
             CAST(sum(1 - side) AS BIGINT) AS k2 FROM o GROUP BY v),
         c AS (SELECT v, sum(k1) OVER w AS c1, sum(k2) OVER w AS c2
           FROM m WINDOW w AS (ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         t AS (SELECT max(c1) AS na, max(c2) AS nb FROM c)
         SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           CAST(max(abs(c1 * nb - c2 * na)) * 1000000 // (na * nb)
             AS BIGINT) AS ks_ppm
         FROM c CROSS JOIN t GROUP BY na, nb""",
    "feature_relevance_mi" ->
      """WITH b AS (SELECT CASE WHEN o_totalprice >= 150000.0
               THEN 'high' ELSE 'low' END AS lbl,
             o_orderpriority, o_orderstatus FROM orders),
         t AS (SELECT 'o_orderpriority' AS feature,
               CAST(o_orderpriority AS VARCHAR) AS v, lbl FROM b
           UNION ALL
           SELECT 'o_orderstatus', CAST(o_orderstatus AS VARCHAR), lbl FROM b),
         cells AS (SELECT feature, v, lbl, CAST(count(*) AS BIGINT) AS o
           FROM t WHERE v IS NOT NULL GROUP BY 1, 2, 3),
         rt AS (SELECT feature, v, sum(o) AS rc FROM cells GROUP BY 1, 2),
         ct AS (SELECT feature, lbl, sum(o) AS cc FROM cells GROUP BY 1, 2),
         nt AS (SELECT feature, sum(o) AS n FROM cells GROUP BY 1),
         terms AS (SELECT cells.feature, nt.n,
             CAST((CAST(o AS DOUBLE) / CAST(nt.n AS DOUBLE))
               * ln(CAST(o AS DOUBLE) * CAST(nt.n AS DOUBLE)
                 / (CAST(rc AS DOUBLE) * CAST(cc AS DOUBLE)))
               AS DECIMAL(20,8)) AS tm
           FROM cells
           JOIN rt ON cells.feature = rt.feature AND cells.v = rt.v
           JOIN ct ON cells.feature = ct.feature AND cells.lbl = ct.lbl
           JOIN nt ON cells.feature = nt.feature)
         SELECT feature, CAST(max(n) AS BIGINT) AS n,
                round(CAST(sum(tm) AS DOUBLE), 4) AS mi_nats
         FROM terms GROUP BY feature""",
    "stats_bootstrap_ci" -> BootstrapSql,
    "model_lift_table" ->
      """WITH b AS (SELECT o_orderkey AS id,
             CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 1000000 AS BIGINT)
               AS score,
             CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
               THEN 1 ELSE 0 END AS y
           FROM orders),
         r AS (SELECT *, row_number() OVER (ORDER BY score DESC, id) - 1
                 AS rid FROM b),
         t AS (SELECT count(*) AS n, sum(y) AS pos FROM r),
         g AS (SELECT (rid * 10) // n AS bucket, count(*) AS n_rows,
                 sum(y) AS n_pos, max(n) AS n, max(pos) AS pos
               FROM r CROSS JOIN t GROUP BY 1)
         SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(n_rows AS BIGINT) AS n_rows, CAST(n_pos AS BIGINT) AS n_pos,
           CAST((n_pos * 1000000) // n_rows AS BIGINT) AS response_ppm,
           CAST(CASE WHEN pos > 0
             THEN (n_pos * n * 1000000) // (n_rows * pos) END AS BIGINT)
             AS lift_ppm
         FROM g""",
    "pareto_report" ->
      """WITH rev AS (SELECT CAST(l_suppkey AS BIGINT) AS suppkey,
             sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS rev_cents
           FROM lineitem GROUP BY 1),
         r AS (SELECT suppkey, rev_cents,
             row_number() OVER (ORDER BY rev_cents DESC, suppkey) AS rank
           FROM rev),
         t AS (SELECT sum(rev_cents) AS tot FROM rev),
         c AS (SELECT suppkey, rev_cents, rank,
             sum(rev_cents) OVER (ORDER BY rank
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           FROM r)
         SELECT suppkey, CAST(rank AS BIGINT) AS rank,
                CAST(rev_cents AS BIGINT) AS rev_cents,
                CAST((rev_cents * 1000000) // tot AS BIGINT) AS share_ppm,
                CAST((cum * 1000000) // tot AS BIGINT) AS cum_ppm
         FROM c CROSS JOIN t""",
    "customer_rfm" ->
      """WITH g AS (SELECT max(epoch_us(ts)) AS gm FROM events),
         u AS (SELECT user_id,
             (g.gm - max(epoch_us(ts))) // 3600000000 AS recency_hours,
             CAST(count(*) AS BIGINT) AS frequency,
             CAST(sum(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT)
               AS monetary_micro
           FROM events CROSS JOIN g GROUP BY user_id, g.gm),
         rc AS (SELECT round(unnest(quantile_cont(recency_hours,
             [0.2, 0.4, 0.6, 0.8])), 6) AS c FROM u),
         fc AS (SELECT round(unnest(quantile_cont(frequency,
             [0.2, 0.4, 0.6, 0.8])), 6) AS c FROM u),
         mc AS (SELECT round(unnest(quantile_cont(monetary_micro,
             [0.2, 0.4, 0.6, 0.8])), 6) AS c FROM u),
         b AS (SELECT user_id, recency_hours, frequency, monetary_micro,
             5 - (SELECT count(*) FROM rc WHERE recency_hours > c) AS r_score,
             (SELECT count(*) FROM fc WHERE frequency > c) + 1 AS f_score,
             (SELECT count(*) FROM mc WHERE monetary_micro > c) + 1 AS m_score
           FROM u)
         SELECT user_id, recency_hours, frequency, monetary_micro,
           CAST(r_score AS BIGINT) AS r_score,
           CAST(f_score AS BIGINT) AS f_score,
           CAST(m_score AS BIGINT) AS m_score,
           r_score || '-' || f_score || '-' || m_score AS segment
         FROM b""",
    "gini_revenue" ->
      """WITH rev AS (SELECT CAST(l_suppkey AS BIGINT) AS suppkey,
             sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS rev_cents
           FROM lineitem GROUP BY 1),
         r AS (SELECT rev_cents,
             row_number() OVER (ORDER BY rev_cents, suppkey) AS i FROM rev)
         SELECT CAST(count(*) AS BIGINT) AS n_suppliers,
           CAST(sum(rev_cents) AS BIGINT) AS total_cents,
           round(2.0 * CAST(sum(i * rev_cents) AS DOUBLE)
               / (CAST(count(*) AS DOUBLE) * CAST(sum(rev_cents) AS DOUBLE))
             - CAST(count(*) + 1 AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
             AS gini
         FROM r""",
    "model_calibration" ->
      """WITH b AS (SELECT o_orderkey AS id,
             CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 1000000 AS BIGINT)
               AS pc,
             CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
               THEN 1 ELSE 0 END AS y
           FROM orders),
         mm AS (SELECT min(pc) AS mn, max(pc) AS mx FROM b),
         sc AS (SELECT id, y, ((pc - mn) * 1000000) // (mx - mn) AS score_ppm
           FROM b CROSS JOIN mm),
         r AS (SELECT *, row_number() OVER (ORDER BY score_ppm DESC, id) - 1
                 AS rid FROM sc),
         t AS (SELECT count(*) AS n FROM r),
         g AS (SELECT (rid * 10) // n AS bucket, count(*) AS n_rows,
                 sum(y) AS n_pos, sum(score_ppm) AS sp
               FROM r CROSS JOIN t GROUP BY 1)
         SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(n_rows AS BIGINT) AS n_rows, CAST(n_pos AS BIGINT) AS n_pos,
           CAST(sp // n_rows AS BIGINT) AS mean_pred_ppm,
           CAST((n_pos * 1000000) // n_rows AS BIGINT) AS response_ppm,
           CAST(abs(sp // n_rows - (n_pos * 1000000) // n_rows) AS BIGINT)
             AS gap_ppm
         FROM g""",
    "weighted_quantiles" ->
      """WITH b AS (SELECT l_returnflag,
             CAST(CAST(l_extendedprice AS DECIMAL(18,6)) * 1000000 AS BIGINT)
               AS price_micro,
             CAST(l_quantity AS BIGINT) AS qty
           FROM lineitem WHERE l_quantity >= 0),
         c AS (SELECT l_returnflag, price_micro,
             sum(qty) OVER (PARTITION BY l_returnflag ORDER BY price_micro
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
             sum(qty) OVER (PARTITION BY l_returnflag) AS tw
           FROM b)
         SELECT l_returnflag, CAST(max(tw) AS BIGINT) AS total_weight,
           CAST(min(CASE WHEN cw * 100 >= tw * 25 THEN price_micro END)
             AS BIGINT) AS q25,
           CAST(min(CASE WHEN cw * 100 >= tw * 50 THEN price_micro END)
             AS BIGINT) AS q50,
           CAST(min(CASE WHEN cw * 100 >= tw * 75 THEN price_micro END)
             AS BIGINT) AS q75
         FROM c GROUP BY l_returnflag""",
    "ts_trend" ->
      """WITH h AS (SELECT event_type,
               epoch_us(ts) // 3600000000 AS hour_idx,
               CAST(sum(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT)
                 AS sum_micro
             FROM events GROUP BY 1, 2),
         sft AS (SELECT event_type,
               CAST(hour_idx - min(hour_idx) OVER (PARTITION BY event_type)
                 AS HUGEINT) AS x,
               CAST(sum_micro AS HUGEINT) AS y
             FROM h),
         g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               CAST(CAST(sum(x) AS DECIMAL(38,0)) AS DOUBLE) AS sx,
               CAST(CAST(sum(y) AS DECIMAL(38,0)) AS DOUBLE) AS sy,
               CAST(CAST(sum(x * y) AS DECIMAL(38,0)) AS DOUBLE) AS sxy,
               CAST(CAST(sum(x * x) AS DECIMAL(38,0)) AS DOUBLE) AS sxx,
               CAST(CAST(sum(y * y) AS DECIMAL(38,0)) AS DOUBLE) AS syy
             FROM sft GROUP BY 1)
         SELECT event_type, n,
                CASE WHEN CAST(n AS DOUBLE) * sxx - sx * sx > 0
                  THEN (CAST(n AS DOUBLE) * sxy - sx * sy)
                       / (CAST(n AS DOUBLE) * sxx - sx * sx) END AS slope,
                CASE WHEN CAST(n AS DOUBLE) * sxx - sx * sx > 0
                      AND CAST(n AS DOUBLE) * syy - sy * sy > 0
                  THEN (CAST(n AS DOUBLE) * sxy - sx * sy)
                       * (CAST(n AS DOUBLE) * sxy - sx * sy)
                       / ((CAST(n AS DOUBLE) * sxx - sx * sx)
                          * (CAST(n AS DOUBLE) * syy - sy * sy)) END AS r2
         FROM g""",
    "ts_rolling_median" ->
      """WITH h AS (SELECT event_type,
               epoch_us(ts) // 3600000000 AS hour_idx,
               CAST(sum(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT)
                 AS sum_micro
             FROM events GROUP BY 1, 2)
         SELECT event_type, hour_idx,
                quantile_cont(CAST(sum_micro AS DOUBLE), 0.5) OVER (
                  PARTITION BY event_type ORDER BY hour_idx
                  ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) / 1e6
                  AS rolling_median
         FROM h""",
    "rank_ndcg" ->
      s"""WITH rel0 AS (SELECT l_suppkey, l_partkey,
               least(count(DISTINCT l_orderkey), 3) AS rel,
               sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS rev
             FROM lineitem GROUP BY 1, 2),
         ranked AS (SELECT l_suppkey, rel,
               row_number() OVER (PARTITION BY l_suppkey
                 ORDER BY rev DESC, l_partkey ASC) AS sys_r,
               row_number() OVER (PARTITION BY l_suppkey
                 ORDER BY rel DESC, l_partkey ASC) AS ideal_r
             FROM rel0),
         terms AS (SELECT l_suppkey,
               CASE WHEN sys_r <= 10 THEN CAST(
                 CAST((1 << CAST(rel AS INT)) - 1 AS DOUBLE)
                 * list_extract($NdcgWSql, sys_r) AS DECIMAL(20,8)) END AS dt,
               CASE WHEN ideal_r <= 10 THEN CAST(
                 CAST((1 << CAST(rel AS INT)) - 1 AS DOUBLE)
                 * list_extract($NdcgWSql, ideal_r) AS DECIMAL(20,8)) END AS it
             FROM ranked)
         SELECT l_suppkey,
                round(CAST(sum(dt) AS DOUBLE), 4) AS dcg,
                round(CAST(sum(dt) AS DOUBLE) / CAST(sum(it) AS DOUBLE), 4)
                  AS ndcg
         FROM terms GROUP BY l_suppkey""",
    "join_skew_report" ->
      """WITH lc AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_left
               FROM lineitem GROUP BY 1),
         rc AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_right
               FROM lineitem WHERE l_quantity > 25 GROUP BY 1)
         SELECT l_partkey, n_left, n_right, n_left * n_right AS n_pairs
         FROM lc JOIN rc USING (l_partkey)
         WHERE n_left * n_right >= 900""",
    "class_rebalance" ->
      """WITH sizes AS (SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n
               FROM orders GROUP BY 1),
         plan AS (SELECT o_orderpriority, n,
               (SELECT max(n) FROM sizes) // n AS base,
               (SELECT max(n) FROM sizes) % n AS rem
             FROM sizes),
         ranked AS (SELECT o.o_orderkey, o.o_orderpriority, p.base, p.rem,
               row_number() OVER (PARTITION BY o.o_orderpriority
                 ORDER BY md5(CAST(o.o_orderkey AS VARCHAR)), o.o_orderkey) AS r
             FROM orders o JOIN plan p USING (o_orderpriority))
         SELECT o_orderkey, o_orderpriority, CAST(c.c AS BIGINT) AS copy
         FROM ranked, unnest(generate_series(1,
             base + CASE WHEN r <= rem THEN 1 ELSE 0 END)) AS c(c)""",
    "impute_group_median" ->
      """WITH e AS (SELECT event_id, event_type,
             CAST(round(value * 1000000) AS BIGINT) AS vm FROM events),
         m AS (SELECT event_id, event_type,
             CASE WHEN event_id % 20 <> 0 THEN vm END AS v_obs FROM e),
         med AS (SELECT event_type, quantile_cont(v_obs, 0.5) AS md
           FROM m WHERE v_obs IS NOT NULL GROUP BY 1)
         SELECT event_id, m.event_type,
                CAST(CASE WHEN v_obs IS NULL THEN 1 ELSE 0 END AS BIGINT)
                  AS was_missing,
                COALESCE(CAST(v_obs AS DOUBLE), md) AS v_imputed_micro
         FROM m JOIN med ON m.event_type = med.event_type""",
    "quantile_normalize" ->
      """WITH pooled AS (SELECT n_chars AS pv,
               row_number() OVER (ORDER BY n_chars, source, doc_id) AS pos1
             FROM documents),
         ranked AS (SELECT doc_id, source, n_chars,
               row_number() OVER (PARTITION BY source
                 ORDER BY n_chars, doc_id) AS r,
               count(*) OVER (PARTITION BY source) AS ng,
               count(*) OVER () AS n
             FROM documents)
         SELECT doc_id, source, n_chars, p.pv AS n_chars_qnorm
         FROM ranked JOIN pooled p ON (r * n + ng - 1) // ng = p.pos1""",
    "model_auc" ->
      """WITH t AS (SELECT o_orderstatus AS grp,
             CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS s,
             CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
               THEN 1 ELSE 0 END AS y
           FROM orders),
         g AS (SELECT grp, s, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS np FROM t GROUP BY 1, 2),
         c AS (SELECT grp, s, n, np,
             CAST(coalesce(sum(n) OVER (PARTITION BY grp ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS cum
           FROM g),
         a AS (SELECT grp,
             sum(CAST(np AS HUGEINT) * (2 * cum + n + 1)) AS tr,
             sum(np) AS npos, sum(n) - sum(np) AS nneg
           FROM c GROUP BY 1)
         SELECT grp, CAST(npos AS BIGINT) AS n_pos,
           CAST(nneg AS BIGINT) AS n_neg,
           CAST((1000000 * (tr - CAST(npos AS HUGEINT) * (npos + 1)))
             // (2 * CAST(npos AS HUGEINT) * nneg) AS BIGINT) AS auc_ppm,
           round(CAST(tr - CAST(npos AS HUGEINT) * (npos + 1) AS DOUBLE)
             / (2.0 * CAST(npos AS DOUBLE) * CAST(nneg AS DOUBLE)), 4) AS auc
         FROM a""",
    "rank_spearman" ->
      """WITH t AS (SELECT l_quantity AS a, l_extendedprice AS b
           FROM lineitem WHERE l_quantity IS NOT NULL
             AND l_extendedprice IS NOT NULL),
         ca AS (SELECT a AS v, CAST(count(*) AS BIGINT) AS c FROM t GROUP BY 1),
         ra AS (SELECT v, 2 * sum(c) OVER (ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c + 1 AS r2
           FROM ca),
         cb AS (SELECT b AS v, CAST(count(*) AS BIGINT) AS c FROM t GROUP BY 1),
         rb AS (SELECT v, 2 * sum(c) OVER (ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c + 1 AS r2
           FROM cb),
         j AS (SELECT ra.r2 AS x, rb.r2 AS y
           FROM t JOIN ra ON t.a = ra.v JOIN rb ON t.b = rb.v),
         g AS (SELECT CAST(count(*) AS BIGINT) AS n,
             sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
             sum(CAST(x AS HUGEINT) * y) AS sxy,
             sum(CAST(x AS HUGEINT) * x) AS sxx,
             sum(CAST(y AS HUGEINT) * y) AS syy
           FROM j)
         SELECT n,
           round(CASE WHEN (sxx * n - sx * sx) = 0 OR (syy * n - sy * sy) = 0
             THEN NULL
             ELSE CAST(sxy * n - sx * sy AS DOUBLE)
               / sqrt(CAST(sxx * n - sx * sx AS DOUBLE)
                    * CAST(syy * n - sy * sy AS DOUBLE)) END, 4) AS rho
         FROM g""",
    "agreement_krippendorff" ->
      """WITH cnt AS (SELECT l_orderkey AS u, l_returnflag AS c,
             CAST(count(*) AS BIGINT) AS o
           FROM lineitem WHERE l_returnflag IS NOT NULL GROUP BY 1, 2),
         units AS (SELECT u, sum(o) AS m,
             sum(CAST(o AS HUGEINT) * o) AS so2
           FROM cnt GROUP BY 1 HAVING sum(o) >= 2),
         da AS (SELECT CAST(count(*) AS BIGINT) AS nu,
             CAST(sum(m) AS BIGINT) AS n,
             sum((1000000000000 * (CAST(m AS HUGEINT) * m - so2)) // (m - 1))
               AS do12
           FROM units),
         nc AS (SELECT sum(CAST(s AS HUGEINT) * s) AS snc2 FROM (
             SELECT sum(cnt.o) AS s FROM cnt
             JOIN units ON cnt.u = units.u GROUP BY cnt.c)),
         j AS (SELECT * FROM da CROSS JOIN nc)
         SELECT nu AS n_units, n,
           CAST(CASE WHEN CAST(n AS HUGEINT) * n = snc2 THEN NULL
             ELSE 1000000 - (1000000 * (n - 1) * do12)
                  // ((CAST(n AS HUGEINT) * n - snc2) * 1000000000000)
             END AS BIGINT) AS alpha_ppm,
           round(CASE WHEN CAST(n AS HUGEINT) * n = snc2 THEN NULL
             ELSE 1.0 - CAST((n - 1) * do12 AS DOUBLE)
                  / CAST((CAST(n AS HUGEINT) * n - snc2)
                         * 1000000000000 AS DOUBLE) END, 4) AS alpha
         FROM j""",
    "agreement_kappa" ->
      """WITH t AS (SELECT
             CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 'high'
                  WHEN o_orderpriority = '3-MEDIUM' THEN 'mid'
                  ELSE 'low' END AS a,
             CASE WHEN o_totalprice > 150000.0 THEN 'high'
                  WHEN o_totalprice > 50000.0 THEN 'mid'
                  ELSE 'low' END AS b
           FROM orders),
         cells AS (SELECT a, b, CAST(count(*) AS BIGINT) AS n
           FROM t GROUP BY 1, 2),
         ra AS (SELECT a, sum(n) AS ra FROM cells GROUP BY 1),
         cb AS (SELECT b, sum(n) AS cb FROM cells GROUP BY 1),
         rc AS (SELECT coalesce(sum(CAST(ra.ra AS HUGEINT) * cb.cb), 0) AS rc
           FROM ra JOIN cb ON ra.a = cb.b),
         ag AS (SELECT sum(n) AS tot,
             sum(CASE WHEN a = b THEN n ELSE 0 END) AS agree FROM cells)
         SELECT CAST(tot AS BIGINT) AS n,
           CAST((1000000 * agree) // tot AS BIGINT) AS po_ppm,
           CAST((1000000 * rc) // (CAST(tot AS HUGEINT) * tot) AS BIGINT)
             AS pe_ppm,
           CAST((1000000 * (CAST(tot AS HUGEINT) * agree - rc))
             // (CAST(tot AS HUGEINT) * tot - rc) AS BIGINT) AS kappa_ppm,
           round(CAST(CAST(tot AS HUGEINT) * agree - rc AS DOUBLE)
             / CAST(CAST(tot AS HUGEINT) * tot - rc AS DOUBLE), 4) AS kappa
         FROM ag CROSS JOIN rc""",
    "conformal_interval" ->
      """WITH li AS (SELECT l_returnflag AS grp,
             CAST(CAST(l_extendedprice AS DECIMAL(18,6)) * 1000000 AS BIGINT)
               AS y,
             CAST(l_quantity AS BIGINT) AS q,
             CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || '|' ||
               CAST(l_linenumber AS VARCHAR)), 1, 4)) AS BIGINT) % 2 AS gate
           FROM lineitem),
         cal AS (SELECT * FROM li WHERE gate = 0),
         tst AS (SELECT * FROM li WHERE gate = 1),
         sl AS (SELECT grp, CAST(sum(CAST(y AS HUGEINT)) // sum(q) AS BIGINT)
             AS slope FROM cal GROUP BY 1),
         calr AS (SELECT c.grp, abs(c.y - c.q * s.slope) AS r
           FROM cal c JOIN sl s USING (grp)),
         rk AS (SELECT grp, r,
             row_number() OVER (PARTITION BY grp ORDER BY r) AS rk,
             count(*) OVER (PARTITION BY grp) AS n
           FROM calr),
         qh AS (SELECT grp, CAST(max(n) AS BIGINT) AS n_calib,
             CAST(min(CASE WHEN rk = ((n + 1) * 90 + 99) // 100 THEN r END)
               AS BIGINT) AS qhat
           FROM rk GROUP BY 1),
         tr AS (SELECT t.grp, abs(t.y - t.q * s.slope) AS r
           FROM tst t JOIN sl s USING (grp))
         SELECT tr.grp, q.n_calib, q.qhat,
           CAST(count(*) AS BIGINT) AS n_test,
           CAST(sum(CASE WHEN q.qhat IS NULL OR tr.r <= q.qhat
             THEN 1 ELSE 0 END) AS BIGINT) AS covered,
           CAST((1000000 * sum(CASE WHEN q.qhat IS NULL OR tr.r <= q.qhat
             THEN 1 ELSE 0 END)) // count(*) AS BIGINT) AS coverage_ppm
         FROM tr JOIN qh q USING (grp) GROUP BY 1, 2, 3""",
    "privacy_k_anonymity" ->
      """WITH c AS (SELECT c_nationkey, c_mktsegment,
             (CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
               + 100000) // 100000 AS bal_band
           FROM customer),
         cls AS (SELECT c_nationkey, c_mktsegment, bal_band,
             CAST(count(*) AS BIGINT) AS sz FROM c GROUP BY 1, 2, 3),
         h AS (SELECT sz AS class_size, CAST(count(*) AS BIGINT) AS n_classes,
             CAST(sum(sz) AS BIGINT) AS n_rows FROM cls GROUP BY 1),
         t AS (SELECT sum(n_rows) AS tot FROM h)
         SELECT class_size, n_classes, n_rows,
           CAST(sum(n_rows) OVER (ORDER BY class_size
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_rows,
           CAST((1000000 * sum(n_rows) OVER (ORDER BY class_size
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) // tot
             AS BIGINT) AS cum_row_ppm
         FROM h CROSS JOIN t""",
    "privacy_l_diversity" ->
      """WITH c AS (SELECT c_nationkey,
             (CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
               + 100000) // 100000 AS bal_band,
             c_mktsegment
           FROM customer),
         cls AS (SELECT c_nationkey, bal_band,
             CAST(count(*) AS BIGINT) AS sz,
             CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS l
           FROM c GROUP BY 1, 2)
         SELECT l, CAST(count(*) AS BIGINT) AS n_classes,
           CAST(sum(sz) AS BIGINT) AS n_rows
         FROM cls GROUP BY 1""",
    "privacy_t_closeness" ->
      """WITH c AS (SELECT c_nationkey,
             (CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
               + 100000) // 100000 AS bal_band,
             c_mktsegment
           FROM customer),
         cv AS (SELECT c_nationkey, bal_band, c_mktsegment,
             CAST(count(*) AS BIGINT) AS n_cv FROM c GROUP BY 1, 2, 3),
         cls AS (SELECT c_nationkey, bal_band, sum(n_cv) AS n_c
                 FROM cv GROUP BY 1, 2),
         vals AS (SELECT c_mktsegment, sum(n_cv) AS n_v
                  FROM cv GROUP BY 1),
         tot AS (SELECT sum(n_v) AS N FROM vals),
         pairs AS (SELECT cls.c_nationkey, cls.bal_band, cls.n_c, tot.N,
             abs(CAST(coalesce(cv.n_cv, 0) AS HUGEINT) * tot.N
               - CAST(vals.n_v AS HUGEINT) * cls.n_c) AS num
           FROM cls CROSS JOIN vals
           LEFT JOIN cv ON cv.c_nationkey = cls.c_nationkey
             AND cv.bal_band = cls.bal_band
             AND cv.c_mktsegment = vals.c_mktsegment
           CROSS JOIN tot),
         pc AS (SELECT c_nationkey, bal_band,
             CAST((1000000 * sum(num))
               // (2 * CAST(max(n_c) AS HUGEINT) * max(N)) AS BIGINT)
               AS tvd_ppm,
             max(n_c) AS n_c
           FROM pairs GROUP BY 1, 2)
         SELECT tvd_ppm // 50000 AS tvd_band,
           CAST(count(*) AS BIGINT) AS n_classes,
           CAST(sum(n_c) AS BIGINT) AS n_rows
         FROM pc GROUP BY 1""",
    "model_pr_auc" ->
      """WITH t AS (SELECT o_orderstatus AS grp,
             CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS s,
             CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
               THEN 1 ELSE 0 END AS y
           FROM orders),
         g AS (SELECT grp, s, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS np FROM t GROUP BY 1, 2),
         c AS (SELECT grp, s, n, np,
             sum(n) OVER (PARTITION BY grp ORDER BY s DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cn,
             sum(np) OVER (PARTITION BY grp ORDER BY s DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ctp,
             sum(np) OVER (PARTITION BY grp) AS npos
           FROM g),
         a AS (SELECT grp, max(npos) AS npos, max(cn) AS ntot,
             sum(CASE WHEN np > 0 AND npos > 0
               THEN (1000000000 * CAST(np AS HUGEINT) * ctp)
                 // (CAST(npos AS HUGEINT) * cn) ELSE 0 END) AS ap
           FROM c GROUP BY 1)
         SELECT grp, CAST(npos AS BIGINT) AS n_pos,
           CAST(ntot - npos AS BIGINT) AS n_neg,
           CASE WHEN npos > 0 THEN CAST(ap AS BIGINT) END AS ap_ppb,
           CASE WHEN npos > 0 THEN round(CAST(ap AS DOUBLE) / 1e9, 4) END AS ap
         FROM a""",
    "regression_ols2" ->
      """WITH t AS (SELECT l_returnflag AS grp,
             CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y,
             CAST(l_quantity AS BIGINT) AS x1,
             CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT) AS x2
           FROM lineitem),
         m AS (SELECT grp, CAST(count(*) AS HUGEINT) AS n,
             sum(CAST(y AS HUGEINT)) AS sy, sum(CAST(x1 AS HUGEINT)) AS s1,
             sum(CAST(x2 AS HUGEINT)) AS s2,
             sum(CAST(x1 AS HUGEINT) * x1) AS s11,
             sum(CAST(x2 AS HUGEINT) * x2) AS s22,
             sum(CAST(x1 AS HUGEINT) * x2) AS s12,
             sum(CAST(x1 AS HUGEINT) * y) AS s1y,
             sum(CAST(x2 AS HUGEINT) * y) AS s2y,
             sum(CAST(y AS HUGEINT) * y) AS syy
           FROM t GROUP BY 1),
         c AS (SELECT grp, n, sy, s1, s2,
             CAST(n * s11 - s1 * s1 AS DOUBLE) AS c11,
             CAST(n * s22 - s2 * s2 AS DOUBLE) AS c22,
             CAST(n * s12 - s1 * s2 AS DOUBLE) AS c12,
             CAST(n * s1y - s1 * sy AS DOUBLE) AS c1y,
             CAST(n * s2y - s2 * sy AS DOUBLE) AS c2y,
             CAST(n * syy - sy * sy AS DOUBLE) AS cyy
           FROM m),
         d AS (SELECT *, c11 * c22 - c12 * c12 AS det FROM c),
         b AS (SELECT grp, n, sy, s1, s2, cyy, c1y, c2y,
             CASE WHEN n >= 3 AND det <> 0.0
               THEN (c1y * c22 - c2y * c12) / det END AS b1,
             CASE WHEN n >= 3 AND det <> 0.0
               THEN (c2y * c11 - c1y * c12) / det END AS b2
           FROM d)
         SELECT grp, CAST(n AS BIGINT) AS n,
           round((CAST(sy AS DOUBLE) - b1 * CAST(s1 AS DOUBLE)
             - b2 * CAST(s2 AS DOUBLE)) / CAST(n AS DOUBLE), 6) AS b0,
           round(b1, 6) AS b1, round(b2, 6) AS b2,
           CASE WHEN cyy > 0.0
             THEN round((b1 * c1y + b2 * c2y) / cyy, 6) END AS r2
         FROM b""",
    "feature_best_split" ->
      """WITH t AS (
           SELECT 'quantity' AS f, CAST(l_quantity AS BIGINT) AS b,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y FROM lineitem
           UNION ALL
           SELECT 'discount_pct',
             CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT),
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END FROM lineitem
           UNION ALL
           SELECT 'ship_month', CAST(month(l_shipdate) AS BIGINT),
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END FROM lineitem),
         bins AS (SELECT f, b, CAST(sum(y) AS BIGINT) AS p,
             CAST(count(*) - sum(y) AS BIGINT) AS g
           FROM t GROUP BY 1, 2),
         cum AS (SELECT f, b, p, g,
             sum(p) OVER (PARTITION BY f ORDER BY b
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cp,
             sum(g) OVER (PARTITION BY f ORDER BY b
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cg,
             sum(p) OVER (PARTITION BY f) AS tp,
             sum(g) OVER (PARTITION BY f) AS tg
           FROM bins),
         cand AS (SELECT f, b, cp + cg AS nl, tp + tg - cp - cg AS nr,
             (1000000 * (CAST(cp + cg AS HUGEINT) * (cp + cg)
                - CAST(cp AS HUGEINT) * cp - CAST(cg AS HUGEINT) * cg))
               // (cp + cg)
             + (1000000 * (CAST(tp + tg - cp - cg AS HUGEINT)
                  * (tp + tg - cp - cg)
                - CAST(tp - cp AS HUGEINT) * (tp - cp)
                - CAST(tg - cg AS HUGEINT) * (tg - cg)))
               // (tp + tg - cp - cg) AS cost
           FROM cum WHERE tp + tg - cp - cg > 0),
         best AS (SELECT f, b AS best_bin, cost FROM (
             SELECT f, b, cost, row_number() OVER (PARTITION BY f
               ORDER BY cost, b) AS rk FROM cand) WHERE rk = 1),
         base AS (SELECT f, sum(p) + sum(g) AS n, sum(p) AS tp,
             sum(g) AS tg FROM bins GROUP BY 1),
         bg AS (SELECT f, n,
             ((1000000 * (CAST(n AS HUGEINT) * n - CAST(tp AS HUGEINT) * tp
               - CAST(tg AS HUGEINT) * tg)) // n) // n AS base_gini_ppm
           FROM base)
         SELECT bg.f AS feature, CAST(bg.n AS BIGINT) AS n,
           CAST(bg.base_gini_ppm AS BIGINT) AS base_gini_ppm,
           best.best_bin,
           CAST(best.cost // bg.n AS BIGINT) AS split_gini_ppm,
           CAST(bg.base_gini_ppm - best.cost // bg.n AS BIGINT) AS gain_ppm
         FROM bg LEFT JOIN best ON bg.f = best.f""",
    "feature_woe_iv" ->
      """WITH t AS (
           SELECT 'line_status' AS feature, l_linestatus AS category,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y FROM lineitem
           UNION ALL
           SELECT 'ship_quarter', CAST(quarter(l_shipdate) AS VARCHAR),
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END FROM lineitem
           UNION ALL
           SELECT 'disc_band',
             CAST(CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT)
               // 3 AS VARCHAR),
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END FROM lineitem),
         cats AS (SELECT feature, category, CAST(sum(y) AS BIGINT) AS pos,
             CAST(count(*) - sum(y) AS BIGINT) AS neg
           FROM t GROUP BY 1, 2),
         tot AS (SELECT feature, sum(pos) AS p, sum(neg) AS n
           FROM cats GROUP BY 1),
         sc AS (SELECT c.feature, c.category, c.pos, c.neg,
             CAST(ln(CAST((2 * c.pos + 1) * (n + 1) AS DOUBLE)
               / CAST((2 * c.neg + 1) * (p + 1) AS DOUBLE))
               AS DECIMAL(20,8)) AS lnv,
             CAST((CAST(2 * c.pos + 1 AS DOUBLE) / CAST(2 * (p + 1) AS DOUBLE)
                - CAST(2 * c.neg + 1 AS DOUBLE) / CAST(2 * (n + 1) AS DOUBLE))
               * CAST(CAST(ln(CAST((2 * c.pos + 1) * (n + 1) AS DOUBLE)
                   / CAST((2 * c.neg + 1) * (p + 1) AS DOUBLE))
                   AS DECIMAL(20,8)) AS DOUBLE)
               AS DECIMAL(20,8)) AS term
           FROM cats c JOIN tot USING (feature)),
         iv AS (SELECT feature, round(CAST(sum(term) AS DOUBLE), 4) AS iv
           FROM sc GROUP BY 1)
         SELECT sc.feature, sc.category, sc.pos, sc.neg,
           round(CAST(sc.lnv AS DOUBLE), 4) AS woe, iv.iv
         FROM sc JOIN iv USING (feature)""",
    "stats_median_ci" ->
      """WITH t AS (SELECT l_returnflag AS grp,
             CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
           FROM lineitem),
         r AS (SELECT grp, v,
             CAST(row_number() OVER (PARTITION BY grp ORDER BY v) AS BIGINT)
               AS rk,
             CAST(count(*) OVER (PARTITION BY grp) AS BIGINT) AS n
           FROM t),
         k AS (SELECT grp, v, rk, n,
             (n + 1) // 2 AS mlo, (n + 2) // 2 AS mhi,
             greatest(1, CAST(floor((CAST(n AS DOUBLE)
               - 1.96 * sqrt(CAST(n AS DOUBLE))) / 2.0) AS BIGINT)) AS cl,
             least(n, CAST(ceil((CAST(n AS DOUBLE)
               + 1.96 * sqrt(CAST(n AS DOUBLE))) / 2.0 + 1.0) AS BIGINT)) AS cu
           FROM r)
         SELECT grp, max(n) AS n,
           min(CASE WHEN rk = mlo THEN v END) AS median_lo,
           min(CASE WHEN rk = mhi THEN v END) AS median_hi,
           min(CASE WHEN rk = cl THEN v END) AS ci_lo,
           min(CASE WHEN rk = cu THEN v END) AS ci_hi
         FROM k GROUP BY 1""",
    // PAV unrolled: each step finds the LEFTMOST adjacent violation
    // (pooled-rate comparison by exact cross-multiplication) and merges
    // that one pair; 25 steps bound the 26-bin table's pooling, and
    // the PAV solution's uniqueness makes step order irrelevant
    "model_isotonic" -> {
      val head =
        """WITH bins AS MATERIALIZED (SELECT
             least(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
               AS BIGINT) // 2000000, 25) AS bin,
             CAST(count(*) AS BIGINT) AS w,
             CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
               THEN 1 ELSE 0 END) AS BIGINT) AS y
           FROM orders GROUP BY 1),
         b0 AS MATERIALIZED (SELECT bin, w, y,
             row_number() OVER (ORDER BY bin) AS ord FROM bins)"""
      // every step CTE MATERIALIZED: duckdb 1.0 inlines by default, and
      // a 25-deep chain whose steps are each referenced twice would
      // re-expand the whole prefix exponentially (observed as a
      // too-many-open-files parquet scan storm)
      val steps = (1 to 25).map { i =>
        s""",
         l$i AS MATERIALIZED (SELECT ord, bin, w, y, lw, ly,
             min(CASE WHEN ly IS NOT NULL AND y * lw > ly * w
                 THEN ord END) OVER () AS v
           FROM (SELECT ord, bin, w, y,
               lead(w) OVER (ORDER BY ord) AS lw,
               lead(y) OVER (ORDER BY ord) AS ly FROM b${i - 1}) t$i),
         b$i AS MATERIALIZED (SELECT
             row_number() OVER (ORDER BY ord) AS ord, bin,
             CASE WHEN ord = v THEN w + lw ELSE w END AS w,
             CASE WHEN ord = v THEN y + ly ELSE y END AS y
           FROM l$i WHERE v IS NULL OR ord <> v + 1)"""
      }.mkString
      head + steps + """
         SELECT ob.bin, ob.w AS n, ob.y AS pos,
           (1000000 * blk.y) // blk.w AS calibrated_ppm
         FROM bins ob JOIN b25 blk
           ON blk.bin = (SELECT max(b2.bin) FROM b25 b2
                         WHERE b2.bin <= ob.bin)"""
    }
  )
}
