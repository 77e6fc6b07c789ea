package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Event-time queries over the `events` table. SURVEY.md §2.11: the
  * reference has no streaming at all; these are the engine's extension
  * slice. Each query here is the *batch-equivalent* of the Structured
  * Streaming pipelines in graft.streaming.EventStreams (same expressions,
  * same results on a finite input — that equivalence is asserted in
  * EventStreamsSpec), so the driver can oracle-check it in DuckDB.
  *
  * `ts` arrives as raw nanosecond longs (see Tables.events); time bucketing
  * is pure integer arithmetic — cheapest possible form at 100 TB, no
  * timezone or calendar logic in the hot path.
  */
object StreamQueries {

  private val NanosPerHour = 3600L * 1000L * 1000L * 1000L

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Trailing-window distinct users (6 h, per type) via mergeable HLL
    // sketches: one ~KB sketch per (type, hour), the slide is a window
    // union of 6 blobs — state is slots×KB regardless of user
    // cardinality, the only sliding-distinct shape that scales.
    // DataSketches hashes are engine-specific → rows-only; SketchSpec
    // pins ≤5% error vs the exact trailing distinct.
    "trailing_distinct" -> ((s, dir) => {
      graft.operators.Sketches.hllTrailingDistinct(
        Tables.events(s, dir)
          .withColumn("hour_idx", expr(s"ts_ns div $NanosPerHour")),
        "user_id", "event_type", "hour_idx", window = 6)
    }),

    // The own-HLL sibling of trailing_distinct, hash-gated end to end
    // (Sketches.hllLongTrailingDistinct): CALENDAR-slot trailing window
    // — output slot s max-merges the registers of slots s-5..s via an
    // offset broadcast join; the slide never re-touches the data and
    // the whole pipeline (xxhash64, rho, harmonic estimate) replays in
    // SQL. 2^4 registers per (type, hour) whatever the cardinality.
    "trailing_distinct_hll" -> ((s, dir) => {
      graft.operators.Sketches.hllLongTrailingDistinct(
        Tables.events(s, dir)
          .withColumn("hour_idx", expr(s"ts_ns div $NanosPerHour")),
        "user_id", "event_type", "hour_idx", window = 6, p = 4)
    }),

    // Own-HLL audience overlap — the hash-gated sibling of
    // audience_overlap: integer registers per type, pair unions by
    // lossless max-merge over the G·2^4 register frame (never the
    // data), inclusion-exclusion over already-rounded estimates. The
    // whole matrix replays in SQL.
    "audience_overlap_own" -> ((s, dir) => {
      graft.operators.Sketches.hllLongOverlapMatrix(
        Tables.events(s, dir), "user_id", "event_type", p = 4)
    }),

    // Pairwise audience overlap across event types (Sketches
    // .hllOverlapMatrix): one data scan builds a user-set sketch per
    // type; every pairwise |A∩B|/J(A,B) answer is inclusion-exclusion
    // register math on ~KB blobs — the cohort-overlap question that
    // never re-touches the data. Engine-specific hashes → rows-only;
    // SketchSpec pins accuracy vs exact overlaps.
    "audience_overlap" -> ((s, dir) => {
      graft.operators.Sketches.hllOverlapMatrix(
        Tables.events(s, dir), "user_id", "event_type")
    }),

    // Behavioral path mining: top-20 event-type trigrams along each
    // user's µs-ordered event sequence (event_id tiebreak) — the
    // "what do users do before X" read. One window pass with two
    // compiled lag reads (no per-user collect), one count aggregate,
    // TakeOrdered finish; count ties break on path so the top-20 cut
    // is deterministic on both engines.
    "path_trigrams" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(expr("ts_ns div 1000"), col("event_id"))
      Tables.events(s, dir)
        .withColumn("e1", lag(col("event_type"), 2).over(w))
        .withColumn("e2", lag(col("event_type"), 1).over(w))
        .where(col("e1").isNotNull)
        .select(concat_ws(">", col("e1"), col("e2"), col("event_type")).as("path"))
        .groupBy(col("path")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("path").asc).limit(20)
    }),

    // First-order Markov transition matrix of the event stream: for
    // every (event_type → next event_type) along each user's µs-ordered
    // sequence (event_id tiebreak, the path_trigrams discipline), the
    // exact transition count, source marginal, and probability as
    // integer ppm (n·10⁶ div n_src — no float division anywhere, so the
    // row is hash-exact). One lead window + two aggregates; the ppm
    // matrix is |types|² rows regardless of stream size — the
    // behavioral-model input ("where do users go from X") and the
    // simulator/synthetic-data seed.
    "event_markov" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(expr("ts_ns div 1000"), col("event_id"))
      val pairs = Tables.events(s, dir)
        .withColumn("dst", lead(col("event_type"), 1).over(w))
        .where(col("dst").isNotNull)
        .select(col("event_type").as("src"), col("dst"))
        .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("n"))
      val totals = pairs.groupBy(col("src")).agg(sum(col("n")).as("n_src"))
      pairs.join(totals, Seq("src"))
        .select(col("src"), col("dst"), col("n"), col("n_src"),
          expr("n * 1000000L DIV n_src").as("p_ppm"))
    }),

    // Stationary distribution of that Markov chain
    // (GraphAlgs.markovStationary): the long-run occupancy of each
    // event type under the observed transition dynamics — 8 power-
    // iteration rounds in integer fixed-point (the PageRank
    // discipline), so the distributed loop and the oracle's unrolled
    // CTEs produce the SAME int64s, bit for bit.
    "event_markov_stationary" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(expr("ts_ns div 1000"), col("event_id"))
      val trans = Tables.events(s, dir)
        .withColumn("dst", lead(col("event_type"), 1).over(w))
        .where(col("dst").isNotNull)
        .select(col("event_type").as("src"), col("dst"))
        .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("n"))
      graft.operators.GraphAlgs.markovStationary(trans, "src", "dst", "n",
          iters = 8)
        .select(col("state"), col("pi_fx"),
          expr("pi_fx div 1000000L").as("pi_ppm"))
    }),

    // Survival curve (Nelson-Aalen hazard table): per-user lifetime
    // from first to last event in whole hours, users still active in
    // the stream's final 24h right-censored; at every distinct
    // lifetime, the risk set (users surviving ≥ t), observed endings,
    // censorings, the discrete hazard d/n as integer ppm, and the
    // cumulative hazard as the exact running sum of those ppm terms.
    // Everything integer; BOTH running totals (endings-before for the
    // risk set, hazard accumulation) come from the distributed
    // PrefixSum — no partitionless window. The churn read: where in a
    // user's life does the exit risk spike.
    "survival_curve" -> ((s, dir) => {
      val life = Tables.events(s, dir).groupBy(col("user_id"))
        .agg(min(expr("ts_ns div 1000")).as("first_us"),
          max(expr("ts_ns div 1000")).as("last_us"))
      val gmax = life.agg(max(col("last_us")).as("gm"))
      val durations = life.crossJoin(broadcast(gmax))
        .select(expr("(last_us - first_us) div 3600000000L").as("t_hours"),
          (col("last_us") > col("gm") - lit(86400000000L))
            .cast("long").as("censored"))
      val byT = durations.groupBy(col("t_hours"))
        .agg(count(lit(1)).as("n_ending"),
          sum(lit(1L) - col("censored")).as("d_events"))
      val withEnd = graft.operators.PrefixSum
        .withRunningTotal(byT, "n_ending", "__cum_end", "t_hours")
        .crossJoin(broadcast(durations.agg(count(lit(1)).as("__n_users"))))
        .withColumn("n_at_risk",
          col("__n_users") - col("__cum_end") + col("n_ending"))
        .withColumn("n_censored", col("n_ending") - col("d_events"))
        .withColumn("hazard_ppm", expr("(d_events * 1000000L) div n_at_risk"))
      graft.operators.PrefixSum
        .withRunningTotal(withEnd, "hazard_ppm", "cum_hazard_ppm", "t_hours")
        .select(col("t_hours"), col("n_at_risk"), col("d_events"),
          col("n_censored"), col("hazard_ppm"), col("cum_hazard_ppm"))
    }),

    // Two-sample log-rank test (Survival.logRank): do odd- and
    // even-keyed users' lifetime curves differ beyond chance? Same
    // duration/censoring derivation as survival_km; observed-vs-
    // hypergeometric terms snapped to DECIMAL(20,8) per event time, so
    // the one-row chi-square report hash-matches the oracle.
    "survival_logrank" -> ((s, dir) => {
      val life = Tables.events(s, dir).groupBy(col("user_id"))
        .agg(min(expr("ts_ns div 1000")).as("first_us"),
          max(expr("ts_ns div 1000")).as("last_us"))
      val gmax = life.agg(max(col("last_us")).as("gm"))
      val durations = life.crossJoin(broadcast(gmax))
        .select(pmod(col("user_id"), lit(2)).as("grp"),
          expr("(last_us - first_us) div 3600000000L").as("t_hours"),
          (col("last_us") <= col("gm") - lit(86400000000L))
            .cast("long").as("event"))
      graft.operators.Survival.logRank(durations, "grp", "t_hours", "event")
    }),

    // Kaplan-Meier survivor function over the same lifetimes — the
    // product-limit complement of survival_curve's hazard table:
    // S(t) = Π_{t'≤t} (1 − d/n), computed as exp of a PrefixSum of
    // per-timepoint ln(1−d/n) terms FIXED to 1e-9 integer units (the
    // product form becomes an exact-integer running sum; ln/exp run
    // once per DISTINCT duration on identical exact inputs). A
    // timepoint where the whole risk set ends pins S = 0 from there
    // on (flag carried by a second PrefixSum). No partitionless
    // window anywhere.
    "survival_km" -> ((s, dir) => {
      val life = Tables.events(s, dir).groupBy(col("user_id"))
        .agg(min(expr("ts_ns div 1000")).as("first_us"),
          max(expr("ts_ns div 1000")).as("last_us"))
      val gmax = life.agg(max(col("last_us")).as("gm"))
      val durations = life.crossJoin(broadcast(gmax))
        .select(expr("(last_us - first_us) div 3600000000L").as("t_hours"),
          (col("last_us") > col("gm") - lit(86400000000L))
            .cast("long").as("censored"))
      val byT = durations.groupBy(col("t_hours"))
        .agg(count(lit(1)).as("n_ending"),
          sum(lit(1L) - col("censored")).as("d_events"))
      val risk = graft.operators.PrefixSum
        .withRunningTotal(byT, "n_ending", "__cum_end", "t_hours")
        .crossJoin(broadcast(durations.agg(count(lit(1)).as("__n_users"))))
        .withColumn("n_at_risk",
          col("__n_users") - col("__cum_end") + col("n_ending"))
        .withColumn("__term_fx",
          when(col("d_events") < col("n_at_risk"),
            expr("cast(round(ln(1.0d - cast(d_events as double)" +
              " / cast(n_at_risk as double)) * 1e9) as bigint)"))
            .otherwise(lit(0L)))
        .withColumn("__dead",
          (col("d_events") === col("n_at_risk")).cast("long"))
      val cum1 = graft.operators.PrefixSum
        .withRunningTotal(risk, "__term_fx", "__cum_term", "t_hours")
      graft.operators.PrefixSum
        .withRunningTotal(cum1, "__dead", "__cum_dead", "t_hours")
        .select(col("t_hours"), col("n_at_risk"), col("d_events"),
          when(col("__cum_dead") >= 1, lit(0L))
            .otherwise(expr(
              "cast(round(exp(cast(__cum_term as double) / 1e9) * 1e6) as bigint)"))
            .as("km_survival_ppm"))
    }),

    // Item co-visitation within a 30-minute window (the recommender
    // "viewed together" matrix): per user, ordered pairs of props.k
    // item values whose timestamps are within the window, folded to
    // unordered pairs, exact counts, top-20. The pair source is a
    // USER-keyed equi-join with a time-band predicate — fan-out is
    // per-user activity in the window, never corpus²; at warehouse
    // scale the band folds into IntervalJoin's time-bucketed form.
    "covisitation" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .select(col("user_id"), expr("ts_ns div 1000").as("t"),
          get_json_object(col("props"), "$.k").cast("long").as("item"))
        .where(col("item").isNotNull)
      val a = e.select(col("user_id"), col("t").as("ta"), col("item").as("item_a"))
      val b = e.select(col("user_id"), col("t").as("tb"), col("item").as("item_b"))
      a.join(b, Seq("user_id"))
        .where(col("tb") > col("ta") &&
          col("tb") - col("ta") <= 1800000000L &&
          col("item_a") =!= col("item_b"))
        .select(least(col("item_a"), col("item_b")).as("item_x"),
          greatest(col("item_a"), col("item_b")).as("item_y"))
        .groupBy(col("item_x"), col("item_y")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("item_x").asc, col("item_y").asc)
        .limit(20)
    }),

    // Markov-chain attribution (removal effects): the base conversion
    // probability — each user's FIRST event type weighted by how many
    // users start there, times that state's 4-step absorption
    // probability into 'purchase' — recomputed with each non-purchase
    // channel REMOVED from the chain (its transitions dropped; the
    // orphaned mass becomes non-converting, the sink semantics). The
    // drop in conversion is the channel's removal effect — the
    // data-driven attribution that first/last/linear touch rules
    // approximate. Five integer fixed-point value iterations, every
    // one unrolled in the oracle bit for bit.
    "markov_attribution" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(expr("ts_ns div 1000"), col("event_id"))
      val e = Tables.events(s, dir)
        .withColumn("dst", lead(col("event_type"), 1).over(w))
        .withColumn("__rn", row_number().over(w))
        .localCheckpoint(true)
      val trans = e.where(col("dst").isNotNull)
        .select(col("event_type").as("src"), col("dst"))
        .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("n"))
        .localCheckpoint(true)
      val firsts = e.where(col("__rn") === 1)
        .groupBy(col("event_type").as("state"))
        .agg(count(lit(1)).as("n_first"))
        .localCheckpoint(true)
      def conv(p: DataFrame) = firsts
        .join(p.select(col("state"), col("p_ppm")), Seq("state"), "left")
        .agg(expr("sum(n_first * coalesce(p_ppm, 0L)) div sum(n_first)")
          .as("conv_ppm"))
      val base = conv(graft.operators.GraphAlgs.absorptionProbability(
        trans, "src", "dst", "n", "purchase", iters = 4))
        .select(lit("__base").as("channel"), col("conv_ppm"))
      val channels = Seq("view", "click", "signup", "error")
      val removed = channels.map { c =>
        conv(graft.operators.GraphAlgs.absorptionProbability(
          trans.where(col("src") =!= c && col("dst") =!= c),
          "src", "dst", "n", "purchase", iters = 4))
          .select(lit(c).as("channel"), col("conv_ppm"))
      }
      val all = removed.foldLeft(base)(_ unionByName _)
      all.crossJoin(broadcast(base.select(col("conv_ppm").as("__b"))))
        .select(col("channel"), col("conv_ppm"),
          (col("__b") - col("conv_ppm")).as("removal_effect_ppm"))
    }),

    // The stream-maintained transition table AS a gate row: the events
    // table replays as three time-window batches through
    // MarkovStream.applyBatch (additive counts + carried per-user
    // last-event state, DurableIters-versioned), and the maintained
    // result is compared against the ONE-SHOT lead-window SQL — the
    // DuckDB hash match IS the incremental ≡ batch proof, in the gate
    // itself (the scd2_apply / agg_delta_merge discipline applied to
    // sequence state).
    "markov_maintained" -> ((s, dir) => {
      val base = graft.streaming.Maintained.stateRoot("markov-gate")
      val countsDir = s"$base/counts"
      val lastDir = s"$base/last"
      val e = Tables.events(s, dir).select(col("user_id"), col("event_type"),
        expr("ts_ns div 1000").as("ts_us"), col("event_id"))
      // time-window batches preserve each user's cross-batch order —
      // the MarkovStream input contract
      graft.streaming.Maintained.thirds(e, "ts_us").zipWithIndex.foreach {
        case (b, i) => graft.streaming.MarkovStream.applyBatch(b, countsDir, lastDir, i)
      }
      graft.streaming.MarkovStream.transitions(s, countsDir)
    }),

    // Conversion probability by value iteration on the SAME chain
    // (GraphAlgs.absorptionProbability): from each event type, the
    // probability of reaching 'purchase' within 8 more steps — the
    // per-state conversion potential behind Markov-chain attribution
    // (a channel's removal effect is this number recomputed without
    // it). Chain ends (sinks) count as non-converting, the funnel
    // semantics. Integer fixed-point, oracle-unrolled bit for bit.
    "markov_conversion" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(expr("ts_ns div 1000"), col("event_id"))
      val trans = Tables.events(s, dir)
        .withColumn("dst", lead(col("event_type"), 1).over(w))
        .where(col("dst").isNotNull)
        .select(col("event_type").as("src"), col("dst"))
        .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("n"))
      graft.operators.GraphAlgs.absorptionProbability(trans,
        "src", "dst", "n", absorbing = "purchase", iters = 8)
    }),

    // User-growth curve: each user's FIRST event hour, new users per
    // hour, and the running cumulative — the activation read every
    // dashboard opens with. The running total comes from the
    // distributed PrefixSum (two scans + partition-count driver
    // state), never a partitionless window.
    "user_growth" -> ((s, dir) => {
      val hourly = Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(min(expr("ts_ns div 1000")).as("first_us"))
        .select(expr("first_us div 3600000000L").as("hour"))
        .groupBy(col("hour")).agg(count(lit(1)).as("n_new"))
      graft.operators.PrefixSum
        .withRunningTotal(hourly, "n_new", "cum_users", "hour")
    }),

    // CMS join-size planning estimate for the lineitem ⋈ lineitem
    // self-join on l_partkey (Σ deg² — the skew question): two
    // one-scan sketches, one counter-table dot product, no join run.
    // join_skew_report computes the exact answer this estimates;
    // SketchSpec pins est ≥ exact and the width error bound. Oracle
    // since r16: the key is a LONG, so the seeded buckets replay
    // exactly via the XxSql chained-hashLong unroll — the whole
    // estimator (cells, dots, min) is checked, no dump needed.
    "join_size_cms" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      // width 64k: expected collision mass per depth row is
      // |A|·|B|/width — at 2048 that was ~1.9× the true size; at 64k
      // it's a few percent at sf0.01 (~30% at sf0.1, documented
      // planning-grade), for a 256k-cell counter table
      val sk = graft.operators.Sketches.cmsFit(li, "l_partkey", 65536, 4)
        .localCheckpoint(true)
      graft.operators.Sketches.cmsJoinSizeEstimate(sk, sk, depth = 4)
        // checker-sortable projection: the rows-only harness can't
        // sort/hash array cells (the ann_index_rows lesson)
        .select(col("join_size_est"),
          concat_ws(",", col("depth_estimates").cast("array<string>"))
            .as("depth_estimates"))
    }),

    // Tumbling 1-hour window: count + sum/avg per (window, event_type).
    "stream_hourly_agg" -> ((s, dir) => {
      Tables.events(s, dir)
        // integer `div`, not `/`: at ~1.7e18 ns a double mantissa is 128 ns
        // coarse — enough to flip a bucket boundary.
        .withColumn("hour_epoch", expr(s"(ts_ns div $NanosPerHour) * 3600"))
        .groupBy(col("hour_epoch"), col("event_type"))
        // decimal accumulation: double sums depend on partition order, and
        // once a group is big enough the accumulated ulps cross the 4dp
        // rounding boundary (caught by the sf0.1 oracle sweep). Decimal
        // addition is exact/associative → order-independent at any scale;
        // the avg divides the exact sum in double (one IEEE op, identical
        // in any engine).
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,6)")).as("sv"))
        // the avg is rounded half-up in exact INTEGER math: double
        // division lands exactly on .00005 ties (sum/32, sum/24, …) and
        // engines disagree on the tie direction (also caught at sf0.1).
        // avg4 = floor(sv/n · 10⁴ + ½) = (2·sv·10⁶ + 100·n) div (200·n),
        // exact for the non-negative value domain.
        .withColumn("sv6", (col("sv") * lit(1000000)).cast("long"))
        .select(col("hour_epoch"), col("event_type"), col("n_events"),
          round(col("sv").cast("double"), 4).as("sum_value"),
          (expr("(2 * sv6 + 100 * n_events) div (200 * n_events)") / lit(10000.0))
            .as("avg_value"))
    }),

    // Hopping (sliding) 1h/30m window per event_type — every event in
    // exactly two windows; the batch body IS the streaming body
    // (EventStreams.hoppingAggregation), oracle-checked here.
    "stream_hopping_agg" -> ((s, dir) => {
      graft.streaming.EventStreams.hoppingAggregation(
        graft.streaming.EventStreams.withEventTime(Tables.events(s, dir)))
    }),

    // Native session windows (gap 30 min) per user — the built-in
    // counterpart of the custom sessionize state machine; same body on
    // a stream under a watermark (EventStreams.sessionWindowCounts).
    "stream_session_window" -> ((s, dir) => {
      graft.streaming.EventStreams.sessionWindowAggregation(
        graft.streaming.EventStreams.withEventTime(Tables.events(s, dir)))
    }),

    // Windowed top-k leaderboard batch equivalent: per-hour top-3 users
    // by event count with a deterministic tie-break. The streaming form
    // is EventStreams.hourlyUserCounts (watermarked, append-mode) with
    // topKPerWindow as the closed-window finisher — this query runs the
    // SAME finisher over the batch counts, so stream ≡ batch is literal
    // code sharing (asserted on a finite MemoryStream replay in
    // EventStreamsSpec).
    "stream_topk" -> ((s, dir) => {
      val counts = Tables.events(s, dir)
        .withColumn("hour_start", expr(s"(ts_ns div $NanosPerHour) * 3600"))
        .groupBy(col("hour_start"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
      graft.streaming.EventStreams.topKPerWindow(counts, 3)
        .select(col("hour_start").as("hour_epoch"), col("user_id"),
          col("n_events"), col("rank").cast("long").as("rank"))
    }),

    // Sessionization-lite: per-user event counts and value totals with
    // first/last event times — the stateful-aggregation shape
    // (mapGroupsWithState) expressed as a batch groupBy.
    "stream_user_rollup" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          // exact decimal sum — same order-independence rationale as
          // stream_hourly_agg (per-user groups grow with the stream)
          round(sum(col("value").cast("decimal(18,6)")).cast("double"), 4)
            .as("total_value"),
          // µs, not ns: DuckDB truncates parquet TIMESTAMP(NANOS) to µs,
          // so the comparable granularity is microseconds.
          expr("min(ts_ns) div 1000").as("first_ts_us"),
          expr("max(ts_ns) div 1000").as("last_ts_us"),
          countDistinct(col("event_type")).as("n_types"))
    }),

    // Streaming-dedup batch equivalent: first event per (user, type) by
    // (time, id) + duplicate count. The streaming form is
    // EventStreams.dedupByKey (dropDuplicatesWithinWatermark, state
    // bounded by the watermark); this deterministic min-struct form is
    // what a finite replay of that stream yields.
    "stream_dedup" -> ((s, dir) => {
      Tables.events(s, dir)
        .withColumn("ts_us", expr("ts_ns div 1000"))
        .groupBy(col("user_id"), col("event_type"))
        .agg(min(struct(col("ts_us"), col("event_id"))).as("first"),
          count(lit(1)).as("n_events"))
        .select(col("user_id"), col("event_type"),
          col("first.event_id").as("first_event_id"),
          col("first.ts_us").as("first_ts_us"), col("n_events"))
    }),

    // Sessionization batch equivalent (EventStreams.sessionize's math
    // over a finite input): per user, a session breaks where the gap
    // from the previous event exceeds 30 min; session id = running
    // count of breaks (lag + cumulative sum over a USER-partitioned
    // window), then one aggregate per session. Oracle-checks the same
    // per-session numbers the stateful streaming operator emits.
    "stream_sessionize" -> ((s, dir) => {
      graft.streaming.EventStreams.sessionizeBatch(
        Tables.events(s, dir).withColumn("ts_us", expr("ts_ns div 1000")),
        gapUs = 30L * 60L * 1000L * 1000L)
    }),

    // Stream-stream interval join batch equivalent: every click joins
    // the same user's purchases in the following 2 hours
    // (EventStreams.intervalJoin — identical expressions run on
    // MemoryStreams with watermarks in EventStreamsSpec). Timestamps are
    // exact integer µs (timestamp_micros), so the join boundary matches
    // the oracle's µs arithmetic bit-for-bit.
    "stream_interval_join" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .withColumn("ts_us", expr("ts_ns div 1000"))
        .withColumn("event_time", timestamp_micros(col("ts_us")))
      val clicks = e.where(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("event_time"), col("ts_us").as("click_us"))
      val purchases = e.where(col("event_type") === "purchase")
        .select(col("user_id"), col("event_time"),
          col("event_id").as("p_event_id"), col("ts_us").as("p_us"),
          col("value"))
      graft.streaming.EventStreams
        .intervalJoin(clicks, purchases, "user_id", "event_time", "2 hours")
        .select(col("click_id"), col("user_id"), col("click_us"),
          col("p_event_id"), col("p_us"), round(col("value"), 4).as("p_value"))
    }),

    // Cohort retention: users grouped by first-seen hour; how many of
    // each cohort are still active k hours later (k ≤ 3) — the
    // engagement matrix behind every retention dashboard. Distinct
    // (user, hour) activity joins its own per-user min — two hash
    // aggregates and one join, no per-cohort scans.
    "cohort_retention" -> ((s, dir) => {
      val activity = Tables.events(s, dir)
        .select(col("user_id"), expr(s"ts_ns div $NanosPerHour").as("h"))
        .distinct()
      val cohorts = activity.groupBy(col("user_id"))
        .agg(min(col("h")).as("cohort_h"))
      activity.join(cohorts, Seq("user_id"))
        .withColumn("offset", col("h") - col("cohort_h"))
        .where(col("offset") <= 3)
        .groupBy(col("cohort_h"), col("offset"))
        .agg(countDistinct(col("user_id")).as("n_users"))
    }),

    // Funnel analysis: per-user first-touch timestamps of the
    // view → click → purchase stages, rolled up to stage conversion
    // counts — the product-analytics query an event pipeline serves
    // daily. One pass: conditional min per stage inside a single
    // user-keyed aggregate (never one scan per stage), then a 1-row
    // rollup. µs granularity on both engines (ns-vs-µs ordering ties
    // are the cross-engine trap on this table).
    "funnel_conversion" -> ((s, dir) => {
      def firstUs(t: String) =
        min(when(col("event_type") === t, expr("ts_ns div 1000")))
      Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(firstUs("view").as("v"), firstUs("click").as("c"),
          firstUs("purchase").as("p"))
        .agg(count(lit(1)).as("n_users"),
          sum(col("v").isNotNull.cast("long")).as("n_view"),
          sum((col("v").isNotNull && col("c").isNotNull && col("c") > col("v"))
            .cast("long")).as("n_view_click"),
          sum((col("v").isNotNull && col("c").isNotNull && col("p").isNotNull
            && col("c") > col("v") && col("p") > col("c"))
            .cast("long")).as("n_full_funnel"))
    }),

    // Streaming funnel maintenance (FunnelStream): per-user first-stage
    // timestamps min-merged across three time batches — min is
    // idempotent/commutative, so even out-of-order batches converge to
    // the one-shot report; the oracle (funnel_conversion's) proves it.
    "funnel_maintained" -> ((s, dir) => {
      val base = graft.streaming.Maintained.stateRoot("funnel-gate")
      val stateDir = s"$base/state"
      val e = Tables.events(s, dir).select(col("user_id"), col("event_type"),
        expr("ts_ns div 1000").as("ts_us"))
      // deliberately apply MIDDLE batch last: the min-merge must not
      // care about cross-batch event order
      val Seq(early, middle, late) = graft.streaming.Maintained.thirds(e, "ts_us")
      Seq(early, late, middle).zipWithIndex.foreach {
        case (b, i) => graft.streaming.FunnelStream.applyBatch(b, stateDir, i)
      }
      graft.streaming.FunnelStream.report(s, stateDir)
    }),

    // As-of join: each click picks up the user's latest purchase at or
    // before it (AsofJoin operator — union + one key-partitioned running
    // window, not a per-key cross product). µs granularity to match the
    // oracle's timestamp precision.
    "asof_join_events" -> ((s, dir) => {
      val e = Tables.events(s, dir).withColumn("ts_us", expr("ts_ns div 1000"))
      val clicks = e.where(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts_us"))
      val purchases = e.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts_us"),
          col("event_id").as("p_event_id"), col("value"))
      graft.operators.AsofJoin
        .asofJoin(clicks, purchases, "user_id", "ts_us", Seq("p_event_id", "value"))
        .select(col("event_id"), col("user_id"), col("ts_us"),
          col("p_event_id_asof"), round(col("value_asof"), 4).as("value_asof"))
    }),

    // Forward as-of with tolerance: each click attributes to the NEXT
    // purchase by the same user within 2 hours (merge_asof
    // direction='forward' + tolerance — the attribution-window join).
    // Same single-shuffle union-window plan, mirrored frame; the
    // tolerance gate nulls matches beyond the window instead of
    // dropping rows (LEFT semantics preserved).
    "asof_join_forward" -> ((s, dir) => {
      val e = Tables.events(s, dir).withColumn("ts_us", expr("ts_ns div 1000"))
      val clicks = e.where(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts_us"))
      val purchases = e.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts_us"),
          col("event_id").as("p_event_id"), col("value"))
      graft.operators.AsofJoin
        .asofJoin(clicks, purchases, "user_id", "ts_us",
          Seq("p_event_id", "value"), direction = "forward",
          tolerance = Some(2L * 3600L * 1000000L))
        .select(col("event_id"), col("user_id"), col("ts_us"),
          col("p_event_id_asof"), round(col("value_asof"), 4).as("value_asof"))
    }),

    // Nearest as-of with tolerance: each click matches the temporally
    // CLOSEST purchase by the same user within 1 hour, either side,
    // distance ties resolving backward (merge_asof direction='nearest').
    // Still one union + one keyed shuffle: the same window order feeds
    // both the preceding-last and following-first frames, and the
    // tolerance gates each side before the closest-pick.
    "asof_join_nearest" -> ((s, dir) => {
      val e = Tables.events(s, dir).withColumn("ts_us", expr("ts_ns div 1000"))
      val clicks = e.where(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts_us"))
      val purchases = e.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts_us"),
          col("event_id").as("p_event_id"), col("value"))
      graft.operators.AsofJoin
        .asofJoin(clicks, purchases, "user_id", "ts_us",
          Seq("p_event_id", "value"), direction = "nearest",
          tolerance = Some(3600L * 1000000L))
        .select(col("event_id"), col("user_id"), col("ts_us"),
          col("p_event_id_asof"), round(col("value_asof"), 4).as("value_asof"))
    })
  )

  /** event_markov_stationary oracle: the 8 fixed-point iterations
    * UNROLLED as chained CTEs (the PageRankOracle pattern — aggregation
    * in a recursive term is not portable). Every operation is integer
    * (`//`, `sum`, `*`), so the SQL replays the distributed loop's
    * exact int64s: per-edge floor `(π_i·n_ij) // n_i`, sinks dropped,
    * totals over ALL transitions (mass into sinks floors away, exactly
    * as GraphAlgs.markovStationary does).
    */
  private val MarkovStationaryOracle: String = {
    val head =
      """WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_id, event_type
           FROM events),
         p AS (SELECT event_type AS src,
             lead(event_type, 1) OVER (PARTITION BY user_id
               ORDER BY t, event_id) AS dst
           FROM e),
         c AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS n
           FROM p WHERE dst IS NOT NULL GROUP BY 1, 2),
         states AS (SELECT DISTINCT src AS state FROM c),
         sc AS (SELECT count(*) AS ns FROM states),
         tot AS (SELECT src, sum(n) AS nsrc FROM c GROUP BY 1),
         tr AS (SELECT c.src, c.dst, c.n FROM c
           JOIN states ON c.dst = states.state),
         it0 AS (SELECT state, 1000000000000 // ns AS r FROM states, sc)"""
    val steps = (1 to 8).map { i =>
      s""",
         it$i AS (SELECT states.state, COALESCE(m$i.m, 0) AS r
             FROM states LEFT JOIN (
               SELECT tr.dst AS state, sum((p.r * tr.n) // t2.nsrc) AS m
               FROM tr JOIN it${i - 1} p ON tr.src = p.state
               JOIN tot t2 ON tr.src = t2.src
               GROUP BY tr.dst) m$i ON states.state = m$i.state)"""
    }.mkString
    head + steps +
      "\n         SELECT state, CAST(r AS BIGINT) AS pi_fx," +
      " CAST(r // 1000000 AS BIGINT) AS pi_ppm FROM it8"
  }

  /** markov_conversion oracle: 8 value-iteration rounds unrolled,
    * replaying GraphAlgs.absorptionProbability's integers — per-edge
    * floor pulls along outgoing edges, absorbing state pinned at
    * scale, sinks contributing 0.
    */
  private val MarkovConversionOracle: String = {
    val head =
      """WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_id, event_type
           FROM events),
         p AS (SELECT event_type AS src,
             lead(event_type, 1) OVER (PARTITION BY user_id
               ORDER BY t, event_id) AS dst
           FROM e),
         c AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS n
           FROM p WHERE dst IS NOT NULL GROUP BY 1, 2),
         states AS (SELECT DISTINCT src AS state FROM c
           UNION SELECT 'purchase'),
         tot AS (SELECT src, sum(n) AS nsrc FROM c GROUP BY 1),
         v0 AS (SELECT state, CASE WHEN state = 'purchase'
             THEN 1000000000000 ELSE 0 END AS v FROM states)"""
    val steps = (1 to 8).map { i =>
      s""",
         v$i AS (SELECT states.state,
             CASE WHEN states.state = 'purchase' THEN 1000000000000
               ELSE COALESCE(m$i.m, 0) END AS v
           FROM states LEFT JOIN (
             SELECT c.src AS state, sum((p2.v * c.n) // t2.nsrc) AS m
             FROM c JOIN v${i - 1} p2 ON c.dst = p2.state
             JOIN tot t2 ON c.src = t2.src
             GROUP BY c.src) m$i ON states.state = m$i.state)"""
    }.mkString
    head + steps +
      "\n         SELECT state, CAST(v AS BIGINT) AS p_fx," +
      " CAST(v // 1000000 AS BIGINT) AS p_ppm FROM v8"
  }

  /** markov_attribution oracle: FIVE unrolled 4-round value
    * iterations (base chain + one per removed channel), each replaying
    * GraphAlgs.absorptionProbability's integers, finished by the same
    * first-state-weighted integer conversion average.
    */
  private val MarkovAttributionOracle: String = {
    def chain(sfx: String, filter: String): String = {
      val open = s""",
         c$sfx AS (SELECT * FROM c $filter),
         s$sfx AS (SELECT DISTINCT src AS state FROM c$sfx
           UNION SELECT 'purchase'),
         t$sfx AS (SELECT src, sum(n) AS nsrc FROM c$sfx GROUP BY 1),
         v0$sfx AS (SELECT state, CASE WHEN state = 'purchase'
             THEN 1000000000000 ELSE 0 END AS v FROM s$sfx)"""
      val steps = (1 to 4).map { i =>
        s""",
         v$i$sfx AS (SELECT s$sfx.state,
             CASE WHEN s$sfx.state = 'purchase' THEN 1000000000000
               ELSE COALESCE(m$i$sfx.m, 0) END AS v
           FROM s$sfx LEFT JOIN (
             SELECT cc.src AS state, sum((p2.v * cc.n) // t2.nsrc) AS m
             FROM c$sfx cc JOIN v${i - 1}$sfx p2 ON cc.dst = p2.state
             JOIN t$sfx t2 ON cc.src = t2.src
             GROUP BY cc.src) m$i$sfx ON s$sfx.state = m$i$sfx.state)"""
      }.mkString
      val convCte = s""",
         conv$sfx AS (SELECT CAST(sum(f.n_first * COALESCE(v.v // 1000000, 0))
             // sum(f.n_first) AS BIGINT) AS conv_ppm
           FROM firsts f LEFT JOIN v4$sfx v ON f.state = v.state)"""
      open + steps + convCte
    }
    val head =
      """WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_id, event_type
           FROM events),
         p AS (SELECT event_type AS src,
             lead(event_type, 1) OVER (PARTITION BY user_id
               ORDER BY t, event_id) AS dst
           FROM e),
         c AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS n
           FROM p WHERE dst IS NOT NULL GROUP BY 1, 2),
         fe AS (SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id
               ORDER BY t, event_id) AS rn
           FROM e),
         firsts AS (SELECT event_type AS state,
             CAST(count(*) AS BIGINT) AS n_first
           FROM fe WHERE rn = 1 GROUP BY 1)"""
    val channels = Seq("view", "click", "signup", "error")
    val chains = chain("_b", "") + channels.map(ch =>
      chain(s"_$ch", s"WHERE src <> '$ch' AND dst <> '$ch'")).mkString
    val finals = (
      "SELECT '__base' AS channel, conv_ppm," +
        " conv_ppm - conv_ppm AS removal_effect_ppm FROM conv_b") +:
      channels.map(ch =>
        s"SELECT '$ch', cv.conv_ppm, cb.conv_ppm - cv.conv_ppm" +
          s" FROM conv_$ch cv, conv_b cb")
    head + chains + "\n         " + finals.mkString("\n         UNION ALL ")
  }

  /** Shared by funnel_conversion and funnel_maintained (the maintained
    * report must equal the one-shot bit for bit).
    */
  private val FunnelSql: String =
    """WITH u AS (SELECT user_id,
           min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS v,
           min(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) AS c,
           min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS p
         FROM events GROUP BY user_id)
       SELECT CAST(count(*) AS BIGINT) AS n_users,
              CAST(sum(CASE WHEN v IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
              CAST(sum(CASE WHEN v IS NOT NULL AND c IS NOT NULL AND c > v
                   THEN 1 ELSE 0 END) AS BIGINT) AS n_view_click,
              CAST(sum(CASE WHEN v IS NOT NULL AND c IS NOT NULL AND p IS NOT NULL
                   AND c > v AND p > c THEN 1 ELSE 0 END) AS BIGINT) AS n_full_funnel
       FROM u"""

  /** `trailing_distinct_hll`: the full own-HLL replay (the
    * distinct_hll_replay construction) plus the calendar-slot trailing
    * merge — registers pushed forward 0..5 slots, max per (type, slot,
    * bucket), restricted to slots that occur.
    */
  private def trailingDistinctHllOracleSql: String = {
    val (hashFrag, hashLast) = XxSql.chain("hb",
      XxSql.xx64Steps(XxSql.u64("user_id"), "42", "h", "hl"), "tdx")
    s"""WITH b0 AS (SELECT DISTINCT event_type,
           CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hour_idx, user_id
         FROM events),
       hb AS (SELECT event_type, hour_idx, user_id FROM b0)
       $hashFrag,
       r AS (SELECT event_type, hour_idx, h % 16 AS bucket,
               max(CASE WHEN h // 16 = 0 THEN 61
                   ELSE 61 - length(bin(CAST(h // 16 AS HUGEINT))) END) AS rho
             FROM $hashLast GROUP BY 1, 2, 3),
       present AS (SELECT DISTINCT event_type, hour_idx FROM b0),
       offs AS (SELECT unnest(generate_series(0, 5)) AS off),
       slid AS (SELECT r.event_type, r.hour_idx + o.off AS hour_idx,
                  r.bucket, max(r.rho) AS rho
                FROM r CROSS JOIN offs o
                JOIN present p ON p.event_type = r.event_type
                  AND p.hour_idx = r.hour_idx + o.off
                GROUP BY 1, 2, 3),
       agg AS (SELECT event_type, hour_idx,
                 CAST(count(*) AS BIGINT) AS n_obs,
                 sum(CAST(CAST(1 AS BIGINT) << CAST(62 - rho AS INT)
                   AS HUGEINT)) AS ds
               FROM slid GROUP BY 1, 2),
       d AS (SELECT event_type, hour_idx, n_obs,
               ds + (16 - n_obs) * CAST(CAST(1 AS BIGINT) << 62 AS HUGEINT)
                 AS denom
             FROM agg),
       e AS (SELECT event_type, hour_idx, n_obs,
               0.673 * 256 * CAST(CAST(1 AS BIGINT) << 62 AS DOUBLE)
                 / CAST(denom AS DOUBLE) AS eraw
             FROM d)
       SELECT event_type, hour_idx, n_obs,
              round(CASE WHEN eraw <= 40.0 AND n_obs < 16
                    THEN 16 * ln(16.0 / (16 - n_obs)) ELSE eraw END, 4)
                AS est
       FROM e"""
  }

  /** `audience_overlap_own`: registers per type from the xxhash64
    * unroll, pair unions by register max over the OR-join expansion,
    * the p=4 estimator on both the singles and the pair unions,
    * inclusion-exclusion over the rounded estimates.
    */
  private def audienceOverlapOwnOracleSql: String = {
    val (hashFrag, hashLast) = XxSql.chain("hb",
      XxSql.xx64Steps(XxSql.u64("user_id"), "42", "h", "hl"), "aox")
    def est(reg: String, keys: String, out: String): String =
      s"""$out AS (
         SELECT $keys, round(CASE WHEN eraw <= 40.0 AND n_obs < 16
               THEN 16 * ln(16.0 / (16 - n_obs)) ELSE eraw END, 4) AS est
         FROM (SELECT $keys, n_obs,
                 0.673 * 256 * CAST(CAST(1 AS BIGINT) << 62 AS DOUBLE)
                   / CAST(ds + (16 - n_obs)
                     * CAST(CAST(1 AS BIGINT) << 62 AS HUGEINT) AS DOUBLE)
                   AS eraw
               FROM (SELECT $keys, CAST(count(*) AS BIGINT) AS n_obs,
                       sum(CAST(CAST(1 AS BIGINT) << CAST(62 - rho AS INT)
                         AS HUGEINT)) AS ds
                     FROM $reg GROUP BY $keys)))"""
    s"""WITH b0 AS (SELECT DISTINCT event_type, user_id FROM events),
       hb AS (SELECT event_type, user_id FROM b0)
       $hashFrag,
       r AS (SELECT event_type, h % 16 AS bucket,
               max(CASE WHEN h // 16 = 0 THEN 61
                   ELSE 61 - length(bin(CAST(h // 16 AS HUGEINT))) END) AS rho
             FROM $hashLast GROUP BY 1, 2),
       ${est("r", "event_type", "singles")},
       grps AS (SELECT DISTINCT event_type FROM r),
       pr AS (SELECT a.event_type AS grp_a, b.event_type AS grp_b
              FROM grps a, grps b WHERE a.event_type < b.event_type),
       preg AS (SELECT pr.grp_a, pr.grp_b, r.bucket, max(r.rho) AS rho
                FROM pr JOIN r ON r.event_type = pr.grp_a
                              OR r.event_type = pr.grp_b
                GROUP BY 1, 2, 3),
       ${est("preg", "grp_a, grp_b", "uni")}
       SELECT pr.grp_a, pr.grp_b,
              sa.est AS est_a, sb.est AS est_b, uni.est AS union_est,
              round(greatest(0.0, sa.est + sb.est - uni.est), 4) + 0.0
                AS intersect_est,
              round(greatest(0.0, sa.est + sb.est - uni.est) / uni.est, 4)
                + 0.0 AS jaccard
       FROM pr
       JOIN singles sa ON sa.event_type = pr.grp_a
       JOIN singles sb ON sb.event_type = pr.grp_b
       JOIN uni ON uni.grp_a = pr.grp_a AND uni.grp_b = pr.grp_b"""
  }

  def oracleSql: Map[String, String] = Map(
    "join_size_cms" -> XxSql.cmsJoinSizeOracleSql(width = 65536, depth = 4),
    "trailing_distinct_hll" -> trailingDistinctHllOracleSql,
    "audience_overlap_own" -> audienceOverlapOwnOracleSql,
    "markov_conversion" -> MarkovConversionOracle,
    "markov_attribution" -> MarkovAttributionOracle,
    // the maintained table must equal the ONE-SHOT lead computation —
    // same SQL as event_markov: the hash match is the merge ≡ rebuild proof
    "markov_maintained" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_id, event_type
           FROM events),
         p AS (SELECT event_type AS src,
             lead(event_type, 1) OVER (PARTITION BY user_id
               ORDER BY t, event_id) AS dst
           FROM e),
         c AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS n
           FROM p WHERE dst IS NOT NULL GROUP BY 1, 2),
         tot AS (SELECT src, CAST(sum(n) AS BIGINT) AS n_src FROM c GROUP BY 1)
         SELECT src, dst, n, n_src,
                CAST(n * 1000000 // n_src AS BIGINT) AS p_ppm
         FROM c JOIN tot USING (src)""",
    "path_trigrams" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_id, event_type
           FROM events),
         l AS (SELECT user_id, event_type,
             lag(event_type, 2) OVER w AS e1, lag(event_type, 1) OVER w AS e2
           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id))
         SELECT e1 || '>' || e2 || '>' || event_type AS path,
           CAST(count(*) AS BIGINT) AS n
         FROM l WHERE e1 IS NOT NULL
         GROUP BY 1 ORDER BY n DESC, path ASC LIMIT 20""",
    "event_markov" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_id, event_type
           FROM events),
         p AS (SELECT event_type AS src,
             lead(event_type, 1) OVER (PARTITION BY user_id
               ORDER BY t, event_id) AS dst
           FROM e),
         c AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS n
           FROM p WHERE dst IS NOT NULL GROUP BY 1, 2),
         tot AS (SELECT src, CAST(sum(n) AS BIGINT) AS n_src FROM c GROUP BY 1)
         SELECT src, dst, n, n_src,
                CAST(n * 1000000 // n_src AS BIGINT) AS p_ppm
         FROM c JOIN tot USING (src)""",
    "event_markov_stationary" -> MarkovStationaryOracle,
    "survival_logrank" ->
      """WITH life AS (SELECT user_id, min(epoch_us(ts)) AS fu,
             max(epoch_us(ts)) AS lu FROM events GROUP BY 1),
         g AS (SELECT max(lu) AS gm FROM life),
         d AS (SELECT user_id % 2 AS grp, (lu - fu) // 3600000000 AS t,
             CASE WHEN lu <= gm - 86400000000 THEN 1 ELSE 0 END AS ev
           FROM life, g),
         byt AS (SELECT t,
             CAST(sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS end0,
             CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS end1,
             CAST(sum(CASE WHEN grp = 0 THEN ev ELSE 0 END) AS BIGINT) AS ev0,
             CAST(sum(CASE WHEN grp = 1 THEN ev ELSE 0 END) AS BIGINT) AS ev1
           FROM d GROUP BY 1),
         cum AS (SELECT *,
             sum(end0) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW) AS c0,
             sum(end1) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW) AS c1,
             sum(end0) OVER () AS t0, sum(end1) OVER () AS t1
           FROM byt),
         att AS (SELECT ev1, t0 - (c0 - end0) + t1 - (c1 - end1) AS nn,
             t1 - (c1 - end1) AS n1, ev0 + ev1 AS dd
           FROM cum),
         terms AS (SELECT ev1,
             CAST(CAST(ev1 AS DOUBLE)
               - CAST(dd AS DOUBLE) * CAST(n1 AS DOUBLE) / CAST(nn AS DOUBLE)
               AS DECIMAL(20,8)) AS ome,
             CAST(CASE WHEN nn <= 1 THEN 0.0 ELSE
               CAST(dd AS DOUBLE) * (CAST(n1 AS DOUBLE) / CAST(nn AS DOUBLE))
               * (1.0 - CAST(n1 AS DOUBLE) / CAST(nn AS DOUBLE))
               * (CAST(nn - dd AS DOUBLE) / CAST(nn - 1 AS DOUBLE))
               END AS DECIMAL(20,8)) AS v
           FROM att WHERE dd > 0)
         SELECT CAST(count(*) AS BIGINT) AS n_event_times,
           CAST(sum(ev1) AS BIGINT) AS n_obs_g1,
           round(CAST(sum(ome) AS DOUBLE), 4) AS obs_minus_exp,
           round(CAST(sum(v) AS DOUBLE), 4) AS variance,
           CASE WHEN sum(v) > 0 THEN
             round(CAST(sum(ome) AS DOUBLE) * CAST(sum(ome) AS DOUBLE)
               / CAST(sum(v) AS DOUBLE), 4) END AS chi2
         FROM terms""",
    "survival_km" ->
      """WITH life AS (SELECT user_id, min(epoch_us(ts)) AS fu,
             max(epoch_us(ts)) AS lu FROM events GROUP BY 1),
         g AS (SELECT max(lu) AS gm FROM life),
         d AS (SELECT (lu - fu) // 3600000000 AS t_hours,
             CASE WHEN lu > gm - 86400000000 THEN 1 ELSE 0 END AS censored
           FROM life CROSS JOIN g),
         byt AS (SELECT t_hours, CAST(count(*) AS BIGINT) AS n_ending,
             CAST(sum(1 - censored) AS BIGINT) AS d_events
           FROM d GROUP BY 1),
         nu AS (SELECT CAST(count(*) AS BIGINT) AS n_users FROM d),
         r AS (SELECT t_hours, n_ending, d_events,
             n_users - COALESCE(sum(n_ending) OVER (ORDER BY t_hours
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n_at_risk
           FROM byt CROSS JOIN nu),
         tms AS (SELECT t_hours, n_at_risk, d_events,
             CASE WHEN d_events < n_at_risk
               THEN CAST(round(ln(1.0 - CAST(d_events AS DOUBLE)
                 / CAST(n_at_risk AS DOUBLE)) * 1e9) AS BIGINT)
               ELSE 0 END AS term_fx,
             CASE WHEN d_events = n_at_risk THEN 1 ELSE 0 END AS dead
           FROM r),
         c AS (SELECT t_hours, n_at_risk, d_events,
             sum(term_fx) OVER w AS cum_term,
             sum(dead) OVER w AS cum_dead
           FROM tms WINDOW w AS (ORDER BY t_hours
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         SELECT t_hours, CAST(n_at_risk AS BIGINT) AS n_at_risk, d_events,
           CASE WHEN cum_dead >= 1 THEN 0
             ELSE CAST(round(exp(CAST(cum_term AS DOUBLE) / 1e9) * 1e6)
               AS BIGINT) END AS km_survival_ppm
         FROM c""",
    "survival_curve" ->
      """WITH life AS (SELECT user_id, min(epoch_us(ts)) AS fu,
             max(epoch_us(ts)) AS lu FROM events GROUP BY 1),
         g AS (SELECT max(lu) AS gm FROM life),
         d AS (SELECT (lu - fu) // 3600000000 AS t_hours,
             CASE WHEN lu > gm - 86400000000 THEN 1 ELSE 0 END AS censored
           FROM life CROSS JOIN g),
         byt AS (SELECT t_hours, CAST(count(*) AS BIGINT) AS n_ending,
             CAST(sum(1 - censored) AS BIGINT) AS d_events
           FROM d GROUP BY 1),
         nu AS (SELECT CAST(count(*) AS BIGINT) AS n_users FROM d),
         r AS (SELECT t_hours, n_ending, d_events,
             n_users - COALESCE(sum(n_ending) OVER (ORDER BY t_hours
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n_at_risk
           FROM byt CROSS JOIN nu),
         h AS (SELECT t_hours, n_at_risk, d_events,
             n_ending - d_events AS n_censored,
             (d_events * 1000000) // n_at_risk AS hazard_ppm
           FROM r)
         SELECT t_hours, CAST(n_at_risk AS BIGINT) AS n_at_risk, d_events,
           CAST(n_censored AS BIGINT) AS n_censored,
           CAST(hazard_ppm AS BIGINT) AS hazard_ppm,
           CAST(sum(hazard_ppm) OVER (ORDER BY t_hours
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_hazard_ppm
         FROM h""",
    "covisitation" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS t,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS item
           FROM events),
         f AS (SELECT * FROM e WHERE item IS NOT NULL),
         p AS (SELECT least(a.item, b.item) AS item_x,
             greatest(a.item, b.item) AS item_y
           FROM f a JOIN f b ON a.user_id = b.user_id
           WHERE b.t > a.t AND b.t - a.t <= 1800000000
             AND a.item <> b.item)
         SELECT item_x, item_y, CAST(count(*) AS BIGINT) AS n
         FROM p GROUP BY 1, 2
         ORDER BY n DESC, item_x ASC, item_y ASC LIMIT 20""",
    "user_growth" ->
      """WITH f AS (SELECT user_id, min(epoch_us(ts)) AS fu
           FROM events GROUP BY 1),
         h AS (SELECT fu // 3600000000 AS hour,
             CAST(count(*) AS BIGINT) AS n_new FROM f GROUP BY 1)
         SELECT hour, n_new,
                CAST(sum(n_new) OVER (ORDER BY hour
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum_users
         FROM h""",
    "stream_hopping_agg" ->
      """WITH ev AS (SELECT epoch_us(ts) AS t, event_type FROM events),
         w AS (SELECT ((t // 1800000000) - k.k) * 1800 AS win_epoch, event_type
               FROM ev, unnest(generate_series(0, 1)) AS k(k))
         SELECT win_epoch, event_type, CAST(count(*) AS BIGINT) AS n_events
         FROM w GROUP BY 1, 2""",
    "stream_session_window" ->
      """WITH ev AS (SELECT user_id, epoch_us(ts) AS t FROM events),
         d AS (SELECT user_id, t,
                 -- STRICT >: Spark's session_window merges events exactly
                 -- gap apart (next.start <= prev.end is inclusive)
                 CASE WHEN t - lag(t) OVER (PARTITION BY user_id ORDER BY t)
                      > 1800000000 THEN 1 ELSE 0 END AS brk FROM ev),
         s AS (SELECT user_id, t,
                 sum(brk) OVER (PARTITION BY user_id ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM d)
         SELECT min(t) // 1000000 AS sess_epoch, user_id,
                CAST(count(*) AS BIGINT) AS n_events
         FROM s GROUP BY user_id, sid""",
    "cohort_retention" ->
      """WITH act AS (SELECT DISTINCT user_id,
                 CAST(floor(epoch(ts) / 3600) AS BIGINT) AS h FROM events),
         coh AS (SELECT user_id, min(h) AS cohort_h FROM act GROUP BY user_id)
         SELECT cohort_h, (h - cohort_h) AS "offset",
                CAST(count(DISTINCT act.user_id) AS BIGINT) AS n_users
         FROM act JOIN coh ON act.user_id = coh.user_id
         WHERE h - cohort_h <= 3
         GROUP BY 1, 2""",
    "funnel_conversion" -> FunnelSql,
    // maintained ≡ one-shot: same oracle, by design
    "funnel_maintained" -> FunnelSql,
    "stream_hourly_agg" ->
      """WITH g AS (SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600 AS hour_epoch,
                  event_type,
                  CAST(count(*) AS BIGINT) AS n_events,
                  sum(CAST(value AS DECIMAL(18,6))) AS sv
                FROM events GROUP BY 1, 2)
         SELECT hour_epoch, event_type, n_events,
                round(CAST(sv AS DOUBLE), 4) AS sum_value,
                ((2 * CAST(sv * 1000000 AS BIGINT) + 100 * n_events)
                   // (200 * n_events)) / 10000.0 AS avg_value
         FROM g""",
    "stream_topk" ->
      """WITH c AS (SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600 AS hour_epoch,
                  user_id, CAST(count(*) AS BIGINT) AS n_events
                FROM events GROUP BY 1, 2),
         r AS (SELECT *, CAST(row_number() OVER (PARTITION BY hour_epoch
                   ORDER BY n_events DESC, user_id ASC) AS BIGINT) AS rank
               FROM c)
         SELECT hour_epoch, user_id, n_events, rank FROM r WHERE rank <= 3""",
    "stream_user_rollup" ->
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
              round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4) AS total_value,
              CAST(epoch_us(min(ts)) AS BIGINT) AS first_ts_us,
              CAST(epoch_us(max(ts)) AS BIGINT) AS last_ts_us,
              CAST(count(DISTINCT event_type) AS BIGINT) AS n_types
         FROM events GROUP BY user_id""",
    "stream_sessionize" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, value FROM events),
         l AS (SELECT *, lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us) AS prev_us FROM e),
         b AS (SELECT *, CASE WHEN prev_us IS NULL
                             OR ts_us - prev_us > 30 * 60 * 1000000 THEN 1 ELSE 0 END AS brk
               FROM l),
         sid AS (SELECT *, CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts_us
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
                 FROM b)
         SELECT user_id, session_id,
                CAST(min(ts_us) AS BIGINT) AS start_us,
                CAST(max(ts_us) AS BIGINT) AS end_us,
                CAST(count(*) AS BIGINT) AS n_events,
                round(sum(value), 4) AS total_value
         FROM sid GROUP BY 1, 2""",
    "stream_dedup" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id FROM events),
         r AS (SELECT *,
                 row_number() OVER (PARTITION BY user_id, event_type
                                    ORDER BY ts_us, event_id) AS rn,
                 count(*) OVER (PARTITION BY user_id, event_type) AS n_dups
               FROM e)
         SELECT user_id, event_type, event_id AS first_event_id,
                ts_us AS first_ts_us, CAST(n_dups AS BIGINT) AS n_events
         FROM r WHERE rn = 1""",
    "stream_interval_join" ->
      """WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us,
                event_type, value FROM events)
         SELECT c.event_id AS click_id, c.user_id, c.ts_us AS click_us,
                p.event_id AS p_event_id, p.ts_us AS p_us,
                round(p.value, 4) AS p_value
         FROM ev c JOIN ev p
           ON c.user_id = p.user_id
          AND c.event_type = 'click' AND p.event_type = 'purchase'
          AND p.ts_us >= c.ts_us AND p.ts_us <= c.ts_us + 7200000000""",
    // mirrors AsofJoin's union + running-last_value plan; verified
    // identical to DuckDB's native ASOF LEFT JOIN on this data
    "asof_join_events" ->
      """WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us,
                event_type, value FROM events),
         u AS (
           SELECT user_id, ts_us AS t, 0 AS side,
                  struct_pack(p_event_id := event_id, value := value) AS rpay,
                  NULL::BIGINT AS event_id
           FROM ev WHERE event_type = 'purchase'
           UNION ALL
           SELECT user_id, ts_us, 1,
                  NULL::STRUCT(p_event_id BIGINT, value DOUBLE), event_id
           FROM ev WHERE event_type = 'click'),
         w AS (SELECT *, last_value(rpay IGNORE NULLS) OVER (
                 PARTITION BY user_id ORDER BY t, side, rpay
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS am
               FROM u)
         SELECT event_id, user_id, t AS ts_us,
                am.p_event_id AS p_event_id_asof,
                round(am.value, 4) AS value_asof
         FROM w WHERE side = 1""",
    // forward mirror: first_value over the FOLLOWING frame, click side
    // bit 0 so equal-time purchases fall inside the frame; the 2 h
    // tolerance nulls the match, never drops the click row
    "asof_join_forward" ->
      """WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us,
                event_type, value FROM events),
         u AS (
           SELECT user_id, ts_us AS t, 1 AS side,
                  struct_pack(rt := ts_us, p_event_id := event_id, value := value) AS rpay,
                  NULL::BIGINT AS event_id
           FROM ev WHERE event_type = 'purchase'
           UNION ALL
           SELECT user_id, ts_us, 0,
                  NULL::STRUCT(rt BIGINT, p_event_id BIGINT, value DOUBLE), event_id
           FROM ev WHERE event_type = 'click'),
         w AS (SELECT *, first_value(rpay IGNORE NULLS) OVER (
                 PARTITION BY user_id ORDER BY t, side, rpay
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS am
               FROM u),
         g AS (SELECT event_id, user_id, t,
                 CASE WHEN am.rt - t <= 7200000000 THEN am END AS m
               FROM w WHERE side = 0)
         SELECT event_id, user_id, t AS ts_us,
                m.p_event_id AS p_event_id_asof,
                round(m.value, 4) AS value_asof
         FROM g""",
    // nearest mirror: BOTH frames over the one backward-style order
    // (purchase side bit 0), 1 h tolerance gating each side before the
    // strict-< closest pick (ties resolve backward)
    "asof_join_nearest" ->
      """WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us,
                event_type, value FROM events),
         u AS (
           SELECT user_id, ts_us AS t, 0 AS side,
                  struct_pack(rt := ts_us, p_event_id := event_id, value := value) AS rpay,
                  NULL::BIGINT AS event_id
           FROM ev WHERE event_type = 'purchase'
           UNION ALL
           SELECT user_id, ts_us, 1,
                  NULL::STRUCT(rt BIGINT, p_event_id BIGINT, value DOUBLE), event_id
           FROM ev WHERE event_type = 'click'),
         w AS (SELECT *, last_value(rpay IGNORE NULLS) OVER (
                 PARTITION BY user_id ORDER BY t, side, rpay
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bm,
               first_value(rpay IGNORE NULLS) OVER (
                 PARTITION BY user_id ORDER BY t, side, rpay
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS fm
               FROM u),
         g AS (SELECT event_id, user_id, t,
                 CASE WHEN t - bm.rt <= 3600000000 THEN bm END AS b,
                 CASE WHEN fm.rt - t <= 3600000000 THEN fm END AS f
               FROM w WHERE side = 1),
         p AS (SELECT event_id, user_id, t,
                 CASE WHEN b IS NULL THEN f
                      WHEN f IS NULL THEN b
                      WHEN f.rt - t < t - b.rt THEN f
                      ELSE b END AS m
               FROM g)
         SELECT event_id, user_id, t AS ts_us,
                m.p_event_id AS p_event_id_asof,
                round(m.value, 4) AS value_asof
         FROM p"""
  )
}
