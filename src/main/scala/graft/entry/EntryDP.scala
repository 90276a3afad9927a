package graft

import graft.analysis._
import graft.core._
import graft.ops._
import graft.spark._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** DP aggregation / budget / partition-selection / utility-analysis tier of the driver contract: the `queries` / `oracleSql`
  * fragments [[SparkEntry]] composes. Split out of SparkEntry.scala in
  * round 8 purely for file size — every entry is verbatim; semantics and
  * the gate are unchanged. See SparkEntry's scaladoc for the conventions
  * (zero-noise DP, integer-valued oracle arithmetic, column aliasing).
  */
private[graft] object EntryDP {
  import EntryHelpers._

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- §2.C DP aggregations (zero noise => exact; see scaladoc above) ----
    "dp_count" -> ((s, dir) => {
      runZero(events(s, dir),
        AggregateParams(metrics = Seq(Metric.Count), maxPartitionsContributed = 5,
          maxContributionsPerPartition = Some(100)),
        DPColumns(col("user_id"), Seq("event_type" -> col("event_type")), None))
    }),
    "dp_count_pld" -> ((s, dir) => {
      // same aggregation as dp_count but budgeted through PLD composition
      // (tight numerical accounting); zero noise => identical exact output.
      // Coarse discretization keeps the budget search cheap.
      val engine = new DPEngine(
        new PLDBudgetAccountant(1e5, 0.999999, pldDiscretization = 1e-2),
        NoiseSource.Zero)
      val res = engine.aggregate(events(s, dir),
        AggregateParams(metrics = Seq(Metric.Count), maxPartitionsContributed = 5,
          maxContributionsPerPartition = Some(100)),
        DPColumns(col("user_id"), Seq("event_type" -> col("event_type")), None))
      engine.accountant.computeBudgets()
      res.dataframe
    }),
    "dp_sum_pld_gaussian" -> ((s, dir) => {
      // Gaussian noise kind budgeted through PLD composition (exercises the
      // Gaussian-PLD leg of the noise-std search); zero noise => exact
      // clipped sum, same oracle as dp_sum.
      val engine = new DPEngine(
        new PLDBudgetAccountant(1e5, 0.999999, pldDiscretization = 1e-2),
        NoiseSource.Zero)
      val res = engine.aggregate(events(s, dir),
        generous(Seq(Metric.Sum), 10, 100).copy(noiseKind = NoiseKind.Gaussian),
        eventRoles)
      engine.accountant.computeBudgets()
      res.dataframe
    }),
    "dp_post_agg_threshold_pld" -> ((s, dir) => {
      // post-aggregation thresholding under PLD accounting: the request is a
      // GaussianThresholding mechanism, so it joins the composed noise-std
      // search AND receives the 25% thresholding-delta reservation; the
      // selection is built from (noiseStdDev, thresholdingDelta). Zero noise
      // + huge budget => threshold ~1 + tiny, all partitions (hundreds of
      // units each) kept with their exact privacy-id counts.
      val engine = new DPEngine(
        new PLDBudgetAccountant(1e5, 0.999999, pldDiscretization = 1e-2),
        NoiseSource.Zero)
      val res = engine.aggregate(events(s, dir),
        AggregateParams(metrics = Seq(Metric.PrivacyIdCount), maxPartitionsContributed = 5,
          noiseKind = NoiseKind.Gaussian, postAggregationThresholding = true),
        DPColumns(col("user_id"), Seq("event_type" -> col("event_type")), None))
      engine.accountant.computeBudgets()
      res.dataframe
    }),
    "dp_privacy_id_count" -> ((s, dir) => {
      runZero(events(s, dir),
        AggregateParams(metrics = Seq(Metric.PrivacyIdCount), maxPartitionsContributed = 5),
        DPColumns(col("user_id"), Seq("event_type" -> col("event_type")), None))
    }),
    "dp_sum" -> ((s, dir) => {
      // clip to [10, 100] — the clip binds, and is mirrored in the oracle
      runZero(events(s, dir), generous(Seq(Metric.Sum), 10, 100), eventRoles)
    }),
    "dp_mean" -> ((s, dir) => {
      runZero(events(s, dir), generous(Seq(Metric.Mean), 10, 100), eventRoles)
    }),
    "dp_mean_count_sum" -> ((s, dir) => {
      runZero(events(s, dir),
        generous(Seq(Metric.Mean, Metric.Count, Metric.Sum), 10, 100), eventRoles)
    }),
    "dp_variance" -> ((s, dir) => {
      runZero(events(s, dir),
        generous(Seq(Metric.Variance, Metric.Mean, Metric.Count, Metric.Sum), 10, 100),
        eventRoles)
    }),
    "dp_sum_per_partition" -> ((s, dir) => {
      // per-partition bounding mode: sum per (user, type) clipped to [0, 500]
      runZero(events(s, dir),
        AggregateParams(metrics = Seq(Metric.Sum), maxPartitionsContributed = 5,
          minSumPerPartition = Some(0.0), maxSumPerPartition = Some(500.0)),
        eventRoles)
    }),
    "dp_multi_value" -> ((s, dir) => {
      // two value columns aggregated in one pass (multi-value extractors);
      // per-partition sum bounds per column; zero noise => exact
      val engine = zeroEngine()
      val res = MultiValueSum.aggregate(engine, events(s, dir),
        MultiValueSumParams(
          columnBounds = Seq(
            ValueColumnBounds("v", 0.0, 500.0),
            ValueColumnBounds("w", 0.0, 100.0)),
          maxPartitionsContributed = 5),
        MultiValueColumns(col("user_id"), Seq("event_type" -> col("event_type")),
          Seq("v" -> floor(col("value")), "w" -> length(col("props")).cast("double"))))
      engine.accountant.computeBudgets()
      res.dataframe
    }),
    "dp_multi_value_mean" -> ((s, dir) => {
      // per-column METRIC SETS in one pass (full MultiValueDataExtractors
      // generalization): column v runs VARIANCE+MEAN+COUNT+SUM with clip
      // [10, 100], column w runs MEAN with clip [0, 30] — one shuffle chain,
      // shared count accumulator; zero noise => exact
      val engine = zeroEngine()
      val res = MultiValueAgg.aggregate(engine, events(s, dir),
        MultiValueAggParams(
          columns = Seq(
            ValueColumnMetrics("v",
              Seq(Metric.Variance, Metric.Mean, Metric.Count, Metric.Sum), 10.0, 100.0),
            ValueColumnMetrics("w", Seq(Metric.Mean), 0.0, 30.0)),
          maxPartitionsContributed = 5,
          maxContributionsPerPartition = 100),
        MultiValueColumns(col("user_id"), Seq("event_type" -> col("event_type")),
          Seq("v" -> floor(col("value")), "w" -> length(col("props")).cast("double"))))
      engine.accountant.computeBudgets()
      res.dataframe
    }),
    "dp_public_partitions" -> ((s, dir) => {
      import s.implicits._
      val pub = Seq("click", "error", "purchase", "ghost_type").toDF("event_type")
      runZero(events(s, dir), generous(Seq(Metric.Count, Metric.Sum), 0, 1000),
        eventRoles, Some(pub))
    }),
    "dp_multi_key" -> ((s, dir) => {
      // multi-column partition key: (event_type, day)
      val df = events(s, dir).withColumn("day", tsDay)
      runZero(df,
        AggregateParams(metrics = Seq(Metric.Count, Metric.PrivacyIdCount),
          maxPartitionsContributed = 200, maxContributionsPerPartition = Some(100)),
        DPColumns(col("user_id"),
          Seq("event_type" -> col("event_type"), "day" -> col("day")), None))
    }),
    "dp_post_agg_threshold" -> ((s, dir) => {
      // post-aggregation thresholding: the noised privacy-id count IS the
      // release decision. Huge budget => threshold ~ 1.0001, so every
      // partition (all have >= dozens of units) passes and the zero-noised
      // value equals the exact count (deterministic; reference e2e technique).
      runZero(events(s, dir),
        AggregateParams(metrics = Seq(Metric.PrivacyIdCount), maxPartitionsContributed = 5,
          postAggregationThresholding = true),
        DPColumns(col("user_id"), Seq("event_type" -> col("event_type")), None))
    }),
    "dp_grouping_sets" -> ((s, dir) => {
      // multi-granularity DP release under ONE PLD budget: (event_type,
      // ubucket), (event_type), and the grand total. Every budget handle
      // carries count = 3 — the post-agg LaplaceThresholding handle's
      // per-USE thresholding-delta split (thrDelta/3 per use, the r10
      // repaired branch) runs end-to-end, not just in PLDSpec. ubucket =
      // user_id % 20 is fixed per user, so l0 <= 5 at every granularity
      // and the bounder never drops; zero noise + huge budget => every
      // partition passes the ~1 threshold with its exact unit count.
      val engine = new DPEngine(
        new PLDBudgetAccountant(1e5, 0.999999, pldDiscretization = 1e-2),
        NoiseSource.Zero)
      val ev = events(s, dir)
        .withColumn("ubucket", pmod(col("user_id"), lit(20L)).cast("string"))
      val res = engine.aggregateGroupingSets(ev,
        AggregateParams(metrics = Seq(Metric.PrivacyIdCount),
          maxPartitionsContributed = 5, postAggregationThresholding = true),
        DPColumns(col("user_id"),
          Seq("event_type" -> col("event_type"), "ubucket" -> col("ubucket"))),
        Seq(Seq("event_type", "ubucket"), Seq("event_type"), Seq()))
      engine.accountant.computeBudgets()
      res.dataframe
    }),
    "dp_count_l1" -> ((s, dir) => {
      // L1 bounding mode: <= maxContributions rows per privacy unit in total
      // (no per-partition/L0 split). 1000 >> the max 99 rows per user at
      // sf<=0.1, so sampling drops nothing and the count is exact.
      runZero(events(s, dir),
        AggregateParams(metrics = Seq(Metric.Count), maxContributions = Some(1000)),
        DPColumns(col("user_id"), Seq("event_type" -> col("event_type")), None))
    }),
    "dp_sum_l1_partition" -> ((s, dir) => {
      // L1 (maxContributions) bounding COMBINED with per-partition SUM
      // bounds — the exact sensitivity branch that was mc-fold
      // under-calibrated until round 9 (core/Mechanisms.scala
      // sensitivitiesForSum, per-partition arm × maxContributions;
      // reference analog: contribution_bounders.py:115-157 +
      // combiners.py:441-446). mc=1000 >> the <= 99 rows any user has at
      // sf <= 0.1, so L1 sampling drops nothing and the release is the
      // exact per-(user, type) sum clipped to [0, 500], summed per type.
      runZero(events(s, dir),
        AggregateParams(metrics = Seq(Metric.Sum), maxContributions = Some(1000),
          minSumPerPartition = Some(0.0), maxSumPerPartition = Some(500.0)),
        eventRoles)
    }),
    "dp_count_skew_sharded" -> ((s, dir) => {
      // skew-hardening end-to-end: one hot privacy unit contributes 1e5
      // rows to ONE partition — the Linf fan-in hazard where shipping the
      // whole cell would funnel it through a single task. The plain plan
      // already bounds it: the bounded sampler combines map-side, so each
      // map task ships one row for the hot unit, holding at most 100 of
      // the cell's rows (in at most 5 partitions), and the final sample
      // merges one such row per upstream task. Zero noise + CONSTANT hot
      // values keep Count AND Sum deterministic (any kept 100-subset of
      // the hot cell sums to 100), so the skew path is oracle-exact
      // despite randomized sampling.
      val skewed = events(s, dir)
        .select(col("user_id"), col("event_type"), col("value"))
        .unionByName(s.range(100000).select(lit(-1L).as("user_id"),
          lit("click").as("event_type"), lit(1.0).as("value")))
      val engine = zeroEngine()
      val res = engine.aggregate(skewed,
        generous(Seq(Metric.Count, Metric.Sum), 0, 1000), eventRoles)
      engine.accountant.computeBudgets()
      res.dataframe
    }),
    "dp_custom_combiner" -> ((s, dir) => {
      // user-defined DP aggregation (sum of squares with per-contribution
      // square clipping) through the CustomCombiner extension point
      val engine = zeroEngine()
      val res = CustomAggregation.aggregate(engine, events(s, dir),
        CustomAggParams(maxPartitionsContributed = 5,
          maxContributionsPerPartition = Some(100)),
        DPColumns(col("user_id"), Seq("event_type" -> col("event_type")),
          Some(floor(col("value")))),
        new SquareSumCombiner(maxSquare = 10000.0, l0 = 5, contributionsPerPartition = 100))
      engine.accountant.computeBudgets()
      res.dataframe
    }),
    "dp_select_partitions" -> ((s, dir) => {
      val engine = zeroEngine()
      val res = engine.selectPartitions(events(s, dir),
        SelectPartitionsParams(maxPartitionsContributed = 5),
        DPColumns(col("user_id"), Seq("event_type" -> col("event_type"))))
      engine.accountant.computeBudgets()
      res.dataframe
    }),
    "dp_set_union" -> ((s, dir) => {
      // DP SET UNION (r19, beyond-reference; Gopi et al. ICML 2020): the
      // DP VOCABULARY release — tokens of user documents published only
      // when enough units back them. eps = 2, delta = 1e-6, Laplace +
      // constant 1/32 weighting: threshold = 1 + (1/2)ln(1/(2e-6)) =
      // 7.5612, so with zero noise a token releases iff its retaining-doc
      // count/32 >= 7.5612 <=> count >= 242 (the count grid is exact in
      // any engine; 241/32 = 7.531 sits 0.030 below, 242/32 = 7.5625
      // sits 0.0013 above — no float-boundary row can exist). Bounding
      // (first 32 items per unit by sort order) is deterministic by
      // policy, so the whole release replays.
      val engine = new DPEngine(
        new graft.core.NaiveBudgetAccountant(2.0, 1e-6), NoiseSource.Zero)
      val docs = readParquet(s, s"$dir/documents.parquet")
        .select(col("doc_id"),
          explode(graft.ops.TextAnalysis.tokens(col("text"))).as("tok"))
      val res = engine.setUnion(docs,
        SetUnionParams(maxItemsPerUnit = 32), col("doc_id"), col("tok"))
      engine.accountant.computeBudgets()
      res.dataframe
    }),
    "dp_noisy_topk" -> ((s, dir) => {
      // report-noisy-max top-k (one-shot Laplace top-k): the 7 largest
      // of up to 100 (event_type, user-bucket) partitions by distinct-
      // unit count. A user's bucket is fixed (user_id % 20), so their
      // L0 is at most the 5 event types — maxPartitionsContributed=5
      // makes the bounder a no-drop pass and the Zero-noise release
      // exact. Ties break by (event_type, ubucket) ascending.
      val engine = zeroEngine()
      val ev = events(s, dir)
        .withColumn("ubucket", pmod(col("user_id"), lit(20L)))
      val res = engine.noisyTopK(ev,
        NoisyTopKParams(k = 7, maxPartitionsContributed = 5),
        DPColumns(col("user_id"),
          Seq("event_type" -> col("event_type"), "ubucket" -> col("ubucket"))))
      engine.accountant.computeBudgets()
      res.dataframe
    }),
    "dp_sum_pld_laplace" -> ((s, dir) => {
      // totalDelta = 0 under PLD: the pure-Laplace base composition
      // (repaired in r10 — requests weighed by count*weight/sensitivity)
      // end-to-end. Count + Sum clipped to [0, 0.5] compose two Laplace
      // handles whose BUILD sensitivities differ (count: l0*linf = 500;
      // sum: l0*0.5 = 2.5); public partitions because selection would
      // need delta. Zero noise => exact; sums are multiples of 0.5, so
      // binary arithmetic cannot diverge from the oracle.
      import s.implicits._
      val pub = Seq("click", "error", "purchase", "ghost_type").toDF("event_type")
      val engine = new DPEngine(
        new PLDBudgetAccountant(1.0, 0.0), NoiseSource.Zero)
      val res = engine.aggregate(events(s, dir),
        generous(Seq(Metric.Count, Metric.Sum), 0.0, 0.5), eventRoles, Some(pub))
      engine.accountant.computeBudgets()
      res.dataframe
    }),
    "dp_noisy_topk_public" -> ((s, dir) => {
      // public-domain arm: pure-eps peeling report-noisy-max over a FIXED
      // candidate list — 'ghost_type' has no data (count 0) yet ranks,
      // every non-public event type is dropped before noise. Runs under
      // totalDelta = 0: only this arm is defined there. l0 = 5 covers
      // all real event types, so the bounder is a no-drop pass and the
      // Zero-noise release is exact. k = 4 = the public-domain size.
      import s.implicits._
      val pub = Seq("click", "error", "purchase", "ghost_type").toDF("event_type")
      val engine = new graft.spark.DPEngine(
        new NaiveBudgetAccountant(1e5, 0.0), NoiseSource.Zero)
      val res = engine.noisyTopK(events(s, dir),
        NoisyTopKParams(k = 4, maxPartitionsContributed = 5),
        DPColumns(col("user_id"), Seq("event_type" -> col("event_type"))),
        publicPartitions = Some(pub))
      engine.accountant.computeBudgets()
      res.dataframe
    }),
    "dp_bounds_enforced" -> ((s, dir) => {
      // contribution bounds vouched by the caller: the engine skips both
      // sampling stages (NoOpSampler path) => exact counts
      runZero(events(s, dir),
        AggregateParams(metrics = Seq(Metric.Count), maxPartitionsContributed = 5,
          maxContributionsPerPartition = Some(100),
          contributionBoundsAlreadyEnforced = true),
        DPColumns(col("user_id"), Seq("event_type" -> col("event_type")), None))
    }),
    "dp_select_weighted_gaussian" -> ((s, dir) => {
      // weighted-Gaussian selection: per-unit weights 1/sqrt(#partitions),
      // zero noise + huge budget => threshold ~1, all real partitions kept
      val engine = zeroEngine()
      val res = engine.selectPartitions(events(s, dir),
        SelectPartitionsParams(maxPartitionsContributed = 5,
          strategy = PartitionSelectionStrategyKind.WeightedGaussianThresholding),
        DPColumns(col("user_id"), Seq("event_type" -> col("event_type"))))
      engine.accountant.computeBudgets()
      res.dataframe
    }),
    "dp_select_gaussian_thr" -> ((s, dir) => {
      // Gaussian-thresholding selection at huge budget: threshold ~1,
      // every partition has hundreds of units => deterministic keep-all
      val engine = zeroEngine()
      val res = engine.selectPartitions(events(s, dir),
        SelectPartitionsParams(maxPartitionsContributed = 5,
          strategy = PartitionSelectionStrategyKind.GaussianThresholding),
        DPColumns(col("user_id"), Seq("event_type" -> col("event_type"))))
      engine.accountant.computeBudgets()
      res.dataframe
    }),
    "dp_vector_sum" -> ((s, dir) => {
      // elementwise sum of embeddings per label, privacy unit = vec_id.
      // embeddings quantized to multiples of 1/1024 so double sums are exact
      // in any addition order (oracle parity).
      val df = readParquet(s, s"$dir/embeddings.parquet")
        .withColumn("emb", expr("transform(embedding, e -> floor(CAST(e AS DOUBLE) * 1024) / 1024)"))
      val out = runZero(df,
        AggregateParams(metrics = Seq(Metric.VectorSum),
          maxPartitionsContributed = 1,
          vectorNormKind = NormKind.Linf, vectorMaxNorm = 1e6, vectorSize = 64),
        DPColumns(col("vec_id"), Seq("label" -> col("label")), Some(col("emb"))))
      out.select(col("label"), posexplode(col("vector_sum")).as(Seq("idx", "coord_sum")))
        .select(col("label"), col("idx").cast("long").as("idx"), col("coord_sum"))
    }),
    "dp_vector_mean" -> ((s, dir) => {
      // DP per-group embedding centroid by POST-PROCESSING (Dwork & Roth
      // Prop. 2.1): ONE private release of (vector_sum, privacy_id_count)
      // under a shared budget, then mean_j = sum_j / max(1, n) computed
      // from released values only — no additional privacy cost. The
      // federated-analytics "private centroid" shape. Zero noise + the
      // 1/1024 quantization => sums exact; the single double division is
      // the same IEEE op in both engines.
      val df = readParquet(s, s"$dir/embeddings.parquet")
        .withColumn("emb", expr(
          "transform(embedding, e -> floor(CAST(e AS DOUBLE) * 1024) / 1024)"))
      val out = runZero(df,
        AggregateParams(metrics = Seq(Metric.VectorSum, Metric.PrivacyIdCount),
          maxPartitionsContributed = 1,
          vectorNormKind = NormKind.Linf, vectorMaxNorm = 1e6, vectorSize = 64),
        DPColumns(col("vec_id"), Seq("label" -> col("label")), Some(col("emb"))))
      out.select(col("label"), col("privacy_id_count").as("n_units"),
          posexplode(col("vector_sum")).as(Seq("idx", "coord_sum")))
        .select(col("label"), col("idx").cast("long").as("idx"),
          (col("coord_sum") / greatest(col("n_units"), lit(1.0))).as("coord_mean"),
          col("n_units"))
    }),
    "dp_percentile" -> ((s, dir) => {
      // DP quantile tree, zero noise => the height-4/branching-16 walk is
      // deterministic; the oracle replicates it in SQL (4-level unrolled
      // descent over per-leaf counts), bit-exact including the FP rank chain.
      runZero(events(s, dir),
        AggregateParams(
          metrics = Seq(Metric.Percentile(10), Metric.Percentile(50), Metric.Percentile(90)),
          maxPartitionsContributed = 5, maxContributionsPerPartition = Some(100),
          minValue = Some(0.0), maxValue = Some(500.0)),
        eventRoles)
    }),
    "dp_percentile_pld" -> ((s, dir) => {
      // the quantile tree under PLD accounting: the budget resolves to a
      // noise STD (not eps/delta) and the tree's mechanism is built from it
      // via the shared spec->mechanism path; zero noise => the same
      // deterministic walk, same bit-exact oracle as dp_percentile.
      val engine = new DPEngine(
        new PLDBudgetAccountant(1e5, 0.999999, pldDiscretization = 1e-2),
        NoiseSource.Zero)
      val res = engine.aggregate(events(s, dir),
        AggregateParams(
          metrics = Seq(Metric.Percentile(10), Metric.Percentile(50), Metric.Percentile(90)),
          maxPartitionsContributed = 5, maxContributionsPerPartition = Some(100),
          minValue = Some(0.0), maxValue = Some(500.0)),
        eventRoles)
      engine.accountant.computeBudgets()
      res.dataframe
    }),
    "dp_percentile_public" -> ((s, dir) => {
      // quantile tree x PUBLIC partitions — the last combiner x selection
      // pairing: non-public partitions are dropped pre-aggregation, the
      // ghost partition materializes from an EMPTY tree (exercising
      // empty-tree serialization + merge on the add-empty union path), and
      // the empty tree's zero-noise walk is the closed-form uniform
      // interpolation lower + q*(upper-lower) = (50, 250, 450) over
      // [0, 500] — SQL-expressible, so the ghost row stays oracle-exact
      // alongside the real partitions' bit-exact tree walk.
      import s.implicits._
      val pub = Seq("click", "error", "purchase", "ghost_type").toDF("event_type")
      runZero(events(s, dir),
        AggregateParams(
          metrics = Seq(Metric.Percentile(10), Metric.Percentile(50), Metric.Percentile(90)),
          maxPartitionsContributed = 5, maxContributionsPerPartition = Some(100),
          minValue = Some(0.0), maxValue = Some(500.0)),
        eventRoles, Some(pub))
    }),
    "dp_percentile_sum_partition" -> ((s, dir) => {
      // the last combiner pairing: a multi-percentile quantile tree AND a
      // per-partition-bounded SumCombiner over the same input under ONE
      // shared accountant. The two bounding modes are mutually exclusive
      // inside a single AggregateParams (reference: aggregate_params.py:
      // 330-364, mirrored at Params.scala) — the reference composes them
      // exactly this way: two aggregations sharing a budget accountant.
      // Zero noise => both deterministic; the oracle replicates the tree
      // walk and the per-(user,type) clip.
      val engine = zeroEngine()
      val ev = events(s, dir)
      val pct = engine.aggregate(ev, AggregateParams(
        metrics = Seq(Metric.Percentile(25), Metric.Percentile(75)),
        maxPartitionsContributed = 5, maxContributionsPerPartition = Some(100),
        minValue = Some(0.0), maxValue = Some(500.0)), eventRoles)
      val sums = engine.aggregate(ev, AggregateParams(
        metrics = Seq(Metric.Sum), maxPartitionsContributed = 5,
        minSumPerPartition = Some(0.0), maxSumPerPartition = Some(500.0)),
        eventRoles)
      engine.accountant.computeBudgets()
      pct.dataframe.join(
        sums.dataframe.withColumnRenamed("sum", "part_sum"), "event_type")
    }),
    "dp_range_tree" -> ((s, dir) => {
      // DP hierarchical range-count tree over the VALUE DOMAIN (the
      // dyadic mechanism over bins instead of time — Hay et al. VLDB'10):
      // 64 bins over [0, 1000), one draw per node, empty nodes release
      // too (generated universe). Zero noise + a non-binding per-unit cap
      // => exact node counts, replayed as a binned rollup over the
      // generated (lvl, idx, key) grid.
      graft.spark.RangeTree.dpRangeCountTree(events(s, dir), "user_id",
          col("value"), Seq("event_type"), lo = 0.0, hi = 1000.0,
          bins = 64, epsilon = 1.0, maxPerUnit = 1000000L,
          noise = NoiseSource.Zero)
        .select(col("__lvl").cast("long").as("lvl"), col("__idx").as("idx"),
          col("event_type"), col("dp_count"))
    }),
    "dp_range_accountant" -> ((s, dir) => {
      // ONE budget covering engine queries AND tree releases (r15): the
      // accountant registers the whole-tree release as a mechanism
      // (requestTreeRelease — unit-sensitivity scalar equivalence, the
      // treeCompositionEpsilon identity), resolves the per-node scale,
      // and rangeTreeReleaseWithScale applies it. Zero noise => the same
      // exact keyed tree, so the oracle IS dp_range_tree's SQL; the
      // calibration math itself is pinned in PLDSpec (n=64 closed form)
      // and RangeTreeSpec (echo-scale wiring).
      val acc = new graft.core.NaiveBudgetAccountant(1.0, 0.0)
      val t = acc.requestTreeRelease(bins = 64,
        graft.core.NoiseKind.Laplace, count = 1)
      acc.computeBudgets()
      val store = graft.spark.RangeTree.rangeTreeIngestStep(events(s, dir),
        None, "user_id", col("value"), Seq("event_type"), lo = 0.0,
        hi = 1000.0, bins = 64, maxPerUnit = 1000000L)
      graft.spark.RangeTree.rangeTreeReleaseWithScale(store,
          Seq("event_type"), 64, t.perNodeScale, NoiseSource.Zero)
        .select(col("__lvl").cast("long").as("lvl"), col("__idx").as("idx"),
          col("event_type"), col("dp_count"))
    }),
    "dp_range_sharded" -> ((s, dir) => {
      // the KEY-RANGE SHARDED release (the 100 TB key-cardinality path,
      // r15): the key universe splits into deterministic key-range
      // shards — here 2 keys per shard over the 5 event types, so 3
      // shards — each released with its own bounded literal noise frame
      // and written to storage before the next draws; exactly one draw
      // per (key, node) in total (spec-pinned). Zero noise => the same
      // exact keyed tree as dp_range_tree, so the oracle IS its SQL.
      val out = java.nio.file.Files
        .createTempDirectory("graft_q_shard_").toString
      graft.spark.RangeTree.dpRangeCountTreeSharded(events(s, dir),
          "user_id", col("value"), Seq("event_type"), lo = 0.0,
          hi = 1000.0, bins = 64, epsilon = 1.0, maxPerUnit = 1000000L,
          noise = NoiseSource.Zero, outDir = out, maxKeysPerShard = 2L)
        .select(col("__lvl").cast("long").as("lvl"), col("__idx").as("idx"),
          col("event_type"), col("dp_count"))
    }),
    "dp_range_gaussian" -> ((s, dir) => {
      // the GAUSSIAN release of the same tree — (epsilon, delta)-DP with
      // per-node sigma Balle-Wang-calibrated at L2 = maxPerUnit *
      // sqrt(levels+1) (the tree is where Gaussian's sqrt beats Laplace's
      // levels+1 factor; RangeTreeSpec pins the sigma via an echo-scale
      // source). Zero noise => the same exact tree, so the oracle IS
      // dp_range_tree's — the Gaussian path runs for real end-to-end.
      graft.spark.RangeTree.dpRangeCountTree(events(s, dir), "user_id",
          col("value"), Seq("event_type"), lo = 0.0, hi = 1000.0,
          bins = 64, epsilon = 1.0, maxPerUnit = 1000000L,
          noise = NoiseSource.Zero, publicKeys = None,
          noiseKind = NoiseKind.Gaussian, delta = 1e-6)
        .select(col("__lvl").cast("long").as("lvl"), col("__idx").as("idx"),
          col("event_type"), col("dp_count"))
    }),
    "dp_range_consistent" -> ((s, dir) => {
      // Hay's two-sweep OLS consistency over the released tree — pure
      // post-processing (bounded driver math: 2*bins-1 rows per key). On
      // an EXACT (zero-noise) tree the projection is the identity
      // (spec-proven), so the oracle IS dp_range_tree's — the sweep runs
      // for real and must change nothing.
      val tree = graft.spark.RangeTree.dpRangeCountTree(events(s, dir),
        "user_id", col("value"), Seq("event_type"), lo = 0.0, hi = 1000.0,
        bins = 64, epsilon = 1.0, maxPerUnit = 1000000L,
        noise = NoiseSource.Zero)
      graft.spark.RangeTree.enforceConsistency(tree, Seq("event_type"), 64)
        .select(col("__lvl").cast("long").as("lvl"), col("__idx").as("idx"),
          col("event_type"), col("dp_count"))
    }),
    "dp_range_query" -> ((s, dir) => {
      // range queries answered from the released tree (pure
      // post-processing, zero extra budget): each range reads its minimal
      // dyadic cover — <= 2 log2(64) nodes — never the leaves. Zero noise
      // => exact range counts, replayed as BETWEEN rollups.
      val tree = graft.spark.RangeTree.dpRangeCountTree(events(s, dir),
        "user_id", col("value"), Seq("event_type"), lo = 0.0, hi = 1000.0,
        bins = 64, epsilon = 1.0, maxPerUnit = 1000000L,
        noise = NoiseSource.Zero)
      graft.spark.RangeTree.rangeQueries(tree, Seq("event_type"),
        Seq((0L, 15L), (8L, 40L), (32L, 63L), (10L, 10L)), bins = 64)
    }),
    "dp_range_quantiles" -> ((s, dir) => {
      // quantiles by CDF inversion over the released prefix counts (pure
      // post-processing): first bin whose prefix reaches q * total. Zero
      // noise => the exact empirical quantile bin per event type.
      val tree = graft.spark.RangeTree.dpRangeCountTree(events(s, dir),
        "user_id", col("value"), Seq("event_type"), lo = 0.0, hi = 1000.0,
        bins = 64, epsilon = 1.0, maxPerUnit = 1000000L,
        noise = NoiseSource.Zero)
      graft.spark.RangeTree.quantilesFromTree(tree, Seq("event_type"),
        0.0, 1000.0, 64, Seq(0.25, 0.5, 0.9, 0.99))
    }),
    "dp_range_cdf" -> ((s, dir) => {
      // the publishable CDF: noisy prefix count at EVERY bin with the
      // PAVA monotone projection (the exact L2 projection onto the
      // nondecreasing cone — valid CDF out, never-worse error). Zero
      // noise => exact cumulative counts, already monotone, so the
      // projection is the identity (spec-proven) and the oracle replays
      // plain cumulative rollups — the dp_range_consistent convention:
      // the sweep runs for real and must change nothing.
      val tree = graft.spark.RangeTree.dpRangeCountTree(events(s, dir),
        "user_id", col("value"), Seq("event_type"), lo = 0.0, hi = 1000.0,
        bins = 64, epsilon = 1.0, maxPerUnit = 1000000L,
        noise = NoiseSource.Zero)
      graft.spark.RangeTree.cdfFromTree(tree, Seq("event_type"),
        0.0, 1000.0, 64, monotone = true)
    }),
    "dp_range_public" -> ((s, dir) => {
      // public-keys release: the tree set is DATA-INDEPENDENT — three of
      // the five observed event types plus a phantom type that releases
      // a full all-zeros tree; the two non-public observed types drop
      // before bounding. Replayed over the literal key list.
      import s.implicits._
      val pub = Seq("click", "view", "purchase", "phantom_type").toDF("k")
      graft.spark.RangeTree.dpRangeCountTree(events(s, dir), "user_id",
          col("value"), Seq("event_type"), lo = 0.0, hi = 1000.0,
          bins = 64, epsilon = 1.0, maxPerUnit = 1000000L,
          noise = NoiseSource.Zero, publicKeys = Some(pub))
        .select(col("__lvl").cast("long").as("lvl"), col("__idx").as("idx"),
          col("event_type"), col("dp_count"))
    }),
    "dp_range_sum_query" -> ((s, dir) => {
      // the SUM tree: mass-in-range queries (revenue-by-price-band shape)
      // from dyadic nodes holding clamped-weight sums. Weight =
      // floor(value) clamped to [0, 500] — the clamp BINDS for half the
      // domain, and integer-valued doubles keep every sum exact, so zero
      // noise replays as clamped-sum BETWEEN rollups.
      val tree = graft.spark.RangeTree.dpRangeSumTree(events(s, dir),
        "user_id", col("value"), floor(col("value")), Seq("event_type"),
        lo = 0.0, hi = 1000.0, bins = 64, epsilon = 1.0,
        maxPerUnit = 1000000L, minW = 0.0, maxW = 500.0,
        noise = NoiseSource.Zero)
      graft.spark.RangeTree.rangeQueries(tree, Seq("event_type"),
        Seq((0L, 15L), (8L, 40L), (32L, 63L), (10L, 10L)), bins = 64)
    }),
    "dp_range_auto" -> ((s, dir) => {
      // the PUBLIC-BOUNDS helper (the adopter's first question): a
      // schema-contract domain [0, 1000) at 48-bin resolution pads UP to
      // 64 power-of-two bins of the SAME width (1000/48) — the 16
      // padding bins sit above the contract, provably empty, and still
      // release (zero + noise) like any empty node. Zero noise => exact
      // counts on the padded grid, zeros above bin 47.
      val dom = graft.spark.RangeTree.paddedDomain(0.0, 1000.0, minBins = 48)
      graft.spark.RangeTree.dpRangeCountTree(events(s, dir), "user_id",
          col("value"), Seq("event_type"), lo = dom.lo, hi = dom.hi,
          bins = dom.bins, epsilon = 1.0, maxPerUnit = 1000000L,
          noise = NoiseSource.Zero)
        .select(col("__lvl").cast("long").as("lvl"), col("__idx").as("idx"),
          col("event_type"), col("dp_count"))
    }),
    "dp_range_estimated" -> ((s, dir) => {
      // the DP-estimated-bounds path END TO END: a keyless probe tree
      // over a generous PUBLIC envelope [0, 1024) (4096 bins, width
      // 0.25 — dyadic, so every derived bound is an exact double) reads
      // the 1%/99% quantile bins, the domain snaps to 64 bins at the
      // derived width, and the keyed tree releases over it. Zero noise
      // => the probe quantiles are exact, the derived domain is
      // deterministic, and the oracle replays the WHOLE derivation in
      // SQL (envelope binning -> cumulative threshold -> width -> tree).
      val dom = graft.spark.RangeTree.dpEstimatedDomain(events(s, dir),
        "user_id", col("value"), envLo = 0.0, envHi = 1024.0,
        minBins = 64, epsilon = 1.0, maxPerUnit = 1000000L,
        noise = NoiseSource.Zero, qLo = 0.01, qHi = 0.99, expand = 0.0)
      graft.spark.RangeTree.dpRangeCountTree(events(s, dir), "user_id",
          col("value"), Seq("event_type"), lo = dom.lo, hi = dom.hi,
          bins = dom.bins, epsilon = 1.0, maxPerUnit = 1000000L,
          noise = NoiseSource.Zero)
        .select(col("__lvl").cast("long").as("lvl"), col("__idx").as("idx"),
          col("event_type"), col("dp_count"))
    }),
    "dp_range_keyed_domains" -> ((s, dir) => {
      // PER-KEY estimated domains -> per-key-domain tree (r15, the
      // heterogeneous-scales path): each event type's own 1%/99%
      // quantile bins read off a keyed probe over the shared PUBLIC
      // [0, 1024) envelope (width 0.25 — dyadic, exact doubles), each
      // key then binning against ITS OWN derived [lo, hi) at 64 bins.
      // Zero noise => deterministic per-key derivation, replayed
      // end-to-end in SQL (keyed envelope cumulative -> per-key domain
      // -> per-key binning -> tree).
      val dom = graft.spark.RangeTree.dpEstimatedDomains(events(s, dir),
        "user_id", col("value"), Seq("event_type"), envLo = 0.0,
        envHi = 1024.0, minBins = 64, epsilon = 1.0,
        maxPerUnit = 1000000L, noise = NoiseSource.Zero, qLo = 0.01,
        qHi = 0.99, expand = 0.0)
      graft.spark.RangeTree.dpRangeCountTreePerKeyDomains(events(s, dir),
          "user_id", col("value"), Seq("event_type"), dom, bins = 64,
          epsilon = 1.0, maxPerUnit = 1000000L, noise = NoiseSource.Zero)
        .select(col("__lvl").cast("long").as("lvl"), col("__idx").as("idx"),
          col("event_type"), col("dp_count"))
    }),
    "dp_range_sum_sharded" -> ((s, dir) => {
      // the key-range SHARDED sum tree (r15): clamped floor(value)
      // weights, 2-key shards over the 5 event types. Zero noise => the
      // exact clamped node sums, replayed as a keyed binned rollup over
      // the generated grid.
      val out = java.nio.file.Files
        .createTempDirectory("graft_q_sshard_").toString
      graft.spark.RangeTree.dpRangeSumTreeSharded(events(s, dir),
          "user_id", col("value"), floor(col("value")), Seq("event_type"),
          lo = 0.0, hi = 1000.0, bins = 64, epsilon = 1.0,
          maxPerUnit = 1000000L, minW = 0.0, maxW = 500.0,
          noise = NoiseSource.Zero, outDir = out, maxKeysPerShard = 2L)
        .select(col("__lvl").cast("long").as("lvl"), col("__idx").as("idx"),
          col("event_type"), col("dp_count"))
    }),
    "dp_range_keyed_quantiles" -> ((s, dir) => {
      // quantiles in VALUE units over the per-key-domain release: each
      // event type's bins map through ITS OWN estimated [lo, hi). Zero
      // noise => exact per-key quantile bins and values, the whole chain
      // (derivation -> tree -> readout -> per-key value mapping)
      // replayed in SQL.
      val dom = graft.spark.RangeTree.dpEstimatedDomains(events(s, dir),
        "user_id", col("value"), Seq("event_type"), envLo = 0.0,
        envHi = 1024.0, minBins = 64, epsilon = 1.0,
        maxPerUnit = 1000000L, noise = NoiseSource.Zero, qLo = 0.01,
        qHi = 0.99, expand = 0.0).localCheckpoint(false)
      val tree = graft.spark.RangeTree.dpRangeCountTreePerKeyDomains(
        events(s, dir), "user_id", col("value"), Seq("event_type"), dom,
        bins = 64, epsilon = 1.0, maxPerUnit = 1000000L,
        noise = NoiseSource.Zero)
      graft.spark.RangeTree.quantilesFromTreePerKeyDomains(tree, dom,
        Seq("event_type"), bins = 64, qs = Seq(0.25, 0.5, 0.9))
    }),
    "dp_range_mass_quantiles" -> ((s, dir) => {
      // WEIGHTED quantiles from the SUM tree (mass-CDF inversion): the
      // value band below which q of the total clamped floor(value) mass
      // sits, per event type — one prefixCounts reuse over the sum tree's
      // released nodes. The clamp to [0, 500] BINDS for half the domain
      // (same fixture as dp_range_sum_query, binding-clamp spec-pinned),
      // and zero noise => the exact empirical mass-quantile bin.
      val tree = graft.spark.RangeTree.dpRangeSumTree(events(s, dir),
        "user_id", col("value"), floor(col("value")), Seq("event_type"),
        lo = 0.0, hi = 1000.0, bins = 64, epsilon = 1.0,
        maxPerUnit = 1000000L, minW = 0.0, maxW = 500.0,
        noise = NoiseSource.Zero)
      graft.spark.RangeTree.quantilesFromTree(tree, Seq("event_type"),
        0.0, 1000.0, 64, Seq(0.5, 0.9, 0.99))
    }),
    "dp_range_selected" -> ((s, dir) => {
      // PRIVATE key discovery -> tree release, end to end: the key
      // universe comes from DP partition selection (its own budget) and
      // feeds publicKeys, making the tree set a function of a DP release
      // rather than of raw key presence — the composition that closes
      // the family's key-existence caveat without a public contract.
      // Zero noise keeps every 150-user type (the dp_select_partitions
      // convention) and the trees replay as the full keyed rollup; the
      // selection BITING (a rare key dropping via preThreshold) is
      // spec-pinned where the fixture can be shaped.
      val engine = zeroEngine()
      val selected = engine.selectPartitions(events(s, dir),
        SelectPartitionsParams(maxPartitionsContributed = 5),
        DPColumns(col("user_id"), Seq("event_type" -> col("event_type"))))
      engine.accountant.computeBudgets()
      // Materialize the (tiny, budget-released) selected-key set ONCE:
      // the tree pass consumes it as publicKeys in a join AND in the
      // empty-node scaffold, and without truncation each consumer would
      // replay the whole selectPartitions engine pass over events
      // (r18 drift: 1.71 s -> 2.81 s). Eager localCheckpoint cuts the
      // lineage at the release boundary — also the right privacy shape:
      // downstream sees only the released keys, not their derivation.
      val selectedKeys = selected.dataframe.localCheckpoint(true)
      graft.spark.RangeTree.dpRangeCountTree(events(s, dir), "user_id",
          col("value"), Seq("event_type"), lo = 0.0, hi = 1000.0,
          bins = 64, epsilon = 1.0, maxPerUnit = 1000000L,
          noise = NoiseSource.Zero,
          publicKeys = Some(selectedKeys))
        .select(col("__lvl").cast("long").as("lvl"), col("__idx").as("idx"),
          col("event_type"), col("dp_count"))
    }),
    "dp_range_mass_cdf" -> ((s, dir) => {
      // the mass-CDF release from the SUM tree: cumulative clamped
      // floor(value) mass below every bin edge, with the PAVA monotone
      // projection (masses are nonnegative, so the exact prefix sequence
      // is monotone and zero noise makes the projection the identity —
      // the dp_range_cdf convention on weighted mass). Replayed as
      // cumulative clamped-sum rollups.
      val tree = graft.spark.RangeTree.dpRangeSumTree(events(s, dir),
        "user_id", col("value"), floor(col("value")), Seq("event_type"),
        lo = 0.0, hi = 1000.0, bins = 64, epsilon = 1.0,
        maxPerUnit = 1000000L, minW = 0.0, maxW = 500.0,
        noise = NoiseSource.Zero)
      graft.spark.RangeTree.cdfFromTree(tree, Seq("event_type"),
        0.0, 1000.0, 64, monotone = true)
    }),
    "dp_range_2d" -> ((s, dir) => {
      // 2-D DP range-count tree (r15: the dyadic PRODUCT mechanism —
      // spatial/bivariate box queries under DP): x = value over [0, 1000)
      // in 16 bins, y = hour-of-day over [0, 32) in 32 bins (UTC hour is
      // the bin index; bins 24-31 provably empty but still drawing
      // noise), keyed per event_type. One draw per product node, empty
      // nodes included. Zero noise + non-binding cap => exact node
      // counts, replayed as a binned rollup over the generated 4-D grid.
      graft.spark.RangeTree.dpRange2DTree(events(s, dir), "user_id",
          col("value"), expr("hour(timestamp_micros(ts div 1000))"),
          Seq("event_type"),
          loX = 0.0, hiX = 1000.0, binsX = 16,
          loY = 0.0, hiY = 32.0, binsY = 32,
          epsilon = 1.0, maxPerUnit = 1000000L, noise = NoiseSource.Zero)
        .select(col("__lvx").cast("long").as("lvx"),
          col("__idxx").as("idxx"), col("__lvy").cast("long").as("lvy"),
          col("__idxy").as("idxy"), col("event_type"), col("dp_count"))
    }),
    "dp_range_2d_consistent" -> ((s, dir) => {
      // 2-D consistency (r16 — the alternating per-axis Hay projection;
      // von Neumann convergence to the product-consistent OLS): on an
      // EXACT zero-noise tree every sweep is the identity (the tree is
      // already in both consistency subspaces), so the oracle IS
      // dp_range_2d's — the 8 double-sweeps run for real and must
      // change nothing. Never-worse + geometric residual decay under
      // real noise are spec-pinned in RangeTreeSpec.
      val tree = graft.spark.RangeTree.dpRange2DTree(events(s, dir),
        "user_id", col("value"), expr("hour(timestamp_micros(ts div 1000))"),
        Seq("event_type"),
        loX = 0.0, hiX = 1000.0, binsX = 16,
        loY = 0.0, hiY = 32.0, binsY = 32,
        epsilon = 1.0, maxPerUnit = 1000000L, noise = NoiseSource.Zero)
      graft.spark.RangeTree.enforce2DConsistency(tree, Seq("event_type"),
          binsX = 16, binsY = 32)
        .select(col("__lvx").cast("long").as("lvx"),
          col("__idxx").as("idxx"), col("__lvy").cast("long").as("lvy"),
          col("__idxy").as("idxy"), col("event_type"), col("dp_count"))
    }),
    "dp_range_2d_query" -> ((s, dir) => {
      // axis-aligned box queries from the released 2-D tree — pure
      // post-processing: each box reads the CROSS PRODUCT of its per-axis
      // minimal dyadic covers, never the leaf grid. Zero noise => exact
      // box counts, replayed as two-BETWEEN rollups.
      val tree = graft.spark.RangeTree.dpRange2DTree(events(s, dir),
        "user_id", col("value"), expr("hour(timestamp_micros(ts div 1000))"),
          Seq("event_type"),
        loX = 0.0, hiX = 1000.0, binsX = 16,
        loY = 0.0, hiY = 32.0, binsY = 32,
        epsilon = 1.0, maxPerUnit = 1000000L, noise = NoiseSource.Zero)
      graft.spark.RangeTree.range2DQueries(tree, Seq("event_type"),
        Seq((0L, 7L, 0L, 11L), (4L, 11L, 6L, 21L), (15L, 15L, 0L, 31L),
          (2L, 2L, 5L, 5L), (0L, 15L, 0L, 23L)), binsX = 16, binsY = 32)
    }),
    "dp_range_2d_sum" -> ((s, dir) => {
      // the 2-D SUM tree queried by boxes: clamped floor(value) mass per
      // (value-band x hour) region — "how much spend sits in this price
      // band at these hours". Zero noise + non-binding caps => exact
      // clamped box masses, replayed as two-BETWEEN weighted rollups.
      val tree = graft.spark.RangeTree.dpRange2DSumTree(events(s, dir),
        "user_id", col("value"), expr("hour(timestamp_micros(ts div 1000))"),
        floor(col("value")), Seq("event_type"),
        loX = 0.0, hiX = 1000.0, binsX = 16,
        loY = 0.0, hiY = 32.0, binsY = 32,
        epsilon = 1.0, maxPerUnit = 1000000L, minW = 0.0, maxW = 500.0,
        noise = NoiseSource.Zero)
      graft.spark.RangeTree.range2DQueries(tree, Seq("event_type"),
        Seq((0L, 7L, 0L, 11L), (4L, 11L, 6L, 21L), (15L, 15L, 0L, 31L),
          (2L, 2L, 5L, 5L), (0L, 15L, 0L, 23L)), binsX = 16, binsY = 32)
        .withColumnRenamed("dp_box_count", "dp_box_mass")
    }),
    "dp_join_revenue" -> ((s, dir) => {
      // DP over a JOIN: the privacy unit (o_custkey) flows through
      // orders -> lineitem before the engine sees it, so user-level DP
      // applies to revenue grouped by order priority — the warehouse
      // shape (the engine is row-shape-agnostic: bounding and selection
      // key on whatever the roles name, joins are ordinary Spark
      // upstream). Caps non-binding + zero noise => exact clipped
      // revenue sums and row counts per priority.
      val li = readParquet(s, s"$dir/lineitem.parquet")
      val ord = readParquet(s, s"$dir/orders.parquet")
      val joined = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .select(col("o_custkey"), col("o_orderpriority"),
          floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("rev"))
      runZero(joined, AggregateParams(
        metrics = Seq(Metric.Sum, Metric.Count),
        noiseKind = NoiseKind.Laplace,
        maxPartitionsContributed = 5,
        maxContributionsPerPartition = Some(1000),
        minValue = Some(0.0), maxValue = Some(200000.0)),
        DPColumns("o_custkey", "o_orderpriority", "rev"))
    }),
    "dp_ldp_frequency" -> ((s, dir) => {
      // LOCAL DP frequency estimation (the randomized-response /
      // one-hot-RAPPOR trust model — the collector never holds true
      // values): each user's lowest event_type one-hot encodes over the
      // public 5-value domain, every bit flips with the eps-LDP
      // probabilities, and the release debiases the ones-counts. Zero
      // noise => exact one-hot bits, so the WHOLE estimator (n, c_j,
      // (c_j - n q)/(p - q)) replays deterministically — the p/q
      // constants enter both sides as the identical round-trip double
      // literals.
      graft.spark.LocalDP.ldpFrequency(events(s, dir), "user_id",
        col("event_type"), ldpDomain, epsilon = 1.0,
        noise = NoiseSource.Zero)
    }),
    "dp_ldp_olh" -> ((s, dir) => {
      // LOCAL DP frequency via OPTIMAL LOCAL HASHING (the large-domain
      // mechanism: ONE bucket in [0, g) per unit instead of k bits; g =
      // floor(e) + 1 = 3 at eps = 1): each user's lowest event_type
      // hashes under its public seed (md5(user_id) mod 1024 — the
      // engine's portable public-randomness convention) and the bucket
      // randomizes with p = e/(e+2) = 0.576 > 0.5, so zero noise keeps
      // every report truthful and the WHOLE derivation — hash, (seed,
      // bucket) cells, support grid (true hits + deterministic hash
      // collisions), debias — replays in SQL with the identical integer
      // mixer and round-trip double constants.
      graft.spark.LocalDP.ldpFrequencyOLH(events(s, dir), "user_id",
        col("event_type"), ldpDomain, epsilon = 1.0,
        noise = NoiseSource.Zero)
    }),
    "dp_ldp_olh_keyed" -> ((s, dir) => {
      // GROUPED LDP frequency (r17): value frequencies per PUBLIC
      // collector-metadata key (a pid-derived platform label here — the
      // key rides OUTSIDE the randomizer by contract; a private
      // grouping attribute must fold into the value instead). One
      // report per unit (the lowest (key, value) pair), per-key OLH
      // estimation. Zero noise => the whole per-key derivation replays
      // in SQL over the shared literal parameter table.
      val platform = element_at(
        typedLit(Seq("android", "ios", "web")),
        (pmod(col("user_id"), lit(3L)) + 1).cast("int"))
      graft.spark.LocalDP.ldpFrequencyOLHByKey(events(s, dir), "user_id",
        platform, col("event_type"), ldpDomain, epsilon = 1.0,
        noise = NoiseSource.Zero)
    }),
    "ss_dp_olh_fold" -> ((s, dir) => {
      // STREAMING OLH (r16): three unit-partitioned micro-batches
      // (user_id % 3 routes every unit's rows through ONE batch — the
      // ingest bounding contract) fold their (seed, bucket) cells into
      // the additive store; the estimate over the folded store must
      // hash-equal the one-shot dp_ldp_olh release — the oracle IS its
      // SQL (zero noise: identical truthful cells under any
      // unit-partitioned split).
      val ev = events(s, dir)
      val batches = Seq(0L, 1L, 2L).map(r =>
        ev.filter(pmod(col("user_id"), lit(3L)) === r))
      var store: Option[DataFrame] = None
      batches.foreach { b =>
        store = Some(graft.spark.LocalDP.olhIngestStep(b, store,
          "user_id", col("event_type"), ldpDomain, epsilon = 1.0,
          noise = NoiseSource.Zero).localCheckpoint(false))
      }
      graft.spark.LocalDP.olhEstimate(store.get, ldpDomain, epsilon = 1.0)
    }),
    "dp_ldp_range_tree" -> ((s, dir) => {
      // LOCAL-DP RANGE TREE (CKS hierarchical frequency oracle): units
      // md5-split into levels+1 groups, each OLH-reporting its value's
      // node at ITS level; the aggregator estimates every node of the
      // dyadic universe (debiased, population-scaled) — a released
      // TREE the central readouts consume as post-processing
      // (cdfFromTree/rangeQueries — the central/local bridge,
      // spec-pinned). eps = 4 (g = 55 — the heavy-hitter rationale).
      // Zero noise => every estimate is a deterministic function of
      // exact group counts + hash collisions; each dp_count is ONE
      // round(expr, 9) with an identical expression tree in SQL, so the
      // release hash-replays (the CDF's multi-term float SUMS would
      // not — which is why the gate row is the tree, not the CDF).
      graft.spark.LocalDP.ldpRangeTree(events(s, dir), "user_id",
          col("value"), lo = 0.0, hi = 1000.0, bins = 64,
          epsilon = 4.0, noise = NoiseSource.Zero)
        .select(col("__lvl").cast("long").as("lvl"),
          col("__idx").as("idx"), col("dp_count"))
    }),
    "dp_ldp_longitudinal" -> ((s, dir) => {
      // LONGITUDINAL LDP (RAPPOR's permanent-response memoization):
      // three repeated collections of the same unchanged values — each
      // (unit, value) report draws ONCE and later collections REUSE it,
      // so repeated telemetry costs one eps, not three. Zero noise: the
      // memoized reports are the truthful buckets, so the third
      // collection's estimate equals the one-shot dp_ldp_olh release
      // exactly (the oracle IS its SQL). Report reuse itself is
      // spec-pinned with a draw-counting source.
      val ev = events(s, dir)
      var store: Option[DataFrame] = None
      var est: DataFrame = null
      (1 to 3).foreach { _ =>
        val (e, grown) = graft.spark.LocalDP.ldpLongitudinalStep(ev,
          store, "user_id", col("event_type"), ldpDomain, epsilon = 1.0,
          noise = NoiseSource.Zero)
        est = e
        store = Some(grown)
      }
      est
    }),
    "dp_ldp_shuffle_accountant" -> ((s, dir) => {
      // ONE LEDGER ACROSS TRUST MODELS (r17): a NaiveBudgetAccountant
      // covers a CENTRAL tree release and a SHUFFLED LOCAL telemetry
      // release together. The shuffled handle registers as a generic
      // (eps, delta) mechanism, resolves (0.5, 1e-8) under the naive
      // split, and INVERTS the FMT'21 bound to the largest local eps0
      // that share buys at the PUBLIC planning cohort n = 100000 (the
      // tree-fleet convention: budget in, calibration out; production
      // must collect >= n reports — amplified eps is decreasing in n,
      // so more reports only tightens the guarantee). OLH then runs AT
      // the resolved eps0 (g = floor(e^eps0) + 1 buckets). Zero noise
      // => the whole composed release is deterministic: the OLH
      // derivation replays in SQL at the same g/p constants the oracle
      // builder derives from the SAME accountant math, the resolved
      // ledger numbers ride as literal columns (hash-pinning the
      // resolution), and the central tree's zero-noise root total rides
      // as the other mechanism's release evidence.
      val acc = new graft.core.NaiveBudgetAccountant(1.0, 1e-8)
      val sh = acc.requestShuffledLdpRelease(nReports = 100000L,
        name = "olh_telemetry")
      val t = acc.requestTreeRelease(bins = 64,
        graft.core.NoiseKind.Laplace, name = "central_tree")
      acc.computeBudgets()
      val eps0 = sh.localEpsilon
      val store = graft.spark.RangeTree.rangeTreeIngestStep(events(s, dir),
        None, "user_id", col("value"), Seq("event_type"), lo = 0.0,
        hi = 1000.0, bins = 64, maxPerUnit = 1000000L)
      val rootTotal = graft.spark.RangeTree.rangeTreeReleaseWithScale(
          store, Seq("event_type"), 64, t.perNodeScale, NoiseSource.Zero)
        .filter(col("__lvl") === 6) // log2(64): the per-key root row
        .agg(sum(col("dp_count")).as("tree_root_total"))
      graft.spark.LocalDP.ldpFrequencyOLH(events(s, dir), "user_id",
          col("event_type"), ldpDomain, epsilon = eps0,
          noise = NoiseSource.Zero)
        .withColumn("central_eps", lit(sh.centralEpsilon))
        .withColumn("central_delta", lit(sh.centralDelta))
        .withColumn("local_eps0", lit(eps0))
        .crossJoin(broadcast(rootTotal))
    }),
    "dp_ldp_heavy_hitters" -> ((s, dir) => {
      // LOCAL-DP HEAVY HITTERS (prefix-extension over OLH rounds — the
      // open-domain discovery a frequency oracle cannot do): each user's
      // value is a 4-hex-char string (60% of users planted on 4 heavy
      // values with distinct prefixes, the rest pseudo-uniform); round 1
      // estimates all 256 2-char prefixes from the even-pid group's
      // reports and keeps the top 8, round 2 estimates their 2048
      // 4-char extensions from the odd-pid group and releases the final
      // top 8. Zero noise => both rounds' estimates (true hits + hash
      // collisions, debiased) and both prunings are deterministic — the
      // WHOLE walk replays in SQL over the literal hash-parameter table.
      val hh = events(s, dir).select(col("user_id"),
        lower(lpad(expr(
          """hex(CASE WHEN user_id % 10 < 6 THEN (user_id % 4) * 4369
                      ELSE pmod(user_id * 48271 + 7, 65536) END)"""),
          4, "0")).as("hv"))
      graft.spark.LocalDP.ldpHeavyHitters(hh, "user_id", col("hv"),
        hexLen = 4, epsilon = 4.0, noise = NoiseSource.Zero,
        k = 8, rounds = 2)
    }),
    "dp_ldp_heavy_hitters_e2e" -> ((s, dir) => {
      // the END-TO-END open-domain loop (r17): string values (4 planted
      // heavy words on 80% of users, a rare_<id> singleton tail on the
      // rest — the open-domain telemetry shape) md5-prefix-encode to 4
      // hex chars, the 2-round walk discovers the hot HASHES, and the
      // reverse lookup joins them against the PUBLIC candidate catalog
      // (the distinct corpus values — the aggregator's side knowledge)
      // to release VALUES, not hashes. Pure post-processing of the DP
      // release against public data. Zero noise => encoding + walk +
      // pruning + lookup all replay in SQL; noise-floor hashes with no
      // catalog match drop (the documented inner-join convention).
      val v = when(pmod(col("user_id"), lit(10L)) < 8,
          concat(lit("heavy_"), pmod(col("user_id"), lit(4L)).cast("string")))
        .otherwise(concat(lit("rare_"), col("user_id").cast("string")))
      val src = events(s, dir).select(col("user_id"), v.as("w"))
      graft.spark.LocalDP.ldpHeavyHittersE2e(src, "user_id", col("w"),
        src.select(col("w")).distinct(), "w", hexLen = 4, epsilon = 4.0,
        noise = NoiseSource.Zero, k = 8, rounds = 2)
    }),
    "dp_ldp_mean" -> ((s, dir) => {
      // LOCAL DP mean (the 1-bit Duchi mechanism): each user's lowest
      // clamped value normalizes to [-1, 1] and reports ONE bit; the
      // release debiases mean(b)/t back to value units. Zero noise =>
      // b = sign(x), so the whole release replays deterministically
      // (plumbing pinned here; unbiasedness is spec-pinned under the
      // real randomizer).
      graft.spark.LocalDP.ldpMean(events(s, dir), "user_id",
        col("value"), lo = 0.0, hi = 1000.0, epsilon = 1.0,
        noise = NoiseSource.Zero)
    }),
    "dp_ldp_variance" -> ((s, dir) => {
      // LOCAL-DP variance (plug-in over two eps/2 Duchi bits per unit:
      // one for v, one for v^2). Zero noise => both bits are signs and
      // the whole release — clamp, normalize, debias, plug-in combine,
      // variance cap — replays deterministically in SQL.
      graft.spark.LocalDP.ldpVariance(events(s, dir), "user_id",
        col("value"), lo = 0.0, hi = 1000.0, epsilon = 1.0,
        noise = NoiseSource.Zero)
    }),
    "dp_ldp_longitudinal_mean" -> ((s, dir) => {
      // LONGITUDINAL NUMERIC LDP (r18 — the RAPPOR permanent-response
      // ledger over the Duchi 1-bit mean): three repeated collections
      // of the same unchanged values; each (unit, value) sign bit
      // draws ONCE and later collections REUSE it, so repeated
      // telemetry costs one eps, not three. Zero noise: memoized bits
      // are the deterministic signs, so the third collection's
      // estimate equals the one-shot dp_ldp_mean release exactly (the
      // oracle IS its SQL). Bit reuse is spec-pinned draw-counting.
      val ev = events(s, dir)
      var store: Option[DataFrame] = None
      var est: DataFrame = null
      (1 to 3).foreach { _ =>
        val (e, grown) = graft.spark.LocalDP.ldpLongitudinalMeanStep(ev,
          store, "user_id", col("value"), lo = 0.0, hi = 1000.0,
          epsilon = 1.0, noise = NoiseSource.Zero)
        est = e
        store = Some(grown)
      }
      est
    }),
    "dp_ldp_longitudinal_variance" -> ((s, dir) => {
      // the VARIANCE arm of the longitudinal numeric ledger: both
      // eps/2 moment bits memoize per (unit, value); third collection
      // == one-shot dp_ldp_variance (zero noise; the oracle IS its SQL)
      val ev = events(s, dir)
      var store: Option[DataFrame] = None
      var est: DataFrame = null
      (1 to 3).foreach { _ =>
        val (e, grown) = graft.spark.LocalDP.ldpLongitudinalVarianceStep(
          ev, store, "user_id", col("value"), lo = 0.0, hi = 1000.0,
          epsilon = 1.0, noise = NoiseSource.Zero)
        est = e
        store = Some(grown)
      }
      est
    }),
    "dp_ldp_range_tree_keyed" -> ((s, dir) => {
      // GROUPED LDP RANGE TREE (r18): per-platform value CDF telemetry
      // under the local trust model — the ldpFrequencyOLHByKey public-
      // key contract applied to the CKS hierarchical oracle. Event
      // units (the dp_ldp_range_2d rationale: every (key, level) group
      // must field reporters at all SFs), platform = pid-derived
      // public metadata, one report per unit across keys. Zero noise
      // => every dp_count is one round(expr, 9) over exact per-key
      // group counts + hash collisions — the whole keyed forest
      // hash-replays; the central keyed readouts consume the release
      // unchanged (spec-pinned).
      val platform = element_at(
        typedLit(Seq("android", "ios", "web")),
        (pmod(col("event_id"), lit(3L)) + 1).cast("int"))
      graft.spark.LocalDP.ldpRangeTreeByKey(events(s, dir), "event_id",
          platform, col("value"), lo = 0.0, hi = 1000.0, bins = 16,
          epsilon = 4.0, noise = NoiseSource.Zero)
        .select(col("key"), col("__lvl").cast("long").as("lvl"),
          col("__idx").as("idx"), col("dp_count"))
    }),
    "dp_ldp_range_2d" -> ((s, dir) => {
      // LOCAL-DP 2-D RANGE TREE (r18 — the dyadic PRODUCT mechanism
      // under the local trust model, closing the tree family's last
      // central/local asymmetry): units md5-split into 16 level-PAIR
      // groups, each OLH-reporting its (value-bin, hour-bin) pair's
      // product-node index at ITS (lvx, lvy); the aggregator estimates
      // every product node (debiased, population-scaled) — a released
      // PRODUCT TREE the central range2DQueries consumes as pure
      // post-processing (box readout spec-pinned). eps = 4 (g = 55,
      // the heavy-hitter rationale); binsX = binsY = 8. The privacy
      // unit is the EVENT (per-event telemetry — the shuffle-model
      // report shape): 16 level-pair groups need units >> groups, and
      // sf0.001's 15-user cohort cannot field them while its 1000
      // events can. Zero noise => every dp_count is one round(expr, 9)
      // of exact group counts + hash collisions — the tree hash-replays.
      graft.spark.LocalDP.ldpRange2DTree(events(s, dir), "event_id",
          col("value"), expr("hour(timestamp_micros(ts div 1000))"),
          loX = 0.0, hiX = 1000.0, binsX = 8,
          loY = 0.0, hiY = 32.0, binsY = 8,
          epsilon = 4.0, noise = NoiseSource.Zero)
        .select(col("__lvx").cast("long").as("lvx"),
          col("__idxx").as("idxx"), col("__lvy").cast("long").as("lvy"),
          col("__idxy").as("idxy"), col("dp_count"))
    }),
    "dp_add_noise" -> ((s, dir) => {
      // noise-only path on pre-aggregated data; zero noise => identity
      val pre = events(s, dir).groupBy("event_type")
        .agg(sum(floor(col("value"))).cast("double").as("total"))
      val engine = zeroEngine()
      val res = engine.addDpNoise(pre,
        AddDpNoiseParams(NoiseKind.Laplace, l0Sensitivity = Some(1),
          linfSensitivity = Some(1000.0)), Seq("total"))
      engine.accountant.computeBudgets()
      res.dataframe
    }),
    "dq_report" -> ((s, dir) => {
      // declarative data-quality verification (the Deequ shape): six
      // constraints over events in ONE aggregation pass — completeness,
      // key uniqueness, range, categorical domain (signup is deliberately
      // outside the allowed set, so the check FAILS with a real count),
      // RLIKE pattern, and a generic predicate with a real violation tail
      // (purchases over 350). Every metric is an exact integer.
      val ev = events(s, dir)
      DataQuality.verify(ev, Seq(
        NotNull("user_id_complete", col("user_id")),
        Unique("event_id_unique", Seq(col("event_id"))),
        InRange("value_in_0_400", col("value"), 0.0, 400.0),
        ContainedIn("known_types", col("event_type"),
          Seq("click", "error", "purchase", "view")),
        MatchesPattern("type_shape", col("event_type"), "^[a-z_]+$"),
        Satisfies("purchase_value_cap",
          col("event_type") =!= "purchase" || col("value") <= 350.0)))
    }),
    "dp_sparse_vector" -> ((s, dir) => {
      // SPARSE VECTOR (AboveThreshold, c = 7): scan the ordered
      // (event_type, user-bucket) cell-count candidates and release
      // WHICH exceed the "5% over the uniform share" threshold
      // T = 1.05 * total / 100 — paying budget only for the (at most 7)
      // above-answers; the mechanism HALTS at the 7th hit and later
      // queries release nothing (the threshold is scale-free, so the
      // halt BINDS at every sf; in production T is a public contract or
      // a DP-released total — here the deterministic derivation replays
      // in SQL). Zero noise => above iff count >= T, releases = the
      // first 7 in-order hits, the rest 'unanswered' — a window cumsum
      // the oracle replays (min(raw hits before, c) is exactly
      // n_released_before; answered iff raw hits before < c).
      val ev = events(s, dir)
      val thr = 1.05 * ev.count().toDouble / 100.0
      val cells = ev
        .groupBy(concat(col("event_type"), lit("|"),
          lpad(pmod(col("user_id"), lit(20L)).cast("string"), 2, "0"))
          .as("qid"))
        .agg(count(lit(1)).cast("double").as("v"))
      graft.spark.SparseVector.aboveThreshold(cells, "qid", col("v"),
          threshold = thr, epsilon = 1.0, sensitivity = 100.0, c = 7,
          noise = NoiseSource.Zero, valueEpsilon = 1.0)
        // the gate's null-sentinel convention (a_asof_join's -1): the
        // driver hashes stringified cells, so nullable release columns
        // coalesce to a sentinel in the PROJECTION (the API keeps NULL)
        .withColumn("noisy_value", coalesce(col("noisy_value"), lit(-1.0)))
    }),
    "dq_quarantine" -> ((s, dir) => {
      // row-level quarantine routing (the enforcement half of dq_report):
      // every event carries its declaration-ordered violation reasons +
      // validity; released as the (reasons, valid) -> count rollup so the
      // FULL routing decision for every row is hash-pinned. The rule mix
      // produces real violations (values over 400, the signup type, the
      // purchase cap) and exercises the Unique window (event_id is
      // genuinely unique, so it must flag nothing).
      val ev = events(s, dir)
      DataQuality.quarantine(ev, Seq(
        InRange("value_0_400", col("value"), 0.0, 400.0),
        ContainedIn("known_types", col("event_type"),
          Seq("click", "error", "purchase", "view")),
        Satisfies("purchase_value_cap",
          col("event_type") =!= "purchase" || col("value") <= 350.0),
        Unique("event_id_unique", Seq(col("event_id")))))
        .groupBy(concat_ws(";", col("dq_violations")).as("reasons"),
          col("dq_valid"))
        .agg(count(lit(1)).as("n_rows"))
    }),
    "dq_by_source" -> ((s, dir) => {
      // the per-group face: one quality report row per (source, check) —
      // "which source went bad" monitoring. Checks produce real per-group
      // variation (short docs violate the length floor per source; the
      // domain omits zh so every source carrying zh docs fails it).
      val docs = readParquet(s, s"$dir/documents.parquet")
      DataQuality.verifyByGroup(docs, Seq("source" -> col("source")), Seq(
        NotNull("text_complete", col("text")),
        Unique("doc_id_unique", Seq(col("doc_id"))),
        InRange("chars_100_600", col("n_chars"), 100.0, 600.0),
        ContainedIn("lang_domain", col("lang"), Seq("en", "de", "fr", "es"))))
    }),
    "dq_profile" -> ((s, dir) => {
      // column profiling (the Deequ ColumnProfiler shape): exact
      // row/null/distinct counts per column plus floor-integerized
      // numeric extremes and lexicographic string extremes — the
      // "what should I even check" report. One melt + two-phase
      // aggregation; every output exact.
      DataQuality.profileColumns(readParquet(s, s"$dir/customer.parquet"),
        Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"))
    }),
    "dq_top_values" -> ((s, dir) => {
      // the histogram half of the profiler: top-5 values per column by
      // exact count, ties by value ascending. Numerics surface through the
      // floor-integerized longs as strings (identical formatting in any
      // engine); c_mktsegment exercises real frequency ordering,
      // c_nationkey real ties.
      DataQuality.profileTopValues(readParquet(s, s"$dir/customer.parquet"),
        Seq("c_nationkey", "c_mktsegment"), k = 5)
    }),
    "stats_k_anonymity" -> ((s, dir) => {
      // pre-release anonymity audit: per threshold k, equivalence classes
      // (event_type, day) with < k members / < k distinct users — the
      // k-anonymity + l-diversity numbers a release review reads next to
      // the DP histograms. One QI hash-aggregate, |ks|-way fan-out.
      val ev = events(s, dir)
        .withColumn("day",
          tsDay)
      graft.stats.AnonymityAudit.audit(ev, Seq("event_type", "day"), "user_id")
    }),
    "papi_count_sum" -> ((s, dir) => {
      // PrivateDataFrame API: one accountant, map + two aggregations
      val acc = new NaiveBudgetAccountant(1e5, 0.999999)
      val p = PrivateDataFrame(events(s, dir), col("user_id"), acc, NoiseSource.Zero)
        .map("event_type" -> col("event_type"), "v" -> floor(col("value")))
      val params = PrivateAggParams(Seq("event_type" -> col("event_type")),
        maxPartitionsContributed = 5, maxContributionsPerPartition = Some(100),
        minValue = Some(0.0), maxValue = Some(1000.0))
      val counts = p.count(params)
      val sums = p.sum(col("v"), params)
      acc.computeBudgets()
      counts.dataframe.join(sums.dataframe, "event_type")
    }),
    // ---- §2.C.8 utility analysis ----
    "ua_per_partition" -> ((s, dir) => {
      // per-partition error moments for 2 parameter configurations in one
      // pass, public partitions (incl. one empty). All keep-probabilities are
      // dyadic (l0 in {1,2}, <= 2 partitions per user) and all clipped values
      // integer-valued, so every oracle-facing sum is exact in any order.
      import s.implicits._
      val ev = events(s, dir).filter(col("event_type").isin("click", "view"))
        .withColumn("v", floor(col("value")))
      val pub = Seq("click", "view", "ghost_type").toDF("event_type")
      val (_, per) = UtilityAnalysis.analyze(ev,
        DPColumns(col("user_id"), Seq("event_type" -> col("event_type")), Some(col("v"))),
        uaPublicOptions, Some(pub))
      per
    }),
    "ua_report" -> ((s, dir) => {
      // cross-partition utility report over the same analysis (global +
      // per-size-bucket rows); floats rounded to 9 decimals on both sides
      // (weighted cross-partition sums of irrational rmse terms are
      // order-sensitive in the last ulps)
      import s.implicits._
      val ev = events(s, dir).filter(col("event_type").isin("click", "view"))
        .withColumn("v", floor(col("value")))
      val pub = Seq("click", "view", "ghost_type").toDF("event_type")
      val (rep, _) = UtilityAnalysis.analyze(ev,
        DPColumns(col("user_id"), Seq("event_type" -> col("event_type")), Some(col("v"))),
        uaPublicOptions, Some(pub))
      val rounded = rep.schema.fields.map { f =>
        if (f.dataType == org.apache.spark.sql.types.DoubleType)
          round(col(f.name), 9).as(f.name)
        else col(f.name)
      }
      rep.select(rounded.toIndexedSeq: _*)
    }),
    "ua_private_keep_prob" -> ((s, dir) => {
      // private partition selection probability, Laplace thresholding. Every
      // user contributes to exactly 1 partition (pk = user_id % 10) and
      // l0 = 1, so each contributor survives bounding with probability 1 and
      // the Poisson-binomial PMF is a point mass: keep_prob equals the
      // strategy's exact formula, which the oracle replicates in SQL.
      val ev = events(s, dir).withColumn("pk", pmod(col("user_id"), lit(10L)))
      val (_, per) = UtilityAnalysis.analyze(ev,
        DPColumns(col("user_id"), Seq("pk" -> col("pk")), None),
        uaPrivateOptions, None)
      per.select(col("pk"), col("config_index"),
        round(col("keep_prob"), 9).as("keep_prob"),
        col("raw_privacy_id_count"), col("raw_count"),
        col("privacy_id_count_sum"), col("privacy_id_count_exp_l0_err"),
        col("privacy_id_count_noise_std"))
    }),
    "ua_multi_sum" -> ((s, dir) => {
      // multi-column utility analysis: SUM over two value columns in one
      // pass, each with its own bounds and noise std. Same dyadic-probability
      // discipline as ua_per_partition => oracle-exact.
      import s.implicits._
      val ev = events(s, dir).filter(col("event_type").isin("click", "view"))
      val mvCols = MultiValueColumns(col("user_id"),
        Seq("event_type" -> col("event_type")),
        Seq("a" -> floor(col("value")), "b" -> length(col("props")).cast("double")))
      val opts = UtilityAnalysisOptions(
        epsilon = 1.0, delta = 0.0, metrics = Seq(Metric.Sum),
        configs = Seq(UtilityAnalysisConfig(maxPartitionsContributed = 1)),
        publicPartitions = true)
      val pre = UtilityAnalysis.preAggregateMulti(ev, mvCols)
      val pub = Seq("click", "view", "ghost_type").toDF("event_type")
      UtilityAnalysis.perPartitionMetricsMultiSum(pre, Seq("event_type"),
        Seq("a", "b"), opts, Seq(Seq((0.0, 100.0), (0.0, 50.0))), Some(pub))
    }),
    "ua_partitions_summary" -> ((s, dir) => {
      // dataset-vs-public partition classification (one row)
      import s.implicits._
      val pub = Seq("click", "view", "ghost_type").toDF("event_type")
      UtilityAnalysis.publicPartitionsSummary(events(s, dir),
        Seq("event_type" -> col("event_type")), pub)
    }),
    "tune_params" -> ((s, dir) => {
      // parameter tuning: histogram-driven (l0, linf) candidates, utility
      // analysis over all of them in one pass, argmin RMSE. Fully
      // deterministic (error moments are pure math, no noise is drawn) but
      // the candidate grid + keep-prob machinery is not SQL-expressible =>
      // rows-only; numeric behavior covered by ParameterTuningSpec.
      // IN-QUERY PROBES (the rows-only convention): every row carries
      //   probe_best_gap_vs_min  — RMSE(chosen) - min(sweep RMSE); 0 means
      //     the selection really is the sweep argmin (guards a future
      //     selection rule drifting off the exact sweep);
      //   probe_gap_vs_single   — |RMSE(chosen) from the one-pass 9-config
      //     analysis - RMSE(chosen) from an INDEPENDENT single-config
      //     analysis run|, rounded at 1e-6; 0 means no cross-config
      //     interference in the shared-pass combiner packing.
      val ev = events(s, dir)
      val roles = DPColumns(col("user_id"), Seq("event_type" -> col("event_type")), None)
      val h = eventHistograms(s, dir)
      val opts = TuneOptions(2.0, 1e-5, Metric.Count, UtilityAnalysisConfig(1, 1),
        ParametersToTune(maxPartitionsContributed = true, maxContributionsPerPartition = true),
        numberOfParameterCandidates = 9)
      val (res, _, _) = ParameterTuning.tune(ev, roles, h, opts)
      val best = res.candidates(res.indexBest)
      val singleOpts = UtilityAnalysisOptions(opts.epsilon, opts.delta,
        Seq(opts.metric), Seq(best))
      val (rep1, _) = UtilityAnalysis.analyze(ev, roles, singleOpts, None)
      val rmseSingle = rep1.filter(col("bucket_lower") === -1L)
        .select(col("count_abs_rmse")).collect()(0).getDouble(0)
      val bestRmse = res.rmsePerCandidate(res.indexBest)
      val gapVsMin = math.rint((bestRmse - res.rmsePerCandidate.min) * 1e6) / 1e6
      val gapVsSingle = math.rint(math.abs(bestRmse - rmseSingle) * 1e6) / 1e6
      import s.implicits._
      res.candidates.zipWithIndex.map { case (c, i) =>
        (i, c.maxPartitionsContributed, c.maxContributionsPerPartition,
          c.noiseKind.toString, c.partitionSelectionStrategy.toString,
          math.rint(res.rmsePerCandidate(i) * 1e6) / 1e6, i == res.indexBest,
          gapVsMin, gapVsSingle)
      }.toDF("config_index", "l0", "linf", "noise_kind", "selection_strategy",
        "rmse", "is_best", "probe_best_gap_vs_min", "probe_gap_vs_single")
    }),
    "tune_params_fixed" -> ((s, dir) => {
      // the oracle-exact anchor for tune_params (the emb_kmeans_assign
      // move applied to tuning): a FIXED 2-candidate grid — the
      // uaPublicOptions configs — scored by tuneFixed with Zero noise
      // drawn anywhere (error moments are pure math), so the whole RMSE
      // table AND the argmin replay in SQL. Dyadic keep-probs and
      // integer-valued clipped counts keep every sum exact; rmse rounds
      // at 1e-9 on both sides (the ua_report convention) and the argmin
      // compares the ROUNDED values, which differ by orders of magnitude
      // here (noise std 4.2 vs 283).
      import s.implicits._
      val ev = events(s, dir).filter(col("event_type").isin("click", "view"))
        .withColumn("v", floor(col("value")))
      val pub = Seq("click", "view", "ghost_type").toDF("event_type")
      val roles = DPColumns(col("user_id"),
        Seq("event_type" -> col("event_type")), Some(col("v")))
      val opts = TuneOptions(1.0, 0.0, Metric.Count, UtilityAnalysisConfig(1, 1),
        ParametersToTune(maxPartitionsContributed = true,
          maxContributionsPerPartition = true),
        publicPartitions = true)
      val (res, _, _) = ParameterTuning.tuneFixed(ev, roles,
        uaPublicOptions.configs, opts, Some(pub))
      res.candidates.zipWithIndex.map { case (c, i) =>
        (i, c.maxPartitionsContributed, c.maxContributionsPerPartition,
          math.floor(res.rmsePerCandidate(i) * 1e9 + 0.5) / 1e9, i == res.indexBest)
      }.toDF("config_index", "l0", "linf", "rmse", "is_best")
    }),
    "tune_candidates" -> ((s, dir) => {
      // oracle-exact twin for tune_params: the DETERMINISTIC half of the
      // tuner — the histogram-driven candidate grid (geometric L0 × Linf
      // under the 9-candidate budget) — pinned against a SQL replay. The
      // oracle recomputes max-L0 (distinct partitions per user) and
      // max-Linf (contributions per user-partition) straight from events
      // and replays findCandidatesConstantRelativeStep: for n=3 the only
      // float step is ceil(sqrt(max)), which the SQL computes in exact
      // integer arithmetic (smallest k with k*k >= m).
      val h = eventHistograms(s, dir)
      val opts = TuneOptions(2.0, 1e-5, Metric.Count, UtilityAnalysisConfig(1, 1),
        ParametersToTune(maxPartitionsContributed = true, maxContributionsPerPartition = true),
        numberOfParameterCandidates = 9)
      import s.implicits._
      val cands = ParameterTuning.findCandidateParameters(h, opts)
      // the oracle hardcodes the 3x3 sqrt-ladder grid; the generator
      // reshapes it (4-point cube-root Linf ladders) when the dataset's
      // max L0 drops below 3 — fail HERE with the cause instead of a
      // silent oracle mismatch if a fixture refresh changes the shape
      require(cands.size == 9 &&
        cands.map(_.maxPartitionsContributed).distinct.size == 3,
        s"tune_candidates: oracle assumes the 3x3 candidate grid, generator " +
          s"produced ${cands.size} configs (" +
          s"${cands.map(_.maxPartitionsContributed).distinct.size} l0 values) " +
          "— the fixture's contribution profile changed; regenerate the oracle")
      cands.zipWithIndex.map {
        case (c, i) => (i, c.maxPartitionsContributed, c.maxContributionsPerPartition)
      }.toDF("config_index", "l0", "linf")
    }),
    "stats_error_estimate" -> ((s, dir) => {
      // histogram-only RMSE estimation (no pass over the data beyond the
      // histograms). Oracle-verified: the l0/linf ratio-dropped curves are
      // piecewise-linear with kinks exactly at the (unit-width) bin lowers,
      // so interpolation equals the direct sum(max(c - bound, 0))/sum(c)
      // form the SQL recomputes; the per-partition log-bin walk and the
      // estimator formula are replayed term-by-term. Rounding uses
      // floor(x*1e6 + 0.5) — identical bit-ops in both engines — to absorb
      // the one unordered float sum (over <= a handful of partition bins).
      val h = eventHistograms(s, dir)
      val est = HistogramErrorEstimator.forCount(h, 1.0, None, Metric.Count,
        NoiseKind.Laplace)
      import s.implicits._
      Seq((1, 1.0), (2, 5.0), (5, 100.0)).map { case (l0, linf) =>
        (l0, linf, math.floor(est.estimateRmse(l0, Some(linf)) * 1e6 + 0.5) / 1e6)
      }.toDF("l0_bound", "linf_bound", "estimated_rmse")
    }),
    "stats_l0_histogram" -> ((s, dir) => {
      // log-binned L0 contribution histogram (bins < 1000 are unit-width,
      // so the oracle is exact)
      val h = eventHistograms(s, dir)
      import s.implicits._
      h.l0Contributions.bins.map(b => (b.lower.toLong, b.count, b.sum))
        .toDF("bin_lower", "n_units", "total_contribs")
    }),
    "stats_linf_histogram" -> ((s, dir) => {
      val h = eventHistograms(s, dir)
      import s.implicits._
      h.linfContributions.bins.map(b => (b.lower.toLong, b.count, b.sum))
        .toDF("bin_lower", "n_pairs", "total_rows")
    }),
    "stats_private_l0" -> ((s, dir) => {
      // DP choice of max_partitions_contributed via exponential mechanism;
      // huge calculation eps => the softmax weights of all non-argmax
      // candidates underflow to exactly 0.0, so the pick is the
      // deterministic argmax of score(k) — which the SQL oracle recomputes
      // (unit-width l0 bins make impact_dropped an exact integer sum)
      val ev = events(s, dir)
      val h = eventHistograms(s, dir)
      val nPartitions = ev.select("event_type").distinct().count()
      val k = graft.stats.PrivateL0Calculator.calculate(
        graft.stats.CalculatePrivateContributionBoundsParams(
          NoiseKind.Laplace, aggregationEps = 1.0, aggregationDelta = 0.0,
          calculationEps = 1e6, maxPartitionsContributedUpperBound = 100),
        nPartitions, h, NoiseSource.Zero)
      import s.implicits._
      Seq((k, nPartitions)).toDF("private_l0_bound", "n_partitions")
    }),
    "dp_transitions" -> ((s, dir) => {
      // user-level DP release of the Markov transition matrix: privacy
      // unit = user, partition key = (prev, cur) cell, Count metric with
      // per-cell contribution capping (L0 <= |types|^2 = 25, generous
      // Linf). The lagged-pair preprocessing is per-user row derivation,
      // so the engine's bounding applies cleanly. Zero noise +
      // non-binding caps => exactly the a_transition_matrix counts.
      // the SAME pair derivation as a_transition_matrix (shared helper)
      val pairs = graft.ops.EventAnalytics.transitionPairs(
        events(s, dir).withColumn("tu", expr("ts div 1000")),
        "user_id", "tu", "event_type", "event_id")
      runZero(pairs,
        AggregateParams(metrics = Seq(Metric.Count),
          maxPartitionsContributed = 25,
          maxContributionsPerPartition = Some(10000)),
        DPColumns(col("u"),
          Seq("prev" -> col("prev"), "cur" -> col("cur")), None))
    }),
    "dp_growth" -> ((s, dir) => {
      // user-level DP growth accounting: each (day, kind) cell released
      // as a privacy-id count — a user contributes at most one row per
      // active day (the classification derives from their own history via
      // the SAME shared helper as growth_accounting), L0 bounded at 40 —
      // above the 30-day fixture span, so the bound never binds. Zero
      // noise + non-binding bound => exactly the exact decomposition, as
      // doubles.
      val kinds = graft.ops.EventAnalytics.activityKinds(
        events(s, dir).withColumn("tstamp", expr("timestamp_micros(ts div 1000)")),
        "user_id", "tstamp", resurrectDays = 7)
      runZero(kinds,
        AggregateParams(metrics = Seq(Metric.PrivacyIdCount),
          maxPartitionsContributed = 40),
        DPColumns(col("u"),
          Seq("day" -> col("day"), "kind" -> col("kind")), None))
    }),
    "stats_join_skew" -> ((s, dir) => {
      // pre-join skew diagnostic: the EXACT output cardinality a
      // lineitem x orders equi-join would produce, computed from per-key
      // counts (sum of count_a * count_b) without running the join —
      // plus the hottest key's share (p_max) and one-sided key counts.
      // THE number a 100 TB pipeline checks before choosing salting /
      // AQE skew handling; two map-side-combined aggregates and a
      // key-count join that never touches fact rows.
      val a = readParquet(s, s"$dir/lineitem.parquet")
        .groupBy(col("l_orderkey").as("k")).agg(count(lit(1)).as("ca"))
      val b = readParquet(s, s"$dir/orders.parquet")
        .groupBy(col("o_orderkey").as("k")).agg(count(lit(1)).as("cb"))
      a.join(b, Seq("k"), "full_outer")
        .agg(
          sum(when(col("ca").isNotNull && col("cb").isNotNull, 1L)
            .otherwise(0L)).as("n_keys_both"),
          sum(when(col("cb").isNull, 1L).otherwise(0L)).as("n_keys_left_only"),
          sum(when(col("ca").isNull, 1L).otherwise(0L)).as("n_keys_right_only"),
          sum(coalesce(col("ca"), lit(0L)) * coalesce(col("cb"), lit(0L)))
            .as("total_pairs"),
          max(coalesce(col("ca"), lit(0L)) * coalesce(col("cb"), lit(0L)))
            .as("max_pairs"))
        .withColumn("p_max",
          col("max_pairs").cast("double") / col("total_pairs").cast("double"))
    }),
    "stats_profile" -> ((s, dir) => {
      // data-profiling card: per-column null count, distinct count, and
      // type-appropriate min/max/avg-length facts over documents, in ONE
      // pass (a single aggregate row, posexploded to per-column rows) —
      // the first query a pipeline runs against an unknown 100 TB table.
      val d = readParquet(s, s"$dir/documents.parquet")
      d.agg(
          count(lit(1)).as("n_rows"),
          sum(col("text").isNull.cast("long")).as("text_nulls"),
          countDistinct(col("lang")).as("lang_distinct"),
          countDistinct(col("source")).as("source_distinct"),
          min("n_chars").as("n_chars_min"), max("n_chars").as("n_chars_max"),
          sum("n_chars").as("n_chars_sum"),
          sum(length(col("text")).cast("long")).as("text_len_sum"))
        .select(explode(array(
          struct(lit("n_rows").as("stat"), col("n_rows").as("value")),
          struct(lit("text_nulls").as("stat"), col("text_nulls").as("value")),
          struct(lit("lang_distinct").as("stat"), col("lang_distinct").as("value")),
          struct(lit("source_distinct").as("stat"), col("source_distinct").as("value")),
          struct(lit("n_chars_min").as("stat"), col("n_chars_min").as("value")),
          struct(lit("n_chars_max").as("stat"), col("n_chars_max").as("value")),
          struct(lit("n_chars_sum").as("stat"), col("n_chars_sum").as("value")),
          struct(lit("text_len_sum").as("stat"), col("text_len_sum").as("value")))))
        .select(col("col.stat").as("stat"), col("col.value").as("value"))
    }),
    "dp_retention" -> ((s, dir) => {
      // USER-LEVEL DP release of the cohort-retention matrix — the core
      // engine applied to the analytics tier's most privacy-sensitive
      // rollup. Privacy unit = user; partition key = (cohort_day,
      // week_offset); a user contributes one row per retained week, all
      // under ONE cohort (their own), so L0 = weeks-spanned, bounded at
      // 10 (non-binding on 30-day data => Zero-noise output equals the
      // exact cohort_retention counts).
      // the SAME cell derivation as cohort_retention (shared helper — the
      // exact query and its DP twin cannot drift apart)
      val cells = graft.ops.EventAnalytics.retentionCells(
        events(s, dir).withColumn("tstamp", expr("timestamp_micros(ts div 1000)")),
        "user_id", "tstamp")
      runZero(cells,
        AggregateParams(metrics = Seq(Metric.PrivacyIdCount),
          maxPartitionsContributed = 10),
        DPColumns(col("u"),
          Seq("cohort_day" -> col("cohort_day"),
            "week_offset" -> col("week_offset")), None))
    }),
    "dp_funnel_users" -> ((s, dir) => {
      // DP funnel: per-step distinct-user counts released under user-level
      // DP (partition key = step; a user reaches each step at most once,
      // => Linf = 1 by construction and L0 <= #steps). Zero noise + a
      // non-binding L0 bound => exactly the funnel_conversion counts, as
      // doubles.
      val entries = graft.ops.EventAnalytics.funnelEntryFrames(
        events(s, dir).withColumn("tstamp", expr("timestamp_micros(ts div 1000)")),
        "user_id", "tstamp", "event_type", Seq("view", "click", "purchase"))
      val tagged = entries.zip(Seq("1_view", "2_click", "3_purchase"))
        .map { case (f, tag) => f.select(col("u"), lit(tag).as("step")) }
        .reduce(_.unionByName(_))
      runZero(tagged,
        AggregateParams(metrics = Seq(Metric.PrivacyIdCount),
          maxPartitionsContributed = 3),
        DPColumns(col("u"), Seq("step" -> col("step")), None))
    })
  )

  /** The shared value-binning CTE of the four dp_range_* oracles — one
    * definition so the bin arithmetic (floor / clamp to [0, 63] at width
    * 15.625 over [0, 1000)) cannot drift between them. */
  private val rangeBinSql =
    """b AS (
         SELECT event_type,
                CAST(least(greatest(floor(value / 15.625), 0), 63) AS BIGINT) AS bin
         FROM events)"""

  /** The generated (lvl, idx, key) node universe + exact node counts —
    * shared by dp_range_tree and dp_range_consistent (the zero-noise OLS
    * projection is the identity, spec-proven, so both replay the same
    * exact tree). */
  private[graft] val rangeTreeSql =
    s"""WITH $rangeBinSql,
        lv AS (SELECT unnest(range(0, 7)) AS lvl),
        nodes AS (
          SELECT l.lvl, g.idx, k.event_type
          FROM lv l, (SELECT unnest(range(0, 64)) AS idx) g,
               (SELECT DISTINCT event_type FROM events) k
          WHERE g.idx < 64 // (1 << l.lvl)),
        c AS (SELECT l.lvl, b.bin >> l.lvl AS idx, b.event_type,
                     count(*) AS n
              FROM b CROSS JOIN lv l GROUP BY 1, 2, 3)
        SELECT CAST(n.lvl AS BIGINT) AS lvl, CAST(n.idx AS BIGINT) AS idx,
               n.event_type, CAST(coalesce(c.n, 0) AS DOUBLE) AS dp_count
        FROM nodes n LEFT JOIN c ON c.lvl = n.lvl AND c.idx = n.idx
          AND c.event_type = n.event_type"""

  /** The shared 2-D binning CTE of the dp_range_2d* oracles: x = value
    * clamped into 16 bins of width 62.5 over [0, 1000); y = the UTC hour
    * of ts, which IS its bin index over [0, 32) at width 1 (hours 0-23;
    * bins 24-31 provably empty, still released). One definition so the
    * bin arithmetic cannot drift between the tree and the box replay. */
  private val range2DBinSql =
    """b AS (
         SELECT event_type,
                CAST(least(greatest(floor(value / 62.5), 0), 15) AS BIGINT) AS bx,
                CAST(least(greatest(floor(CAST(extract(hour FROM ts) AS DOUBLE) / 1.0), 0), 31) AS BIGINT) AS by
         FROM events)"""

  /** The generated 4-D product-node universe + exact node counts —
    * shared by dp_range_2d and the streaming fold ss_range_2d_fold (zero
    * noise + non-binding caps: the fold over any batch split releases
    * the identical one-shot tree). */
  private[graft] val range2DTreeSql =
    s"""WITH $range2DBinSql,
        lx AS (SELECT unnest(range(0, 5)) AS lvx),
        ly AS (SELECT unnest(range(0, 6)) AS lvy),
        nodes AS (
          SELECT lx.lvx, gx.idxx, ly.lvy, gy.idxy, k.event_type
          FROM lx, (SELECT unnest(range(0, 16)) AS idxx) gx,
               ly, (SELECT unnest(range(0, 32)) AS idxy) gy,
               (SELECT DISTINCT event_type FROM events) k
          WHERE gx.idxx < 16 // (1 << lx.lvx)
            AND gy.idxy < 32 // (1 << ly.lvy)),
        c AS (SELECT lx.lvx, b.bx >> lx.lvx AS idxx,
                     ly.lvy, b.by >> ly.lvy AS idxy,
                     b.event_type, count(*) AS n
              FROM b CROSS JOIN lx CROSS JOIN ly
              GROUP BY 1, 2, 3, 4, 5)
        SELECT CAST(n.lvx AS BIGINT) AS lvx,
               CAST(n.idxx AS BIGINT) AS idxx,
               CAST(n.lvy AS BIGINT) AS lvy,
               CAST(n.idxy AS BIGINT) AS idxy,
               n.event_type, CAST(coalesce(c.n, 0) AS DOUBLE) AS dp_count
        FROM nodes n LEFT JOIN c ON c.lvx = n.lvx AND c.idxx = n.idxx
          AND c.lvy = n.lvy AND c.idxy = n.idxy
          AND c.event_type = n.event_type"""

  /** The LDP row's public domain — one definition for the query and the
    * oracle (the closed-domain contract makes drift fail loud). */
  private val ldpDomain = Seq("click", "error", "purchase", "signup", "view")

  /** The 2-round heavy-hitter walk's CTE chain (hexLen 4, eps 4, k 8),
    * parameterized by the `src(pid, v)` definition — ONE definition for
    * the raw-hash row and the e2e row, so the walk replay cannot drift
    * between them. Both OLH rounds over the shared literal parameter
    * table: group/seed from the md5 of the pid (h64 % 2 and
    * (h64 // 2) % 1024 — the decorrelated public randomness), prefix
    * index = the hex prefix's numeric value (CONCAT('0x', ...) parses
    * the same longs conv() produces engine-side). eps = 4 (the
    * deployed-telemetry scale): at eps = 1 the g = 3 collision variance
    * swamps any real signal — discovery NEEDS the larger g = 55 bucket
    * space (measured, r16). Ends at `topk` (the ranked final-round
    * top-8); callers append their final SELECT (and any extra CTEs
    * AFTER a comma). */
  private def hhWalkCtes(srcSql: String): String = {
    val expEps = math.exp(4.0)
    val g = math.floor(expEps).toLong + 1L
    val invG = 1.0 / g
    val pMinusInv = expEps / (expEps + g - 1) - invG
    val prime = graft.spark.LocalDP.OlhPrime
    val paramValues = graft.spark.LocalDP.olhParams(1024).zipWithIndex
      .map { case ((a, b), s) => s"($s, $a, $b)" }.mkString(", ")
    s"""WITH hp(seed, a, b) AS (VALUES $paramValues),
        src AS ($srcSql),
        u AS (SELECT pid, min(v) AS v FROM src GROUP BY 1),
        uh AS (SELECT pid, v,
                      CAST(CONCAT('0x', substr(md5(CAST(pid AS VARCHAR)),
                           1, 15)) AS BIGINT) AS h64
               FROM u),
        r0 AS (SELECT (h64 // 2) % 1024 AS seed, substr(v, 1, 2) AS pfx
               FROM uh WHERE h64 % 2 = 0),
        rep0 AS (
          SELECT r0.seed,
                 ((hp.a * CAST(CONCAT('0x', pfx) AS BIGINT) + hp.b)
                   % $prime) % $g AS y
          FROM r0 JOIN hp ON hp.seed = r0.seed),
        cells0 AS (SELECT seed, y, CAST(count(*) AS BIGINT) AS c
                   FROM rep0 GROUP BY 1, 2),
        n0 AS (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS n FROM cells0),
        cand0 AS (SELECT lpad(lower(hex(i)), 2, '0') AS value
                  FROM range(0, 256) t(i)),
        grid0 AS (
          SELECT c0.value, s.seed,
                 ((hp.a * CAST(CONCAT('0x', c0.value) AS BIGINT) + hp.b)
                   % $prime) % $g AS h
          FROM cand0 c0
          CROSS JOIN (SELECT DISTINCT seed FROM cells0) s
          JOIN hp ON hp.seed = s.seed),
        sup0 AS (
          SELECT grid0.value,
                 CAST(coalesce(sum(cells0.c), 0) AS BIGINT) AS support
          FROM grid0 LEFT JOIN cells0
            ON cells0.seed = grid0.seed AND cells0.y = grid0.h
          GROUP BY 1),
        top0 AS (
          SELECT value FROM (
            SELECT value,
                   row_number() OVER (ORDER BY
                     round((support - (SELECT n FROM n0) * $invG)
                           / $pMinusInv, 9) DESC, value ASC) AS rk
            FROM sup0) WHERE rk <= 8),
        cand1 AS (
          SELECT t0.value || lpad(lower(hex(i)), 2, '0') AS value
          FROM top0 t0 CROSS JOIN range(0, 256) t(i)),
        r1 AS (SELECT (h64 // 2) % 1024 AS seed, v AS pfx
               FROM uh WHERE h64 % 2 = 1),
        rep1 AS (
          SELECT r1.seed,
                 ((hp.a * CAST(CONCAT('0x', pfx) AS BIGINT) + hp.b)
                   % $prime) % $g AS y
          FROM r1 JOIN hp ON hp.seed = r1.seed),
        cells1 AS (SELECT seed, y, CAST(count(*) AS BIGINT) AS c
                   FROM rep1 GROUP BY 1, 2),
        n1 AS (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS n FROM cells1),
        grid1 AS (
          SELECT c1.value, s.seed,
                 ((hp.a * CAST(CONCAT('0x', c1.value) AS BIGINT) + hp.b)
                   % $prime) % $g AS h
          FROM cand1 c1
          CROSS JOIN (SELECT DISTINCT seed FROM cells1) s
          JOIN hp ON hp.seed = s.seed),
        sup1 AS (
          SELECT grid1.value,
                 CAST(coalesce(sum(cells1.c), 0) AS BIGINT) AS support
          FROM grid1 LEFT JOIN cells1
            ON cells1.seed = grid1.seed AND cells1.y = grid1.h
          GROUP BY 1),
        est1 AS (
          SELECT value, (SELECT n FROM n1) AS n_reports, support,
                 round((support - (SELECT n FROM n1) * $invG)
                       / $pMinusInv, 9) AS est_count
          FROM sup1),
        topk AS (
          SELECT value, est_count, support, n_reports,
                 CAST(rk AS BIGINT) AS rk
          FROM (SELECT *, row_number() OVER (
                  ORDER BY est_count DESC, value ASC) AS rk
                FROM est1)
          WHERE rk <= 8)"""
  }


  /** The zero-noise 1-bit Duchi mean replay — ONE definition for the
    * one-shot dp_ldp_mean row and the longitudinal memo twin (r18:
    * memoized bits equal the deterministic sign bits for unchanged
    * values, so every collection equals the one-shot release). */
  private lazy val ldpMeanSql: String = {
    val t = (math.exp(1.0) - 1.0) / (math.exp(1.0) + 1.0)
    // zero-noise report = sign((v - 500)/500); ties (v == 500) -> -1
    s"""WITH r AS (
          SELECT user_id, min(least(greatest(value, 0.0), 1000.0)) AS v
          FROM events GROUP BY 1),
        b AS (SELECT CASE WHEN (v - 500.0) / 500.0 > 0 THEN 1
                          ELSE -1 END AS b FROM r)
        SELECT CAST(count(*) AS BIGINT) AS n_reports,
               CAST(count(*) FILTER (b = 1) AS BIGINT)
                 AS reported_plus_ones,
               round(least(greatest(
                 500.0 + (CAST(sum(b) AS DOUBLE)
                          / CAST(count(*) AS DOUBLE)) / $t * 500.0,
                 0.0), 1000.0), 9) AS est_mean
        FROM b"""
  }

  /** The zero-noise two-bit Duchi variance replay — ONE definition for
    * the one-shot dp_ldp_variance row and its longitudinal memo twin. */
  private lazy val ldpVarianceSql: String = {
    // zero-noise bits are signs: b1 = sign(v - 500) (ties -> -1),
    // b2 = sign(v^2 - 500000); t at eps/2 enters as the round-trip
    // double; est_variance combines the ROUNDED released moments
    // exactly as the engine's withColumn does
    val t = (math.exp(0.5) - 1.0) / (math.exp(0.5) + 1.0)
    s"""WITH r AS (
          SELECT user_id,
                 min(least(greatest(CAST(value AS DOUBLE), 0.0),
                     1000.0)) AS v
          FROM events GROUP BY 1),
        b AS (
          SELECT CASE WHEN (v - 500.0) / 500.0 > 0 THEN 1
                      ELSE -1 END AS b1,
                 CASE WHEN (v * v - 500000.0) / 500000.0 > 0 THEN 1
                      ELSE -1 END AS b2
          FROM r),
        a AS (
          SELECT CAST(count(*) AS BIGINT) AS n_reports,
                 CAST(sum(b1) AS DOUBLE) AS s1,
                 CAST(sum(b2) AS DOUBLE) AS s2
          FROM b),
        sel AS (
          SELECT n_reports,
                 round(least(greatest(
                   500.0 + (s1 / n_reports) / $t * 500.0, 0.0),
                   1000.0), 9) AS est_mean,
                 round(least(greatest(
                   500000.0 + (s2 / n_reports) / $t * 500000.0, 0.0),
                   1000000.0), 9) AS est_m2
          FROM a)
        SELECT n_reports, est_mean, est_m2,
               round(least(greatest(est_m2 - est_mean * est_mean,
                     0.0), 250000.0), 9) AS est_variance
        FROM sel"""
  }

  /** The 1-D LDP hierarchical-oracle replay -- shared by the one-shot
    * dp_ldp_range_tree row and the streaming fold ss_dp_ldp_tree_fold
    * (zero noise: identical truthful cells under any unit-partitioned
    * split, the ss_dp_olh_fold convention). */
  private lazy val ldpRangeTreeSql: String = {
        // the hierarchical-oracle replay: md5 group/seed split, per-level
        // OLH over node indices, debias + population scaling — every
        // dp_count one round(expr, 9) with the identical expression tree
        // (eps = 4: g = 55; bins = 64: width 15.625 and the clamp edge
        // 992.1875 are exact binary doubles, so the bin arithmetic
        // replays bit-exactly)
        val expEps = math.exp(4.0)
        val g = math.floor(expEps).toLong + 1L
        val invG = 1.0 / g
        val pMinusInv = expEps / (expEps + g - 1) - invG
        val prime = graft.spark.LocalDP.OlhPrime
        val paramValues = graft.spark.LocalDP.olhParams(1024).zipWithIndex
          .map { case ((a, b), s) => s"($s, $a, $b)" }.mkString(", ")
        s"""WITH hp(seed, a, b) AS (VALUES $paramValues),
            u AS (
              SELECT CAST(user_id AS BIGINT) AS pid,
                     min(least(greatest(CAST(value AS DOUBLE), 0.0),
                               992.1875)) AS val
              FROM events GROUP BY 1),
            uh AS (
              SELECT CAST(floor(val / 15.625) AS BIGINT) AS bin,
                     CAST(CONCAT('0x', substr(md5(CAST(pid AS VARCHAR)),
                          1, 15)) AS BIGINT) AS h64
              FROM u),
            r AS (
              SELECT CAST(h64 % 7 AS INT) AS lvl,
                     (h64 // 7) % 1024 AS seed,
                     bin >> CAST(h64 % 7 AS INT) AS idx
              FROM uh),
            rep AS (
              SELECT r.lvl, r.seed,
                     ((hp.a * r.idx + hp.b) % $prime) % $g AS y
              FROM r JOIN hp ON hp.seed = r.seed),
            cells AS (
              SELECT lvl, seed, y, CAST(count(*) AS BIGINT) AS c
              FROM rep GROUP BY 1, 2, 3),
            ntot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cells),
            nl AS (SELECT lvl, CAST(sum(c) AS BIGINT) AS nl
                   FROM cells GROUP BY 1),
            nodes AS (
              SELECT CAST(l.lvl AS INT) AS lvl, i.idx
              FROM range(0, 7) l(lvl) CROSS JOIN range(0, 64) i(idx)
              WHERE i.idx < (64 >> l.lvl)),
            seeds AS (SELECT DISTINCT lvl, seed FROM cells),
            grid AS (
              SELECT nodes.lvl, nodes.idx, seeds.seed,
                     ((hp.a * nodes.idx + hp.b) % $prime) % $g AS h
              FROM nodes JOIN seeds ON seeds.lvl = nodes.lvl
                         JOIN hp ON hp.seed = seeds.seed),
            sup AS (
              SELECT grid.lvl, grid.idx,
                     CAST(coalesce(sum(cells.c), 0) AS BIGINT) AS sup
              FROM grid LEFT JOIN cells
                ON cells.lvl = grid.lvl AND cells.seed = grid.seed
                   AND cells.y = grid.h
              GROUP BY 1, 2)
            SELECT CAST(sup.lvl AS BIGINT) AS lvl, sup.idx AS idx,
                   round((sup.sup - nl.nl * $invG) / $pMinusInv *
                         (CAST((SELECT n FROM ntot) AS DOUBLE) / nl.nl), 9)
                     AS dp_count
            FROM sup JOIN nl ON nl.lvl = sup.lvl"""
  }

  /** The keyed LDP range-tree replay (r18): the 1-D hierarchical-oracle
    * derivation with a public platform-key dimension — per-(key, level)
    * group counts, per-key population scaling. Event units; bins = 16
    * over [0, 1000) (width 62.5, clamp edge 968.75 — exact binary). */
  private lazy val ldpRangeTreeKeyedSql: String = {
    val expEps = math.exp(4.0)
    val g = math.floor(expEps).toLong + 1L
    val invG = 1.0 / g
    val pMinusInv = expEps / (expEps + g - 1) - invG
    val prime = graft.spark.LocalDP.OlhPrime
    val paramValues = graft.spark.LocalDP.olhParams(1024).zipWithIndex
      .map { case ((a, b), s) => s"($s, $a, $b)" }.mkString(", ")
    s"""WITH hp(seed, a, b) AS (VALUES $paramValues),
        u AS (
          SELECT CAST(event_id AS BIGINT) AS pid,
                 CASE CAST(event_id AS BIGINT) % 3
                   WHEN 0 THEN 'android' WHEN 1 THEN 'ios'
                   ELSE 'web' END AS k,
                 least(greatest(CAST(value AS DOUBLE), 0.0), 968.75) AS val
          FROM events),
        uh AS (
          SELECT k, CAST(floor(val / 62.5) AS BIGINT) AS bin,
                 CAST(CONCAT('0x', substr(md5(CAST(pid AS VARCHAR)),
                      1, 15)) AS BIGINT) AS h64
          FROM u),
        r AS (
          SELECT k, CAST(h64 % 5 AS INT) AS lvl,
                 (h64 // 5) % 1024 AS seed,
                 bin >> CAST(h64 % 5 AS INT) AS idx
          FROM uh),
        rep AS (
          SELECT r.k, r.lvl, r.seed,
                 ((hp.a * r.idx + hp.b) % $prime) % $g AS y
          FROM r JOIN hp ON hp.seed = r.seed),
        cells AS (
          SELECT k, lvl, seed, y, CAST(count(*) AS BIGINT) AS c
          FROM rep GROUP BY 1, 2, 3, 4),
        nk AS (SELECT k, CAST(sum(c) AS BIGINT) AS nk
               FROM cells GROUP BY 1),
        nkl AS (SELECT k, lvl, CAST(sum(c) AS BIGINT) AS nkl
                FROM cells GROUP BY 1, 2),
        nodes AS (
          SELECT CAST(l.lvl AS INT) AS lvl, i.idx
          FROM range(0, 5) l(lvl) CROSS JOIN range(0, 16) i(idx)
          WHERE i.idx < (16 >> l.lvl)),
        seeds AS (SELECT DISTINCT k, lvl, seed FROM cells),
        grid AS (
          SELECT seeds.k, nodes.lvl, nodes.idx, seeds.seed,
                 ((hp.a * nodes.idx + hp.b) % $prime) % $g AS h
          FROM nodes JOIN seeds ON seeds.lvl = nodes.lvl
                     JOIN hp ON hp.seed = seeds.seed),
        sup AS (
          SELECT grid.k, grid.lvl, grid.idx,
                 CAST(coalesce(sum(cells.c), 0) AS BIGINT) AS sup
          FROM grid LEFT JOIN cells
            ON cells.k = grid.k AND cells.lvl = grid.lvl
               AND cells.seed = grid.seed AND cells.y = grid.h
          GROUP BY 1, 2, 3)
        SELECT sup.k AS key, CAST(sup.lvl AS BIGINT) AS lvl,
               sup.idx AS idx,
               round((sup.sup - nkl.nkl * $invG) / $pMinusInv *
                     (CAST(nk.nk AS DOUBLE) / nkl.nkl), 9) AS dp_count
        FROM sup JOIN nkl ON nkl.k = sup.k AND nkl.lvl = sup.lvl
                 JOIN nk ON nk.k = sup.k"""
  }

  /** The LDP 2-D product-tree replay (r18): md5 level-PAIR group split,
    * per-group OLH over product-node indices, debias + population
    * scaling — the [[ldpRangeTree]] oracle generalized to the dyadic
    * product. eps = 4 (g = 55); binsX = 8 over [0, 1000) (width 125,
    * clamp edge 937.5) x binsY = 8 over [0, 32) (width 4, clamp edge
    * 30) — all exact binary doubles, so the bin arithmetic replays
    * bit-exactly. */
  private lazy val ldpRange2DSql: String = {
    val expEps = math.exp(4.0)
    val g = math.floor(expEps).toLong + 1L
    val invG = 1.0 / g
    val pMinusInv = expEps / (expEps + g - 1) - invG
    val prime = graft.spark.LocalDP.OlhPrime
    val paramValues = graft.spark.LocalDP.olhParams(1024).zipWithIndex
      .map { case ((a, b), s) => s"($s, $a, $b)" }.mkString(", ")
    s"""WITH hp(seed, a, b) AS (VALUES $paramValues),
        u AS (
          SELECT pid, x, y FROM (
            SELECT CAST(event_id AS BIGINT) AS pid,
                   least(greatest(CAST(value AS DOUBLE), 0.0), 937.5)
                     AS x,
                   least(greatest(CAST(extract(hour FROM ts) AS DOUBLE),
                     0.0), 30.0) AS y,
                   row_number() OVER (PARTITION BY event_id
                     ORDER BY least(greatest(CAST(value AS DOUBLE), 0.0),
                       937.5) ASC,
                       least(greatest(CAST(extract(hour FROM ts)
                         AS DOUBLE), 0.0), 30.0) ASC) AS rk
            FROM events) WHERE rk = 1),
        uh AS (
          SELECT CAST(floor(x / 125.0) AS BIGINT) AS bx,
                 CAST(floor(y / 4.0) AS BIGINT) AS by,
                 CAST(CONCAT('0x', substr(md5(CAST(pid AS VARCHAR)),
                      1, 15)) AS BIGINT) AS h64
          FROM u),
        r AS (
          SELECT CAST((h64 % 16) % 4 AS INT) AS lvx,
                 CAST((h64 % 16) // 4 AS INT) AS lvy,
                 (h64 // 16) % 1024 AS seed,
                 (bx >> CAST((h64 % 16) % 4 AS INT))
                   * (8 >> CAST((h64 % 16) // 4 AS INT))
                   + (by >> CAST((h64 % 16) // 4 AS INT)) AS idx
          FROM uh),
        rep AS (
          SELECT r.lvx, r.lvy, r.seed,
                 ((hp.a * r.idx + hp.b) % $prime) % $g AS yy
          FROM r JOIN hp ON hp.seed = r.seed),
        cells AS (
          SELECT lvx, lvy, seed, yy, CAST(count(*) AS BIGINT) AS c
          FROM rep GROUP BY 1, 2, 3, 4),
        ntot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cells),
        ng AS (SELECT lvx, lvy, CAST(sum(c) AS BIGINT) AS ng
               FROM cells GROUP BY 1, 2),
        nodes AS (
          SELECT CAST(lx.lvx AS INT) AS lvx, gx.idxx,
                 CAST(ly.lvy AS INT) AS lvy, gy.idxy,
                 gx.idxx * (8 >> CAST(ly.lvy AS INT)) + gy.idxy AS idx
          FROM (SELECT unnest(range(0, 4)) AS lvx) lx,
               (SELECT unnest(range(0, 8)) AS idxx) gx,
               (SELECT unnest(range(0, 4)) AS lvy) ly,
               (SELECT unnest(range(0, 8)) AS idxy) gy
          WHERE gx.idxx < (8 >> lx.lvx) AND gy.idxy < (8 >> ly.lvy)),
        seeds AS (SELECT DISTINCT lvx, lvy, seed FROM cells),
        grid AS (
          SELECT nodes.lvx, nodes.idxx, nodes.lvy, nodes.idxy,
                 seeds.seed,
                 ((hp.a * nodes.idx + hp.b) % $prime) % $g AS h
          FROM nodes JOIN seeds ON seeds.lvx = nodes.lvx
                                AND seeds.lvy = nodes.lvy
                     JOIN hp ON hp.seed = seeds.seed),
        sup AS (
          SELECT grid.lvx, grid.idxx, grid.lvy, grid.idxy,
                 CAST(coalesce(sum(cells.c), 0) AS BIGINT) AS sup
          FROM grid LEFT JOIN cells
            ON cells.lvx = grid.lvx AND cells.lvy = grid.lvy
               AND cells.seed = grid.seed AND cells.yy = grid.h
          GROUP BY 1, 2, 3, 4)
        SELECT CAST(sup.lvx AS BIGINT) AS lvx, sup.idxx AS idxx,
               CAST(sup.lvy AS BIGINT) AS lvy, sup.idxy AS idxy,
               round((sup.sup - ng.ng * $invG) / $pMinusInv *
                     (CAST((SELECT n FROM ntot) AS DOUBLE) / ng.ng), 9)
                 AS dp_count
        FROM sup JOIN ng ON ng.lvx = sup.lvx AND ng.lvy = sup.lvy"""
  }

  /** The zero-noise OLH frequency replay (md5-derived seeds, literal
    * hash-parameter table, debias at eps = 1) — ONE definition for the
    * one-shot row, the streaming fold (identical cells under any
    * unit-partitioned split), and the longitudinal memo (reused reports
    * equal the truthful buckets for unchanged values). */
  private lazy val olhFrequencySql: String = {
    val expEps = math.exp(1.0)
    val g = math.floor(expEps).toLong + 1L
    val invG = 1.0 / g
    val pMinusInv = expEps / (expEps + g - 1) - invG
    val prime = graft.spark.LocalDP.OlhPrime
    val domainValues = ldpDomain.zipWithIndex
      .map { case (v, i) => s"($i, '$v')" }.mkString(", ")
    val paramValues = graft.spark.LocalDP.olhParams(1024).zipWithIndex
      .map { case ((a, b), s) => s"($s, $a, $b)" }.mkString(", ")
    s"""WITH u AS (
          SELECT CAST(user_id AS BIGINT) AS pid, min(event_type) AS v
          FROM events GROUP BY 1),
        uh AS (
          SELECT v, CAST(CONCAT('0x', substr(md5(CAST(pid AS VARCHAR)),
                   1, 15)) AS BIGINT) % 1024 AS seed
          FROM u),
        d(i, value) AS (VALUES $domainValues),
        hp(seed, a, b) AS (VALUES $paramValues),
        rep AS (
          SELECT uh.seed,
                 ((hp.a * d.i + hp.b) % $prime) % $g AS y
          FROM uh JOIN d ON uh.v = d.value
                  JOIN hp ON hp.seed = uh.seed),
        cells AS (
          SELECT seed, y, CAST(count(*) AS BIGINT) AS c
          FROM rep GROUP BY 1, 2),
        n AS (SELECT CAST(sum(c) AS BIGINT) AS n_reports FROM cells),
        grid AS (
          SELECT d.value, s.seed,
                 ((hp.a * d.i + hp.b) % $prime) % $g AS h
          FROM d CROSS JOIN (SELECT DISTINCT seed FROM cells) s
                 JOIN hp ON hp.seed = s.seed),
        sup AS (
          SELECT grid.value,
                 CAST(coalesce(sum(cells.c), 0) AS BIGINT) AS support
          FROM grid LEFT JOIN cells
            ON cells.seed = grid.seed AND cells.y = grid.h
          GROUP BY 1)
        SELECT sup.value, n.n_reports, sup.support,
               round((sup.support - n.n_reports * $invG) / $pMinusInv, 9)
                 AS est_count
        FROM sup, n"""
  }

  def oracleSql: Map[String, String] = {
    import OracleFragments._
    Map(
      "dp_range_tree" -> rangeTreeSql,
      // zero-noise 2-D consistency is the identity (both sweeps project
      // onto subspaces the exact tree already inhabits)
      "dp_range_2d_consistent" -> range2DTreeSql,
      // the sharded release is the same mechanism shard by shard: zero
      // noise replays the identical exact keyed tree
      "dp_range_sharded" -> rangeTreeSql,
      // accountant-resolved calibration, zero noise: same exact tree
      "dp_range_accountant" -> rangeTreeSql,
      // zero-noise Gaussian releases the same exact tree (echo-scale
      // sigma calibration is spec-pinned; here the path runs end-to-end)
      "dp_range_gaussian" -> rangeTreeSql,
      // zero-noise selection keeps every (150-user) type, so the
      // selected-keys release replays as the full keyed tree
      "dp_range_selected" -> rangeTreeSql,
      "dp_range_consistent" -> rangeTreeSql,
      "dp_range_query" ->
        s"""WITH $rangeBinSql,
            r(query_id, lo_bin, hi_bin) AS (
              VALUES (0, 0, 15), (1, 8, 40), (2, 32, 63), (3, 10, 10)),
            grid AS (SELECT r.query_id, r.lo_bin, r.hi_bin, k.event_type
                     FROM r, (SELECT DISTINCT event_type FROM events) k)
            SELECT CAST(g.query_id AS BIGINT) AS query_id,
                   CAST(g.lo_bin AS BIGINT) AS lo_bin,
                   CAST(g.hi_bin AS BIGINT) AS hi_bin,
                   g.event_type,
                   CAST(coalesce(count(b.bin), 0) AS DOUBLE) AS dp_range_count
            FROM grid g LEFT JOIN b ON b.event_type = g.event_type
              AND b.bin BETWEEN g.lo_bin AND g.hi_bin
            GROUP BY 1, 2, 3, 4""",
      // the 2-D product tree: x bins value/62.5 in [0,16), y bins the UTC
      // hour as its own index in [0,32); node grid = every (lvx, idxx,
      // lvy, idxy) with idx < bins >> lvl per axis, exact counts rolled
      // up by the double shift
      "dp_range_2d" -> range2DTreeSql,
      "dp_ldp_frequency" -> {
        // the p/q constants interpolate as Scala Double.toString — the
        // shortest round-trip decimal, which DuckDB parses back to the
        // bit-identical double, so the debiasing arithmetic matches
        val expHalf = math.exp(0.5)
        val q = 1.0 / (expHalf + 1.0)
        val pMinusQ = expHalf / (expHalf + 1.0) - q
        val domainValues = ldpDomain.map(v => s"('$v')").mkString(", ")
        s"""WITH r AS (
              SELECT user_id, min(event_type) AS v FROM events GROUP BY 1),
            d(value) AS (VALUES $domainValues),
            n AS (SELECT CAST(count(*) AS BIGINT) AS n_reports FROM r),
            c AS (SELECT d.value,
                         CAST(coalesce(count(r.v), 0) AS BIGINT) AS reported_ones
                  FROM d LEFT JOIN r ON r.v = d.value GROUP BY 1)
            SELECT c.value, n.n_reports, c.reported_ones,
                   round((c.reported_ones - n.n_reports * $q) / $pMinusQ, 9)
                     AS est_count
            FROM c, n"""
      },
      "dp_sparse_vector" ->
        // zero-noise SVT replay: raw above-hits in query order via a
        // window cumsum; a query is answered iff hits strictly BEFORE it
        // number < c (releases are exactly the first c in-order hits),
        // and n_released_before = min(raw hits before, c)
        """WITH t AS (
              SELECT 1.05 * count(*) / 100.0 AS thr FROM events),
            cells AS (
              SELECT event_type || '|' ||
                     lpad(CAST(CAST(user_id AS BIGINT) % 20 AS VARCHAR),
                          2, '0') AS query_id,
                     CAST(count(*) AS DOUBLE) AS v
              FROM events GROUP BY 1),
            o AS (
              SELECT query_id, v,
                     CAST(coalesce(sum(CASE WHEN v >= (SELECT thr FROM t)
                                            THEN 1 ELSE 0 END)
                       OVER (ORDER BY query_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING), 0) AS BIGINT) AS hits_before
              FROM cells)
            SELECT query_id,
                   CASE WHEN hits_before >= 7 THEN 'unanswered'
                        WHEN v >= (SELECT thr FROM t) THEN 'above'
                        ELSE 'below' END AS answer,
                   least(hits_before, 7) AS n_released_before,
                   CASE WHEN hits_before < 7 AND v >= (SELECT thr FROM t)
                        THEN v ELSE -1.0 END AS noisy_value
            FROM o""",
      // the fold over unit-partitioned batches releases the one-shot
      // OLH cells exactly — same oracle
      "ss_dp_olh_fold" -> olhFrequencySql,
      // eps = 1: g = floor(e) + 1 = 3, p = e/(e+2); the debias constants
      // interpolate as round-trip doubles and the hash family enters as
      // its LITERAL parameter table (Spark % == DuckDB % == Scala %)
      "dp_ldp_olh" -> olhFrequencySql,
      // the longitudinal memo's third collection of unchanged values ==
      // the one-shot release (reused reports are the truthful buckets)
      "dp_ldp_longitudinal" -> olhFrequencySql,
      "dp_ldp_olh_keyed" -> {
        // the per-key OLH replay: the public platform key rides outside
        // the randomizer, cells/supports/debias group by it
        val expEps = math.exp(1.0)
        val g = math.floor(expEps).toLong + 1L
        val invG = 1.0 / g
        val pMinusInv = expEps / (expEps + g - 1) - invG
        val prime = graft.spark.LocalDP.OlhPrime
        val domainValues = ldpDomain.zipWithIndex
          .map { case (v, i) => s"($i, '$v')" }.mkString(", ")
        val paramValues = graft.spark.LocalDP.olhParams(1024).zipWithIndex
          .map { case ((a, b), s) => s"($s, $a, $b)" }.mkString(", ")
        s"""WITH u AS (
              SELECT CAST(user_id AS BIGINT) AS pid,
                     CASE user_id % 3 WHEN 0 THEN 'android'
                          WHEN 1 THEN 'ios' ELSE 'web' END AS k,
                     min(event_type) AS v
              FROM events GROUP BY 1, 2),
            uh AS (
              SELECT k, v,
                     CAST(CONCAT('0x', substr(md5(CAST(pid AS VARCHAR)),
                          1, 15)) AS BIGINT) % 1024 AS seed
              FROM u),
            d(i, value) AS (VALUES $domainValues),
            hp(seed, a, b) AS (VALUES $paramValues),
            rep AS (
              SELECT uh.k, uh.seed,
                     ((hp.a * d.i + hp.b) % $prime) % $g AS y
              FROM uh JOIN d ON uh.v = d.value
                      JOIN hp ON hp.seed = uh.seed),
            cells AS (
              SELECT k, seed, y, CAST(count(*) AS BIGINT) AS c
              FROM rep GROUP BY 1, 2, 3),
            n AS (SELECT k, CAST(sum(c) AS BIGINT) AS n_reports
                  FROM cells GROUP BY 1),
            ks AS (SELECT DISTINCT k, seed FROM cells),
            grid AS (
              SELECT ks.k, d.value, ks.seed,
                     ((hp.a * d.i + hp.b) % $prime) % $g AS h
              FROM d CROSS JOIN ks JOIN hp ON hp.seed = ks.seed),
            sup AS (
              SELECT grid.k, grid.value,
                     CAST(coalesce(sum(cells.c), 0) AS BIGINT) AS support
              FROM grid LEFT JOIN cells
                ON cells.k = grid.k AND cells.seed = grid.seed
                   AND cells.y = grid.h
              GROUP BY 1, 2)
            SELECT sup.k AS key, sup.value, n.n_reports, sup.support,
                   round((sup.support - n.n_reports * $invG) / $pMinusInv,
                         9) AS est_count
            FROM sup JOIN n ON n.k = sup.k"""
      },
      "dp_ldp_range_tree" -> ldpRangeTreeSql,
      // the fold over unit-partitioned batches releases the one-shot
      // LDP tree exactly -- same oracle (r18)
      "ss_dp_ldp_tree_fold" -> ldpRangeTreeSql,
      "dp_ldp_shuffle_accountant" -> {
        // the SAME ledger resolution the query ran (the real accountant
        // classes — driver-side pure math) fixes the local eps0; the OLH
        // derivation then replays at its g/p constants, the resolved
        // ledger numbers enter as round-trip double literals, and the
        // central tree's zero-noise root total is count(*) (every event
        // row clamps into [0, 1000] and the cap is non-binding)
        val acc = new graft.core.NaiveBudgetAccountant(1.0, 1e-8)
        val sh = acc.requestShuffledLdpRelease(nReports = 100000L,
          name = "olh_telemetry")
        acc.requestTreeRelease(bins = 64, graft.core.NoiseKind.Laplace,
          name = "central_tree")
        acc.computeBudgets()
        val eps0 = sh.localEpsilon
        val expEps = math.exp(eps0)
        val g = math.floor(expEps).toLong + 1L
        val invG = 1.0 / g
        val pMinusInv = expEps / (expEps + g - 1) - invG
        val prime = graft.spark.LocalDP.OlhPrime
        val domainValues = ldpDomain.zipWithIndex
          .map { case (v, i) => s"($i, '$v')" }.mkString(", ")
        val paramValues = graft.spark.LocalDP.olhParams(1024).zipWithIndex
          .map { case ((a, b), s) => s"($s, $a, $b)" }.mkString(", ")
        s"""WITH u AS (
              SELECT CAST(user_id AS BIGINT) AS pid, min(event_type) AS v
              FROM events GROUP BY 1),
            uh AS (
              SELECT v, CAST(CONCAT('0x', substr(md5(CAST(pid AS VARCHAR)),
                       1, 15)) AS BIGINT) % 1024 AS seed
              FROM u),
            d(i, value) AS (VALUES $domainValues),
            hp(seed, a, b) AS (VALUES $paramValues),
            rep AS (
              SELECT uh.seed,
                     ((hp.a * d.i + hp.b) % $prime) % $g AS y
              FROM uh JOIN d ON uh.v = d.value
                      JOIN hp ON hp.seed = uh.seed),
            cells AS (
              SELECT seed, y, CAST(count(*) AS BIGINT) AS c
              FROM rep GROUP BY 1, 2),
            n AS (SELECT CAST(sum(c) AS BIGINT) AS n_reports FROM cells),
            grid AS (
              SELECT d.value, s.seed,
                     ((hp.a * d.i + hp.b) % $prime) % $g AS h
              FROM d CROSS JOIN (SELECT DISTINCT seed FROM cells) s
                     JOIN hp ON hp.seed = s.seed),
            sup AS (
              SELECT grid.value,
                     CAST(coalesce(sum(cells.c), 0) AS BIGINT) AS support
              FROM grid LEFT JOIN cells
                ON cells.seed = grid.seed AND cells.y = grid.h
              GROUP BY 1)
            SELECT sup.value, n.n_reports, sup.support,
                   round((sup.support - n.n_reports * $invG) / $pMinusInv, 9)
                     AS est_count,
                   ${sh.centralEpsilon} AS central_eps,
                   ${sh.centralDelta} AS central_delta,
                   $eps0 AS local_eps0,
                   (SELECT CAST(count(*) AS DOUBLE) FROM events)
                     AS tree_root_total
            FROM sup, n"""
      },
      "dp_ldp_heavy_hitters" -> {
        // the shared walk chain (hhWalkCtes) over the planted-hex
        // fixture; the raw row releases the hot HASHES themselves
        hhWalkCtes("""
              SELECT CAST(user_id AS BIGINT) AS pid,
                     lpad(lower(hex(CASE WHEN user_id % 10 < 6
                            THEN (user_id % 4) * 4369
                            ELSE (user_id * 48271 + 7) % 65536 END)),
                          4, '0') AS v
              FROM events""") +
          " SELECT value, est_count, support, n_reports, rk FROM topk"
      },
      "dp_ldp_heavy_hitters_e2e" -> {
        // the same walk chain over md5-prefix-ENCODED open-domain words
        // (4 planted heavies + a rare_<id> tail), then the reverse
        // lookup against the public candidate catalog (the distinct
        // corpus values) releases VALUES; noise-floor hashes with no
        // catalog match drop (the operator's inner-join convention)
        hhWalkCtes("""
              SELECT CAST(user_id AS BIGINT) AS pid,
                     substr(md5(CASE WHEN user_id % 10 < 8
                       THEN 'heavy_' || CAST(user_id % 4 AS VARCHAR)
                       ELSE 'rare_' || CAST(user_id AS VARCHAR) END),
                       1, 4) AS v
              FROM events""") +
          """, cand AS (
               SELECT DISTINCT w AS value, substr(md5(w), 1, 4) AS hash
               FROM (SELECT CASE WHEN user_id % 10 < 8
                       THEN 'heavy_' || CAST(user_id % 4 AS VARCHAR)
                       ELSE 'rare_' || CAST(user_id AS VARCHAR) END AS w
                     FROM events))
             SELECT cand.value, topk.value AS hash, est_count, support,
                    n_reports, rk
             FROM cand JOIN topk ON cand.hash = topk.value"""
      },
      // one-shot Duchi replays, shared with their longitudinal memo
      // twins (r18: memoized bits == deterministic sign bits for
      // unchanged values, so every collection equals the one-shot)
      "dp_ldp_variance" -> ldpVarianceSql,
      "dp_ldp_longitudinal_variance" -> ldpVarianceSql,
      "dp_ldp_mean" -> ldpMeanSql,
      "dp_ldp_longitudinal_mean" -> ldpMeanSql,
      // the LDP product tree's zero-noise derivation replay (r18)
      "dp_ldp_range_2d" -> ldpRange2DSql,
      // the keyed LDP forest's zero-noise derivation replay (r18)
      "dp_ldp_range_tree_keyed" -> ldpRangeTreeKeyedSql,
      "dq_quarantine" ->
        """WITH f AS (
              SELECT list_filter([
                       CASE WHEN value IS NOT NULL
                                  AND (value < 0.0 OR value > 400.0)
                            THEN 'value_0_400' END,
                       CASE WHEN event_type IS NOT NULL AND event_type
                                  NOT IN ('click', 'error', 'purchase', 'view')
                            THEN 'known_types' END,
                       CASE WHEN NOT coalesce(
                                  event_type != 'purchase' OR value <= 350.0,
                                  false)
                            THEN 'purchase_value_cap' END,
                       CASE WHEN event_id IS NULL
                                  OR count(*) OVER (PARTITION BY event_id) > 1
                            THEN 'event_id_unique' END],
                     x -> x IS NOT NULL) AS v
              FROM events)
           SELECT CASE WHEN len(v) = 0 THEN '' ELSE array_to_string(v, ';') END AS reasons,
                  len(v) = 0 AS dq_valid,
                  count(*) AS n_rows
           FROM f GROUP BY 1, 2""",
      "dp_range_2d_sum" ->
        s"""WITH w AS (
              SELECT event_type,
                     CAST(least(greatest(floor(value / 62.5), 0), 15) AS BIGINT) AS bx,
                     CAST(least(greatest(floor(CAST(extract(hour FROM ts) AS DOUBLE) / 1.0), 0), 31) AS BIGINT) AS by,
                     least(greatest(floor(value), 0.0), 500.0) AS wt
              FROM events),
            r(query_id, x_lo, x_hi, y_lo, y_hi) AS (
              VALUES (0, 0, 7, 0, 11), (1, 4, 11, 6, 21),
                     (2, 15, 15, 0, 31), (3, 2, 2, 5, 5),
                     (4, 0, 15, 0, 23)),
            grid AS (SELECT r.*, k.event_type
                     FROM r, (SELECT DISTINCT event_type FROM events) k)
            SELECT CAST(g.query_id AS BIGINT) AS query_id,
                   CAST(g.x_lo AS BIGINT) AS x_lo,
                   CAST(g.x_hi AS BIGINT) AS x_hi,
                   CAST(g.y_lo AS BIGINT) AS y_lo,
                   CAST(g.y_hi AS BIGINT) AS y_hi,
                   g.event_type,
                   CAST(coalesce(sum(w.wt), 0) AS DOUBLE) AS dp_box_mass
            FROM grid g LEFT JOIN w ON w.event_type = g.event_type
              AND w.bx BETWEEN g.x_lo AND g.x_hi
              AND w.by BETWEEN g.y_lo AND g.y_hi
            GROUP BY 1, 2, 3, 4, 5, 6""",
      "dp_join_revenue" ->
        """SELECT o_orderpriority,
                  sum(least(greatest(
                    floor(l_extendedprice * (1.0 - l_discount)), 0.0),
                    200000.0)) AS sum,
                  CAST(count(*) AS DOUBLE) AS count
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           GROUP BY 1""",
      "dp_range_2d_query" ->
        s"""WITH $range2DBinSql,
            r(query_id, x_lo, x_hi, y_lo, y_hi) AS (
              VALUES (0, 0, 7, 0, 11), (1, 4, 11, 6, 21),
                     (2, 15, 15, 0, 31), (3, 2, 2, 5, 5),
                     (4, 0, 15, 0, 23)),
            grid AS (SELECT r.*, k.event_type
                     FROM r, (SELECT DISTINCT event_type FROM events) k)
            SELECT CAST(g.query_id AS BIGINT) AS query_id,
                   CAST(g.x_lo AS BIGINT) AS x_lo,
                   CAST(g.x_hi AS BIGINT) AS x_hi,
                   CAST(g.y_lo AS BIGINT) AS y_lo,
                   CAST(g.y_hi AS BIGINT) AS y_hi,
                   g.event_type,
                   CAST(coalesce(count(b.bx), 0) AS DOUBLE) AS dp_box_count
            FROM grid g LEFT JOIN b ON b.event_type = g.event_type
              AND b.bx BETWEEN g.x_lo AND g.x_hi
              AND b.by BETWEEN g.y_lo AND g.y_hi
            GROUP BY 1, 2, 3, 4, 5, 6""",
      "dp_range_cdf" ->
        s"""WITH $rangeBinSql,
            grid AS (SELECT k.event_type, g.t
                     FROM (SELECT DISTINCT event_type FROM events) k,
                          (SELECT unnest(range(0, 64)) AS t) g),
            pc AS (SELECT event_type, bin, count(*) AS n FROM b GROUP BY 1, 2)
            SELECT grid.event_type, CAST(grid.t AS BIGINT) AS bin,
                   (grid.t + 1) * 15.625 AS value_hi,
                   CAST(coalesce(sum(pc.n), 0) AS DOUBLE) AS dp_cdf_count
            FROM grid LEFT JOIN pc
              ON pc.event_type = grid.event_type AND pc.bin <= grid.t
            GROUP BY 1, 2, 3""",
      "dp_range_public" ->
        s"""WITH $rangeBinSql,
            pub(event_type) AS (
              VALUES ('click'), ('view'), ('purchase'), ('phantom_type')),
            lv AS (SELECT unnest(range(0, 7)) AS lvl),
            nodes AS (
              SELECT l.lvl, g.idx, p.event_type
              FROM lv l, (SELECT unnest(range(0, 64)) AS idx) g, pub p
              WHERE g.idx < 64 // (1 << l.lvl)),
            c AS (SELECT l.lvl, b.bin >> l.lvl AS idx, b.event_type,
                         count(*) AS n
                  FROM b JOIN pub USING (event_type) CROSS JOIN lv l
                  GROUP BY 1, 2, 3)
            SELECT CAST(n.lvl AS BIGINT) AS lvl, CAST(n.idx AS BIGINT) AS idx,
                   n.event_type, CAST(coalesce(c.n, 0) AS DOUBLE) AS dp_count
            FROM nodes n LEFT JOIN c ON c.lvl = n.lvl AND c.idx = n.idx
              AND c.event_type = n.event_type""",
      "dp_range_sum_query" ->
        s"""WITH $rangeBinSql,
            w AS (SELECT event_type, bin,
                         least(greatest(floor(value), 0.0), 500.0) AS wt
                  FROM (SELECT event_type, value,
                               CAST(least(greatest(floor(value / 15.625), 0), 63)
                                 AS BIGINT) AS bin
                        FROM events)),
            r(query_id, lo_bin, hi_bin) AS (
              VALUES (0, 0, 15), (1, 8, 40), (2, 32, 63), (3, 10, 10)),
            grid AS (SELECT r.query_id, r.lo_bin, r.hi_bin, k.event_type
                     FROM r, (SELECT DISTINCT event_type FROM events) k)
            SELECT CAST(g.query_id AS BIGINT) AS query_id,
                   CAST(g.lo_bin AS BIGINT) AS lo_bin,
                   CAST(g.hi_bin AS BIGINT) AS hi_bin,
                   g.event_type,
                   CAST(coalesce(sum(w.wt), 0) AS DOUBLE) AS dp_range_count
            FROM grid g LEFT JOIN w ON w.event_type = g.event_type
              AND w.bin BETWEEN g.lo_bin AND g.hi_bin
            GROUP BY 1, 2, 3, 4""",
      // the padded-domain tree: SAME width as a 48-bin [0, 1000)
      // contract (1000/48), 64 power-of-two bins — the replay bins at
      // that width over the full padded node universe (bins 48+ empty)
      "dp_range_auto" ->
        """WITH b AS (
             SELECT event_type,
                    CAST(least(greatest(floor(value / (1000.0 / 48)), 0), 63)
                      AS BIGINT) AS bin
             FROM events),
           lv AS (SELECT unnest(range(0, 7)) AS lvl),
           nodes AS (
             SELECT l.lvl, g.idx, k.event_type
             FROM lv l, (SELECT unnest(range(0, 64)) AS idx) g,
                  (SELECT DISTINCT event_type FROM events) k
             WHERE g.idx < 64 // (1 << l.lvl)),
           c AS (SELECT l.lvl, b.bin >> l.lvl AS idx, b.event_type,
                        count(*) AS n
                 FROM b CROSS JOIN lv l GROUP BY 1, 2, 3)
           SELECT CAST(n.lvl AS BIGINT) AS lvl, CAST(n.idx AS BIGINT) AS idx,
                  n.event_type, CAST(coalesce(c.n, 0) AS DOUBLE) AS dp_count
           FROM nodes n LEFT JOIN c ON c.lvl = n.lvl AND c.idx = n.idx
             AND c.event_type = n.event_type""",
      // the full bounds derivation replayed: envelope bins at width 0.25
      // -> cumulative threshold quantile bins (the probe is keyless) ->
      // derived lo / width (all dyadic, so exact doubles) -> the keyed
      // 64-bin tree over the derived domain
      "dp_range_estimated" ->
        """WITH eb AS (
             SELECT CAST(least(greatest(floor(value / 0.25), 0), 4095)
               AS BIGINT) AS ebin
             FROM events),
           tot AS (SELECT CAST(count(*) AS DOUBLE) AS total FROM eb),
           egrid AS (SELECT unnest(range(0, 4096)) AS t),
           pc AS (SELECT ebin, count(*) AS n FROM eb GROUP BY 1),
           cum AS (SELECT g.t, CAST(coalesce(sum(pc.n), 0) AS DOUBLE) AS pfx
                   FROM egrid g LEFT JOIN pc ON pc.ebin <= g.t GROUP BY 1),
           qb AS (SELECT
                    (SELECT min(t) FROM cum, tot WHERE pfx >= 0.01 * total) AS qlo,
                    (SELECT min(t) FROM cum, tot WHERE pfx >= 0.99 * total) AS qhi),
           dom AS (SELECT qlo * 0.25 AS lo,
                          (qhi + 1 - qlo) * 0.25 / 64 AS w FROM qb),
           b AS (SELECT e.event_type,
                        CAST(least(greatest(floor((e.value - d.lo) / d.w), 0), 63)
                          AS BIGINT) AS bin
                 FROM events e, dom d),
           lv AS (SELECT unnest(range(0, 7)) AS lvl),
           nodes AS (
             SELECT l.lvl, g.idx, k.event_type
             FROM lv l, (SELECT unnest(range(0, 64)) AS idx) g,
                  (SELECT DISTINCT event_type FROM events) k
             WHERE g.idx < 64 // (1 << l.lvl)),
           c AS (SELECT l.lvl, b.bin >> l.lvl AS idx, b.event_type,
                        count(*) AS n
                 FROM b CROSS JOIN lv l GROUP BY 1, 2, 3)
           SELECT CAST(n.lvl AS BIGINT) AS lvl, CAST(n.idx AS BIGINT) AS idx,
                  n.event_type, CAST(coalesce(c.n, 0) AS DOUBLE) AS dp_count
           FROM nodes n LEFT JOIN c ON c.lvl = n.lvl AND c.idx = n.idx
             AND c.event_type = n.event_type""",
      // the sharded sum tree is the same mechanism shard by shard: zero
      // noise replays the exact clamped node sums over the generated grid
      "dp_range_sum_sharded" ->
        """WITH wv AS (
              SELECT event_type,
                     CAST(least(greatest(floor(value / 15.625), 0), 63)
                       AS BIGINT) AS bin,
                     least(greatest(floor(value), 0.0), 500.0) AS w
              FROM events),
            lv AS (SELECT unnest(range(0, 7)) AS lvl),
            nodes AS (
              SELECT l.lvl, g.idx, k.event_type
              FROM lv l, (SELECT unnest(range(0, 64)) AS idx) g,
                   (SELECT DISTINCT event_type FROM events) k
              WHERE g.idx < 64 // (1 << l.lvl)),
            c AS (SELECT l.lvl, w.bin >> l.lvl AS idx, w.event_type,
                         sum(w.w) AS s
                  FROM wv w CROSS JOIN lv l GROUP BY 1, 2, 3)
            SELECT CAST(n.lvl AS BIGINT) AS lvl, CAST(n.idx AS BIGINT) AS idx,
                   n.event_type, CAST(coalesce(c.s, 0) AS DOUBLE) AS dp_count
            FROM nodes n LEFT JOIN c ON c.lvl = n.lvl AND c.idx = n.idx
              AND c.event_type = n.event_type""",
      // the per-key-domain derivation + quantile readout + per-key value
      // mapping, end-to-end
      "dp_range_keyed_quantiles" ->
        """WITH eb AS (
             SELECT event_type,
                    CAST(least(greatest(floor(value / 0.25), 0), 4095)
                      AS BIGINT) AS ebin
             FROM events),
           tot0 AS (SELECT event_type, CAST(count(*) AS DOUBLE) AS total
                    FROM eb GROUP BY 1),
           grid0 AS (SELECT k.event_type, g.t
                     FROM (SELECT DISTINCT event_type FROM events) k,
                          (SELECT unnest(range(0, 4096)) AS t) g),
           pc0 AS (SELECT event_type, ebin, count(*) AS n FROM eb GROUP BY 1, 2),
           cum0 AS (SELECT grid0.event_type, grid0.t,
                           CAST(coalesce(sum(pc0.n), 0) AS DOUBLE) AS pfx
                    FROM grid0 LEFT JOIN pc0
                      ON pc0.event_type = grid0.event_type AND pc0.ebin <= grid0.t
                    GROUP BY 1, 2),
           qb AS (SELECT c.event_type,
                         min(CASE WHEN c.pfx >= 0.01 * t.total THEN c.t END) AS qlo,
                         min(CASE WHEN c.pfx >= 0.99 * t.total THEN c.t END) AS qhi
                  FROM cum0 c JOIN tot0 t USING (event_type) GROUP BY 1),
           dom AS (SELECT event_type, qlo * 0.25 AS lo,
                          (qhi + 1 - qlo) * 0.25 / 64 AS w FROM qb),
           b AS (SELECT e.event_type,
                        CAST(least(greatest(floor((e.value - d.lo) / d.w), 0), 63)
                          AS BIGINT) AS bin
                 FROM events e JOIN dom d USING (event_type)),
           tot AS (SELECT event_type, CAST(count(*) AS DOUBLE) AS total
                   FROM b GROUP BY 1),
           grid AS (SELECT k.event_type, g.t
                    FROM (SELECT DISTINCT event_type FROM events) k,
                         (SELECT unnest(range(0, 64)) AS t) g),
           pc AS (SELECT event_type, bin, count(*) AS n FROM b GROUP BY 1, 2),
           cum AS (SELECT grid.event_type, grid.t,
                          CAST(coalesce(sum(pc.n), 0) AS DOUBLE) AS pfx
                   FROM grid LEFT JOIN pc
                     ON pc.event_type = grid.event_type AND pc.bin <= grid.t
                   GROUP BY 1, 2),
           qs AS (SELECT CAST(unnest([0.25, 0.5, 0.9]) AS DOUBLE) AS q)
           SELECT c.event_type, qs.q,
                  CAST(coalesce(min(CASE WHEN c.pfx >= qs.q * t.total
                    THEN c.t END), 63) AS BIGINT) AS bin,
                  any_value(d.lo) + CAST(coalesce(min(CASE WHEN c.pfx >= qs.q * t.total
                    THEN c.t END), 63) AS BIGINT) * any_value(d.w) AS value_lo
           FROM cum c JOIN tot t USING (event_type)
             JOIN dom d USING (event_type) CROSS JOIN qs
           GROUP BY c.event_type, qs.q""",
      // the keyed derivation replayed end-to-end: per-key envelope
      // cumulative -> per-key quantile bins -> per-key domain -> per-key
      // binning -> generated node grid
      "dp_range_keyed_domains" ->
        """WITH eb AS (
             SELECT event_type,
                    CAST(least(greatest(floor(value / 0.25), 0), 4095)
                      AS BIGINT) AS ebin
             FROM events),
           tot AS (SELECT event_type, CAST(count(*) AS DOUBLE) AS total
                   FROM eb GROUP BY 1),
           grid AS (SELECT k.event_type, g.t
                    FROM (SELECT DISTINCT event_type FROM events) k,
                         (SELECT unnest(range(0, 4096)) AS t) g),
           pc AS (SELECT event_type, ebin, count(*) AS n FROM eb GROUP BY 1, 2),
           cum AS (SELECT grid.event_type, grid.t,
                          CAST(coalesce(sum(pc.n), 0) AS DOUBLE) AS pfx
                   FROM grid LEFT JOIN pc
                     ON pc.event_type = grid.event_type AND pc.ebin <= grid.t
                   GROUP BY 1, 2),
           qb AS (SELECT c.event_type,
                         min(CASE WHEN c.pfx >= 0.01 * t.total THEN c.t END) AS qlo,
                         min(CASE WHEN c.pfx >= 0.99 * t.total THEN c.t END) AS qhi
                  FROM cum c JOIN tot t USING (event_type) GROUP BY 1),
           dom AS (SELECT event_type, qlo * 0.25 AS lo,
                          (qhi + 1 - qlo) * 0.25 / 64 AS w FROM qb),
           b AS (SELECT e.event_type,
                        CAST(least(greatest(floor((e.value - d.lo) / d.w), 0), 63)
                          AS BIGINT) AS bin
                 FROM events e JOIN dom d USING (event_type)),
           lv AS (SELECT unnest(range(0, 7)) AS lvl),
           nodes AS (
             SELECT l.lvl, g.idx, k.event_type
             FROM lv l, (SELECT unnest(range(0, 64)) AS idx) g,
                  (SELECT DISTINCT event_type FROM events) k
             WHERE g.idx < 64 // (1 << l.lvl)),
           c AS (SELECT l.lvl, b.bin >> l.lvl AS idx, b.event_type,
                        count(*) AS n
                 FROM b CROSS JOIN lv l GROUP BY 1, 2, 3)
           SELECT CAST(n.lvl AS BIGINT) AS lvl, CAST(n.idx AS BIGINT) AS idx,
                  n.event_type, CAST(coalesce(c.n, 0) AS DOUBLE) AS dp_count
           FROM nodes n LEFT JOIN c ON c.lvl = n.lvl AND c.idx = n.idx
             AND c.event_type = n.event_type""",
      // mass-CDF inversion over clamped weights: cumulative clamped
      // floor(value) sums per bin, first bin reaching q * total mass
      "dp_range_mass_quantiles" ->
        s"""WITH $rangeBinSql,
            w AS (SELECT event_type, bin,
                         least(greatest(floor(value), 0.0), 500.0) AS wt
                  FROM (SELECT event_type, value,
                               CAST(least(greatest(floor(value / 15.625), 0), 63)
                                 AS BIGINT) AS bin
                        FROM events)),
            tot AS (SELECT event_type, CAST(sum(wt) AS DOUBLE) AS total
                    FROM w GROUP BY 1),
            grid AS (SELECT k.event_type, g.t
                     FROM (SELECT DISTINCT event_type FROM events) k,
                          (SELECT unnest(range(0, 64)) AS t) g),
            pc AS (SELECT event_type, bin, sum(wt) AS n FROM w GROUP BY 1, 2),
            cum AS (SELECT grid.event_type, grid.t,
                           CAST(coalesce(sum(pc.n), 0) AS DOUBLE) AS pfx
                    FROM grid LEFT JOIN pc
                      ON pc.event_type = grid.event_type AND pc.bin <= grid.t
                    GROUP BY 1, 2),
            qs AS (SELECT CAST(unnest([0.5, 0.9, 0.99]) AS DOUBLE) AS q)
            SELECT c.event_type, qs.q,
                   CAST(coalesce(min(CASE WHEN c.pfx >= qs.q * t.total
                     THEN c.t END), 63) AS BIGINT) AS bin,
                   CAST(coalesce(min(CASE WHEN c.pfx >= qs.q * t.total
                     THEN c.t END), 63) AS BIGINT) * 15.625 AS value_lo
            FROM cum c JOIN tot t USING (event_type) CROSS JOIN qs
            GROUP BY 1, 2""",
      // cumulative clamped mass below every bin edge (the sum tree's CDF)
      "dp_range_mass_cdf" ->
        s"""WITH $rangeBinSql,
            w AS (SELECT event_type, bin,
                         least(greatest(floor(value), 0.0), 500.0) AS wt
                  FROM (SELECT event_type, value,
                               CAST(least(greatest(floor(value / 15.625), 0), 63)
                                 AS BIGINT) AS bin
                        FROM events)),
            grid AS (SELECT k.event_type, g.t
                     FROM (SELECT DISTINCT event_type FROM events) k,
                          (SELECT unnest(range(0, 64)) AS t) g),
            pc AS (SELECT event_type, bin, sum(wt) AS n FROM w GROUP BY 1, 2)
            SELECT grid.event_type, CAST(grid.t AS BIGINT) AS bin,
                   (grid.t + 1) * 15.625 AS value_hi,
                   CAST(coalesce(sum(pc.n), 0) AS DOUBLE) AS dp_cdf_count
            FROM grid LEFT JOIN pc
              ON pc.event_type = grid.event_type AND pc.bin <= grid.t
            GROUP BY 1, 2, 3""",
      "dp_range_quantiles" ->
        s"""WITH $rangeBinSql,
            tot AS (SELECT event_type, CAST(count(*) AS DOUBLE) AS total
                    FROM b GROUP BY 1),
            grid AS (SELECT k.event_type, g.t
                     FROM (SELECT DISTINCT event_type FROM events) k,
                          (SELECT unnest(range(0, 64)) AS t) g),
            pc AS (SELECT event_type, bin, count(*) AS n FROM b GROUP BY 1, 2),
            cum AS (SELECT grid.event_type, grid.t,
                           CAST(coalesce(sum(pc.n), 0) AS DOUBLE) AS pfx
                    FROM grid LEFT JOIN pc
                      ON pc.event_type = grid.event_type AND pc.bin <= grid.t
                    GROUP BY 1, 2),
            qs AS (SELECT CAST(unnest([0.25, 0.5, 0.9, 0.99]) AS DOUBLE) AS q)
            SELECT c.event_type, qs.q,
                   CAST(coalesce(min(CASE WHEN c.pfx >= qs.q * t.total
                     THEN c.t END), 63) AS BIGINT) AS bin,
                   CAST(coalesce(min(CASE WHEN c.pfx >= qs.q * t.total
                     THEN c.t END), 63) AS BIGINT) * 15.625 AS value_lo
            FROM cum c JOIN tot t USING (event_type) CROSS JOIN qs
            GROUP BY 1, 2""",
      // the tuner's candidate grid, replayed: per histogram the 3-point
      // the fixed-candidate tuning run replayed end-to-end: per-(user,
      // partition) counts, per-config dyadic keep-prob, the COUNT error
      // moments (clip, expected-drop, drop-variance), per-partition
      // rmse = sqrt(am^2 + av) incl. the empty public partition, global
      // mean over the 3 public partitions, then the argmin as a window
      // over the ROUNDED rmse (config-index tie-break)
      "tune_params_fixed" ->
        """WITH pre AS (
              SELECT user_id, event_type, CAST(count(*) AS DOUBLE) AS cnt
              FROM events WHERE event_type IN ('click','view')
              GROUP BY user_id, event_type),
            np AS (SELECT pre.*, count(*) OVER (PARTITION BY user_id) AS nparts
                   FROM pre),
            cfg AS (SELECT * FROM (VALUES (0, 1.0, 3.0), (1, 2.0, 100.0))
                    t(i, l0, linf)),
            r AS (SELECT event_type, i, least(1.0, l0 / nparts) AS p, cnt, linf
                  FROM np CROSS JOIN cfg),
            per AS (
              SELECT event_type, i,
                sum(-least(greatest(cnt, 0.0), linf) * (1.0 - p)) AS exp_l0,
                sum(CASE WHEN cnt > linf
                         THEN least(greatest(cnt, 0.0), linf) - cnt
                         ELSE 0.0 END) AS clip_max,
                sum(least(greatest(cnt, 0.0), linf)
                    * least(greatest(cnt, 0.0), linf) * p * (1.0 - p)) AS var_l0
              FROM r GROUP BY 1, 2),
            pp AS (
              SELECT pc.i, pc.l0, pc.linf,
                coalesce(per.exp_l0, 0.0) + coalesce(per.clip_max, 0.0) AS am,
                coalesce(per.var_l0, 0.0)
                  + (sqrt(2) * (pc.l0 * pc.linf) / 1.0)
                    * (sqrt(2) * (pc.l0 * pc.linf) / 1.0) AS av
              FROM (SELECT * FROM (VALUES ('click'), ('view'), ('ghost_type'))
                    p(event_type) CROSS JOIN cfg) pc
              LEFT JOIN per ON per.event_type = pc.event_type AND per.i = pc.i),
            g AS (SELECT i, l0, linf,
                    floor(sum(sqrt(am * am + av)) / count(*) * 1e9 + 0.5) / 1e9
                      AS rmse
                  FROM pp GROUP BY 1, 2, 3),
            sel AS (SELECT i, l0, linf, rmse,
                    row_number() OVER (ORDER BY rmse, i) AS rk FROM g)
            SELECT CAST(i AS INTEGER) AS config_index,
                   CAST(l0 AS INTEGER) AS l0, CAST(linf AS INTEGER) AS linf,
                   rmse, rk = 1 AS is_best
            FROM sel""",
      // tune_candidates' constant-relative-step ladder is
      // [1, max(2, ceilsqrt(m)), m] (dedup'd upward, last pinned to m —
      // findCandidatesConstantRelativeStep with n = min(3, m)), ceilsqrt
      // in exact integer arithmetic; grid is l0-major cross product,
      // config_index = row order
      "tune_candidates" ->
        """WITH l0m AS (
             SELECT CAST(max(c) AS BIGINT) AS m FROM (
               SELECT user_id, count(DISTINCT event_type) AS c
               FROM events GROUP BY 1)),
           lim AS (
             SELECT CAST(max(c) AS BIGINT) AS m FROM (
               SELECT user_id, event_type, count(*) AS c
               FROM events GROUP BY 1, 2)),
           l0s AS (
             SELECT m, CASE WHEN f*f >= m THEN f
                            WHEN (f+1)*(f+1) >= m THEN f+1
                            ELSE f+2 END AS cs
             FROM (SELECT m, CAST(floor(sqrt(CAST(m AS DOUBLE))) AS BIGINT) AS f
                   FROM l0m)),
           lis AS (
             SELECT m, CASE WHEN f*f >= m THEN f
                            WHEN (f+1)*(f+1) >= m THEN f+1
                            ELSE f+2 END AS cs
             FROM (SELECT m, CAST(floor(sqrt(CAST(m AS DOUBLE))) AS BIGINT) AS f
                   FROM lim)),
           l0c AS (
             SELECT i.idx, CASE i.idx WHEN 0 THEN 1
                                      WHEN 1 THEN greatest(2, cs)
                                      ELSE m END AS v
             FROM (VALUES (0), (1), (2)) AS i(idx), l0s
             WHERE i.idx < least(3, m)),
           lic AS (
             SELECT i.idx, CASE i.idx WHEN 0 THEN 1
                                      WHEN 1 THEN greatest(2, cs)
                                      ELSE m END AS v
             FROM (VALUES (0), (1), (2)) AS i(idx), lis
             WHERE i.idx < least(3, m))
           SELECT CAST(row_number() OVER (ORDER BY l.idx, f.idx) - 1 AS INT)
                    AS config_index,
                  CAST(l.v AS INT) AS l0, CAST(f.v AS INT) AS linf
           FROM l0c l CROSS JOIN lic f""",
      "ua_per_partition" -> s"$uaPerPartitionSql SELECT * FROM pp",
      "ua_multi_sum" -> {
        def mcol(c: String, lo: String, hi: String, n: String) =
          s"""sum($c) AS ${n}_sum,
              sum(CASE WHEN $c < $lo THEN least(greatest($c, $lo), $hi) - $c ELSE 0.0 END) AS ${n}_clip_min_err,
              sum(CASE WHEN $c > $hi THEN least(greatest($c, $lo), $hi) - $c ELSE 0.0 END) AS ${n}_clip_max_err,
              sum(-least(greatest($c, $lo), $hi) * (1.0 - p)) AS ${n}_exp_l0_err,
              sqrt(sum(least(greatest($c, $lo), $hi) * least(greatest($c, $lo), $hi) * p * (1.0 - p))) AS ${n}_std_l0_err"""
        s"""WITH pre AS (
              SELECT user_id, event_type, CAST(count(*) AS DOUBLE) AS cnt,
                     sum(floor(value)) AS sa, sum(CAST(len(props) AS DOUBLE)) AS sb
              FROM events WHERE event_type IN ('click','view')
              GROUP BY user_id, event_type),
            np AS (SELECT pre.*, count(*) OVER (PARTITION BY user_id) AS nparts FROM pre),
            r AS (SELECT event_type, least(1.0, 1.0 / nparts) AS p, cnt, sa, sb FROM np),
            per AS (
              SELECT event_type,
                count(*) AS raw_privacy_id_count,
                CAST(sum(CAST(cnt AS BIGINT)) AS BIGINT) AS raw_count,
                ${mcol("sa", "0.0", "100.0", "sum_a")},
                ${mcol("sb", "0.0", "50.0", "sum_b")}
              FROM r GROUP BY 1)
            SELECT pk.event_type, 0 AS config_index, 1.0 AS keep_prob,
              coalesce(per.raw_privacy_id_count, 0) AS raw_privacy_id_count,
              coalesce(per.raw_count, 0) AS raw_count,
              coalesce(per.sum_a_sum, 0.0) AS sum_a_sum,
              coalesce(per.sum_a_clip_min_err, 0.0) AS sum_a_clip_min_err,
              coalesce(per.sum_a_clip_max_err, 0.0) AS sum_a_clip_max_err,
              coalesce(per.sum_a_exp_l0_err, 0.0) AS sum_a_exp_l0_err,
              coalesce(per.sum_a_std_l0_err, 0.0) AS sum_a_std_l0_err,
              coalesce(per.sum_b_sum, 0.0) AS sum_b_sum,
              coalesce(per.sum_b_clip_min_err, 0.0) AS sum_b_clip_min_err,
              coalesce(per.sum_b_clip_max_err, 0.0) AS sum_b_clip_max_err,
              coalesce(per.sum_b_exp_l0_err, 0.0) AS sum_b_exp_l0_err,
              coalesce(per.sum_b_std_l0_err, 0.0) AS sum_b_std_l0_err,
              sqrt(2) * (100.0 / 0.5) AS sum_a_noise_std,
              sqrt(2) * (50.0 / 0.5) AS sum_b_noise_std
            FROM (VALUES ('click'), ('view'), ('ghost_type')) pk(event_type)
            LEFT JOIN per ON per.event_type = pk.event_type"""
      },
      "ua_partitions_summary" ->
        """WITH d AS (SELECT DISTINCT event_type FROM events),
             p AS (SELECT * FROM (VALUES ('click'), ('view'), ('ghost_type')) t(event_type))
           SELECT
             (SELECT count(*) FROM d JOIN p USING (event_type)) AS num_dataset_public,
             (SELECT count(*) FROM d WHERE event_type NOT IN (SELECT event_type FROM p))
               AS num_dataset_non_public,
             (SELECT count(*) FROM p WHERE event_type NOT IN (SELECT event_type FROM d))
               AS num_empty_public""",
      "ua_report" ->
        s"""$uaPerPartitionSql,
            d AS (SELECT config_index, keep_prob, raw_count, raw_privacy_id_count,
                    ${uaDerived("sum")}, ${uaDerived("count")} FROM pp),
            d2 AS (SELECT *, ${uaRmse("sum")}, ${uaRmse("count")} FROM d),
            u AS (
              SELECT d2.*, CAST(-1 AS BIGINT) AS bucket_lower FROM d2
              UNION ALL
              SELECT d2.*, $uaBucket AS bucket_lower FROM d2),
            g AS (
              SELECT config_index, bucket_lower,
                CAST(sum(CASE WHEN raw_count > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_partitions,
                CAST(sum(CASE WHEN raw_count > 0 THEN 0 ELSE 1 END) AS BIGINT) AS n_empty_partitions,
                sum(keep_prob) AS kept_mean,
                sum(keep_prob * (1.0 - keep_prob)) AS kept_var,
                sum(keep_prob) AS tw,
                ${uaAggs("sum")}, ${uaAggs("count")}
              FROM u GROUP BY 1, 2)
            SELECT config_index, bucket_lower, n_partitions, n_empty_partitions,
              round(kept_mean, 9) AS kept_partitions_mean,
              round(kept_var, 9) AS kept_partitions_var,
              ${uaFinal("sum")}, ${uaFinal("count")}
            FROM g""",
      "ua_private_keep_prob" ->
        s"""WITH per AS (
              SELECT user_id % 10 AS pk, count(DISTINCT user_id) AS raw_privacy_id_count,
                     count(*) AS raw_count
              FROM events GROUP BY 1)
            SELECT pk, 0 AS config_index,
              round(CASE WHEN ($uaPrivT - raw_privacy_id_count) <= 0
                    THEN 1.0 - 0.5 * exp($uaPrivT - raw_privacy_id_count)
                    ELSE 0.5 * exp(-($uaPrivT - raw_privacy_id_count)) END, 9) AS keep_prob,
              raw_privacy_id_count, raw_count,
              CAST(raw_privacy_id_count AS DOUBLE) AS privacy_id_count_sum,
              0.0 AS privacy_id_count_exp_l0_err,
              sqrt(2) * (1.0 / 1.0) AS privacy_id_count_noise_std
            FROM per""",
      "dp_count" ->
        "SELECT event_type, CAST(count(*) AS DOUBLE) AS count FROM events GROUP BY event_type",
      "dp_count_pld" ->
        "SELECT event_type, CAST(count(*) AS DOUBLE) AS count FROM events GROUP BY event_type",
      "dp_privacy_id_count" ->
        "SELECT event_type, CAST(count(DISTINCT user_id) AS DOUBLE) AS privacy_id_count FROM events GROUP BY event_type",
      "dp_post_agg_threshold" ->
        "SELECT event_type, CAST(count(DISTINCT user_id) AS DOUBLE) AS privacy_id_count FROM events GROUP BY event_type",
      "dp_count_l1" ->
        "SELECT event_type, CAST(count(*) AS DOUBLE) AS count FROM events GROUP BY event_type",
      // L1 sampling is the identity at mc=1000 (max 99 rows/user), so the
      // release is the per-partition-clipped sum — same shape as
      // dp_sum_per_partition's oracle
      "dp_sum_l1_partition" ->
        """SELECT event_type, sum(s) AS sum FROM (
             SELECT user_id, event_type,
                    least(greatest(sum(floor(value)), 0.0), 500.0) AS s
             FROM events GROUP BY user_id, event_type
           ) GROUP BY event_type""",
      // the hot (user=-1, click) cell is Linf-capped at 100 of its 1e5 rows;
      // which 100 is random, but count is their NUMBER and the hot values
      // are constant 1.0 so the sum is 100 either way. Real cells are all
      // <= 29 rows — nothing sampled away.
      "dp_count_skew_sharded" ->
        """WITH aug AS (
              SELECT user_id, event_type, floor(value) AS v FROM events
              UNION ALL
              SELECT -1 AS user_id, 'click' AS event_type, 1.0 AS v
              FROM range(100000)),
            cells AS (
              SELECT user_id, event_type,
                     least(count(*), 100) AS c,
                     CASE WHEN count(*) <= 100
                          THEN sum(least(greatest(v, 0.0), 1000.0))
                          ELSE 100.0 * min(least(greatest(v, 0.0), 1000.0)) END AS s
              FROM aug GROUP BY 1, 2)
            SELECT event_type, CAST(sum(c) AS DOUBLE) AS count, sum(s) AS sum
            FROM cells GROUP BY event_type""",
      "dp_custom_combiner" ->
        """SELECT event_type,
              sum(least(floor(value) * floor(value), 10000.0)) AS square_sum
           FROM events GROUP BY event_type""",
      "dp_sum" ->
        s"SELECT event_type, sum($x) AS sum FROM events GROUP BY event_type",
      "dp_sum_pld_gaussian" ->
        s"SELECT event_type, sum($x) AS sum FROM events GROUP BY event_type",
      "dp_post_agg_threshold_pld" ->
        "SELECT event_type, CAST(count(DISTINCT user_id) AS DOUBLE) AS privacy_id_count FROM events GROUP BY event_type",
      "dp_grouping_sets" ->
        """SELECT event_type, ubucket,
              CAST(count(DISTINCT user_id) AS DOUBLE) AS privacy_id_count,
              CAST(GROUPING(event_type, ubucket) AS BIGINT) AS grouping_id
           FROM (SELECT user_id, event_type,
                   CAST(user_id % 20 AS VARCHAR) AS ubucket FROM events)
           GROUP BY GROUPING SETS ((event_type, ubucket), (event_type), ())""",
      "dp_mean" ->
        s"SELECT event_type, 55.0 + sum($x - 55.0) / count(*) AS mean FROM events GROUP BY event_type",
      "dp_mean_count_sum" ->
        s"""SELECT event_type,
              55.0 + sum($x - 55.0) / count(*) AS mean,
              CAST(count(*) AS DOUBLE) AS count,
              (55.0 + sum($x - 55.0) / count(*)) * count(*) AS sum
            FROM events GROUP BY event_type""",
      "dp_variance" ->
        s"""SELECT event_type,
              sum(($x - 55.0) * ($x - 55.0)) / count(*)
                - pow(sum($x - 55.0) / count(*), 2) AS variance,
              55.0 + sum($x - 55.0) / count(*) AS mean,
              CAST(count(*) AS DOUBLE) AS count,
              (55.0 + sum($x - 55.0) / count(*)) * count(*) AS sum
            FROM events GROUP BY event_type""",
      "dp_sum_per_partition" ->
        """SELECT event_type, sum(s) AS sum FROM (
             SELECT user_id, event_type,
                    least(greatest(sum(floor(value)), 0.0), 500.0) AS s
             FROM events GROUP BY user_id, event_type
           ) GROUP BY event_type""",
      "dp_multi_value" ->
        """SELECT event_type, sum(sv) AS v_sum, sum(sw) AS w_sum FROM (
             SELECT user_id, event_type,
                    least(greatest(sum(floor(value)), 0.0), 500.0) AS sv,
                    least(greatest(sum(CAST(len(props) AS DOUBLE)), 0.0), 100.0) AS sw
             FROM events GROUP BY user_id, event_type
           ) GROUP BY event_type""",
      "dp_multi_value_mean" ->
        s"""SELECT event_type,
              sum(($x - 55.0) * ($x - 55.0)) / count(*)
                - pow(sum($x - 55.0) / count(*), 2) AS v_variance,
              55.0 + sum($x - 55.0) / count(*) AS v_mean,
              CAST(count(*) AS DOUBLE) AS v_count,
              (55.0 + sum($x - 55.0) / count(*)) * count(*) AS v_sum,
              15.0 + sum(least(greatest(CAST(len(props) AS DOUBLE), 0.0), 30.0) - 15.0)
                / count(*) AS w_mean
            FROM events GROUP BY event_type""",
      "dp_public_partitions" ->
        """SELECT p.event_type,
              CAST(coalesce(count(e.user_id), 0) AS DOUBLE) AS count,
              coalesce(sum(least(greatest(floor(e.value), 0.0), 1000.0)), 0.0) AS sum
           FROM (VALUES ('click'), ('error'), ('purchase'), ('ghost_type')) AS p(event_type)
           LEFT JOIN events e ON e.event_type = p.event_type
           GROUP BY p.event_type""",
      // HAVING >= 2: the zero-noise private partition selection rule for
      // these params. P(keep | 1 user) <= delta_partition (~0.005 after the
      // l0=200 split) < 0.5 = Zero.uniform(), while P(keep | >= 2 users) ~ 1
      // at eps_partition = 500 — so a single-user (event_type, day) cell is
      // deterministically dropped (observed at sf0.001), every other cell
      // deterministically kept. DP semantics, not data loss.
      "dp_multi_key" ->
        """SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
              CAST(count(*) AS DOUBLE) AS count,
              CAST(count(DISTINCT user_id) AS DOUBLE) AS privacy_id_count
           FROM events GROUP BY 1, 2
           HAVING count(DISTINCT user_id) >= 2""",
      "dp_select_partitions" ->
        "SELECT DISTINCT event_type FROM events",
      "dp_select_weighted_gaussian" ->
        "SELECT DISTINCT event_type FROM events",
      // threshold derivation in the query comment: count >= 242 is the
      // integer-exact decision at (eps = 2, delta = 1e-6, 1/32 weights)
      "dp_set_union" ->
        """WITH t AS (
             SELECT doc_id,
                    unnest(list_distinct(regexp_extract_all(lower(text),
                      '[a-z0-9]+'))) AS item
             FROM documents),
           r AS (
             SELECT doc_id, item,
                    row_number() OVER (PARTITION BY doc_id ORDER BY item) AS rn
             FROM t),
           c AS (SELECT item, count(*) AS n FROM r WHERE rn <= 32 GROUP BY 1)
           SELECT item FROM c WHERE n >= 242""",
      "dp_noisy_topk" ->
        """WITH c AS (
             SELECT event_type, user_id % 20 AS ubucket,
                    count(DISTINCT user_id) AS n
             FROM events GROUP BY event_type, user_id % 20)
           SELECT event_type, ubucket,
                  CAST(row_number() OVER (ORDER BY n DESC, event_type ASC,
                       ubucket ASC) AS BIGINT) AS rank
           FROM c QUALIFY rank <= 7""",
      "dp_sum_pld_laplace" ->
        """SELECT p.event_type,
              CAST(coalesce(count(e.user_id), 0) AS DOUBLE) AS count,
              coalesce(sum(least(greatest(floor(e.value), 0.0), 0.5)), 0.0) AS sum
           FROM (VALUES ('click'), ('error'), ('purchase'), ('ghost_type')) AS p(event_type)
           LEFT JOIN events e ON e.event_type = p.event_type
           GROUP BY p.event_type""",
      "dp_noisy_topk_public" ->
        """WITH c AS (
             SELECT p.event_type, count(DISTINCT e.user_id) AS n
             FROM (VALUES ('click'), ('error'), ('purchase'), ('ghost_type'))
               AS p(event_type)
             LEFT JOIN events e ON e.event_type = p.event_type
             GROUP BY p.event_type)
           SELECT event_type,
                  CAST(row_number() OVER (ORDER BY n DESC, event_type ASC)
                       AS BIGINT) AS rank
           FROM c QUALIFY rank <= 4""",
      "dp_select_gaussian_thr" ->
        "SELECT DISTINCT event_type FROM events",
      "dp_bounds_enforced" ->
        "SELECT event_type, CAST(count(*) AS DOUBLE) AS count FROM events GROUP BY event_type",
      "dp_vector_sum" ->
        """SELECT label,
              CAST(gs - 1 AS BIGINT) AS idx,
              sum(floor(CAST(e AS DOUBLE) * 1024) / 1024) AS coord_sum
           FROM (SELECT label, unnest(embedding) AS e,
                        generate_subscripts(embedding, 1) AS gs
                 FROM embeddings)
           GROUP BY label, gs""",
      // the released pair (vector_sum, privacy_id_count) replayed, then
      // the same post-processing division
      "dp_vector_mean" ->
        """WITH m AS (
             SELECT label, CAST(count(DISTINCT vec_id) AS DOUBLE) AS n_units
             FROM embeddings GROUP BY label),
           s AS (
             SELECT label, CAST(gs - 1 AS BIGINT) AS idx,
                    sum(floor(CAST(e AS DOUBLE) * 1024) / 1024) AS coord_sum
             FROM (SELECT label, unnest(embedding) AS e,
                          generate_subscripts(embedding, 1) AS gs
                   FROM embeddings)
             GROUP BY label, gs)
           SELECT s.label, s.idx,
                  s.coord_sum / greatest(m.n_units, 1.0) AS coord_mean,
                  m.n_units
           FROM s JOIN m USING (label)""",
      "dp_add_noise" ->
        "SELECT event_type, CAST(sum(floor(value)) AS DOUBLE) AS total FROM events GROUP BY event_type",
      // Zero-noise quantile tree (height 4, branching 16 over [0, 500]):
      // exact per-leaf counts, then the tree's top-down walk unrolled level by
      // level. Each level selects the first child digit whose cumulative count
      // reaches the target mass, re-normalizes the rank with the SAME
      // floating-point expression the engine uses ((target - cumBefore) / c,
      // next target = rank * c), and narrows [lo, hi) with the engine's
      // width arithmetic — IEEE ops in identical order, so the interpolated
      // quantiles match bit-for-bit.
      "dp_percentile" ->
        pctlTreeSql,
      "dp_percentile_pld" -> pctlTreeSql,
      // public partitions: tree walk over the public-filtered events; the
      // ghost partition's empty tree walks to the closed-form uniform
      // interpolation q * (upper - lower) over [0, 500]
      "dp_percentile_public" ->
        s"""WITH public_events AS (
              SELECT * FROM events
              WHERE event_type IN ('click', 'error', 'purchase')),
            tree AS (${pctlTreeSqlFor(Seq(10, 50, 90), "public_events")})
            SELECT * FROM tree
            UNION ALL
            SELECT 'ghost_type' AS event_type, 50.0 AS percentile_10,
                   250.0 AS percentile_50, 450.0 AS percentile_90""",
      "dp_percentile_sum_partition" ->
        s"""SELECT p.event_type, p.percentile_25, p.percentile_75, s.part_sum
            FROM (${pctlTreeSqlFor(Seq(25, 75))}) p
            JOIN (SELECT event_type, sum(s) AS part_sum FROM (
                    SELECT user_id, event_type,
                           least(greatest(sum(floor(value)), 0.0), 500.0) AS s
                    FROM events GROUP BY user_id, event_type
                  ) GROUP BY event_type) s USING (event_type)""",
      // the one-pass constraint metrics replayed as conditional counts
      "dq_report" ->
        """WITH m AS (
             SELECT CAST(count(*) AS BIGINT) AS n_rows,
                    CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v0,
                    CAST(count(*) - count(DISTINCT event_id) AS BIGINT) AS v1,
                    CAST(sum(CASE WHEN value IS NOT NULL
                          AND (value < 0.0 OR value > 400.0) THEN 1 ELSE 0 END) AS BIGINT) AS v2,
                    CAST(sum(CASE WHEN event_type IS NOT NULL
                          AND event_type NOT IN ('click', 'error', 'purchase', 'view')
                          THEN 1 ELSE 0 END) AS BIGINT) AS v3,
                    CAST(sum(CASE WHEN event_type IS NOT NULL
                          AND NOT regexp_matches(event_type, '^[a-z_]+$')
                          THEN 1 ELSE 0 END) AS BIGINT) AS v4,
                    CAST(sum(CASE WHEN COALESCE(event_type <> 'purchase'
                          OR value <= 350.0, FALSE) THEN 0 ELSE 1 END) AS BIGINT) AS v5
             FROM events)
           SELECT CAST(0 AS BIGINT) AS check_index, 'user_id_complete' AS check,
                  'not_null' AS kind, n_rows, v0 AS n_violations, v0 <= 0 AS passed FROM m
           UNION ALL SELECT 1, 'event_id_unique', 'unique', n_rows, v1, v1 <= 0 FROM m
           UNION ALL SELECT 2, 'value_in_0_400', 'in_range', n_rows, v2, v2 <= 0 FROM m
           UNION ALL SELECT 3, 'known_types', 'contained_in', n_rows, v3, v3 <= 0 FROM m
           UNION ALL SELECT 4, 'type_shape', 'matches_pattern', n_rows, v4, v4 <= 0 FROM m
           UNION ALL SELECT 5, 'purchase_value_cap', 'satisfies', n_rows, v5, v5 <= 0 FROM m""",
      // the per-group metrics replayed: conditional counts per source,
      // then the four literal check rows
      "dq_by_source" ->
        """WITH m AS (
             SELECT source, CAST(count(*) AS BIGINT) AS n_rows,
                    CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v0,
                    CAST(count(*) - count(DISTINCT doc_id) AS BIGINT) AS v1,
                    CAST(sum(CASE WHEN n_chars IS NOT NULL
                          AND (n_chars < 100.0 OR n_chars > 600.0)
                          THEN 1 ELSE 0 END) AS BIGINT) AS v2,
                    CAST(sum(CASE WHEN lang IS NOT NULL
                          AND lang NOT IN ('en', 'de', 'fr', 'es')
                          THEN 1 ELSE 0 END) AS BIGINT) AS v3
             FROM documents GROUP BY source)
           SELECT source, CAST(0 AS BIGINT) AS check_index,
                  'text_complete' AS check, 'not_null' AS kind,
                  n_rows, v0 AS n_violations, v0 <= 0 AS passed FROM m
           UNION ALL SELECT source, 1, 'doc_id_unique', 'unique', n_rows, v1, v1 <= 0 FROM m
           UNION ALL SELECT source, 2, 'chars_100_600', 'in_range', n_rows, v2, v2 <= 0 FROM m
           UNION ALL SELECT source, 3, 'lang_domain', 'contained_in', n_rows, v3, v3 <= 0 FROM m""",
      // the melt + two-phase profile replayed: one UNION ALL arm per
      // profiled column, value histogram, then the same final aggregates
      "dq_profile" ->
        """WITH m AS (
             SELECT 'c_custkey' AS column_name, 'bigint' AS dtype,
                    CAST(NULL AS VARCHAR) AS sval,
                    CAST(c_custkey AS BIGINT) AS nval
             FROM customer
             UNION ALL SELECT 'c_name', 'string', c_name, NULL FROM customer
             UNION ALL SELECT 'c_nationkey', 'int', NULL,
                    CAST(c_nationkey AS BIGINT) FROM customer
             UNION ALL SELECT 'c_acctbal', 'double', NULL,
                    CAST(floor(c_acctbal) AS BIGINT) FROM customer
             UNION ALL SELECT 'c_mktsegment', 'string', c_mktsegment, NULL FROM customer),
           g AS (SELECT column_name, dtype, sval, nval, count(*) AS c
                 FROM m GROUP BY 1, 2, 3, 4)
           SELECT column_name, dtype,
                  CAST(sum(c) AS BIGINT) AS n_rows,
                  CAST(coalesce(sum(CASE WHEN sval IS NULL AND nval IS NULL
                        THEN c END), 0) AS BIGINT) AS n_null,
                  CAST(count(CASE WHEN sval IS NOT NULL OR nval IS NOT NULL
                        THEN 1 END) AS BIGINT) AS n_distinct,
                  CAST(coalesce(min(nval), 0) AS BIGINT) AS min_long,
                  CAST(coalesce(max(nval), 0) AS BIGINT) AS max_long,
                  CAST(coalesce(sum(nval * c), 0) AS BIGINT) AS sum_long,
                  coalesce(min(sval), '') AS min_str,
                  coalesce(max(sval), '') AS max_str
           FROM g GROUP BY 1, 2""",
      // top-k per column over the same melted value histogram
      "dq_top_values" ->
        """WITH m AS (
             SELECT 'c_nationkey' AS column_name,
                    CAST(CAST(c_nationkey AS BIGINT) AS VARCHAR) AS value
             FROM customer WHERE c_nationkey IS NOT NULL
             UNION ALL
             SELECT 'c_mktsegment', c_mktsegment
             FROM customer WHERE c_mktsegment IS NOT NULL),
           g AS (SELECT column_name, value, CAST(count(*) AS BIGINT) AS n
                 FROM m GROUP BY 1, 2),
           r AS (SELECT *, CAST(row_number() OVER (PARTITION BY column_name
                   ORDER BY n DESC, value ASC) AS BIGINT) AS rank FROM g)
           SELECT column_name, value, n, rank FROM r WHERE rank <= 5""",
      "stats_k_anonymity" ->
        """WITH c AS (
             SELECT event_type, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
                    CAST(count(*) AS BIGINT) AS n,
                    CAST(count(DISTINCT user_id) AS BIGINT) AS ndist
             FROM events GROUP BY 1, 2),
           x AS (SELECT c.*, t.k FROM c, unnest([2, 5, 10, 25]) AS t(k))
           SELECT k, CAST(count(*) AS BIGINT) AS n_classes,
                  CAST(count(*) FILTER (n < k) AS BIGINT) AS n_classes_below_k,
                  CAST(coalesce(sum(n) FILTER (n < k), 0) AS BIGINT) AS n_rows_below_k,
                  CAST(count(*) FILTER (ndist < k) AS BIGINT) AS n_classes_ldiv_below_k
           FROM x GROUP BY k""",
      "papi_count_sum" ->
        """SELECT event_type, CAST(count(*) AS DOUBLE) AS count,
              sum(least(greatest(floor(value), 0.0), 1000.0)) AS sum
           FROM events GROUP BY event_type""",
      "stats_l0_histogram" ->
        """SELECT CAST(c AS BIGINT) AS bin_lower, count(*) AS n_units,
              CAST(sum(c) AS DOUBLE) AS total_contribs
           FROM (SELECT count(DISTINCT event_type) AS c FROM events GROUP BY user_id)
           GROUP BY c""",
      "stats_error_estimate" ->
        """WITH per AS (
             SELECT user_id, event_type, count(*) AS n FROM events GROUP BY 1, 2),
           l0 AS (SELECT user_id, count(*) AS c FROM per GROUP BY 1),
           params(l0_bound, linf_bound) AS (VALUES (1, 1.0), (2, 5.0), (5, 100.0)),
           r0 AS (
             SELECT p.l0_bound, p.linf_bound,
                    CAST(sum(greatest(c - p.l0_bound, 0)) AS DOUBLE)
                      / CAST(sum(c) AS DOUBLE) AS rl0
             FROM params p CROSS JOIN l0 GROUP BY 1, 2),
           ri AS (
             SELECT p.l0_bound, p.linf_bound,
                    sum(greatest(n - p.linf_bound, 0)) / CAST(sum(n) AS DOUBLE) AS rlinf
             FROM params p CROSS JOIN per GROUP BY 1, 2),
           pk AS (SELECT event_type, sum(n) AS rows_pk FROM per GROUP BY 1),
           bins AS (
             SELECT rows_pk - (rows_pk % CAST(pow(10.0,
                      greatest(0, length(CAST(rows_pk AS VARCHAR)) - 3)) AS BIGINT)) AS lower,
                    count(*) AS cnt, sum(rows_pk) AS s
             FROM pk GROUP BY 1),
           tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS nb FROM bins),
           terms AS (
             SELECT l0_bound, linf_bound, lower,
                    cnt * sqrt((rd * avgsz) * (rd * avgsz) + std * std) AS term
             FROM (
               SELECT r0.l0_bound, r0.linf_bound, b.lower, b.cnt,
                      1 - (1 - r0.rl0) * (1 - ri.rlinf) AS rd,
                      CAST(b.s AS DOUBLE) / CAST(b.cnt AS DOUBLE) AS avgsz,
                      sqrt(2.0) * r0.l0_bound * ri.linf_bound AS std
               FROM r0 JOIN ri USING (l0_bound, linf_bound) CROSS JOIN bins b))
           SELECT l0_bound, linf_bound,
                  floor(sum(term ORDER BY lower) / (SELECT nb FROM tot) * 1e6 + 0.5)
                    / 1e6 AS estimated_rmse
           FROM terms GROUP BY 1, 2""",
      "stats_private_l0" ->
        """WITH per AS (
             SELECT user_id, count(DISTINCT event_type) AS c FROM events GROUP BY 1),
           np AS (SELECT count(DISTINCT event_type) AS n FROM events),
           bub AS (SELECT least(100, n) AS b FROM np),
           ks AS (SELECT unnest(range(1, (SELECT b FROM bub) + 1)) AS k),
           scores AS (
             SELECT k,
                    -(0.5 * ((SELECT n FROM np) * (k / 1.0 * sqrt(2.0)))
                      + 0.5 * (SELECT CAST(sum(greatest(
                          least(c, (SELECT b FROM bub)) - k, 0)) AS DOUBLE)
                          FROM per)) AS score
             FROM ks)
           SELECT CAST(k AS INT) AS private_l0_bound,
                  (SELECT CAST(n AS BIGINT) FROM np) AS n_partitions
           FROM scores ORDER BY score DESC, k LIMIT 1""",
      "stats_linf_histogram" ->
        """SELECT CAST(c AS BIGINT) AS bin_lower, count(*) AS n_pairs,
              CAST(sum(c) AS DOUBLE) AS total_rows
           FROM (SELECT count(*) AS c FROM events GROUP BY user_id, event_type)
           GROUP BY c""",
      "dp_transitions" ->
        """WITH e AS (
             SELECT user_id, epoch_ns(ts) // 1000 AS tu,
                    event_type AS cur, event_id
             FROM events),
           l AS (
             SELECT cur, lag(cur) OVER
                    (PARTITION BY user_id ORDER BY tu, event_id) AS prev
             FROM e)
           SELECT prev, cur, CAST(count(*) AS DOUBLE) AS count
           FROM l WHERE prev IS NOT NULL GROUP BY 1, 2""",
      "dp_growth" ->
        """WITH days AS (
              SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS d FROM events),
            l AS (SELECT u, d,
                         date_diff('day',
                                   lag(d) OVER (PARTITION BY u ORDER BY d),
                                   d) AS gap
                  FROM days)
           SELECT strftime(d, '%Y-%m-%d') AS day,
                  CASE WHEN gap IS NULL THEN 'new'
                       WHEN gap <= 7 THEN 'returning'
                       ELSE 'resurrected' END AS kind,
                  CAST(count(*) AS DOUBLE) AS privacy_id_count
           FROM l GROUP BY 1, 2""",
      "stats_join_skew" ->
        """WITH a AS (SELECT l_orderkey AS k, count(*) AS ca
                      FROM lineitem GROUP BY 1),
            b AS (SELECT o_orderkey AS k, count(*) AS cb
                  FROM orders GROUP BY 1),
            j AS (SELECT a.ca, b.cb
                  FROM a FULL OUTER JOIN b ON a.k = b.k)
           SELECT CAST(sum(CASE WHEN ca IS NOT NULL AND cb IS NOT NULL
                                THEN 1 ELSE 0 END) AS BIGINT) AS n_keys_both,
                  CAST(sum(CASE WHEN cb IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                    AS n_keys_left_only,
                  CAST(sum(CASE WHEN ca IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                    AS n_keys_right_only,
                  CAST(sum(coalesce(ca, 0) * coalesce(cb, 0)) AS BIGINT)
                    AS total_pairs,
                  CAST(max(coalesce(ca, 0) * coalesce(cb, 0)) AS BIGINT)
                    AS max_pairs,
                  CAST(max(coalesce(ca, 0) * coalesce(cb, 0)) AS DOUBLE)
                    / CAST(sum(coalesce(ca, 0) * coalesce(cb, 0)) AS DOUBLE)
                    AS p_max
           FROM j""",
      "stats_profile" ->
        """WITH a AS (
              SELECT count(*) AS n_rows,
                     sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS text_nulls,
                     count(DISTINCT lang) AS lang_distinct,
                     count(DISTINCT source) AS source_distinct,
                     min(n_chars) AS n_chars_min, max(n_chars) AS n_chars_max,
                     sum(n_chars) AS n_chars_sum,
                     sum(length(text)) AS text_len_sum
              FROM documents)
           SELECT 'n_rows' AS stat, CAST(n_rows AS BIGINT) AS value FROM a
           UNION ALL SELECT 'text_nulls', CAST(text_nulls AS BIGINT) FROM a
           UNION ALL SELECT 'lang_distinct', CAST(lang_distinct AS BIGINT) FROM a
           UNION ALL SELECT 'source_distinct', CAST(source_distinct AS BIGINT) FROM a
           UNION ALL SELECT 'n_chars_min', CAST(n_chars_min AS BIGINT) FROM a
           UNION ALL SELECT 'n_chars_max', CAST(n_chars_max AS BIGINT) FROM a
           UNION ALL SELECT 'n_chars_sum', CAST(n_chars_sum AS BIGINT) FROM a
           UNION ALL SELECT 'text_len_sum', CAST(text_len_sum AS BIGINT) FROM a""",
      "dp_retention" ->
        """WITH days AS (
              SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS d FROM events),
            coh AS (SELECT u, min(d) AS cohort FROM days GROUP BY 1)
           SELECT strftime(cohort, '%Y-%m-%d') AS cohort_day,
                  CAST(date_diff('day', cohort, d) // 7 AS BIGINT) AS week_offset,
                  CAST(count(DISTINCT u) AS DOUBLE) AS privacy_id_count
           FROM days JOIN coh USING (u) GROUP BY 1, 2""",
      "dp_funnel_users" ->
        """WITH ev AS (SELECT user_id, epoch_ns(ts) // 1000 AS tu, event_type
                       FROM events),
            s1 AS (SELECT user_id, min(tu) AS e FROM ev
                   WHERE event_type = 'view' GROUP BY 1),
            s2 AS (SELECT ev.user_id, min(ev.tu) AS e FROM ev
                   JOIN s1 ON ev.user_id = s1.user_id AND ev.tu >= s1.e
                   WHERE ev.event_type = 'click' GROUP BY 1),
            s3 AS (SELECT ev.user_id, min(ev.tu) AS e FROM ev
                   JOIN s2 ON ev.user_id = s2.user_id AND ev.tu >= s2.e
                   WHERE ev.event_type = 'purchase' GROUP BY 1)
           SELECT '1_view' AS step, CAST(count(*) AS DOUBLE) AS privacy_id_count
           FROM s1
           UNION ALL SELECT '2_click', CAST(count(*) AS DOUBLE) FROM s2
           UNION ALL SELECT '3_purchase', CAST(count(*) AS DOUBLE) FROM s3"""
    )
  }
}
