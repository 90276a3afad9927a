package graft.analysis

import graft.core._
import graft.spark.DPColumns
import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._

/** One parameter configuration to analyze (reference:
  * analysis/data_structures.py:24-127 MultiParameterConfiguration — here each
  * configuration is an explicit value; a sweep is just `Seq[...]`). */
final case class UtilityAnalysisConfig(
    maxPartitionsContributed: Int,
    maxContributionsPerPartition: Int = 1,
    minSumPerPartition: Double = 0.0,
    maxSumPerPartition: Double = 0.0,
    noiseKind: NoiseKind = NoiseKind.Laplace,
    partitionSelectionStrategy: PartitionSelectionStrategyKind =
      PartitionSelectionStrategyKind.TruncatedGeometric,
    preThreshold: Option[Int] = None
) {
  require(maxPartitionsContributed >= 1, "maxPartitionsContributed must be >= 1")
  require(maxContributionsPerPartition >= 1, "maxContributionsPerPartition must be >= 1")
  require(minSumPerPartition <= maxSumPerPartition,
    "minSumPerPartition must be <= maxSumPerPartition")
}

/** Options of a utility-analysis run (reference:
  * analysis/data_structures.py:130-152). Budget is split equally among the
  * mechanisms of each configuration (partition selection if private, then one
  * per metric), mirroring the reference's per-configuration
  * NaiveBudgetAccountant with unit weights
  * (reference: analysis/utility_analysis_engine.py:103-158). */
final case class UtilityAnalysisOptions(
    epsilon: Double,
    delta: Double,
    metrics: Seq[Metric],
    configs: Seq[UtilityAnalysisConfig],
    publicPartitions: Boolean = false,
    partitionsSamplingProb: Double = 1.0
) {
  require(epsilon > 0, s"epsilon must be positive, got $epsilon")
  require(delta >= 0 && delta < 1, s"delta must be in [0, 1), got $delta")
  // empty metrics = selection-only analysis (the select_partitions case,
  // reference: parameter_tuning.py:460-468); needs private partitions
  require(metrics.nonEmpty || !publicPartitions,
    "selection-only analysis (empty metrics) requires private partitions")
  require(metrics.forall {
    case Metric.Count | Metric.PrivacyIdCount | Metric.Sum => true
    case _ => false
  }, "utility analysis supports COUNT, PRIVACY_ID_COUNT and SUM " +
     "(reference: utility_analysis_engine.py:220-227)")
  require(configs.nonEmpty, "at least one configuration is required")
  require(partitionsSamplingProb > 0 && partitionsSamplingProb <= 1,
    s"partitionsSamplingProb must be in (0, 1], got $partitionsSamplingProb")
  require(publicPartitions || delta > 0,
    "private partition selection requires delta > 0 " +
      "(the selection mechanism would otherwise fail deep inside the plan)")
  require(delta > 0 || configs.forall(_.noiseKind != NoiseKind.Gaussian),
    "a Gaussian-noise configuration requires delta > 0 (Gaussian sigma " +
      "is calibrated from (eps, delta); delta = 0 would fail deep inside " +
      "the plan with a bare 'requirement failed')")
}

/** Input of the partition-selection probability aggregate: the configuration
  * index and one contributor's post-L0-bounding keep probability. */
final case class PSIn(cfg: Int, prob: Double)

/** Sparse/dense accumulator: exact probabilities while few, moments after —
  * the reference's memory-bounding switch
  * (reference: analysis/per_partition_combiners.py:97-190). */
final case class PSBuf(
    cfg: Int, probs: Array[Double], dense: Boolean,
    cnt: Long, ex: Double, vr: Double, m3: Double)

/** Probability that a partition survives DP partition selection, as a typed
  * partial aggregate: each contributor is an independent Bernoulli (kept with
  * prob = min(1, l0 / its partition count)); the surviving-contributor count
  * is Poisson-binomial; convolve its PMF with the selection strategy's exact
  * keep probability. Runs map-side partial aggregation — at most
  * `maxProbs` doubles (or 4 moments) per (partition, config) cross the wire.
  */
final class KeepProbAggregator(
    strategies: Array[PartitionSelection],
    maxProbs: Int = KeepProbAggregator.MaxProbsInAccumulator
) extends Aggregator[PSIn, PSBuf, Double] {

  def zero: PSBuf = PSBuf(-1, Array.emptyDoubleArray, dense = false, 0L, 0, 0, 0)

  private def densify(b: PSBuf): PSBuf =
    if (b.probs.isEmpty) b.copy(dense = true)
    else {
      val (c, e, v, m) = PoissonBinomial.moments(b.probs.toIndexedSeq)
      PSBuf(b.cfg, Array.emptyDoubleArray, dense = true,
        b.cnt + c, b.ex + e, b.vr + v, b.m3 + m)
    }

  def reduce(b: PSBuf, a: PSIn): PSBuf = {
    val cfg = if (b.cfg >= 0) b.cfg else a.cfg
    if (!b.dense && b.probs.length < maxProbs)
      b.copy(cfg = cfg, probs = b.probs :+ a.prob)
    else {
      val d = densify(b)
      val p = a.prob
      PSBuf(cfg, Array.emptyDoubleArray, dense = true, d.cnt + 1,
        d.ex + p, d.vr + p * (1 - p), d.m3 + p * (1 - p) * (1 - 2 * p))
    }
  }

  def merge(b1: PSBuf, b2: PSBuf): PSBuf = {
    val cfg = if (b1.cfg >= 0) b1.cfg else b2.cfg
    if (!b1.dense && !b2.dense && b1.probs.length + b2.probs.length <= maxProbs)
      b1.copy(cfg = cfg, probs = b1.probs ++ b2.probs)
    else {
      val d1 = densify(b1); val d2 = densify(b2)
      PSBuf(cfg, Array.emptyDoubleArray, dense = true, d1.cnt + d2.cnt,
        d1.ex + d2.ex, d1.vr + d2.vr, d1.m3 + d2.m3)
    }
  }

  def finish(b: PSBuf): Double = {
    if (b.cfg < 0) return 0.0
    val strategy = strategies(b.cfg)
    val pmf =
      if (!b.dense) PoissonBinomial.pmfOf(Some(b.probs.toIndexedSeq), 0, 0, 0, 0)
      else PoissonBinomial.pmfOf(None, b.cnt, b.ex, b.vr, b.m3)
    var acc = 0.0
    var i = 0
    while (i < pmf.probabilities.length) {
      acc += pmf.probabilities(i) * strategy.probabilityOfKeep(pmf.start + i)
      i += 1
    }
    math.min(1.0, math.max(0.0, acc))
  }

  def bufferEncoder: Encoder[PSBuf] = Encoders.product[PSBuf]
  def outputEncoder: Encoder[Double] = Encoders.scalaDouble
}
object KeepProbAggregator {
  /** Switch to moments beyond this many retained probabilities
    * (reference: per_partition_combiners.py:30). */
  val MaxProbsInAccumulator = 100
}

/** Utility analysis for DP aggregations, Spark-native.
  *
  * Estimates, WITHOUT running the DP computation, the error a DP aggregate
  * would incur for each candidate parameter configuration: contribution
  * bounding (clipping + L0 dropping) error moments, partition-selection
  * survival probability, and noise scale — per partition and aggregated into
  * a cross-partition utility report
  * (reference: analysis/utility_analysis.py:43-143, per_partition_combiners.py,
  * cross_partition_combiners.py).
  *
  * The whole computation is three shuffles regardless of how many
  * configurations are analyzed:
  * {{{
  * groupBy(pid, pk)                 -- per-contributor counts/sums (shuffle 1)
  *   window count over pid          -- n_partitions per unit (shuffle 2)
  *   explode(configs)               -- one literal struct per configuration
  *   error moments as expressions   -- codegen'd arithmetic, no UDF
  *   groupBy(pk, config)            -- shuffle 3; only the keep-probability
  *                                     aggregate is non-native (bounded state)
  * }}}
  * and the report is a fourth, tiny, shuffle keyed by (config, size bucket).
  * Analyzing k configurations multiplies only the shuffle-3 volume by k --
  * the input is still read and pre-aggregated once, like the reference's
  * CompoundCombiner over one pass.
  */
object UtilityAnalysis {

  import Metric._

  /** Lower bound of the log bucket of n: 0, 1, then {1,2,5}·10^i
    * (reference: analysis/utility_analysis.py:29-40, 182-194). */
  def bucketLower(n: Column): Column = {
    val p = pow(lit(10.0), floor(log10(n.cast("double"))))
    val frac = n.cast("double") / p
    when(n <= 0, lit(0.0))
      .when(n < 10, lit(1.0))
      .otherwise(p * when(frac >= 5, 5.0).when(frac >= 2, 2.0).otherwise(1.0))
      .cast("long")
  }

  /** Pre-aggregation: one row per (privacy unit, partition) with the unit's
    * contribution count and sum to that partition, plus the unit's total
    * partition count. This is the reference's `pre_aggregation.preaggregate` /
    * `PreAggregateExtractors` input shape
    * (reference: analysis/pre_aggregation.py:20-62, data_extractors.py:48-66).
    * Output: pk..., __cnt, __sum, __n_partitions. */
  def preAggregate(
      df: DataFrame,
      columns: DPColumns,
      partitionsSamplingProb: Double = 1.0
  ): DataFrame =
    preAggregateCore(df, columns.privacyUnit, columns.partitionKeys,
      Seq(Sm -> columns.value.getOrElse(lit(1.0))), partitionsSamplingProb)

  /** Per-contributor error-moment columns for one metric — the clipped
    * contribution, clipping errors, and the L0-dropping error moments
    * (reference: per_partition_combiners.py:247-282). */
  private def errMomentCols(
      value: Column, lo: Column, hi: Column, m: String): Seq[Column] = {
    val clipped = least(greatest(value, lo), hi)
    val err = clipped - value
    val p = col(Prob)
    Seq(
      value.as(s"__${m}_v"),
      when(value < lo, err).otherwise(lit(0.0)).as(s"__${m}_cmin"),
      when(value > hi, err).otherwise(lit(0.0)).as(s"__${m}_cmax"),
      (-clipped * (lit(1.0) - p)).as(s"__${m}_el0"),
      (clipped * clipped * p * (lit(1.0) - p)).as(s"__${m}_vl0"))
  }

  /** Tail of [[perPartitionCore]] downstream of the bound per-row metric
    * columns: aggregate the error moments per (partition, configuration),
    * apply the keep-probability aggregate, zero-fill absent public
    * partitions, and project the released schema. */
  private def assemblePerPartition(
      cur: DataFrame,
      pkNames: Seq[String],
      metricPrefixes: Seq[String],
      keepAgg: Column,
      cfgArr: Column,
      publicPartitions: Option[DataFrame],
      noiseStdCols: Seq[Column]): DataFrame = {
    val metricAggs = metricPrefixes.flatMap { n =>
      Seq(
        sum(col(s"__${n}_v")).as(s"${n}_sum"),
        sum(col(s"__${n}_cmin")).as(s"${n}_clip_min_err"),
        sum(col(s"__${n}_cmax")).as(s"${n}_clip_max_err"),
        sum(col(s"__${n}_el0")).as(s"${n}_exp_l0_err"),
        sqrt(sum(col(s"__${n}_vl0"))).as(s"${n}_std_l0_err"))
    }
    // grouped by the configuration's index, not its struct: one int key
    // instead of every normalized config field; the struct is rebuilt
    // from `cfgArr` for the output
    var grouped = cur
      .groupBy(pkNames.map(col) :+ col(s"$Cfg.i").as(CfgIdx): _*)
      .agg(count(lit(1)).as("raw_privacy_id_count"),
        (sum(col(Cnt)).as("raw_count") +: keepAgg +: metricAggs): _*)

    // public partitions: every public key appears for every configuration;
    // keys absent from the data get empty (all-zero) metrics
    // (reference: cross_partition_combiners.py:121-131 empty partitions)
    publicPartitions.foreach { pub =>
      val pubCfg = broadcast(pub.distinct().withColumn(CfgIdx, explode(cfgArr.getField("i"))))
      val zeroed: Seq[Column] =
        Seq(coalesce(col("raw_privacy_id_count"), lit(0L)).as("raw_privacy_id_count"),
          coalesce(col("raw_count"), lit(0L)).as("raw_count"),
          lit(1.0).as(KeepProb)) ++
        metricPrefixes.flatMap { n =>
          Seq(s"${n}_sum", s"${n}_clip_min_err", s"${n}_clip_max_err",
            s"${n}_exp_l0_err", s"${n}_std_l0_err")
            .map(c => coalesce(col(c), lit(0.0)).as(c))
        }
      grouped = pubCfg.join(grouped, pkNames :+ CfgIdx, "left_outer")
        .select(pkNames.map(col) ++ Seq(col(CfgIdx)) ++ zeroed: _*)
    }

    grouped.withColumn(Cfg, element_at(cfgArr, col(CfgIdx) + 1)).select(
      pkNames.map(col) ++
        Seq(col(CfgIdx).as("config_index"), col(KeepProb).as("keep_prob"),
          col("raw_privacy_id_count"), col("raw_count")) ++
        metricPrefixes.flatMap { n =>
          Seq(col(s"${n}_sum"), col(s"${n}_clip_min_err"), col(s"${n}_clip_max_err"),
            col(s"${n}_exp_l0_err"), col(s"${n}_std_l0_err"))
        } ++ noiseStdCols: _*)
  }

  /** Per-(partition, configuration) utility metrics: raw statistics, the
    * partition-selection keep probability, and per-metric error moments
    * (reference: per_partition_combiners.py SumCombiner/CountCombiner/
    * PrivacyIdCountCombiner/PartitionSelectionCombiner/RawStatisticsCombiner,
    * assembled like CompoundCombiner). `pre` must be the output of
    * [[preAggregate]]. SUM is clamped to each configuration's
    * [minSumPerPartition, maxSumPerPartition]. */
  def perPartitionMetrics(
      pre: DataFrame,
      pkNames: Seq[String],
      options: UtilityAnalysisOptions,
      publicPartitions: Option[DataFrame] = None
  ): DataFrame =
    perPartitionCore(pre, pkNames, options,
      Seq(ValueColumn("value", Sum.name, Sm,
        options.configs.map(c => (c.minSumPerPartition, c.maxSumPerPartition)))),
      publicPartitions)

  /** Cross-partition utility report: per (configuration, partition-size
    * bucket) averages of the per-partition error metrics, weighted by the
    * partition keep probability, with data-dropped ratios normalized by the
    * actual totals. Bucket -1 is the global (all partitions) report; other
    * rows form the report histogram by partition size
    * (reference: cross_partition_combiners.py:195-347,
    * utility_analysis.py:197-251). */
  def report(perPartition: DataFrame, options: UtilityAnalysisOptions): DataFrame =
    reportForPrefixes(perPartition, options.metrics.map(_.name))

  /** Cross-partition report over a multi-column per-partition frame
    * ([[perPartitionMetricsMultiSum]]): SUM metrics are reported per value
    * column (prefix `sum_<name>`). */
  def reportMultiSum(
      perPartition: DataFrame,
      options: UtilityAnalysisOptions,
      valueNames: Seq[String]): DataFrame =
    reportForPrefixes(perPartition, options.metrics.flatMap {
      case Sum => valueNames.map(multiPrefix)
      case m => Seq(m.name)
    })

  private def reportForPrefixes(perPartition: DataFrame, prefixes: Seq[String]): DataFrame = {
    // the cross-partition weight IS the keep probability (reference:
    // cross_partition_combiners.py:261-275 weights by prob_keep) — one
    // val, so no implied second degree of freedom
    val p = col("keep_prob")
    val w = p

    // per-partition per-metric derived error columns, weighted
    // (reference: cross_partition_combiners.py:64-118)
    val metricCols = prefixes.flatMap { n =>
      val sumv = col(s"${n}_sum")
      val absMean = col(s"${n}_exp_l0_err") + col(s"${n}_clip_min_err") + col(s"${n}_clip_max_err")
      val absVar = col(s"${n}_std_l0_err") * col(s"${n}_std_l0_err") +
        col(s"${n}_noise_std") * col(s"${n}_noise_std")
      val rmse = sqrt(absMean * absMean + absVar)
      val rmseWd = p * rmse + (lit(1.0) - p) * abs(sumv)
      val dl0 = -col(s"${n}_exp_l0_err")
      val dlinf = col(s"${n}_clip_min_err") - col(s"${n}_clip_max_err")
      def rel(c: Column, square: Boolean = false): Column =
        when(sumv === 0, lit(0.0))
          .otherwise(if (square) c / (sumv * sumv) else c / sumv)
      Seq(
        sumv.as(s"__${n}_actual"),
        (w * absMean).as(s"__${n}_am"),
        (w * absVar).as(s"__${n}_av"),
        (w * rmse).as(s"__${n}_armse"),
        (w * rmseWd).as(s"__${n}_armsewd"),
        rel(w * absMean).as(s"__${n}_rm"),
        rel(w * absVar, square = true).as(s"__${n}_rv"),
        rel(w * rmse).as(s"__${n}_rrmse"),
        rel(w * rmseWd).as(s"__${n}_rrmsewd"),
        dl0.as(s"__${n}_dl0"),
        dlinf.as(s"__${n}_dlinf"),
        ((sumv - dl0 - dlinf) * (lit(1.0) - p)).as(s"__${n}_dps"),
        col(s"${n}_noise_std").as(s"__${n}_std"))
    }

    val unnested = perPartition
      .select(Seq(col("config_index"), col("keep_prob"), col("raw_count"),
        explode(array(lit(-1L), bucketLower(col("raw_privacy_id_count")))).as("bucket_lower"))
        ++ metricCols: _*)

    val metricAggs = prefixes.flatMap { n =>
      Seq(
        sum(col(s"__${n}_actual")).as(s"__${n}_actual"),
        first(col(s"__${n}_std")).as(s"${n}_noise_std"),
        sum(col(s"__${n}_dl0")).as(s"__${n}_dl0"),
        sum(col(s"__${n}_dlinf")).as(s"__${n}_dlinf"),
        sum(col(s"__${n}_dps")).as(s"__${n}_dps"),
        sum(col(s"__${n}_am")).as(s"__${n}_am"),
        sum(col(s"__${n}_av")).as(s"__${n}_av"),
        sum(col(s"__${n}_armse")).as(s"__${n}_armse"),
        sum(col(s"__${n}_armsewd")).as(s"__${n}_armsewd"),
        sum(col(s"__${n}_rm")).as(s"__${n}_rm"),
        sum(col(s"__${n}_rv")).as(s"__${n}_rv"),
        sum(col(s"__${n}_rrmse")).as(s"__${n}_rrmse"),
        sum(col(s"__${n}_rrmsewd")).as(s"__${n}_rrmsewd"))
    }
    val agg = unnested
      .groupBy(col("config_index"), col("bucket_lower"))
      .agg(count(lit(1)).as("__n"),
        Seq(
          sum(when(col("raw_count") > 0, 1L).otherwise(0L)).as("n_partitions"),
          sum(when(col("raw_count") > 0, 0L).otherwise(1L)).as("n_empty_partitions"),
          sum(p).as("kept_partitions_mean"),
          sum(p * (lit(1.0) - p)).as("kept_partitions_var")) ++ metricAggs: _*)

    // averaging (reference: cross_partition_combiners.py:261-275):
    // error fields / total weight — which is exactly the kept-partitions
    // mean (sum of keep probabilities), not a separate aggregate;
    // dropped ratios / actual totals
    val tw = col("kept_partitions_mean")
    val outMetricCols = prefixes.flatMap { n =>
      val actual = col(s"__${n}_actual")
      def overW(c: Column): Column = when(tw === 0, lit(0.0)).otherwise(c / tw)
      // ratio columns must stay ratios: when the actual total is 0
      // (e.g. cancelling sums), emit 0 for nothing-dropped and 1 for
      // anything-dropped instead of leaking the absolute magnitude into
      // a column consumers interpolate as a fraction
      def overA(c: Column): Column =
        when(actual === 0, when(c === 0, lit(0.0)).otherwise(lit(1.0)))
          .otherwise(c / actual)
      Seq(
        col(s"${n}_noise_std"),
        overA(col(s"__${n}_dl0")).as(s"${n}_ratio_dropped_l0"),
        overA(col(s"__${n}_dlinf")).as(s"${n}_ratio_dropped_linf"),
        overA(col(s"__${n}_dps")).as(s"${n}_ratio_dropped_ps"),
        overW(col(s"__${n}_am")).as(s"${n}_abs_mean"),
        overW(col(s"__${n}_av")).as(s"${n}_abs_variance"),
        overW(col(s"__${n}_armse")).as(s"${n}_abs_rmse"),
        overW(col(s"__${n}_armsewd")).as(s"${n}_abs_rmse_wd"),
        overW(col(s"__${n}_rm")).as(s"${n}_rel_mean"),
        overW(col(s"__${n}_rv")).as(s"${n}_rel_variance"),
        overW(col(s"__${n}_rrmse")).as(s"${n}_rel_rmse"),
        overW(col(s"__${n}_rrmsewd")).as(s"${n}_rel_rmse_wd"))
    }
    agg.select(
      Seq(col("config_index"), col("bucket_lower"), col("n_partitions"),
        col("n_empty_partitions"), col("kept_partitions_mean"),
        col("kept_partitions_var")) ++ outMetricCols: _*)
  }

  /** End-to-end: [[preAggregate]] -> [[perPartitionMetrics]] -> [[report]].
    * Returns (report, perPartition) like the reference's
    * `perform_utility_analysis` (reference: analysis/utility_analysis.py:43-143).
    *
    * The two returned frames SHARE one lazy lineage: the input is
    * pre-aggregated once per executed job, so a caller that materializes
    * BOTH frames runs the 3-shuffle pipeline twice — checkpoint the
    * per-partition frame first if you consume both. */
  def analyze(
      df: DataFrame,
      columns: DPColumns,
      options: UtilityAnalysisOptions,
      publicPartitions: Option[DataFrame] = None
  ): (DataFrame, DataFrame) = {
    // analyzing SUM with no value column would silently substitute 1.0
    // per row (correct only for COUNT/PRIVACY_ID_COUNT, where the value
    // is unused) and recommend sum bounds calibrated against row counts
    require(!options.metrics.contains(Metric.Sum) || columns.value.isDefined,
      "SUM analysis requires DPColumns.value — without it every value " +
        "defaults to 1.0 and the 'sum' results describe row counts")
    val pre = preAggregate(df, columns, options.partitionsSamplingProb)
    val pkNames = columns.partitionKeys.map(_._1)
    val per = perPartitionMetrics(pre, pkNames, options, publicPartitions)
    (report(per, options), per)
  }

  /** Multi-column pre-aggregation: like [[preAggregate]] but with one sum
    * column per value column (reference: contribution_bounders.py:142-164
    * _sum_values over tuples). Output: pk..., __cnt, __sum_<name>...,
    * __n_partitions. */
  def preAggregateMulti(
      df: DataFrame,
      columns: graft.spark.MultiValueColumns,
      partitionsSamplingProb: Double = 1.0
  ): DataFrame =
    preAggregateCore(df, columns.privacyUnit, columns.partitionKeys,
      columns.values.map { case (n, c) => s"__sum_$n" -> c }, partitionsSamplingProb)

  /** Per-(partition, configuration) error moments for SUM over SEVERAL value
    * columns (plus optionally COUNT / PRIVACY_ID_COUNT) in one pass — the
    * reference's multi-column utility analysis
    * (reference: utility_analysis_engine.py:131-144, per_partition_combiners
    * SumCombiner i_column). `sumBoundsPerConfig(c)(i)` are the (min, max)
    * per-partition sum bounds of value column i under configuration c; each
    * column gets its own budget line and noise std. Output columns per value
    * column follow the `sum_<name>_*` convention. */
  def perPartitionMetricsMultiSum(
      pre: DataFrame,
      pkNames: Seq[String],
      valueNames: Seq[String],
      options: UtilityAnalysisOptions,
      sumBoundsPerConfig: Seq[Seq[(Double, Double)]],
      publicPartitions: Option[DataFrame] = None
  ): DataFrame = {
    require(sumBoundsPerConfig.length == options.configs.length,
      "one bounds list per configuration required")
    require(sumBoundsPerConfig.forall(_.length == valueNames.length),
      "one (min,max) per value column required in every configuration")
    perPartitionCore(pre, pkNames, options,
      valueNames.zipWithIndex.map { case (n, vi) =>
        ValueColumn(n, multiPrefix(n), s"__sum_$n", sumBoundsPerConfig.map(_(vi)))
      },
      publicPartitions)
  }

  /** Classifies partitions against a public-partition list: how many dataset
    * partitions are public / non-public, and how many public keys are absent
    * from the dataset (reference: analysis/dataset_summary.py:21-108
    * compute_public_partitions_summary). One row out; a full-outer join of
    * two distinct partition sets — scale-safe. */
  def publicPartitionsSummary(
      df: DataFrame,
      partitionKeys: Seq[(String, Column)],
      publicPartitions: DataFrame
  ): DataFrame = {
    val pkNames = partitionKeys.map(_._1)
    val dataset = df.select(partitionKeys.map { case (n, c) => c.as(n) }: _*)
      .distinct().withColumn("__in_dataset", lit(1))
    val pub = publicPartitions.distinct().withColumn("__in_public", lit(1))
    dataset.join(pub, pkNames, "full_outer")
      .agg(
        sum(when(col("__in_dataset").isNotNull && col("__in_public").isNotNull, 1L)
          .otherwise(0L)).as("num_dataset_public"),
        sum(when(col("__in_dataset").isNotNull && col("__in_public").isNull, 1L)
          .otherwise(0L)).as("num_dataset_non_public"),
        sum(when(col("__in_dataset").isNull && col("__in_public").isNotNull, 1L)
          .otherwise(0L)).as("num_empty_public"))
  }

  // ---- internals ----

  private val Pid = "__ua_pid"
  private val Cnt = "__cnt"
  private val Sm = "__sum"
  private val NPart = "__n_partitions"
  private val Cfg = "__cfg"
  private val CfgIdx = "__cfg_i"
  private val Prob = "__p"
  private val KeepProb = "__keep_prob"

  private def multiPrefix(valueName: String): String = s"sum_$valueName"

  /** One value column of the analysis: `prefix` names its output columns,
    * `sumCol` is its pre-aggregated per-(unit, partition) sum, and
    * `bounds(c)` its (lo, hi) per-partition sum bounds under
    * configuration c. `name` identifies it in error messages. */
  private final case class ValueColumn(
      name: String, prefix: String, sumCol: String, bounds: Seq[(Double, Double)])

  /** One released metric: its output prefix, its per-row value, and the
    * (lo, hi) bounds it is clamped to under each configuration. */
  private final case class MetricLine(
      metric: Metric, prefix: String, value: Column, bounds: Seq[(Double, Double)])

  /** Standard deviation of the additive noise of `kind` calibrated to
    * (eps, delta) and `sens`. */
  private[analysis] def noiseStd(
      kind: NoiseKind, eps: Double, delta: Double, sens: Sensitivities): Double =
    kind match {
      case NoiseKind.Laplace => LaplaceMechanism.fromEpsilon(eps, sens.l1.get).stdDev
      case NoiseKind.Gaussian => GaussianMechanism.fromEpsilonDelta(eps, delta, sens.l2.get).stdDev
    }

  /** The one pre-aggregate: per (unit, partition) the contribution count
    * and one sum per `sums` entry (output name -> value), the unit's
    * partition count, then the partition sample. */
  private def preAggregateCore(
      df: DataFrame,
      privacyUnit: Column,
      partitionKeys: Seq[(String, Column)],
      sums: Seq[(String, Column)],
      partitionsSamplingProb: Double
  ): DataFrame = {
    val pkNames = partitionKeys.map(_._1)
    val base = df.select(
      (privacyUnit.as(Pid) +: partitionKeys.map { case (n, c) => c.as(n) }) ++
        sums.map { case (n, c) => c.cast("double").as(n) }: _*)
    val perPair = base
      .groupBy(col(Pid) +: pkNames.map(col): _*)
      .agg(count(lit(1)).as(Cnt), sums.map { case (n, _) => sum(col(n)).as(n) }: _*)
    // partition count per unit BEFORE sampling (reference:
    // contribution_bounders.py:61-76 — num_partitions over the full data)
    val withNp = perPair.withColumn(NPart, count(lit(1)).over(Window.partitionBy(col(Pid))))
    val sampled =
      if (partitionsSamplingProb < 1.0)
        withNp.filter(ValueSampler.keepExpr(
          struct(pkNames.map(col): _*), partitionsSamplingProb))
      else withNp
    sampled.drop(Pid)
  }

  /** Per-configuration calibration: the partition-selection strategy
    * (None for public partitions) and one noise std per metric line. The
    * budget is split equally, in the reference's order: partition
    * selection, the SUMs in column order, COUNT, then PRIVACY_ID_COUNT
    * (reference: utility_analysis_engine.py:126-155). */
  private def calibrate(options: UtilityAnalysisOptions, lines: Seq[MetricLine])
      : Seq[(Option[PartitionSelection], Seq[Double])] = {
    val nMech = (if (options.publicPartitions) 0 else 1) + lines.length
    val budgetOrder = lines.indices.sortBy(li =>
      Seq(Sum, Count, PrivacyIdCount).indexOf(lines(li).metric))
    options.configs.zipWithIndex.map { case (c, ci) =>
      val split = Mechanisms.equallySplitBudget(options.epsilon, options.delta, nMech)
      var idx = 0
      def take(): (Double, Double) = { val s = split(idx); idx += 1; s }
      val selection =
        if (options.publicPartitions) None
        else {
          val (e, d) = take()
          Some(PartitionSelection.create(c.partitionSelectionStrategy, e, d,
            c.maxPartitionsContributed, c.preThreshold))
        }
      val stds = budgetOrder.map { li =>
        val (lo, hi) = lines(li).bounds(ci)
        val (e, d) = take()
        li -> noiseStd(c.noiseKind, e, d, Sensitivities(
          l0 = Some(c.maxPartitionsContributed), linf = Some(math.max(math.abs(lo), math.abs(hi)))))
      }.toMap
      (selection, lines.indices.map(stds))
    }
  }

  /** The configurations as a literal array of structs — exploding it fans each
    * pre-aggregated row out to all configurations inside whole-stage codegen
    * (no join, no second read of the input). */
  private def configArray(options: UtilityAnalysisOptions, lines: Seq[MetricLine],
      stds: Seq[Seq[Double]]): Column =
    array(options.configs.zipWithIndex.map { case (c, ci) =>
      struct(Seq(lit(ci).as("i"), lit(c.maxPartitionsContributed.toDouble).as("l0")) ++
        lines.zipWithIndex.flatMap { case (l, li) =>
          val (lo, hi) = l.bounds(ci)
          Seq(lit(lo).as(s"lo_$li"), lit(hi).as(s"hi_$li"), lit(stds(ci)(li)).as(s"std_$li"))
        }: _*)
    }: _*)

  /** The one per-partition analysis over `values`: guards, calibration,
    * config fan-out, per-row error moments, then [[assemblePerPartition]]. */
  private def perPartitionCore(
      pre: DataFrame,
      pkNames: Seq[String],
      options: UtilityAnalysisOptions,
      values: Seq[ValueColumn],
      publicPartitions: Option[DataFrame]
  ): DataFrame = {
    require(options.publicPartitions == publicPartitions.isDefined,
      "publicPartitions option and argument must agree")
    val hasSum = options.metrics.contains(Sum)
    for (v <- values; ((lo, hi), ci) <- v.bounds.zipWithIndex) {
      require(lo <= hi, s"sum bounds of value column '${v.name}' under configuration " +
        s"$ci must satisfy min <= max, got ($lo, $hi)")
      // loud, option-level: bounds (0, 0) clamp every value to 0 and would
      // only fail deep in Sensitivities as 'Linf must be positive'
      require(!hasSum || math.max(math.abs(lo), math.abs(hi)) > 0,
        "SUM analysis needs per-partition sum bounds on every configuration: " +
          s"value column '${v.name}' has (0, 0) under configuration $ci; set " +
          "minSumPerPartition/maxSumPerPartition (the default (0, 0) clamps " +
          "every value to 0)")
    }
    val lines = options.metrics.flatMap {
      case Sum => values.map(v => MetricLine(Sum, v.prefix, col(v.sumCol), v.bounds))
      case Count => Seq(MetricLine(Count, Count.name, col(Cnt).cast("double"),
        options.configs.map(c => (0.0, c.maxContributionsPerPartition.toDouble))))
      case PrivacyIdCount => Seq(MetricLine(PrivacyIdCount, PrivacyIdCount.name,
        when(col(Cnt) > 0, 1.0).otherwise(0.0), options.configs.map(_ => (0.0, 1.0))))
      case m => throw new IllegalArgumentException(s"unsupported metric $m")
    }
    val cals = calibrate(options, lines)
    val cfgArr = configArray(options, lines, cals.map(_._2))

    var cur = pre.withColumn(Cfg, explode(cfgArr))
    cur = cur.withColumn(Prob,
      when(col(NPart) > 0,
        least(lit(1.0), col(s"$Cfg.l0") / col(NPart))).otherwise(lit(0.0)))
    cur = cur.select(pkNames.map(col) ++ Seq(col(Cfg), col(Prob), col(Cnt)) ++
      lines.zipWithIndex.flatMap { case (l, li) =>
        errMomentCols(l.value, col(s"$Cfg.lo_$li"), col(s"$Cfg.hi_$li"), l.prefix)
      }: _*)

    val keepAgg =
      if (options.publicPartitions) lit(1.0).as(KeepProb)
      else {
        val strategies = cals.map(_._1.get).toArray
        udaf(new KeepProbAggregator(strategies), Encoders.product[PSIn])
          .apply(col(s"$Cfg.i"), col(Prob)).as(KeepProb)
      }
    val noiseStdCols = lines.zipWithIndex.map { case (l, li) =>
      col(s"$Cfg.std_$li").as(s"${l.prefix}_noise_std")
    }
    assemblePerPartition(cur, pkNames, lines.map(_.prefix),
      keepAgg, cfgArr, publicPartitions, noiseStdCols)
  }
}

/** Deterministic value-keyed Bernoulli sampling (reference:
  * pipeline_dp/sampling_utils.py:38-51 — a value is kept iff its 64-bit hash
  * falls below `rate * 2^64`; deterministic for a fixed value, Bernoulli(rate)
  * over random values). */
object ValueSampler {
  /** Column form: codegen'd, usable for partition subsampling at scale. */
  def keepExpr(value: Column, rate: Double): Column =
    shiftrightunsigned(xxhash64(value), 11).cast("double") / lit(9007199254740992.0) < lit(rate)

  /** Driver-side form over arbitrary values (SHA-1 based like the
    * reference). The digest is ThreadLocal (NoiseSource.Secure's pattern):
    * a shared instance under a concurrent caller (e.g. a .par driver
    * loop) would silently interleave updates and corrupt the sampling
    * decision — same per-call cost, no footgun. */
  final case class Driver(rate: Double) {
    private val bound = (BigDecimal(2).pow(64) * BigDecimal(rate)).toBigInt
    @transient private lazy val md =
      ThreadLocal.withInitial[java.security.MessageDigest](() =>
        java.security.MessageDigest.getInstance("SHA-1"))
    def keep(value: Any): Boolean = {
      // digest() leaves the instance reset; BigInt(1, bytes) reads the
      // leading 8 bytes as the same unsigned big-endian value the hex
      // parse produced, without formatting a string per call
      val h = md.get().digest(String.valueOf(value).getBytes("UTF-8"))
      BigInt(1, h.take(8)) < bound
    }
  }
}
