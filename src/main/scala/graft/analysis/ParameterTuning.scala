package graft.analysis

import graft.core._
import graft.spark.DPColumns
import graft.stats.{DatasetHistograms, Histogram}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The chosen DP strategy for one parameter configuration
  * (reference: analysis/dp_strategy_selector.py:24-30). */
final case class DPStrategy(
    noiseKind: Option[NoiseKind],
    partitionSelectionStrategy: Option[PartitionSelectionStrategyKind],
    postAggregationThresholding: Boolean)

/** Chooses noise kind / partition-selection strategy from the budget and
  * sensitivities: the noise with the smaller standard deviation wins, and the
  * selection strategy with the smaller release threshold wins
  * (reference: analysis/dp_strategy_selector.py:33-197). */
final class DPStrategySelector(
    epsilon: Double, delta: Double, metrics: Seq[Metric],
    val isPublicPartitions: Boolean) {
  require(epsilon > 0, "epsilon must be positive")
  require(delta > 0 || isPublicPartitions,
    "private partition selection requires delta > 0")

  /** `allowPostAggregationThresholding = false` restricts the choice to
    * strategies [[UtilityAnalysisConfig]] can express: the tuner scores
    * candidates under the split-budget model (eps/2 noise + eps/2
    * selection), so recommending the post-agg merged mechanism there
    * would optimize a deployment the scored RMSE does not describe. */
  def getDpStrategy(sensitivities: Sensitivities,
      allowPostAggregationThresholding: Boolean = true): DPStrategy = {
    if (metrics.isEmpty)
      return DPStrategy(None,
        Some(selectPartitionSelectionStrategy(epsilon, delta, sensitivities.l0.get)),
        postAggregationThresholding = false)
    // n metrics ~ contributing to n times more partitions
    // (reference: dp_strategy_selector.py:70-74)
    val scaled = Sensitivities(
      l0 = Some(sensitivities.l0.get * metrics.size), linf = sensitivities.linf)
    if (isPublicPartitions)
      DPStrategy(Some(selectNoiseKind(epsilon, delta, scaled)), None,
        postAggregationThresholding = false)
    else if (allowPostAggregationThresholding && usePostAggregationThresholding) {
      // half of delta to the noise, half to thresholding
      // (reference: dp_strategy_selector.py:100-116)
      val sens = Sensitivities(l0 = Some(scaled.l0.get), linf = Some(1.0))
      val noise = selectNoiseKind(epsilon, delta / 2, sens)
      val ps = noise match {
        case NoiseKind.Laplace => PartitionSelectionStrategyKind.LaplaceThresholding
        case NoiseKind.Gaussian => PartitionSelectionStrategyKind.GaussianThresholding
      }
      DPStrategy(Some(noise), Some(ps), postAggregationThresholding = true)
    } else {
      val (he, hd) = (epsilon / 2, delta / 2)
      DPStrategy(Some(selectNoiseKind(he, hd, scaled)),
        Some(selectPartitionSelectionStrategy(he, hd, scaled.l0.get)),
        postAggregationThresholding = false)
    }
  }

  def usePostAggregationThresholding: Boolean = metrics.contains(Metric.PrivacyIdCount)

  /** The noise kind with the minimum standard deviation
    * (reference: dp_strategy_selector.py:141-152). */
  def selectNoiseKind(eps: Double, del: Double, s: Sensitivities): NoiseKind = {
    if (del == 0) return NoiseKind.Laplace
    def std(kind: NoiseKind): Double = UtilityAnalysis.noiseStd(kind, eps, del, s)
    if (std(NoiseKind.Gaussian) < std(NoiseKind.Laplace)) NoiseKind.Gaussian
    else NoiseKind.Laplace
  }

  /** Compares thresholding strategies by release threshold; when Laplace wins,
    * the (slightly better, thresholdless) truncated geometric is returned
    * (reference: dp_strategy_selector.py:158-196). */
  def selectPartitionSelectionStrategy(
      eps: Double, del: Double, l0: Int): PartitionSelectionStrategyKind = {
    val lap = LaplaceThresholdingSelection(eps, del, l0)
    val gau = GaussianThresholdingSelection(eps, del, l0)
    if (lap.threshold < gau.threshold)
      PartitionSelectionStrategyKind.TruncatedGeometric
    else
      PartitionSelectionStrategyKind.GaussianThresholding
  }
}

/** Fast RMSE estimation from dataset histograms alone — no pass over the
  * data. Assumes contribution bounding drops data uniformly across
  * partitions; a partition of average size n in its histogram bin gets
  * rmse = sqrt((n * ratio_dropped)^2 + noise_std^2)
  * (reference: pipeline_dp/dataset_histograms/histogram_error_estimator.py).
  */
final class HistogramErrorEstimator(
    baseStd: Double,
    metric: Metric,
    noiseKind: NoiseKind,
    l0RatiosDropped: Seq[(Double, Double)],
    linfRatiosDropped: Seq[(Double, Double)],
    partitionHistogram: Histogram) {

  def estimateRmse(l0Bound: Int, linfBound: Option[Double] = None): Double = {
    if (metric != Metric.PrivacyIdCount)
      require(linfBound.isDefined, "linf bound must be given for COUNT/SUM")
    val rl0 = ratioDroppedL0(l0Bound)
    val rlinf =
      if (metric == Metric.PrivacyIdCount) 0.0
      else ratioDroppedLinf(linfBound.get)
    val ratioDropped = 1 - (1 - rl0) * (1 - rlinf)
    val std = noiseStd(l0Bound, linfBound)
    var sumRmse = 0.0
    partitionHistogram.bins.foreach { b =>
      val avgSize = b.sum / b.count
      sumRmse += b.count * math.sqrt(
        (ratioDropped * avgSize) * (ratioDropped * avgSize) + std * std)
    }
    sumRmse / partitionHistogram.totalCount
  }

  def ratioDroppedL0(bound: Double): Double = interpolate(l0RatiosDropped, bound)
  def ratioDroppedLinf(bound: Double): Double = interpolate(linfRatiosDropped, bound)

  def noiseStd(l0Bound: Int, linfBound: Option[Double]): Double = {
    val linf = if (metric == Metric.PrivacyIdCount) 1.0 else linfBound.get
    noiseKind match {
      case NoiseKind.Laplace => baseStd * l0Bound * linf
      case NoiseKind.Gaussian => baseStd * math.sqrt(l0Bound.toDouble) * linf
    }
  }

  /** Piecewise-linear interpolation of the (bound -> ratio dropped) curve
    * (reference: histogram_error_estimator.py:113-128). */
  private def interpolate(ratios: Seq[(Double, Double)], bound: Double): Double = {
    if (bound <= 0) return 1.0
    if (bound > ratios.last._1) return 0.0
    val idx = ratios.indexWhere(_._1 >= bound)
    val (x2, y2) = ratios(idx)
    if (x2 == bound) return y2
    val (x1, y1) = ratios(idx - 1)
    (y1 * (x2 - bound) + y2 * (bound - x1)) / (x2 - x1)
  }
}

object HistogramErrorEstimator {

  private def baseStd(eps: Double, delta: Option[Double], noise: NoiseKind): Double =
    noise match {
      case NoiseKind.Laplace =>
        require(delta.isEmpty, "delta must be empty for Laplace noise")
        math.sqrt(2.0) / eps
      case NoiseKind.Gaussian =>
        DpNoise.gaussianSigma(eps, delta.get, 1.0)
    }

  /** Estimator for COUNT / PRIVACY_ID_COUNT
    * (reference: histogram_error_estimator.py:141-185). */
  def forCount(h: DatasetHistograms, eps: Double, delta: Option[Double],
      metric: Metric, noise: NoiseKind): HistogramErrorEstimator = {
    require(metric == Metric.Count || metric == Metric.PrivacyIdCount,
      s"only COUNT and PRIVACY_ID_COUNT are supported, got $metric")
    val partitionHist =
      if (metric == Metric.Count) h.countPerPartition else h.privacyIdPerPartition
    new HistogramErrorEstimator(baseStd(eps, delta, noise), metric, noise,
      h.l0Contributions.ratioDropped, h.linfContributions.ratioDropped, partitionHist)
  }

  /** Estimator for SUM (reference: histogram_error_estimator.py:200-238). */
  def forSum(h: DatasetHistograms, eps: Double, delta: Option[Double],
      noise: NoiseKind): HistogramErrorEstimator = {
    val linfSum = h.linfSumContributions.getOrElse(
      throw new IllegalArgumentException("dataset histograms lack a sum histogram"))
    val partitionHist = h.sumPerPartition.get
    new HistogramErrorEstimator(baseStd(eps, delta, noise), Metric.Sum, noise,
      h.l0Contributions.ratioDropped, linfSum.ratioDropped, partitionHist)
  }
}

/** Probability computations for error estimation (reference:
  * analysis/probability_computations.py). */
object ProbabilityComputations {

  /** Quantiles of the sum of independent Laplace(b) and Gaussian(sigma)
    * noise via Monte Carlo, with linear quantile interpolation. The
    * reference documents that closed forms exist but are slower in practice
    * (reference: probability_computations.py:8-23). */
  def sumLaplaceGaussianQuantiles(
      laplaceB: Double,
      gaussianSigma: Double,
      quantiles: Seq[Double],
      numSamples: Int,
      noise: NoiseSource = NoiseSource.Secure
  ): Seq[Double] = {
    require(numSamples > 1, "numSamples must be > 1")
    val samples = Array.fill(numSamples)(
      noise.laplace(laplaceB) + noise.gaussian(gaussianSigma)).sorted
    quantiles.map { q =>
      require(q >= 0 && q <= 1, s"quantile must be in [0,1], got $q")
      val pos = q * (numSamples - 1)
      val lo = pos.toInt
      val frac = pos - lo
      if (lo + 1 >= numSamples) samples(numSamples - 1)
      else samples(lo) * (1 - frac) + samples(lo + 1) * frac
    }
  }
}

/** Which aggregation parameters to explore (reference:
  * analysis/parameter_tuning.py:41-55). Noise kind and partition selection
  * strategy are always chosen by [[DPStrategySelector]] unless `noiseKind`
  * tuning is disabled. */
final case class ParametersToTune(
    maxPartitionsContributed: Boolean = false,
    maxContributionsPerPartition: Boolean = false,
    maxSumPerPartition: Boolean = false,
    noiseKind: Boolean = true) {
  require(maxPartitionsContributed || maxContributionsPerPartition || maxSumPerPartition,
    "ParametersToTune must have at least 1 parameter to tune")
}

/** Options of the tuning process (reference: analysis/parameter_tuning.py:58-96).
  * `blueprint` supplies the values of parameters that are not tuned. */
final case class TuneOptions(
    epsilon: Double,
    delta: Double,
    metric: Metric,
    blueprint: UtilityAnalysisConfig,
    parametersToTune: ParametersToTune,
    publicPartitions: Boolean = false,
    partitionsSamplingProb: Double = 1.0,
    numberOfParameterCandidates: Int = 100) {
  require(metric == Metric.Count || metric == Metric.PrivacyIdCount || metric == Metric.Sum,
    s"tuning supports COUNT, PRIVACY_ID_COUNT and SUM, got $metric " +
      "(reference: parameter_tuning.py:469-475)")
  // reject metric/parameter mismatches LOUDLY: the candidate generator
  // only applies maxContributionsPerPartition tuning to COUNT and
  // maxSumPerPartition tuning to SUM — a mismatched flag would be
  // silently ignored and tune() would hand the untouched blueprint back
  // labeled "best"
  require(!parametersToTune.maxContributionsPerPartition || metric == Metric.Count,
    s"maxContributionsPerPartition tuning applies only to COUNT; for ${metric.name} " +
      "the flag has no effect — drop it or tune maxPartitionsContributed")
  require(!parametersToTune.maxSumPerPartition || metric == Metric.Sum,
    s"maxSumPerPartition tuning applies only to SUM; for ${metric.name} " +
      "the flag has no effect — drop it or tune maxPartitionsContributed")
}

/** Tuning outcome: the explored configurations, the recommended index (argmin
  * of the global absolute RMSE), and the collected global utility reports
  * (reference: analysis/parameter_tuning.py:99-119 TuneResult). */
final case class TuneResult(
    candidates: Seq[UtilityAnalysisConfig],
    indexBest: Int,
    rmsePerCandidate: Seq[Double])

/** Chooses contribution-bounding parameters by running the utility analysis
  * over histogram-derived candidates and minimizing RMSE
  * (reference: analysis/parameter_tuning.py:122-483). */
object ParameterTuning {

  /** Candidates 1..max with a constant relative step: a_i = max^(i/(n-1)),
    * deduplicated upward (reference: parameter_tuning.py:281-309). */
  def findCandidatesConstantRelativeStep(
      histogram: Histogram, maxCandidates: Int): Seq[Int] = {
    val maxValue = math.max(1L, histogram.maxValue.toLong)
    val n = math.min(maxCandidates.toLong, maxValue).toInt
    require(n > 0, "maxCandidates must be positive")
    if (n == 1) return Seq(1)
    val step = math.pow(maxValue.toDouble, 1.0 / (n - 1))
    val candidates = scala.collection.mutable.ArrayBuffer(1L)
    var accumulated = 1.0
    var i = 1
    while (i < n && candidates.last < maxValue) {
      accumulated *= step
      candidates += math.max(candidates.last + 1, math.ceil(accumulated).toLong)
      i += 1
    }
    candidates(candidates.length - 1) = maxValue
    candidates.map(_.toInt).toSeq
  }

  /** Sum-bound candidates: histogram bin maxima at constant index step
    * (reference: parameter_tuning.py:312-326). */
  def findCandidatesBinsMaxValuesSubsample(
      histogram: Histogram, maxCandidates: Int): Seq[Double] = {
    val fromIdx = if (histogram.bins.head.max > 0) 0 else 1
    val n = math.min(maxCandidates, histogram.bins.length - fromIdx)
    val last = histogram.bins.length - 1
    (0 until n).map { i =>
      val pos = if (n == 1) fromIdx
        else math.round(fromIdx + (last - fromIdx) * i.toDouble / (n - 1)).toInt
      histogram.bins(pos).max
    }
  }

  /** Histogram-driven candidate grid: geometric L0 x Linf (count) or L0 x
    * sum-bound, cross-producted under the total budget of
    * `numberOfParameterCandidates` (reference: parameter_tuning.py:122-227). */
  def findCandidateParameters(
      hist: DatasetHistograms, options: TuneOptions): Seq[UtilityAnalysisConfig] = {
    val p = options.parametersToTune
    val bp = options.blueprint
    val maxCandidates = options.numberOfParameterCandidates
    val tuneCountLinf = p.maxContributionsPerPartition && options.metric == Metric.Count
    val tuneSumLinf = p.maxSumPerPartition && options.metric == Metric.Sum

    val l0Bounds: Seq[Int] =
      if (p.maxPartitionsContributed) {
        val maxL0 =
          if (tuneCountLinf || tuneSumLinf) math.sqrt(maxCandidates.toDouble).toInt
          else maxCandidates
        findCandidatesConstantRelativeStep(hist.l0Contributions, maxL0)
      } else Seq(bp.maxPartitionsContributed)

    val maxLinf = maxCandidates / l0Bounds.length
    val linfCounts: Seq[Int] =
      if (tuneCountLinf)
        findCandidatesConstantRelativeStep(hist.linfContributions, maxLinf)
      else Seq(bp.maxContributionsPerPartition)
    val sumBounds: Seq[(Double, Double)] =
      if (tuneSumLinf) {
        // degenerate histograms (all-zero or all-negative per-partition
        // sums) can yield no positive bin maxima; a (0, mx<=0) candidate
        // trips config validation and an empty list would crash the pad
        // below — fall back to the blueprint bounds instead
        val cands = findCandidatesBinsMaxValuesSubsample(
            hist.linfSumContributions.get, maxLinf)
          .filter(_ > 0).map(mx => (0.0, mx))
        if (cands.nonEmpty) cands
        else Seq((bp.minSumPerPartition, bp.maxSumPerPartition))
      } else Seq((bp.minSumPerPartition, bp.maxSumPerPartition))

    val linfLen = math.max(linfCounts.length, sumBounds.length)
    def pad[T](a: Seq[T]): Seq[T] = a ++ Seq.fill(linfLen - a.length)(a.head)
    val (linfC, sumB) = (pad(linfCounts), pad(sumBounds))

    for (l0 <- l0Bounds; j <- 0 until linfLen) yield
      bp.copy(maxPartitionsContributed = l0, maxContributionsPerPartition = linfC(j),
        minSumPerPartition = sumB(j)._1, maxSumPerPartition = sumB(j)._2)
  }

  /** Assigns noise kind + partition selection strategy to each candidate via
    * [[DPStrategySelector]] (reference: parameter_tuning.py:247-278). */
  def addDpStrategies(
      candidates: Seq[UtilityAnalysisConfig], options: TuneOptions): Seq[UtilityAnalysisConfig] = {
    val selector = new DPStrategySelector(options.epsilon, options.delta,
      Seq(options.metric), options.publicPartitions)
    candidates.map { c =>
      // post-agg thresholding cannot ride a UtilityAnalysisConfig, and the
      // analysis scores the split-budget model — keep what is scored and
      // what would be deployed identical
      val strategy = selector.getDpStrategy(
        Sensitivities(l0 = Some(c.maxPartitionsContributed), linf = Some(1.0)),
        allowPostAggregationThresholding = false)
      val noise =
        if (options.parametersToTune.noiseKind) strategy.noiseKind.getOrElse(c.noiseKind)
        else c.noiseKind
      val ps = strategy.partitionSelectionStrategy.getOrElse(c.partitionSelectionStrategy)
      c.copy(noiseKind = noise, partitionSelectionStrategy = ps)
    }
  }

  /** Runs the utility analysis over all candidates in one pass and picks the
    * configuration minimizing the global absolute RMSE of the tuned metric
    * (reference: parameter_tuning.py:329-457). Returns the result plus the
    * full report / per-partition frames for inspection. */
  def tune(
      df: DataFrame,
      columns: DPColumns,
      hist: DatasetHistograms,
      options: TuneOptions,
      publicPartitions: Option[DataFrame] = None
  ): (TuneResult, DataFrame, DataFrame) = {
    require(options.publicPartitions == publicPartitions.isDefined)
    val candidates = addDpStrategies(findCandidateParameters(hist, options), options)
    runTune(df, columns, candidates, options, publicPartitions)
  }

  /** [[tune]] over a CALLER-FIXED candidate list: no histogram-driven
    * generation, no strategy reassignment — the supplied configs are scored
    * as-is and the argmin-RMSE selection is identical to [[tune]]'s. This
    * is the deterministic anchor shape: with fixed candidates the whole
    * run (error moments, RMSE table, argmin) is pure math over the data,
    * replayable in SQL. */
  def tuneFixed(
      df: DataFrame,
      columns: DPColumns,
      candidates: Seq[UtilityAnalysisConfig],
      options: TuneOptions,
      publicPartitions: Option[DataFrame] = None
  ): (TuneResult, DataFrame, DataFrame) = {
    require(options.publicPartitions == publicPartitions.isDefined)
    require(candidates.nonEmpty, "tuneFixed: at least one candidate is required")
    runTune(df, columns, candidates, options, publicPartitions)
  }

  private def runTune(
      df: DataFrame,
      columns: DPColumns,
      candidates: Seq[UtilityAnalysisConfig],
      options: TuneOptions,
      publicPartitions: Option[DataFrame]
  ): (TuneResult, DataFrame, DataFrame) = {
    val uaOptions = UtilityAnalysisOptions(options.epsilon, options.delta,
      Seq(options.metric), candidates, options.publicPartitions,
      options.partitionsSamplingProb)
    val (report, perPartition) = UtilityAnalysis.analyze(df, columns, uaOptions,
      publicPartitions)
    val rmseCol = s"${options.metric.name}_abs_rmse"
    val global = report.filter(col("bucket_lower") === -1L)
      .select(col("config_index"), col(rmseCol)).collect()
      .map(r => r.getAs[Int]("config_index") -> r.getAs[Double](rmseCol))
      .sortBy(_._1)
    val rmse = global.map(_._2).toSeq
    // fail loud instead of returning an indexBest = -1 sentinel a caller
    // would feed straight into candidates(...): an empty report means
    // tuning has no signal to rank candidates at all
    require(rmse.nonEmpty,
      "tune: the utility report is empty — no partitions survived the " +
        "analysis (empty input, or partitionsSamplingProb sampled every " +
        "partition away); cannot rank candidates")
    val indexBest = rmse.indexOf(rmse.min)
    (TuneResult(candidates, indexBest, rmse), report, perPartition)
  }
}
