package graft.spark

import graft.core._
import graft.functions.{BoundedSample, QuantileTreeAggregate}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Names the three roles every DP query needs
  * (reference: pipeline_dp/data_extractors.py:20-31 — extractor lambdas become
  * Column expressions, so Catalyst can prune/push them).
  */
final case class DPColumns(
    privacyUnit: Column,
    partitionKeys: Seq[(String, Column)],
    value: Option[Column] = None
)
object DPColumns {
  def apply(privacyUnit: String, partitionKey: String): DPColumns =
    DPColumns(col(privacyUnit), Seq(partitionKey -> col(partitionKey)), None)
  def apply(privacyUnit: String, partitionKey: String, value: String): DPColumns =
    DPColumns(col(privacyUnit), Seq(partitionKey -> col(partitionKey)), Some(col(value)))
}

/** A lazily-built DP result: the physical DataFrame is assembled only after
  * the accountant resolves budgets (explicit two-phase lifecycle replacing the
  * reference's mutate-after-capture, reference: budget_accounting.py:448-476).
  */
final class DPResult private[spark] (
    builder: () => DataFrame,
    reportBuilder: () => String = () => ""
) {
  lazy val dataframe: DataFrame = builder()
  /** Human-readable explanation of the DP computation — resolved budgets,
    * mechanisms and selection strategy (reference: report_generator.py:46-116).
    * Available after computeBudgets(). */
  lazy val explainReport: String = reportBuilder()
}

/** The DP aggregation engine, Spark-native.
  *
  * The reference's dataflow stages (reference: dp_engine.py:71-195) become one
  * declarative DataFrame plan, built by [[DPEngine.boundedAggregate]] for
  * every DP aggregate:
  *
  * {{{
  * select(pid, pk..., value..., rand)               -- narrow, codegen
  *   [left_semi join public partitions]             -- broadcast if small
  *   groupBy(pid).agg(bounded sample)               -- shuffle 1, map-side combine
  *                                                  --   (L0 cells x Linf rows)
  *   inline(sample)                                 -- one row per kept row
  *   groupBy(pid, pk).agg(per-unit accumulators)    -- no shuffle (hash(pid) suffices)
  *   groupBy(pk).agg(merge accumulators)            -- shuffle 2, map-side combine
  *   [outer join empty public partitions]
  *   [filter shouldKeep(pid_count)]                 -- nondeterministic UDF
  *   select(noised metrics)                         -- nondeterministic UDF
  * }}}
  *
  * Everything up to the final two (per-partition-key, low-cardinality) UDFs is
  * native Catalyst — whole-stage codegen, partial aggregation, AQE all apply.
  * The bounded sample is [[graft.functions.BoundedSample]]: it combines
  * map-side, so each map task ships at most one row per unit, of at most
  * L0 x Linf rows, whatever the caps and however skewed the cells.
  *
  * @param noise noise source; [[NoiseSource.Zero]] gives exact results for
  *              oracle tests (the reference's huge-epsilon trick, made exact).
  */
final class DPEngine(
    val accountant: BudgetAccountant,
    val noise: NoiseSource = NoiseSource.Secure
) {
  import DPEngine._

  /** The main DP groupBy-aggregate (reference: dp_engine.py:71-195). */
  def aggregate(
      df: DataFrame,
      params: AggregateParams,
      columns: DPColumns,
      publicPartitions: Option[DataFrame] = None
  ): DPResult =
    aggregateColumns(df, columns.privacyUnit, columns.partitionKeys,
      Seq(("", columns.value, params)), publicPartitions,
      (plans, selection) => report(params, plans.head, selection))

  /** Requests the budgets of a metric release over value columns that share
    * one contribution bounding — each column is `(output-name prefix,
    * value, params)` — and returns the release, built once they resolve.
    * [[aggregate]] is the one-column case; [[MultiValueSum]] and
    * [[MultiValueAgg]] pass one column per value. */
  private[spark] def aggregateColumns(
      df: DataFrame,
      pid: Column,
      partitionKeys: Seq[(String, Column)],
      cols: Seq[(String, Option[Column], AggregateParams)],
      publicPartitions: Option[DataFrame],
      report: (Seq[CompoundComputer.Plan], Option[BudgetHandle]) => String =
        (_, _) => ""
  ): DPResult = {
    accountant.registerAggregation()
    val params = cols.head._3
    require(!(params.postAggregationThresholding && publicPartitions.isDefined),
      "postAggregationThresholding requires private partitions")
    val plans = cols.map(c => CompoundComputer.plan(c._3, accountant))
    val selectionHandle =
      if (publicPartitions.isEmpty) Some(requestSelection(params, uses = 1)) else None
    new DPResult(() => {
      val (selector, postAgg) = selectionHandle
        .map(h => buildSelection(params, h)).getOrElse((None, None))
      releaseMetrics(df, pid, partitionKeys,
        cols.zip(plans).map { case ((prefix, v, _), plan) => MetricColumn(prefix, v, plan) },
        publicPartitions, selector, postAgg, noise)
    }, () => report(plans, selectionHandle))
  }

  /** The partition-selection budget of a release over private partitions.
    * Post-aggregation thresholding is an ADDITIVE mechanism (noised count vs
    * threshold), so it requests the matching thresholding mechanism type:
    * under PLD accounting it participates in the noise-std search and
    * receives its share of the 25% thresholding-delta reservation
    * (reference: budget_accounting.py:700-747); under naive accounting the
    * type resolves to plain (eps, delta) like any other request. The
    * sensitivity stays 1.0 here: the PLD accountant resolves the NORMALIZED
    * per-unit-sensitivity noiseStdDev, and [[buildSelection]] scales it by
    * the unit count's sensitivity ONCE — requesting with it as well
    * applied it twice, over-noising the thresholded count. */
  private def requestSelection(params: AggregateParams, uses: Int): BudgetHandle = {
    val mtype =
      if (params.postAggregationThresholding) params.noiseKind match {
        case NoiseKind.Laplace  => MechanismType.LaplaceThresholding
        case NoiseKind.Gaussian => MechanismType.GaussianThresholding
      }
      else MechanismType.PartitionSelection
    accountant.requestBudget(mtype, weight = params.budgetWeight, count = uses,
      name = "PartitionSelection")
  }

  /** The resolved selection: a plain selector, or the post-aggregation
    * thresholding whose noised unit count is also released. Under PLD
    * accounting the thresholding noise scale comes from the composition
    * search and the threshold spends the reserved thresholding delta
    * (actual std = normalized std * sensitivity, the same convention as
    * Mechanisms.createAdditive); under naive accounting the (eps, delta)
    * split is built by the selection itself. The unit count's sensitivity
    * is L1 = l0 (Laplace) / L2 = sqrt(l0) (Gaussian). */
  private def buildSelection(params: AggregateParams, handle: BudgetHandle)
      : (Option[PartitionSelection], Option[ThresholdingSelection]) = {
    val spec = handle.spec
    val l0 = effectiveL0(params)
    if (!params.postAggregationThresholding)
      (Some(PartitionSelection.create(params.partitionSelectionStrategy,
        spec.epsilon, spec.delta, l0, params.preThreshold)), None)
    else {
      val (strategy, sensitivity) = params.noiseKind match {
        case NoiseKind.Laplace  =>
          (PartitionSelectionStrategyKind.LaplaceThresholding, l0.toDouble)
        case NoiseKind.Gaussian =>
          (PartitionSelectionStrategyKind.GaussianThresholding, math.sqrt(l0.toDouble))
      }
      (None, Some(spec.noiseStdDev match {
        case Some(nstd) => PartitionSelection.fromNoiseStd(strategy,
          nstd * sensitivity, spec.thresholdingDelta.get, l0, params.preThreshold)
        case None => PartitionSelection.create(strategy, spec.epsilon, spec.delta,
          l0, params.preThreshold).asInstanceOf[ThresholdingSelection]
      }))
    }
  }

  /** Per-stage accumulated report, mirroring the reference's
    * report_generator (reference: report_generator.py:46-116): every stage
    * that ran states its resolved parameters; mechanisms print their final
    * noise scales. */
  private def report(params: AggregateParams, plan: CompoundComputer.Plan,
      selectionHandle: Option[BudgetHandle]): String = {
    val lines = Seq.newBuilder[String]
    lines += s"DPEngine.aggregate: metrics=[${params.metrics.map(_.name).mkString(", ")}]"
    var stage = 0
    def add(s: String): Unit = { stage += 1; lines += s"$stage. $s" }
    if (selectionHandle.isEmpty)
      add("Public partition filtering: dropped rows of non-public partitions before any aggregation")
    if (params.contributionBoundsAlreadyEnforced)
      add("Contribution bounding: SKIPPED — caller vouched that bounds are already enforced")
    else params.maxContributions match {
      case Some(mc) =>
        add(s"Contribution bounding (L1, total): randomly sampled <= $mc contributions per privacy unit")
      case None =>
        if (needsLinfSampling(params))
          params.maxContributionsPerPartition.foreach { c =>
            add(s"Contribution bounding (Linf, per-partition): randomly sampled <= $c " +
              "contributions per (privacy unit, partition)")
          }
        add("Contribution bounding (L0, cross-partition): randomly sampled <= " +
          s"${params.maxPartitionsContributed} partitions per privacy unit")
    }
    if (params.boundsPerContributionAreSet)
      add(f"Per-contribution clipping: values clipped to [${params.minValue.get}%.6g, ${params.maxValue.get}%.6g]")
    else if (params.boundsPerPartitionAreSet)
      add(f"Per-partition sum clipping: per-partition sums clipped to " +
        f"[${params.minSumPerPartition.get}%.6g, ${params.maxSumPerPartition.get}%.6g]")
    selectionHandle match {
      case None =>
        add("Partition selection: public partitions (missing public keys added as empty accumulators)")
      case Some(h) => buildSelection(params, h) match {
        case (_, Some(sel)) =>
          add(s"Partition selection (post-aggregation thresholding): ${sel.describe}")
        case (sel, None) => add(s"Partition selection: ${sel.get.describe}")
      }
    }
    val parts = plan.build(noise).parts
    val quantile = plan.buildQuantile()
    val vector = plan.buildVector()
    if (parts.nonEmpty || quantile.isDefined || vector.isDefined) {
      add("Per-metric mechanisms:")
      parts.foreach(p => lines += s"   - ${p.describe}")
      quantile.foreach(q => lines += s"   - ${q.describe}")
      vector.foreach(v => lines += s"   - ${v.describe}")
    }
    lines.result().mkString("\n")
  }

  /** DP release of the same metric set at SEVERAL partition-key
    * granularities under one budget — the GROUPING SETS / ROLLUP shape of
    * [[aggregate]]. Beyond-reference: the reference releases one
    * granularity per aggregation; a multi-granularity release there means
    * hand-composing pipelines and budgets.
    *
    * Each grouping set is one full private release (its own contribution
    * bounding, aggregation, partition selection), so every mechanism is
    * applied `groupingSets.size` times: all budget handles are requested
    * with count = n and the accountant composes them n-fold (naive:
    * n-fold epsilon/delta charge, reference: budget_accounting.py:448-476;
    * PLD: n-fold self-composition, with the reserved thresholding delta
    * split per USE so a count = n thresholding handle consumes n shares).
    * The released frames are unioned with rolled-up key columns as typed
    * NULLs plus a `grouping_id` bitmask (Spark/SQL convention: bit set =
    * key rolled up, first declared key = most significant bit), so the
    * Zero-noise gate replays as SQL GROUP BY GROUPING SETS.
    *
    * Public partitions are not supported here (a public domain would need
    * one frame per granularity); call [[aggregate]] per granularity for
    * that. */
  def aggregateGroupingSets(
      df: DataFrame,
      params: AggregateParams,
      columns: DPColumns,
      groupingSets: Seq[Seq[String]]
  ): DPResult = {
    accountant.registerAggregation()
    val allKeys = columns.partitionKeys.map(_._1)
    require(!allKeys.contains("grouping_id"),
      "partition key names must not be 'grouping_id' (the released rollup " +
        "bitmask column); rename the key column")
    require(groupingSets.nonEmpty, "at least one grouping set is required")
    require(groupingSets.distinct == groupingSets,
      "duplicate grouping sets: releasing a granularity twice spends budget " +
        "for no new information — deduplicate the sets")
    groupingSets.foreach { set =>
      require(set.distinct == set && set.forall(allKeys.contains),
        s"grouping set ${set.mkString("(", ",", ")")} must be distinct " +
          s"names out of the declared partition keys ${allKeys.mkString(", ")}")
    }
    val n = groupingSets.size
    val plan = CompoundComputer.plan(params, accountant, uses = n)
    val selectionHandle = requestSelection(params, uses = n)
    new DPResult(() => {
      val (selector, postAgg) = buildSelection(params, selectionHandle)
      // key types from the projected frame's schema (driver-side analysis
      // only — no job): rolled-up columns must union as the SAME type
      val keyTypes = df.select(columns.partitionKeys.map {
        case (nm, c) => c.as(nm) }: _*).schema
        .fields.map(f => f.name -> f.dataType).toMap
      val frames = groupingSets.map { set =>
        val released = releaseMetrics(df, columns.privacyUnit,
          columns.partitionKeys.filter(p => set.contains(p._1)),
          Seq(MetricColumn("", columns.value, plan)), None, selector, postAgg, noise)
        val gid = allKeys.zipWithIndex.iterator.collect {
          case (nm, i) if !set.contains(nm) => 1L << (allKeys.size - 1 - i)
        }.sum
        val metricCols = released.columns.filterNot(set.contains).map(col(_))
        val keyCols = allKeys.map { nm =>
          if (set.contains(nm)) col(nm)
          else lit(null).cast(keyTypes(nm)).as(nm)
        }
        released.select(keyCols ++ metricCols :+
          lit(gid).as("grouping_id"): _*)
      }
      frames.reduce(_.unionByName(_))
    })
  }

  /** DP set of partition keys (reference: dp_engine.py:220-305). */
  def selectPartitions(
      df: DataFrame,
      params: SelectPartitionsParams,
      columns: DPColumns
  ): DPResult = {
    accountant.registerAggregation()
    val handle = accountant.requestBudget(MechanismType.PartitionSelection,
      weight = params.budgetWeight, name = "PartitionSelection")
    new DPResult(() => {
      val spec = handle.spec
      val pkNames = columns.partitionKeys.map(_._1)
      val projected = df.select(
        columns.privacyUnit.as(PidCol) +:
          columns.partitionKeys.map { case (n, c) => c.as(n) }: _*)
      // at most l0 distinct partitions per unit
      val sample = sampleUnits(projected, pkNames, None,
        params.maxPartitionsContributed, 1)
      val noiseSrc = noise
      params.strategy match {
        case PartitionSelectionStrategyKind.WeightedGaussianThresholding =>
          // weight = 1/sqrt(#partitions of the unit); threshold the weight sums
          // (reference: dp_engine.py:664-714). The weighted mechanism has no
          // pre-threshold arm — silently dropping the caller's explicit
          // policy would release small partitions they asked to suppress.
          require(params.preThreshold.isEmpty,
            "preThreshold is not supported with WeightedGaussianThresholding " +
              "(the weighted mechanism thresholds weight sums, not unit counts); " +
              "use Laplace/Gaussian thresholding for preThreshold")
          val sel = WeightedGaussianSelection(spec.epsilon, spec.delta,
            params.maxPartitionsContributed)
          val weighted = sample
            .select((lit(1.0) / sqrt(size(col(SampleCol)))).as("__graft_w"),
              inline(col(SampleCol)))
            .groupBy(pkNames.map(col): _*)
            .agg(sum(col("__graft_w")).as("__graft_wsum"))
          val keepUdf = udf((ws: Double) => sel.shouldKeep(ws, noiseSrc)).asNondeterministic()
          weighted.filter(keepUdf(col("__graft_wsum"))).select(pkNames.map(col): _*)
        case _ =>
          val selector = PartitionSelection.create(params.strategy, spec.epsilon,
            spec.delta, params.maxPartitionsContributed, params.preThreshold)
          val counted = sample.select(inline(col(SampleCol)))
            .groupBy(pkNames.map(col): _*).agg(count(lit(1)).as(PidCntCol))
          val keepUdf = udf((n: Long) => selector.shouldKeep(n, noiseSrc)).asNondeterministic()
          counted.filter(keepUdf(col(PidCntCol))).select(pkNames.map(col): _*)
      }
    })
  }

  /** DP SET UNION (beyond-reference; Gopi et al. ICML 2020,
    * "Differentially Private Set Union") — release the union of ITEMS
    * contributed by privacy units: the vocabulary/n-gram/URL release a
    * training-corpus pipeline needs before it may publish token
    * statistics derived from user data. Differs from
    * [[selectPartitions]] in what is protected: there a unit's presence
    * in a partition is the signal; here a unit carries a SET of items
    * and the release must bound its total influence across all of them.
    *
    * Policy (the paper's weighted-histogram family): bound each unit to
    * `maxItemsPerUnit` items — deterministically, the first by item sort
    * order (a valid item-selection policy per the paper, and stable
    * under retries); spread the unit's weight per
    * [[graft.core.SetUnionWeighting]] (L1-normalized for Laplace,
    * L2-normalized for Gaussian); threshold the per-item noisy weight
    * sums ([[WeightedLaplaceSelection]] / [[WeightedGaussianSelection]]).
    *
    * Plan shape (audited): distinct -> bounding window on the unit ->
    * map-side-combined sum per item -> per-item threshold UDF. Three
    * exchanges, EACH pre-pruned map-side before it ships (partial
    * hash-agg dedupe before the (pid, item) exchange; Spark's partial
    * WindowGroupLimit caps every map task at maxItemsPerUnit rows per
    * unit before the pid exchange; partial sums before the item
    * exchange), all on low-skew keys; no driver state. NULL items fail
    * loud (they would silently vanish from the union). */
  def setUnion(
      df: DataFrame,
      params: SetUnionParams,
      pid: Column,
      item: Column
  ): DPResult = {
    accountant.registerAggregation()
    val handle = accountant.requestBudget(MechanismType.PartitionSelection,
      weight = params.budgetWeight, name = "SetUnion")
    lazy val described: String = {
      val spec = handle.spec
      params.noiseKind match {
        case NoiseKind.Laplace =>
          WeightedLaplaceSelection(spec.epsilon, spec.delta).describe
        case NoiseKind.Gaussian =>
          WeightedGaussianSelection(spec.epsilon, spec.delta,
            params.maxItemsPerUnit).describe
      }
    }
    new DPResult(() => {
      val spec = handle.spec
      val checkedItem = when(item.isNull, raise_error(lit(
          "setUnion: NULL item — a null cannot join the released union; " +
            "filter or impute upstream")).cast("string"))
        .otherwise(item.cast("string"))
      val projected = df.select(pid.as(PidCol), checkedItem.as("item"))
      val distinctPairs = projected.distinct()
      // deterministic per-unit bounding: the first maxItemsPerUnit items
      // by sort order (the SetUnionParams policy note)
      val w = Window.partitionBy(col(PidCol)).orderBy(col("item"))
      val bounded = distinctPairs
        .withColumn("__graft_rn", row_number().over(w))
        .filter(col("__graft_rn") <= params.maxItemsPerUnit)
      val kw = Window.partitionBy(col(PidCol))
      val noiseSrc = noise
      val weight = (params.noiseKind, params.weighting) match {
        case (NoiseKind.Laplace, SetUnionWeighting.Uniform) =>
          lit(1.0) / count(lit(1)).over(kw)
        case (NoiseKind.Laplace, SetUnionWeighting.Constant) =>
          lit(1.0 / params.maxItemsPerUnit)
        case (NoiseKind.Gaussian, SetUnionWeighting.Uniform) =>
          lit(1.0) / sqrt(count(lit(1)).over(kw))
        case (NoiseKind.Gaussian, SetUnionWeighting.Constant) =>
          lit(1.0 / math.sqrt(params.maxItemsPerUnit.toDouble))
      }
      val weighted = bounded
        .withColumn("__graft_w", weight)
        .groupBy(col("item"))
        .agg(sum(col("__graft_w")).as("__graft_wsum"))
      val keepUdf = params.noiseKind match {
        case NoiseKind.Laplace =>
          val sel = WeightedLaplaceSelection(spec.epsilon, spec.delta)
          udf((ws: Double) => sel.shouldKeep(ws, noiseSrc)).asNondeterministic()
        case NoiseKind.Gaussian =>
          val sel = WeightedGaussianSelection(spec.epsilon, spec.delta,
            params.maxItemsPerUnit)
          udf((ws: Double) => sel.shouldKeep(ws, noiseSrc)).asNondeterministic()
      }
      weighted.filter(keepUdf(col("__graft_wsum"))).select(col("item"))
    }, () => s"DPEngine.setUnion: maxItemsPerUnit=${params.maxItemsPerUnit} " +
      s"weighting=${params.weighting} — $described")
  }

  /** Top-k partition release by noisy privacy-unit count — the
    * report-noisy-max family (Dwork & Roth §3.3; one-shot Laplace top-k,
    * Durfee & Rogers NeurIPS'19). Beyond-reference DP extension: the
    * reference's thresholding selection strategies
    * (partition_selection.py:33-138) keep every partition above a noisy
    * bar and cannot answer "which k partitions are largest".
    *
    * Two arms, chosen by whether the candidate domain is public —
    * report-noisy-max is only defined over a data-INDEPENDENT candidate
    * set, so a data-derived domain must instead go through thresholding
    * (a partition contributed by a single unit would otherwise be
    * released with probability > 0 in D and exactly 0 in the neighbor
    * missing that unit — unbounded privacy loss at any finite eps):
    *
    *  - `publicPartitions = Some(frame)`: pure-eps peeling
    *    report-noisy-max over the FIXED public domain (missing public
    *    keys are candidates with count 0; non-public keys are dropped
    *    before any noise). Laplace scale `b = 2 * k * l0 / eps`
    *    (peeling composition: k rounds of report-noisy-max at eps/k
    *    each; the factor 2 is the general-sensitivity arm — with
    *    l0 = 1 the monotone-count argument would permit dropping it,
    *    kept for uniformity). Valid under totalDelta = 0. Built via
    *    [[Mechanisms.createAdditive]] with L1 sensitivity 2*k*l0, so a
    *    PLD-resolved spec (epsilon = 0, normalized noiseStdDev) yields
    *    the correct finite scale instead of b = Infinity.
    *
    *  - `publicPartitions = None` (unknown domain): Laplace
    *    THRESHOLDING release — noisy unit-counts (L1 sensitivity l0)
    *    are released only above the delta-calibrated threshold, and the
    *    top-k of the surviving noisy counts is post-processing of that
    *    (eps, delta)-DP release (the same analysis as
    *    [[selectPartitions]]; cf. Durfee & Rogers NeurIPS'19 on why an
    *    unknown domain forces a threshold + delta spend). Requires
    *    totalDelta > 0 — fails loud at request time otherwise.
    *
    * ONLY the k top-scoring partition keys with their ranks are
    * released. The noisy scores are withheld: releasing magnitudes is a
    * different mechanism with its own budget (compose with
    * [[aggregate]] over the released keys as public partitions for
    * that).
    *
    * Ties (exact under Zero noise; measure-zero otherwise) break by the
    * partition-key columns ascending in declaration order —
    * deterministic, so the Zero gate replays in SQL.
    *
    * Scale: the top-k is an orderBy+limit (TakeOrderedAndProject — a
    * per-partition bounded heap, no global sort); the rank window then
    * runs over exactly k rows. The public join is a broadcast when the
    * domain frame is small (the usual case for a curated key list). */
  def noisyTopK(
      df: DataFrame,
      params: NoisyTopKParams,
      columns: DPColumns,
      publicPartitions: Option[DataFrame] = None
  ): DPResult = {
    accountant.registerAggregation()
    val l0 = params.maxPartitionsContributed
    val handle = publicPartitions match {
      case Some(_) =>
        accountant.requestBudget(MechanismType.Laplace,
          weight = params.budgetWeight, name = "NoisyTopK")
      case None =>
        require(accountant.totalDelta > 0,
          "noisyTopK over an unknown (data-derived) partition domain requires " +
            "totalDelta > 0: the release must threshold away partitions with few " +
            "contributors (report-noisy-max needs a data-independent candidate " +
            "set). Pass publicPartitions for a pure-epsilon release")
        accountant.requestBudget(MechanismType.LaplaceThresholding,
          weight = params.budgetWeight, name = "NoisyTopK")
    }
    new DPResult(() => {
      val spec = handle.spec
      val pkNames = columns.partitionKeys.map(_._1)
      require(!pkNames.contains("rank") && !pkNames.exists(_.startsWith("__graft_")),
        "partition key names must not be 'rank' (the released rank column) " +
          "or start with __graft_ (the engine's namespace); rename the key columns")
      val pkCols = pkNames.map(col)
      val projected = df.select(
        columns.privacyUnit.as(PidCol) +:
          columns.partitionKeys.map { case (n, c) => c.as(n) }: _*)
      def countBounded(pairs: DataFrame): DataFrame =
        sampleUnits(pairs, pkNames, None, l0, 1).select(inline(col(SampleCol)))
          .groupBy(pkCols: _*).agg(count(lit(1)).as(PidCntCol))
      val noiseSrc = noise
      val scored = publicPartitions match {
        case Some(pub) =>
          val pubKeys = pub.select(pkCols: _*).distinct()
          // non-public rows drop BEFORE L0 bounding — a unit's
          // contribution budget must not be spent on partitions that can
          // never be released (same stage order as [[aggregate]])
          val counted = countBounded(
            projected.join(pubKeys, pkNames, "left_semi"))
          val mech = Mechanisms.createAdditive(spec,
            Sensitivities(l1Given = Some(2.0 * params.k * l0)))
          val scoreUdf = udf((n: Long) =>
            mech.addNoise(n.toDouble, noiseSrc)).asNondeterministic()
          pubKeys.join(counted, pkNames, "left_outer")
            .withColumn(PidCntCol, coalesce(col(PidCntCol), lit(0L)))
            .withColumn("__graft_score", scoreUdf(col(PidCntCol)))
        case None =>
          val counted = countBounded(projected)
          val sel: ThresholdingSelection = spec.noiseStdDev match {
            case Some(nstd) => PartitionSelection.fromNoiseStd(
              PartitionSelectionStrategyKind.LaplaceThresholding,
              nstd * l0, spec.thresholdingDelta.get, l0)
            case None => PartitionSelection.create(
              PartitionSelectionStrategyKind.LaplaceThresholding,
              spec.epsilon, spec.delta, l0).asInstanceOf[ThresholdingSelection]
          }
          val scoreUdf = udf((n: Long) =>
            sel.noisedValueIfShouldKeep(n, noiseSrc)).asNondeterministic()
          counted.withColumn("__graft_score", scoreUdf(col(PidCntCol)))
            .filter(col("__graft_score").isNotNull)
      }
      val order = col("__graft_score").desc +: pkNames.map(col(_).asc)
      scored.orderBy(order: _*).limit(params.k)
        .withColumn("rank",
          row_number().over(Window.orderBy(order: _*)).cast("long"))
        .select(pkCols :+ col("rank"): _*)
    })
  }

  /** Noise-only on pre-aggregated per-partition values; the caller vouches for
    * the sensitivities (reference: dp_engine.py:579-652). */
  def addDpNoise(
      df: DataFrame,
      params: AddDpNoiseParams,
      valueColumns: Seq[String]
  ): DPResult = {
    accountant.registerAggregation()
    val handle = accountant.requestBudget(params.noiseKind.mechanismType,
      weight = params.budgetWeight, name = "AddDpNoise")
    new DPResult(() => {
      val sens = Sensitivities(params.l0Sensitivity, params.linfSensitivity,
        params.l1Sensitivity, params.l2Sensitivity)
      val mech = Mechanisms.createAdditive(handle.spec, sens)
      val noiseSrc = noise
      val noiseUdf = udf((v: Double) => mech.addNoise(v, noiseSrc)).asNondeterministic()
      // the assemble noNull contract: Spark SKIPS a primitive-Double UDF on
      // null input and returns null, so an unguarded NULL cell would be
      // released UN-NOISED — an exact "this cell was null" disclosure
      valueColumns.foldLeft(df)((d, c) => d.withColumn(c,
        noiseUdf(when(col(c).isNull, raise_error(lit(
            s"addDpNoise: NULL value in '$c' — a null release would " +
              "disclose the cell un-noised; filter or impute upstream"))
          .cast("double")).otherwise(col(c).cast("double")))))
    })
  }
}

object DPEngine {
  private[spark] val PidCol = "__graft_pid"
  private[spark] val CntCol = "__graft_cnt"
  private[spark] val SumCol = "__graft_sum"
  private[spark] val NSumCol = "__graft_nsum"
  private[spark] val NSqCol = "__graft_nsq"
  private[spark] val PidCntCol = "__graft_pidcnt"
  private[spark] val SampleCol = "__graft_sample"
  private val RowPriorityCol = "__graft_rp"
  private[spark] val MetricsCol = "__graft_metrics"
  private[spark] val TreeCol = "__graft_qtree"
  private[spark] val QuantilesCol = "__graft_quantiles"
  private[spark] val VecCol = "__graft_vec"

  /** The core's projected name of its `i`-th value column. */
  private[spark] def valueCol(i: Int): String = s"__graft_v$i"

  /** The bounded sample of each unit ([[graft.functions.BoundedSample]])
    * of `df`'s rows, grouped by [[PidCol]]: the `l0` cells (distinct
    * `keys`) of lowest priority xxhash64(unit, keys, seed), with the seed
    * drawn here once per call — a uniform sample of the unit's cells —
    * and in each the `c` rows of lowest `rand()` — a uniform sample of the
    * cell's rows — carrying the `payload` columns. Without a payload the
    * sample counts instead: each kept cell carries in [[CntCol]] how many
    * of its rows it kept (at most c). Returns (PidCol, SampleCol);
    * `inline(SampleCol)` gives the kept rows (keys, payload) or cells
    * (keys, CntCol). */
  private def sampleUnits(df: DataFrame, keys: Seq[String], payload: Option[Seq[String]],
      l0: Int, c: Int): DataFrame = {
    val seed = scala.util.Random.nextLong()
    val cellPriority = xxhash64(col(PidCol) +: keys.map(col) :+ lit(seed): _*)
    // the row priority is projected, not drawn in the aggregate, so
    // Catalyst sees the nondeterminism
    val in = if (payload.isDefined) df.withColumn(RowPriorityCol, rand()) else df
    in.groupBy(col(PidCol)).agg(BoundedSample.column(cellPriority,
      payload.map(_ => col(RowPriorityCol)), keys.map(k => k -> col(k)),
      payload.getOrElse(Nil).map(k => k -> col(k)), l0, c, CntCol).as(SampleCol))
  }

  /** Partitions one unit can influence: in maxContributions (L1) mode the
    * L1 sample is the only enforced bound, so a unit may touch up to mc
    * partitions — maxPartitionsContributed is NOT enforced there (it
    * defaults to 1) and using it would under-calibrate partition
    * selection mc-fold. */
  private def effectiveL0(params: AggregateParams): Int =
    params.maxContributions.getOrElse(params.maxPartitionsContributed)

  /** Whether any requested metric needs per-(pid, pk) contribution sampling
    * (reference: combiners.py expects_per_partition_sampling; sum in
    * per-partition-bound mode and privacy_id_count do not). */
  private def needsLinfSampling(params: AggregateParams): Boolean =
    params.metrics.exists {
      case Metric.Count | Metric.Mean | Metric.Variance | _: Metric.Percentile => true
      case Metric.Sum => params.boundsPerContributionAreSet
      case Metric.VectorSum => true
      case Metric.PrivacyIdCount => false
    }

  /** Fails loud on output-name collisions: a release selects the partition
    * keys next to its emitted columns BY NAME, so a key named "count"
    * (plausible) would silently produce a frame with duplicate column
    * names — an AMBIGUOUS_REFERENCE ambush for the first downstream
    * select, or silent duplicate fields in parquet. */
  private[spark] def requireKeyNames(pkNames: Seq[String], emitted: Seq[String]): Unit = {
    val badPk = pkNames.filter(n => emitted.contains(n) || n.startsWith("__graft_"))
    require(badPk.isEmpty,
      s"partition key name(s) ${badPk.mkString(", ")} collide with DP output " +
        s"columns (${emitted.mkString(", ")}) or the engine's __graft_ " +
        "namespace; rename the key columns")
  }

  /** Sampling caps of [[boundedAggregate]], each None when not enforced:
    * at most `rows` rows per (unit, partition) — per unit in total when no
    * `l0` bounds the partitions (the L1 bound) — and at most `l0`
    * partitions per unit. `countRows`: the accumulators read no value, only
    * how many rows a (unit, partition) kept, which the sampler emits as
    * [[CntCol]] and the merge sums directly. */
  private[spark] final case class Bounds(rows: Option[Int], l0: Option[Int],
      countRows: Boolean = false)

  /** One accumulator of [[boundedAggregate]]: `perUnit` aggregates one
    * (unit, partition) group of bounded rows into column `name`, `merge`
    * aggregates that column per partition, and `empty` is its value for a
    * public partition no unit contributed to (None: it has none). */
  private[spark] final case class Acc(name: String, perUnit: Column, merge: Column,
      empty: Option[Column])
  private[spark] object Acc {
    /** An accumulator merged by summing, empty at `zero`. */
    def summed(name: String, perUnit: Column, zero: Any): Acc =
      Acc(name, perUnit, sum(col(name)), Some(lit(zero)))
  }

  /** The bounded-aggregate core of every DP aggregate (reference:
    * contribution_bounders.py, then CompoundCombiner's accumulators,
    * combiners.py:748-847):
    *
    *  1. project (pid, pk..., value...), failing loud on a NULL value;
    *  2. semi-join the public partitions (non-public rows drop before they
    *     can spend a unit's contribution budget);
    *  3. bound each unit's contributions in one pass grouped by unit
    *     ([[sampleUnits]]), by the mode `bounds` sets:
    *     - Linf + L0: l0 partitions, c rows in each;
    *     - L1 (no l0): one cell per unit, mc rows;
    *     - `countRows`: l0 partitions, each with its kept-row count
    *       (at most c) in [[CntCol]] instead of its rows — already one
    *       row per (unit, partition), so step 4 is skipped;
    *     - no row cap: the per-(unit, partition) accumulators first, then
    *       l0 of those per unit;
    *  4. aggregate each (unit, partition) into the accumulators — the
    *     groupBy reuses the sample's unit partitioning, no shuffle;
    *  5. merge per partition and count its units ([[PidCntCol]]: one row
    *     per (pid, pk) survives, so the count is exact);
    *  6. add missing public partitions at the accumulators' empty values,
    *     when every accumulator has one;
    *  7. run partition selection on the unit count.
    *
    * Returns the partition keys, the merged accumulators and PidCntCol.
    * A NULL value fails loud because it has no clipping semantics: Spark's
    * least/greatest skip nulls (an unguarded NULL clips to the lower bound
    * and enters the release as data), and sum(all-null group) is NULL,
    * which skips a primitive-typed metric UDF and releases un-noised. */
  private[spark] def boundedAggregate(
      df: DataFrame,
      pid: Column,
      partitionKeys: Seq[(String, Column)],
      values: Seq[(String, Column)],
      bounds: Bounds,
      accs: Seq[Acc],
      publicPartitions: Option[DataFrame],
      selector: Option[PartitionSelection],
      noise: NoiseSource
  ): DataFrame = {
    val pkNames = partitionKeys.map(_._1)
    val pkCols = pkNames.map(col)
    val guarded = values.zipWithIndex.map { case ((label, v), i) =>
      when(v.isNull, raise_error(lit(s"NULL $label for a privacy unit — nulls " +
        "have no clipping semantics and would release un-noised or clip-bound " +
        "data; filter or impute upstream"))).otherwise(v).as(valueCol(i))
    }
    var cur = df.select((pid.as(PidCol) +:
      partitionKeys.map { case (n, c) => c.as(n) }) ++ guarded: _*)
    publicPartitions.foreach { pub => cur = cur.join(pub, pkNames, "left_semi") }
    def perUnit(rows: DataFrame): DataFrame = {
      val grouped = rows.groupBy(col(PidCol) +: pkCols: _*)
      if (accs.isEmpty) grouped.agg(Map.empty[String, String])
      else grouped.agg(accs.head.perUnit.as(accs.head.name),
        accs.tail.map(a => a.perUnit.as(a.name)): _*)
    }
    def kept(sample: DataFrame): DataFrame =
      sample.select(col(PidCol), inline(col(SampleCol)))
    val valueNames = values.indices.map(valueCol)
    val bounded = (bounds.rows, bounds.l0) match {
      case (c, Some(l0)) if bounds.countRows =>
        kept(sampleUnits(cur, pkNames, None, l0, c.getOrElse(Int.MaxValue)))
      case (Some(c), Some(l0)) =>
        perUnit(kept(sampleUnits(cur, pkNames, Some(valueNames), l0, c)))
      case (Some(mc), None) =>
        perUnit(kept(sampleUnits(cur, Nil, Some(pkNames ++ valueNames), 1, mc)))
      case (None, Some(l0)) =>
        kept(sampleUnits(perUnit(cur), pkNames, Some(accs.map(_.name)), l0, 1))
      case (None, None) => perUnit(cur)
    }
    var agg = bounded.groupBy(pkCols: _*).agg(count(lit(1)).as(PidCntCol),
      accs.map(a => a.merge.as(a.name)): _*)
    if (accs.forall(_.empty.isDefined)) publicPartitions.foreach { pub =>
      agg = pub.select(pkCols: _*).distinct().join(agg, pkNames, "left_outer").select(
        pkCols ++ (coalesce(col(PidCntCol), lit(0L)).as(PidCntCol) +:
          accs.map(a => coalesce(col(a.name), a.empty.get).as(a.name))): _*)
    }
    selector.foreach { sel =>
      val keepUdf = udf((n: Long) => sel.shouldKeep(n, noise)).asNondeterministic()
      agg = agg.filter(keepUdf(col(PidCntCol)))
    }
    agg
  }

  /** One value column of a metric release: its metric plan, and the prefix
    * its output names carry ("" for [[DPEngine.aggregate]]'s one column). A
    * missing value counts rows (value 1). */
  private[spark] final case class MetricColumn(prefix: String, value: Option[Column],
      plan: CompoundComputer.Plan)

  /** The COUNT/SUM/MEAN/VARIANCE/PERCENTILE/VECTOR_SUM release over
    * [[boundedAggregate]]: per value column, the accumulators its metrics
    * read and one metric UDF per accumulator set. The columns share one
    * contribution bounding (their params agree on it) and one row count.
    *
    * Accumulators no metric reads are not built: the centered moments feed
    * only Mean/Variance, and the plain sum only Sum without them.
    *
    * COUNT-ONLY: when no metric reads a row's value (only Count and
    * PrivacyIdCount), the Linf sample's one observable is the kept-row
    * count min(n, c) — a cell's rows are interchangeable, so which c rows
    * survive cannot reach the release. The sampler then keeps that count
    * per cell instead of rows ([[Bounds]] `countRows`): exactly the
    * sampled result, with no row priority and no rows shipped. The L1
    * (maxContributions) sample is NOT reducible this way — it splits one
    * unit's budget ACROSS partitions — and keeps rows. */
  private[spark] def releaseMetrics(
      df: DataFrame,
      pid: Column,
      partitionKeys: Seq[(String, Column)],
      cols: Seq[MetricColumn],
      publicPartitions: Option[DataFrame],
      selector: Option[PartitionSelection],
      postAggThresholding: Option[ThresholdingSelection],
      noise: NoiseSource
  ): DataFrame = {
    import Metric._
    val built = cols.map(c =>
      (c, c.plan.build(noise), c.plan.buildQuantile(), c.plan.buildVector()))
    requireKeyNames(partitionKeys.map(_._1),
      built.flatMap { case (c, comp, q, v) =>
        (comp.names ++ q.toSeq.flatMap(_.names) ++ v.map(_ => "vector_sum"))
          .map(c.prefix + _)
      } ++ postAggThresholding.map(_ => "privacy_id_count"))

    val ps = cols.map(_.plan.params)
    val p0 = ps.head
    val linf = p0.maxContributionsPerPartition.filter(_ => ps.exists(needsLinfSampling))
    val countOnly = ps.forall(_.metrics.forall(m => m == Count || m == PrivacyIdCount))
    val bounds =
      if (p0.contributionBoundsAlreadyEnforced) Bounds(None, None)
      else p0.maxContributions match {
        case Some(mc) => Bounds(Some(mc), None)
        case None => Bounds(linf, Some(p0.maxPartitionsContributed), countRows = countOnly)
      }

    val accs = Seq.newBuilder[Acc]
    if (ps.exists(_.metrics.exists(m => m == Count || m == Mean || m == Variance)))
      accs += Acc.summed(CntCol, count(lit(1)), 0L)
    built.zipWithIndex.foreach { case ((c, _, quantile, vector), i) =>
      val p = c.plan.params
      val v = col(valueCol(i))
      val clipped =
        if (c.value.isDefined && vector.isEmpty && p.boundsPerContributionAreSet)
          least(greatest(v, lit(p.minValue.get)), lit(p.maxValue.get))
        else v
      val moments = p.metrics.exists(m => m == Mean || m == Variance)
      if (p.metrics.contains(Sum) && !moments)
        accs += Acc.summed(SumCol + i,
          if (p.boundsPerPartitionAreSet)
            least(greatest(sum(v), lit(p.minSumPerPartition.get)),
              lit(p.maxSumPerPartition.get))
          else sum(clipped), 0.0)
      if (moments) {
        val centered = clipped - lit(p.rangeMiddle)
        accs += Acc.summed(NSumCol + i, sum(centered), 0.0)
        accs += Acc.summed(NSqCol + i, sum(centered * centered), 0.0)
      }
      quantile.foreach { q =>
        val tree = QuantileTreeAggregate.column(q.lower, q.upper) _
        accs += Acc(TreeCol + i, tree(clipped), tree(col(TreeCol + i)),
          Some(lit(null).cast("binary"))) // a null tree reads as empty
      }
      // the norm clip applies per (unit, partition) as the merge's input:
      // clipVector references its input twice (non-finite guard + value),
      // and wrapping the per-unit aggregate ran the vector-sum Aggregator
      // twice per group
      vector.foreach { vn =>
        accs += Acc(VecCol + i, VectorOps.vecSum(v),
          VectorOps.vecSum(VectorOps.clipVector(col(VecCol + i), vn.normKind, vn.maxNorm)),
          Some(array_repeat(lit(0.0), vn.vectorSize)))
      }
    }
    val accList = accs.result()
    val values = cols.zip(built).map { case (c, (_, _, _, vector)) =>
      (if (c.prefix.isEmpty) "value" else s"value in column '${c.prefix.init}'") ->
        c.value.fold(lit(1.0))(_.cast(if (vector.isDefined) "array<double>" else "double"))
    }
    var agg = boundedAggregate(df, pid, partitionKeys, values, bounds, accList,
      publicPartitions, selector, noise)

    // one nondeterministic UDF per column emits its full metric vector, as a
    // named column before item extraction, so a single logical noise draw
    // is never split across column re-evaluations (SURVEY §7.4 hard-part 4)
    val present = accList.map(_.name).toSet
    def acc(name: String, zero: Any): Column = if (present(name)) col(name) else lit(zero)
    val metricCols = built.zipWithIndex.flatMap { case ((c, comp, quantile, vector), i) =>
      val scalar = if (comp.names.isEmpty) Nil else {
        val mUdf = udf((cnt: Long, s: Double, ns: Double, nsq: Double, pc: Long) =>
          comp.compute(cnt, s, ns, nsq, pc)).asNondeterministic()
        agg = agg.withColumn(MetricsCol + i, mUdf(acc(CntCol, 0L), acc(SumCol + i, 0.0),
          acc(NSumCol + i, 0.0), acc(NSqCol + i, 0.0), col(PidCntCol)))
        comp.names.zipWithIndex.map { case (n, j) => col(MetricsCol + i).getItem(j).as(c.prefix + n) }
      }
      val quantileCols = quantile.toSeq.flatMap { q =>
        val qUdf = udf((bytes: Array[Byte]) => q.compute(bytes, noise)).asNondeterministic()
        agg = agg.withColumn(QuantilesCol + i, qUdf(col(TreeCol + i)))
        q.names.zipWithIndex.map { case (n, j) => col(QuantilesCol + i).getItem(j).as(c.prefix + n) }
      }
      val vectorCols = vector.toSeq.map { vn =>
        udf((vec: Array[Double]) => vn.addNoise(
          if (vec == null || vec.isEmpty) new Array[Double](vn.vectorSize) else vec, noise))
          .asNondeterministic()(col(VecCol + i)).as(c.prefix + "vector_sum")
      }
      scalar ++ quantileCols ++ vectorCols
    }
    // post-aggregation thresholding: the noised pid count IS the release
    // decision; under-threshold partitions yield null and are dropped
    // (reference: combiners.py:360-416, dp_engine.py:572-577)
    val postAggCols = postAggThresholding.toSeq.map { sel =>
      udf((n: Long) => sel.noisedValueIfShouldKeep(n, noise).map(Double.box).orNull)
        .asNondeterministic()(col(PidCntCol)).as("privacy_id_count")
    }
    val out = agg.select(partitionKeys.map(p => col(p._1)) ++ metricCols ++ postAggCols: _*)
    if (postAggThresholding.isDefined) out.filter(col("privacy_id_count").isNotNull) else out
  }
}
