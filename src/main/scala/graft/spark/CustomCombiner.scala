package graft.spark

import graft.core._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** User-extensible DP aggregation (reference: combiners.py:110-161
  * CustomCombiner — the experimental extension point re-expressed as Column
  * expressions so user logic stays inside whole-stage codegen).
  *
  * Lifecycle:
  *  1. [[requestBudget]] runs driver-side at plan-construction time; store
  *     the returned handles in fields (they serialize with `this`).
  *  2. [[createAccumulators]] produce native aggregate expressions evaluated
  *     per (privacy unit, partition) group — implement contribution clipping
  *     here if the metric needs it.
  *  3. [[mergeAccumulators]] merge those per partition key.
  *  4. [[computeMetrics]] turn the merged accumulators into the final DP
  *     output columns; runs after budgets resolve, so resolved specs can be
  *     read from the stored handles. This is where noise must be added —
  *     an incorrect implementation breaks the DP guarantee, exactly as the
  *     reference warns.
  */
trait CustomCombiner extends Serializable {
  def name: String
  def requestBudget(accountant: BudgetAccountant): Unit
  def createAccumulators(value: Column): Seq[Column]
  def mergeAccumulators(accs: Seq[Column]): Seq[Column]
  def computeMetrics(accs: Seq[Column], noise: NoiseSource): Seq[Column]
  def metricNames: Seq[String]
  /** One line for the explain report, available after budget resolution. */
  def explainBudget: String
}

/** Contribution-bounding parameters for a custom aggregation. */
final case class CustomAggParams(
    maxPartitionsContributed: Int,
    maxContributionsPerPartition: Option[Int] = None,
    budgetWeight: Double = 1.0,
    partitionSelectionStrategy: PartitionSelectionStrategyKind =
      PartitionSelectionStrategyKind.TruncatedGeometric,
    preThreshold: Option[Int] = None
) {
  require(maxPartitionsContributed >= 1, "maxPartitionsContributed must be >= 1")
  // Some(0) would silently sample EVERY row away (rn <= 0 keeps nothing)
  // and release an empty result with no error — the AggregateParams rule
  maxContributionsPerPartition.foreach(c => require(c >= 1,
    s"maxContributionsPerPartition must be >= 1 when set, got $c"))
}

/** Example user combiner: DP sum of squares with per-contribution square
  * clipping — each contribution adds at most `maxSquare`, the engine's Linf
  * sampling bounds contributions per partition, so the L1 sensitivity is
  * l0 * contributionsPerPartition * maxSquare. */
final class SquareSumCombiner(
    maxSquare: Double, l0: Int, contributionsPerPartition: Int) extends CustomCombiner {
  def name: String = "square_sum"
  private var handle: BudgetHandle = _
  def requestBudget(accountant: BudgetAccountant): Unit =
    handle = accountant.requestBudget(MechanismType.Laplace, name = name)
  def createAccumulators(value: Column): Seq[Column] =
    Seq(sum(least(value * value, lit(maxSquare))))
  def mergeAccumulators(accs: Seq[Column]): Seq[Column] = Seq(sum(accs.head))
  def computeMetrics(accs: Seq[Column], noise: NoiseSource): Seq[Column] = {
    val mech = Mechanisms.createAdditive(handle.spec,
      Sensitivities(l0 = Some(l0), linf = Some(maxSquare * contributionsPerPartition)))
    val noiseUdf = udf((v: Double) => mech.addNoise(v, noise)).asNondeterministic()
    Seq(noiseUdf(accs.head))
  }
  def metricNames: Seq[String] = Seq("square_sum")
  def explainBudget: String = {
    val s = handle.spec
    f"$name: Laplace eps=${s.epsilon}%.4g"
  }
}

object CustomAggregation {
  import DPEngine._

  /** Runs a [[CustomCombiner]] through the engine's bounded-aggregate core
    * ([[DPEngine.boundedAggregate]]): Linf/L0 sampling, the combiner's
    * per-unit accumulators and merge, DP partition selection, then the
    * combiner's metric columns. Partitions are always selected privately:
    * custom accumulators have no generic empty value, so public partitions
    * without data could not be released, and releasing only the non-empty
    * ones would reveal which public keys are empty. */
  def aggregate(
      engine: DPEngine,
      df: DataFrame,
      params: CustomAggParams,
      columns: DPColumns,
      combiner: CustomCombiner
  ): DPResult = {
    requireKeyNames(columns.partitionKeys.map(_._1), combiner.metricNames)
    val accountant = engine.accountant
    accountant.registerAggregation()
    combiner.requestBudget(accountant)
    val selectionHandle = accountant.requestBudget(MechanismType.PartitionSelection,
      weight = params.budgetWeight, name = s"${combiner.name}:PartitionSelection")

    new DPResult(() => {
      val perUnit = combiner.createAccumulators(col(valueCol(0)))
      val names = perUnit.indices.map(i => s"__graft_cc$i")
      val merged = combiner.mergeAccumulators(names.map(col))
      val sel = selectionHandle.spec
      val selector = PartitionSelection.create(params.partitionSelectionStrategy,
        sel.epsilon, sel.delta, params.maxPartitionsContributed, params.preThreshold)
      val agg = boundedAggregate(df, columns.privacyUnit, columns.partitionKeys,
        Seq("value" -> columns.value.fold(lit(1.0))(_.cast("double"))),
        Bounds(params.maxContributionsPerPartition, Some(params.maxPartitionsContributed)),
        names.indices.map(i => Acc(names(i), perUnit(i), merged(i), None)),
        None, Some(selector), engine.noise)
      val metrics = combiner.computeMetrics(names.map(col), engine.noise)
      require(metrics.length == combiner.metricNames.length,
        "computeMetrics must return one column per metric name")
      agg.select(columns.partitionKeys.map(p => col(p._1)) ++
        metrics.zip(combiner.metricNames).map { case (m, n) => m.as(n) }: _*)
    }, () => {
      val lines = Seq.newBuilder[String]
      lines += s"Custom DP aggregation: ${combiner.name}"
      val s = selectionHandle.spec
      lines += f"- Partition selection: ${params.partitionSelectionStrategy} eps=${s.epsilon}%.4g delta=${s.delta}%.4g"
      lines += s"- ${combiner.explainBudget}"
      lines.result().mkString("\n")
    })
  }
}
