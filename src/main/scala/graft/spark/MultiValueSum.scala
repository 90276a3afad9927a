package graft.spark

import graft.core._
import org.apache.spark.sql.{Column, DataFrame}

/** Roles for a multi-value aggregation: several value columns aggregated for
  * the same privacy unit / partition key in ONE pass (reference:
  * data_extractors.py:34-44 MultiValueDataExtractors — extractor lambdas
  * become named Column expressions). */
final case class MultiValueColumns(
    privacyUnit: Column,
    partitionKeys: Seq[(String, Column)],
    values: Seq[(String, Column)]
) {
  require(values.nonEmpty, "at least one value column is required")
}

/** Per-column contribution bounds: the per-partition sum of the column is
  * clipped to [minSumPerPartition, maxSumPerPartition] (the reference's
  * multi-column mode, analysis/data_structures.py:74-94). */
final case class ValueColumnBounds(
    name: String,
    minSumPerPartition: Double,
    maxSumPerPartition: Double
) {
  require(minSumPerPartition <= maxSumPerPartition,
    s"minSumPerPartition must be <= maxSumPerPartition for $name")
}

/** Parameters of a multi-value DP SUM aggregation. */
final case class MultiValueSumParams(
    columnBounds: Seq[ValueColumnBounds],
    maxPartitionsContributed: Int,
    noiseKind: NoiseKind = NoiseKind.Laplace,
    budgetWeight: Double = 1.0,
    partitionSelectionStrategy: PartitionSelectionStrategyKind =
      PartitionSelectionStrategyKind.TruncatedGeometric,
    preThreshold: Option[Int] = None
) {
  require(columnBounds.nonEmpty, "columnBounds must not be empty")
  require(maxPartitionsContributed >= 1, "maxPartitionsContributed must be >= 1")
  require(columnBounds.map(_.name).distinct.size == columnBounds.size,
    "value column names must be unique")
}

/** N DP sums over N value columns in one pass — one shuffle chain, one noise
  * mechanism per column, each with its own sensitivity, all under one
  * accountant: the DP aggregate with one `Sum` column per value, each
  * clipped per partition to its own bounds (no Linf sample; the L0 sample
  * and partition selection are shared). Outputs `<value>_sum`. */
object MultiValueSum {

  def aggregate(
      engine: DPEngine,
      df: DataFrame,
      params: MultiValueSumParams,
      columns: MultiValueColumns,
      publicPartitions: Option[DataFrame] = None
  ): DPResult = {
    require(params.columnBounds.map(_.name) == columns.values.map(_._1),
      "columnBounds and value columns must align by name")
    DPEngine.requireKeyNames(columns.partitionKeys.map(_._1),
      params.columnBounds.map(c => s"${c.name}_sum"))
    engine.aggregateColumns(df, columns.privacyUnit, columns.partitionKeys,
      params.columnBounds.zip(columns.values).map { case (c, (n, v)) =>
        (s"${n}_", Some(v), AggregateParams(metrics = Seq(Metric.Sum),
          noiseKind = params.noiseKind,
          maxPartitionsContributed = params.maxPartitionsContributed,
          minSumPerPartition = Some(c.minSumPerPartition),
          maxSumPerPartition = Some(c.maxSumPerPartition),
          budgetWeight = params.budgetWeight,
          partitionSelectionStrategy = params.partitionSelectionStrategy,
          preThreshold = params.preThreshold))
      }, publicPartitions)
  }
}

/** One value column's metric set for [[MultiValueAgg]]: COUNT / SUM / MEAN /
  * VARIANCE / PRIVACY_ID_COUNT with per-contribution clipping bounds. */
final case class ValueColumnMetrics(
    name: String,
    metrics: Seq[Metric],
    minValue: Double,
    maxValue: Double
) {
  require(metrics.nonEmpty, s"metrics must not be empty for $name")
  require(minValue <= maxValue, s"minValue must be <= maxValue for $name")
  require(metrics.forall {
    case Metric.Count | Metric.Sum | Metric.Mean | Metric.Variance |
        Metric.PrivacyIdCount => true
    case _ => false
  }, s"unsupported metric for multi-value column $name (scalar metrics only)")
}

/** Parameters of a multi-value aggregation with per-column metric sets. */
final case class MultiValueAggParams(
    columns: Seq[ValueColumnMetrics],
    maxPartitionsContributed: Int,
    maxContributionsPerPartition: Int,
    noiseKind: NoiseKind = NoiseKind.Laplace,
    budgetWeight: Double = 1.0,
    partitionSelectionStrategy: PartitionSelectionStrategyKind =
      PartitionSelectionStrategyKind.TruncatedGeometric,
    preThreshold: Option[Int] = None
) {
  require(columns.nonEmpty, "columns must not be empty")
  require(maxPartitionsContributed >= 1 && maxContributionsPerPartition >= 1)
  require(columns.map(_.name).distinct.size == columns.size,
    "value column names must be unique")
}

/** The full multi-value generalization (reference: data_extractors.py:33-44
  * MultiValueDataExtractors composing ARBITRARY per-column combiners, not
  * just sums): every value column runs its own COUNT/SUM/MEAN/VARIANCE set
  * with its own clipping bounds and budget requests, in ONE pass over the
  * shared (pid, pk) rows — the DP aggregate with one accumulator set per
  * column. The row count and privacy-id count accumulators are shared,
  * since every kept row contributes to every column. Outputs
  * `<value>_<metric>`. */
object MultiValueAgg {

  def aggregate(
      engine: DPEngine,
      df: DataFrame,
      params: MultiValueAggParams,
      columns: MultiValueColumns,
      publicPartitions: Option[DataFrame] = None
  ): DPResult = {
    require(params.columns.map(_.name) == columns.values.map(_._1),
      "params.columns and value columns must align by name")
    engine.aggregateColumns(df, columns.privacyUnit, columns.partitionKeys,
      params.columns.zip(columns.values).map { case (c, (n, v)) =>
        (s"${n}_", Some(v), AggregateParams(metrics = c.metrics,
          noiseKind = params.noiseKind,
          maxPartitionsContributed = params.maxPartitionsContributed,
          maxContributionsPerPartition = Some(params.maxContributionsPerPartition),
          minValue = Some(c.minValue), maxValue = Some(c.maxValue),
          budgetWeight = params.budgetWeight,
          partitionSelectionStrategy = params.partitionSelectionStrategy,
          preThreshold = params.preThreshold))
      }, publicPartitions)
  }
}
