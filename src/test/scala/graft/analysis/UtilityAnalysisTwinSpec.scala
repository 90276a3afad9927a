package graft.analysis

import graft.core._
import graft.spark.{DPColumns, MultiValueColumns, SparkTestSession}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The single-column analysis and the multi-column analysis over one value
  * column `v` (bounds taken from each configuration's
  * min/maxSumPerPartition) must give the same per-partition and report
  * frames, once the multi face's `sum_v_*` columns are named `sum_*`.
  * Per-partition frames must match exactly. Report doubles may differ in
  * the last ulps: the report sums its partitions in shuffle-fetch order,
  * which varies from run to run. */
class UtilityAnalysisTwinSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // u1 spreads over three partitions (L0 dropping under l0 = 1 or 2), u2 and
  // u3 overshoot the sum bounds, u4 undershoots a negative lower bound, and
  // "E" is a data key that no public list names
  private def events: DataFrame = Seq(
    ("u1", "A", 1.5), ("u1", "A", 2.0), ("u1", "B", 0.5), ("u1", "C", 4.0),
    ("u2", "A", 9.0), ("u2", "A", 3.0), ("u2", "A", 1.0),
    ("u3", "B", 12.25), ("u3", "D", -1.0),
    ("u4", "B", -7.5), ("u4", "C", 2.0),
    ("u5", "E", 3.0), ("u5", "A", 0.25)
  ).toDF("uid", "pk", "v")

  private val publicKeys = Seq("A", "B", "C", "D", "ghost")

  private def configs(noise: NoiseKind): Seq[UtilityAnalysisConfig] = Seq(
    UtilityAnalysisConfig(maxPartitionsContributed = 1, maxContributionsPerPartition = 1,
      minSumPerPartition = 0.0, maxSumPerPartition = 5.0, noiseKind = noise),
    UtilityAnalysisConfig(maxPartitionsContributed = 2, maxContributionsPerPartition = 2,
      minSumPerPartition = -2.0, maxSumPerPartition = 10.0, noiseKind = noise,
      partitionSelectionStrategy = PartitionSelectionStrategyKind.LaplaceThresholding))

  private def sorted(df: DataFrame): (Seq[String], Seq[Row]) = {
    val cols = df.columns.toSeq
    (cols, df.collect().toSeq.sortBy(_.toSeq.map(String.valueOf).mkString("|")))
  }

  private val sameUpToSummationOrder: ((Any, Any)) => Boolean = {
    case (a: Double, b: Double) =>
      a == b || math.abs(a - b) <= 1e-12 * math.max(1.0, math.max(math.abs(a), math.abs(b)))
    case (a, b) => a == b
  }

  private def renamed(df: DataFrame): DataFrame =
    df.toDF(df.columns.toSeq.map(_.replaceFirst("^sum_v_", "sum_")): _*)

  private val metricSets: Seq[Seq[Metric]] = Seq(
    Seq(Metric.Count), Seq(Metric.Sum), Seq(Metric.PrivacyIdCount),
    Seq(Metric.Count, Metric.Sum, Metric.PrivacyIdCount), Nil)

  for {
    metrics <- metricSets
    public <- Seq(false, true) if metrics.nonEmpty || !public
    noise <- Seq(NoiseKind.Laplace, NoiseKind.Gaussian)
    sampling <- Seq(1.0, 0.5)
  } {
    val label = s"metrics=${metrics.map(_.name).mkString("+")} public=$public " +
      s"noise=$noise sampling=$sampling"
    test(s"single- and one-column multi-column analysis agree: $label") {
      val opts = UtilityAnalysisOptions(epsilon = 1.5, delta = 1e-5, metrics = metrics,
        configs = configs(noise), publicPartitions = public,
        partitionsSamplingProb = sampling)
      val pub = if (public) Some(publicKeys.toDF("pk")) else None
      val df = events

      val (rep1, per1) = UtilityAnalysis.analyze(df,
        DPColumns(col("uid"), Seq("pk" -> col("pk")), Some(col("v"))), opts, pub)

      val pre = UtilityAnalysis.preAggregateMulti(df,
        MultiValueColumns(col("uid"), Seq("pk" -> col("pk")), Seq("v" -> col("v"))),
        sampling)
      val bounds = opts.configs.map(c => Seq((c.minSumPerPartition, c.maxSumPerPartition)))
      val per2 = UtilityAnalysis.perPartitionMetricsMultiSum(
        pre, Seq("pk"), Seq("v"), opts, bounds, pub)
      val rep2 = UtilityAnalysis.reportMultiSum(per2, opts, Seq("v"))

      val (perCols1, perRows1) = sorted(per1)
      val (perCols2, perRows2) = sorted(renamed(per2))
      assert(perCols1 == perCols2)
      assert(perRows1.nonEmpty)
      assert(perRows1 == perRows2)
      val (repCols1, repRows1) = sorted(rep1)
      val (repCols2, repRows2) = sorted(renamed(rep2))
      assert(repCols1 == repCols2)
      assert(repRows1.length == repRows2.length)
      repRows1.zip(repRows2).foreach { case (r1, r2) =>
        assert(r1.toSeq.zip(r2.toSeq).forall(sameUpToSummationOrder), s"$r1 != $r2")
      }
    }
  }
}
