package graft.analysis

import graft.core._
import graft.spark.{DPColumns, SparkTestSession}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.CreateNamedStruct
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.scalatest.funsuite.AnyFunSuite

/** The per-partition analysis groups its error moments by (partition
  * keys, configuration index): no aggregate of its plan may key on the
  * configuration struct, whose normalized fields would all be hashed and
  * shuffled per group. */
class UtilityAnalysisPlanSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def events: DataFrame = Seq(
    ("u1", "A", 1.5), ("u1", "B", 0.5), ("u2", "A", 9.0), ("u3", "C", 2.0)
  ).toDF("uid", "pk", "v")

  private def aggregates(p: SparkPlan): Seq[BaseAggregateExec] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _ => p.children
    }
    (p match { case a: BaseAggregateExec => Seq(a); case _ => Nil }) ++ kids.flatMap(aggregates)
  }

  for (public <- Seq(false, true)) test(s"no aggregate keys on a named_struct (public=$public)") {
    val options = UtilityAnalysisOptions(epsilon = 1.0, delta = 1e-6,
      metrics = Seq(Metric.Count, Metric.Sum),
      configs = Seq(
        UtilityAnalysisConfig(maxPartitionsContributed = 1, maxSumPerPartition = 5.0),
        UtilityAnalysisConfig(maxPartitionsContributed = 2, maxSumPerPartition = 10.0)),
      publicPartitions = public)
    val pre = UtilityAnalysis.preAggregate(events, DPColumns("uid", "pk", "v"))
    val out = UtilityAnalysis.perPartitionMetrics(pre, Seq("pk"), options,
      if (public) Some(Seq("A", "B", "D").toDF("pk")) else None)
    assert(out.collect().length == 6)
    val aggs = aggregates(out.queryExecution.executedPlan)
    assert(aggs.nonEmpty)
    aggs.foreach { a =>
      assert(!a.groupingExpressions.exists(_.exists(_.isInstanceOf[CreateNamedStruct])),
        a.groupingExpressions.mkString(", "))
    }
  }
}
