package graft.spark

import graft.core._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** The contracts every caller of the bounded-aggregate core shares, checked
  * once per caller: a NULL value fails loud, a partition key named like an
  * emitted column fails loud, and a binding L0 cap keeps exactly l0
  * partitions of a unit that contributes to more. A binding L1 cap, which
  * only [[DPEngine.aggregate]] takes, keeps exactly mc rows of a unit. */
class BoundedAggregateSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private type Run = (DPEngine, DataFrame, String, Int) => DPResult

  /** (caller, its value output column, release of (pid, <pk>, v) at L0 cap l0) */
  private val callers: Seq[(String, String, Run)] = Seq(
    ("DPEngine.aggregate", "sum", (e, df, pk, l0) => e.aggregate(df,
      AggregateParams(metrics = Seq(Metric.Sum), maxPartitionsContributed = l0,
        maxContributionsPerPartition = Some(5), minValue = Some(0.0), maxValue = Some(1.0)),
      DPColumns(col("pid"), Seq(pk -> col(pk)), Some(col("v"))))),
    ("MultiValueSum", "v_sum", (e, df, pk, l0) => MultiValueSum.aggregate(e, df,
      MultiValueSumParams(Seq(ValueColumnBounds("v", 0.0, 10.0)),
        maxPartitionsContributed = l0),
      MultiValueColumns(col("pid"), Seq(pk -> col(pk)), Seq("v" -> col("v"))))),
    ("MultiValueAgg", "v_sum", (e, df, pk, l0) => MultiValueAgg.aggregate(e, df,
      MultiValueAggParams(Seq(ValueColumnMetrics("v", Seq(Metric.Sum), 0.0, 1.0)),
        maxPartitionsContributed = l0, maxContributionsPerPartition = 5),
      MultiValueColumns(col("pid"), Seq(pk -> col(pk)), Seq("v" -> col("v"))))),
    ("CustomAggregation", "square_sum", (e, df, pk, l0) => CustomAggregation.aggregate(e, df,
      CustomAggParams(maxPartitionsContributed = l0, maxContributionsPerPartition = Some(5)),
      DPColumns(col("pid"), Seq(pk -> col(pk)), Some(col("v"))),
      new SquareSumCombiner(maxSquare = 1.0, l0 = l0, contributionsPerPartition = 5))))

  private def release(run: Run, df: DataFrame, pk: String, l0: Int): DataFrame = {
    val engine = new DPEngine(new NaiveBudgetAccountant(1e5, 0.999999), NoiseSource.Zero)
    val res = run(engine, df, pk, l0)
    engine.accountant.computeBudgets()
    res.dataframe
  }

  callers.foreach { case (caller, output, run) =>
    test(s"$caller: a NULL value fails loud") {
      val df = Seq(("u1", "A", Some(1.0)), ("u2", "A", None)).toDF("pid", "pk", "v")
      val e = intercept[Exception] { release(run, df, "pk", 2).collect() }
      assert(SparkTestSession.chainMsg(e).contains("NULL value"), SparkTestSession.chainMsg(e))
    }

    test(s"$caller: a partition key named '$output' fails loud") {
      val df = Seq(("u1", "A", 1.0)).toDF("pid", output, "v")
      val e = intercept[IllegalArgumentException] { release(run, df, output, 2) }
      assert(e.getMessage.contains("collide"), e.getMessage)
    }

    test(s"$caller: a binding L0 cap keeps exactly l0 partitions of a unit") {
      // six partitions of three zero-valued units each, plus one unit with
      // value 1 in all six: every partition is released, and the values
      // total the number of partitions the L0 sample kept for that unit
      val background = for (p <- 1 to 6; u <- 1 to 3) yield (s"b$p-$u", s"p$p", 0.0)
      val hot = (1 to 6).map(p => ("hot", s"p$p", 1.0))
      val out = release(run, (background ++ hot).toDF("pid", "pk", "v"), "pk", 2).collect()
      assert(out.length == 6, out.toSeq)
      assert(out.map(_.getAs[Double](output)).sum == 2.0, out.toSeq)
    }
  }

  test("DPEngine.aggregate: a binding L1 cap keeps exactly mc rows of a unit") {
    // the L0 fixture, but the value-1 unit has 3 rows in each of the six
    // partitions: the values total the mc = 4 rows the L1 sample kept
    val background = for (p <- 1 to 6; u <- 1 to 3) yield (s"b$p-$u", s"p$p", 0.0)
    val hot = for (p <- 1 to 6; _ <- 1 to 3) yield ("hot", s"p$p", 1.0)
    val out = release((e, df, pk, _) => e.aggregate(df,
        AggregateParams(metrics = Seq(Metric.Sum), maxContributions = Some(4),
          minValue = Some(0.0), maxValue = Some(1.0)),
        DPColumns(col("pid"), Seq(pk -> col(pk)), Some(col("v")))),
      (background ++ hot).toDF("pid", "pk", "v"), "pk", 1).collect()
    assert(out.length == 6, out.toSeq)
    assert(out.map(_.getAs[Double]("sum")).sum == 4.0, out.toSeq)
  }
}
