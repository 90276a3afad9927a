package graft.analysis

import graft.core._
import graft.spark.{MultiValueColumns, SparkTestSession}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The multi-column analysis rejects the same malformed inputs as the
  * single-column one, before any plan is built. */
class UtilityAnalysisGuardSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def pre: DataFrame = UtilityAnalysis.preAggregateMulti(
    Seq(("u0", "pk", 2.0, 3.0), ("u1", "pk", 15.0, 20.0)).toDF("uid", "k", "a", "b"),
    MultiValueColumns(col("uid"), Seq("k" -> col("k")), Seq("a" -> col("a"), "b" -> col("b"))))

  private def options(public: Boolean) =
    UtilityAnalysisOptions(epsilon = 1.0, delta = 1e-5, metrics = Seq(Metric.Sum),
      configs = Seq(UtilityAnalysisConfig(1, 1), UtilityAnalysisConfig(2, 1)),
      publicPartitions = public)

  private val okBounds = Seq(Seq((0.0, 3.0), (0.0, 10.0)), Seq((0.0, 5.0), (0.0, 20.0)))

  private def multi(opts: UtilityAnalysisOptions, bounds: Seq[Seq[(Double, Double)]],
      pub: Option[DataFrame]): DataFrame =
    UtilityAnalysis.perPartitionMetricsMultiSum(pre, Seq("k"), Seq("a", "b"), opts, bounds, pub)

  test("multi-column analysis: the publicPartitions option must agree with the frame") {
    val e1 = intercept[IllegalArgumentException] {
      multi(options(public = true), okBounds, None)
    }
    assert(e1.getMessage.contains("publicPartitions"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      multi(options(public = false), okBounds, Some(Seq("pk").toDF("k")))
    }
    assert(e2.getMessage.contains("publicPartitions"), e2.getMessage)
  }

  test("multi-column analysis: a (min, max) bound pair with min > max names its column and config") {
    val e = intercept[IllegalArgumentException] {
      multi(options(public = false), Seq(okBounds(0), Seq((0.0, 5.0), (5.0, 1.0))), None)
    }
    assert(e.getMessage.contains("'b'") && e.getMessage.contains("configuration 1"),
      e.getMessage)
  }

  test("multi-column SUM analysis with (0, 0) bounds fails loud by name") {
    val e = intercept[IllegalArgumentException] {
      multi(options(public = false), Seq(Seq((0.0, 3.0), (0.0, 0.0)), okBounds(1)), None)
    }
    assert(e.getMessage.contains("SumPerPartition"), e.getMessage)
    assert(e.getMessage.contains("'b'") && e.getMessage.contains("configuration 0"),
      e.getMessage)
  }
}
