package graft.spark

import graft.core._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{array, col, lit, when}
import org.scalatest.funsuite.AnyFunSuite

/** The bounded sampler's choices are uniform: one release at zero noise,
  * many identical units, each kept cell and each kept row counted against
  * its binomial expectation (within 5 sigma). */
class BoundedSampleSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def release(df: DataFrame, params: AggregateParams, value: Option[String],
      pub: Seq[String]): Map[String, org.apache.spark.sql.Row] = {
    val engine = new DPEngine(new NaiveBudgetAccountant(1e5, 0.999999), NoiseSource.Zero)
    val res = engine.aggregate(df, params,
      DPColumns(col("pid"), Seq("pk" -> col("pk")), value.map(col)),
      publicPartitions = Some(pub.toDF("pk")))
    engine.accountant.computeBudgets()
    res.dataframe.collect().map(r => r.getString(0) -> r).toMap
  }

  private def within5Sigma(got: Double, n: Int, p: Double): Boolean =
    math.abs(got - n * p) <= 5 * math.sqrt(n * p * (1 - p))

  // 4,000 identical units, each in the same 8 partitions, L0 = 2: each
  // partition keeps a unit with probability 2/8
  private val units = 4000
  private val parts = (1 to 8).map(p => s"p$p")
  private def wide: DataFrame = spark.range(units)
    .select(col("id").cast("string").as("pid"))
    .crossJoin(parts.toDF("pk"))
    .withColumn("v", lit(1.0))

  Seq(
    ("counting sampler (PrivacyIdCount)", "privacy_id_count",
      AggregateParams(metrics = Seq(Metric.PrivacyIdCount), maxPartitionsContributed = 2)),
    ("row sampler (Sum)", "sum",
      AggregateParams(metrics = Seq(Metric.Sum), maxPartitionsContributed = 2,
        maxContributionsPerPartition = Some(1), minValue = Some(0.0), maxValue = Some(1.0)))
  ).foreach { case (mode, output, params) =>
    test(s"L0: the $mode keeps each of a unit's partitions uniformly") {
      val out = release(wide, params, Some("v"), parts)
      val kept = parts.map(p => out(p).getAs[Double](output))
      assert(kept.sum == 2.0 * units, kept) // every unit keeps exactly 2
      kept.foreach(k => assert(within5Sigma(k, units, 2.0 / 8), kept))
    }
  }

  test("Linf: the row sampler keeps each of a cell's rows uniformly") {
    // 3,000 units, each with one cell of 10 distinct rows (one-hot vectors
    // over the row's value j), c = 3: the released vector sum counts, per
    // value, the units that kept it — each with probability 3/10
    val n = 3000
    val onehot = array((0 until 10).map(i => when(col("j") === i, 1.0).otherwise(0.0)): _*)
    val cells = spark.range(n).select(col("id").cast("string").as("pid"))
      .crossJoin(spark.range(10).toDF("j"))
      .select(col("pid"), lit("p").as("pk"), onehot.as("vec"))
    val out = release(cells, AggregateParams(metrics = Seq(Metric.VectorSum),
      maxPartitionsContributed = 1, maxContributionsPerPartition = Some(3),
      vectorNormKind = NormKind.Linf, vectorMaxNorm = 1.0, vectorSize = 10),
      Some("vec"), Seq("p"))
    val perValue = out("p").getAs[scala.collection.Seq[Double]]("vector_sum")
    assert(perValue.sum == 3.0 * n, perValue) // every cell keeps exactly 3
    perValue.foreach(k => assert(within5Sigma(k, n, 0.3), perValue))
  }
}
