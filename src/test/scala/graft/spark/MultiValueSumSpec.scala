package graft.spark

import graft.core._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class MultiValueSumSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def zeroEngine() =
    new DPEngine(new NaiveBudgetAccountant(1e5, 0.999999), NoiseSource.Zero)

  test("two value columns aggregate exactly in one pass; per-column clipping") {
    // u1 contributes (a=10, b=1) twice to A => per-partition sums a=20 (clipped
    // to 15), b=2; u2 contributes (a=5, b=100) once => a=5, b clipped to 10
    val df = Seq(
      ("u1", "A", 10.0, 1.0), ("u1", "A", 10.0, 1.0), ("u2", "A", 5.0, 100.0),
      ("u2", "B", 3.0, 4.0)
    ).toDF("uid", "pk", "a", "b")
    val engine = zeroEngine()
    val res = MultiValueSum.aggregate(engine, df,
      MultiValueSumParams(
        columnBounds = Seq(ValueColumnBounds("a", 0.0, 15.0), ValueColumnBounds("b", 0.0, 10.0)),
        maxPartitionsContributed = 2),
      MultiValueColumns(col("uid"), Seq("pk" -> col("pk")),
        Seq("a" -> col("a"), "b" -> col("b"))))
    engine.accountant.computeBudgets()
    val out = res.dataframe.collect().map(r =>
      r.getAs[String]("pk") -> (r.getAs[Double]("a_sum"), r.getAs[Double]("b_sum"))).toMap
    assert(out("A") == ((20.0, 12.0))) // a: 15 + 5; b: 2 + 10
    assert(out("B") == ((3.0, 4.0)))
  }

  test("per-column mechanisms get separate budget lines with own sensitivities") {
    val df = Seq(("u1", "A", 1.0, 2.0)).toDF("uid", "pk", "a", "b")
    val acc = new NaiveBudgetAccountant(1.0, 1e-6)
    val engine = new DPEngine(acc, NoiseSource.Zero)
    val res = MultiValueSum.aggregate(engine, df,
      MultiValueSumParams(
        columnBounds = Seq(ValueColumnBounds("a", 0.0, 10.0), ValueColumnBounds("b", 0.0, 40.0)),
        maxPartitionsContributed = 2),
      MultiValueColumns(col("uid"), Seq("pk" -> col("pk")),
        Seq("a" -> col("a"), "b" -> col("b"))))
    acc.computeBudgets()
    // 3 mechanisms total (2 sums + selection), equal weights => eps/3 each
    res.dataframe.collect() // forces spec resolution
    assert(acc.isFinalized)
  }

  test("public partitions add empty keys with zero sums") {
    val df = Seq(("u1", "A", 7.0, 3.0)).toDF("uid", "pk", "a", "b")
    val engine = zeroEngine()
    val pub = Seq("A", "GHOST").toDF("pk")
    val res = MultiValueSum.aggregate(engine, df,
      MultiValueSumParams(
        columnBounds = Seq(ValueColumnBounds("a", 0.0, 10.0), ValueColumnBounds("b", 0.0, 10.0)),
        maxPartitionsContributed = 1),
      MultiValueColumns(col("uid"), Seq("pk" -> col("pk")),
        Seq("a" -> col("a"), "b" -> col("b"))),
      publicPartitions = Some(pub))
    engine.accountant.computeBudgets()
    val out = res.dataframe.collect().map(r =>
      r.getAs[String]("pk") -> (r.getAs[Double]("a_sum"), r.getAs[Double]("b_sum"))).toMap
    assert(out("A") == ((7.0, 3.0)))
    assert(out("GHOST") == ((0.0, 0.0)))
  }

  test("per-column metric sets: mean/count/sum/variance exact in one pass") {
    // column a: clip [0, 10], metrics VAR+MEAN+COUNT+SUM; column b: clip
    // [0, 4], metrics MEAN. Values chosen so clipping binds on both.
    val df = Seq(
      ("u1", "A", 2.0, 1.0), ("u1", "A", 4.0, 3.0), ("u2", "A", 12.0, 9.0),
      ("u2", "B", 6.0, 2.0)
    ).toDF("uid", "pk", "a", "b")
    val engine = zeroEngine()
    val res = MultiValueAgg.aggregate(engine, df,
      MultiValueAggParams(
        columns = Seq(
          ValueColumnMetrics("a",
            Seq(Metric.Variance, Metric.Mean, Metric.Count, Metric.Sum), 0.0, 10.0),
          ValueColumnMetrics("b", Seq(Metric.Mean), 0.0, 4.0)),
        maxPartitionsContributed = 2,
        maxContributionsPerPartition = 5),
      MultiValueColumns(col("uid"), Seq("pk" -> col("pk")),
        Seq("a" -> col("a"), "b" -> col("b"))))
    engine.accountant.computeBudgets()
    val out = res.dataframe.collect().map(r => r.getAs[String]("pk") -> r).toMap
    // partition A: a clipped = (2, 4, 10) -> mean 16/3, count 3, sum 16;
    //   variance = mean(sq dev); b clipped = (1, 3, 4) -> mean 8/3
    val rA = out("A")
    assert(rA.getAs[Double]("a_count") == 3.0)
    assert(math.abs(rA.getAs[Double]("a_mean") - 16.0 / 3) < 1e-12)
    assert(math.abs(rA.getAs[Double]("a_sum") - 16.0) < 1e-12)
    val aVals = Seq(2.0, 4.0, 10.0)
    val aMean = aVals.sum / 3
    val wantVar = aVals.map(v => (v - aMean) * (v - aMean)).sum / 3
    assert(math.abs(rA.getAs[Double]("a_variance") - wantVar) < 1e-9)
    assert(math.abs(rA.getAs[Double]("b_mean") - 8.0 / 3) < 1e-12)
    // partition B: single row, a = 6, b = 2
    val rB = out("B")
    assert(rB.getAs[Double]("a_count") == 1.0)
    assert(rB.getAs[Double]("a_mean") == 6.0)
    assert(rB.getAs[Double]("b_mean") == 2.0)
  }

  test("L0 bounding drops excess partitions per unit") {
    // u1 contributes to 3 partitions with l0=1: exactly one survives; with
    // zero noise + selection at huge eps the kept partition has its true sums
    val df = Seq(("u1", "A", 1.0, 1.0), ("u1", "B", 2.0, 2.0), ("u1", "C", 3.0, 3.0))
      .toDF("uid", "pk", "a", "b")
    val engine = zeroEngine()
    val res = MultiValueSum.aggregate(engine, df,
      MultiValueSumParams(
        columnBounds = Seq(ValueColumnBounds("a", 0.0, 10.0), ValueColumnBounds("b", 0.0, 10.0)),
        maxPartitionsContributed = 1),
      MultiValueColumns(col("uid"), Seq("pk" -> col("pk")),
        Seq("a" -> col("a"), "b" -> col("b"))))
    engine.accountant.computeBudgets()
    val rows = res.dataframe.collect()
    assert(rows.length <= 1) // selection may drop the 1-unit partition; L0 keeps 1
  }

  test("NULL values fail loud instead of clipping to the lower bound") {
    // Spark's least/greatest skip nulls, so an unguarded NULL would
    // silently enter the released sum as minSumPerPartition — the
    // DPEngine single-value path raises for the identical input, and the
    // two APIs must agree
    val df = Seq(("u1", "A", Some(5.0)), ("u2", "A", None))
      .toDF("uid", "pk", "a")
    val engine = zeroEngine()
    val res = MultiValueSum.aggregate(engine, df,
      MultiValueSumParams(
        columnBounds = Seq(ValueColumnBounds("a", 10.0, 100.0)),
        maxPartitionsContributed = 1),
      MultiValueColumns(col("uid"), Seq("pk" -> col("pk")),
        Seq("a" -> col("a"))))
    engine.accountant.computeBudgets()
    val t = intercept[Throwable] { res.dataframe.collect() }
    def msgs(x: Throwable): String = {
      val sb = new StringBuilder
      var c: Throwable = x
      while (c != null) { sb.append(c.getMessage).append('\n'); c = c.getCause }
      sb.toString
    }
    assert(msgs(t).contains("NULL value"), msgs(t))
  }
}

class DataflowSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("sharded filter_by_key equals plain semi-join") {
    val df = (1 to 500).map(i => (i.toLong % 37, i.toLong)).toDF("k", "v")
    val keys = Seq(1L, 5L, 9L, 36L).toDF("k")
    val got = Dataflow.filterByKeySharded(df, keys, Seq("k"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = df.join(keys, Seq("k"), "left_semi")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want && got.nonEmpty)
  }

  test("bloom-filtered join equals the plain equi-join") {
    val big = (1 to 1000).map(i => (i.toLong % 211, i.toLong)).toDF("bk", "v")
    val small = Seq(3L, 57L, 100L, 210L).map(k => (k, s"n$k")).toDF("sk", "name")
    val got = Dataflow.bloomFilteredJoin(big, small, "bk", "sk", mBits = 1 << 12)
      .select("bk", "v", "name")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val want = big.join(small, col("bk") === col("sk"))
      .select("bk", "v", "name")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(got == want && got.nonEmpty)
  }

  test("bloom pre-filter keeps every true key (no false negatives)") {
    val big = (1 to 2000).map(i => (i.toLong, i.toLong)).toDF("bk", "v")
    val small = (1 to 2000 by 7).map(k => (k.toLong, k)).toDF("sk", "w")
    // even at an overloaded tiny bitmap the join must stay exact
    val n = Dataflow.bloomFilteredJoin(big, small, "bk", "sk", mBits = 256).count()
    assert(n == small.count())
  }
}
