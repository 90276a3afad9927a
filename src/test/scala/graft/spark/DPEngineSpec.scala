package graft.spark

import graft.core._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

object SparkTestSession {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  spark.sparkContext.setLogLevel("WARN")

  /** Concatenated messages of an exception's cause chain — for asserting on
    * fail-loud messages that Spark wraps in SparkException layers. */
  def chainMsg(t: Throwable): String = {
    val sb = new StringBuilder
    var c: Throwable = t
    while (c != null) { sb.append(Option(c.getMessage).getOrElse("")); c = c.getCause }
    sb.toString
  }
}

class DPEngineSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // (pid, pk, value): 3 users; u1 contributes to pk1 (3 rows) and pk2 (1);
  // u2 to pk1 (2 rows); u3 to pk2 (2 rows)
  def fixture = Seq(
    ("u1", "pk1", 1.0), ("u1", "pk1", 2.0), ("u1", "pk1", 3.0),
    ("u1", "pk2", 4.0),
    ("u2", "pk1", 5.0), ("u2", "pk1", 6.0),
    ("u3", "pk2", 7.0), ("u3", "pk2", 8.0)
  ).toDF("pid", "pk", "v")

  def zeroEngine(eps: Double = 1e5, delta: Double = 0.99) =
    new DPEngine(new NaiveBudgetAccountant(eps, delta), NoiseSource.Zero)

  def roles = DPColumns("pid", "pk", "v")

  test("maxContributions (L1) bounding is enforced for EVERY metric set") {
    // one unit spread over 40 partitions: PrivacyIdCount skips Linf
    // sampling, but in L1 mode the sample IS the bound — without it the
    // released pid-count mass would be 40 while noise is calibrated to 5
    val wide = (1 to 40).map(i => ("u1", s"pk$i", 1.0)).toDF("pid", "pk", "v")
    val engine = zeroEngine()
    val params = AggregateParams(
      metrics = Seq(Metric.PrivacyIdCount),
      maxContributions = Some(5))
    val res = engine.aggregate(wide, params, roles,
      publicPartitions = Some((1 to 40).map(i => s"pk$i").toDF("pk")))
    engine.accountant.computeBudgets()
    val mass = res.dataframe.collect().map(_.getDouble(1)).sum
    assert(mass == 5.0, s"L1 bound not enforced: released pid mass $mass (want 5)")
    // same hole for per-partition-bounded SUM (also skips Linf sampling)
    val engine2 = zeroEngine()
    val params2 = AggregateParams(
      metrics = Seq(Metric.Sum),
      maxContributions = Some(3),
      minSumPerPartition = Some(0.0), maxSumPerPartition = Some(10.0))
    val res2 = engine2.aggregate(wide, params2, roles,
      publicPartitions = Some((1 to 40).map(i => s"pk$i").toDF("pk")))
    engine2.accountant.computeBudgets()
    val sumMass = res2.dataframe.collect().map(_.getDouble(1)).sum
    assert(sumMass == 3.0, s"L1 bound not enforced for sum: $sumMass (want 3)")
  }

  test("L1 mode calibrates quantile/vector/selection to mc, not the unenforced defaults") {
    val engine = zeroEngine()
    val params = AggregateParams(
      metrics = Seq(Metric.Percentile(50)),
      maxContributions = Some(100),
      minValue = Some(0.0), maxValue = Some(10.0))
    val plan = CompoundComputer.plan(params, engine.accountant)
    engine.accountant.computeBudgets()
    val q = plan.buildQuantile().get
    // sound per-level model: all mc contributions on one node
    assert(q.maxPartitionsContributed == 1 && q.maxContributionsPerPartition == 100,
      s"got (${q.maxPartitionsContributed}, ${q.maxContributionsPerPartition})")
    val engineV = zeroEngine()
    val paramsV = AggregateParams(
      metrics = Seq(Metric.VectorSum),
      maxContributions = Some(7),
      vectorSize = 4, vectorMaxNorm = 1.0)
    val planV = CompoundComputer.plan(paramsV, engineV.accountant)
    engineV.accountant.computeBudgets()
    assert(planV.buildVector().get.l0 == 7)
  }

  test("L1 mode with per-partition sum bounds calibrates L1 sensitivity to mc * linf") {
    // mc kept rows can land in mc distinct partitions, each sum-clipped to
    // linf; the old branch used l0 = maxPartitionsContributed (default 1,
    // UNENFORCED in L1 mode) — noise mc-fold too small, a privacy violation
    val p = AggregateParams(metrics = Seq(Metric.Sum),
      maxContributions = Some(10),
      minSumPerPartition = Some(0.0), maxSumPerPartition = Some(5.0))
    val s = Mechanisms.sensitivitiesForSum(p)
    assert(s.l1.contains(50.0), s"l1 = ${s.l1}, want 10 * 5")
    assert(s.l2.exists(v => math.abs(v - 5.0 * math.sqrt(10.0)) < 1e-12),
      s"l2 = ${s.l2}")
  }

  test("variance under a PLD accountant releases finite noised metrics") {
    // the old single-handle 3-way split divided a PLD-resolved spec's
    // (eps = 0, delta = 0) and rebuilt specs without noiseStdDev —
    // Laplace released Infinity on every variance metric
    val df = Seq(("u1", "a", 1.0), ("u2", "a", 2.0), ("u3", "a", 3.0))
      .toDF("pid", "pk", "v")
    val engine = new DPEngine(new PLDBudgetAccountant(1.0, 1e-6),
      NoiseSource.Seeded(11L))
    val res = engine.aggregate(df,
      AggregateParams(metrics = Seq(Metric.Variance),
        maxPartitionsContributed = 1, maxContributionsPerPartition = Some(1),
        minValue = Some(0.0), maxValue = Some(10.0)),
      roles, publicPartitions = Some(Seq("a").toDF("pk")))
    engine.accountant.computeBudgets()
    val v = res.dataframe.collect().head.getDouble(1)
    assert(!v.isInfinite && !v.isNaN, s"variance must be finite, got $v")
  }

  /** Parse "noise_std=<v>" / "threshold=<v>" from the post-agg selection
    * line of an explain report — the built ThresholdingSelection's actual
    * parameters, observable without private access. */
  private def postAggSelectionParams(report: String): (Double, Double) = {
    val line = report.linesIterator
      .find(_.contains("post-aggregation thresholding"))
      .getOrElse(fail(s"no post-agg selection line in report:\n$report"))
    def num(key: String): Double = {
      val m = s"$key=([-0-9.eE+]+)".r.findFirstMatchIn(line)
        .getOrElse(fail(s"no $key= in: $line"))
      m.group(1).toDouble
    }
    (num("noise_std"), num("threshold"))
  }

  test("post-agg thresholding under PLD applies the selection sensitivity once") {
    // THE r9 bug: requesting the thresholding mechanism with
    // sensitivity = S AND scaling by S again at build gave the noised pid
    // count std = S^2 * base. The accountant's resolved base std is
    // IDENTICAL across runs that differ only in l0 (requests are
    // normalized; l0 enters at build), so the built selection's noise_std
    // must scale EXACTLY linearly in the selection sensitivity:
    // S = l0 for Laplace, sqrt(l0) for Gaussian. The S^2 bug reads as a
    // quadratic ratio (16x / 4x at l0 = 4) — far outside the %.4g
    // rendering tolerance. Thresholds must grow with the std, monotone.
    val df = (1 to 50).map(i => (s"u$i", "a", 1.0)).toDF("pid", "pk", "v")
    def run(l0: Int, kind: NoiseKind): (Double, Double) = {
      val engine = new DPEngine(new PLDBudgetAccountant(1.0, 1e-6),
        NoiseSource.Seeded(13L))
      val res = engine.aggregate(df,
        AggregateParams(metrics = Seq(Metric.PrivacyIdCount),
          maxPartitionsContributed = l0, maxContributionsPerPartition = Some(1),
          noiseKind = kind, postAggregationThresholding = true),
        roles)
      engine.accountant.computeBudgets()
      res.dataframe.collect().foreach { r =>
        val c = r.getDouble(1)
        assert(!c.isInfinite && !c.isNaN, s"released count must be finite: $c")
      }
      postAggSelectionParams(res.explainReport)
    }
    for (kind <- Seq(NoiseKind.Laplace, NoiseKind.Gaussian)) {
      val sens: Int => Double = kind match {
        case NoiseKind.Laplace  => l0 => l0.toDouble
        case NoiseKind.Gaussian => l0 => math.sqrt(l0.toDouble)
      }
      val (base, thrBase) = run(1, kind)
      var prevThr = thrBase
      for (l0 <- Seq(2, 4, 8)) {
        val (std, thr) = run(l0, kind)
        val want = base * sens(l0)
        assert(math.abs(std - want) <= 2e-3 * want,
          s"$kind l0=$l0: selection noise_std $std, want base $base * S " +
            s"${sens(l0)} = $want (S^2 double-scaling would give ${want * sens(l0)})")
        assert(thr > prevThr,
          s"$kind l0=$l0: threshold $thr must grow with the noise std (prev $prevThr)")
        prevThr = thr
      }
    }
  }

  test("variance under PLD: finite releases across a weight/kind/metric grid, " +
    "zero-noise equal to naive") {
    // THE r9 crash: a std-resolved PLD spec carries (eps, delta) = (0, 0);
    // the variance path split that 3-ways and rebuilt child specs without
    // noiseStdDev — Laplace released Infinity on every variance metric.
    // Pin across the adversarial grid the smoke test missed: every released
    // cell finite under real seeded noise, and the zero-noise release
    // bit-equal to the NaiveBudgetAccountant's (both are the exact
    // statistic — accounting must not change a zero-noise release).
    val data = Seq(
      ("u1", "pk1", 12.0), ("u2", "pk1", 14.0), ("u3", "pk1", 18.0),
      ("u4", "pk1", 16.0), ("u1", "pk2", 11.0), ("u2", "pk2", 19.0),
      ("u5", "pk2", 13.0)).toDF("pid", "pk", "v")
    val pub = Seq("pk1", "pk2").toDF("pk")
    for {
      w <- Seq(0.3, 2.5)
      kind <- Seq(NoiseKind.Laplace, NoiseKind.Gaussian)
      metrics <- Seq(Seq(Metric.Variance),
        Seq(Metric.Variance, Metric.Mean, Metric.Count, Metric.Sum))
    } {
      val params = AggregateParams(metrics = metrics,
        maxPartitionsContributed = 2, maxContributionsPerPartition = Some(4),
        minValue = Some(10.0), maxValue = Some(20.0),
        noiseKind = kind, budgetWeight = w)
      val seeded = new DPEngine(new PLDBudgetAccountant(1.0, 1e-6),
        NoiseSource.Seeded(17L))
      val noisy = seeded.aggregate(data, params, roles, publicPartitions = Some(pub))
      seeded.accountant.computeBudgets()
      noisy.dataframe.collect().foreach { r =>
        (1 until r.length).foreach { i =>
          val v = r.getDouble(i)
          assert(!v.isInfinite && !v.isNaN,
            s"w=$w $kind metrics=${metrics.map(_.name)}: non-finite release $v at col $i")
        }
      }
      def zeroRun(acc: BudgetAccountant): Map[String, Seq[Double]] = {
        val e = new DPEngine(acc, NoiseSource.Zero)
        val res = e.aggregate(data, params, roles, publicPartitions = Some(pub))
        e.accountant.computeBudgets()
        res.dataframe.collect()
          .map(r => r.getString(0) -> (1 until r.length).map(r.getDouble))
          .toMap
      }
      val pld = zeroRun(new PLDBudgetAccountant(1.0, 1e-6))
      val naive = zeroRun(new NaiveBudgetAccountant(1.0, 1e-6))
      assert(pld == naive,
        s"w=$w $kind metrics=${metrics.map(_.name)}: zero-noise PLD release " +
          s"$pld differs from naive $naive")
    }
  }

  test("variance nsq is centered: calibration-independent exactness on an offset range") {
    // [10, 20]: R/2 = 5, the normalized squares live in [0, 25] — both the
    // raw squaresInterval (100..400) readings are wrong for this statistic.
    // Zero noise must still reproduce the exact variance.
    val engine = zeroEngine()
    val params = AggregateParams(
      metrics = Seq(Metric.Variance, Metric.Mean, Metric.Count),
      maxPartitionsContributed = 5,
      maxContributionsPerPartition = Some(10),
      minValue = Some(10.0), maxValue = Some(20.0))
    val data = Seq(
      ("u1", "pk1", 12.0), ("u2", "pk1", 14.0), ("u3", "pk1", 18.0),
      ("u4", "pk1", 16.0)).toDF("pid", "pk", "v")
    val res = engine.aggregate(data, params, roles)
    engine.accountant.computeBudgets()
    val r = res.dataframe.collect().head
    val vals = Seq(12.0, 14.0, 18.0, 16.0)
    val mean = vals.sum / 4
    val exactVar = vals.map(x => (x - mean) * (x - mean)).sum / 4
    assert(math.abs(r.getAs[Double]("variance") - exactVar) < 1e-9,
      s"variance ${r.getAs[Double]("variance")} != $exactVar")
    assert(r.getAs[Double]("mean") == mean)
  }

  test("NULL values fail loud instead of releasing un-noised null metrics") {
    val engine = zeroEngine()
    val params = AggregateParams(
      metrics = Seq(Metric.Sum),
      maxPartitionsContributed = 5,
      maxContributionsPerPartition = Some(10),
      minValue = Some(0.0), maxValue = Some(100.0))
    val withNull = Seq(("u1", "pk1", Some(1.0)), ("u2", "pk1", None))
      .toDF("pid", "pk", "v")
    val res = engine.aggregate(withNull, params, roles)
    engine.accountant.computeBudgets()
    intercept[Exception] { res.dataframe.collect() }
  }

  test("public partitions with extra columns release one row per key") {
    val engine = zeroEngine()
    val params = AggregateParams(
      metrics = Seq(Metric.Count),
      maxPartitionsContributed = 5,
      maxContributionsPerPartition = Some(10))
    // pub carries a second column with two rows for pk1: the outer join
    // must project to the partition keys first or pk1 doubles
    val pub = Seq(("pk1", "EU"), ("pk1", "US"), ("pk2", "EU"), ("pkX", "EU"))
      .toDF("pk", "region")
    val res = engine.aggregate(fixture, params, roles, Some(pub))
    engine.accountant.computeBudgets()
    val rows = res.dataframe.collect().map(r => r.getString(0) -> r.getDouble(1))
    assert(rows.length == 3, s"duplicate public-key releases: ${rows.toSeq}")
    assert(rows.toMap == Map("pk1" -> 5.0, "pk2" -> 3.0, "pkX" -> 0.0))
  }

  test("count + sum + pid count, zero noise, generous bounds = exact") {
    val engine = zeroEngine()
    val params = AggregateParams(
      metrics = Seq(Metric.Count, Metric.Sum, Metric.PrivacyIdCount),
      maxPartitionsContributed = 5,
      maxContributionsPerPartition = Some(10),
      minValue = Some(0.0), maxValue = Some(100.0))
    val res = engine.aggregate(fixture, params, roles)
    engine.accountant.computeBudgets()
    val rows = res.dataframe.collect().map(r =>
      (r.getString(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))).sortBy(_._1)
    assert(rows.toSeq == Seq(
      ("pk1", 5.0, 17.0, 2.0),
      ("pk2", 3.0, 19.0, 2.0)))
  }

  test("mean and variance, zero noise = exact population stats") {
    val engine = zeroEngine()
    val params = AggregateParams(
      metrics = Seq(Metric.Mean, Metric.Variance, Metric.Count, Metric.Sum),
      maxPartitionsContributed = 5,
      maxContributionsPerPartition = Some(10),
      minValue = Some(0.0), maxValue = Some(100.0))
    val res = engine.aggregate(fixture, params, roles)
    engine.accountant.computeBudgets()
    val rows = res.dataframe.collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    // schema: pk, variance, mean, count, sum (canonical part order)
    val names = res.dataframe.columns.toSeq
    assert(names == Seq("pk", "variance", "mean", "count", "sum"))
    val pk1Vals = Seq(1.0, 2.0, 3.0, 5.0, 6.0)
    val m = pk1Vals.sum / 5
    val vExp = pk1Vals.map(x => (x - m) * (x - m)).sum / 5
    val (v1, m1, c1, s1) = rows("pk1")
    assert(math.abs(v1 - vExp) < 1e-9)
    assert(math.abs(m1 - m) < 1e-9)
    assert(math.abs(c1 - 5.0) < 1e-9)
    assert(math.abs(s1 - 17.0) < 1e-9)
  }

  test("clipping applies per contribution") {
    val engine = zeroEngine()
    val params = AggregateParams(
      metrics = Seq(Metric.Sum),
      maxPartitionsContributed = 5,
      maxContributionsPerPartition = Some(10),
      minValue = Some(2.0), maxValue = Some(5.0))
    val res = engine.aggregate(fixture, params, roles)
    engine.accountant.computeBudgets()
    val rows = res.dataframe.collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    // pk1: clip(1,2,3,5,6) -> 2+2+3+5+5 = 17; pk2: clip(4,7,8) -> 4+5+5 = 14
    assert(rows("pk1") == 17.0)
    assert(rows("pk2") == 14.0)
  }

  test("per-partition sum bounding clips the per-user partition sum") {
    val engine = zeroEngine()
    val params = AggregateParams(
      metrics = Seq(Metric.Sum),
      maxPartitionsContributed = 5,
      minSumPerPartition = Some(0.0), maxSumPerPartition = Some(5.0))
    val res = engine.aggregate(fixture, params, roles)
    engine.accountant.computeBudgets()
    val rows = res.dataframe.collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    // pk1: u1 sum=6 ->5, u2 sum=11 ->5 => 10; pk2: u1 sum=4, u3 sum=15 ->5 => 9
    assert(rows("pk1") == 10.0)
    assert(rows("pk2") == 9.0)
  }

  test("contribution bounding caps contributions per partition") {
    val engine = zeroEngine()
    val params = AggregateParams(
      metrics = Seq(Metric.Count),
      maxPartitionsContributed = 5,
      maxContributionsPerPartition = Some(1))
    val res = engine.aggregate(fixture, params, roles)
    engine.accountant.computeBudgets()
    val rows = res.dataframe.collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    // each (pid, pk) capped at 1 row: pk1 has u1,u2 -> 2; pk2 has u1,u3 -> 2
    assert(rows("pk1") == 2.0)
    assert(rows("pk2") == 2.0)
  }

  test("cross-partition bounding caps partitions per user") {
    val engine = zeroEngine()
    val params = AggregateParams(
      metrics = Seq(Metric.PrivacyIdCount),
      maxPartitionsContributed = 1,
      maxContributionsPerPartition = Some(10))
    val res = engine.aggregate(fixture, params, roles)
    engine.accountant.computeBudgets()
    val total = res.dataframe.collect().map(_.getDouble(1)).sum
    // u1 keeps only 1 of its 2 partitions: total pid-count across pks = 3
    assert(total == 3.0)
  }

  test("public partitions: non-public dropped, missing added with zeros") {
    val engine = zeroEngine()
    val pub = Seq("pk1", "pk3").toDF("pk")
    val params = AggregateParams(
      metrics = Seq(Metric.Count, Metric.Sum),
      maxPartitionsContributed = 5,
      maxContributionsPerPartition = Some(10),
      minValue = Some(0.0), maxValue = Some(100.0))
    val res = engine.aggregate(fixture, params, roles, publicPartitions = Some(pub))
    engine.accountant.computeBudgets()
    val rows = res.dataframe.collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2))).sortBy(_._1)
    assert(rows.toSeq == Seq(("pk1", 5.0, 17.0), ("pk3", 0.0, 0.0)))
  }

  test("private partition selection drops sparse partitions") {
    // tight budget: partitions with 2 users at eps=0.1 keep-prob << 1
    val acc = new NaiveBudgetAccountant(0.1, 1e-10)
    val engine = new DPEngine(acc, NoiseSource.Seeded(1))
    val params = AggregateParams(
      metrics = Seq(Metric.Count),
      maxPartitionsContributed = 5,
      maxContributionsPerPartition = Some(10))
    val res = engine.aggregate(fixture, params, roles)
    acc.computeBudgets()
    assert(res.dataframe.collect().length <= 1) // almost surely everything dropped
  }

  test("select partitions keeps dense partitions under huge budget") {
    val engine = zeroEngine()
    val res = engine.selectPartitions(fixture,
      SelectPartitionsParams(maxPartitionsContributed = 5),
      DPColumns("pid", "pk"))
    engine.accountant.computeBudgets()
    val keys = res.dataframe.collect().map(_.getString(0)).sorted
    assert(keys.toSeq == Seq("pk1", "pk2"))
  }

  test("addDpNoise with zero noise is identity") {
    val engine = zeroEngine()
    val df = Seq(("a", 10.0), ("b", 20.0)).toDF("k", "v")
    val res = engine.addDpNoise(df,
      AddDpNoiseParams(NoiseKind.Laplace, l0Sensitivity = Some(1),
        linfSensitivity = Some(1.0)), Seq("v"))
    engine.accountant.computeBudgets()
    assert(res.dataframe.collect().map(_.getDouble(1)).sorted.toSeq == Seq(10.0, 20.0))
  }

  test("laplace noise perturbs results at small eps") {
    val acc = new NaiveBudgetAccountant(0.1, 1e-10)
    val engine = new DPEngine(acc, NoiseSource.Seeded(3))
    val pub = Seq("pk1", "pk2").toDF("pk")
    val params = AggregateParams(
      metrics = Seq(Metric.Count),
      maxPartitionsContributed = 5,
      maxContributionsPerPartition = Some(10))
    val res = engine.aggregate(fixture, params, roles, publicPartitions = Some(pub))
    acc.computeBudgets()
    val counts = res.dataframe.collect().map(_.getDouble(1))
    // noise scale b = 50/0.1 >> data; results should not equal the exact counts
    assert(!(counts.toSet == Set(5.0, 3.0)))
  }

  test("outputNoiseStddev emits the mechanism's noise scale") {
    val engine = zeroEngine() // eps 1e5 so selection keeps the partitions
    val params = AggregateParams(
      metrics = Seq(Metric.Count),
      maxPartitionsContributed = 5,
      maxContributionsPerPartition = Some(10),
      outputNoiseStddev = true)
    val res = engine.aggregate(fixture, params, roles)
    engine.accountant.computeBudgets()
    assert(res.dataframe.columns.toSeq == Seq("pk", "count", "count_noise_stddev"))
    val std = res.dataframe.collect().head.getDouble(2)
    // budget: count + selection -> eps 5e4 each; Laplace b = l0*linf/eps = 1e-3
    assert(math.abs(std - 1e-3 * math.sqrt(2.0)) < 1e-12, s"std=$std")
  }

  test("per-stage explain report: 3-metric query states every stage's parameters") {
    val acc = new NaiveBudgetAccountant(1.0, 1e-6)
    val engine = new DPEngine(acc, NoiseSource.Zero)
    val res = engine.aggregate(fixture,
      AggregateParams(metrics = Seq(Metric.Count, Metric.Sum, Metric.Mean),
        maxPartitionsContributed = 2, maxContributionsPerPartition = Some(3),
        minValue = Some(0.0), maxValue = Some(10.0)),
      roles)
    acc.computeBudgets()
    val report = res.explainReport
    assert(report.contains("DPEngine.aggregate: metrics=[count, sum, mean]"))
    assert(report.contains(
      "1. Contribution bounding (Linf, per-partition): randomly sampled <= 3 contributions per (privacy unit, partition)"))
    assert(report.contains(
      "2. Contribution bounding (L0, cross-partition): randomly sampled <= 2 partitions per privacy unit"))
    assert(report.contains("3. Per-contribution clipping: values clipped to [0"))
    assert(report.contains("4. Partition selection: Truncated geometric partition selection"))
    assert(report.contains("5. Per-metric mechanisms:"))
    // mean subsumes count+sum: one mean line carrying both mechanisms
    assert(report.contains("Computed DP mean: count via Laplace mechanism"))
    assert(report.contains("normalized sum via Laplace mechanism"))
    // resolved budget parameters appear (eps split across 2 metric lines + selection)
    assert(report.contains("eps="), report)
  }

  test("post-agg thresholding report names the thresholding selection") {
    val acc = new NaiveBudgetAccountant(1e5, 0.5)
    val engine = new DPEngine(acc, NoiseSource.Zero)
    val res = engine.aggregate(fixture,
      AggregateParams(metrics = Seq(Metric.PrivacyIdCount), maxPartitionsContributed = 2,
        postAggregationThresholding = true),
      DPColumns("pid", "pk"))
    acc.computeBudgets()
    assert(res.explainReport.contains(
      "Partition selection (post-aggregation thresholding): Laplace thresholding"))
  }

  test("percentiles share ONE quantile budget line: eps splits /4 with count+sum") {
    // reference parity (combiners.py:914-1003): all percentile metrics feed a
    // single QuantileCombiner with one budget request; with COUNT and SUM and
    // private partition selection that is 4 equal-weight requests => eps/4
    val acc = new NaiveBudgetAccountant(2.0, 1e-6)
    val params = AggregateParams(
      metrics = Seq(Metric.Percentile(50), Metric.Percentile(90), Metric.Count, Metric.Sum),
      maxPartitionsContributed = 2, maxContributionsPerPartition = Some(3),
      minValue = Some(0.0), maxValue = Some(10.0))
    val plan = CompoundComputer.plan(params, acc)
    val sel = acc.requestBudget(MechanismType.PartitionSelection)
    acc.computeBudgets()
    assert(plan.quantileHandle.isDefined && plan.countHandle.isDefined &&
      plan.sumHandle.isDefined)
    assert(math.abs(plan.quantileHandle.get.spec.epsilon - 0.5) < 1e-12)
    assert(math.abs(plan.countHandle.get.spec.epsilon - 0.5) < 1e-12)
    assert(math.abs(plan.sumHandle.get.spec.epsilon - 0.5) < 1e-12)
    assert(math.abs(sel.spec.epsilon - 0.5) < 1e-12)
    // the quantile computer carries both percentiles under the one budget
    val qc = plan.buildQuantile().get
    assert(qc.percentiles == Seq(50.0, 90.0))
    assert(math.abs(qc.spec.epsilon - 0.5) < 1e-12)
  }

  test("a multi-percentile release draws one quantile tree's noise per partition") {
    // Percentile(10, 50, 90) share one noisy tree: the release must make the
    // draws of ONE compute call, not one per output column
    val rows = (1 to 40).map(i => (s"u$i", "pk1", (i % 10).toDouble))
    val params = AggregateParams(
      metrics = Seq(Metric.Percentile(10), Metric.Percentile(50), Metric.Percentile(90)),
      maxPartitionsContributed = 1, maxContributionsPerPartition = Some(1),
      minValue = Some(0.0), maxValue = Some(10.0))
    val noise = new RecordingNoiseStore.RecordingNoise
    val engine = new DPEngine(new NaiveBudgetAccountant(1.0, 1e-6), noise)
    val res = engine.aggregate(rows.toDF("pid", "pk", "v"), params, roles,
      publicPartitions = Some(Seq("pk1").toDF("pk")))
    engine.accountant.computeBudgets()
    RecordingNoiseStore.recorded.clear()
    assert(res.dataframe.collect().length == 1)
    val released = RecordingNoiseStore.recorded.size

    val acct = new NaiveBudgetAccountant(1.0, 1e-6)
    val plan = CompoundComputer.plan(params, acct)
    acct.computeBudgets()
    val tree = new QuantileTree(0.0, 10.0)
    rows.foreach(r => tree.add(r._3))
    RecordingNoiseStore.recorded.clear()
    plan.buildQuantile().get.compute(tree.serialize(), noise)
    val oneTree = RecordingNoiseStore.recorded.size
    assert(oneTree > 0 && released == oneTree,
      s"release made $released draws, one quantile tree makes $oneTree")
  }

  test("dp aggregate plan shape: at most 3 shuffles, no cartesian products") {
    // scale-regression guard: the audited plan is Linf window (exchange 1) ->
    // (pid, pk) partial agg reusing that exchange -> L0 window (exchange 2)
    // -> final per-pk merge (exchange 3). Anything above 3 means a stage
    // stopped reusing its parent's partitioning.
    val engine = zeroEngine()
    val params = AggregateParams(
      metrics = Seq(Metric.Count, Metric.Sum, Metric.Mean),
      maxPartitionsContributed = 5,
      maxContributionsPerPartition = Some(10),
      minValue = Some(0.0), maxValue = Some(100.0))
    val res = engine.aggregate(fixture, params, roles)
    engine.accountant.computeBudgets()
    val plan = res.dataframe.queryExecution.executedPlan.toString
    val exchanges = "Exchange".r.findAllIn(plan).length
    assert(exchanges <= 3, s"expected <= 3 shuffles, got $exchanges:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("the bounded sampler caps each unit map-side below the bounding exchange") {
    // the skew guarantee is a PLAN property: one unit's 20k-row cell (and
    // its fan-out) must never ship whole to one task. The bounding
    // exchange's map side is the sampler's partial aggregate, so each map
    // task ships at most one row per unit — also for a cap above
    // spark.sql.optimizer.windowGroupLimitThreshold (1000), where a
    // rank-limit window would get no map-side limit. A refactor that loses
    // it passes every value test — catch it here.
    import graft.functions.BoundedSample
    import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.functions.lit
    def kids(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _ => p.children
    }
    def all(p: SparkPlan): Seq[SparkPlan] = p +: kids(p).flatMap(all)
    def partialSampler(p: SparkPlan): Boolean = p match {
      case a: ObjectHashAggregateExec => a.aggregateExpressions.exists(e =>
        e.mode == Partial && e.aggregateFunction.isInstanceOf[BoundedSample])
      case _ => false
    }
    val hot = spark.range(20000)
      .select(lit("hot").as("pid"), lit("pk1").as("pk"), lit(1.0).as("v"))
      .unionByName(fixture)
    val units = 4L // hot, u1, u2, u3
    val mapTasks = hot.rdd.getNumPartitions
    // hot cell capped at c; u1 and u2 add 5 rows to pk1, u1 and u3 3 to pk2
    Seq(10 -> Map("pk1" -> 15.0, "pk2" -> 3.0),
        2000 -> Map("pk1" -> 2005.0, "pk2" -> 3.0)).foreach { case (c, want) =>
      val engine = zeroEngine()
      val res = engine.aggregate(hot,
        AggregateParams(metrics = Seq(Metric.Count, Metric.Sum),
          maxPartitionsContributed = 2, maxContributionsPerPartition = Some(c),
          minValue = Some(0.0), maxValue = Some(10.0)), roles)
      engine.accountant.computeBudgets()
      val out = res.dataframe
      assert(out.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap == want)
      val plan = out.queryExecution.executedPlan
      val bounding = all(plan).collect {
        case e: ShuffleExchangeExec if kids(e).exists(partialSampler) => e
      }
      assert(bounding.size == 1,
        s"c = $c: expected one exchange fed by the sampler's partial aggregate:\n$plan")
      val written = bounding.head.metrics("shuffleRecordsWritten").value
      assert(written > 0 && written <= units * mapTasks,
        s"c = $c: the bounding exchange wrote $written rows, more than one per unit " +
          s"per map task ($units units x $mapTasks tasks):\n$plan")
    }
  }

  test("reading dataframe before computeBudgets throws") {
    val engine = zeroEngine()
    val params = AggregateParams(
      metrics = Seq(Metric.Count),
      maxPartitionsContributed = 5,
      maxContributionsPerPartition = Some(10))
    val res = engine.aggregate(fixture, params, roles)
    assertThrows[IllegalStateException](res.dataframe)
  }

  test("noisyTopK: zero noise releases the exact top-k, ties by key asc") {
    // unit counts: pkB=3, pkA=2, pkC=2, pkD=1 — the pkA/pkC tie must
    // break ascending, and rank 4 (pkD) must be cut at k=3
    val df = Seq(
      ("u1", "pkB"), ("u2", "pkB"), ("u3", "pkB"),
      ("u1", "pkA"), ("u2", "pkA"),
      ("u2", "pkC"), ("u3", "pkC"),
      ("u3", "pkD")
    ).toDF("pid", "pk")
    val engine = zeroEngine()
    val res = engine.noisyTopK(df,
      NoisyTopKParams(k = 3, maxPartitionsContributed = 4),
      DPColumns(col("pid"), Seq("pk" -> col("pk"))))
    engine.accountant.computeBudgets()
    val got = res.dataframe.collect()
      .map(r => r.getAs[Long]("rank") -> r.getAs[String]("pk")).toMap
    assert(got == Map(1L -> "pkB", 2L -> "pkA", 3L -> "pkC"))
  }

  test("aggregateGroupingSets: zero noise releases every granularity exactly") {
    // 2 units per finest cell: under zeroEngine the per-use delta split
    // (delta/3) puts the release threshold at ~1.0002, so a 1-unit
    // partition would be (correctly) suppressed — DP semantics
    val df = Seq(
      ("u1", "a", "x"), ("u2", "a", "x"), ("u3", "a", "y"), ("u4", "a", "y"),
      ("u5", "b", "x"), ("u6", "b", "x")
    ).toDF("pid", "k1", "k2")
    val engine = zeroEngine()
    val res = engine.aggregateGroupingSets(df,
      AggregateParams(metrics = Seq(Metric.PrivacyIdCount),
        maxPartitionsContributed = 4, postAggregationThresholding = true),
      DPColumns(col("pid"), Seq("k1" -> col("k1"), "k2" -> col("k2"))),
      Seq(Seq("k1", "k2"), Seq("k1"), Seq()))
    engine.accountant.computeBudgets()
    val got = res.dataframe.collect().map(r =>
      (r.getAs[String]("k1"), r.getAs[String]("k2"), r.getAs[Long]("grouping_id")) ->
        r.getAs[Double]("privacy_id_count")).toMap
    assert(got == Map(
      ("a", "x", 0L) -> 2.0, ("a", "y", 0L) -> 2.0, ("b", "x", 0L) -> 2.0,
      ("a", null, 1L) -> 4.0, ("b", null, 1L) -> 2.0,
      (null, null, 3L) -> 6.0))
  }

  test("aggregateGroupingSets: handles carry count = n into the accounting") {
    // PrivacyIdCount + post-agg thresholding => the ONLY handle is the
    // LaplaceThresholding selection, requested with count = 2 (two
    // grouping sets). Naive split denominator = sum(weight*count) = 2,
    // so per-use eps = totalEps/2 and the thresholding noise scale is
    // b = l0/eps = 1/(1/2) = 2. A single-set aggregate of the same shape
    // yields b = 1 — count = n is what doubles it.
    RecordingNoiseStore.recorded.clear()
    val df = Seq(("u1", "a", "x"), ("u2", "b", "y")).toDF("pid", "k1", "k2")
    val engine = new DPEngine(new NaiveBudgetAccountant(1.0, 0.5),
      new RecordingNoiseStore.RecordingNoise)
    val res = engine.aggregateGroupingSets(df,
      AggregateParams(metrics = Seq(Metric.PrivacyIdCount),
        maxPartitionsContributed = 1, postAggregationThresholding = true),
      DPColumns(col("pid"), Seq("k1" -> col("k1"), "k2" -> col("k2"))),
      Seq(Seq("k1", "k2"), Seq("k1")))
    engine.accountant.computeBudgets()
    res.dataframe.collect()
    assert(!RecordingNoiseStore.recorded.isEmpty, "noise source never consulted")
    RecordingNoiseStore.recorded.forEach(b =>
      assert(b == 2.0, s"scale $b, want 2.0 (= l0=1 / (eps=1.0 / 2 uses))"))
  }

  test("aggregateGroupingSets rejects duplicate and unknown grouping sets") {
    val df = Seq(("u1", "a", "x")).toDF("pid", "k1", "k2")
    val cols = DPColumns(col("pid"), Seq("k1" -> col("k1"), "k2" -> col("k2")))
    val p = AggregateParams(metrics = Seq(Metric.PrivacyIdCount),
      maxPartitionsContributed = 1, postAggregationThresholding = true)
    assertThrows[IllegalArgumentException](
      zeroEngine().aggregateGroupingSets(df, p, cols, Seq(Seq("k1"), Seq("k1"))))
    assertThrows[IllegalArgumentException](
      zeroEngine().aggregateGroupingSets(df, p, cols, Seq(Seq("nope"))))
    assertThrows[IllegalArgumentException](
      zeroEngine().aggregateGroupingSets(df, p, cols, Seq.empty))
  }

  test("noisyTopK public arm: Laplace scale is 2*k*l0/eps exactly") {
    // the noise source is SERIALIZED into the task closure — an
    // instance-held queue would be recorded into by a deserialized
    // clone; the JVM-static store survives the round trip in local mode
    RecordingNoiseStore.recorded.clear()
    val df = Seq(("u1", "pkA"), ("u2", "pkB")).toDF("pid", "pk")
    val pub = Seq("pkA", "pkB").toDF("pk")
    // one mechanism on the accountant => it receives the full eps = 0.25
    val engine = new DPEngine(new NaiveBudgetAccountant(0.25, 0.99),
      new RecordingNoiseStore.RecordingNoise)
    val res = engine.noisyTopK(df,
      NoisyTopKParams(k = 3, maxPartitionsContributed = 5),
      DPColumns(col("pid"), Seq("pk" -> col("pk"))), Some(pub))
    engine.accountant.computeBudgets()
    res.dataframe.collect()
    val want = 2.0 * 3 * 5 / 0.25
    assert(!RecordingNoiseStore.recorded.isEmpty, "noise source never consulted")
    RecordingNoiseStore.recorded.forEach(b =>
      assert(b == want, s"scale $b, want $want"))
  }

  test("noisyTopK unknown domain: thresholding Laplace scale is l0/eps") {
    // the data-derived domain goes through Laplace thresholding whose
    // noisy-count release has L1 sensitivity l0 — NOT the 2*k*l0 peeling
    // scale (top-k of the thresholded release is post-processing)
    RecordingNoiseStore.recorded.clear()
    val df = Seq(("u1", "pkA"), ("u2", "pkB")).toDF("pid", "pk")
    val engine = new DPEngine(new NaiveBudgetAccountant(0.25, 0.99),
      new RecordingNoiseStore.RecordingNoise)
    val res = engine.noisyTopK(df,
      NoisyTopKParams(k = 3, maxPartitionsContributed = 5),
      DPColumns(col("pid"), Seq("pk" -> col("pk"))))
    engine.accountant.computeBudgets()
    res.dataframe.collect()
    val want = 5 / 0.25
    assert(!RecordingNoiseStore.recorded.isEmpty, "noise source never consulted")
    RecordingNoiseStore.recorded.forEach(b =>
      assert(b == want, s"scale $b, want $want"))
  }

  test("noisyTopK public arm under PLD resolves the composed finite scale") {
    // regression: reading spec.epsilon (0.0 under PLD) gave b = Infinity
    // and released degenerate noise while the budget was reported spent
    RecordingNoiseStore.recorded.clear()
    val df = Seq(("u1", "pkA"), ("u2", "pkB")).toDF("pid", "pk")
    val pub = Seq("pkA", "pkB", "pkC").toDF("pk")
    val acc = new PLDBudgetAccountant(1.0, 1e-6)
    val engine = new DPEngine(acc, new RecordingNoiseStore.RecordingNoise)
    val res = engine.noisyTopK(df,
      NoisyTopKParams(k = 2, maxPartitionsContributed = 3),
      DPColumns(col("pid"), Seq("pk" -> col("pk"))), Some(pub))
    acc.computeBudgets()
    res.dataframe.collect()
    // single mechanism, weight 1, requested sensitivity 1 => normalized
    // noiseStdDev == base; actual Laplace b = nstd * (2*k*l0) / sqrt(2)
    val want = acc.baseNoiseStd.get * (2.0 * 2 * 3) / math.sqrt(2.0)
    assert(!RecordingNoiseStore.recorded.isEmpty, "noise source never consulted")
    RecordingNoiseStore.recorded.forEach(b => {
      assert(java.lang.Double.isFinite(b) && b > 0, s"degenerate scale $b")
      assert(math.abs(b - want) < 1e-9 * want, s"scale $b, want $want")
    })
  }

  test("noisyTopK unknown domain under PLD uses the thresholding std + delta") {
    RecordingNoiseStore.recorded.clear()
    val df = Seq(("u1", "pkA"), ("u2", "pkA"), ("u3", "pkB")).toDF("pid", "pk")
    val acc = new PLDBudgetAccountant(1.0, 1e-6)
    val engine = new DPEngine(acc, new RecordingNoiseStore.RecordingNoise)
    val res = engine.noisyTopK(df,
      NoisyTopKParams(k = 1, maxPartitionsContributed = 2),
      DPColumns(col("pid"), Seq("pk" -> col("pk"))))
    acc.computeBudgets()
    val rows = res.dataframe.collect()
    assert(rows.length <= 1)
    val want = acc.baseNoiseStd.get * 2 / math.sqrt(2.0) // b = nstd*l0/sqrt(2)
    assert(!RecordingNoiseStore.recorded.isEmpty, "noise source never consulted")
    RecordingNoiseStore.recorded.forEach(b =>
      assert(math.abs(b - want) < 1e-9 * want, s"scale $b, want $want"))
  }

  test("noisyTopK unknown domain fails loud under totalDelta = 0") {
    val df = Seq(("u1", "pkA")).toDF("pid", "pk")
    val engine = new DPEngine(new NaiveBudgetAccountant(1.0, 0.0), NoiseSource.Zero)
    val e = intercept[IllegalArgumentException] {
      engine.noisyTopK(df, NoisyTopKParams(k = 1, maxPartitionsContributed = 1),
        DPColumns(col("pid"), Seq("pk" -> col("pk"))))
    }
    assert(e.getMessage.contains("publicPartitions"))
  }

  test("noisyTopK public arm: fixed domain — zero-count candidates rank, non-public drop") {
    // pkX is the largest in the DATA but not public => must not appear;
    // pkC is public with no data => count 0, still a candidate and takes
    // the last rank. Runs under totalDelta = 0 (pure-eps arm).
    val df = (Seq(("u1", "pkA"), ("u2", "pkA"), ("u3", "pkB")) ++
      (1 to 5).map(i => (s"x$i", "pkX"))).toDF("pid", "pk")
    val pub = Seq("pkA", "pkB", "pkC").toDF("pk")
    val engine = new DPEngine(new NaiveBudgetAccountant(1.0, 0.0), NoiseSource.Zero)
    val res = engine.noisyTopK(df,
      NoisyTopKParams(k = 3, maxPartitionsContributed = 2),
      DPColumns(col("pid"), Seq("pk" -> col("pk"))), Some(pub))
    engine.accountant.computeBudgets()
    val got = res.dataframe.collect()
      .map(r => r.getAs[Long]("rank") -> r.getAs[String]("pk")).toMap
    assert(got == Map(1L -> "pkA", 2L -> "pkB", 3L -> "pkC"))
  }

  test("noisyTopK: L0 bounding caps a spammer unit to one lifted partition") {
    // u_spam appears in 40 partitions with l0=1: whichever single
    // partition survives its bound has count 1, so the 2-unit pkA must
    // win rank 1 regardless of the sampler's choice
    val spam = (1 to 40).map(i => ("u_spam", s"pk$i"))
    val df = (spam ++ Seq(("u1", "pkA"), ("u2", "pkA"))).toDF("pid", "pk")
    val engine = zeroEngine()
    val res = engine.noisyTopK(df,
      NoisyTopKParams(k = 1, maxPartitionsContributed = 1),
      DPColumns(col("pid"), Seq("pk" -> col("pk"))))
    engine.accountant.computeBudgets()
    val got = res.dataframe.collect().map(_.getAs[String]("pk")).toSeq
    assert(got == Seq("pkA"))
  }

  test("noisyTopK: k larger than the partition count returns all, ranked") {
    val df = Seq(("u1", "pkA"), ("u2", "pkA"), ("u2", "pkB")).toDF("pid", "pk")
    val engine = zeroEngine()
    val res = engine.noisyTopK(df,
      NoisyTopKParams(k = 10, maxPartitionsContributed = 2),
      DPColumns(col("pid"), Seq("pk" -> col("pk"))))
    engine.accountant.computeBudgets()
    val got = res.dataframe.collect()
      .map(r => r.getAs[Long]("rank") -> r.getAs[String]("pk")).toMap
    assert(got == Map(1L -> "pkA", 2L -> "pkB"))
  }

  test("output-name collision guards: pk named like an emitted column fails loud") {
    // aggregate: pk named "count" would otherwise emit two "count" columns
    val dfCount = fixture.withColumnRenamed("pk", "count")
    val e1 = intercept[IllegalArgumentException] {
      val engine = zeroEngine()
      val res = engine.aggregate(dfCount,
        AggregateParams(metrics = Seq(Metric.Count),
          maxPartitionsContributed = 2, maxContributionsPerPartition = Some(5)),
        DPColumns("pid", "count"))
      engine.accountant.computeBudgets()
      res.dataframe
    }
    assert(e1.getMessage.contains("collide"), e1.getMessage)
    // noisyTopK: pk named "rank" shadows the released rank column
    val e2 = intercept[IllegalArgumentException] {
      val engine = zeroEngine()
      val res = engine.noisyTopK(fixture.withColumnRenamed("pk", "rank"),
        NoisyTopKParams(k = 1, maxPartitionsContributed = 2),
        DPColumns(col("pid"), Seq("rank" -> col("rank"))))
      engine.accountant.computeBudgets()
      res.dataframe
    }
    assert(e2.getMessage.contains("rank"), e2.getMessage)
    // grouping sets: pk named "grouping_id" shadows the rollup bitmask
    val e3 = intercept[IllegalArgumentException] {
      val engine = zeroEngine()
      engine.aggregateGroupingSets(fixture.withColumnRenamed("pk", "grouping_id"),
        AggregateParams(metrics = Seq(Metric.Count),
          maxPartitionsContributed = 2, maxContributionsPerPartition = Some(5)),
        DPColumns("pid", "grouping_id"), Seq(Seq("grouping_id"), Seq()))
    }
    assert(e3.getMessage.contains("grouping_id"), e3.getMessage)
    // multi-value sum: pk named "<value>_sum" shadows the output column
    val e4 = intercept[IllegalArgumentException] {
      val engine = zeroEngine()
      MultiValueSum.aggregate(engine, fixture.withColumnRenamed("pk", "v_sum"),
        MultiValueSumParams(Seq(ValueColumnBounds("v", 0.0, 10.0)),
          maxPartitionsContributed = 2),
        MultiValueColumns(col("pid"), Seq("v_sum" -> col("v_sum")),
          Seq("v" -> col("v"))))
    }
    assert(e4.getMessage.contains("collide"), e4.getMessage)
  }

  test("count-only Linf cap folds into the aggregate: exact least(n, c), no raw-row window") {
    // Count/PrivacyIdCount never read a row's value, so a BINDING Linf cap
    // must release exactly least(n, c) per (pid, pk) — deterministically,
    // independent of the sampling draw — and the plan must bound it with
    // the sampler counting rows, not keeping them, and no window.
    def windows(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }.size
    def samplers(df: org.apache.spark.sql.DataFrame): Seq[Boolean] =
      df.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(_.collect {
        case s: graft.functions.BoundedSample => s.counting
      }))
    val pub = Seq("pk1", "pk2").toDF("pk")
    val engine = zeroEngine()
    val params = AggregateParams(
      metrics = Seq(Metric.Count, Metric.PrivacyIdCount),
      maxPartitionsContributed = 5, maxContributionsPerPartition = Some(2))
    val res = engine.aggregate(fixture, params, roles,
      publicPartitions = Some(pub))
    engine.accountant.computeBudgets()
    val got = res.dataframe.collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    // binding c = 2: pk1 = min(3,2) + min(2,2) = 4 rows over 2 units;
    //                pk2 = 1 + 2 = 3 rows over 2 units
    assert(got == Map("pk1" -> ((4.0, 2.0)), "pk2" -> ((3.0, 2.0))), s"got $got")
    assert(windows(res.dataframe) == 0 && samplers(res.dataframe) == Seq(true),
      s"count-only metrics must plan one counting sampler and no window:\n" +
        res.dataframe.queryExecution.optimizedPlan)
    // a value-reading metric set must KEEP the Linf row sampler
    val e2 = zeroEngine()
    val res2 = e2.aggregate(fixture,
      params.copy(metrics = Seq(Metric.Count, Metric.Sum),
        minValue = Some(0.0), maxValue = Some(100.0)),
      roles, publicPartitions = Some(pub))
    e2.accountant.computeBudgets()
    assert(windows(res2.dataframe) == 0 && samplers(res2.dataframe) == Seq(false),
      "a Sum metric reads sampled values and must keep the Linf row sampler:\n" +
        res2.dataframe.queryExecution.optimizedPlan)
  }
}

/** JVM-static landing spot for noise-scale assertions: task-closure
  * serialization clones a NoiseSource, so recorded values must land in a
  * static field to be visible to the driver-side test (local mode only). */
object RecordingNoiseStore {
  val recorded = new java.util.concurrent.ConcurrentLinkedQueue[Double]()

  final class RecordingNoise extends NoiseSource {
    def laplace(b: Double): Double = { recorded.add(b); 0.0 }
    def gaussian(sigma: Double): Double = { recorded.add(sigma); 0.0 }
    def uniform(): Double = 0.5
  }
}

class QueryBuilderSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  def visits = Seq(
    ("v1", "mon", 10.0), ("v1", "tue", 20.0), ("v2", "mon", 30.0),
    ("v2", "mon", 15.0), ("v3", "tue", 40.0)
  ).toDF("visitor_id", "day", "spent_money")

  test("reference demo query end-to-end (zero noise)") {
    val result = new QueryBuilder(visits, "visitor_id")
      .groupby(Seq("day"), maxGroupsContributed = 3, maxContributionsPerGroup = 5,
        publicKeys = Some(Seq("mon", "tue").toDF("day")))
      .count()
      .sum("spent_money", minValue = 0, maxValue = 100)
      .mean("spent_money")
      .buildQuery()
      .runQuery(Budget(1.0, 1e-10), NoiseKind.Gaussian, noise = NoiseSource.Zero)
    val rows = result.collect().map(r =>
      (r.getString(0), r.getAs[Double]("count"), r.getAs[Double]("sum"),
        r.getAs[Double]("mean"))).sortBy(_._1)
    assert(rows.toSeq == Seq(("mon", 3.0, 55.0, 55.0 / 3), ("tue", 2.0, 60.0, 30.0)))
  }

  test("builder validation: groupby once, single value column, metric once") {
    assertThrows[IllegalArgumentException] {
      new QueryBuilder(visits, "visitor_id")
        .groupby(Seq("day"), 1, 1).groupby(Seq("day"), 1, 1)
    }
    assertThrows[IllegalArgumentException] {
      new QueryBuilder(visits, "visitor_id").groupby(Seq("day"), 1, 1)
        .count().count()
    }
    assertThrows[IllegalArgumentException] {
      new QueryBuilder(visits, "visitor_id").count() // aggregation before groupby
    }
    assertThrows[IllegalArgumentException] {
      new QueryBuilder(visits, "nope")
    }
  }

  test("cross-rename: an output name shadowing another metric's default name") {
    // count renamed TO "sum" while the sum metric is renamed AWAY to
    // "total": distinct final names, but the old withColumnRenamed fold
    // produced an intermediate frame with two "sum" columns and then
    // renamed BOTH to "total" — the aliasing select keeps them apart
    val result = new QueryBuilder(visits, "visitor_id")
      .groupby(Seq("day"), maxGroupsContributed = 3, maxContributionsPerGroup = 5,
        publicKeys = Some(Seq("mon", "tue").toDF("day")))
      .count(name = "sum")
      .sum("spent_money", minValue = 0, maxValue = 100, name = "total")
      .buildQuery()
      .runQuery(Budget(1.0, 1e-10), NoiseKind.Gaussian, noise = NoiseSource.Zero)
    assert(result.columns.toSeq == Seq("day", "sum", "total"))
    val rows = result.collect().map(r =>
      (r.getString(0), r.getAs[Double]("sum"), r.getAs[Double]("total"))).sortBy(_._1)
    assert(rows.toSeq == Seq(("mon", 3.0, 55.0), ("tue", 2.0, 60.0)))
  }

  test("builder rejects duplicate output column names before running") {
    // count(name = "sum") + a default-named sum would rename-collide into
    // two columns both called "sum" — AMBIGUOUS_REFERENCE downstream
    val e = intercept[IllegalArgumentException] {
      new QueryBuilder(visits, "visitor_id")
        .groupby(Seq("day"), 1, 1)
        .count(name = "sum")
        .sum("spent_money", minValue = 0, maxValue = 100)
        .buildQuery()
        .runQuery(Budget(1.0, 1e-10), noise = NoiseSource.Zero)
    }
    assert(e.getMessage.contains("duplicate output column"), e.getMessage)
  }

}
