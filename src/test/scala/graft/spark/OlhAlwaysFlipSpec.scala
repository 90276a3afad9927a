package graft.spark

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** A source whose every uniform() is 0.99: the first draw never clears
  * the OLH keep probability p (< 0.99 for every eps the engine accepts),
  * so every report takes the NON-truthful branch and the second draw
  * picks j = min(floor(0.99 * (g - 1)), g - 2) — the bucket
  * (h + 1 + j) mod g. The zero-noise oracle never reaches that branch. */
object AlwaysFlipUniform extends graft.core.NoiseSource {
  def laplace(b: Double): Double = 0.0
  def gaussian(sigma: Double): Double = 0.0
  def uniform(): Double = 0.99
}

/** Every OLH entry point's release when every report flips, on one small
  * fixture. The frequency oracle is replayed from the public hash; the
  * other releases are pinned row for row. */
class OlhAlwaysFlipSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val dom = Seq("a", "b", "c")
  private val noise = AlwaysFlipUniform

  /** 48 units: a domain value, a public key, x in [0, 8), y in [0, 4) and
    * a 2-char hex value per unit. */
  private def fixture: DataFrame = (1 to 48).map { i =>
    (i.toLong, dom(i % 3), s"k${i % 2}", (i * 5 % 8).toDouble,
      (i % 4).toDouble, f"${i * 37 % 256}%02x")
  }.toDF("uid", "v", "k", "x", "y", "h")

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("ldpFrequencyOLH: every report takes the flipped bucket; the estimate replays") {
    val r = LocalDP.ldpFrequencyOLH(fixture, "uid", col("v"), dom, 1.0,
        noise)
      .collect().map(x => x.getString(0) ->
        (x.getLong(1), x.getLong(2), x.getDouble(3))).toMap
    // eps = 1: g = 3, j = min(floor(0.99 * 2), 1) = 1, so y = (h + 2) % 3
    val g = 3L
    val expEps = math.exp(1.0)
    val p = expEps / (expEps + g - 1); val invG = 1.0 / g
    val hp = LocalDP.olhParams(1024)
    val reports = (1 to 48).map { i =>
      val (a, b) = hp(LocalDP.olhSeedOf(i.toLong, 1024).toInt)
      (a, b, (LocalDP.olhHash(a, b, (i % 3).toLong, g) + 2) % g)
    }
    dom.indices.foreach { j =>
      val sup = reports.count { case (a, b, y) =>
        LocalDP.olhHash(a, b, j.toLong, g) == y }.toLong
      val est = BigDecimal((sup - 48L * invG) / (p - invG))
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r(dom(j)) == ((48L, sup, est)), s"value ${dom(j)}")
    }
  }

  private val golden: Map[String, Seq[String]] = Map(
    "ldpFrequencyOLHByKey" -> Seq("[k0,a,24,8,0.0]", "[k0,b,24,8,0.0]",
      "[k0,c,24,8,0.0]", "[k1,a,24,4,-16.475580724]",
      "[k1,b,24,3,-20.594475905]", "[k1,c,24,4,-16.475580724]"),
    "olhIngestStep+olhEstimate" -> Seq("[a,48,12,-16.475580724]",
      "[b,48,11,-20.594475905]", "[c,48,12,-16.475580724]"),
    "ldpHeavyHitters" -> Seq("[28,16.475580724,12,24,2]",
      "[2c,24.713371085,14,24,1]", "[f8,12.356685543,11,24,3]"),
    "ldpRangeTree" -> Seq("[0,0,-10.983720482]", "[0,1,-32.951161447]",
      "[0,2,-21.967440965]", "[0,3,43.93488193]", "[1,0,-65.902322895]",
      "[1,1,-47.928962105]", "[2,0,-65.902322895]"),
    "ldpRangeTreeByKey" -> Seq("[k0,0,0,4.118895181]",
      "[k0,0,1,-20.594475905]", "[k0,0,2,-8.237790362]",
      "[k0,0,3,4.118895181]", "[k0,1,0,-32.951161447]",
      "[k0,1,1,-32.951161447]", "[k0,2,0,-32.951161447]",
      "[k1,0,0,-13.180464579]", "[k1,0,1,-13.180464579]",
      "[k1,0,2,-13.180464579]", "[k1,0,3,36.246277592]",
      "[k1,1,0,-32.951161447]", "[k1,1,1,-16.475580724]",
      "[k1,2,0,-32.951161447]"),
    "ldpRange2DTree" -> Seq("[0,0,0,0,-6.590232289]",
      "[0,0,0,1,-46.131626026]", "[0,0,1,0,-65.902322895]",
      "[0,1,0,0,-26.360929158]", "[0,1,0,1,-6.590232289]",
      "[0,1,1,0,-37.658470225]", "[1,0,0,0,-5.069409453]",
      "[1,0,0,1,-50.694094534]", "[1,0,1,0,-65.902322895]"),
    "ldpLongitudinalStep" -> Seq("[a,48,12,-16.475580724]",
      "[b,48,11,-20.594475905]", "[c,48,12,-16.475580724]"))

  private val releases: Seq[(String, () => DataFrame)] = Seq(
    "ldpFrequencyOLHByKey" -> (() => LocalDP.ldpFrequencyOLHByKey(fixture,
      "uid", col("k"), col("v"), dom, 1.0, noise)),
    "olhIngestStep+olhEstimate" -> (() => {
      val f = fixture
      val first = LocalDP.olhIngestStep(f.filter(col("uid") % 2 === 0),
        None, "uid", col("v"), dom, 1.0, noise).localCheckpoint(false)
      val folded = LocalDP.olhIngestStep(f.filter(col("uid") % 2 === 1),
        Some(first), "uid", col("v"), dom, 1.0, noise).localCheckpoint(false)
      LocalDP.olhEstimate(folded, dom, 1.0)
    }),
    "ldpHeavyHitters" -> (() => LocalDP.ldpHeavyHitters(fixture, "uid",
      col("h"), hexLen = 2, epsilon = 1.0, noise = noise, k = 3,
      rounds = 2)),
    "ldpRangeTree" -> (() => LocalDP.ldpRangeTree(fixture, "uid", col("x"),
      0.0, 8.0, 4, 1.0, noise)),
    "ldpRangeTreeByKey" -> (() => LocalDP.ldpRangeTreeByKey(fixture, "uid",
      col("k"), col("x"), 0.0, 8.0, 4, 1.0, noise)),
    "ldpRange2DTree" -> (() => LocalDP.ldpRange2DTree(fixture, "uid",
      col("x"), col("y"), 0.0, 8.0, 2, 0.0, 4.0, 2, 1.0, noise)),
    "ldpLongitudinalStep" -> (() => {
      val (_, memo) = LocalDP.ldpLongitudinalStep(fixture, None, "uid",
        col("v"), dom, 1.0, noise)
      LocalDP.ldpLongitudinalStep(fixture, Some(memo), "uid", col("v"),
        dom, 1.0, noise)._1
    }))

  releases.foreach { case (name, release) =>
    test(s"$name: the always-flip release is pinned row for row") {
      val got = rows(release())
      assert(got == golden.getOrElse(name, Nil),
        got.map("\"" + _ + "\"").mkString(s"$name:\n", ",\n", ""))
    }
  }
}
