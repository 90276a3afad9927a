package graft.spark

import graft.core.NoiseSource
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The input contracts of every local-DP entry point, checked once per
  * entry point and contract: a NULL value, a pid that does not cast to
  * BIGINT (where the mechanism derives public randomness or a ledger key
  * from it), a value outside a closed domain, and an empty store for the
  * two estimators each fail loud with a message that starts with the
  * entry point's own name. */
class LdpContractSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val dom = Seq("a", "b")
  private val z = NoiseSource.Zero

  /** One broken input: what it is, the frame that carries it, and the
    * substring its error must carry. */
  private final case class Broken(label: String, expect: String,
      row: (String, String, java.lang.Double, String))
  private val nullValue = Broken("a NULL value", "NULL",
    ("1", null, null, null))
  private val badPid = Broken("a pid that does not cast to BIGINT",
    "cast to BIGINT", ("u1", "a", 1.0, "ab"))
  private val outOfDomain = Broken("a value outside the closed domain",
    "outside the public domain", ("1", "zz", 1.0, "ab"))

  private def frame(b: Broken): DataFrame = {
    val (uid, v, x, h) = b.row
    Seq((uid, v, x, x, "k", h)).toDF("uid", "v", "x", "y", "k", "h")
  }

  /** The message must name `name` as its subject, not another entry point. */
  private def assertNames(e: Throwable, name: String, expect: String): Unit = {
    val msg = SparkTestSession.chainMsg(e)
    assert((msg.startsWith(s"$name: ") || msg.contains(s" $name: ")) &&
      msg.contains(expect), msg.take(400))
  }

  private val all = Seq(nullValue, badPid, outOfDomain)

  /** (entry point, the broken inputs it must reject, its release) */
  private val entryPoints: Seq[(String, Seq[Broken], DataFrame => DataFrame)] = Seq(
    ("ldpFrequency", Seq(nullValue, outOfDomain), df =>
      LocalDP.ldpFrequency(df, "uid", col("v"), dom, 1.0, z)),
    ("ldpFrequencyOLH", all, df =>
      LocalDP.ldpFrequencyOLH(df, "uid", col("v"), dom, 1.0, z)),
    ("ldpFrequencyOLHByKey", all, df =>
      LocalDP.ldpFrequencyOLHByKey(df, "uid", col("k"), col("v"), dom, 1.0, z)),
    ("olhIngestStep", all, df =>
      LocalDP.olhIngestStep(df, None, "uid", col("v"), dom, 1.0, z)),
    ("ldpHeavyHitters", Seq(nullValue, badPid), df =>
      LocalDP.ldpHeavyHitters(df, "uid", col("h"), 2, 1.0, z, k = 2, rounds = 1)),
    ("ldpHeavyHittersE2e", Seq(nullValue, badPid), df =>
      LocalDP.ldpHeavyHittersE2e(df, "uid", col("h"), df.select("h"), "h", 2,
        1.0, z, k = 2, rounds = 1)),
    ("ldpRangeTree", Seq(nullValue, badPid), df =>
      LocalDP.ldpRangeTree(df, "uid", col("x"), 0.0, 8.0, 4, 1.0, z)),
    ("ldpTreeIngestStep", Seq(nullValue, badPid), df =>
      LocalDP.ldpTreeIngestStep(df, None, "uid", col("x"), 0.0, 8.0, 4, 1.0, z)),
    ("ldpRangeTreeByKey", Seq(nullValue, badPid), df =>
      LocalDP.ldpRangeTreeByKey(df, "uid", col("k"), col("x"), 0.0, 8.0, 4,
        1.0, z)),
    ("ldpRange2DTree", Seq(nullValue, badPid), df =>
      LocalDP.ldpRange2DTree(df, "uid", col("x"), col("y"), 0.0, 8.0, 2, 0.0,
        8.0, 2, 1.0, z)),
    ("ldpLongitudinalStep", all, df =>
      LocalDP.ldpLongitudinalStep(df, None, "uid", col("v"), dom, 1.0, z)._1),
    ("ldpMean", Seq(nullValue), df =>
      LocalDP.ldpMean(df, "uid", col("x"), 0.0, 8.0, 1.0, z)),
    ("ldpVariance", Seq(nullValue), df =>
      LocalDP.ldpVariance(df, "uid", col("x"), 0.0, 8.0, 1.0, z)),
    ("ldpLongitudinalMeanStep", Seq(nullValue, badPid), df =>
      LocalDP.ldpLongitudinalMeanStep(df, None, "uid", col("x"), 0.0, 8.0, 1.0,
        z)._1),
    ("ldpLongitudinalVarianceStep", Seq(nullValue, badPid), df =>
      LocalDP.ldpLongitudinalVarianceStep(df, None, "uid", col("x"), 0.0, 8.0,
        1.0, z)._1))

  for ((name, broken, release) <- entryPoints; b <- broken)
    test(s"$name: ${b.label} fails loud, naming the entry point") {
      val e = intercept[Exception](release(frame(b)).collect())
      assertNames(e, name, b.expect)
    }

  private def empty(fields: (String, DataType)*): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[Row](),
      StructType(fields.map { case (n, t) => StructField(n, t) }))

  test("olhEstimate: an empty store fails loud, naming the entry point") {
    val store = empty("__seed" -> LongType, "__y" -> LongType, "__c" -> LongType)
    val e = intercept[Exception](LocalDP.olhEstimate(store, dom, 1.0).collect())
    assertNames(e, "olhEstimate", "no reporting units")
  }

  test("ldpTreeEstimate: an empty store fails loud, naming the entry point") {
    val store = empty("__lvl" -> IntegerType, "__seed" -> LongType,
      "__y" -> LongType, "__c" -> LongType, "__eps" -> DoubleType,
      "__bins" -> LongType, "__sspace" -> LongType)
    val e = intercept[Exception](LocalDP.ldpTreeEstimate(store, 4, 1.0).collect())
    assertNames(e, "ldpTreeEstimate", "no reporting units")
  }
}
