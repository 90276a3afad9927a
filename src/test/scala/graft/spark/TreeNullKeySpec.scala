package graft.spark

import graft.core.NoiseSource
import graft.streaming.StreamOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** The NULL-key contract of every keyed tree entry point, checked once
  * per entry point: a NULL key would silently drop from the release
  * joins, so it fails loud with "NULL key" and the entry point's name. */
class TreeNullKeySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def out(): String =
    java.nio.file.Files.createTempDirectory("graft_nullkey_").toString

  private val k = Seq("k")

  /** (entry point, its release of (uid, v, w, y, tick, k)) */
  private val entryPoints: Seq[(String, DataFrame => DataFrame)] = Seq(
    "dpRangeCountTree" -> (df => RangeTree.dpRangeCountTree(df, "uid",
      col("v"), k, 0.0, 8.0, 8, 1.0, 10L, NoiseSource.Zero)),
    "dpRangeSumTree" -> (df => RangeTree.dpRangeSumTree(df, "uid", col("v"),
      col("w"), k, 0.0, 8.0, 8, 1.0, 10L, 0.0, 5.0, NoiseSource.Zero)),
    "dpRangeCountTreePerKeyDomains" -> (df =>
      RangeTree.dpRangeCountTreePerKeyDomains(df, "uid", col("v"), k,
        Seq(("a", 0.0, 8.0)).toDF("k", "lo", "hi"), 8, 1.0, 10L,
        NoiseSource.Zero)),
    "dpRangeCountTreeSharded" -> (df => RangeTree.dpRangeCountTreeSharded(df,
      "uid", col("v"), k, 0.0, 8.0, 8, 1.0, 10L, NoiseSource.Zero, out())),
    "dpRangeSumTreeSharded" -> (df => RangeTree.dpRangeSumTreeSharded(df,
      "uid", col("v"), col("w"), k, 0.0, 8.0, 8, 1.0, 10L, 0.0, 5.0,
      NoiseSource.Zero, out())),
    "dpRange2DTree" -> (df => RangeTree.dpRange2DTree(df, "uid", col("v"),
      col("y"), k, 0.0, 8.0, 8, 0.0, 4.0, 4, 1.0, 10L, NoiseSource.Zero)),
    "dpRange2DSumTree" -> (df => RangeTree.dpRange2DSumTree(df, "uid",
      col("v"), col("y"), col("w"), k, 0.0, 8.0, 8, 0.0, 4.0, 4, 1.0, 10L,
      0.0, 5.0, NoiseSource.Zero)),
    "dpRange2DTreeSharded" -> (df => RangeTree.dpRange2DTreeSharded(df, "uid",
      col("v"), col("y"), k, 0.0, 8.0, 8, 0.0, 4.0, 4, 1.0, 10L,
      NoiseSource.Zero, out())),
    "rangeTreeIngestStep" -> (df => RangeTree.rangeTreeIngestStep(df, None,
      "uid", col("v"), k, 0.0, 8.0, 8, 10L)),
    "range2DIngestStep" -> (df => RangeTree.range2DIngestStep(df, None, "uid",
      col("v"), col("y"), k, 0.0, 8.0, 8, 0.0, 4.0, 4, 10L)),
    "dpContinualCount" -> (df => StreamOps.dpContinualCount(df, "uid",
      col("tick"), k, 8, 1.0, 10L, NoiseSource.Zero)),
    "dpContinualSum" -> (df => StreamOps.dpContinualSum(df, "uid",
      col("tick"), "w", k, 8, 1.0, 10L, 0.0, 5.0, NoiseSource.Zero)),
    "dpContinualMean" -> (df => StreamOps.dpContinualMean(df, "uid",
      col("tick"), "w", k, 8, 1.0, 10L, 0.0, 5.0, NoiseSource.Zero)),
    "dpContinualCountSharded" -> (df => StreamOps.dpContinualCountSharded(df,
      "uid", col("tick"), k, 8, 1.0, 10L, NoiseSource.Zero, out())),
    "dpContinualSumSharded" -> (df => StreamOps.dpContinualSumSharded(df,
      "uid", col("tick"), "w", k, 8, 1.0, 10L, 0.0, 5.0, NoiseSource.Zero,
      out())),
    "onlineContinualStep" -> (df => StreamOps.onlineContinualStep(df, None,
      "uid", col("tick"), k, 8, 1.0, 10L, NoiseSource.Zero, -1L, 7L)._1))

  entryPoints.foreach { case (name, release) =>
    test(s"$name: a NULL key fails loud, naming the entry point") {
      val df = Seq((1L, 0.5, 2.0, 1.5, 0L, "a"),
        (2L, 3.5, 1.0, 2.5, 1L, null.asInstanceOf[String]))
        .toDF("uid", "v", "w", "y", "tick", "k")
      val e = intercept[Exception] { release(df).collect() }
      val msg = SparkTestSession.chainMsg(e)
      assert(msg.contains("NULL key") && msg.contains(s"$name:"), msg.take(400))
    }
  }
}
