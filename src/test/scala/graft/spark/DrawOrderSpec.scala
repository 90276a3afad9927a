package graft.spark

import graft.core.{NoiseKind, NoiseSource}
import graft.streaming.StreamOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Which driver draw each released node receives. A seeded release is
  * bit-identical only while the draw order holds: keys outer, then
  * (lvl, idx) per axis in axis order, levels ascending from the leaves.
  * A recording source returns k for draw k, so the released value minus
  * the zero-noise value of a node IS its draw index. */
class DrawOrderSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Draw k (counting from 0) returns k, whichever the kind. */
  private class Recording extends NoiseSource {
    var draws = 0L
    private def next(): Double = { draws += 1; (draws - 1).toDouble }
    def laplace(b: Double): Double = next()
    def gaussian(sigma: Double): Double = next()
    def uniform(): Double = 0.5
  }

  /** Node -> released value minus its zero-noise value; the first
    * `nodeCols` columns name the node, the last one holds the value. */
  private def drawIndex(release: NoiseSource => DataFrame, nodeCols: Int)
      : (Map[Seq[Any], Long], Long) = {
    def read(src: NoiseSource) = release(src).collect().map(r =>
      r.toSeq.take(nodeCols) -> r.getDouble(r.length - 1)).toMap
    val zero = read(NoiseSource.Zero)
    val rec = new Recording
    val noisy = read(rec)
    (noisy.map { case (n, v) => n -> math.round(v - zero(n)) }, rec.draws)
  }

  /** Bins 4: leaves first, then level 1, then the root. */
  private val order1D = Map[Seq[Any], Long](
    Seq(0, 0L) -> 0L, Seq(0, 1L) -> 1L, Seq(0, 2L) -> 2L, Seq(0, 3L) -> 3L,
    Seq(1, 0L) -> 4L, Seq(1, 1L) -> 5L, Seq(2, 0L) -> 6L)

  private val df1D = Seq((1L, 0.5, 2.0), (2L, 2.5, 3.0), (1L, 3.5, 1.0))
    .toDF("uid", "v", "w")

  test("unkeyed 1-D count tree: node (lvl, idx) receives draw offset(lvl) + idx") {
    val (got, n) = drawIndex(src => RangeTree.dpRangeCountTree(df1D, "uid",
      col("v"), Nil, 0.0, 4.0, 4, 1.0, 10L, src), 2)
    assert(n == 7)
    assert(got == order1D, got)
  }

  test("unkeyed 1-D sum tree: the count tree's draw order") {
    val (got, n) = drawIndex(src => RangeTree.dpRangeSumTree(df1D, "uid",
      col("v"), col("w"), Nil, 0.0, 4.0, 4, 1.0, 10L, 0.0, 5.0, src), 2)
    assert(n == 7)
    assert(got == order1D, got)
  }

  test("unkeyed 2-D tree: x node outer, y node inner") {
    // binsX = binsY = 2: per axis (0, 0), (0, 1), (1, 0) in that order;
    // product node (x, y) draws 3 * x-position + y-position
    val xy = Seq((1L, 0.5, 1.5), (2L, 1.5, 0.5)).toDF("uid", "x", "y")
    val (got, n) = drawIndex(src => RangeTree.dpRange2DTree(xy, "uid",
      col("x"), col("y"), Nil, 0.0, 2.0, 2, 0.0, 2.0, 2, 1.0, 10L, src,
      noiseKind = NoiseKind.Gaussian, delta = 1e-6), 4)
    assert(n == 9)
    val axis = Seq((0, 0L), (0, 1L), (1, 0L))
    val want = (for {
      ((lx, ix), px) <- axis.zipWithIndex
      ((ly, iy), py) <- axis.zipWithIndex
    } yield Seq[Any](lx, ix, ly, iy) -> (3L * px + py)).toMap
    assert(got == want, got)
  }

  test("unkeyed continual counter: each prefix reads the draws of its decomposition") {
    // horizon 8 draws (0, i) = i, (1, i) = 8 + i, (2, i) = 12 + i,
    // (3, 0) = 14; prefix t reads the nodes of the set bits of t + 1
    val ticks = Seq((1L, 0L), (2L, 3L), (1L, 6L)).toDF("uid", "tick")
    val (got, n) = drawIndex(src => StreamOps.dpContinualCount(ticks, "uid",
      col("tick"), Nil, horizon = 8, epsilon = 1.0, maxPerTick = 10L,
      noise = src).select(col("t"), col("dp_prefix_count")), 1)
    assert(n == 15)
    val want = Map[Seq[Any], Long](
      Seq(0L) -> 0L,             // (0, 0)
      Seq(1L) -> 8L,             // (1, 0)
      Seq(2L) -> (8L + 2),       // (1, 0) + (0, 2)
      Seq(3L) -> 12L,            // (2, 0)
      Seq(4L) -> (12L + 4),      // (2, 0) + (0, 4)
      Seq(5L) -> (12L + 10),     // (2, 0) + (1, 2)
      Seq(6L) -> (12L + 10 + 6), // (2, 0) + (1, 2) + (0, 6)
      Seq(7L) -> 14L)            // (3, 0)
    assert(got == want, got)
  }
}
