package graft.functions

import graft.core._
import graft.spark.{QuantileComputer, SparkTestSession}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import scala.collection.mutable

/** The native quantile-tree aggregate against the driver-side tree: over
  * any split of the input (partial, merge and final paths, the
  * sort-based fallback) it must hold the node counts `add` gives, and its
  * bytes must read out to the same percentiles with the same draws. */
class QuantileTreeAggregateSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val (lo, hi) = (-10.0, 90.0)
  private def tree(c: org.apache.spark.sql.Column) = QuantileTreeAggregate.column(lo, hi)(c)

  /** Seeded values inside the range, plus both bounds and one value below
    * and one above it. */
  private val values: Seq[Double] = {
    val rnd = new scala.util.Random(7)
    Seq.fill(5000)(lo + rnd.nextDouble() * (hi - lo)) ++ Seq(lo, hi, lo - 1.0, hi + 1.0)
  }

  private def driverTree(vs: Seq[Double]): QuantileTree = {
    val t = new QuantileTree(lo, hi)
    vs.foreach(t.add(_))
    t
  }

  /** Node id -> count as the per-level walk of every value counts it: one
    * increment per level along the value's root-to-leaf path. */
  private def pathCounts(vs: Seq[Double]): Map[Int, Long] = {
    val (h, b) = (QuantileTree.DefaultHeight, QuantileTree.DefaultBranching)
    val leaves = math.pow(b, h).toLong
    val counts = mutable.HashMap.empty[Int, Long]
    vs.foreach { value =>
      val v = math.min(hi, math.max(lo, value))
      val leaf = math.min(((v - lo) / (hi - lo) * leaves).toLong, leaves - 1)
      var (node, width) = (0L, leaves)
      (0 until h).foreach { _ =>
        width /= b
        node = node * b + 1 + leaf / width % b
        counts(node.toInt) = counts.getOrElse(node.toInt, 0L) + 1
      }
    }
    counts.toMap
  }

  /** `t` holds exactly the node counts of `expected`: each listed node
    * matches, and each level sums to the total, so no other node is
    * nonzero. */
  private def assertNodeCounts(t: QuantileTree, expected: Map[Int, Long]): Unit = {
    expected.foreach { case (node, n) => assert(t.nodeCount(node) == n, s"node $node") }
    val total = expected.filter(_._1 <= QuantileTree.DefaultBranching).values.sum
    assert(t.totalCount == total)
    assert(t.nodeCount(0) == total)
    var (first, size) = (1, QuantileTree.DefaultBranching)
    (1 to QuantileTree.DefaultHeight).foreach { _ =>
      assert((first until first + size).filter(expected.contains).map(t.nodeCount).sum == total)
      first += size
      size *= QuantileTree.DefaultBranching
    }
  }

  private def aggregated(df: DataFrame): QuantileTree =
    QuantileTree.deserialize(df.collect().head.getAs[Array[Byte]](0))

  test("the driver-side tree holds the per-level walk's node counts") {
    assertNodeCounts(driverTree(values), pathCounts(values))
  }

  test("built over repartition(4): the node counts of the add-built tree") {
    val t = aggregated(values.toDF("v").repartition(4).agg(tree(col("v"))))
    assertNodeCounts(t, pathCounts(values))
  }

  test("grouped past the sort-based fallback: each group's add-built tree") {
    // 2000 groups over 4 partitions: more groups per task than the object
    // hash aggregate holds before it sorts and merges serialized buffers
    val rows = values.zipWithIndex.map { case (v, i) => (i % 2000, v) }
    val got = rows.toDF("g", "v").repartition(4).groupBy("g").agg(tree(col("v")).as("t"))
      .collect().map(r => r.getInt(0) -> QuantileTree.deserialize(r.getAs[Array[Byte]](1))).toMap
    assert(got.size == 2000)
    rows.groupBy(_._1).foreach { case (g, rs) => assertNodeCounts(got(g), pathCounts(rs.map(_._2))) }
  }

  test("merge mode: merging serialized trees per key equals one tree of all values") {
    val perGroup = values.zipWithIndex.map { case (v, i) => (i % 3, i % 50, v) }
      .toDF("k", "g", "v").repartition(4)
      .groupBy("k", "g").agg(tree(col("v")).as("t"))
    val merged = perGroup.repartition(4).groupBy("k").agg(tree(col("t")).as("m"))
      .collect().map(r => r.getInt(0) -> QuantileTree.deserialize(r.getAs[Array[Byte]](1))).toMap
    (0 until 3).foreach { k =>
      val vs = values.zipWithIndex.collect { case (v, i) if i % 3 == k => v }
      assertNodeCounts(merged(k), pathCounts(vs))
    }
  }

  test("a null or empty tree reads as empty, a null value is skipped") {
    val empty = new QuantileTree(lo, hi)
    val one = driverTree(Seq(3.0)).serialize()
    val trees = Seq[Array[Byte]](null, Array.emptyByteArray).toDF("t")
    assert(aggregated(trees.agg(tree(col("t")))).totalCount == 0)
    val withOne = Seq[Array[Byte]](null, Array.emptyByteArray, one).toDF("t")
    assertNodeCounts(aggregated(withOne.repartition(2).agg(tree(col("t")))), pathCounts(Seq(3.0)))
    val nulls = Seq[Option[Double]](None, Some(3.0), None).toDF("v")
    assertNodeCounts(aggregated(nulls.agg(tree(col("v")))), pathCounts(Seq(3.0)))
    assert(empty.totalCount == 0 && QuantileTree.deserialize(empty.serialize()).totalCount == 0)
  }

  test("a NaN value fails loud, as QuantileTree.add does") {
    val e = intercept[Exception] {
      Seq(1.0, Double.NaN, 2.0).toDF("v").agg(tree(col("v"))).collect()
    }
    assert(SparkTestSession.chainMsg(e).contains("NaN value"), SparkTestSession.chainMsg(e))
    intercept[IllegalArgumentException](new QuantileTree(lo, hi).add(Double.NaN))
  }

  test("a double or binary input only") {
    val e = intercept[Exception](Seq("a").toDF("s").agg(tree(col("s"))).collect())
    assert(SparkTestSession.chainMsg(e).contains("graft_quantile_tree"))
  }

  /** Draw k returns k, so two readouts agree only with the same draws in
    * the same order. */
  private class Recording extends NoiseSource {
    var draws = 0L
    private def next(): Double = { draws += 1; (draws - 1).toDouble }
    def laplace(b: Double): Double = next()
    def gaussian(sigma: Double): Double = next()
    def uniform(): Double = 0.5
  }

  test("QuantileComputer reads the aggregate's bytes as the add-built tree") {
    val spec = MechanismSpec(MechanismType.Laplace, "percentile", epsilon = 1.0, delta = 0.0)
    val computer = QuantileComputer(Seq(5, 25, 50, 75, 99), spec, lo, hi, 2, 3, NoiseKind.Laplace)
    val bytes = values.toDF("v").repartition(4).agg(tree(col("v"))).collect().head
      .getAs[Array[Byte]](0)
    val local = driverTree(values).serialize()
    assert(computer.compute(bytes, NoiseSource.Zero).toSeq ==
      computer.compute(local, NoiseSource.Zero).toSeq)
    val (a, b) = (new Recording, new Recording)
    assert(computer.compute(bytes, a).toSeq == computer.compute(local, b).toSeq)
    assert(a.draws > 0 && a.draws == b.draws)
  }
}
