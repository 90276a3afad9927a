package graft.core

import java.nio.ByteBuffer
import scala.collection.mutable

/** DP quantile tree — a port of the algorithm from Google's public DP library
  * (cc/algorithms/quantile-tree.h; the reference wraps it via PyDP,
  * reference: pipeline_dp/combiners.py:629-719). Re-implemented from the
  * published algorithm description, not translated.
  *
  * Structure: a b-ary tree of `height` levels over [lower, upper]. Each value
  * lies in one leaf and counts once in every node on its root-to-leaf path,
  * so one contribution touches exactly `height` counts — that factor enters
  * the noise sensitivity.
  *
  * Only the leaf counts are stored: a value increments exactly one leaf, and
  * a node's count is the sum over its leaf range, derived at readout. The
  * leaves live in a sparse histogram (open addressing on primitive arrays)
  * because at branching=16, height=4 there are 65536 leaves but real data
  * touches few: a tree of n values holds at most n entries.
  *
  * Quantile computation walks the tree top-down: at each node the (noised,
  * clamped-to-0) child counts define a distribution; descend into the child
  * where the cumulative mass crosses the target rank and interpolate linearly
  * inside the final leaf interval.
  */
final class QuantileTree(
    val lower: Double,
    val upper: Double,
    val height: Int = QuantileTree.DefaultHeight,
    val branching: Int = QuantileTree.DefaultBranching
) extends Serializable {
  require(upper > lower, s"upper ($upper) must be > lower ($lower)")
  require(height >= 1 && branching >= 2)
  require(math.pow(branching.toDouble, (height + 1).toDouble) < Int.MaxValue,
    "tree too large: branching^(height+1) must fit in Int")

  private val numLeaves: Long = {
    var n = 1L; var i = 0
    while (i < height) { n *= branching; i += 1 }
    n
  }

  // the leaf histogram: slot s holds leaf `leaves(s)` (Free when empty)
  // with count `counts(s)`; at most half the slots are used
  private var leaves: Array[Int] = QuantileTree.freeSlots(8)
  private var counts: Array[Long] = new Array[Long](8)
  private var used = 0

  def totalCount: Long = {
    var total = 0L; var s = 0
    while (s < leaves.length) { if (leaves(s) != QuantileTree.Free) total += counts(s); s += 1 }
    total
  }

  def add(value: Double, times: Long = 1): Unit = {
    // NaN would propagate through the clamp, index leaf 0, and silently
    // drag every percentile toward `lower` — fail loud instead (the
    // repo-wide NaN convention, e.g. quantizeInt8 / distributionDrift)
    require(!value.isNaN, "QuantileTree.add: NaN value — filter or impute upstream")
    val v = math.min(upper, math.max(lower, value))
    var leaf = ((v - lower) / (upper - lower) * numLeaves).toLong
    if (leaf == numLeaves) leaf -= 1 // value == upper
    addLeaf(leaf.toInt, times)
  }

  def merge(other: QuantileTree): QuantileTree = {
    requireGeometry(other.lower, other.upper, other.height, other.branching)
    var s = 0
    while (s < other.leaves.length) {
      if (other.leaves(s) != QuantileTree.Free) addLeaf(other.leaves(s), other.counts(s))
      s += 1
    }
    this
  }

  /** Merges a tree in [[serialize]]'s format into this one, without
    * building it first. */
  def mergeSerialized(bytes: Array[Byte]): QuantileTree = {
    val in = ByteBuffer.wrap(bytes)
    requireGeometry(in.getDouble, in.getDouble, in.getInt, in.getInt)
    var n = in.getInt
    while (n > 0) { addLeaf(in.getInt, in.getLong); n -= 1 }
    this
  }

  private def requireGeometry(lo: Double, hi: Double, h: Int, b: Int): Unit =
    require(lo == lower && hi == upper && h == height && b == branching,
      "cannot merge quantile trees with different geometry")

  private def slotOf(leaf: Int): Int = {
    val mask = leaves.length - 1
    val h = leaf * 0x9E3779B9
    var s = (h ^ (h >>> 16)) & mask
    while (leaves(s) != QuantileTree.Free && leaves(s) != leaf) s = (s + 1) & mask
    s
  }

  private def addLeaf(leaf: Int, times: Long): Unit = {
    var s = slotOf(leaf)
    if (leaves(s) == QuantileTree.Free) {
      if (2 * (used + 1) > leaves.length) { grow(); s = slotOf(leaf) }
      leaves(s) = leaf
      used += 1
    }
    counts(s) += times
  }

  private def grow(): Unit = {
    val (oldLeaves, oldCounts) = (leaves, counts)
    leaves = QuantileTree.freeSlots(2 * oldLeaves.length)
    counts = new Array[Long](2 * oldLeaves.length)
    var s = 0
    while (s < oldLeaves.length) {
      if (oldLeaves(s) != QuantileTree.Free) {
        val t = slotOf(oldLeaves(s))
        leaves(t) = oldLeaves(s)
        counts(t) = oldCounts(s)
      }
      s += 1
    }
  }

  /** Node counts from the leaf histogram: the used leaves in ascending
    * order and their prefix sums, so a node's count — the sum over its
    * leaf range — is the difference of two prefix sums. */
  private final class Readout {
    private val sorted: Array[Int] = {
      val a = new Array[Int](used)
      var s = 0; var k = 0
      while (s < leaves.length) { if (leaves(s) != QuantileTree.Free) { a(k) = leaves(s); k += 1 }; s += 1 }
      java.util.Arrays.sort(a)
      a
    }
    private val prefix: Array[Long] = {
      val p = new Array[Long](used + 1)
      var k = 0
      while (k < used) { p(k + 1) = p(k) + counts(slotOf(sorted(k))); k += 1 }
      p
    }
    /** The number of used leaves below `leaf`. */
    private def rank(leaf: Long): Int = {
      var lo = 0; var hi = used
      while (lo < hi) { val mid = (lo + hi) >>> 1; if (sorted(mid) < leaf) lo = mid + 1 else hi = mid }
      lo
    }
    /** The count of the node over leaves [first, first + width). */
    def count(first: Long, width: Long): Long = prefix(rank(first + width)) - prefix(rank(first))
  }

  /** The count of node `node` (root = 0; children of n: n*branching+1 ..
    * n*branching+branching), as the per-level walk of every value would
    * have counted it. */
  private[graft] def nodeCount(node: Int): Long = {
    // the node's level and its index among that level's nodes
    var first = node.toLong; var width = numLeaves; var levelSize = 1L
    while (first >= levelSize) { first -= levelSize; levelSize *= branching; width /= branching }
    new Readout().count(first * width, width)
  }

  /** Computes the given quantiles (in [0,1]) with DP noise on every node
    * count consulted. Sensitivity: one contribution touches `height` nodes;
    * with L0 = maxPartitionsContributed and Linf = maxContributionsPerPartition,
    * Laplace L1 = height*l0*linf, Gaussian L2 = sqrt(height*l0)*linf. */
  def computeQuantiles(
      quantiles: Seq[Double],
      eps: Double,
      delta: Double,
      maxPartitionsContributed: Int,
      maxContributionsPerPartition: Int,
      noiseKind: NoiseKind,
      noise: NoiseSource
  ): Seq[Double] = {
    val mech: AdditiveMechanism = noiseKind match {
      case NoiseKind.Laplace =>
        LaplaceMechanism.fromEpsilon(eps,
          height.toDouble * maxPartitionsContributed * maxContributionsPerPartition)
      case NoiseKind.Gaussian =>
        GaussianMechanism.fromEpsilonDelta(eps, delta,
          math.sqrt(height.toDouble * maxPartitionsContributed) * maxContributionsPerPartition)
    }
    computeQuantiles(quantiles, mech, noise)
  }

  /** Quantile computation with a pre-built noise mechanism (lets budget
    * accountants that resolve to a noise STD rather than (eps, delta) — the
    * PLD accountant — drive the tree). */
  def computeQuantiles(
      quantiles: Seq[Double],
      mech: AdditiveMechanism,
      noise: NoiseSource
  ): Seq[Double] = {
    val readout = new Readout
    // memoize noised counts so repeated quantile queries see one consistent tree
    val noised = mutable.HashMap.empty[Int, Double]
    def noisedCount(node: Int, first: Long, width: Long): Double =
      noised.getOrElseUpdate(node,
        math.max(0.0, mech.addNoise(readout.count(first, width).toDouble, noise)))

    quantiles.map { q =>
      require(q >= 0 && q <= 1, s"quantile must be in [0,1], got $q")
      var node = 0L
      var first = 0L // the node's first leaf
      var width = numLeaves // its leaf count
      var lo = lower
      var hi = upper
      var rank = q
      var level = 0
      var done = false
      var result = lower
      while (level < height && !done) {
        val w = width / branching
        val children = (0 until branching).map(i =>
          noisedCount((node * branching + 1 + i).toInt, first + i * w, w))
        val total = children.sum
        if (total <= 0.0) {
          // no signal below this node: interpolate uniformly in [lo, hi]
          result = lo + rank * (hi - lo)
          done = true
        } else {
          val target = rank * total
          var cum = 0.0
          var idx = 0
          while (idx < branching - 1 && cum + children(idx) < target) {
            cum += children(idx); idx += 1
          }
          val childMass = math.max(children(idx), 1e-12)
          rank = math.min(1.0, math.max(0.0, (target - cum) / childMass))
          val span = (hi - lo) / branching
          hi = lo + (idx + 1) * span
          lo = lo + idx * span
          node = node * branching + 1 + idx
          first += idx * w
          width = w
          level += 1
        }
      }
      if (!done) result = lo + rank * (hi - lo)
      math.min(upper, math.max(lower, result))
    }
  }

  /** The one byte format: lower, upper (doubles), height, branching, the
    * leaf count n (ints), then n (leaf: int, count: long) entries in slot
    * order, big-endian. */
  def serialize(): Array[Byte] = {
    val out = ByteBuffer.allocate(QuantileTree.HeaderBytes + 12 * used)
    out.putDouble(lower).putDouble(upper).putInt(height).putInt(branching).putInt(used)
    var s = 0
    while (s < leaves.length) {
      if (leaves(s) != QuantileTree.Free) out.putInt(leaves(s)).putLong(counts(s))
      s += 1
    }
    out.array()
  }
}

object QuantileTree {
  /** Defaults from the published Google DP implementation. */
  val DefaultHeight = 4
  val DefaultBranching = 16

  private val Free = -1
  private val HeaderBytes = 8 + 8 + 4 + 4 + 4

  private def freeSlots(n: Int): Array[Int] = {
    val a = new Array[Int](n)
    java.util.Arrays.fill(a, Free)
    a
  }

  def deserialize(bytes: Array[Byte]): QuantileTree = {
    val in = ByteBuffer.wrap(bytes)
    new QuantileTree(in.getDouble, in.getDouble, in.getInt, in.getInt).mergeSerialized(bytes)
  }
}
