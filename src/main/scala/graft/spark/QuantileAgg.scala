package graft.spark

import graft.core._

/** The quantile-tree release's readout (reference: combiners.py:629-719).
  * The trees are built and merged by one native aggregate,
  * [[graft.functions.QuantileTreeAggregate]]: a double input builds the
  * per-(unit, partition) tree, a binary input merges trees per partition,
  * and what crosses each shuffle is the tree in [[QuantileTree]]'s one byte
  * format, a sparse leaf histogram. The readout below runs only for the
  * partitions selection kept; it derives each node's count from the leaves.
  * All DP parameters are resolved driver-side. */
final case class QuantileComputer(
    percentiles: Seq[Double], // in [0, 100]
    spec: MechanismSpec,
    lower: Double,
    upper: Double,
    maxPartitionsContributed: Int,
    maxContributionsPerPartition: Int,
    noiseKind: NoiseKind
) extends Serializable {
  val names: Seq[String] = percentiles.map(p => Metric.Percentile(p).name)
  def describe: String =
    f"Computed DP percentiles ${percentiles.mkString(", ")} via quantile tree " +
      f"(height ${QuantileTree.DefaultHeight}, branching ${QuantileTree.DefaultBranching}) " +
      f"over [$lower%.6g, $upper%.6g] with $noiseKind noise, " +
      f"eps=${spec.epsilon}%.4g delta=${spec.delta}%.4g"
  def compute(bytes: Array[Byte], noise: NoiseSource): Array[Double] = {
    val tree =
      if (bytes == null || bytes.isEmpty) new QuantileTree(lower, upper)
      else QuantileTree.deserialize(bytes)
    // the mechanism comes from the RESOLVED spec, so both budget forms work:
    // (eps, delta) under naive accounting, noiseStdDev under PLD accounting
    // (one contribution touches `height` node counts — L1 = height*l0*linf,
    // L2 = sqrt(height*l0)*linf)
    val h = tree.height.toDouble
    val sens = Sensitivities(
      l1Given = Some(h * maxPartitionsContributed * maxContributionsPerPartition),
      l2Given = Some(math.sqrt(h * maxPartitionsContributed) * maxContributionsPerPartition))
    val mech = Mechanisms.createAdditive(spec, sens)
    tree.computeQuantiles(percentiles.map(_ / 100.0), mech, noise).toArray
  }
}
