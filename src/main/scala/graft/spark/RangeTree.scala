package graft.spark

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** A tree-ready domain: `[lo, hi)` split into a power-of-two `bins` of
  * exactly `width` each — what [[RangeTree.paddedDomain]] and
  * [[RangeTree.dpEstimatedDomain]] return and every tree entry point
  * accepts piecewise. */
final case class RangeTreeDomain(lo: Double, hi: Double, bins: Int) {
  def width: Double = (hi - lo) / bins
}

/** DP hierarchical range counting over a NUMERIC DOMAIN — the dyadic-tree
  * mechanism applied to value bins instead of time (Dwork-Naor-Pitassi-
  * Rothblum STOC'10 tree; Hay-Rastogi-Miklau-Suciu VLDB'10 "Boosting the
  * accuracy of differentially private histograms through consistency"):
  * the domain [lo, hi) splits into `bins` (a power of two) leaves, every
  * dyadic node gets ONE Laplace draw on its count, and any range query
  * answers from its <= 2*log2(bins) covering nodes — O(log^1.5 B / eps)
  * error per range where a flat histogram pays O(sqrt(B)) for wide
  * ranges. Quantiles read off the released prefix counts (CDF inversion)
  * as pure post-processing, and Hay's two-sweep OLS makes the tree
  * internally consistent (children sum to parents) while provably never
  * increasing variance — also post-processing, so DP is free.
  *
  * The reference has no range-query mechanism at all (its quantile tree —
  * [[graft.core.QuantileTree]] here — is the adaptive-split ESTIMATOR for
  * per-key quantiles, not a releasable range-count structure); this is
  * the beyond-reference shape a metrics / training-data engine reaches
  * for when it must publish label/score/length DISTRIBUTIONS under DP.
  *
  * Budget semantics: each unit keeps at most `maxPerUnit` rows (the
  * DETERMINISTIC per-unit cap below); one row lands in exactly levels+1
  * nodes, so the WHOLE tree release is epsilon-DP per key cell at
  * per-node Laplace scale maxPerUnit * (levels+1) / epsilon — or, with
  * `noiseKind = Gaussian` and a `delta`, (epsilon, delta)-DP at per-node
  * sigma Balle-Wang-calibrated for L2 sensitivity maxPerUnit *
  * sqrt(levels+1) (the sqrt is the tree's Gaussian win; many-tree
  * releases also compose better under zCDP-style accounting). Values
  * CLAMP into [lo, hi) (the dpWindowedSum order-free convention: the
  * clamp is part of the released statistic, not a data filter — dropping
  * out-of-range rows would make presence-in-range data-dependent). NULL
  * values fail loud. Cross-key composition is the caller's accounting —
  * with `keyCols` every key gets its own tree (the continual family's
  * cell contract).
  *
  * Plan shape (the [[graft.streaming.StreamOps.dpContinualCount]]
  * machinery over bins): leaf binning with a map-side-combined per-unit
  * leaf aggregation, deterministic per-unit cap (a bin-ascending prefix
  * window over the bounded leaf rows — count trees never sort raw rows;
  * sum trees rank rows because a binding cap selects by weight), a
  * GENERATED node universe (empty nodes draw noise too — a missing draw
  * would disclose emptiness), noise as one draw per node. No driver
  * loops; the only driver math is the optional consistency sweep over
  * the BOUNDED released tree (2*bins-1 rows per key, bins <= 4096
  * enforced), the same bounded-collect class as the PLD math. */
object RangeTree {

  // ---------------------------------------------------------------------
  // THE TREE CORE. A range tree over value bins, a 2-D product tree and
  // a continual counter over ticks are one mechanism: bounded leaf
  // contributions roll up into dyadic node sums (the node store), and
  // one driver-drawn release adds one noise draw per generated node.
  // Every range-tree and continual entry point (here and in
  // [[graft.streaming.StreamOps]]) is a thin caller of these parts.
  // ---------------------------------------------------------------------

  /** One dyadic axis: `bins` leaves (a power of two), node columns
    * (`lvl`, `idx`) and the leaf column `leaf` the rollup shifts. Node
    * (l, i) covers leaves [i * 2^l, (i+1) * 2^l). */
  private[graft] final case class Axis(bins: Int, lvl: String, idx: String,
      leaf: String) {
    val levels: Int = 31 - Integer.numberOfLeadingZeros(bins)
    def nodes: Long = 2L * bins - 1
  }

  /** A validated axis: `n` must be a power of two in [2, max]. */
  private[graft] def axis(name: String, n: Int, max: Int = 4096,
      lvl: String = "__lvl", idx: String = "__idx",
      leaf: String = "__bin"): Axis = {
    require(n >= 2 && (n & (n - 1)) == 0 && n <= max,
      s"$name must be a power of two in [2, $max], got $n")
    Axis(n, lvl, idx, leaf)
  }

  /** The 2-D product tree's axes; binsX * binsY <= 65536 keeps one
    * tree's literal noise frame bounded. */
  private def productAxes(binsX: Int, binsY: Int): Seq[Axis] = {
    val axes = Seq(axis("binsX", binsX, lvl = "__lvx", idx = "__idxx",
      leaf = "__bx"), axis("binsY", binsY, lvl = "__lvy", idx = "__idxy",
      leaf = "__by"))
    require(binsX.toLong * binsY <= 65536L,
      s"binsX * binsY must be <= 65536 (got ${binsX.toLong * binsY}) — " +
        "one product tree's literal noise frame is (2*binsX-1)*(2*binsY-1) " +
        "driver rows; coarsen one axis or release two 1-D trees")
    axes
  }

  /** A tree entry point's scope: its name (every fail-loud message
    * carries it), key columns, the validated axes and the public key
    * frame. Built by [[scope]], which pins the public keys once, so a
    * nondeterministic key frame (a noisy partition selection) is read
    * once by both the drop-before-bounding semi-join and the release's
    * key universe. */
  private[graft] final case class TreeScope(what: String,
      keyCols: Seq[String], pub: Option[DataFrame], axes: Seq[Axis]) {
    def nodes: Long = axes.map(_.nodes).product
    /** Released nodes one bounded row touches. */
    def touches: Int = axes.map(_.levels + 1).product
    def scale(kind: graft.core.NoiseKind, epsilon: Double, delta: Double,
        unitLinf: Double): Double = {
      require(epsilon > 0, s"epsilon must be positive, got $epsilon")
      scaleForTouches(kind, epsilon, delta, unitLinf, touches)
    }
    /** NULL keys fail loud: they would silently drop from the release
      * joins (null never equi-joins). */
    def keys(df: DataFrame): Seq[Column] = keyCols.map(n =>
      when(col(n).isNull, raise_error(lit(
        s"$what: NULL key '$n' — it would silently drop from the release " +
          "joins; coalesce or filter upstream")).cast(df.schema(n).dataType))
        .otherwise(col(n)).as(n))
    /** With public keys, non-public rows drop before bounding, so
      * nothing they carry can shape the release. */
    def rows(df: DataFrame): DataFrame = pub.fold(df)(p =>
      df.join(p, keyCols.map(n => df(n) === p(n)).reduce(_ && _),
        "left_semi"))
    /** Axis `i`'s clamped leaf bin of `value` over the public [lo, hi):
      * values CLAMP into the domain (the clamp is part of the released
      * statistic; dropping out-of-range rows would make presence-in-range
      * data-dependent); NULL values fail loud. */
    def bin(i: Int, value: Column, lo: Double, hi: Double,
        label: String = "value"): Binned = {
      require(lo < hi, s"empty $label domain [$lo, $hi)")
      val v = orFail(value, s"$what: NULL $label for a privacy unit — " +
        "nulls have no bin; filter or impute upstream")
      Binned(v, binOf(v, lit(lo), lit((hi - lo) / axes(i).bins), axes(i).bins))
    }
  }

  private[graft] def scope(what: String, keyCols: Seq[String],
      publicKeys: Option[DataFrame], axes: Axis*): TreeScope = {
    require(publicKeys.isEmpty || keyCols.nonEmpty,
      "publicKeys given but keyCols is empty — nothing to make public")
    TreeScope(what, keyCols, publicKeys.map(p => broadcast(
      p.toDF(keyCols: _*).distinct().localCheckpoint(false))), axes)
  }

  /** A NULL-checked value column and its leaf bin. */
  private[graft] final case class Binned(value: Column, bin: Column)

  private def orFail(c: Column, msg: String): Column =
    when(c.isNull, raise_error(lit(msg)).cast("double"))
      .otherwise(c.cast("double"))

  private def binOf(v: Column, lo: Column, width: Column, bins: Int): Column =
    least(greatest(floor((v - lo) / width), lit(0.0)),
      lit((bins - 1).toDouble)).cast("long")

  /** The dyadic rollup: each leaf row explodes to its levels+1 covering
    * nodes per axis and `value` sums to `__s` per (nodes..., keys...).
    * With `store`, the result folds into an earlier node store (the
    * ingest steps' micro-batch fold). Returns (lvl, idx per axis...,
    * keys..., __s). */
  private[graft] def dyadicRollup(leaves: DataFrame, sc: TreeScope,
      value: String, store: Option[DataFrame] = None): DataFrame = {
    val nodeCs = sc.axes.flatMap(a => Seq(col(a.lvl), col(a.idx))) ++
      sc.keyCols.map(col)
    val contrib = sc.axes.foldLeft(leaves)((d, a) => d
        .withColumn(a.lvl, explode(sequence(lit(0), lit(a.levels))))
        .withColumn(a.idx, expr(s"shiftright(${a.leaf}, ${a.lvl})")))
      .groupBy(nodeCs: _*)
      .agg(sum(col(value)).cast("double").as("__s"))
    store.fold(contrib)(st => st.unionByName(contrib)
      .groupBy(nodeCs: _*).agg(sum(col("__s")).as("__s")))
  }

  /** Pin a node store handed to a release unless it already is stored
    * rows (a pinned frame, a local literal or a file scan, under
    * projections and filters): the key universe and the release join
    * both read it, and a store that still carries its ingest plan would
    * run that ingest twice. One rule for every release entry point. */
  private[graft] def materialized(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical
    def stored(p: logical.LogicalPlan): Boolean = p match {
      case _: org.apache.spark.sql.execution.LogicalRDD |
          _: logical.LocalRelation |
          _: org.apache.spark.sql.execution.datasources.LogicalRelation => true
      case logical.Project(_, c) => stored(c)
      case logical.Filter(_, c) => stored(c)
      case logical.SubqueryAlias(_, c) => stored(c)
      case _ => false
    }
    if (stored(df.queryExecution.analyzed)) df else df.localCheckpoint(false)
  }

  /** The key universe a release draws over: the public keys (cast to
    * `keysFrom`'s key types — the literal noise frame claims that schema,
    * so a mismatched user frame coerces or fails here; distinct AFTER the
    * cast, so values colliding post-cast draw once) or the observed keys
    * of `keysFrom`, a frame the caller has already materialized. One
    * bounded collect: keys x nodes literal rows must fit the driver. */
  private[graft] def releaseKeys(keysFrom: DataFrame,
      sc: TreeScope): Seq[org.apache.spark.sql.Row] =
    if (sc.keyCols.isEmpty) Seq(org.apache.spark.sql.Row.empty)
    else {
      val kd = sc.pub
        .map(p => p.toDF(sc.keyCols: _*).select(sc.keyCols.map(n =>
          col(n).cast(keysFrom.schema(n).dataType).as(n)): _*).distinct())
        .getOrElse(keysFrom.select(sc.keyCols.map(col): _*).distinct())
      boundedCollect(kd, sc.what, math.max(1L, MaxDriverRows / sc.nodes),
        s"distinct keys (the release draws keys x ${sc.nodes} node noises " +
          "driver-side)").toSeq
    }

  /** The one per-node draw: Laplace b or Gaussian sigma per `kind`. */
  private[graft] def drawer(noise: graft.core.NoiseSource,
      kind: graft.core.NoiseKind, scale: Double): () => Double = kind match {
    case graft.core.NoiseKind.Laplace  => () => noise.laplace(scale)
    case graft.core.NoiseKind.Gaussian => () => noise.gaussian(scale)
  }

  /** THE noisy release: the generated node universe x the key universe
    * `keyRows` ([[releaseKeys]] of `keysFrom`, which also gives the key
    * types), one draw per node, empty nodes included (a
    * missing draw would disclose emptiness), left-joined to the node
    * store `nodes`. Returns (lvl, idx per axis..., keys..., dp_count).
    *
    * DRAW-ONCE: node noise is drawn HERE, ON THE DRIVER, and enters the
    * plan as a literal frame. A nondeterministic noise UDF would re-draw
    * on every action and on every reference to the release inside one
    * plan (a readout joining the tree twice), silently multiplying the
    * epsilon spend; the literal frame makes the released plan
    * deterministic, retry-proof, and read by any number of consumers
    * and actions as one draw set. The universe is generated and
    * bins-shaped, never data-shaped, so driver draws are cheap. Draw
    * order is keys outer, then (lvl, idx) per axis in axis order —
    * seeded releases depend on it (DrawOrderSpec pins it).
    *
    * The store side is BROADCAST: it is bounded by keys x nodes (the
    * same driver budget as the literal frame) but a pinned plan carries
    * no size statistics, and the planner would otherwise sort-merge two
    * bounded frames. At the guard's limit (MaxDriverRows rows, ~50 B
    * each) that is a ~100 MB broadcast — past autoBroadcastJoinThreshold
    * on purpose; size the driver for it or shard by key range.
    *
    * Past the guard, keyed trees shard: they are PER-KEY releases, so
    * disjoint key ranges release independently ([[shardedByKeyRange]])
    * and compose in parallel — zero extra budget. */
  private[graft] def release(nodes: DataFrame, keysFrom: DataFrame,
      keyRows: Seq[org.apache.spark.sql.Row], sc: TreeScope, scale: Double,
      noise: graft.core.NoiseSource, kind: graft.core.NoiseKind): DataFrame = {
    import org.apache.spark.sql.types._
    val draw = drawer(noise, kind, scale)
    val coords = sc.axes.foldLeft(Seq(Seq.empty[Any])) { (cs, a) =>
      for (c <- cs; l <- 0 to a.levels; i <- 0L until (a.bins.toLong >> l))
        yield c :+ l :+ i
    }
    val rows = for (kr <- keyRows; c <- coords)
      yield org.apache.spark.sql.Row.fromSeq((c ++ kr.toSeq) :+ draw())
    val nodeCols = sc.axes.flatMap(a => Seq(a.lvl, a.idx))
    val schema = StructType(sc.axes.flatMap(a => Seq(
        StructField(a.lvl, IntegerType, nullable = false),
        StructField(a.idx, LongType, nullable = false))) ++
      sc.keyCols.map(keysFrom.schema(_)) :+
      StructField("__noise", DoubleType, nullable = false))
    nodes.sparkSession.createDataFrame(new java.util.ArrayList(rows.asJava),
        schema)
      .join(broadcast(nodes), nodeCols ++ sc.keyCols, "left")
      .select((nodeCols ++ sc.keyCols).map(col) :+
        (coalesce(col("__s"), lit(0.0)) + col("__noise")).as("dp_count"): _*)
  }

  /** [[release]] of a node store a caller hands in ([[materialized]]
    * decides whether it needs a pin). */
  private def releaseStore(store: DataFrame, sc: TreeScope, scale: Double,
      noise: graft.core.NoiseSource, kind: graft.core.NoiseKind): DataFrame = {
    val st = materialized(store)
    release(st, st, releaseKeys(st, sc), sc, scale, noise, kind)
  }

  /** [[release]] sharded by key range ([[shardedByKeyRange]]). */
  private def shardedRelease(store: DataFrame, sc: TreeScope, scale: Double,
      noise: graft.core.NoiseSource, kind: graft.core.NoiseKind,
      outDir: String, maxKeysPerShard: Long): DataFrame =
    shardedByKeyRange(store, sc.keyCols, sc.pub, sc.nodes, maxKeysPerShard,
      outDir) { (slice, shardKeys) =>
      val shard = sc.copy(pub = Some(shardKeys))
      release(slice, slice, releaseKeys(slice, shard), shard, scale, noise, kind)
    }

  /** The COUNT trees' bounded node store: per-unit capped leaf counts
    * ([[cappedLeafCounts]]) rolled up over `sc`'s axes, folded into
    * `store` when given. */
  private def countStore(df: DataFrame, pidCol: String, sc: TreeScope,
      dims: Seq[Binned], maxPerUnit: Long,
      store: Option[DataFrame] = None): DataFrame = {
    require(maxPerUnit > 0, s"maxPerUnit must be positive, got $maxPerUnit")
    val leaves = sc.axes.map(_.leaf)
    val leafCounts = cappedLeafCounts(
      sc.rows(df).select((col(pidCol) +: sc.keys(df)) ++
        dims.zip(leaves).map { case (d, l) => d.bin.as(l) }: _*),
      pidCol, sc.keyCols, leaves, maxPerUnit)
    dyadicRollup(leafCounts, sc, "__cb", store)
  }

  /** The SUM trees' bounded node store (1-D and 2-D): each row's weight
    * CLAMPS into [minW, maxW] (the order-free bounding — part of the
    * released statistic, not a filter; NULL weights fail loud), each
    * unit keeps its first `maxPerUnit` rows ranked by (bins..., weight,
    * values...) — deterministic under task retries; a binding cap
    * selects by weight, so sum trees rank rows where count trees
    * aggregate first — then leaf sums roll up over `sc`'s axes. */
  private def sumStore(df: DataFrame, pidCol: String, weightCol: Column,
      minW: Double, maxW: Double, sc: TreeScope, dims: Seq[Binned],
      maxPerUnit: Long): DataFrame = {
    require(maxPerUnit > 0, s"maxPerUnit must be positive, got $maxPerUnit")
    require(minW <= maxW, s"minW $minW > maxW $maxW")
    val leaves = sc.axes.map(_.leaf)
    val keyCs = sc.keyCols.map(col)
    val w = least(greatest(orFail(weightCol, s"${sc.what}: NULL weight " +
      "for a privacy unit — nulls have no clipping semantics; filter or " +
      "impute upstream"), lit(minW)), lit(maxW))
    val leafSums = dims.zip(leaves)
      .foldLeft(sc.rows(df)) { case (d, (b, l)) => d.withColumn(l, b.bin) }
      .withColumn("__w", w)
      .withColumn("__rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col(pidCol) +: keyCs: _*)
          .orderBy((leaves.map(col(_).asc) :+ col("__w").asc) ++
            dims.map(_.value.asc): _*)))
      .filter(col("__rk") <= maxPerUnit)
      .select((leaves.map(col) :+ col("__w")) ++ sc.keys(df): _*)
      // leaf sums BEFORE the level explode: the explode then multiplies
      // <= bins x keys leaf rows, not every surviving row
      .groupBy(leaves.map(col) ++ keyCs: _*)
      .agg(sum(col("__w")).as("__wb"))
    dyadicRollup(leafSums, sc, "__wb")
  }

  /** Bounded leaf counts per (unit, key, leaf cell) — the COUNT trees'
    * bounding. It aggregates FIRST: per-(unit, key, cell) counts
    * (map-side partial aggregation collapses the shuffle to the
    * distinct-cell frame), then applies the deterministic cap via the
    * cell-ascending prefix — cell c of a unit contributes min(count_c,
    * max(0, maxPerUnit - sum of counts before c)) — which keeps, cell by
    * cell, exactly the rows a `row_number <= maxPerUnit` rank over
    * (cell, value) would keep (within-cell order only breaks ties among
    * interchangeable rows of one cell, and a count tree never reads
    * which ones). The cap window sorts bounded per-unit leaf rows, not
    * the data, and the level explode runs over per-cell counts
    * downstream. Returns (binCols..., keyCols..., __cb) with __cb = the
    * capped leaf count, already summed across units. */
  private def cappedLeafCounts(
      projected: DataFrame, pidCol: String, keyCols: Seq[String],
      binCols: Seq[String], maxPerUnit: Long): DataFrame = {
    val keyCs = keyCols.map(col)
    val binCs = binCols.map(col)
    val perCell = projected
      .groupBy((col(pidCol) +: keyCs) ++ binCs: _*)
      .agg(count(lit(1)).as("__c"))
    val capped =
      if (maxPerUnit == Long.MaxValue) perCell.withColumn("__cb", col("__c"))
      else perCell
        .withColumn("__cum", sum(col("__c")).over(
          org.apache.spark.sql.expressions.Window
            .partitionBy((col(pidCol) +: keyCs): _*)
            .orderBy(binCs.map(_.asc): _*)) - col("__c"))
        .withColumn("__cb", least(col("__c"),
          greatest(lit(maxPerUnit) - col("__cum"), lit(0L))))
        .filter(col("__cb") > 0)
    capped
      .groupBy(binCs ++ keyCs: _*)
      .agg(sum(col("__cb")).as("__cb"))
  }

  /** Tree domain from a PUBLIC schema contract — the adopter's first
    * question ("my bounds aren't a power of two"). The caller supplies
    * the PUBLIC `[lo, hi)` (a schema or business contract: scores in
    * [0, 1), prices in [0, 500) — NEVER derived from the data; a
    * data-derived min/max is itself a privacy leak, see
    * [[dpEstimatedDomain]] for the no-contract case) and the bin
    * RESOLUTION they want. The helper keeps the requested bin width
    * EXACTLY — (hi - lo) / minBins — and pads the domain upward to the
    * next power-of-two bin count: the padding bins sit above `hi`,
    * provably empty of in-contract data, and still draw noise like any
    * empty node (releasing them leaks nothing — their exact count is a
    * data-independent zero). Padding up beats stretching the width: a
    * stretched width silently changes the resolution the caller asked
    * for, while empty top bins cost one extra tree level at worst. */
  def paddedDomain(lo: Double, hi: Double, minBins: Int): RangeTreeDomain = {
    require(lo < hi, s"empty domain [$lo, $hi)")
    val bins = paddedBins(minBins)
    val width = (hi - lo) / minBins
    RangeTreeDomain(lo, lo + bins * width, bins)
  }

  /** The power-of-two bin count [[paddedDomain]] pads `minBins` up to —
    * a pure function of the requested resolution, so keyed domains
    * ([[dpEstimatedDomains]]) share ONE bin count across keys (the tree
    * SHAPE is uniform; only [lo, hi) varies per key). */
  def paddedBins(minBins: Int): Int = {
    require(minBins >= 2 && minBins <= 4096,
      s"minBins must be in [2, 4096], got $minBins")
    if ((minBins & (minBins - 1)) == 0) minBins
    else Integer.highestOneBit(minBins) * 2
  }

  /** DP-ESTIMATED tree domain for the no-contract case: spends `epsilon`
    * on a coarse probe tree over a caller-supplied PUBLIC ENVELOPE and
    * reads the (qLo, qHi) quantile bins off it, expands by `expand` of
    * the estimated span on each side, and snaps to [[paddedDomain]] at
    * the requested resolution. Honest shape of the problem: SOME public
    * domain is always required (the envelope may be generous — a wide
    * envelope costs only probe-resolution accuracy, (envHi - envLo) /
    * 4096 per side), and the returned bounds are themselves a DP release
    * — composing eps_bounds + eps_tree is the caller's accounting (basic
    * composition; the reference's histogram tier documents the same
    * caveat, reference: analysis/pre_aggregation.py and
    * pipeline_dp/dataset_histograms/computing_histograms.py:89-138).
    * NEVER pass a raw min/max instead: data-derived bounds silently
    * leak presence at the extremes. Zero noise => the exact empirical
    * quantile bins of the envelope grid (deterministic, spec-pinned). */
  def dpEstimatedDomain(
      df: DataFrame,
      pidCol: String,
      valueCol: Column,
      envLo: Double,
      envHi: Double,
      minBins: Int,
      epsilon: Double,
      maxPerUnit: Long,
      noise: graft.core.NoiseSource,
      qLo: Double = 0.01,
      qHi: Double = 0.99,
      expand: Double = 0.1
  ): RangeTreeDomain = {
    require(qLo > 0 && qLo < qHi && qHi <= 1, s"bad quantiles ($qLo, $qHi)")
    require(expand >= 0, s"expand must be >= 0, got $expand")
    val probeBins = 4096
    val probe = dpRangeCountTree(df, pidCol, valueCol, Nil, envLo, envHi,
      probeBins, epsilon, maxPerUnit, noise)
    val qs = quantilesFromTree(probe, Nil, envLo, envHi, probeBins,
      Seq(qLo, qHi))
      .collect().map(r => r.getDouble(0) -> r.getDouble(2)).toMap
    val w = (envHi - envLo) / probeBins
    val lo0 = qs(qLo)
    val hi0 = qs(qHi) + w // the qHi bin's UPPER edge
    // under real noise the qHi readout can land BELOW the qLo readout
    // (heavy draws on the early decomposition nodes); name that failure
    // here instead of letting it surface as paddedDomain's generic
    // "empty domain" require (r14 advice)
    require(lo0 < hi0,
      f"dpEstimatedDomain: noisy quantile inversion — the q=$qHi%g probe " +
        f"read bin edge $hi0%g at or below the q=$qLo%g edge $lo0%g; the " +
        "probe's noise overwhelmed the data's spread. Spend a larger " +
        "epsilon on the probe, widen (qLo, qHi), or pass a PUBLIC domain " +
        "via paddedDomain instead")
    val span = hi0 - lo0
    paddedDomain(lo0 - expand * span, hi0 + expand * span, minBins)
  }

  /** PER-KEY DP-estimated domains (r15, the heterogeneous-scales case —
    * prices per country): the SAME budgeted probe as
    * [[dpEstimatedDomain]] but KEYED — one probe tree per key over the
    * shared PUBLIC envelope, per-key quantile readout, per-key
    * expand-and-pad — returning a domains frame (keyCols..., lo, hi)
    * with ONE shared bin count ([[paddedBins]]; the tree shape stays
    * uniform, only the value range varies). Feed it to
    * [[dpRangeCountTreePerKeyDomains]].
    *
    * PRIVACY: the per-key domain VALUES are post-processing of the keyed
    * probe release (eps_bounds once — the probe's trees are per-key, so
    * disjoint keys compose in parallel exactly as the main release's
    * do); account eps_bounds + eps_tree as with the global helper. Key
    * EXISTENCE follows the probe's universe rules verbatim: with
    * `publicKeys = None` the domains frame's key set is the OBSERVED
    * set (releasing a key's domain at all reveals contribution); pass
    * `publicKeys` or a DP-selected key frame for a data-independent
    * set. A key whose noisy quantiles invert fails loud with the
    * [[dpEstimatedDomain]] inversion message. Everything is
    * distributed — the domains frame never collects. */
  def dpEstimatedDomains(
      df: DataFrame,
      pidCol: String,
      valueCol: Column,
      keyCols: Seq[String],
      envLo: Double,
      envHi: Double,
      minBins: Int,
      epsilon: Double,
      maxPerUnit: Long,
      noise: graft.core.NoiseSource,
      qLo: Double = 0.01,
      qHi: Double = 0.99,
      expand: Double = 0.1,
      publicKeys: Option[DataFrame] = None
  ): DataFrame = {
    require(keyCols.nonEmpty,
      "dpEstimatedDomains needs keyCols — dpEstimatedDomain is the " +
        "global (keyless) helper")
    require(qLo > 0 && qLo < qHi && qHi <= 1, s"bad quantiles ($qLo, $qHi)")
    require(expand >= 0, s"expand must be >= 0, got $expand")
    val probeBins = 4096
    val bins = paddedBins(minBins)
    val keyCs = keyCols.map(col)
    val probe = dpRangeCountTree(df, pidCol, valueCol, keyCols, envLo,
      envHi, probeBins, epsilon, maxPerUnit, noise, publicKeys)
    val w = (envHi - envLo) / probeBins
    val piv = quantilesFromTree(probe, keyCols, envLo, envHi, probeBins,
        Seq(qLo, qHi))
      .groupBy(keyCs: _*)
      .agg(min(when(col("q") === qLo, col("value_lo"))).as("__lo0"),
        (min(when(col("q") === qHi, col("value_lo"))) + lit(w)).as("__hi0"))
    val span = col("__hi0") - col("__lo0")
    val loE = col("__lo0") - lit(expand) * span
    val hiE = col("__hi0") + lit(expand) * span
    val width = (hiE - loE) / lit(minBins.toDouble)
    // the paddedDomain math per key; inversion (noisy qHi at or below
    // qLo) fails loud with the named cause, not a downstream NaN domain
    piv.select(keyCs :+
      when(col("__lo0") >= col("__hi0"), raise_error(lit(
        "dpEstimatedDomains: noisy quantile inversion for a key — the " +
          "probe's noise overwhelmed that key's spread. Spend a larger " +
          "epsilon on the probe, widen (qLo, qHi), or pass a PUBLIC " +
          "domain instead")).cast("double"))
        .otherwise(loE).as("lo") :+
      (loE + lit(bins.toDouble) * width).as("hi"): _*)
  }

  /** The keyed tree release over PER-KEY domains: each key's
    * values bin against ITS OWN [lo, hi) from the `domains` frame
    * (keyCols..., lo, hi — one row per key, e.g. [[dpEstimatedDomains]]
    * output or a per-key schema contract), all trees sharing one `bins`
    * shape, released as one keyed tree frame. Rows whose key has no
    * domain DROP before bounding and every domain key releases a full
    * tree, empty or not — the domains frame IS the public key set (it
    * is itself a DP release or a contract, so conditioning on it is
    * post-processing). Node indices are key-LOCAL bins: bin-unit
    * readouts ([[rangeQueries]] by bin, [[quantilesFromTree]]'s `bin`
    * column, [[enforceConsistency]]) consume the release unchanged;
    * VALUE-unit mapping (value_lo, rangeQueriesByValue) needs the key's
    * own (lo, hi) — join the domains frame. Zero noise => exact per-key
    * counts at per-key resolution. */
  def dpRangeCountTreePerKeyDomains(
      df: DataFrame,
      pidCol: String,
      valueCol: Column,
      keyCols: Seq[String],
      domains: DataFrame,
      bins: Int,
      epsilon: Double,
      maxPerUnit: Long,
      noise: graft.core.NoiseSource,
      noiseKind: graft.core.NoiseKind = graft.core.NoiseKind.Laplace,
      delta: Double = 0.0
  ): DataFrame = {
    require(keyCols.nonEmpty,
      "dpRangeCountTreePerKeyDomains needs keyCols — use dpRangeCountTree " +
        "with a global domain otherwise")
    val ax = axis("bins", bins)
    require(epsilon > 0, s"epsilon must be positive, got $epsilon")
    require(maxPerUnit > 0, s"maxPerUnit must be positive, got $maxPerUnit")
    val keyCs = keyCols.map(col)
    // NULL domain bounds fail loud: a null lo/hi would null every bin of
    // that key and the release join would silently drop its rows. The
    // bounds join back under internal names so a data frame that already
    // carries a 'lo'/'hi' column cannot collide
    def checkedBound(n: String) = orFail(col(n),
      s"dpRangeCountTreePerKeyDomains: NULL $n in the domains frame — " +
        "every key needs a concrete [lo, hi); fix the domains upstream")
      .as(s"__dom_$n")
    val dom = domains.select(keyCs :+ checkedBound("lo") :+
      checkedBound("hi"): _*).localCheckpoint(false)
    // one row per key — a conflicting duplicate would silently double
    // rows through the join (one distributed agg, nothing collects)
    val chk = dom.agg(count(lit(1)).as("n"),
      count_distinct(keyCs.head, keyCs.tail: _*).as("k")).head()
    require(chk.getLong(0) == chk.getLong(1),
      s"dpRangeCountTreePerKeyDomains: ${chk.getLong(0)} domain rows for " +
        s"${chk.getLong(1)} distinct keys — the domains frame must have " +
        "exactly one row per key")
    // the release guard's key budget, enforced HERE as well: the domains
    // frame is broadcast below, so an over-budget key set must fail with
    // this shaped message at ingest, not as an opaque broadcast build OOM
    // after the whole ingest ran
    val maxDomKeys = math.max(1L, MaxDriverRows / ax.nodes)
    require(chk.getLong(0) <= maxDomKeys,
      s"dpRangeCountTreePerKeyDomains: ${chk.getLong(0)} domain keys — over " +
        s"the $maxDomKeys-key budget for bins=$bins (the domains frame is " +
        "broadcast and the release draws keys x nodes noises driver-side); " +
        "shard the release by key range")
    // the domains frame IS the public key set (no semi-join: rows without
    // a domain drop at the domains join)
    val sc = TreeScope("dpRangeCountTreePerKeyDomains", keyCols,
      Some(dom.select(keyCs: _*)), Seq(ax))
    // NULL keys fail loud BEFORE the domains join would silently drop
    // them. BROADCAST the domains side: it is driver-bounded by the guard
    // above, while its pinned plan carries no size stats — without the
    // hint the planner sort-merge-joins, shuffling the whole data frame
    val joined = keyCols.zip(sc.keys(df))
      .foldLeft(df) { case (d, (n, c)) => d.withColumn(n, c) }
      .join(broadcast(dom), keyCols)
    val v = orFail(valueCol, "dpRangeCountTreePerKeyDomains: NULL value " +
      "for a privacy unit — nulls have no bin; filter or impute upstream")
    val loC = when(col("__dom_lo") >= col("__dom_hi"), raise_error(lit(
        "dpRangeCountTreePerKeyDomains: empty domain [lo, hi) for a key"))
        .cast("double"))
      .otherwise(col("__dom_lo"))
    val leafCounts = cappedLeafCounts(
      joined.select((col(pidCol) +: keyCs) :+ binOf(v, loC,
        (col("__dom_hi") - loC) / lit(bins.toDouble), bins).as("__bin"): _*),
      pidCol, keyCols, Seq("__bin"), maxPerUnit)
    releaseStore(dyadicRollup(leafCounts, sc, "__cb"), sc,
      sc.scale(noiseKind, epsilon, delta, maxPerUnit.toDouble), noise,
      noiseKind)
  }

  /** Released noisy dyadic tree: (keyCols..., __lvl, __idx, dp_count)
    * where level 0 = leaves (bin width (hi-lo)/bins) and level
    * log2(bins) = the root; node (l, i) covers leaf bins
    * [i*2^l, (i+1)*2^l). Zero noise => exact node counts.
    *
    * KEY-EXISTENCE (the continual family's caveat, verbatim): with
    * `publicKeys = None` the key universe is the OBSERVED key set —
    * releasing a key's tree at all reveals that someone contributed to
    * it, which node noise cannot hide. Pass `publicKeys` (a one-column
    * frame matching `keyCols`, by position) to make the release set
    * fully data-independent: non-public rows DROP before bounding and
    * every public key releases its full tree, empty or not. With no
    * public contract, discover the key set PRIVATELY first —
    * [[DPEngine.selectPartitions]] — and pass the selected frame here:
    * the selection is itself a DP release, so conditioning the trees on
    * it is safe post-processing (account eps_select + eps_tree; the
    * `dp_range_selected` row and the preThreshold spec pin the
    * composition). */
  def dpRangeCountTree(
      df: DataFrame,
      pidCol: String,
      valueCol: Column,
      keyCols: Seq[String],
      lo: Double,
      hi: Double,
      bins: Int,
      epsilon: Double,
      maxPerUnit: Long,
      noise: graft.core.NoiseSource,
      publicKeys: Option[DataFrame] = None,
      noiseKind: graft.core.NoiseKind = graft.core.NoiseKind.Laplace,
      delta: Double = 0.0
  ): DataFrame = {
    // one-shot = the streaming fold's ingest + release over one batch:
    // DETERMINISTIC per-unit cap (each unit's bins contribute,
    // bin-ascending, until maxPerUnit rows are spent — the same kept
    // counts as ranking rows by (bin, value), fully deterministic under
    // task retries)
    val sc = scope("dpRangeCountTree", keyCols, publicKeys, axis("bins", bins))
    val scale = sc.scale(noiseKind, epsilon, delta, maxPerUnit.toDouble)
    releaseStore(countStore(df, pidCol, sc, Seq(sc.bin(0, valueCol, lo, hi)),
      maxPerUnit), sc, scale, noise, noiseKind)
  }

  /** The SUM analogue of [[dpRangeCountTree]]: each row carries a
    * CLAMPED weight (weightCol into [minW, maxW] — the dpWindowedSum
    * order-free convention) and every dyadic node releases the noisy sum
    * of its bins' weights, so any range query answers "how much MASS sits
    * in this value range" (revenue by price band, tokens by length band)
    * with O(log^1.5 B / eps) error. Same deterministic per-unit row cap,
    * clamped binning, generated universe, fail-loud NULLs, and per-key
    * trees as the count tree; per-node Laplace scale is
    * maxPerUnit * max(|minW|, |maxW|) * (levels+1) / epsilon (Gaussian:
    * sigma at L2 = maxPerUnit * max|W| * sqrt(levels+1)). Range
    * queries reuse [[rangeQueries]] verbatim (the released schema is
    * identical). Zero noise => exact clamped range sums. */
  def dpRangeSumTree(
      df: DataFrame,
      pidCol: String,
      valueCol: Column,
      weightCol: Column,
      keyCols: Seq[String],
      lo: Double,
      hi: Double,
      bins: Int,
      epsilon: Double,
      maxPerUnit: Long,
      minW: Double,
      maxW: Double,
      noise: graft.core.NoiseSource,
      publicKeys: Option[DataFrame] = None,
      noiseKind: graft.core.NoiseKind = graft.core.NoiseKind.Laplace,
      delta: Double = 0.0
  ): DataFrame = {
    val sc = scope("dpRangeSumTree", keyCols, publicKeys, axis("bins", bins))
    val scale = sc.scale(noiseKind, epsilon, delta,
      maxPerUnit.toDouble * math.max(math.abs(minW), math.abs(maxW)))
    releaseStore(sumStore(df, pidCol, weightCol, minW, maxW, sc,
      Seq(sc.bin(0, valueCol, lo, hi)), maxPerUnit), sc, scale, noise,
      noiseKind)
  }

  /** KEY-RANGE SHARDED sum tree — [[dpRangeSumTree]] at ANY key
    * cardinality (the [[dpRangeCountTreeSharded]] loop over the clamped-
    * weight store; same draw-once / zero-extra-budget contract). */
  def dpRangeSumTreeSharded(
      df: DataFrame,
      pidCol: String,
      valueCol: Column,
      weightCol: Column,
      keyCols: Seq[String],
      lo: Double,
      hi: Double,
      bins: Int,
      epsilon: Double,
      maxPerUnit: Long,
      minW: Double,
      maxW: Double,
      noise: graft.core.NoiseSource,
      outDir: String,
      publicKeys: Option[DataFrame] = None,
      noiseKind: graft.core.NoiseKind = graft.core.NoiseKind.Laplace,
      delta: Double = 0.0,
      maxKeysPerShard: Long = 0L
  ): DataFrame = {
    val sc = scope("dpRangeSumTreeSharded", keyCols, publicKeys,
      axis("bins", bins))
    val scale = sc.scale(noiseKind, epsilon, delta,
      maxPerUnit.toDouble * math.max(math.abs(minW), math.abs(maxW)))
    shardedRelease(sumStore(df, pidCol, weightCol, minW, maxW, sc,
      Seq(sc.bin(0, valueCol, lo, hi)), maxPerUnit), sc, scale, noise,
      noiseKind, outDir, maxKeysPerShard)
  }

  /** Range queries answered from a released tree — PURE POST-PROCESSING
    * (no new budget, no new draws): each query range [loBin, hiBin]
    * (inclusive leaf-bin indices) decomposes into its minimal dyadic
    * cover, computed on the driver (pure arithmetic over the QUERY set,
    * never the data) and joined against the tree. Returns
    * (query_id, lo_bin, hi_bin, keyCols..., dp_range_count). */
  def rangeQueries(
      tree: DataFrame,
      keyCols: Seq[String],
      ranges: Seq[(Long, Long)],
      bins: Int
  ): DataFrame = {
    require(ranges.nonEmpty, "no ranges")
    val spark0 = tree.sparkSession
    val cover: Seq[(Long, Long, Long, Int, Long)] = // (qid, lo, hi, lvl, idx)
      ranges.zipWithIndex.flatMap { case ((qlo, qhi), qid) =>
        // hi must sit INSIDE the domain: the decomposition of an
        // out-of-range query names nodes the tree does not have, and the
        // inner join would silently drop them — a partial count released
        // as if complete (r13 self-review)
        require(qlo >= 0 && qhi >= qlo && qhi < bins,
          s"range [$qlo, $qhi] outside the bin domain [0, $bins) — an " +
            "out-of-domain cover would silently drop its missing nodes")
        decompose(qlo, qhi).map { case (l, i) =>
          (qid.toLong, qlo, qhi, l, i)
        }
      }
    import spark0.implicits._
    val coverDf = cover.toDF("query_id", "lo_bin", "hi_bin", "__lvl", "__idx")
    coverDf.join(tree, Seq("__lvl", "__idx"))
      .groupBy(col("query_id") +: col("lo_bin") +: col("hi_bin") +:
        keyCols.map(col): _*)
      .agg(sum(col("dp_count")).as("dp_range_count"))
  }

  /** [[rangeQueries]] in DOMAIN units: each (vLo, vHi) half-open value
    * range maps to the inclusive bin range [bin(vLo), bin(vHi - width/2)]
    * — exact when the bounds sit on bin edges (the released statistic is
    * bin-granular; off-edge bounds round OUT to the covering bins, so the
    * answered range always CONTAINS the asked one; fails loud on bounds
    * outside [lo, hi]). Output carries lo_bin/hi_bin so the caller sees
    * exactly which bin range was answered. */
  def rangeQueriesByValue(
      tree: DataFrame,
      keyCols: Seq[String],
      valueRanges: Seq[(Double, Double)],
      lo: Double,
      hi: Double,
      bins: Int
  ): DataFrame = {
    val width = (hi - lo) / bins
    val binRanges = valueRanges.map { case (vLo, vHi) =>
      require(vLo >= lo && vHi > vLo && vHi <= hi,
        s"value range [$vLo, $vHi) outside the domain [$lo, $hi)")
      val b0 = math.floor((vLo - lo) / width).toLong.min(bins - 1L)
      // the last covered bin: any bin whose interval intersects [vLo, vHi)
      val b1 = (math.ceil((vHi - lo) / width).toLong - 1L).max(b0).min(bins - 1L)
      (b0, b1)
    }
    rangeQueries(tree, keyCols, binRanges, bins)
  }

  /** Minimal dyadic cover of the inclusive bin range [lo, hi] — the
    * greedy largest-aligned-block walk; <= 2*log2(span) nodes. */
  private[spark] def decompose(lo: Long, hi: Long): Seq[(Int, Long)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
    var cur = lo
    while (cur <= hi) {
      // largest level where cur is aligned and the block fits
      var l = if (cur == 0) 62 else java.lang.Long.numberOfTrailingZeros(cur)
      while (l > 0 && (cur + (1L << l) - 1) > hi) l -= 1
      out += ((l, cur >> l))
      cur += (1L << l)
    }
    out.toSeq
  }

  /** DP quantiles from a released tree — PURE POST-PROCESSING: prefix
    * count at every leaf boundary via the dyadic decomposition, then for
    * each q the first bin whose prefix reaches q * total (total = the
    * root's released count). Returns (keyCols..., q, bin, value_lo) where
    * value_lo is the bin's lower edge in domain units. Zero noise =>
    * the exact empirical quantile bin.
    *
    * On a [[dpRangeSumTree]] release the same inversion reads WEIGHTED
    * (mass) quantiles — "the price band below which 90% of clamped
    * revenue sits" — meaningful when `minW >= 0` (a signed-mass CDF is
    * not monotone, so its inversion is not a quantile). */
  def quantilesFromTree(
      tree: DataFrame,
      keyCols: Seq[String],
      lo: Double,
      hi: Double,
      bins: Int,
      qs: Seq[Double]
  ): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0 && q <= 1), s"bad qs $qs")
    val levels = 31 - Integer.numberOfLeadingZeros(bins)
    val keyCs = keyCols.map(col)
    val qsArr = qs.toArray
    // FUSED READOUT (r16): one groupBy(key) collects the BOUNDED released
    // node set (2*bins-1 rows per key) and the whole inversion — every
    // prefix via its dyadic decomposition, then for each q the first bin
    // whose prefix reaches q * total (total = the root's released count,
    // already IN the node set at (levels, 0)) — runs task-side. The r15
    // shape shuffled three times (ticks crossJoin + decomposition join
    // groupBy(__t, key), root join, readout groupBy(key, q)) and pinned
    // the tree with a localCheckpoint; this consumes the tree ONCE with
    // one shuffle and no pin. Fail-loud contract kept: a key with no
    // root row throws (a silent drop would misread a partial tree).
    // Degenerate-noise conventions kept: no qualifying prefix => last
    // bin; negative total => bin 0 (every prefix qualifies).
    // r19: the UDF takes the struct array DIRECTLY and the Generate is
    // explode_OUTER. The r16 shape fed it through three interpreted
    // transform() projections of the 2*bins-1 node array, and the plain
    // explode triggered InferFiltersFromGenerate, which CLONES the whole
    // UDF + transform chain into an inferred size()>0 filter — every key
    // paid the interpreted array walk twice (the emb_pca lesson; measured
    // 2.25 s -> the readout over a warm 4096-bin probe). `read` is total
    // (one row per q, never null/empty), so outer generates identical rows.
    val read = udf((nodes0: Seq[org.apache.spark.sql.Row]) => {
      val nodes = nodeMapRows(nodes0)
      val total = nodes.getOrElse(nodeKey(levels, 0L),
        throw new IllegalStateException(
          "quantilesFromTree: key with no root node (lvl == levels) — " +
            "pass the tree's own bins and the FULL released universe"))
      val pfx = prefixesFromNodes(nodes, bins, levels)
      qsArr.toSeq.map { q =>
        var bin = -1
        var t = 0
        while (bin < 0 && t < bins) {
          if (pfx(t) >= q * total) bin = t
          t += 1
        }
        (q, (if (bin < 0) bins - 1 else bin).toLong)
      }
    })
    collectNodes(tree, keyCols)
      .select(keyCs :+ explode_outer(read(col("__n"))).as("__qb"): _*)
      .select(keyCs :+ col("__qb._1").as("q") :+ col("__qb._2").as("bin"): _*)
      .withColumn("value_lo", lit(lo) + col("bin") * lit((hi - lo) / bins))
  }

  /** One groupBy(key) collecting the tree's bounded node universe
    * (<= 2*bins-1 rows per key) as one (l, i, c) struct array — the shared
    * scan of the fused readouts. Keyless trees aggregate globally. */
  private def collectNodes(tree: DataFrame, keyCols: Seq[String]): DataFrame = {
    val keyCs = keyCols.map(col)
    tree.groupBy(keyCs: _*)
      .agg(collect_list(struct(col("__lvl").cast("int").as("l"),
        col("__idx").cast("long").as("i"),
        col("dp_count").cast("double").as("c"))).as("__n"))
  }

  /** The collected (l, i, c) struct rows as a (lvl, idx) -> count map —
    * [[nodeMap]] over the struct-array form the fused readouts consume. */
  private def nodeMapRows(rows: Seq[org.apache.spark.sql.Row])
      : scala.collection.mutable.LongMap[Double] = {
    val m = new scala.collection.mutable.LongMap[Double](rows.length * 2)
    var i = 0
    while (i < rows.length) {
      val r = rows(i)
      val k = nodeKey(r.getInt(0), r.getLong(1))
      if (m.contains(k)) throw new IllegalStateException(
        s"tree readout: duplicate node (lvl ${r.getInt(0)}, idx " +
          s"${r.getLong(1)}) in a key's released universe — a released " +
          "tree carries each node once; the union is corrupt (overlapping " +
          "shards or a double-written release)")
      m.update(k, r.getDouble(2))
      i += 1
    }
    m
  }

  private def nodeKey(lvl: Int, idx: Long): Long = (lvl.toLong << 48) | idx

  // (the parallel-seq nodeMap is gone — nodeMapRows above keeps its
  // duplicate-node FAIL-LOUD contract, 14th pass r17, over the struct rows)

  /** Every prefix [0, t] from the node map via its dyadic decomposition
    * (the [[prefixCounts]] arithmetic, task-side): prefix t sums nodes
    * (lvl, ((t+1) >> (lvl+1)) << 1) over the set bits of t+1, ascending
    * lvl — a FIXED order (the r15 shuffle-sum order was partition-
    * dependent; any fixed order is bit-stable and integer-exact on
    * zero-noise trees). A node absent from a released tree contributes 0
    * (complete releases carry every node; root-missing fails loud in the
    * callers that need the total). */
  private def prefixesFromNodes(
      nodes: scala.collection.mutable.LongMap[Double],
      bins: Int, levels: Int): Array[Double] = {
    val pfx = new Array[Double](bins)
    var t = 0
    while (t < bins) {
      var s = 0.0
      var lvl = 0
      while (lvl <= levels) {
        if ((((t + 1) >> lvl) & 1) == 1) {
          val idx = (((t + 1).toLong >> (lvl + 1)) << 1)
          s += nodes.getOrElse(nodeKey(lvl, idx), 0.0)
        }
        lvl += 1
      }
      pfx(t) = s
      t += 1
    }
    pfx
  }

  /** [[quantilesFromTree]] over a PER-KEY-DOMAIN tree
    * ([[dpRangeCountTreePerKeyDomains]]): bins are key-LOCAL, so the
    * value mapping needs each key's own [lo, hi) — the bin readout runs
    * once (pure post-processing, distributed) and the domains frame
    * joins back for `value_lo` = lo_k + bin * (hi_k - lo_k)/bins. A key
    * in the tree with no domain row fails loud (it cannot have come from
    * the per-key-domain release). Returns (keyCols..., q, bin,
    * value_lo). */
  def quantilesFromTreePerKeyDomains(
      tree: DataFrame,
      domains: DataFrame,
      keyCols: Seq[String],
      bins: Int,
      qs: Seq[Double]
  ): DataFrame = {
    require(keyCols.nonEmpty,
      "per-key-domain quantiles need keyCols — use quantilesFromTree " +
        "with the global domain otherwise")
    val keyCs = keyCols.map(col)
    // bin readout in bin units (lo = 0, width 1 — value_lo == bin, dropped)
    val binsOut = quantilesFromTree(tree, keyCols, 0.0, bins.toDouble,
      bins, qs).drop("value_lo")
    val dom = domains.select(keyCs :+ col("lo").cast("double") :+
      col("hi").cast("double"): _*)
    // dom is the SAME frame the release ingested (the contract below), so
    // it already passed the ingest-time key-budget guard
    // (dpRangeCountTreePerKeyDomains) — the broadcast is driver-bounded;
    // a foreign oversized frame fails in the broadcast build instead
    binsOut.join(broadcast(dom), keyCols, "left")
      .withColumn("value_lo",
        when(col("lo").isNull, raise_error(lit(
          "quantilesFromTreePerKeyDomains: a tree key has no domain row — " +
            "pass the SAME domains frame the release used")).cast("double"))
          .otherwise(col("lo") +
            col("bin") * ((col("hi") - col("lo")) / lit(bins.toDouble))))
      .select(keyCs :+ col("q") :+ col("bin") :+ col("value_lo"): _*)
  }

  /** The released CDF: the noisy prefix count at every leaf bin —
    * (keyCols..., bin, value_hi, dp_cdf_count) where value_hi is the
    * bin's UPPER edge (prefix [0, bin] covers values < value_hi). Pure
    * post-processing of the tree.
    *
    * `monotone = true` additionally projects each key's prefix sequence
    * onto the nondecreasing cone by PAVA (pool-adjacent-violators) — the
    * exact L2 projection, so the result is a valid (unnormalized) CDF
    * and is never farther from the true prefixes in L2 than the raw
    * release; on a zero-noise tree the projection is the identity
    * (exact prefixes are already monotone). DISTRIBUTED and FUSED (r16):
    * one groupBy(key) collects the BOUNDED node set (2*bins-1 rows, bins
    * <= 4096), and prefixes-by-decomposition plus the projection both
    * run inside the task — the r15 shape shuffled twice (decomposition
    * join groupBy(__t, key), then a PAVA regroup by key) behind a
    * localCheckpoint pin; this is one shuffle, no pin, no driver
    * collect, no key-cardinality cap. */
  def cdfFromTree(
      tree: DataFrame,
      keyCols: Seq[String],
      lo: Double,
      hi: Double,
      bins: Int,
      monotone: Boolean = true
  ): DataFrame = {
    val keyCs = keyCols.map(col)
    val levels = 31 - Integer.numberOfLeadingZeros(bins)
    val width = (hi - lo) / bins
    // struct-array UDF + explode_outer (r19): see quantilesFromTree — the
    // transform()-fed plain-explode shape evaluated the interpreted array
    // walk twice per key via InferFiltersFromGenerate
    val read = udf((nodes0: Seq[org.apache.spark.sql.Row]) => {
      val nodes = nodeMapRows(nodes0)
      // fail-loud root check (the quantilesFromTree contract): a keyless
      // tree's global groupBy always emits one row even on an EMPTY
      // input, and an empty/partial node list would otherwise read every
      // node as 0.0 — fabricating a full all-zero CDF where no release
      // happened
      if (!nodes.contains(nodeKey(levels, 0L)))
        throw new IllegalStateException(
          "cdfFromTree: key with no root node (lvl == levels) — pass the " +
            "tree's own bins and the FULL released universe (an empty or " +
            "partial tree has no CDF to read)")
      val pfx = prefixesFromNodes(nodes, bins, levels)
      val out = if (monotone) pavaFit(pfx) else pfx
      out.indices.map(t => (t.toLong, out(t)))
    })
    collectNodes(tree, keyCols)
      .select(keyCs :+ explode_outer(read(col("__n")))
        .as("__f"): _*)
      .select(keyCs :+ col("__f._1").as("bin") :+
        (lit(lo) + (col("__f._1") + 1) * lit(width)).as("value_hi") :+
        col("__f._2").as("dp_cdf_count"): _*)
  }

  /** PAVA (pool adjacent violators), pure: the exact L2 projection of
    * `v` onto the nondecreasing cone — each block carries (sum, count)
    * and merges while its mean undercuts its predecessor's. */
  private[graft] def pavaFit(v: Array[Double]): Array[Double] = {
    val blocks = scala.collection.mutable.ArrayBuffer.empty[(Double, Int)]
    v.foreach { x =>
      var (s, n) = (x, 1)
      while (blocks.nonEmpty && blocks.last._1 / blocks.last._2 > s / n) {
        val (ps, pn) = blocks.remove(blocks.length - 1)
        s += ps; n += pn
      }
      blocks += ((s, n))
    }
    blocks.iterator.flatMap { case (s, n) => Iterator.fill(n)(s / n) }.toArray
  }

  /** One ingest step of the range tree's STREAMING face — the
    * nightly-release pattern: micro-batches fold their bounded, binned
    * node contributions into an (un-noised) node-sum store as they
    * arrive; [[rangeTreeRelease]] draws noise ONCE when the tree is
    * published. The store is tree-shaped (at most (2*bins-1) x keys rows
    * after each step's re-aggregation), never data-shaped. Returns the
    * grown store; callers checkpoint it between steps (the
    * [[graft.streaming.StreamOps.onlineContinualStep]] convention).
    *
    * BOUNDING CONTRACT: the deterministic per-unit cap applies WITHIN
    * each batch — a unit whose rows straddle m batches can move the tree
    * by m * maxPerUnit rows, so the release is epsilon-DP w.r.t. one
    * unit's data within ONE batch (cell contract); route each unit's
    * rows through one batch (partition the ingest by unit) or account
    * the composition. Zero noise + non-binding caps => the fold over ANY
    * batch split releases exactly the one-shot tree (spec-pinned). */
  def rangeTreeIngestStep(
      batch: DataFrame,
      store: Option[DataFrame],
      pidCol: String,
      valueCol: Column,
      keyCols: Seq[String],
      lo: Double,
      hi: Double,
      bins: Int,
      maxPerUnit: Long,
      publicKeys: Option[DataFrame] = None
  ): DataFrame = {
    val sc = scope("rangeTreeIngestStep", keyCols, publicKeys,
      axis("bins", bins))
    countStore(batch, pidCol, sc, Seq(sc.bin(0, valueCol, lo, hi)),
      maxPerUnit, store)
  }

  /** Publish a folded node-sum store as a noisy tree: the generated node
    * universe x the store's observed keys (or `publicKeys`), one draw per
    * node (empty nodes too; Laplace or Gaussian per `noiseKind`,
    * [[treeScale]]) — the [[dpRangeCountTree]] release over an
    * accumulated store. The store is pinned unless it already is stored
    * rows ([[materialized]]), so its ingest never runs twice. Same
    * released schema, so [[rangeQueries]], [[quantilesFromTree]] and
    * [[enforceConsistency]] consume it unchanged. */
  def rangeTreeRelease(
      store: DataFrame,
      keyCols: Seq[String],
      bins: Int,
      epsilon: Double,
      maxPerUnit: Long,
      noise: graft.core.NoiseSource,
      publicKeys: Option[DataFrame] = None,
      noiseKind: graft.core.NoiseKind = graft.core.NoiseKind.Laplace,
      delta: Double = 0.0
  ): DataFrame = {
    require(maxPerUnit > 0, s"maxPerUnit must be positive, got $maxPerUnit")
    val sc = scope("rangeTreeRelease", keyCols, publicKeys, axis("bins", bins))
    releaseStore(store, sc,
      sc.scale(noiseKind, epsilon, delta, maxPerUnit.toDouble), noise,
      noiseKind)
  }

  /** Publish a folded node-sum store at an EXPLICIT per-node noise scale
    * — the accountant-driven face of [[rangeTreeRelease]]: when a
    * [[graft.core.BudgetAccountant]] resolves a tree release via
    * `requestTreeRelease`, its `TreeReleaseHandle.perNodeScale` plugs in
    * here directly (the epsilon-parameterized entry points compute the
    * same scale via [[treeScale]] — one release stage either way). */
  def rangeTreeReleaseWithScale(
      store: DataFrame,
      keyCols: Seq[String],
      bins: Int,
      perNodeScale: Double,
      noise: graft.core.NoiseSource,
      publicKeys: Option[DataFrame] = None,
      noiseKind: graft.core.NoiseKind = graft.core.NoiseKind.Laplace
  ): DataFrame = {
    require(perNodeScale >= 0,
      s"perNodeScale must be >= 0, got $perNodeScale")
    releaseStore(store, scope("rangeTreeReleaseWithScale", keyCols,
      publicKeys, axis("bins", bins)), perNodeScale, noise, noiseKind)
  }

  /** Driver-row budget for the bounded tree-shaped collects (release
    * draws, consistency sweep, PAVA projection): keys x (2*bins-1) rows
    * must fit comfortably on the driver, fail-loud enforced. */
  private[graft] val MaxDriverRows = 2000000L

  /** Shard-release concurrency of [[shardedByKeyRange]]: enough
    * threads to hide per-shard job-scheduling + parquet-commit latency
    * (the serial loop's fleet-scale bottleneck), small enough that the
    * combined in-flight literal frames stay a driver footnote (the
    * per-shard key cap divides by this, keeping the TOTAL at
    * [[MaxDriverRows]]). */
  private[graft] val ShardConcurrency = 4

  /** Guarded collect for the BOUNDED driver-side consumers (release key
    * universes, SVT query lists): ONE action collects at most cap+1 rows
    * — the cap+1-th row IS the over-budget signal, so an over-budget
    * frame fails loud with a shaped message having held only cap+1 rows
    * instead of OOMing the driver. `rows` names what is counted. */
  private[graft] def boundedCollect(
      df: DataFrame, what: String, cap: Long = MaxDriverRows,
      rows: String = "rows"): Array[org.apache.spark.sql.Row] = {
    val out = df.limit((cap + 1).toInt).collect()
    require(out.length <= cap,
      s"$what: over $cap $rows (the guard stops collecting there) — the " +
        "math on them is driver-side; reduce the key cardinality or shard " +
        "the release by key range (the *Sharded entry points do this " +
        "automatically)")
    out
  }

  /** KEY-RANGE SHARDED release — the automatic form of the manual
    * sharding pattern documented on [[release]]: a key universe beyond
    * the driver budget
    * (keys x (2*bins-1) literal noise rows must fit the driver — ~244
    * keys at 4096 bins) splits into deterministic key-range shards, each
    * released independently with `publicKeys = <the shard's keys>` and
    * WRITTEN TO STORAGE before the next shard draws — so the union never
    * holds more than one shard's literal noise frame in driver memory,
    * and the materialized parquet makes every shard's draws final
    * (draw-once across consumers, actions, AND shards: exactly one draw
    * per (key, node) in total, spec-pinned with a counting source).
    *
    * Privacy composes in PARALLEL over disjoint keys (cross-key
    * composition was always the caller's accounting — the family's cell
    * contract), so sharding costs zero extra budget. The read-back union
    * is a plain released tree: [[rangeQueries]], [[quantilesFromTree]],
    * [[cdfFromTree]] and [[enforceConsistency]] (both distributed)
    * consume it unchanged at ANY key cardinality.
    *
    * `store` is a folded node-sum store ([[rangeTreeIngestStep]] output —
    * what [[dpRangeCountTreeSharded]] builds for the one-shot case).
    * With `publicKeys` the shard universe is the PUBLIC set (keys absent
    * from the store still release full zero trees; store rows outside it
    * drop); otherwise the observed key set, with the usual key-existence
    * caveat. `maxKeysPerShard = 0` uses the release guard's own cap. */
  def shardedRangeTreeRelease(
      store: DataFrame,
      keyCols: Seq[String],
      bins: Int,
      epsilon: Double,
      maxPerUnit: Long,
      noise: graft.core.NoiseSource,
      outDir: String,
      publicKeys: Option[DataFrame] = None,
      noiseKind: graft.core.NoiseKind = graft.core.NoiseKind.Laplace,
      delta: Double = 0.0,
      maxKeysPerShard: Long = 0L
  ): DataFrame = {
    require(maxPerUnit > 0, s"maxPerUnit must be positive, got $maxPerUnit")
    val sc = scope("shardedRangeTreeRelease", keyCols, publicKeys,
      axis("bins", bins))
    shardedRelease(store, sc,
      sc.scale(noiseKind, epsilon, delta, maxPerUnit.toDouble), noise,
      noiseKind, outDir, maxKeysPerShard)
  }

  /** One-shot sharded keyed tree: [[rangeTreeIngestStep]] (distributed,
    * no key cap) + [[shardedRangeTreeRelease]] — the
    * [[dpRangeCountTree]] semantics at ANY key cardinality. */
  def dpRangeCountTreeSharded(
      df: DataFrame,
      pidCol: String,
      valueCol: Column,
      keyCols: Seq[String],
      lo: Double,
      hi: Double,
      bins: Int,
      epsilon: Double,
      maxPerUnit: Long,
      noise: graft.core.NoiseSource,
      outDir: String,
      publicKeys: Option[DataFrame] = None,
      noiseKind: graft.core.NoiseKind = graft.core.NoiseKind.Laplace,
      delta: Double = 0.0,
      maxKeysPerShard: Long = 0L
  ): DataFrame = {
    val sc = scope("dpRangeCountTreeSharded", keyCols, publicKeys,
      axis("bins", bins))
    val scale = sc.scale(noiseKind, epsilon, delta, maxPerUnit.toDouble)
    shardedRelease(countStore(df, pidCol, sc,
      Seq(sc.bin(0, valueCol, lo, hi)), maxPerUnit), sc, scale, noise,
      noiseKind, outDir, maxKeysPerShard)
  }

  /** The sharding orchestrator shared by the range-tree and continual
    * families: splits the key universe into deterministic key-RANGE
    * shards of at most min(`maxKeysPerShard`, MaxDriverRows / `nNodes`
    * / [[ShardConcurrency]]) keys, partitions `store` by shard in ONE
    * distributed pass (written under `outDir/_store` — "_"-prefixed, so
    * the read-back never sees it), then releases shards CONCURRENTLY
    * ([[ShardConcurrency]] bounded driver threads, r16 — shards are independent
    * by construction: disjoint key ranges, each its own literal noise
    * frame; at true fleet cardinality the serial loop's per-shard Spark
    * job-scheduling latency dominated) via `releaseShard(slice,
    * shardKeysLiteral)` into `outDir/shard=N`. Returns the read-back
    * union.
    *
    * PARTIAL-FAILURE CONTRACT (14th pass, r17): a failing shard fails
    * the whole release, but shards that already completed have drawn
    * AND durably written real noise — `outDir` is UNCOMMITTED until
    * this method returns, and a rerun overwrites those shards with
    * FRESH draws, i.e. a rerun is a NEW release of the same cells and
    * must be accounted as such if the partial output was ever readable.
    * The method writes an empty `_graft_release_committed` marker under
    * `outDir` after the last shard lands (before the read-back);
    * external consumers reading `outDir` from storage MUST check the
    * marker — its absence means a partial, unaccounted release. Nothing data-shaped ever collects: the universe is ranked
    * DISTRIBUTED (sort + zipWithIndex — indices follow the sort's range
    * partitioning), and at most [[ShardConcurrency]] shards' keys + literal
    * frames (<= MaxDriverRows rows TOTAL — the per-shard cap divides by
    * the thread count, so concurrency never widens the driver footprint)
    * sit on the driver at a time. Draw-once survives concurrency: draws
    * are per-(key, node) inside per-shard frames over DISJOINT keys, and
    * each shard's write materializes its own draws exactly once —
    * ordering between shards was never part of the contract. A failing
    * shard fails the whole release loud (Await rethrows). */
  private[graft] def shardedByKeyRange(
      store0: DataFrame,
      keyCols: Seq[String],
      publicKeys: Option[DataFrame],
      nNodes: Long,
      maxKeysPerShard: Long,
      outDir: String
  )(releaseShard: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    require(keyCols.nonEmpty,
      "sharded release needs keyCols — an unkeyed tree is one bounded " +
        "release; use the unsharded entry point")
    // the universe derivation and the partitioned write both consume the
    // store: a store still carrying its ingest plan would run the bounded
    // cap twice
    val store = materialized(store0)
    val spark0 = store.sparkSession
    val keyCs = keyCols.map(col)
    // the driver-footprint invariant: concurrency shards in flight x cap
    // keys x nNodes rows each <= MaxDriverRows TOTAL, same bound as the
    // serial loop — concurrency narrows shards, it never widens the heap
    val cap0 = math.max(1L, MaxDriverRows / nNodes / ShardConcurrency)
    val cap = if (maxKeysPerShard > 0) math.min(maxKeysPerShard, cap0) else cap0
    // the shard universe: the PUBLIC key set (cast to the store's key
    // types — the [[releaseKeys]] coercion contract) or the observed one
    val universe = publicKeys
      .map(p => p.toDF(keyCols: _*)
        .select(keyCols.map(n =>
          col(n).cast(store.schema(n).dataType).as(n)): _*)
        .distinct())
      .getOrElse(store.select(keyCs: _*).distinct())
      .sort(keyCs: _*)
    val kSchema = org.apache.spark.sql.types.StructType(
      keyCols.map(n => store.schema(n)) :+
        org.apache.spark.sql.types.StructField("__shard",
          org.apache.spark.sql.types.IntegerType, nullable = false))
    // .rdd justified: zipWithIndex is the deterministic distributed
    // ranking primitive — indices follow the sorted frame's range
    // partitioning, so shards are exact key ranges of <= cap keys each
    // (a hash-based assignment could overload a shard past the guard)
    val shardMap = spark0.createDataFrame(
      universe.rdd.zipWithIndex.map { case (r, i) =>
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ (i / cap).toInt)
      }, kSchema).localCheckpoint(false) // ranked once; every shard reads it
    val shardIds = shardMap.select(col("__shard")).distinct()
      .collect().map(_.getInt(0)).sorted
    require(shardIds.nonEmpty,
      "shardedByKeyRange: the key universe is empty — nothing to " +
        "release (no observed keys and no publicKeys)")
    // ONE distributed pass slices the store: each shard's release then
    // scans only its own partition instead of the whole store (store rows
    // outside the universe drop here — the publicKeys convention)
    val storePath = s"$outDir/_store"
    store.join(shardMap, keyCols).write.mode("overwrite")
      .partitionBy("__shard").parquet(storePath)
    val stored = try spark0.read.parquet(storePath) catch {
      case _: org.apache.spark.sql.AnalysisException =>
        // an all-phantom universe joins to an EMPTY store — no parquet
        // files to infer a schema from; every slice is empty, which the
        // release's left join handles (full zero trees + noise)
        store.join(shardMap, keyCols)
    }
    def releaseOne(sh: Int): Unit = {
      // this shard's keys: <= cap rows by construction — the one bounded
      // collect per shard; they enter releaseShard as a literal frame
      val shardKeyRows = shardMap.filter(col("__shard") === sh)
        .select(keyCs: _*).collect()
      val shardKeys = spark0.createDataFrame(
        new java.util.ArrayList(shardKeyRows.toSeq.asJava),
        org.apache.spark.sql.types.StructType(
          keyCols.map(n => store.schema(n))))
      val slice = stored.filter(col("__shard") === sh).drop("__shard")
      // WRITE materializes this shard's draws inside this slot: the
      // literal noise frame leaves the driver before the thread takes the
      // next shard, and the parquet row set is the final released tree
      // for these keys
      releaseShard(slice, shardKeys).write.mode("overwrite")
        .parquet(s"$outDir/shard=$sh")
    }
    val conc = math.min(ShardConcurrency, shardIds.length)
    if (conc <= 1) shardIds.foreach(releaseOne)
    else {
      // bounded concurrent submission: shards are independent Spark jobs
      // (disjoint keys, own draws, own output path) — overlapping them
      // hides job-scheduling + write latency, the fleet-scale bottleneck.
      // A dedicated pool (not the global EC) so Await can't starve, and
      // a FAIR-pool hint so concurrent shard jobs share executor slots
      // when the session runs a FAIR scheduler (ignored under FIFO).
      import scala.concurrent.{Await, ExecutionContext, Future}
      val pool = java.util.concurrent.Executors.newFixedThreadPool(conc)
      implicit val ec: ExecutionContext =
        ExecutionContext.fromExecutorService(pool)
      try {
        val futs = shardIds.toSeq.map { sh =>
          Future {
            spark0.sparkContext.setLocalProperty(
              "spark.scheduler.pool", s"graft_shard_${sh % conc}")
            try releaseOne(sh)
            finally spark0.sparkContext
              .setLocalProperty("spark.scheduler.pool", null)
          }
        }
        Await.result(Future.sequence(futs),
          scala.concurrent.duration.Duration.Inf)
      } finally pool.shutdown()
    }
    // the commit point for EXTERNAL readers of outDir (the class-doc
    // partial-failure contract): "_"-prefixed, so parquet discovery
    // never sees it
    val marker = new org.apache.hadoop.fs.Path(outDir,
      "_graft_release_committed")
    marker.getFileSystem(spark0.sparkContext.hadoopConfiguration)
      .create(marker, true).close()
    spark0.read.parquet(outDir).drop("shard")
  }

  /** Per-node noise scale of a whole-tree release where one unit touches
    * levels+1 nodes, each by at most `unitLinf`: Laplace composes in L1
    * (scale = unitLinf * (levels+1) / epsilon, pure epsilon-DP); Gaussian
    * composes in L2 (sigma calibrated Balle-Wang at l2 = unitLinf *
    * sqrt(levels+1), (epsilon, delta)-DP) — the tree is exactly where
    * Gaussian's sqrt saves a log factor, and a user releasing MANY trees
    * (per-key, per-day) composes better still under zCDP-style
    * accounting. Mirrors the count/sum engine's noiseKind surface
    * (reference: pipeline_dp/aggregate_params.py:75-107). */
  private[graft] def treeScale(
      kind: graft.core.NoiseKind, epsilon: Double, delta: Double,
      unitLinf: Double, levels: Int): Double =
    scaleForTouches(kind, epsilon, delta, unitLinf, levels + 1)

  /** The general per-node scale behind [[treeScale]]: one bounded row
    * lands in `touches` released nodes (1-D dyadic tree: levels+1; 2-D
    * product tree: (levelsX+1)*(levelsY+1)), each moved by at most
    * `unitLinf` — Laplace composes in L1 (touches * unitLinf), Gaussian
    * in L2 (unitLinf * sqrt(touches), Balle-Wang). */
  private[graft] def scaleForTouches(
      kind: graft.core.NoiseKind, epsilon: Double, delta: Double,
      unitLinf: Double, touches: Int): Double = kind match {
    case graft.core.NoiseKind.Laplace =>
      require(delta == 0.0,
        s"delta ($delta) is a Gaussian parameter — Laplace tree releases " +
          "are pure epsilon-DP; pass NoiseKind.Gaussian to spend delta")
      unitLinf * touches / epsilon
    case graft.core.NoiseKind.Gaussian =>
      require(delta > 0 && delta < 1,
        s"Gaussian tree release needs delta in (0, 1), got $delta")
      graft.core.DpNoise.gaussianSigma(
        epsilon, delta, unitLinf * math.sqrt(touches.toDouble))
  }

  /** 2-D DP range-count tree — the dyadic PRODUCT mechanism over two
    * numeric domains (the quadtree-family answer for SPATIAL / bivariate
    * box queries under DP: geo heatmaps, (price x hour) grids, (length x
    * score) audits). Both axes split into power-of-two bins; every
    * product node (lx, ix) x (ly, iy) — a dyadic x-interval times a
    * dyadic y-interval — gets ONE draw on its count, empty nodes
    * included (the generated-universe rule: a missing draw would
    * disclose emptiness). Any axis-aligned box answers from the CROSS
    * PRODUCT of its two 1-D minimal covers — <= 4 * log2(binsX) *
    * log2(binsY) nodes, O((log B)^3 / eps) error where a flat 2-D
    * histogram pays O(sqrt(area)) — the Hay et al. VLDB'10 argument run
    * per axis (product trees over hierarchical intervals: Cormode et al.
    * ICDE'12 "Differentially private spatial decompositions").
    *
    * Budget semantics mirror [[dpRangeCountTree]]: each unit keeps at
    * most `maxPerUnit` rows (deterministic (binX, binY, x, y) rank cap);
    * one row lands in exactly (levelsX+1)*(levelsY+1) nodes, so the
    * whole release is epsilon-DP per key cell at per-node Laplace scale
    * maxPerUnit * (levelsX+1)*(levelsY+1) / epsilon — or Gaussian sigma
    * Balle-Wang at L2 = maxPerUnit * sqrt((levelsX+1)*(levelsY+1)) (the
    * sqrt win doubles up in 2-D). Values CLAMP into their domains (the
    * family's order-free convention); NULL x/y/keys fail loud; with
    * `keyCols` every key gets its own product tree and `publicKeys`
    * makes the release set data-independent (non-public rows drop before
    * bounding, public keys release full — possibly all-zero — trees).
    * Cross-key composition is the caller's accounting.
    *
    * Released schema: (__lvx, __idxx, __lvy, __idxy, keyCols...,
    * dp_count); node (lx, ix, ly, iy) covers x-bins [ix*2^lx,
    * (ix+1)*2^lx) x y-bins [iy*2^ly, (iy+1)*2^ly). [[range2DQueries]]
    * answers boxes from it; 1-D marginals are the (lx = levelsX) /
    * (ly = levelsY) slices — free post-processing. Draw-once: node noise
    * is drawn on the driver as a literal frame over the generated
    * universe (the [[release]] design) — deterministic plans,
    * any number of consumers/actions read one draw set. The universe is
    * (2*binsX-1)*(2*binsY-1) nodes per key, so the driver guard admits
    * ~MaxDriverRows / that many keys; binsX*binsY <= 65536 keeps one
    * tree's frame bounded. Zero noise => exact node counts. */
  def dpRange2DTree(
      df: DataFrame,
      pidCol: String,
      xCol: Column,
      yCol: Column,
      keyCols: Seq[String],
      loX: Double, hiX: Double, binsX: Int,
      loY: Double, hiY: Double, binsY: Int,
      epsilon: Double,
      maxPerUnit: Long,
      noise: graft.core.NoiseSource,
      publicKeys: Option[DataFrame] = None,
      noiseKind: graft.core.NoiseKind = graft.core.NoiseKind.Laplace,
      delta: Double = 0.0
  ): DataFrame = {
    val sc = scope("dpRange2DTree", keyCols, publicKeys,
      productAxes(binsX, binsY): _*)
    val scale = sc.scale(noiseKind, epsilon, delta, maxPerUnit.toDouble)
    releaseStore(countStore(df, pidCol, sc,
      bins2D(sc, xCol, loX, hiX, yCol, loY, hiY), maxPerUnit), sc, scale,
      noise, noiseKind)
  }

  /** The product tree's two binned dimensions. */
  private def bins2D(sc: TreeScope, xCol: Column, loX: Double, hiX: Double,
      yCol: Column, loY: Double, hiY: Double): Seq[Binned] =
    Seq(sc.bin(0, xCol, loX, hiX, "x value"), sc.bin(1, yCol, loY, hiY,
      "y value"))

  /** [[dpRange2DTree]] at an EXPLICIT per-node noise scale — the
    * accountant-driven face (feed
    * [[graft.core.BudgetAccountant.requestTreeRelease2D]]'s resolved
    * `TreeReleaseHandle.perNodeScale` here after `computeBudgets()`);
    * the epsilon-parameterized entry point computes the same scale via
    * [[scaleForTouches]] — one release stage either way. */
  def dpRange2DTreeWithScale(
      df: DataFrame,
      pidCol: String,
      xCol: Column,
      yCol: Column,
      keyCols: Seq[String],
      loX: Double, hiX: Double, binsX: Int,
      loY: Double, hiY: Double, binsY: Int,
      perNodeScale: Double,
      maxPerUnit: Long,
      noise: graft.core.NoiseSource,
      publicKeys: Option[DataFrame] = None,
      noiseKind: graft.core.NoiseKind = graft.core.NoiseKind.Laplace
  ): DataFrame = {
    require(perNodeScale >= 0,
      s"perNodeScale must be >= 0, got $perNodeScale")
    val sc = scope("dpRange2DTreeWithScale", keyCols, publicKeys,
      productAxes(binsX, binsY): _*)
    releaseStore(countStore(df, pidCol, sc,
      bins2D(sc, xCol, loX, hiX, yCol, loY, hiY), maxPerUnit), sc,
      perNodeScale, noise, noiseKind)
  }

  /** The SUM analogue of [[dpRange2DTree]] — clamped per-row weights on
    * the product nodes, so any axis-aligned box answers "how much MASS
    * sits in this (x, y) region" (revenue by (price, hour) cell, tokens
    * by (length, score) band). The [[dpRangeSumTree]] conventions
    * verbatim: weights clamp into [minW, maxW] (the order-free bounding
    * — part of the released statistic, not a filter), deterministic
    * (bx, by, w, x, y) rank cap, per-node Laplace scale = maxPerUnit *
    * max(|minW|, |maxW|) * touches / epsilon (Gaussian at L2 with
    * sqrt(touches)), fail-loud NULLs, keyed trees + publicKeys.
    * [[range2DQueries]] reuses the released schema unchanged. Zero noise
    * => exact clamped box masses. */
  def dpRange2DSumTree(
      df: DataFrame,
      pidCol: String,
      xCol: Column,
      yCol: Column,
      weightCol: Column,
      keyCols: Seq[String],
      loX: Double, hiX: Double, binsX: Int,
      loY: Double, hiY: Double, binsY: Int,
      epsilon: Double,
      maxPerUnit: Long,
      minW: Double,
      maxW: Double,
      noise: graft.core.NoiseSource,
      publicKeys: Option[DataFrame] = None,
      noiseKind: graft.core.NoiseKind = graft.core.NoiseKind.Laplace,
      delta: Double = 0.0
  ): DataFrame = {
    val sc = scope("dpRange2DSumTree", keyCols, publicKeys,
      productAxes(binsX, binsY): _*)
    val scale = sc.scale(noiseKind, epsilon, delta,
      maxPerUnit.toDouble * math.max(math.abs(minW), math.abs(maxW)))
    releaseStore(sumStore(df, pidCol, weightCol, minW, maxW, sc,
      bins2D(sc, xCol, loX, hiX, yCol, loY, hiY), maxPerUnit), sc, scale,
      noise, noiseKind)
  }

  /** One ingest step of the 2-D tree's STREAMING face — the
    * [[rangeTreeIngestStep]] pattern over the product store: micro-
    * batches fold their bounded, binned node contributions into an
    * (un-noised) node-sum store; [[range2DTreeRelease]] draws noise ONCE
    * at publish. The store is tree-shaped ((2*binsX-1)*(2*binsY-1) x
    * keys rows after each step's re-aggregation), never data-shaped.
    * BOUNDING CONTRACT verbatim from the 1-D fold: the deterministic
    * per-unit cap applies WITHIN each batch — route each unit's rows
    * through one batch or account the composition. Zero noise +
    * non-binding caps => the fold over ANY batch split releases exactly
    * the one-shot [[dpRange2DTree]] (spec-pinned). */
  def range2DIngestStep(
      batch: DataFrame,
      store: Option[DataFrame],
      pidCol: String,
      xCol: Column,
      yCol: Column,
      keyCols: Seq[String],
      loX: Double, hiX: Double, binsX: Int,
      loY: Double, hiY: Double, binsY: Int,
      maxPerUnit: Long,
      publicKeys: Option[DataFrame] = None
  ): DataFrame = {
    val sc = scope("range2DIngestStep", keyCols, publicKeys,
      productAxes(binsX, binsY): _*)
    countStore(batch, pidCol, sc, bins2D(sc, xCol, loX, hiX, yCol, loY, hiY),
      maxPerUnit, store)
  }

  /** Publish a folded 2-D node-sum store as a noisy product tree — the
    * [[rangeTreeRelease]] analogue (one draw per node, empty nodes
    * included, driver-drawn literal frame, the store pinned unless it
    * already is stored rows; same released schema as [[dpRange2DTree]],
    * so [[range2DQueries]] consumes it unchanged). */
  def range2DTreeRelease(
      store: DataFrame,
      keyCols: Seq[String],
      binsX: Int,
      binsY: Int,
      epsilon: Double,
      maxPerUnit: Long,
      noise: graft.core.NoiseSource,
      publicKeys: Option[DataFrame] = None,
      noiseKind: graft.core.NoiseKind = graft.core.NoiseKind.Laplace,
      delta: Double = 0.0
  ): DataFrame = {
    require(maxPerUnit > 0, s"maxPerUnit must be positive, got $maxPerUnit")
    val sc = scope("range2DTreeRelease", keyCols, publicKeys,
      productAxes(binsX, binsY): _*)
    releaseStore(store, sc,
      sc.scale(noiseKind, epsilon, delta, maxPerUnit.toDouble), noise,
      noiseKind)
  }

  /** KEY-RANGE SHARDED 2-D tree — [[dpRange2DTree]] at ANY key
    * cardinality (the [[dpRangeCountTreeSharded]] loop over the product
    * store; same draw-once / zero-extra-budget contract: one shard's
    * literal noise frame on the driver at a time, written to `outDir`
    * before the next shard draws, exactly one draw per (key, node) in
    * total). The read-back union carries the released schema, so
    * [[range2DQueries]] consumes it unchanged. */
  def dpRange2DTreeSharded(
      df: DataFrame,
      pidCol: String,
      xCol: Column,
      yCol: Column,
      keyCols: Seq[String],
      loX: Double, hiX: Double, binsX: Int,
      loY: Double, hiY: Double, binsY: Int,
      epsilon: Double,
      maxPerUnit: Long,
      noise: graft.core.NoiseSource,
      outDir: String,
      publicKeys: Option[DataFrame] = None,
      noiseKind: graft.core.NoiseKind = graft.core.NoiseKind.Laplace,
      delta: Double = 0.0,
      maxKeysPerShard: Long = 0L
  ): DataFrame = {
    val sc = scope("dpRange2DTreeSharded", keyCols, publicKeys,
      productAxes(binsX, binsY): _*)
    val scale = sc.scale(noiseKind, epsilon, delta, maxPerUnit.toDouble)
    shardedRelease(countStore(df, pidCol, sc,
      bins2D(sc, xCol, loX, hiX, yCol, loY, hiY), maxPerUnit), sc, scale,
      noise, noiseKind, outDir, maxKeysPerShard)
  }

  /** Axis-aligned BOX queries from a released 2-D tree — pure
    * post-processing (no new budget, no new draws): each box [xLo, xHi]
    * x [yLo, yHi] (inclusive leaf-bin indices) decomposes into the CROSS
    * PRODUCT of its per-axis minimal dyadic covers — <= (2 log2 binsX) *
    * (2 log2 binsY) nodes — computed on the driver (pure arithmetic over
    * the QUERY set, never the data) and joined against the tree. Out-of-
    * domain boxes fail loud (the [[rangeQueries]] partial-cover rule).
    * Returns (query_id, x_lo, x_hi, y_lo, y_hi, keyCols...,
    * dp_box_count). */
  def range2DQueries(
      tree: DataFrame,
      keyCols: Seq[String],
      boxes: Seq[(Long, Long, Long, Long)],
      binsX: Int,
      binsY: Int
  ): DataFrame = {
    require(boxes.nonEmpty, "no boxes")
    val spark0 = tree.sparkSession
    val cover: Seq[(Long, Long, Long, Long, Long, Int, Long, Int, Long)] =
      boxes.zipWithIndex.flatMap { case ((xlo, xhi, ylo, yhi), qid) =>
        require(xlo >= 0 && xhi >= xlo && xhi < binsX,
          s"x range [$xlo, $xhi] outside the bin domain [0, $binsX) — an " +
            "out-of-domain cover would silently drop its missing nodes")
        require(ylo >= 0 && yhi >= ylo && yhi < binsY,
          s"y range [$ylo, $yhi] outside the bin domain [0, $binsY) — an " +
            "out-of-domain cover would silently drop its missing nodes")
        for {
          (lx, ix) <- decompose(xlo, xhi)
          (ly, iy) <- decompose(ylo, yhi)
        } yield (qid.toLong, xlo, xhi, ylo, yhi, lx, ix, ly, iy)
      }
    import spark0.implicits._
    val coverDf = cover.toDF("query_id", "x_lo", "x_hi", "y_lo", "y_hi",
      "__lvx", "__idxx", "__lvy", "__idxy")
    coverDf.join(tree, Seq("__lvx", "__idxx", "__lvy", "__idxy"))
      .groupBy(col("query_id") +: col("x_lo") +: col("x_hi") +:
        col("y_lo") +: col("y_hi") +: keyCols.map(col): _*)
      .agg(sum(col("dp_count")).as("dp_box_count"))
  }

  /** Total epsilon for releasing `nReleases` INDEPENDENT trees of the
    * same calibration (one per day, per country, per model-version — the
    * reason the Gaussian option exists) at a caller-chosen `totalDelta`,
    * via tight PLD (Fourier) self-composition — the same machinery the
    * budget accountant pins against the reference's golden values
    * ([[graft.core.PLD]]).
    *
    * One tree release is accounted as ONE mechanism at unit sensitivity:
    * a Laplace tree built with `epsilon` has whole-release L1 scale
    * b/Delta1 = 1/epsilon (exact for the dominating adjacent pair that
    * concentrates its change in one node — pessimistic-safe for splits,
    * which only compose better); a Gaussian tree's whole-release loss is
    * EXACTLY the scalar Gaussian at sigma/Delta2 (rotation invariance),
    * i.e. gaussianSigma(epsilon, delta, 1). Neither depends on bins —
    * the tree shape is already inside the calibration.
    *
    * This is where Gaussian wins at fleet scale: n Laplace trees compose
    * to ~sqrt(2 n ln(1/delta)) * epsilon (advanced composition is what
    * PLD tightens), while n Gaussian trees compose as ONE Gaussian with
    * sigma/sqrt(n) — spec-pinned: at n = 64 the Gaussian total is well
    * under the Laplace total for the same per-release epsilon. */
  def treeCompositionEpsilon(
      nReleases: Int,
      epsilon: Double,
      delta: Double,
      noiseKind: graft.core.NoiseKind,
      totalDelta: Double,
      h: Double = 1e-3
  ): Double = {
    require(nReleases >= 1, s"nReleases must be >= 1, got $nReleases")
    require(epsilon > 0, s"epsilon must be positive, got $epsilon")
    require(totalDelta > 0 && totalDelta < 1,
      s"totalDelta must be in (0, 1), got $totalDelta")
    val one = noiseKind match {
      case graft.core.NoiseKind.Laplace =>
        require(delta == 0.0,
          "delta is a Gaussian parameter — Laplace tree releases are " +
            "pure epsilon-DP; pass NoiseKind.Gaussian to spend delta")
        graft.core.PLD.fromLaplace(1.0 / epsilon, h, pessimistic = true)
      case graft.core.NoiseKind.Gaussian =>
        require(delta > 0 && delta < 1,
          s"Gaussian tree release needs delta in (0, 1), got $delta")
        graft.core.PLD.fromGaussian(
          graft.core.DpNoise.gaussianSigma(epsilon, delta, 1.0), h,
          pessimistic = true)
    }
    one.selfCompose(nReleases).epsilonForDelta(totalDelta)
  }

  /** Human-readable release report — the DP engine's explain-report
    * convention ([[DPEngine]]) for the tree family: states the mechanism,
    * calibration, per-node scale, the worst-case range-query error shape,
    * and the composition contract, so a reviewer can audit a release
    * without reading the plan. Pure string math — no data access. */
  def explainRelease(
      bins: Int,
      epsilon: Double,
      maxPerUnit: Long,
      noiseKind: graft.core.NoiseKind = graft.core.NoiseKind.Laplace,
      delta: Double = 0.0,
      unitLinf: Double = 1.0,
      keyed: Boolean = false
  ): String = {
    require(bins >= 2 && (bins & (bins - 1)) == 0 && bins <= 4096,
      s"bins must be a power of two in [2, 4096], got $bins")
    val levels = 31 - Integer.numberOfLeadingZeros(bins)
    val scale = treeScale(noiseKind, epsilon, delta,
      maxPerUnit * unitLinf, levels)
    val cover = 2 * levels // max dyadic-cover size of any range
    val (mech, privacy, perNode, rangeStd) = noiseKind match {
      case graft.core.NoiseKind.Laplace =>
        ("Laplace", f"$epsilon%g-DP (pure)",
          f"b = maxPerUnit * unitLinf * (levels+1) / eps = $scale%g",
          math.sqrt(2.0 * cover) * scale)
      case graft.core.NoiseKind.Gaussian =>
        ("Gaussian", f"($epsilon%g, $delta%g)-DP",
          f"sigma = BalleWang(eps, delta, maxPerUnit * unitLinf * " +
            f"sqrt(levels+1)) = $scale%g",
          math.sqrt(cover.toDouble) * scale)
    }
    s"""RangeTree release
       |  domain    : $bins power-of-two bins, ${levels + 1} levels (${2 * bins - 1} nodes${if (keyed) " per key" else ""})
       |  mechanism : $mech, one draw per node (empty nodes included), drawn driver-side as a literal frame (draw-once across consumers and actions)
       |  privacy   : $privacy per ${if (keyed) "(unit, key) cell — cross-key composition is the caller's accounting (disjoint keys compose in parallel)" else "unit"}, contributions capped at maxPerUnit = $maxPerUnit rows (deterministic rank cap), per-row node touch = levels+1
       |  per-node  : $perNode
       |  range err : any range reads <= $cover cover nodes; worst-case stddev ~ ${f"$rangeStd%g"} (consistency sweep typically ~halves leaf error; quantiles/CDF/windows are free post-processing)
       |""".stripMargin
  }

  /** [[explainRelease]] for the 2-D product tree: states the product
    * mechanism, calibration at touches = (levelsX+1)(levelsY+1), the
    * worst-case box-cover size and error shape, and the composition
    * contract. Pure string math — no data access. */
  def explainRelease2D(
      binsX: Int,
      binsY: Int,
      epsilon: Double,
      maxPerUnit: Long,
      noiseKind: graft.core.NoiseKind = graft.core.NoiseKind.Laplace,
      delta: Double = 0.0,
      unitLinf: Double = 1.0,
      keyed: Boolean = false
  ): String = {
    require(binsX >= 2 && (binsX & (binsX - 1)) == 0 && binsX <= 4096,
      s"binsX must be a power of two in [2, 4096], got $binsX")
    require(binsY >= 2 && (binsY & (binsY - 1)) == 0 && binsY <= 4096,
      s"binsY must be a power of two in [2, 4096], got $binsY")
    val levelsX = 31 - Integer.numberOfLeadingZeros(binsX)
    val levelsY = 31 - Integer.numberOfLeadingZeros(binsY)
    val touches = (levelsX + 1) * (levelsY + 1)
    val scale = scaleForTouches(noiseKind, epsilon, delta,
      maxPerUnit * unitLinf, touches)
    val nNodes = (2L * binsX - 1) * (2L * binsY - 1)
    val cover = (2 * levelsX).max(1) * (2 * levelsY).max(1) // worst box
    val (mech, privacy, perNode, boxStd) = noiseKind match {
      case graft.core.NoiseKind.Laplace =>
        ("Laplace", f"$epsilon%g-DP (pure)",
          f"b = maxPerUnit * unitLinf * (levelsX+1)(levelsY+1) / eps = $scale%g",
          math.sqrt(2.0 * cover) * scale)
      case graft.core.NoiseKind.Gaussian =>
        ("Gaussian", f"($epsilon%g, $delta%g)-DP",
          f"sigma = BalleWang(eps, delta, maxPerUnit * unitLinf * " +
            f"sqrt((levelsX+1)(levelsY+1))) = $scale%g",
          math.sqrt(cover.toDouble) * scale)
    }
    s"""RangeTree 2-D release
       |  domain    : $binsX x $binsY power-of-two bins, ${levelsX + 1} x ${levelsY + 1} levels ($nNodes product nodes${if (keyed) " per key" else ""})
       |  mechanism : $mech, one draw per product node (empty nodes included), drawn driver-side as a literal frame (draw-once across consumers, actions, and shards)
       |  privacy   : $privacy per ${if (keyed) "(unit, key) cell — cross-key composition is the caller's accounting (disjoint keys compose in parallel)" else "unit"}, contributions capped at maxPerUnit = $maxPerUnit rows (deterministic rank cap), per-row node touch = (levelsX+1)(levelsY+1) = $touches
       |  per-node  : $perNode
       |  box err   : any axis-aligned box reads <= $cover cover nodes (per-axis covers crossed); worst-case stddev ~ ${f"$boxStd%g"} (1-D marginals are the top-level slices — free post-processing)
       |""".stripMargin
  }

  /** The per-key two-sweep OLS (the math of [[enforceConsistency]],
    * factored pure so the distributed and any driver-side caller share
    * one definition): `lvls/idxs/cnts` are ONE key's released nodes in
    * any order; returns every node's consistent count. */
  private[graft] def consistencySweepOneKey(
      lvls: Seq[Int], idxs: Seq[Long], cnts: Seq[Double],
      bins: Int): Seq[(Int, Long, Double)] = {
    val levels = 31 - Integer.numberOfLeadingZeros(bins)
    val z = scala.collection.mutable.Map.empty[(Int, Long), Double]
    var j = 0
    while (j < lvls.length) { z((lvls(j), idxs(j))) = cnts(j); j += 1 }
    // duplicates fail loud (14th pass, r17): last-write-wins would let a
    // corrupt union (duplicate + missing node canceling in the size
    // check is impossible, but a clean duplicate silently dropped) pass
    require(lvls.length == z.size,
      s"enforceConsistency: a key carries ${lvls.length} node rows over " +
        s"${z.size} distinct nodes — duplicate nodes mean a corrupt " +
        "union (overlapping shards or a double-written release)")
    // the sweep indexes every node of the full universe — a partial
    // tree (wrong bins, filtered rows) would otherwise surface as a
    // bare NoSuchElementException deep in the recursion
    require(z.size == 2 * bins - 1,
      s"enforceConsistency: a key has ${z.size} nodes, want " +
        s"${2 * bins - 1} — pass the tree's own bins and the FULL " +
        "released universe")
    // up-sweep: zbar(l, i) for a node at height l (leaves l = 0) is the
    // precision-weighted blend of its draw and its children's zbar sum;
    // weights alpha_l = (2^l - 2^(l-1)) / (2^(l+1) - 1)-style factors
    // reduce to the standard closed form with equal per-node variance:
    // zbar = (2^l * z + (2^l - 1) * childSum) / (2^(l+1) - 1)
    val zbar = scala.collection.mutable.Map.empty[(Int, Long), Double]
    for (i <- 0L until bins.toLong) zbar((0, i)) = z((0, i))
    for (l <- 1 to levels; i <- 0L until (bins.toLong >> l)) {
      val cs = zbar((l - 1, 2 * i)) + zbar((l - 1, 2 * i + 1))
      val p2l = math.pow(2.0, l)
      zbar((l, i)) = (p2l * z((l, i)) + (p2l - 1.0) * cs) / (2.0 * p2l - 1.0)
    }
    // down-sweep: hbar(root) = zbar(root); child = zbar(child) +
    // (hbar(parent) - zbar(left) - zbar(right)) / 2
    val hbar = scala.collection.mutable.Map.empty[(Int, Long), Double]
    hbar((levels, 0L)) = zbar((levels, 0L))
    for (l <- levels to 1 by -1; i <- 0L until (bins.toLong >> l)) {
      val resid =
        (hbar((l, i)) - zbar((l - 1, 2 * i)) - zbar((l - 1, 2 * i + 1))) / 2.0
      hbar((l - 1, 2 * i)) = zbar((l - 1, 2 * i)) + resid
      hbar((l - 1, 2 * i + 1)) = zbar((l - 1, 2 * i + 1)) + resid
    }
    hbar.iterator.map { case ((l, i), v) => (l, i, v) }.toSeq
  }

  /** Hay et al. consistency (VLDB'10 §4): ordinary-least-squares
    * projection of the noisy tree onto the consistent subspace (children
    * sum to parents), via the closed-form two-sweep algorithm — an
    * UP-sweep replacing each node with the precision-weighted average of
    * its own draw and its children's sum, then a DOWN-sweep distributing
    * each parent's residual equally. Post-processing (no budget); never
    * increases any node's variance, and typically cuts range-query error
    * ~2x at the leaves.
    *
    * DISTRIBUTED (r15, breaking the keyed driver cap): the sweep is
    * per-key independent, so each key's BOUNDED node universe (2*bins-1
    * rows, bins <= 4096 — one small array per group) gathers map-side
    * into a collect_list and sweeps inside a task — no driver collect,
    * no key-cardinality cap, one shuffle on the key. Returns the same
    * schema with consistent dp_count (exact tree => identity,
    * spec-pinned; the values are bit-identical to the driver sweep —
    * same [[consistencySweepOneKey]] arithmetic). */
  def enforceConsistency(
      tree: DataFrame,
      keyCols: Seq[String],
      bins: Int
  ): DataFrame = {
    require(bins >= 2 && (bins & (bins - 1)) == 0 && bins <= 4096,
      s"bins must be a power of two in [2, 4096], got $bins")
    val keyCs = keyCols.map(col)
    // struct-array UDF + explode_outer (r19): the transform()-fed plain
    // explode evaluated the interpreted array walks twice per key via
    // InferFiltersFromGenerate (see quantilesFromTree)
    val sweep = udf((nodes: Seq[org.apache.spark.sql.Row]) => {
      val n = nodes.length
      val lvls = new Array[Int](n); val idxs = new Array[Long](n)
      val cnts = new Array[Double](n)
      var i = 0
      while (i < n) {
        val r = nodes(i)
        lvls(i) = r.getInt(0); idxs(i) = r.getLong(1); cnts(i) = r.getDouble(2)
        i += 1
      }
      consistencySweepOneKey(lvls, idxs, cnts, bins)
    })
    tree
      .groupBy(keyCs: _*)
      .agg(collect_list(struct(col("__lvl").cast("int").as("l"),
        col("__idx").cast("long").as("i"),
        col("dp_count").cast("double").as("c"))).as("__nodes"))
      .select(keyCs :+ explode_outer(sweep(col("__nodes"))).as("__n"): _*)
      .select(col("__n._1").as("__lvl") +: col("__n._2").as("__idx") +:
        keyCs :+ col("__n._3").as("dp_count"): _*)
  }

  /** Dense x-node enumeration of the 1-D dyadic universe: nodes ordered
    * (level 0 leaves first, then level 1, ...) — offset(l) = number of
    * nodes below level l. */
  private def nodeOffset(bins: Int, lvl: Int): Int = {
    var off = 0
    var l = 0
    while (l < lvl) { off += bins >> l; l += 1 }
    off
  }

  /** The per-key 2-D alternating-sweep consistency (pure — the
    * [[consistencySweepOneKey]] factoring convention): one key's full
    * product-node universe in any order; returns every node's projected
    * count after `sweeps` alternating x/y passes. */
  private[graft] def consistency2DSweepOneKey(
      lvxs: Seq[Int], idxxs: Seq[Long], lvys: Seq[Int], idxys: Seq[Long],
      cnts: Seq[Double], binsX: Int, binsY: Int,
      sweeps: Int): Seq[(Int, Long, Int, Long, Double)] = {
    val levelsX = 31 - Integer.numberOfLeadingZeros(binsX)
    val levelsY = 31 - Integer.numberOfLeadingZeros(binsY)
    val nx = 2 * binsX - 1
    val ny = 2 * binsY - 1
    // dense (xNode, yNode) grid; enumeration tables for both axes
    val xl = new Array[Int](nx); val xi = new Array[Long](nx)
    for (l <- 0 to levelsX; i <- 0 until (binsX >> l)) {
      val p = nodeOffset(binsX, l) + i; xl(p) = l; xi(p) = i.toLong
    }
    val yl = new Array[Int](ny); val yi = new Array[Long](ny)
    for (l <- 0 to levelsY; i <- 0 until (binsY >> l)) {
      val p = nodeOffset(binsY, l) + i; yl(p) = l; yi(p) = i.toLong
    }
    val grid = Array.ofDim[Double](nx, ny)
    val seen = Array.ofDim[Boolean](nx, ny)
    // validate BEFORE indexing: wrong bins / a foreign node must surface
    // as this shaped contract error, not a raw
    // ArrayIndexOutOfBoundsException from the grid write below
    require(cnts.length == nx * ny,
      s"enforce2DConsistency: a key has ${cnts.length} nodes, want " +
        s"${nx * ny} — pass the tree's own bins and the FULL released " +
        "product universe")
    var j = 0
    while (j < cnts.length) {
      require(lvxs(j) >= 0 && lvxs(j) <= levelsX &&
          idxxs(j) >= 0 && idxxs(j) < (binsX >> lvxs(j)).toLong &&
          lvys(j) >= 0 && lvys(j) <= levelsY &&
          idxys(j) >= 0 && idxys(j) < (binsY >> lvys(j)).toLong,
        s"enforce2DConsistency: node (x lvl ${lvxs(j)} idx ${idxxs(j)}, " +
          s"y lvl ${lvys(j)} idx ${idxys(j)}) is outside the " +
          s"($binsX x $binsY)-bin dyadic universe — pass the tree's own " +
          "bins and the FULL released product universe")
      val xp = nodeOffset(binsX, lvxs(j)) + idxxs(j).toInt
      val yp = nodeOffset(binsY, lvys(j)) + idxys(j).toInt
      grid(xp)(yp) = cnts(j); seen(xp)(yp) = true
      j += 1
    }
    require(seen.forall(_.forall(identity)),
      s"enforce2DConsistency: a key repeats nodes and misses others " +
        s"(${cnts.length} rows but not the full ${nx * ny}-node " +
        "universe) — pass the tree's own bins and the FULL released " +
        "product universe")
    val xlvls = xl.toSeq; val xidxs = xi.toSeq
    val ylvls = yl.toSeq; val yidxs = yi.toSeq
    var it = 0
    while (it < sweeps) {
      // x-sweep: project each y-node COLUMN onto its 1-D consistent
      // subspace (the truth is x-consistent at EVERY y-node level, not
      // just y-leaves — a product node aggregates a leaf rectangle)
      var yp = 0
      while (yp < ny) {
        val slice = Array.tabulate(nx)(grid(_)(yp))
        consistencySweepOneKey(xlvls, xidxs, slice.toSeq, binsX).foreach {
          case (l, i, v) => grid(nodeOffset(binsX, l) + i.toInt)(yp) = v
        }
        yp += 1
      }
      // y-sweep: same per x-node ROW
      var xp = 0
      while (xp < nx) {
        val row = grid(xp)
        consistencySweepOneKey(ylvls, yidxs, row.toSeq, binsY).foreach {
          case (l, i, v) => row(nodeOffset(binsY, l) + i.toInt) = v
        }
        xp += 1
      }
      it += 1
    }
    for (xp <- 0 until nx; yp <- 0 until ny)
      yield (xl(xp), xi(xp), yl(yp), yi(yp), grid(xp)(yp))
  }

  /** 2-D consistency for the PRODUCT tree ([[dpRange2DTree]]) — closing
    * the family's last 1-D/2-D asymmetry: alternating per-axis Hay
    * sweeps. Each x-sweep is the exact OLS projection of every y-node's
    * x-slice onto the x-consistent subspace Sx (and symmetrically Sy);
    * both are ORTHOGONAL projections onto linear subspaces, so by von
    * Neumann's alternating-projection theorem the iteration converges
    * (linearly) to the orthogonal projection onto Sx ∩ Sy — the fully
    * product-consistent trees, exactly the 2-D analogue of
    * [[enforceConsistency]]'s closed form. Two properties hold at ANY
    * finite sweep count (both spec-pinned): (a) NEVER-WORSE — the true
    * tree lies in Sx and in Sy, and an orthogonal projection cannot
    * increase distance to a point of its target subspace, so every
    * single sweep weakly improves L2 error vs the raw release; (b) a
    * zero-noise tree is already in Sx ∩ Sy, so every sweep is the
    * IDENTITY (the oracle-exact gate anchor). Default 8 double-sweeps:
    * residual inconsistency decays geometrically (spec-measured to
    * ~1e-9 of the initial residual on noisy 16x32 trees).
    *
    * DISTRIBUTED like the 1-D sweep: per-key independent over the
    * BOUNDED product universe ((2*binsX-1)(2*binsY-1) <= ~253k rows at
    * the release path's caps — one array per task), one shuffle on the
    * key, no driver collect, no key-cardinality cap. Post-processing:
    * no budget. */
  def enforce2DConsistency(
      tree: DataFrame,
      keyCols: Seq[String],
      binsX: Int,
      binsY: Int,
      sweeps: Int = 8
  ): DataFrame = {
    require(binsX >= 2 && (binsX & (binsX - 1)) == 0 && binsX <= 4096,
      s"binsX must be a power of two in [2, 4096], got $binsX")
    require(binsY >= 2 && (binsY & (binsY - 1)) == 0 && binsY <= 4096,
      s"binsY must be a power of two in [2, 4096], got $binsY")
    require(sweeps >= 1, s"sweeps must be >= 1, got $sweeps")
    val keyCs = keyCols.map(col)
    // struct-array UDF + explode_outer (r19, the quantilesFromTree note):
    // five interpreted transform() walks of a <= ~253k-node product array,
    // cloned by InferFiltersFromGenerate, were the expensive shape
    val sweep = udf((nodes: Seq[org.apache.spark.sql.Row]) => {
      val n = nodes.length
      val lvxs = new Array[Int](n); val idxxs = new Array[Long](n)
      val lvys = new Array[Int](n); val idxys = new Array[Long](n)
      val cnts = new Array[Double](n)
      var i = 0
      while (i < n) {
        val r = nodes(i)
        lvxs(i) = r.getInt(0); idxxs(i) = r.getLong(1)
        lvys(i) = r.getInt(2); idxys(i) = r.getLong(3)
        cnts(i) = r.getDouble(4)
        i += 1
      }
      consistency2DSweepOneKey(lvxs, idxxs, lvys, idxys, cnts,
        binsX, binsY, sweeps)
    })
    tree
      .groupBy(keyCs: _*)
      .agg(collect_list(struct(
        col("__lvx").cast("int").as("lx"), col("__idxx").cast("long").as("ix"),
        col("__lvy").cast("int").as("ly"), col("__idxy").cast("long").as("iy"),
        col("dp_count").cast("double").as("c"))).as("__nodes"))
      .select(keyCs :+ explode_outer(sweep(col("__nodes"))).as("__n"): _*)
      .select(col("__n._1").as("__lvx") +: col("__n._2").as("__idxx") +:
        col("__n._3").as("__lvy") +: col("__n._4").as("__idxy") +:
        keyCs :+ col("__n._5").as("dp_count"): _*)
  }
}
